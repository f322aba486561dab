package graft.spark

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Shared child session for DRIVER-SYNCED iteration loops over
  * bounded-tiny working sets. Its users are the BPE merge rounds
  * ([[graft.ops.CorpusOps]]) and pagerank's score iteration
  * ([[graft.ops.Dedup.pagerankCentrality]]). The connected-components
  * star contraction is deliberately NOT one: the rebind was measured and
  * rejected there (see the note in [[graft.ops.Dedup.clusterPairs]]).
  *
  * The problem (r21, ProfileQ + driver thread dumps): when the working
  * set fits a handful of partitions, each round's wall time is DRIVER
  * latency, not task work — AQE submits one job per query stage and
  * re-optimizes per action, and 32-partition shuffles of a few thousand
  * rows cost more in task scheduling than in compute. The loops
  * themselves are semantic (each round's result feeds the next), so the
  * fix is to make each round cost ONE driver job of single-task stages:
  * AQE off (nothing to adapt at this size) and one shuffle partition.
  *
  * Scale honesty: callers gate the rebind on the OBSERVED partition
  * count of the loop root (≤ [[TinyParts]] after the initial
  * materialization — AQE's coalescing has already proven the data
  * small). A production-scale working set keeps its partitions, the
  * guard never fires, and the loop runs exactly as before with AQE on.
  *
  * Session isolation is the point: these are per-loop execution
  * settings, not session policy — flipping confs on the caller's
  * session would race parallel suites sharing one session. The child
  * session is MEMOIZED per parent (weak keys) because session-state
  * construction costs ~0.4 s, which would tax every short loop.
  * It holds configuration only — no data, no results.
  */
object TinyLoop {

  /** Partition-count ceiling under which a materialized loop root is
    * considered tiny (AQE's 64 MB advisory target makes ≤4 post-shuffle
    * partitions ≲ a few hundred MB — comfortably loop-on-one-task
    * territory at the row counts these loops carry locally). */
  val TinyParts = 4

  private val sessions = new java.util.WeakHashMap[SparkSession, SparkSession]()

  /** The child session of `spark`, synced to the parent's CURRENT
    * runtime confs on every bind. `newSession()` copies only build-time
    * options and the child is memoized, so without the sync a conf set
    * on the parent later (`spark.graft.reliableCheckpoint`, the session
    * time zone, ANSI) would never reach the loop. Synced: every
    * modifiable SQL conf plus every `spark.graft.*` key (graft's own
    * keys are not registered with Spark, so `isModifiable` is false for
    * them); keys the parent no longer has are unset; [[Overrides]] win
    * over the parent's values. */
  private[graft] def session(spark: SparkSession): SparkSession =
    sessions.synchronized {
      var s = sessions.get(spark)
      if (s == null) {
        s = spark.newSession()
        sessions.put(spark, s)
      }
      def synced(conf: Map[String, String]) = conf.filter { case (k, _) =>
        k.startsWith("spark.graft.") || spark.conf.isModifiable(k)
      }
      val want = synced(spark.conf.getAll) ++ Overrides
      for ((k, v) <- want if !s.conf.getOption(k).contains(v)) s.conf.set(k, v)
      for (k <- synced(s.conf.getAll).keys if !want.contains(k)) s.conf.unset(k)
      s
    }

  /** The loop's execution settings: AQE off, one shuffle partition. */
  private val Overrides = Map(
    "spark.sql.adaptive.enabled" -> "false",
    "spark.sql.shuffle.partitions" -> "1")

  /** Rebind an (already materialized, lineage-cut) frame to the
    * tiny-loop session iff it is observed tiny; otherwise return it
    * unchanged. The rebind goes through the public Row API — a one-time
    * conversion of a frame the guard just proved small. */
  def rebindIfTiny(df: DataFrame): DataFrame =
    if (df.rdd.getNumPartitions <= TinyParts)
      session(df.sparkSession).createDataFrame(df.rdd, df.schema).coalesce(1)
    else df
}
