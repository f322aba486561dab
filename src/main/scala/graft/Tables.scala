package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the harness parquet tables (TESTDATA.md).
  *
  * Scale note: every query takes the table root dir at call time — at
  * cluster scale these would be partitioned parquet datasets; the reads
  * here go through the vectorized parquet reader with column pruning and
  * predicate pushdown intact (verified via .explain in the specs).
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** [[load]] plus a parallelism floor for unsplittable reads
    * (optimization guide §2.5: "input skew: one huge unsplittable file …
    * otherwise repartition immediately after the read"). The harness
    * tables are single-file, SINGLE-ROW-GROUP parquet, and a row group
    * is Spark's minimum split unit — so a bare scan yields ONE input
    * partition and everything below the first exchange (tokenize,
    * explode, per-token hashing, decimal partial aggregation, pair
    * scoring) runs on one core no matter how many the session has
    * (measured in round 20: the baseline bench held loadavg ≈ 2–4 on a
    * local[32] box). One round-robin repartition to the session default
    * parallelism right after the read spreads that map work; the guard
    * is a no-op whenever the scan already splits (a production 100 TB
    * dataset arrives in thousands of row groups and never trips it), so
    * the cost at scale is zero and the local cost is one shuffle of the
    * raw rows.
    *
    * OPT-IN per call site, not the loader default: round 20 measured the
    * uniform form on all 155 queries and the added exchange LOSES on
    * every query whose per-row map work is light (a ~0.2–0.4 s
    * stage+shuffle tax at sub-second query scale — j8 0.26→0.89 s,
    * p5 0.20→0.52 s), while heavy-map queries win large (exact-kNN truth
    * 2.3×, Gopher rules 2.5×, decimal star-agg 1.4×). Call sites below
    * are exactly the measured winners (OPTIMIZATION_r20.md, "scan
    * parallelism floor").
    *
    * Determinism: round-robin repartition local-sorts its input first
    * (spark.sql.execution.sortBeforeRepartition, on by default —
    * SPARK-23207), so row→partition assignment survives task retries;
    * every downstream operator in this repo is partitioning-insensitive
    * by construction (explicit total sort keys, commutative/partial
    * aggregates, rank-ordered folds — the oracle-determinism contract),
    * re-proven after this change by the full 155-query DuckDB replay. */
  def loadSpread(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = load(spark, dir, name)
    val floor = spark.sparkContext.defaultParallelism
    if (floor <= 1) df
    else if (df.rdd.getNumPartitions < floor) df.repartition(floor)
    else df
  }

  /** events.parquet's `ts` physical type has varied across harness data
    * generations: TIMESTAMP(NANOS) (readable only as int64 via
    * `spark.sql.legacy.parquet.nanosAsLong=true`, which
    * [[GraftSession.sparkSession]] sets), naive TIMESTAMP(MICROS)
    * (isAdjustedToUTC=false, which Spark 4 infers as TIMESTAMP_NTZ — a
    * type `unix_micros`/`window` reject), and UTC-adjusted micros (plain
    * TimestampType). This loader normalizes all three to session-local
    * TimestampType at microsecond precision. That factory also pins the
    * session timezone to UTC, so the NTZ→LTZ cast reinterprets the same
    * wall-clock digits DuckDB's naive reader sees — epoch micros agree
    * bit-for-bit in the oracle. */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val df = load(spark, dir, "events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        // integer division — epoch-nanos (~1.7e18) overflows double precision
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }
  }
}
