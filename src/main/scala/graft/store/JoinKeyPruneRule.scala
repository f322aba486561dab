package graft.store

import org.apache.spark.sql.catalyst.expressions.{AttributeReference, EqualTo, Expression, In, Literal, PredicateHelper}
import org.apache.spark.sql.catalyst.plans.{Inner, LeftOuter, LeftSemi, RightOuter}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** DYNAMIC JOIN-KEY FILE PRUNING — the runtime half of the metadata
  * tier: when a store-table scan joins a SMALL build side on equi-keys
  * (the star shape: fact ⋈ filtered dim), the fact table carries NO
  * literal predicate [[SidecarPrune]] could serve, yet only the files
  * whose key intervals/blooms can contain SOME build-side key can
  * produce join output. This rule evaluates the build side's distinct
  * keys DRIVER-SIDE during optimization (bounded by
  * `spark.graft.joinPrune.maxKeys`, gated on the build side's estimated
  * size — the same "small enough to broadcast" judgement join planning
  * already makes) and prunes the fact's FILES through the same
  * [[StatsPruning]] compiler and [[StoreFileIndex.prune]] every other
  * pruning consumer uses — Snowflake's join pruning / Spark's dynamic partition
  * pruning, at sidecar-file granularity, for tables with no partition
  * columns at all.
  *
  * Soundness: files are removed only when PROVABLY free of matching
  * keys (interval + lookup-bloom tests, conservative on every unknown),
  * and removing non-matching FACT rows is semantics-preserving exactly
  * for join positions where unmatched rows of that side cannot reach
  * the output: Inner (either side), LeftSemi (either side), the RIGHT
  * side of a LeftOuter, the LEFT side of a RightOuter. LeftAnti's left
  * side — where unmatched rows ARE the output — is never pruned. Null
  * build keys never equi-match and are dropped from the probe list; an
  * EMPTY build side proves the fact contributes nothing, pruning every
  * file. The Join node itself is untouched — the full condition still
  * runs on every surviving row.
  *
  * Cost control: the FACT scan must be at least
  * `spark.graft.joinPrune.minFactBytes` (default 32 MiB — the probe is
  * a driver-side job paid at plan time, so it only fires where pruning
  * a large scan can repay it; set 0 to probe unconditionally); the
  * build side must be deterministic, estimated under [[MaxBuildBytes]]
  * (8 MiB), and yield at most `maxKeys` distinct keys (one
  * column-pruned distinct-limit job, memoized per canonicalized build
  * plan — AQE re-optimizations and repeated queries of the same dim pay
  * once per session). A build side
  * OVER the `maxKeys` budget degrades to a [[Span]] probe — the key's
  * [min, max] from one more small agg — so mid-cardinality dims with a
  * selective key RANGE (a date-restricted surrogate range, a tenant's
  * id block) still prune by interval even when an IN-list would be too
  * wide; float keys skip the fallback (NaN ordering). A thread
  * re-entrancy guard keeps the rule from firing inside its own build
  * job. Fixpoint: the rewrite only lands when the served file set
  * STRICTLY shrinks, so optimizer iteration terminates.
  * `spark.graft.joinPrune.enabled=false` is the kill switch. */
object JoinKeyPrune extends Rule[LogicalPlan] with PredicateHelper {

  val EnabledConf = "spark.graft.joinPrune.enabled"
  /** Largest estimated build side the rule will probe. */
  val MaxBuildBytes = BigInt(8L * 1024 * 1024)
  val MaxKeysConf = "spark.graft.joinPrune.maxKeys"
  val MinFactBytesConf = "spark.graft.joinPrune.minFactBytes"

  /** One recorded probe-and-prune decision, surfaced to operators via
    * `TABLE(graft_join_prune_info())` — the rule runs at PLAN time
    * inside the optimizer, so without this an operator can only tell
    * whether join pruning fired by reading driver logs. `probe`
    * describes what each key's build-side job learned
    * (`keys(col:n)` / `span(col)` / `empty(col)` / `unknown(col)`);
    * `filesKept == filesTotal` means the probe ran but proved nothing
    * prunable. */
  case class PruneEvent(atMs: Long, table: String, probe: String,
      filesTotal: Int, filesKept: Int)

  // bounded ring of recent decisions, JVM-wide (the rule object is a
  // singleton per JVM, like its probe memo)
  private val MaxEvents = 128
  private val events = new java.util.ArrayDeque[PruneEvent]()
  private def record(e: PruneEvent): Unit = events.synchronized {
    events.addLast(e)
    if (events.size > MaxEvents) events.removeFirst()
  }
  /** Most-recent-last snapshot of this JVM's prune decisions. */
  def recentEvents: Seq[PruneEvent] = events.synchronized {
    import scala.jdk.CollectionConverters._
    events.iterator.asScala.toIndexedSeq
  }
  private[graft] def clearEventsForTesting(): Unit =
    events.synchronized(events.clear())

  private val executing = new ThreadLocal[java.lang.Boolean] {
    override def initialValue: java.lang.Boolean = false
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!conf.getConfString(EnabledConf, "true").toBoolean || executing.get)
      plan
    else plan.transform {
      case j: Join if j.condition.isDefined => tryPrune(j).getOrElse(j)
    }

  /** Join positions whose unmatched rows cannot reach the output —
    * the positions where dropping provably-unmatched files is sound. */
  private def prunablePosition(j: Join, factOnLeft: Boolean): Boolean =
    j.joinType match {
      case Inner | LeftSemi => true
      case LeftOuter => !factOnLeft
      case RightOuter => factOnLeft
      case _ => false
    }

  /** The store relation a join arm exposes through attribute-only
    * projections and filters (shapes that preserve the scan's output
    * attributes, so join keys map straight to scan columns). */
  private def storeScanOf(p: LogicalPlan): Option[LogicalRelation] = p match {
    case l: LogicalRelation => StoreFileIndex.of(l).map(_ => l)
    case Project(list, ch) if list.forall(_.isInstanceOf[AttributeReference]) =>
      storeScanOf(ch)
    case Filter(_, ch) => storeScanOf(ch)
    case _ => None
  }

  private def tryPrune(j: Join): Option[LogicalPlan] = {
    // benefit gate: the probe is a driver-side job paid at PLAN time, so
    // it must only fire when the prunable scan is large enough that
    // skipping files can repay it — a fact under a few tens of MiB costs
    // less to scan outright than to probe (the r18 bench bisect: the
    // ungated rule taxed every artifact-backed join ~1 s per execution
    // at sf0.1 where no fact exceeds 11 MiB). Snowflake's join pruning
    // and Spark's DPP make the same estimated-benefit judgement.
    val minFactBytes = BigInt(
      conf.getConfString(MinFactBytesConf, (32L * 1024 * 1024).toString).toLong)
    def arm(fact: LogicalPlan, build: LogicalPlan, factOnLeft: Boolean)
        : Option[LogicalPlan] =
      for {
        rel <- storeScanOf(fact)
        if prunablePosition(j, factOnLeft)
        if build.stats.sizeInBytes <= MaxBuildBytes
        if build.deterministic
        (hfs, idx) <- StoreFileIndex.of(rel)
        if BigInt(idx.sizeInBytes) >= minFactBytes
        pairs = equiPairs(j.condition.get, rel, build)
        if pairs.nonEmpty
        pruned <- pruneByBuildKeys(rel, hfs, idx, build, pairs)
      } yield replaceRelation(j, rel, pruned, factOnLeft)
    arm(j.left, j.right, factOnLeft = true)
      .orElse(arm(j.right, j.left, factOnLeft = false))
  }

  /** (fact scan attribute, build-side attribute) equi-conjuncts with
    * IDENTICAL types — an analyzer-inserted cast between the sides
    * would make probe values hash/compare in the wrong domain. */
  private def equiPairs(cond: Expression, rel: LogicalRelation,
      build: LogicalPlan): Seq[(AttributeReference, AttributeReference)] = {
    val factOut = rel.outputSet
    val buildOut = build.outputSet
    splitConjunctivePredicates(cond).collect {
      case EqualTo(a: AttributeReference, b: AttributeReference)
          if factOut.contains(a) && buildOut.contains(b) &&
            a.dataType == b.dataType => (a, b)
      case EqualTo(b: AttributeReference, a: AttributeReference)
          if factOut.contains(a) && buildOut.contains(b) &&
            a.dataType == b.dataType => (a, b)
    }.take(2) // one distinct-collect job per pair — bound the planning cost
  }

  /** What one build-side probe job learned about a join key. */
  private sealed trait Probe
  /** ≤ maxKeys distinct non-null values — the exact IN-list probe.
    * Empty = no non-null keys at all: nothing on the fact can match. */
  private case class Keys(vals: Seq[Any]) extends Probe
  /** Too many distinct values for an IN-list, but the key's [min, max]
    * span is known — the interval probe (Snowflake-style join range
    * pruning). Sound because equi-join matches need a build value, and
    * every build value lies in [min, max]; files whose fact-key interval
    * misses the span cannot produce output. */
  private case class Span(min: Any, max: Any) extends Probe
  /** The probe job failed or the type is range-unsafe — proves nothing. */
  private case object Unknown extends Probe

  // build-side key probe memo: (canonicalized plan, key POSITION in the
  // build output) → the probe (Unknown = failed, don't retry this plan).
  // r21: the key was previously (plan.canonicalized, attr.canonicalized)
  // — but a STANDALONE attribute's canonicalization does not normalize
  // its exprId (only whole-plan canonicalization does, by position), so
  // every fresh analysis of the same query produced a new exprId and
  // the memo NEVER hit across executions: each run re-paid the
  // distinct-limit probe job (+ the span agg on wide dims). Keying on
  // the attribute's output ordinal is invocation-stable and exactly as
  // precise — "repeated queries of the same dim pay once per session",
  // as this rule's scaladoc always promised (measured: j13's two probe
  // jobs ran on every one of its bench iterations).
  private val MemoCap = 256
  private val memo = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[(LogicalPlan, Int), Probe](
        16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(LogicalPlan, Int), Probe])
          : Boolean = size() > MemoCap
    })

  /** Types the [[Span]] fallback trusts for min/max ordering. Floating
    * types are excluded: Spark's max() ranks NaN above everything and a
    * NaN build key still equi-matches NaN fact rows, so a float span is
    * not a sound match envelope. (The IN-list path is unaffected —
    * [[StatsPruning]]'s double domain is NaN-conservative per literal.) */
  private def spanSafe(dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case ByteType | ShortType | IntegerType | LongType | StringType |
        DateType | TimestampType | TimestampNTZType | BooleanType => true
      case _: DecimalType => true
      case _ => false
    }
  }

  private def buildKeys(spark: org.apache.spark.sql.SparkSession,
      build: LogicalPlan, attr: AttributeReference): Probe = {
    val maxKeys = conf.getConfString(MaxKeysConf, "10000").toInt
    val key = (build.canonicalized,
      build.output.indexWhere(_.exprId == attr.exprId))
    val hit = memo.get(key)
    if (hit != null) return hit
    val computed: Probe =
      try {
        executing.set(true)
        val d = org.apache.spark.sql.GraftColumnBridge
          .ofRows(spark, Project(Seq(attr), build))
        val rows = d.distinct().limit(maxKeys + 1).collect()
        if (rows.length <= maxKeys)
          Keys(rows.toIndexedSeq.map(_.get(0)).filter(_ != null))
        else if (!spanSafe(attr.dataType)) Unknown
        else {
          // over the IN-list budget: fall back to the key's span — one
          // more small agg on the same ≤ MaxBuildBytes side (min/max
          // aggs skip nulls, and null build keys never equi-match)
          import org.apache.spark.sql.functions.{max => fmax, min => fmin}
          val c = d.col(d.columns.head)
          val r = d.agg(fmin(c), fmax(c)).head()
          if (r.isNullAt(0)) Keys(Nil) // all-null keys: nothing matches
          else Span(r.get(0), r.get(1))
        }
      } catch {
        case e: Exception =>
          logWarning(s"JoinKeyPrune: build-side key collection failed: $e")
          Unknown
      } finally executing.set(false)
    memo.put(key, computed)
    computed
  }

  private def pruneByBuildKeys(rel: LogicalRelation, hfs: HadoopFsRelation,
      idx: StoreFileIndex, build: LogicalPlan,
      pairs: Seq[(AttributeReference, AttributeReference)])
      : Option[LogicalRelation] = {
    val probes = pairs.map { case (factAttr, buildAttr) =>
      (factAttr, buildAttr, buildKeys(hfs.sparkSession, build, buildAttr))
    }
    val tests = probes.flatMap { case (factAttr, buildAttr, probe) =>
      probe match {
        case Unknown => Nil // failed — this pair proves nothing
        case Keys(Nil) =>
          // empty (or all-null-keyed) build side: no fact row can match
          Seq((_: StatsPruning.FileStats) => false)
        case Keys(vals) =>
          val lits = vals.map(v => Literal.create(v, buildAttr.dataType))
          StatsPruning.compile(In(factAttr, lits), hfs.schema)
        case Span(mn, mx) =>
          import org.apache.spark.sql.catalyst.expressions.{And, GreaterThanOrEqual, LessThanOrEqual}
          StatsPruning.compile(
            And(GreaterThanOrEqual(factAttr, Literal.create(mn, buildAttr.dataType)),
              LessThanOrEqual(factAttr, Literal.create(mx, buildAttr.dataType))),
            hfs.schema)
      }
    }
    if (tests.isEmpty) None
    else {
      val res = idx.prune(tests)
      val desc = probes.map { case (factAttr, _, probe) =>
        probe match {
          case Keys(Nil) => s"empty(${factAttr.name})"
          case Keys(vals) => s"keys(${factAttr.name}:${vals.size})"
          case Span(_, _) => s"span(${factAttr.name})"
          case Unknown => s"unknown(${factAttr.name})"
        }
      }.mkString("+")
      record(PruneEvent(System.currentTimeMillis(), idx.table, desc,
        idx.files.size, res.getOrElse(idx).files.size))
      res.map(StoreFileIndex.serving(rel, _))
    }
  }

  private def replaceRelation(j: Join, from: LogicalRelation,
      to: LogicalRelation, factOnLeft: Boolean): LogicalPlan = {
    def swap(p: LogicalPlan): LogicalPlan = p.transform {
      case l: LogicalRelation if l eq from => to
    }
    if (factOnLeft) j.copy(left = swap(j.left)) else j.copy(right = swap(j.right))
  }
}
