package graft.spark

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter, Project => LProject}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.store.TableStore

/** The fence's pushdown blast radius, and the rule that bounds it.
  *
  * One non-deterministic alias makes Spark's builtin pushdown stop EVERY
  * predicate at that Project — so without [[PushFilterThroughFence]], a
  * filter on a plain passthrough column placed ABOVE a curation op
  * (gopherRules/withWebRaw, whose staged columns are fenced) would never
  * reach the scan or the store's sidecar-stats file skipping. This spec
  * pins, against a real store table:
  *
  *  1. filter BELOW the curation op prunes files (the zero-reliance
  *     pattern users can always fall back to);
  *  2. the same filter ABOVE the curation op prunes the SAME file set
  *     (PushFilterThroughFence re-pushed it) with identical rows;
  *  3. a filter on the DERIVED `keep` flag stays above the fenced
  *     projection — the fixture expression is never substituted into
  *     predicate conjuncts (the c3 bisect the fence exists for);
  *  4. the rule substitutes through simple renames but never through
  *     expression-valued aliases, and leaves genuinely non-deterministic
  *     projections alone.
  */
class FencePushdownSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** File sets served by each parquet relation in the OPTIMIZED plan —
    * where SidecarPrune swaps the index (same helper as
    * SidecarPruneSpec; `Dataset.inputFiles` reads the same plan but
    * merges the relations' files into one set). */
  private def scanFiles(df: DataFrame): Seq[Set[String]] =
    df.queryExecution.optimizedPlan.collect {
      case l: LogicalRelation =>
        l.relation.asInstanceOf[HadoopFsRelation].location.inputFiles.toSet
    }

  private def docsTable(): (TableStore, DataFrame) = {
    val store = new TableStore(spark,
      Files.createTempDirectory("graft_fence_prune").toString, numBuckets = 4)
    store.createTable("docs", StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType))),
      keys = Seq("doc_id"))
    // id-disjoint appends -> per-file sidecar id ranges, like
    // SidecarPruneSpec's fixture
    (0 until 8).foreach { b =>
      val rows = (0 until 100).map { i =>
        val id = b * 100L + i
        (id, (Seq("the", "a", "and", "of", "to", "in") ++
          (1 to 54).map(j => s"tok$j")).mkString(" "))
      }
      store.append("docs", rows.toDF("doc_id", "text"))
    }
    (store, store.read("docs"))
  }

  private def curated(docs: DataFrame): DataFrame =
    graft.ops.WebCuration.gopherRules(
      graft.ops.WebCuration.withWebRaw(docs, "doc_id", "text"),
      "doc_id", "raw",
      stopwords = graft.ops.WebCuration.syntheticStopwords, symbols = Seq("#"))

  test("passthrough filter above a fenced curation op sidecar-prunes like the filter below") {
    val (store, docs) = docsTable()
    val cond = col("doc_id") >= 200L && col("doc_id") < 300L
    val allFiles = scanFiles(docs).head

    // (1) the recommended zero-reliance pattern: pre-filter, then curate
    val below = curated(docs.filter(cond))
    val Seq(belowFiles) = scanFiles(below)
    assert(belowFiles.size < allFiles.size, "fixture must actually prune")
    assert(belowFiles == store.scanWhere("docs", cond).inputFiles.toSet)

    // (2) the same filter ABOVE the curation op: builtin pushdown stops
    // at the first fenced Project; PushFilterThroughFence carries it the
    // rest of the way to the very same pruned file set
    val above = curated(docs).filter(cond)
    val Seq(aboveFiles) = scanFiles(above)
    assert(aboveFiles == belowFiles,
      s"filter above the fence must prune to the same files " +
        s"(${aboveFiles.size} vs ${belowFiles.size} of ${allFiles.size})")

    // identical rows either way
    assert(above.orderBy("doc_id").collect().toSeq ==
      below.orderBy("doc_id").collect().toSeq)
    assert(above.count() == 100L)
  }

  test("a derived-column (keep) filter stays above the fence: fixture never enters predicates") {
    val (_, docs) = docsTable()
    val kept = curated(docs).filter(col("keep"))
    // no Filter anywhere below a fence-bearing Project may reference the
    // fixture: every Filter in the optimized plan must either sit ABOVE
    // the fenced projections or contain no Fence-derived expression
    val optimized = kept.queryExecution.optimizedPlan
    val filtersWithFence = optimized.collect {
      case f: LFilter if f.condition.exists(_.isInstanceOf[Fence]) => f
    }
    assert(filtersWithFence.isEmpty,
      "the fenced fixture must never be substituted into a Filter predicate")
    // and the string-typed fixture fence is computed exactly once in the
    // whole physical plan (the c3 bisect's invariant) — the other fences
    // (__ws/__ls) are array-typed and reference the fixture ATTRIBUTE,
    // never re-evaluating it
    val fixtureFences = kept.queryExecution.executedPlan.flatMap { node =>
      node.expressions.flatMap(_.collect {
        case f: Fence if f.dataType == StringType => f
      })
    }
    assert(fixtureFences.size == 1,
      s"web fixture must appear exactly once in the physical plan, " +
        s"got ${fixtureFences.size}")
    assert(kept.count() > 0L)
  }

  test("rule mechanics: rename substitution yes, expression aliases and real non-determinism no") {
    // parquet-backed, NOT a LocalRelation — ConvertToLocalRelation would
    // evaluate a local plan away and erase the shapes under test
    val dir = Files.createTempDirectory("graft_fence_mech").toString
    Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("a", "b")
      .write.mode("overwrite").parquet(dir)
    val base = spark.read.parquet(dir)

    // rename alias: predicate on the new name pushes below, substituted
    val renamed = base.select(col("a").as("a2"),
      call_function("graft_fence", col("b") * 2).as("fb"))
      .filter(col("a2") === 2L)
    val pushedThrough = renamed.queryExecution.optimizedPlan.collect {
      case LProject(pl, _) if pl.exists(_.exists(_.isInstanceOf[Fence])) => true
    }
    assert(pushedThrough.nonEmpty, "fenced Project must survive optimization")
    // after the rule, no Filter sits ABOVE the fenced Project
    renamed.queryExecution.optimizedPlan match {
      case _: LFilter => fail("filter must have been pushed below the fenced Project")
      case _ => ()
    }
    assert(renamed.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((2L, 40L)))

    // expression-valued alias: predicate on it must STAY above (pushing
    // would re-inline the computation into the predicate — the exact
    // duplication hazard the fence guards)
    val exprAlias = base.select((col("a") + 1).as("a1"),
      call_function("graft_fence", col("b") * 2).as("fb"))
      .filter(col("a1") === 3L)
    assert(exprAlias.queryExecution.optimizedPlan.isInstanceOf[LFilter],
      "predicate on a computed alias must stay above the fenced Project")
    assert(exprAlias.collect().map(_.getLong(1)).toSeq == Seq(40L))

    // genuinely non-deterministic neighbor (rand()): the rule must NOT
    // fire — reordering a filter around rand() changes which rows draw
    val withRand = base.select(col("a"), rand(7).as("r"),
      call_function("graft_fence", col("b") * 2).as("fb"))
      .filter(col("a") === 2L)
    assert(withRand.queryExecution.optimizedPlan.isInstanceOf[LFilter],
      "a project with real non-determinism must keep the filter above")
    assert(withRand.count() == 1L)
  }
}
