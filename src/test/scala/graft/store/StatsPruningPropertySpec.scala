package graft.store

import java.nio.file.Files

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Randomized soundness property for BOTH file-pruning consumers: for a
  * store table seeded with the adversarial value classes (NaN, ±0.0,
  * nulls, empty and non-BMP strings, Long extremes) and a generated
  * predicate population over every stats kind, `scanWhere(cond)` and the
  * transparent `read(t).filter(cond)` (SidecarPrune) must return
  * EXACTLY the rows of an unpruned baseline read — pruning may
  * only ever drop files that provably hold no matches. A single lost
  * row here is the silent-data-loss class the r16 ±0.0/NaN fixes
  * closed; this property keeps the whole family pinned under predicate
  * shapes nobody hand-picked. */
class StatsPruningPropertySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("random predicates: pruned reads equal the prune-disabled baseline") {
    val store = new TableStore(spark,
      Files.createTempDirectory("graft_prune_prop").toString, numBuckets = 4)
    store.createTable("t", StructType(Seq(
      StructField("id", LongType),
      StructField("l", LongType),
      StructField("d", DoubleType),
      StructField("s", StringType))), keys = Seq("id"))
    val rnd = new scala.util.Random(42)
    val longPool = Seq(Long.MinValue, Long.MaxValue, -1L, 0L, 1L, 999L,
      -999L, 1000000L)
    val doublePool = Seq(Double.NaN, Double.PositiveInfinity,
      Double.NegativeInfinity, -0.0d, 0.0d, 1.5d, -2.25d,
      Double.MinPositiveValue, 1e300, -1e300)
    val stringPool = Seq("", "a", "z", "alpha", "zzz", "ümlaut", "😀emoji",
      "\u0000nul", "mid\ttab")
    def longV() = if (rnd.nextInt(10) == 0) null
      else Long.box(longPool(rnd.nextInt(longPool.size)) + rnd.nextInt(3) - 1)
    def dblV() = if (rnd.nextInt(10) == 0) null
      else Double.box(doublePool(rnd.nextInt(doublePool.size)))
    def strV() = if (rnd.nextInt(10) == 0) null
      else stringPool(rnd.nextInt(stringPool.size))
    // 5 appends: each batch gets its own sidecar, so predicates can
    // prune some batches and must keep the rest
    var id = 0L
    (0 until 5).foreach { _ =>
      val rows = (0 until 200).map { _ =>
        id += 1
        (id, longV(), dblV(), strV())
      }
      store.append("t", rows.toDF("id", "l", "d", "s"))
    }

    // predicate population over every stats kind: comparisons against
    // pool values (exactly the boundary literals), IN, null tests,
    // prefix tests, and random conjunctions of the above
    def cmp[T](c: String, v: T): Seq[Column] = Seq(
      col(c) === lit(v), col(c) > lit(v), col(c) >= lit(v),
      col(c) < lit(v), col(c) <= lit(v))
    val atoms: Seq[Column] =
      longPool.flatMap(v => cmp("l", v)) ++
      doublePool.flatMap(v => cmp("d", v)) ++
      stringPool.filter(_.nonEmpty).flatMap(v => cmp("s", v)) ++
      Seq(col("l").isin(0L, 999L, Long.MaxValue),
        col("s").isin("alpha", "😀emoji", ""),
        col("l").isNull, col("l").isNotNull,
        col("d").isNull, col("d").isNotNull,
        col("s").isNull, col("s").isNotNull,
        col("s").startsWith("z"), col("s").startsWith("üm"),
        col("d") === lit(-0.0d), col("d") =!= lit(0.0d))
    val conjunctions = (0 until 40).map { _ =>
      atoms(rnd.nextInt(atoms.size)) && atoms(rnd.nextInt(atoms.size))
    }
    val preds = atoms ++ conjunctions

    def rowsOf(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.orderBy("id").collect().map(_.toString).toSeq
    var exercised = 0
    preds.foreach { cond =>
      // baseline: a plain parquet read of the same manifest files, which
      // SidecarPrune never touches (parquet row-group evaluation inside
      // Spark's reader is the trusted ground truth)
      val want = rowsOf(spark.read.schema(store.schemaOf("t"))
        .parquet(store.readManifest("t", store.currentVersion("t")).map(_._2): _*).filter(cond))
      val viaScanWhere = rowsOf(store.scanWhere("t", cond))
      val viaRule = rowsOf(store.read("t").filter(cond))
      assert(viaScanWhere == want,
        s"scanWhere lost/invented rows for $cond: " +
          s"${viaScanWhere.size} vs ${want.size}")
      assert(viaRule == want,
        s"transparent prune lost/invented rows for $cond: " +
          s"${viaRule.size} vs ${want.size}")
      exercised += 1
    }
    assert(exercised > 100, s"predicate population too small: $exercised")
  }
}
