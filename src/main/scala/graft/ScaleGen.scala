package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-up generator for the scale-proof bench (SCALE.md): replicates a
  * testdata dir `factor`× with CONSISTENT key remapping, so referential
  * integrity (orders↔lineitem↔customer/part/supplier) holds in the
  * scaled copy and join/merge queries behave as they would on genuinely
  * larger data. Document text is perturbed per copy (a copy-tag token)
  * so the corpus does not become `factor` identical replicas — that
  * would inflate near-dup density quadratically and misrepresent the
  * dedup workload. Dims that grow slower than facts in real deployments
  * (region, nation) and embeddings (the exact-kNN ground truths are
  * quadratic — scale-proof for vector ops is the blocked/IVF path, not
  * bigger exact baselines) are copied verbatim. Events scale like facts
  * (event_id/user_id strides, timestamps untouched — the event queries
  * are self-contained on those keys, so sessions/windows/asof chains
  * multiply by the factor); the one exception is legacy
  * TIMESTAMP(NANOS) sources, which must be byte-copied because a Spark
  * rewrite under nanosAsLong would retype ts to BIGINT.
  *
  * Usage: runMain graft.ScaleGen <srcDir> <dstDir> <factor>
  */
object ScaleGen {
  def main(args: Array[String]): Unit = {
    val Array(src, dst) = args.take(2)
    val factor = if (args.length > 2) args(2).toInt else 10
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt
    val spark = GraftSession.sparkSession(cpus)

    def tbl(n: String) = spark.read.parquet(s"$src/$n.parquet")
    def write(df: DataFrame, n: String, parts: Int): Unit =
      df.repartition(parts).write.mode("overwrite").parquet(s"$dst/$n.parquet")

    // key strides: next power of 10 above the source max, so copy i's keys
    // occupy a disjoint, order-preserving range
    def stride(df: DataFrame, c: String): Long = {
      val mx = df.agg(max(col(c))).head().getLong(0)
      var s = 10L; while (s <= mx) s *= 10; s
    }
    val (ordS, custS, partS, suppS, docS) = (
      stride(tbl("orders"), "o_orderkey"), stride(tbl("customer"), "c_custkey"),
      stride(tbl("part"), "p_partkey"), stride(tbl("supplier"), "s_suppkey"),
      stride(tbl("documents"), "doc_id"))

    /** union of `factor` copies with the given per-copy column remaps. */
    def scaled(name: String)(remap: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until factor).map(i => remap(tbl(name), i)).reduce(_ unionByName _)

    write(scaled("orders") { (df, i) =>
      df.withColumn("o_orderkey", col("o_orderkey") + lit(i * ordS))
        .withColumn("o_custkey", col("o_custkey") + lit(i * custS))
    }, "orders", 4 * factor)

    write(scaled("lineitem") { (df, i) =>
      df.withColumn("l_orderkey", col("l_orderkey") + lit(i * ordS))
        .withColumn("l_partkey", col("l_partkey") + lit(i * partS))
        .withColumn("l_suppkey", col("l_suppkey") + lit(i * suppS))
    }, "lineitem", 4 * factor)

    write(scaled("customer") { (df, i) =>
      df.withColumn("c_custkey", col("c_custkey") + lit(i * custS))
    }, "customer", factor)
    write(scaled("supplier") { (df, i) =>
      df.withColumn("s_suppkey", col("s_suppkey") + lit(i * suppS))
    }, "supplier", factor)
    write(scaled("part") { (df, i) =>
      df.withColumn("p_partkey", col("p_partkey") + lit(i * partS))
    }, "part", factor)

    // documents: perturb text per copy (keeps n_chars == length(text)
    // invariant) so near-dup structure scales ~linearly
    write(scaled("documents") { (df, i) =>
      val t = if (i == 0) col("text") else concat(col("text"), lit(s" zcopy$i"))
      df.withColumn("doc_id", col("doc_id") + lit(i * docS))
        .withColumn("text", t)
        .withColumn("n_chars", length(col("text")).cast("long"))
    }, "documents", 2 * factor)

    // events: scaled like a fact when the source timestamp survives a
    // Spark rewrite (micros, any tz-ness); legacy TIMESTAMP(NANOS) reads
    // as BIGINT under nanosAsLong and must stay a byte copy
    val evScalable = !tbl("events").schema("ts").dataType
      .isInstanceOf[org.apache.spark.sql.types.LongType.type]
    if (evScalable) {
      val (evS, usrS) =
        (stride(tbl("events"), "event_id"), stride(tbl("events"), "user_id"))
      write(scaled("events") { (df, i) =>
        df.withColumn("event_id", col("event_id") + lit(i * evS))
          .withColumn("user_id", col("user_id") + lit(i * usrS))
      }, "events", 2 * factor)
    }

    // verbatim tables are FILE copies: a spark read+write would rewrite
    // types the session coerces (events' TIMESTAMP(NANOS) becomes BIGINT
    // under nanosAsLong) and break engines that read the original type.
    // Recursive, because a chained run's source tables are spark-written
    // dataset DIRECTORIES, not single files.
    def copyRec(from: java.nio.file.Path, to: java.nio.file.Path): Unit = {
      if (java.nio.file.Files.isDirectory(from)) {
        java.nio.file.Files.createDirectories(to)
        java.nio.file.Files.list(from).forEach(c => copyRec(c, to.resolve(c.getFileName)))
      } else
        java.nio.file.Files.copy(from, to,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      ()
    }
    (Seq("region", "nation", "embeddings") ++
        (if (evScalable) Nil else Seq("events"))).foreach { n =>
      copyRec(java.nio.file.Paths.get(src, s"$n.parquet"),
        java.nio.file.Paths.get(dst, s"$n.parquet"))
    }
    val rows = Seq("orders", "lineitem", "documents")
      .map(n => s"$n=${spark.read.parquet(s"$dst/$n.parquet").count()}")
    println(s"[scalegen] factor=$factor dst=$dst ${rows.mkString(" ")}")
    spark.stop()
  }
}
