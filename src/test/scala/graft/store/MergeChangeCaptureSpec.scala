package graft.store

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.ops.Merge
import graft.sql.{GraftSql, MergeSql}

/** MERGE change capture in one pass: the change batch a MERGE commits is
  * the filtered read of its own batch files, labeled by the hidden
  * [[Merge.ActionCol]] column. Each shape below checks that batch row for
  * row against the join-derived batch the store used to compute (source
  * or committed rows re-joined to the pre-merge keys), and that the
  * marker never surfaces through any read path. */
class MergeChangeCaptureSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshStore() =
    new TableStore(spark, Files.createTempDirectory("graft_mcc").toString, numBuckets = 4)

  /** The change batch of version base+1 as the store derived it before
    * MERGE labeled its own rows. `srcValues`: the source rows were the
    * committed values (aligned source, no DEFAULTs, no autoincrement), so
    * they were labeled directly; otherwise the committed rows of the
    * source's keys were. A DELETE branch kept only surviving keys and
    * added the deleted rows' pre-merge values. */
  private def joinDerived(st: TableStore, table: String, base: Long, src: DataFrame,
      srcValues: Boolean, withDelete: Boolean): DataFrame = {
    val keys = st.keysOf(table)
    val before = st.readVersion(table, base)
    val after = st.readVersion(table, base + 1)
    val tgtKeys = before.select(keys.map(col): _*).withColumn("__m", lit(true))
    def label(df: DataFrame): DataFrame = df.join(tgtKeys, keys, "left_outer")
      .withColumn("__action", when(col("__m").isNotNull, "update").otherwise("insert"))
      .drop("__m")
    val upserts =
      if (srcValues) label(src)
      else label(after.join(src.select(keys.map(col): _*).distinct(), keys, "left_semi"))
    if (!withDelete) upserts
    else {
      val survivors = after.select(keys.map(col): _*)
      upserts.join(survivors, keys, "left_semi")
        .unionByName(before.join(survivors, keys, "left_anti").withColumn("__action", lit("delete")))
    }
  }

  private def rows(st: TableStore, table: String, df: DataFrame): Seq[String] = {
    val cols = st.schemaOf(table).fieldNames.toIndexedSeq :+ "__action"
    df.select(cols.map(col): _*).collect().map(_.toSeq.mkString("|")).toSeq.sorted
  }

  /** Run `merge` as version base+1 and compare its change batch with the
    * join-derived one; returns the change rows. */
  private def assertSameChanges(st: TableStore, table: String, src: DataFrame,
      srcValues: Boolean = false, withDelete: Boolean = false)(merge: => Unit): Seq[String] = {
    val base = st.currentVersion(table)
    merge
    assert(st.currentVersion(table) == base + 1)
    val got = rows(st, table, st.readChanges(table, base, base + 1))
    val want = rows(st, table, joinDerived(st, table, base, src, srcValues, withDelete))
    assert(got == want)
    assert(got.nonEmpty)
    got
  }

  private val kv = StructType(Seq(StructField("id", LongType), StructField("v", StringType),
    StructField("n", IntegerType)))

  private def kvTable(st: TableStore, name: String): Unit = {
    st.createTable(name, kv, keys = Seq("id"))
    st.append(name, (1L to 12L).map(i => (i, s"v$i", i.toInt)).toDF("id", "v", "n"))
  }

  test("aligned source, default SET: source values equal the committed ones") {
    val st = freshStore()
    kvTable(st, "t")
    val src = Seq((3L, "V3", 30), (7L, "V7", 70), (40L, "new", 400)).toDF("id", "v", "n")
    val ch = assertSameChanges(st, "t", src, srcValues = true) { st.merge("t", src) }
    assert(ch == Seq("3|V3|30|update", "40|new|400|insert", "7|V7|70|update"))
  }

  test("custom SET expressions: change rows show the values the SET computed") {
    val st = freshStore()
    kvTable(st, "raw")
    Seq((2L, "x", 5), (9L, "y", 6), (50L, "z", 7)).toDF("id", "v", "n")
      .createOrReplaceTempView("mcc_src_set")
    val ch = assertSameChanges(st, "raw", spark.table("mcc_src_set")) {
      MergeSql.run(spark, st,
        """MERGE INTO raw t USING mcc_src_set s ON t.id = s.id
          |WHEN MATCHED THEN UPDATE SET t.v = upper(s.v), t.n = t.n + s.n
          |WHEN NOT MATCHED THEN INSERT (id, v, n) VALUES (s.id, concat(s.v, '!'), s.n * 10)
          |""".stripMargin)
    }
    assert(ch == Seq("2|X|7|update", "50|z!|70|insert", "9|Y|15|update"))
  }

  test("current_timestamp() defaults plus autoincrement: change rows carry the filled values") {
    val st = freshStore()
    val sch = StructType(Seq(StructField("sk", LongType), StructField("id", LongType),
      StructField("v", StringType), StructField("added_ts", TimestampType)))
    st.createTable("dim", sch, keys = Seq("id"),
      defaults = Map("added_ts" -> "current_timestamp()"), autoInc = Seq("sk"))
    // matched rows keep their surrogate key: SET only the value
    val setV = Some(Map("v" -> Merge.src("v")))
    st.merge("dim", Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"), whenMatchedSet = setV)
    val src = Seq((2L, "B"), (8L, "h"), (9L, "i")).toDF("id", "v")
    val ch = assertSameChanges(st, "dim", src) { st.merge("dim", src, whenMatchedSet = setV) }
    assert(ch.length == 3)
    assert(st.read("dim").select("sk").as[Long].collect().sorted.toSeq == (1L to 5L))
  }

  test("no WHEN NOT MATCHED branch: source-only keys produce no change rows") {
    val st = freshStore()
    kvTable(st, "raw")
    Seq((4L, "u4", 1), (60L, "never", 2)).toDF("id", "v", "n").createOrReplaceTempView("mcc_src_nm")
    val ch = assertSameChanges(st, "raw", spark.table("mcc_src_nm")) {
      MergeSql.run(spark, st,
        """MERGE INTO raw t USING mcc_src_nm s ON t.id = s.id
          |WHEN MATCHED THEN UPDATE SET t.v = s.v""".stripMargin)
    }
    assert(ch == Seq("4|u4|4|update"))
  }

  test("composite four-key ON") {
    val st = freshStore()
    val sch = StructType(Seq(StructField("order_date", StringType), StructField("order_time", StringType),
      StructField("customer_id", StringType), StructField("item_id", StringType),
      StructField("qty", LongType)))
    st.createTable("raw_order", sch, keys = Seq("order_date", "order_time", "customer_id", "item_id"))
    st.append("raw_order", (1 to 10).map(i => ("2024-01-0" + (i % 9 + 1), s"0$i:00", s"C$i", s"I$i", i.toLong))
      .toDF(sch.fieldNames.toIndexedSeq: _*))
    Seq(("2024-01-03", "02:00", "C2", "I2", 99L), ("2024-02-01", "09:00", "C9", "I0", 1L))
      .toDF(sch.fieldNames.toIndexedSeq: _*).createOrReplaceTempView("mcc_src_ord")
    val ch = assertSameChanges(st, "raw_order", spark.table("mcc_src_ord")) {
      MergeSql.run(spark, st,
        """MERGE INTO raw_order t USING mcc_src_ord s
          |ON t.order_date = s.order_date AND t.order_time = s.order_time
          |  AND t.customer_id = s.customer_id AND t.item_id = s.item_id
          |WHEN MATCHED THEN UPDATE SET t.qty = s.qty
          |WHEN NOT MATCHED THEN INSERT (order_date, order_time, customer_id, item_id, qty)
          |VALUES (s.order_date, s.order_time, s.customer_id, s.item_id, s.qty)""".stripMargin)
    }
    assert(ch.map(_.split('|').last).sorted == Seq("insert", "update"))
  }

  test("DELETE branch: deleted keys stream their pre-merge values, survivors as before") {
    val st = freshStore()
    kvTable(st, "raw")
    Seq((5L, "drop", 0), (6L, "keep", 1), (70L, "ins", 2)).toDF("id", "v", "n")
      .createOrReplaceTempView("mcc_src_del")
    val ch = assertSameChanges(st, "raw", spark.table("mcc_src_del"), withDelete = true) {
      MergeSql.run(spark, st,
        """MERGE INTO raw t USING mcc_src_del s ON t.id = s.id
          |WHEN MATCHED AND s.v = 'drop' THEN DELETE
          |WHEN MATCHED THEN UPDATE SET t.v = s.v, t.n = s.n
          |WHEN NOT MATCHED THEN INSERT (id, v, n) VALUES (s.id, s.v, s.n)""".stripMargin)
    }
    assert(ch == Seq("5|v5|5|delete", "6|keep|1|update", "70|ins|2|insert"))
    assert(st.read("raw").filter($"id" === 5L).isEmpty)
  }

  test("the action marker is in the batch files and in no read path") {
    val st = freshStore()
    kvTable(st, "mk")
    st.merge("mk", Seq((1L, "A", 1), (99L, "Z", 9)).toDF("id", "v", "n"))
    val files = st.readManifest("mk", st.currentVersion("mk")).map(_._2)
    def fileColumns(paths: Seq[String]) =
      spark.read.option("mergeSchema", "true").parquet(paths: _*).columns
    assert(fileColumns(files).contains(Merge.ActionCol),
      "the merge's own batch files carry the marker")
    def hidden(what: String, df: DataFrame): Unit =
      assert(!df.columns.contains(Merge.ActionCol), s"$what exposes ${Merge.ActionCol}")
    def hiddenInFiles(table: String): Unit = {
      val paths = st.readManifest(table, st.currentVersion(table)).map(_._2)
      assert(!fileColumns(paths).contains(Merge.ActionCol), s"$table's files carry the marker")
    }

    hidden("read", st.read("mk"))
    hidden("readVersion", st.readVersion("mk", st.currentVersion("mk")))
    hidden("scanWhere", st.scanWhere("mk", col("id") > 0L))
    hidden("select * by name", spark.sql("select * from mk"))

    GraftSql.execute(spark, st, "create table mk_ctas as select * from mk")
    hidden("CTAS", st.read("mk_ctas"))
    assert(st.schemaOf("mk_ctas").fieldNames.toSeq == kv.fieldNames.toSeq)
    // a CTAS is an APPEND, whose batch marks every row it writes 'insert':
    // none of the source's markers (update, null) travel with the rows
    val ctasFiles = st.readManifest("mk_ctas", st.currentVersion("mk_ctas")).map(_._2)
    assert(spark.read.parquet(ctasFiles: _*).select(Merge.ActionCol).distinct()
      .as[String].collect().toSeq == Seq("insert"), "mk_ctas's files carry the source's markers")

    st.cloneTable("mk", "mk_clone")
    hidden("CLONE", st.read("mk_clone"))

    st.compact("mk")
    hidden("compact", st.read("mk"))
    hiddenInFiles("mk")

    st.merge("mk", Seq((2L, "B", 2)).toDF("id", "v", "n"))
    st.renameColumn("mk", "v", "val")
    hidden("renameColumn", st.read("mk"))
    hiddenInFiles("mk")
    assert(st.read("mk").count() == 13)
    assert(st.read("mk").filter($"id" === 2L).select("val").as[String].head() == "B")
  }

  test("a MERGE that writes no rows commits an empty change batch") {
    val st = freshStore()
    kvTable(st, "e")
    // no WHEN NOT MATCHED branch and only unknown keys: nothing to write
    Seq((500L, "x", 1)).toDF("id", "v", "n").createOrReplaceTempView("mcc_src_none")
    val base = st.currentVersion("e")
    MergeSql.run(spark, st,
      """MERGE INTO e t USING mcc_src_none s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET t.v = s.v""".stripMargin)
    assert(st.readChanges("e", base, st.currentVersion("e")).isEmpty)
    assert(st.read("e").count() == 12)
  }

  private def changesSince(st: TableStore, table: String, base: Long): Seq[String] =
    rows(st, table, st.readChanges(table, base, st.currentVersion(table)))

  test("a DELETE-branch MERGE streams no NULL-key row") {
    // one bucket, so the NULL-key row is in every touched bucket
    val st = new TableStore(spark, Files.createTempDirectory("graft_mcc").toString, numBuckets = 1)
    st.createTable("nk", kv, keys = Seq("id"))
    st.append("nk", Seq((Some(1L), "a", 1), (None, "n", 2), (Some(2L), "b", 3)).toDF("id", "v", "n"))
    def deleteKey(id: Long): Seq[String] = {
      val base = st.currentVersion("nk")
      MergeSql.run(spark, st,
        s"MERGE INTO nk t USING (SELECT $id AS id) s ON t.id = s.id WHEN MATCHED THEN DELETE")
      changesSince(st, "nk", base)
    }
    assert(deleteKey(1L) == Seq("1|a|1|delete"))
    assert(deleteKey(2L) == Seq("2|b|3|delete"))
    assert(st.read("nk").collect().map(_.toSeq.mkString("|")).toSeq == Seq("null|n|2"))
  }

  test("matched rows no SET applies to stream nothing") {
    val st = freshStore()
    kvTable(st, "ns")
    // the only MATCHED clause is a conditional DELETE: key 2 is spared
    var base = st.currentVersion("ns")
    MergeSql.run(spark, st,
      """MERGE INTO ns t USING (SELECT * FROM VALUES (1L, 'drop'), (2L, 'keep') AS s(id, v)) s
        |ON t.id = s.id WHEN MATCHED AND s.v = 'drop' THEN DELETE""".stripMargin)
    assert(changesSince(st, "ns", base) == Seq("1|v1|1|delete"))
    // insert-only: the matched key 3 keeps its row
    base = st.currentVersion("ns")
    MergeSql.run(spark, st,
      """MERGE INTO ns t USING (SELECT * FROM VALUES (3L, 'x', 0), (40L, 'new', 4) AS s(id, v, n)) s
        |ON t.id = s.id WHEN NOT MATCHED THEN INSERT (id, v, n) VALUES (s.id, s.v, s.n)""".stripMargin)
    assert(changesSince(st, "ns", base) == Seq("40|new|4|insert"))
    assert(st.read("ns").filter($"id" <= 3L).orderBy("id").as[(Long, String, Int)].collect().toSeq ==
      Seq((2L, "v2", 2), (3L, "v3", 3)))
  }
}
