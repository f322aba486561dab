package graft.store

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.cdc.ChangeStream

class TableStoreSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("v", StringType)))

  private def freshStore() =
    new TableStore(spark, Files.createTempDirectory("graft_store").toString, numBuckets = 4)

  private def recordsReadDuring(body: => Unit): Long =
    TestSpark.taskMetricDuring(_.inputMetrics.recordsRead)(body)._2

  test("key-equality UPDATE derives buckets from literals — no discovery scan") {
    val st = freshStore() // 4 buckets
    st.createTable("t", schema, keys = Seq("id"))
    st.append("t", (1L to 1000L).map(i => (i, s"v$i")).toDF("id", "v"))
    val read = recordsReadDuring {
      st.update("t", col("id") === 7L, Map("v" -> lit("X")))
    }
    // pruned path reads only bucket(7)'s ~250 rows, once for the rewrite;
    // the old discovery scan added a full 1000-row pass on top
    assert(read < 1000, s"expected no full-table discovery scan, read $read records")
    assert(st.read("t").filter(col("id") === 7L).head().getString(1) == "X")
    assert(st.read("t").count() == 1000)
  }

  test("composite-key IN predicates derive bucket combos; non-key predicates still work") {
    val st = freshStore()
    val sch = StructType(Seq(StructField("a", LongType), StructField("b", StringType),
      StructField("v", StringType)))
    st.createTable("c", sch, keys = Seq("a", "b"))
    st.append("c", (1L to 100L).map(i => (i, s"k${i % 3}", "old")).toDF("a", "b", "v"))
    // all keys bound: a IN (...), b = lit (int literals upcast to the long key)
    st.update("c", col("a").isin(1L, 2L, 3L) && col("b") === "k1" && col("v") === "old",
      Map("v" -> lit("new")))
    assert(st.read("c").filter(col("v") === "new").count() == 1) // only (1,k1) matches
    // predicate not binding all keys falls back to the scan path and stays correct
    st.delete("c", col("a") > 90L)
    assert(st.read("c").count() == 90)
  }

  test("rebucket changes the bucket count; merges still prune and old readers resolve") {
    val st = freshStore() // store default 4
    st.createTable("t", schema, keys = Seq("id"))
    st.append("t", (1L to 200L).map(i => (i, s"v$i")).toDF("id", "v"))
    assert(st.bucketsOf("t") == 4)
    val v1 = st.currentVersion("t")
    st.rebucket("t", 16)
    assert(st.bucketsOf("t") == 16)
    // old version still reads (manifests immutable)
    assert(st.readVersion("t", v1).count() == 200)
    // post-rebucket merge prunes with the NEW count and lands correctly
    st.merge("t", Seq((7L, "V7"), (300L, "V300")).toDF("id", "v"))
    assert(st.read("t").count() == 201)
    assert(st.read("t").filter(col("id") === 7L).head().getString(1) == "V7")
    // literal-derived pruning agrees with the new bucketing
    st.update("t", col("id") === 300L, Map("v" -> lit("X")))
    assert(st.read("t").filter(col("id") === 300L).head().getString(1) == "X")
    // manifest bucket ids now span the 16-bucket range
    assert(manifest(st, "t", st.currentVersion("t")).keys.max >= 4)
  }

  test("dropped clone still blocks source drop/vacuum until purged") {
    val st = freshStore()
    st.createTable("src", schema, keys = Seq("id"))
    st.append("src", Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    st.cloneTable("src", "cl")
    st.dropTable("cl") // to _trash: manifest still points into src/data
    // src's files are still shared — drop must refuse, not orphan the clone
    val e = intercept[IllegalArgumentException](st.dropTable("src"))
    assert(e.getMessage.contains("_trash/cl"))
    // vacuum on src keeps the dirs the trashed clone references
    st.overwrite("src", Seq((9L, "z")).toDF("id", "v"))
    st.vacuum("src", keepVersions = 1)
    st.undropTable("cl")
    assert(st.read("cl").orderBy("id").as[(Long, String)].collect().toSeq ==
      Seq((1L, "a"), (2L, "b")), "undropped clone must still read its shared files")
    // purging the clone releases the reference
    st.dropTable("cl", purge = true)
    st.dropTable("src")
  }

  test("renameColumn rewrites pending change batches for unconsumed streams") {
    val st = freshStore()
    st.createTable("t", schema, keys = Seq("id"))
    val stm = ChangeStream.create(st, "t", "s1")
    st.append("t", Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    st.renameColumn("t", "v", "val")
    // the stream's pending batch predates the rename: it must surface the
    // values under the NEW column name, not nulls
    stm.consume { ch =>
      val rows = ch.orderBy("id").collect()
      assert(ch.columns.contains("val"))
      assert(rows.map(_.getAs[String]("val")).toSeq == Seq("a", "b"))
    }
  }

  test("create/append/overwrite/truncate lifecycle with version history") {
    val st = freshStore()
    st.createTable("t", schema, keys = Seq("id"))
    assert(st.read("t").count() == 0)
    st.append("t", Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    assert(st.currentVersion("t") == 1 && st.read("t").count() == 2)
    st.append("t", Seq((3L, "c")).toDF("id", "v"))
    assert(st.read("t").count() == 3)
    st.overwrite("t", Seq((9L, "z")).toDF("id", "v"))
    assert(st.read("t").orderBy("id").as[(Long, String)].collect().toSeq == Seq((9L, "z")))
    st.truncate("t")
    assert(st.read("t").count() == 0)
    assert(st.currentVersion("t") == 4) // every mutation committed a version
  }

  test("merge rewrites only touched buckets and applies upsert semantics") {
    val st = freshStore()
    st.createTable("t", schema, keys = Seq("id"))
    st.append("t", (1L to 8L).map(i => (i, s"v$i")).toDF("id", "v"))
    st.merge("t", Seq((2L, "V2"), (100L, "V100")).toDF("id", "v"))
    val out = st.read("t").orderBy("id").as[(Long, String)].collect().toSeq
    assert(out.length == 9)
    assert(out.contains((2L, "V2")) && out.contains((100L, "V100")) && out.contains((1L, "v1")))
  }

  test("update rewrites matching rows in place") {
    val st = freshStore()
    st.createTable("t", schema, keys = Seq("id"))
    st.append("t", Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    st.update("t", col("id") === 2, Map("v" -> lit("B!")))
    assert(st.read("t").filter(col("id") === 2).head().getString(1) == "B!")
    assert(st.read("t").filter(col("id") === 1).head().getString(1) == "a")
  }

  private def manifest(st: TableStore, table: String, v: Long): Map[Int, String] =
    new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(st.root, table, "_versions", f"v$v%08d")), "UTF-8")
      .split("\n").filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val Array(b, p) = l.split("\t", 2); b.toInt -> p }.toMap

  test("update rewrites only buckets containing matching rows") {
    val st = freshStore()
    st.createTable("t", schema, keys = Seq("id"))
    st.append("t", (1L to 40L).map(i => (i, s"v$i")).toDF("id", "v"))
    val before = manifest(st, "t", 1)
    assert(before.size == 4)
    st.update("t", col("id") === 7, Map("v" -> lit("SEVEN")))
    val after = manifest(st, "t", 2)
    assert(after.count { case (b, p) => before(b) == p } == 3,
      "a single-key update must carry 3 of 4 buckets over untouched")
    assert(st.read("t").filter(col("id") === 7).head().getString(1) == "SEVEN")
    assert(st.read("t").count() == 40)
  }

  test("delete removes rows bucket-pruned and emits delete change rows") {
    val st = freshStore()
    st.createTable("t", schema, keys = Seq("id"))
    st.append("t", (1L to 40L).map(i => (i, s"v$i")).toDF("id", "v"))
    val stm = ChangeStream.create(st, "t", "s")
    stm.markConsumed()
    val before = manifest(st, "t", 1)
    st.delete("t", col("id") === 5)
    val after = manifest(st, "t", 2)
    assert(after.count { case (b, p) => before(b) == p } == 3,
      "a single-key delete must carry 3 of 4 buckets over untouched")
    assert(st.read("t").count() == 39)
    assert(st.read("t").filter(col("id") === 5).count() == 0)
    val ch = stm.consume(df => df.select("id", "__action").as[(Long, String)].collect().toSeq)
    assert(ch == Seq((5L, "delete")), "stream must surface the deleted row with action=delete")
  }

  test("incremental fact maintenance: additive merge touches only delta-key buckets") {
    val st = freshStore()
    val factSchema = StructType(Seq(
      StructField("grp", LongType), StructField("cnt", LongType), StructField("total", LongType)))
    st.createTable("fact", factSchema, keys = Seq("grp"))
    st.append("fact", (1L to 40L).map(g => (g, 10L, 100L)).toDF("grp", "cnt", "total"))
    val before = manifest(st, "fact", 1)
    // delta aggregates for one existing group and one new group
    val delta = Seq((7L, 3L, 30L), (99L, 5L, 50L)).toDF("grp", "cnt", "total")
    st.merge("fact", delta,
      whenMatchedSet = Some(graft.ops.IncrementalAgg.combineSet(Seq("cnt", "total"))))
    val after = manifest(st, "fact", 2)
    assert(after.count { case (b, p) => before(b) == p } >= 2,
      "buckets without delta keys must carry over untouched")
    val out = st.read("fact").filter(col("grp").isin(7L, 99L, 1L))
      .orderBy("grp").as[(Long, Long, Long)].collect().toSeq
    assert(out == Seq((1L, 10L, 100L), (7L, 13L, 130L), (99L, 5L, 50L)))
  }

  test("merge WHEN MATCHED DELETE drops rows and streams them as deletes") {
    val st = freshStore()
    st.createTable("t", schema, keys = Seq("id"))
    st.append("t", Seq((1L, "keep"), (2L, "kill"), (3L, "upd")).toDF("id", "v"))
    val stm = ChangeStream.create(st, "t", "s")
    stm.markConsumed()
    // source: id=2 flagged for delete, id=3 update, id=9 insert
    st.merge("t", Seq((2L, "x"), (3L, "UPD"), (9L, "new")).toDF("id", "v"),
      whenMatchedDelete = Some(col(s"${graft.ops.Merge.S}.v") === "x"))
    val out = st.read("t").orderBy("id").as[(Long, String)].collect().toSeq
    assert(out == Seq((1L, "keep"), (3L, "UPD"), (9L, "new")))
    val ch = stm.consume(df => df.select("id", "__action").as[(Long, String)].collect().toMap)
    assert(ch == Map(2L -> "delete", 3L -> "update", 9L -> "insert"))
  }

  test("streams see appends once, merges as insert/update actions") {
    val st = freshStore()
    st.createTable("t", schema, keys = Seq("id"))
    val stm = ChangeStream.create(st, "t", "s1")
    assert(!stm.hasData)
    st.append("t", Seq((1L, "a")).toDF("id", "v"))
    assert(stm.hasData)
    val batch1 = stm.consume(df => df.collect())
    assert(batch1.length == 1 && batch1.head.getAs[String]("__action") == "insert")
    assert(!stm.hasData) // consumed

    st.merge("t", Seq((1L, "A"), (2L, "b")).toDF("id", "v"))
    val batch2 = stm.consume(df =>
      df.select("id", "__action").as[(Long, String)].collect().toMap)
    assert(batch2 == Map(1L -> "update", 2L -> "insert"))
  }

  test("merge change rows carry committed autoincrement/default values") {
    val st = freshStore()
    val sch = StructType(Seq(
      StructField("sk", LongType), StructField("id", LongType),
      StructField("v", StringType), StructField("added_ts", TimestampType)))
    st.createTable("dim", sch, keys = Seq("id"),
      defaults = Map("added_ts" -> "current_timestamp()"), autoInc = Seq("sk"))
    val stm = ChangeStream.create(st, "dim", "s1")
    st.merge("dim", Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    // the stream's rows must equal the COMMITTED rows — surrogate keys
    // filled (not null) and the default timestamp identical to the table's,
    // not a re-evaluated current_timestamp()
    val committed = st.read("dim").orderBy("id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(3))).toSeq
    val streamed = stm.consume(df => df.orderBy("id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(3))).toSeq)
    assert(streamed == committed)
    assert(streamed.forall(_._1 >= 1L), "autoincrement keys must be filled in change rows")
  }

  test("two streams on one table advance independently") {
    val st = freshStore()
    st.createTable("t", schema, keys = Seq("id"))
    val s1 = ChangeStream.create(st, "t", "s1")
    val s2 = ChangeStream.create(st, "t", "s2")
    st.append("t", Seq((1L, "a")).toDF("id", "v"))
    s1.consume(_.count())
    assert(!s1.hasData && s2.hasData)
    s2.markConsumed()
    assert(!s2.hasData)
  }

  test("compact collapses batches without changing contents or streams") {
    val st = freshStore()
    st.createTable("t", schema, keys = Seq("id"))
    (1L to 5L).foreach(i => st.append("t", Seq((i, s"v$i")).toDF("id", "v")))
    val stm = ChangeStream.create(st, "t", "s")
    val before = st.read("t").orderBy("id").collect().toSeq
    st.compact("t")
    assert(st.read("t").orderBy("id").collect().toSeq == before)
    assert(!stm.hasData, "compaction must not surface phantom CDC changes")
    st.vacuum("t", keepVersions = 1)
    assert(st.read("t").orderBy("id").collect().toSeq == before)
  }

  test("time travel reads and vacuum retention") {
    val st = freshStore()
    st.createTable("t", schema, keys = Seq("id"))
    st.append("t", Seq((1L, "a")).toDF("id", "v"))               // v1
    st.append("t", Seq((2L, "b")).toDF("id", "v"))               // v2
    st.overwrite("t", Seq((9L, "z")).toDF("id", "v"))            // v3
    assert(st.readVersion("t", 1).count() == 1)
    assert(st.readVersion("t", 2).count() == 2)
    assert(st.read("t").count() == 1)

    // an unconsumed stream protects its pending change batches
    val stm = ChangeStream.create(st, "t", "s")
    st.append("t", Seq((3L, "c")).toDF("id", "v"))               // v4
    st.vacuum("t", keepVersions = 1)
    assert(st.read("t").count() == 2)                            // current intact
    val pending = stm.consume(_.count())
    assert(pending == 1, "pending change batch must survive vacuum")
  }

  test("clone is zero-copy, diverges on write, and blocks source drop/vacuum") {
    val st = freshStore()
    st.createTable("t", schema, keys = Seq("id"))
    st.append("t", (1L to 8L).map(i => (i, s"v$i")).toDF("id", "v"))
    st.cloneTable("t", "t2")
    // zero-copy: the clone's manifest points into the SOURCE's data dirs
    assert(manifest(st, "t2", 0L).values.forall(_.contains("/t/data/")))
    assert(st.read("t2").count() == 8)
    // writes diverge: mutating the clone leaves the source untouched
    st.merge("t2", Seq((1L, "CLONED")).toDF("id", "v"))
    assert(st.read("t2").filter(col("id") === 1).head().getString(1) == "CLONED")
    assert(st.read("t").filter(col("id") === 1).head().getString(1) == "v1")
    // the source cannot be dropped while the clone references its files
    val e = intercept[IllegalArgumentException](st.dropTable("t"))
    assert(e.getMessage.contains("referenced by clone"))
    // vacuum on the source keeps dirs the clone still references
    st.overwrite("t", Seq((9L, "z")).toDF("id", "v"))
    st.vacuum("t", keepVersions = 1)
    assert(st.read("t2").count() == 8, "clone must survive source vacuum")
    // compaction materializes the clone; then the source can go
    st.compact("t2")
    st.dropTable("t")
    assert(st.read("t2").count() == 8)
  }

  test("clone carries table properties: clustering keys, lookup blooms, auto-compact policy") {
    val st = freshStore()
    st.createTable("t", schema, keys = Seq("id"),
      clusterBy = Seq("id"), lookup = Seq("id"))
    st.setAutoCompact("t", Some(4))
    st.append("t", (1L to 8L).map(i => (i, s"v$i")).toDF("id", "v"))
    st.cloneTable("t", "t2")
    assert(st.clusterByOf("t2") == Seq("id"),
      "Snowflake clone semantics: clustering keys shape the clone's future writes")
    assert(st.lookupOf("t2") == Seq("id"))
    assert(st.autoCompactOf("t2") == Some(4),
      "the auto-compaction policy follows the data")
    // and the clone's own policy diverges independently of the source
    st.setAutoCompact("t2", Some(0))
    assert(st.autoCompactOf("t") == Some(4))
  }

  test("clone at an older version snapshots time travel") {
    val st = freshStore()
    st.createTable("t", schema, keys = Seq("id"))
    st.append("t", Seq((1L, "a")).toDF("id", "v")) // v1
    st.append("t", Seq((2L, "b")).toDF("id", "v")) // v2
    st.cloneTable("t", "t_v1", version = Some(1L))
    assert(st.read("t_v1").collect().map(_.getLong(0)).toSeq == Seq(1L))
  }

  test("drop moves to trash and undrop restores content and version history") {
    val st = freshStore()
    st.createTable("t", schema, keys = Seq("id"))
    st.append("t", Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    st.dropTable("t")
    assert(!st.exists("t") && !st.listTables().contains("t"))
    st.undropTable("t")
    assert(st.read("t").count() == 2 && st.currentVersion("t") == 1)
    // purge drop leaves nothing to undrop
    st.dropTable("t", purge = true)
    intercept[IllegalArgumentException](st.undropTable("t"))
  }

  test("add/drop/rename column evolve the schema over existing files") {
    val st = freshStore()
    st.createTable("t", schema, keys = Seq("id"))
    st.append("t", Seq((1L, "a")).toDF("id", "v"))
    st.addColumn("t", "score", IntegerType, default = Some("7"))
    // metadata-only: old files read the new column as null
    assert(st.read("t").select("score").head().isNullAt(0))
    // the default applies to writes that omit the column
    st.append("t", Seq((2L, "b")).toDF("id", "v"))
    assert(st.read("t").filter(col("id") === 2).select("score").head().getInt(0) == 7)
    st.dropColumn("t", "v")
    assert(st.read("t").columns.toSeq == Seq("id", "score"))
    intercept[IllegalArgumentException](st.dropColumn("t", "id")) // key column
    st.renameColumn("t", "score", "points")
    assert(st.read("t").columns.toSeq == Seq("id", "points"))
    assert(st.read("t").filter(col("id") === 2).head().getInt(1) == 7)
  }

  test("registered views expose store tables to spark.sql") {
    val st = freshStore()
    st.createTable("accounts", schema, keys = Seq("id"))
    st.append("accounts", Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    assert(spark.sql("SELECT v FROM accounts WHERE id = 2").head().getString(0) == "b")
    st.merge("accounts", Seq((2L, "B!")).toDF("id", "v"))
    assert(spark.sql("SELECT v FROM accounts WHERE id = 2").head().getString(0) == "B!")
  }

  test("schema align casts and pads missing columns on write") {
    val st = freshStore()
    val typed = StructType(Seq(
      StructField("id", LongType), StructField("amt", DecimalType(10, 2)),
      StructField("note", StringType)))
    st.createTable("t", typed, keys = Seq("id"))
    // source has string id/amt and lacks note — permissive landing behavior
    st.append("t", Seq(("1", "12.345")).toDF("id", "amt"))
    val r = st.read("t").head()
    assert(r.getLong(0) == 1L)
    assert(r.getDecimal(1) == new java.math.BigDecimal("12.35")) // rounded to (10,2)
    assert(r.isNullAt(2))
  }

  test("bucket count is per committed version; AT-clone across a rebucket keeps the old count") {
    val st = freshStore() // default 4
    st.createTable("t", schema, keys = Seq("id"))
    st.append("t", (1L to 200L).map(i => (i, s"v$i")).toDF("id", "v"))
    val preRebucket = st.currentVersion("t")
    st.rebucket("t", 16)
    assert(st.bucketsOfVersion("t", preRebucket) == 4, "old version keeps its own count")
    assert(st.bucketsOf("t") == 16)
    // clone AT the pre-rebucket version: its data is 4-bucketed, so its
    // metadata must say 4 or merges prune the wrong buckets and duplicate
    st.cloneTable("t", "cl", version = Some(preRebucket))
    assert(st.bucketsOf("cl") == 4)
    st.merge("cl", (1L to 50L).map(i => (i, "UP")).toDF("id", "v"))
    assert(st.read("cl").count() == 200, "merge of existing keys must not duplicate rows")
    assert(st.read("cl").filter(col("v") === "UP").count() == 50)
    // the rebucketed source is untouched and still merges correctly
    st.merge("t", Seq((7L, "X7")).toDF("id", "v"))
    assert(st.read("t").count() == 200)
  }

  test("rebucket count flip is atomic with the rewrite commit (manifest header)") {
    val st = freshStore()
    st.createTable("t", schema, keys = Seq("id"))
    st.append("t", (1L to 100L).map(i => (i, s"v$i")).toDF("id", "v"))
    st.rebucket("t", 8)
    val v = st.currentVersion("t")
    // the new count lives in the new version's manifest — the commit point —
    // not in a file flipped before the rewrite ran
    val manifestTxt = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(st.root, "t", "_versions", f"v$v%08d")), "UTF-8")
    assert(manifestTxt.contains("#buckets\t8"))
    val prevTxt = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(st.root, "t", "_versions", f"v${v - 1}%08d")), "UTF-8")
    assert(prevTxt.contains("#buckets\t4"),
      "pre-rebucket manifest must still carry the old count a crash would roll back to")
  }

  test("renameColumn heals crashed change-batch rewrites from .bak/.tmp leftovers") {
    val st = freshStore()
    st.createTable("t", schema, keys = Seq("id"))
    st.append("t", Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"))
    val stm = ChangeStream.create(st, "t", "s1")
    // a DELETE writes its change rows as a `_changes` batch (an APPEND
    // marks its data batch instead)
    st.delete("t", col("id") =!= 3L)
    // simulate a crash between `orig -> .bak` and `tmp -> orig`: the batch
    // dir is gone, .bak holds the original, .tmp may be incomplete
    // resolve the token-named change batch through the manifest pointer
    val chDir = java.nio.file.Paths.get(
      st.changesDirOf("t", 2L).get.toUri.getPath)
    val bak = java.nio.file.Paths.get(chDir.toString + ".bak")
    java.nio.file.Files.move(chDir, bak)
    val tmp = java.nio.file.Paths.get(chDir.toString + ".tmp")
    java.nio.file.Files.createDirectories(tmp) // incomplete tmp leftover
    st.renameColumn("t", "v", "val")
    assert(!java.nio.file.Files.exists(bak) && !java.nio.file.Files.exists(tmp))
    stm.consume { ch =>
      val rows = ch.orderBy("id").collect()
      assert(rows.map(_.getAs[String]("val")).toSeq == Seq("a", "b"),
        "healed batch must surface original values under the renamed column")
    }
  }

  test("CLUSTER BY tables prune row groups on the clustering key") {
    // small row groups so the 200k-row table spans many of them — the
    // pruning granularity Snowflake's micro-partitions give for free
    def mkStore() = new TableStore(spark,
      Files.createTempDirectory("graft_store").toString,
      numBuckets = 2, parquetBlockSize = 64L * 1024)
    val n = 200000
    // v is hash-scattered relative to generation order: only an explicit
    // CLUSTER BY sort makes per-row-group min/max spans tight
    val df = (0 until n)
      .map(i => (i.toLong, (i * 2654435761L) % 1000003L, "x" * 32))
      .toDF("id", "v", "pad")
    val clustered = mkStore()
    clustered.createTable("t", df.schema, keys = Seq("id"), clusterBy = Seq("v"))
    clustered.append("t", df)
    assert(clustered.clusterByOf("t") == Seq("v"))
    val plain = mkStore()
    plain.createTable("t", df.schema, keys = Seq("id"))
    plain.append("t", df)
    def readCount(s: TableStore): Long = recordsReadDuring {
      s.read("t").filter(col("v") >= 1000L && col("v") < 3000L)
        .agg(org.apache.spark.sql.functions.count(lit(1))).collect()
    }
    val (cRead, pRead) = (readCount(clustered), readCount(plain))
    // same query, same data: the clustered table must skip the vast
    // majority of row groups; the unclustered one reads ~everything
    assert(pRead > (n * 9L) / 10,
      s"scattered table should read ~all rows, read $pRead")
    assert(cRead * 5 < pRead,
      s"clustered scan must prune row groups: clustered=$cRead plain=$pRead")
    // results are identical either way
    assert(clustered.read("t").filter(col("v") < 1000L).count() ==
      plain.read("t").filter(col("v") < 1000L).count())

    // footer-only clustering audit: many row groups per file, and
    // within each file the groups cover DISJOINT ascending key ranges
    // (that disjointness IS what the pruning above measured)
    val info = clustered.clusteringInfo("t")
      .collect().map(r => ((r.getInt(0), r.getString(1)), r.getInt(2),
        r.getString(4).toLong, r.getString(5).toLong)).toSeq
    assert(info.size > 10, s"expected many row groups, got ${info.size}")
    // key by (bucket, file): the two buckets' files share a basename
    info.groupBy(_._1).foreach { case (f, gs) =>
      val sorted = gs.sortBy(_._2)
      sorted.sliding(2).foreach {
        case Seq((_, _, _, max1), (_, _, min2, _)) =>
          assert(min2 >= max1, s"file $f: row-group ranges must be disjoint")
        case _ =>
      }
    }
    // unclustered tables have no audit to give
    val e = intercept[IllegalArgumentException](plain.clusteringInfo("t"))
    assert(e.getMessage.contains("no clustering key"))
  }

  test("CLUSTER BY on a TIMESTAMP_NTZ key prunes via the derived day column") {
    def mkStore() = new TableStore(spark,
      Files.createTempDirectory("graft_store").toString,
      numBuckets = 2, parquetBlockSize = 64L * 1024)
    val n = 200000
    val base = java.time.LocalDateTime.of(2024, 1, 1, 0, 0)
    // timestamps hash-scattered over ~200 days: only the CLUSTER BY sort
    // makes row-group spans tight
    val df = (0 until n)
      .map(i => (i.toLong,
        base.plusSeconds((i * 2654435761L) % (200L * 86400)), "x" * 32))
      .toDF("id", "ts", "pad")
    assert(df.schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampNTZType)
    val clustered = mkStore()
    // the user's DDL clusters on the NTZ column ITSELF — the derived
    // __graft_day_ts companion + NtzDayPrune make it prune anyway
    clustered.createTable("t", df.schema, keys = Seq("id"), clusterBy = Seq("ts"))
    clustered.append("t", df)
    val plain = mkStore()
    plain.createTable("t", df.schema, keys = Seq("id"))
    plain.append("t", df)
    val lo = base.plusDays(100)
    val hi = base.plusDays(104)
    def query(s: TableStore) =
      s.read("t").filter(col("ts") >= lit(lo) && col("ts") < lit(hi))
    def readCount(s: TableStore): Long = recordsReadDuring {
      query(s).agg(org.apache.spark.sql.functions.count(lit(1))).collect()
    }
    // the derived column stays hidden from the declared surface
    assert(!clustered.read("t").schema.fieldNames.exists(_.startsWith("__graft_day")))
    // the rewritten day predicate reaches the parquet scan
    val explained = query(clustered).queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(explained.contains("__graft_day_ts"),
      s"NTZ range predicate must gain a pushed day-column conjunct:\n$explained")
    val (cRead, pRead) = (readCount(clustered), readCount(plain))
    assert(pRead > (n * 9L) / 10,
      s"scattered table should read ~all rows, read $pRead")
    assert(cRead * 5 < pRead,
      s"NTZ-clustered scan must prune row groups: clustered=$cRead plain=$pRead")
    assert(query(clustered).count() == query(plain).count())

    // legacy coexistence: files written BEFORE the key was declared lack
    // the day column — declaring it afterwards must not corrupt reads
    // (the IS NULL arm / per-file filter re-derivation keep all rows),
    // and a compact() rewrites them into pruning shape
    val legacy = mkStore()
    legacy.createTable("t", df.schema, keys = Seq("id"))
    legacy.append("t", df)
    val exact = query(legacy).count()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(legacy.root, "t", "_cluster"), "ts")
    assert(legacy.clusterByOf("t") == Seq("ts"))
    assert(query(legacy).count() == exact,
      "pre-derivation files must read correctly under the declared NTZ key")
    legacy.compact("t")
    assert(query(legacy).count() == exact)
    val legacyRead = readCount(legacy)
    assert(legacyRead * 5 < pRead,
      s"compacted legacy table must prune like a born-clustered one: $legacyRead")
  }

  test("ZORDER clustering prunes row groups on BOTH keys; linear only on the lead") {
    def mkStore() = new TableStore(spark,
      Files.createTempDirectory("graft_store").toString,
      numBuckets = 2, parquetBlockSize = 64L * 1024)
    val n = 200000
    // two independent uniform dims (hash-scattered so arrival order
    // carries no locality) + padding to get many row groups
    val df = (0 until n).map { i =>
      val x = ((i * 2654435761L) % 10000).toInt
      val y = ((i * 0x9e3779b97f4a7c15L) % 10000).toInt.abs
      (i.toLong, x, y, "x" * 32)
    }.toDF("id", "x", "y", "pad")
    val zs = mkStore()
    zs.createTable("t", df.schema, keys = Seq("id"),
      clusterBy = Seq("x", "y"), zorder = true)
    zs.append("t", df)
    val ls = mkStore()
    ls.createTable("t", df.schema, keys = Seq("id"), clusterBy = Seq("x", "y"))
    ls.append("t", df)

    def readCount(s: TableStore, cond: org.apache.spark.sql.Column): Long =
      recordsReadDuring {
        s.read("t").filter(cond).agg(count(lit(1))).collect()
      }
    val onY = col("y") >= 4000 && col("y") < 4600   // 6% slice, non-lead key
    val onX = col("x") >= 4000 && col("x") < 4600   // 6% slice, lead key
    // results identical regardless of layout
    assert(zs.read("t").filter(onY).count() == ls.read("t").filter(onY).count())
    val (zY, lY) = (readCount(zs, onY), readCount(ls, onY))
    val (zX, lX) = (readCount(zs, onX), readCount(ls, onX))
    // lexicographic (x,y): y scatters across the whole range within every
    // x — a y-filter reads ~everything; the z-curve constrains y's high
    // bits in every contiguous run, so the same filter prunes hard
    assert(lY > (n * 8L) / 10, s"linear layout should scan ~all rows on y: $lY")
    assert(zY * 3 < lY, s"zorder must prune on the non-lead key: z=$zY linear=$lY")
    // both layouts prune on the lead key (linear prunes tighter — the
    // declared z-order trade)
    assert(lX * 5 < n, s"linear must prune on the lead key: $lX")
    assert(zX * 3 < n, s"zorder must still prune on the lead key: $zX")
    // the hidden z column stays off the declared surface
    assert(!zs.read("t").schema.fieldNames.contains("__graft_z"))
    assert(zs.zorderOf("t") && !ls.zorderOf("t"))

    // ALTER ... CLUSTER BY ZORDER on an existing linear table re-lays it out
    ls.recluster("t", Seq("x", "y"), zorder = true)
    val lY2 = readCount(ls, onY)
    assert(lY2 * 3 < lY, s"reclustered-to-zorder table must prune on y: $lY2 vs $lY")

    // strings are rejected with a clear error
    val e = intercept[IllegalArgumentException] {
      mkStore().createTable("s", df.schema, keys = Seq("id"),
        clusterBy = Seq("pad"), zorder = true)
    }
    assert(e.getMessage.contains("ZORDER"))
  }

  test("ZValue native expression: byte-identical to the UDF it replaced, no UDF in the plan") {
    val store = freshStore()
    // doubles (one nullable) so the monotone image is the identity cast
    // and the spec can recompute the same cut points zValueColumn does
    val df = (0 until 2048).map { i =>
      (i.toLong, (i * 37 % 1000).toDouble,
        if (i % 11 == 0) null else java.lang.Double.valueOf((i * 0.61803) % 97.0))
    }.toDF("id", "x", "y")
    val zCol = store.zValueColumn(df, Seq("x", "y"))
    // the retired UDF, replayed verbatim against identical bounds
    val probs = (1 until 256).map(_ / 256.0).toArray
    val bounds = df.select(col("x").cast("double").as("__zq_0"),
        col("y").cast("double").as("__zq_1"))
      .stat.approxQuantile(Array("__zq_0", "__zq_1"), probs, 0.001)
    val zf = udf { xs: Seq[java.lang.Double] =>
      val ranks = new Array[Int](2)
      var j = 0
      while (j < 2) {
        val x = xs(j)
        ranks(j) =
          if (x == null || bounds(j).isEmpty) 0
          else {
            var lo = 0; var hi = bounds(j).length
            while (lo < hi) {
              val mid = (lo + hi) >>> 1
              if (bounds(j)(mid) <= x) lo = mid + 1 else hi = mid
            }
            lo
          }
        j += 1
      }
      var z = 0L
      var bit = 7
      while (bit >= 0) {
        j = 0
        while (j < 2) { z = (z << 1) | ((ranks(j) >> bit) & 1); j += 1 }
        bit -= 1
      }
      z
    }
    val native = df.select(col("id"), zCol.as("z")).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val replica = df.select(col("id"),
        zf(array(col("x").cast("double"), col("y").cast("double"))).as("z"))
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(native == replica, "native interleave must be byte-identical to the UDF")
    assert(native.map(_._2).distinct.size > 100, "fixture must spread z values")
    // the write path's plan carries NO Scala UDF anymore
    val plan = df.select(zCol.as("z")).queryExecution.analyzed
    assert(!plan.expressions.exists(_.exists(
        _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.ScalaUDF])),
      "zorder write plan must not contain a ScalaUDF")
  }

  test("scanWhere prunes files from manifest stats before any footer is opened") {
    val store = freshStore()
    val sch = StructType(Seq(
      StructField("id", LongType), StructField("day", DateType),
      StructField("ts", TimestampNTZType), StructField("grp", StringType),
      StructField("amt", DecimalType(12, 2)), StructField("note", StringType)))
    store.createTable("t", sch, keys = Seq("id"))
    val base = java.time.LocalDate.of(2024, 1, 1)
    // time-correlated ingest: 8 appends, each a disjoint 10-day window —
    // the arrival order a 100 TB fact table actually has
    (0 until 8).foreach { b =>
      val rows = (0 until 500).map { i =>
        val d = base.plusDays(b * 10 + i % 10)
        (b * 500L + i, java.sql.Date.valueOf(d), d.atStartOfDay(),
          s"g$b", BigDecimal(b * 1000 + i).setScale(2),
          if (b == 3 && i % 7 == 0) null else s"n$i")
      }
      store.append("t", rows.toDF("id", "day", "ts", "grp", "amt", "note"))
    }
    val all = store.read("t")
    val allFiles = all.inputFiles.length
    assert(allFiles >= 8, s"expected >=1 file per batch, got $allFiles")

    def check(cond: org.apache.spark.sql.Column, maxFrac: Double): Unit = {
      val pruned = store.scanWhere("t", cond)
      val expected = all.filter(cond).orderBy("id").collect().toSeq
      assert(pruned.orderBy("id").collect().toSeq == expected,
        s"scanWhere result must match unpruned filter for $cond")
      val n = pruned.inputFiles.length
      assert(n <= (allFiles * maxFrac).ceil.toInt,
        s"$cond should prune: $n of $allFiles files survived")
    }

    // long range → 1 batch; date range; NTZ range (file-level, no parquet
    // NTZ stat-prune involved); string equality; IN; decimal range
    check(col("id") >= 1000L && col("id") < 1500L, 0.2)
    check(col("day") === lit(java.sql.Date.valueOf(base.plusDays(35))), 0.2)
    check(col("ts") >= lit(base.plusDays(50).atStartOfDay()) &&
      col("ts") < lit(base.plusDays(60).atStartOfDay()), 0.2)
    check(col("grp") === "g6", 0.2)
    check(col("grp").isin("g0", "g7"), 0.3)
    check(col("amt") >= lit(BigDecimal(5000).setScale(2)) &&
      col("amt") < lit(BigDecimal(6000).setScale(2)), 0.2)
    check(col("note").isNull, 0.2) // only batch 3 carries nulls
    check(col("grp").startsWith("g5"), 0.2)

    // unprovable predicates keep everything and stay correct
    val weird = store.scanWhere("t", length(col("grp")) === 2)
    assert(weird.count() == all.filter(length(col("grp")) === 2).count())

    // a legacy batch without a sidecar is always kept, never wrong
    val root = new org.apache.hadoop.fs.Path(store.root)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val batchDirs = fs.listStatus(new org.apache.hadoop.fs.Path(root, "t/data"))
    fs.delete(new org.apache.hadoop.fs.Path(batchDirs.head.getPath, "_graft_stats"), false)
    val afterDelete = store.scanWhere("t", col("id") >= 1000L && col("id") < 1500L)
    assert(afterDelete.orderBy("id").collect().toSeq ==
      all.filter(col("id") >= 1000L && col("id") < 1500L).orderBy("id").collect().toSeq)
  }

  test("scanWhere string bounds compare as unsigned UTF-8 bytes") {
    val store = freshStore()
    store.createTable("t", StructType(Seq(
      StructField("id", LongType), StructField("s", StringType))), keys = Seq("id"))
    // one batch entirely below 'm', one above (incl. non-ASCII above BMP)
    store.append("t", Seq((1L, "alpha"), (2L, "beta")).toDF("id", "s"))
    store.append("t", Seq((3L, "omega"), (4L, "😀emoji")).toDF("id", "s"))
    val q = store.scanWhere("t", col("s") >= "z")
    assert(q.collect().map(_.getLong(0)).toSet == Set(4L)) // emoji sorts above 'z' in UTF-8
    assert(q.inputFiles.length < store.read("t").inputFiles.length)
  }

  test("scanWhere candidates come from the sidecar inventory, not a listStatus sweep") {
    // the sidecar is written from the exact post-write file listing and
    // batches are immutable after commit, so the candidate list is pure
    // driver-held metadata. Proof without counters: plant a parquet file
    // on disk that the sidecar does not know — a listStatus-driven scan
    // would pick it up, the sidecar-driven scan must not. Deleting the
    // sidecar (legacy batch) falls back to the listing and sees it.
    val store = freshStore()
    store.createTable("t", StructType(Seq(
      StructField("id", LongType), StructField("x", LongType))), keys = Seq("id"))
    store.append("t", (0L until 100L).map(i => (i, i)).toDF("id", "x"))
    val root = new org.apache.hadoop.fs.Path(store.root)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val batch = fs.listStatus(new org.apache.hadoop.fs.Path(root, "t/data")).head.getPath
    val bucket = fs.listStatus(batch)
      .filter(_.getPath.getName.startsWith("__bucket=")).head.getPath
    val existing = fs.listStatus(bucket)
      .filter(_.getPath.getName.endsWith(".parquet")).head.getPath
    val planted = new org.apache.hadoop.fs.Path(bucket, "part-99999-planted.parquet")
    org.apache.hadoop.fs.FileUtil.copy(fs, existing, fs, planted, false,
      spark.sparkContext.hadoopConfiguration)
    val q = store.scanWhere("t", col("x") >= 0L)
    assert(!q.inputFiles.exists(_.contains("planted")),
      "sidecar-driven candidates must ignore files outside the inventory")
    fs.delete(new org.apache.hadoop.fs.Path(batch, "_graft_stats"), false)
    val legacy = store.scanWhere("t", col("x") >= 0L)
    assert(legacy.inputFiles.exists(_.contains("planted")),
      "legacy sidecar-less batches must fall back to the directory listing")
  }

  test("scanWhere: a truncated or incomplete sidecar degrades to the listing, never drops files") {
    // the sidecar is the batch's authoritative inventory, so a partial
    // flush (non-atomic writer) or a truncation exactly on a line
    // boundary must NOT silently exclude committed files from scans —
    // the integrity sentinel (files=<n> header + #end trailer) detects
    // both and falls back to the conservative directory listing
    val store = freshStore()
    store.createTable("t", StructType(Seq(
      StructField("id", LongType), StructField("x", LongType))), keys = Seq("id"))
    store.append("t", (0L until 2000L).map(i => (i, i)).toDF("id", "x"))
    val root = new org.apache.hadoop.fs.Path(store.root)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val batch = fs.listStatus(new org.apache.hadoop.fs.Path(root, "t/data")).head.getPath
    val sidecar = new org.apache.hadoop.fs.Path(batch, "_graft_stats")
    def readLines(): Seq[String] = {
      val in = fs.open(sidecar)
      val s = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
      s.split("\n").toIndexedSeq
    }
    def writeLines(ls: Seq[String]): Unit = {
      val out = fs.create(sidecar, true)
      try out.write(ls.mkString("\n").getBytes("UTF-8")) finally out.close()
    }
    val full = readLines()
    assert(full.head.startsWith("#graft_stats files=") && full.last == "#end",
      s"sidecar must carry the integrity sentinel, got head=${full.head} last=${full.last}")
    val nInv = full.head.stripPrefix("#graft_stats files=").trim.toInt
    assert(nInv > 1, s"need a multi-file batch to prove fallback, got $nInv")
    val allFiles = store.read("t").inputFiles.toSet
    val cond = col("x") >= 0L // matches everything: any dropped file loses rows

    // (1) truncated exactly on a line boundary (loses #end + tail lines)
    writeLines(full.dropRight(full.length / 2))
    val truncated = store.scanWhere("t", cond)
    assert(truncated.inputFiles.toSet == allFiles,
      "truncated sidecar must fall back to the full listing")
    assert(truncated.count() == 2000L)

    // (2) #end intact but an inventory entry missing (count mismatch)
    val firstRel = full(1).split("\t")(0)
    writeLines(full.filterNot(_.startsWith(firstRel + "\t")))
    val holed = store.scanWhere("t", cond)
    assert(holed.inputFiles.toSet == allFiles,
      "inventory/count mismatch must fall back to the full listing")

    // (3) a pre-sentinel (headerless) sidecar still parses and prunes
    writeLines(full.slice(1, full.length - 1))
    val legacy = store.scanWhere("t", col("id") < 0L)
    assert(legacy.inputFiles.isEmpty,
      "legacy headerless sidecar should still drive pruning")

    // (3b) headerless sidecars are STATS-ONLY: the pre-sentinel writer
    // omitted files whose footers yielded no usable stats, so a file
    // ABSENT from a headerless sidecar must still be scanned — the
    // inventory comes from the directory listing, the stats only prune
    // files they do describe
    writeLines(full.slice(1, full.length - 1)
      .filterNot(_.startsWith(firstRel + "\t")))
    val statsOnly = store.scanWhere("t", cond)
    assert(statsOnly.inputFiles.toSet == allFiles,
      "headerless sidecar must take its inventory from the listing")
    assert(statsOnly.count() == 2000L)

    // (4) intact sentinel prunes as before
    writeLines(full)
    assert(store.scanWhere("t", col("id") < 0L).inputFiles.isEmpty)
  }

  test("scanWhere double pruning is sound on ±0.0 and NaN") {
    // the two places java.lang.Double.compare diverges from Spark row
    // equality: -0.0 < 0.0 (Spark: equal) and NaN (Spark: largest value,
    // NaN = NaN true; parquet-mr suppresses a NaN group's double bounds
    // with numNulls = 0) — each silently lost rows before the fix
    val store = freshStore()
    store.createTable("t", StructType(Seq(
      StructField("id", LongType), StructField("v", DoubleType))), keys = Seq("id"))
    store.append("t", Seq((1L, 0.0), (2L, 0.0)).toDF("id", "v"))    // min=max=+0.0
    store.append("t", Seq((3L, -0.0), (4L, -0.0)).toDF("id", "v"))  // min=max=-0.0
    store.append("t", Seq((5L, 1.0), (6L, Double.NaN)).toDF("id", "v")) // bounds suppressed
    store.append("t", Seq((7L, 100.0), (8L, 200.0)).toDF("id", "v"))
    val all = store.read("t")
    def sameRows(cond: org.apache.spark.sql.Column): Unit = assert(
      store.scanWhere("t", cond).orderBy("id").collect().toSeq ==
        all.filter(cond).orderBy("id").collect().toSeq,
      s"scanWhere lost rows under $cond")
    sameRows(col("v") === 0.0)        // ids 1-4: both zero batches match
    sameRows(col("v") === -0.0)       // same four rows
    sameRows(col("v") === Double.NaN) // id 6: the bounds-suppressed batch
    sameRows(col("v") > 150.0)        // ids 6 (NaN sorts largest) and 8
    sameRows(col("v") <= 0.0)
    // conservatism didn't kill pruning where it IS sound: a zero-equality
    // scan still drops the [100, 200] batch
    assert(store.scanWhere("t", col("v") === 0.0).inputFiles.length <
      all.inputFiles.length, "sound double pruning must still prune")
  }

  test("API merge with the default SET keeps matched rows' autoincrement key and DEFAULT") {
    val store = freshStore()
    val sch = StructType(Seq(StructField("sk", LongType), StructField("id", StringType),
      StructField("v", StringType), StructField("added_ts", TimestampType)))
    store.createTable("dh", sch, keys = Seq("id"),
      defaults = Map("added_ts" -> "current_timestamp()"), autoInc = Seq("sk"))
    store.merge("dh", Seq(("a", "1"), ("b", "2")).toDF("id", "v"))
    def row(id: String) = store.read("dh").filter($"id" === id)
      .select("sk", "v", "added_ts").as[(Long, String, java.sql.Timestamp)].head()
    val a0 = row("a")
    Thread.sleep(20) // a reset added_ts would differ
    store.merge("dh", Seq(("a", "1b"), ("c", "3")).toDF("id", "v"))
    assert(row("a") == ((a0._1, "1b", a0._3)), "matched row keeps its key and DEFAULT")
    val c = row("c")
    assert(c._1 == 3L && c._3 != null, "inserted row gets a fresh key and its DEFAULT")
  }
}
