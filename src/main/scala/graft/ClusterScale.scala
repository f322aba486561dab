package graft

import org.apache.spark.sql.functions._

import graft.store.TableStore

/** Scale proof for CLUSTER BY row-group pruning: load a large lineitem
  * into two store tables — one clustered on the ship-date DATE
  * derivative `l_shipday`, one not — and
  * measure, for the same selective ship-date range scan, how many
  * records each table actually reads (spark input metrics) and how long
  * the scan takes. The clustered table's files are ship-date-sorted per
  * bucket, so parquet row-group min/max stats let the reader skip every
  * group outside the range; the unclustered twin's groups all straddle
  * the full date range and nothing prunes. This is the claim SCALE.md
  * makes for clustering keys at 100 TB, executed against real data. Run:
  *
  *   SPARK_GRAFT_SF_DIR=/tmp/sf1 sbt "runMain graft.ClusterScale"
  */
object ClusterScale {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/tmp/sf1")
    val root = sys.env.getOrElse("SPARK_GRAFT_STORE_DIR", "/tmp/graft_cluster_scale")
    val spark = GraftSession.sparkSession(32)

    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(root), true)
    // production-shaped row groups (8 MiB) — the prune granularity a real
    // deployment gets ~16 groups per 128 MiB file
    val store = new TableStore(spark, root, numBuckets = 8,
      parquetBlockSize = 8L * 1024 * 1024)
    // l_shipday: the DATE derivative (stat-prunes natively);
    // l_shipts: a TIMESTAMP_NTZ twin of the ship date — NTZ stats don't
    // prune in this Spark build, so clustering on it exercises the
    // derived __graft_day_* companion + NtzDayPrune rewrite instead
    val li = Tables.load(spark, dir, "lineitem")
      .withColumn("l_shipday", to_date(col("l_shipdate")))
      .withColumn("l_shipts", to_date(col("l_shipdate")).cast("timestamp_ntz"))
    val n = li.count()

    def timed[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
    }
    val records = new java.util.concurrent.atomic.AtomicLong
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (te.taskMetrics != null)
          records.addAndGet(te.taskMetrics.inputMetrics.recordsRead)
    }
    def readDuring(f: => Unit): Long = {
      spark.sparkContext.addSparkListener(listener)
      try {
        records.set(0L); f
        var last = -1L; var same = 0
        while (same < 3) {
          Thread.sleep(100)
          val cur = records.get
          if (cur == last) same += 1 else { same = 0; last = cur }
        }
        records.get
      } finally spark.sparkContext.removeSparkListener(listener)
    }

    store.createTable("li_clustered", li.schema, keys = Seq("l_orderkey"),
      clusterBy = Seq("l_shipday"))
    val (_, loadClustered) = timed(store.append("li_clustered", li))
    store.createTable("li_plain", li.schema, keys = Seq("l_orderkey"))
    val (_, loadPlain) = timed(store.append("li_plain", li))
    store.createTable("li_ntz", li.schema, keys = Seq("l_orderkey"),
      clusterBy = Seq("l_shipts"))
    val (_, loadNtz) = timed(store.append("li_ntz", li))

    // a ~2-week slice of a ~7-year range (≈0.5% selectivity)
    val lo = lit("1998-03-01").cast("date")
    val hi = lit("1998-03-15").cast("date")
    def scan(t: String): (Long, Long, Double) = {
      var out = 0L
      var took = 0.0
      val read = readDuring {
        val (o, t2) = timed(store.read(t)
          .filter(col("l_shipday") >= lo && col("l_shipday") < hi)
          .agg(count(lit(1))).head().getLong(0))
        out = o; took = t2
      }
      (read, out, took)
    }
    // the NTZ table is filtered on the NTZ column ITSELF — pruning must
    // come transparently from the derived day column's rewrite
    val ntzLo = java.time.LocalDateTime.of(1998, 3, 1, 0, 0)
    val ntzHi = java.time.LocalDateTime.of(1998, 3, 15, 0, 0)
    def scanNtz(): (Long, Long, Double) = {
      var out = 0L
      var took = 0.0
      val read = readDuring {
        val (o, t2) = timed(store.read("li_ntz")
          .filter(col("l_shipts") >= lit(ntzLo) && col("l_shipts") < lit(ntzHi))
          .agg(count(lit(1))).head().getLong(0))
        out = o; took = t2
      }
      (read, out, took)
    }
    scan("li_clustered"); scan("li_plain"); scanNtz() // warm all paths once
    val (cRead, cRows, cSec) = scan("li_clustered")
    val (pRead, pRows, pSec) = scan("li_plain")
    val (nRead, nRows, nSec) = scanNtz()
    require(cRows == pRows, s"results must match: $cRows vs $pRows")
    require(nRows == pRows, s"NTZ results must match: $nRows vs $pRows")
    println(f"CLUSTERSCALE rows=$n%d matched=$cRows%d " +
      f"loadClustered=$loadClustered%.1fs loadPlain=$loadPlain%.1fs " +
      f"loadNtz=$loadNtz%.1fs " +
      f"clusteredRead=$cRead%d plainRead=$pRead%d ntzRead=$nRead%d " +
      f"pruneFactor=${pRead.toDouble / math.max(1, cRead)}%.1fx " +
      f"ntzPruneFactor=${pRead.toDouble / math.max(1, nRead)}%.1fx " +
      f"clusteredScan=$cSec%.2fs plainScan=$pSec%.2fs ntzScan=$nSec%.2fs")

    // ---- micro-partition (manifest-stats) FILE pruning ------------------
    // Time-correlated ingest: the same lineitem appended as 12 monthly
    // batches (how a 100 TB fact table actually arrives). scanWhere must
    // serve a 2-week slice from ~1 batch's files WITHOUT opening the
    // other batches' footers; read(t).filter scans everything the
    // row-group tier can't prune (each append is date-sorted only if
    // clustered — here we leave it UNclustered to isolate the file tier).
    store.createTable("li_monthly", li.schema, keys = Seq("l_orderkey"))
    val years = li.select(year(col("l_shipday")).as("y")).distinct()
      .collect().map(_.getInt(0)).sorted
    years.foreach { y => // yearly arrival batches — bounded count at any SF
      store.append("li_monthly", li.filter(year(col("l_shipday")) === y))
    }
    // three arms: scanWhere; the same plain read(t).filter (the
    // SidecarPrune optimizer rule prunes both to the same file set); and
    // a plain parquet read of the manifest's bucket dirs, which the rule
    // never touches, as the true unpruned baseline
    def scanMonthly(mode: String): (Long, Long, Double, Int) = {
      val cond = col("l_shipday") >= lo && col("l_shipday") < hi
      val df = mode match {
        case "scanWhere" => store.scanWhere("li_monthly", cond)
        case "off" => spark.read.schema(store.schemaOf("li_monthly")).parquet(store
          .readManifest("li_monthly", store.currentVersion("li_monthly")).map(_._2): _*).filter(cond)
        case _ => store.read("li_monthly").filter(cond)
      }
      var out = 0L; var took = 0.0
      val read = readDuring {
        val (o, t2) = timed(df.agg(count(lit(1))).head().getLong(0))
        out = o; took = t2
      }
      (read, out, took, df.inputFiles.length)
    }
    scanMonthly("scanWhere"); scanMonthly("off") // warm
    val (mpRead, mpRows, mpSec, mpFiles) = scanMonthly("scanWhere")
    val (mtRead, mtRows, mtSec, mtFiles) = scanMonthly("transparent")
    val (muRead, muRows, muSec, muFiles) = scanMonthly("off")
    require(mpRows == muRows, s"scanWhere must match: $mpRows vs $muRows")
    require(mtRows == muRows, s"transparent prune must match: $mtRows vs $muRows")
    require(mtFiles == mpFiles,
      s"transparent prune must serve scanWhere's file set: $mtFiles vs $mpFiles")
    println(f"CLUSTERSCALE_FILES files=$muFiles%d keptFiles=$mpFiles%d " +
      f"filePrune=${muFiles.toDouble / math.max(1, mpFiles)}%.1fx " +
      f"transparentKept=$mtFiles%d transparentRead=$mtRead%d " +
      f"prunedRead=$mpRead%d unprunedRead=$muRead%d " +
      f"prunedScan=$mpSec%.2fs transparentScan=$mtSec%.2fs unprunedScan=$muSec%.2fs")

    // ---- point-lookup BLOOM pruning (search optimization) ----------------
    // A hash-scattered surrogate id: uniform within EVERY file, so the
    // interval tier keeps 100% of the files on an equality probe — the
    // shape Snowflake answers with search optimization. The per-file
    // blooms must cut the probe to ~the one holding file + the declared
    // 1% false-positive tail. Interval-only baseline: the SAME point
    // expressed as a closed range (>= v AND <= v) compiles to two range
    // conjuncts the bloom never sees — identical selectivity, interval
    // tier only.
    val liLk = li.withColumn("probe_id", xxhash64(monotonically_increasing_id()))
    store.createTable("li_lookup", liLk.schema, keys = Seq("l_orderkey"),
      lookup = Seq("probe_id"))
    val (_, tLoadLk) = timed {
      years.foreach { y =>
        store.append("li_lookup", liLk.filter(year(col("l_shipday")) === y))
      }
    }
    val probeV = store.read("li_lookup").select("probe_id").head().getLong(0)
    def probe(cond: org.apache.spark.sql.Column): (Long, Int, Double) = {
      val df = store.scanWhere("li_lookup", cond)
      val (rows, took) = timed(df.agg(count(lit(1))).head().getLong(0))
      (rows, df.inputFiles.length, took)
    }
    val totalLkFiles = store.read("li_lookup").inputFiles.length
    probe(col("probe_id") === probeV) // warm
    val (eqRows, eqFiles, eqSec) = probe(col("probe_id") === probeV)
    val (rgRows, rgFiles, rgSec) =
      probe(col("probe_id") >= probeV && col("probe_id") <= probeV)
    val (abRows, abFiles, abSec) = probe(col("probe_id") === (probeV + 1L))
    require(eqRows == rgRows && eqRows >= 1,
      s"bloom probe must match the interval-only range: $eqRows vs $rgRows")
    require(abRows == 0, s"absent probe returned rows: $abRows")
    require(eqFiles < rgFiles,
      s"bloom must beat intervals on a point probe: $eqFiles vs $rgFiles")
    println(f"CLUSTERSCALE_BLOOM files=$totalLkFiles%d intervalKept=$rgFiles%d " +
      f"bloomKept=$eqFiles%d absentKept=$abFiles%d " +
      f"bloomPrune=${rgFiles.toDouble / math.max(1, eqFiles)}%.1fx " +
      f"loadWithBlooms=$tLoadLk%.1fs " +
      f"scans(s) eq=$eqSec%.2f range=$rgSec%.2f absent=$abSec%.2f")

    // ---- auto-compaction cycle: blooms rebuilt, clustering info current ---
    // Continuous ingest under the TABLE-LEVEL policy (ALTER TABLE … SET
    // AUTO_COMPACT): the mid-ingest compaction pass must REBUILD the
    // per-file lookup blooms (not drop them) so point-lookup prune
    // ratios SURVIVE the rewrite, and graft_clustering_info must report
    // the POST-compaction layout (it reads the current manifest). Own
    // mid-size fixture (orders + a hash-scattered probe id, clustered
    // on o_orderdate) so the BLOOM arm's measurements stay untouched.
    val ordAc = Tables.load(spark, dir, "orders")
      .withColumn("probe_id", xxhash64(col("o_orderkey")))
    // yearly ingest batches, years taken FROM the data (the synthetic
    // orders span 1995-2001, not TPC-H's 1992-1998); the policy trips
    // one append before the last, so the cycle runs mid-ingest
    val acYears = ordAc.select(year(col("o_orderdate")).as("y")).distinct()
      .orderBy("y").collect().map(_.getInt(0)).toIndexedSeq
    require(acYears.size >= 3, s"need >= 3 yearly batches, got $acYears")
    store.createTable("ord_ac", ordAc.schema, keys = Seq("o_orderkey"),
      clusterBy = Seq("o_orderdate"), lookup = Seq("probe_id"))
    store.setAutoCompact("ord_ac", Some(math.max(2, acYears.size - 1)))
    val (_, tLoadAc) = timed {
      acYears.foreach { y =>
        store.append("ord_ac", ordAc.filter(year(col("o_orderdate")) === y))
      }
    }
    val acBatches = store.batchCount("ord_ac")
    require(acBatches < acYears.size,
      s"the AUTO_COMPACT policy must have compacted mid-ingest: $acBatches")
    val acFiles = store.read("ord_ac").inputFiles.length
    val acProbeV = store.read("ord_ac").select("probe_id").head().getLong(0)
    def acProbe(cond: org.apache.spark.sql.Column): (Long, Int, Double) = {
      val df = store.scanWhere("ord_ac", cond)
      val (rows, took) = timed(df.agg(count(lit(1))).head().getLong(0))
      (rows, df.inputFiles.length, took)
    }
    acProbe(col("probe_id") === acProbeV) // warm
    val (acEqRows, acEqFiles, acEqSec) = acProbe(col("probe_id") === acProbeV)
    val (acRgRows, acRgFiles, acRgSec) =
      acProbe(col("probe_id") >= acProbeV && col("probe_id") <= acProbeV)
    require(acEqRows == acRgRows && acEqRows >= 1,
      s"post-compaction bloom probe must match the interval range: $acEqRows vs $acRgRows")
    require(acEqFiles < acRgFiles,
      "blooms must survive the auto-compaction rewrite: point probe kept " +
        s"$acEqFiles of interval-tier $acRgFiles")
    // graft_clustering_info reads the CURRENT manifest: its file set is
    // exactly the post-compaction layout, rows conserved
    val ci = store.clusteringInfo("ord_ac")
      .agg(countDistinct(col("bucket"), col("file")).as("files"),
        sum(col("n_rows")).as("rows"))
      .head()
    val ordN = ordAc.count()
    require(ci.getLong(1) == ordN,
      s"clustering_info must cover the full post-compaction table: ${ci.getLong(1)} vs $ordN")
    require(ci.getLong(0) == acFiles,
      s"clustering_info must report the post-compaction file layout: ${ci.getLong(0)} vs $acFiles")
    println(f"CLUSTERSCALE_AUTOCOMPACT batches=$acBatches%d files=$acFiles%d " +
      f"intervalKept=$acRgFiles%d bloomKept=$acEqFiles%d " +
      f"bloomPrune=${acRgFiles.toDouble / math.max(1, acEqFiles)}%.1fx " +
      f"ciFiles=${ci.getLong(0)}%d ciRows=${ci.getLong(1)}%d load=$tLoadAc%.1fs " +
      f"scans(s) eq=$acEqSec%.2f range=$acRgSec%.2f")

    // ---- dynamic JOIN-KEY file pruning ------------------------------------
    // The star shape: the yearly-batched fact joined to a SMALL build
    // side of ~2 weeks of ship dates — NO literal predicate ever touches
    // the fact table, yet only one year-batch's files can hold matching
    // keys. JoinKeyPrune collects the build side's distinct dates at
    // plan time and prunes fact FILES through the same sidecar tests;
    // the kill switch gives the unpruned baseline, and the aggregate
    // must match it exactly.
    val dimDates = spark.range(0, 14)
      .select(date_add(lo, col("id").cast("int")).as("l_shipday"),
        (col("id") % 3).as("bucket3"))
    def starScan(on: Boolean): (Long, Long, Double, Int) = {
      if (!on) spark.conf.set(graft.store.JoinKeyPrune.EnabledConf, "false")
      try {
        val df = store.read("li_monthly").join(dimDates, Seq("l_shipday"))
          .agg(count(lit(1)).as("n"),
            sum(col("l_quantity").cast("decimal(20,2)")).as("q"))
        var out = 0L; var took = 0.0; var qsum = BigDecimal(0)
        val read = readDuring {
          val (r, t2) = timed(df.head())
          out = r.getLong(0); qsum = BigDecimal(r.getDecimal(1)); took = t2
        }
        val files = df.queryExecution.optimizedPlan.collect {
          case l: org.apache.spark.sql.execution.datasources.LogicalRelation
              if l.relation
                .isInstanceOf[org.apache.spark.sql.execution.datasources.HadoopFsRelation] =>
            l.relation
              .asInstanceOf[org.apache.spark.sql.execution.datasources.HadoopFsRelation]
              .location.inputFiles.length
        }.sum
        require(out == 0L || qsum.signum != 0, "sanity: join produced rows")
        (read, out, took, files)
      } finally spark.conf.set(graft.store.JoinKeyPrune.EnabledConf, "true")
    }
    starScan(true); starScan(false) // warm
    val (jpRead, jpRows, jpSec, jpFiles) = starScan(true)
    val (juRead, juRows, juSec, juFiles) = starScan(false)
    require(jpRows == juRows,
      s"join-key prune must not change the join: $jpRows vs $juRows")
    require(jpFiles < juFiles,
      s"star join must read fewer fact files: $jpFiles vs $juFiles")
    println(f"CLUSTERSCALE_JOINPRUNE factFiles=$juFiles%d keptFiles=$jpFiles%d " +
      f"joinPrune=${juFiles.toDouble / math.max(1, jpFiles)}%.1fx rows=$jpRows%d " +
      f"prunedRead=$jpRead%d unprunedRead=$juRead%d " +
      f"prunedScan=$jpSec%.2fs unprunedScan=$juSec%.2fs")

    // ---- join pruning, SPAN fallback (build side over the IN budget) ----
    // 8 orderkey-range-disjoint append batches; the build side is 50k
    // CONTIGUOUS candidate keys — over the 10k IN-list budget (so the
    // exact-keys probe gives up) but well under the size gate — so
    // JoinKeyPrune degrades to the [min, max] span probe, and only the
    // one holding batch's files can match. The 2-column orders fact is
    // a ~20 MiB stand-in at sf1, UNDER the production 32 MiB benefit
    // gate (at real scale this shape is TBs) — the arm opens the gate
    // to measure the span mechanics; the JOINPRUNE arm above proves the
    // default config fires on the >100 MiB lineitem fact.
    // gate open ONLY for this arm: a failure anywhere inside must not
    // leak the opened benefit gate into the arms that follow
    spark.conf.set(graft.store.JoinKeyPrune.MinFactBytesConf, "0")
    try {
    val ord = Tables.load(spark, dir, "orders").select("o_orderkey", "o_totalprice")
    val okMax = ord.agg(max("o_orderkey")).head().getLong(0)
    val okStep = okMax / 8 + 1
    store.createTable("ord_ranged", ord.schema, keys = Seq("o_orderkey"))
    val (_, tLoadOrd) = timed {
      (0 until 8).foreach { b =>
        store.append("ord_ranged", ord.filter(col("o_orderkey") >= b * okStep &&
          col("o_orderkey") < (b + 1) * okStep))
      }
    }
    // anchor the 50k-key window at the smallest key INSIDE batch 3's
    // range — ScaleGen's copy strides leave huge gaps in the keyspace,
    // so a blindly-positioned window can hold zero real orders
    val spanLo = ord.filter(col("o_orderkey") >= 3L * okStep)
      .agg(min("o_orderkey")).head().getLong(0)
    val dimSpan = spark.range(spanLo, spanLo + 50000L)
      .select(col("id").as("k"))
    def spanScan(on: Boolean): (Long, Long, Double, Int) = {
      if (!on) spark.conf.set(graft.store.JoinKeyPrune.EnabledConf, "false")
      try {
        val df = store.read("ord_ranged")
          .join(dimSpan, col("o_orderkey") === col("k"))
          .agg(count(lit(1)).as("n"),
            sum(col("o_totalprice").cast("decimal(20,2)")).as("p"))
        var out = 0L; var took = 0.0
        val read = readDuring {
          val (r, t2) = timed(df.head())
          out = r.getLong(0); took = t2
        }
        val files = df.queryExecution.optimizedPlan.collect {
          case l: org.apache.spark.sql.execution.datasources.LogicalRelation
              if l.relation
                .isInstanceOf[org.apache.spark.sql.execution.datasources.HadoopFsRelation] =>
            l.relation
              .asInstanceOf[org.apache.spark.sql.execution.datasources.HadoopFsRelation]
              .location.inputFiles.length
        }.sum
        (read, out, took, files)
      } finally spark.conf.set(graft.store.JoinKeyPrune.EnabledConf, "true")
    }
    spanScan(true); spanScan(false) // warm
    val (spRead, spRows, spSec, spFiles) = spanScan(true)
    val (suRead, suRows, suSec, suFiles) = spanScan(false)
    require(spRows == suRows,
      s"span join prune must not change the join: $spRows vs $suRows")
    require(spRows > 0, "sanity: the span window must hold some orders")
    require(spFiles < suFiles,
      s"span probe must prune range-batched fact files: $spFiles vs $suFiles")
    println(f"CLUSTERSCALE_JOINSPAN factFiles=$suFiles%d keptFiles=$spFiles%d " +
      f"spanPrune=${suFiles.toDouble / math.max(1, spFiles)}%.1fx rows=$spRows%d " +
      f"prunedRead=$spRead%d unprunedRead=$suRead%d load=$tLoadOrd%.1fs " +
      f"prunedScan=$spSec%.2fs unprunedScan=$suSec%.2fs")
    } finally spark.conf.unset(graft.store.JoinKeyPrune.MinFactBytesConf)

    // ---- ZORDER vs linear on two independent dims ------------------------
    // (l_partkey, l_suppkey): neither correlates with arrival order; a
    // lexicographic (partkey, suppkey) sort gives suppkey filters nothing.
    store.createTable("li_linear2", li.schema, keys = Seq("l_orderkey"),
      clusterBy = Seq("l_partkey", "l_suppkey"))
    val (_, loadLin2) = timed(store.append("li_linear2", li))
    store.createTable("li_zorder", li.schema, keys = Seq("l_orderkey"),
      clusterBy = Seq("l_partkey", "l_suppkey"), zorder = true)
    val (_, loadZ) = timed(store.append("li_zorder", li))
    val pkMax = li.agg(max("l_partkey")).head().getLong(0)
    val skMax = li.agg(max("l_suppkey")).head().getLong(0)
    def scan2(t: String, c: org.apache.spark.sql.Column): (Long, Long, Double) = {
      var out = 0L; var took = 0.0
      val read = readDuring {
        val (o, t2) = timed(store.read(t).filter(c)
          .agg(count(lit(1))).head().getLong(0))
        out = o; took = t2
      }
      (read, out, took)
    }
    // ~3% slices on each dim
    val onPk = col("l_partkey") >= pkMax / 2 && col("l_partkey") < pkMax / 2 + pkMax / 32
    val onSk = col("l_suppkey") >= skMax / 2 && col("l_suppkey") < skMax / 2 + skMax / 32
    scan2("li_linear2", onSk); scan2("li_zorder", onSk) // warm
    val (linSk, linSkRows, linSkSec) = scan2("li_linear2", onSk)
    val (zSk, zSkRows, zSkSec) = scan2("li_zorder", onSk)
    val (linPk, _, linPkSec) = scan2("li_linear2", onPk)
    val (zPk, _, zPkSec) = scan2("li_zorder", onPk)
    require(linSkRows == zSkRows, s"zorder results must match: $zSkRows vs $linSkRows")
    println(f"CLUSTERSCALE_ZORDER rows=$n%d loadLinear=$loadLin2%.1fs loadZorder=$loadZ%.1fs " +
      f"suppkeyRead linear=$linSk%d zorder=$zSk%d " +
      f"zGainOnSuppkey=${linSk.toDouble / math.max(1, zSk)}%.1fx " +
      f"partkeyRead linear=$linPk%d zorder=$zPk%d " +
      f"linearLeadAdvantage=${zPk.toDouble / math.max(1, linPk)}%.1fx " +
      f"scans(s) linSk=$linSkSec%.2f zSk=$zSkSec%.2f linPk=$linPkSec%.2f zPk=$zPkSec%.2f")
    spark.stop()
  }
}
