package graftbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.GraftSession

/** etl_ticks: the reference's entity pipelines (item with window dedup
  * into an SCD-1 dim, order raw merge plus INSERT OVERWRITE star-join
  * fact over the item and customer dims), deployed through
  * `GraftSession.sql` over one table store. Set-up lands a seeded history
  * of all three entities; each timed tick lands one seeded delta CSV for
  * one ticked entity, then runs `alter pipe … refresh` and one task-DAG
  * cycle. */
object EtlTicks {

  final case class Sizes(customers: Int, items: Int, orders: Int, deltaItems: Int,
      deltaOrders: Int)

  /** History at sf0.001 shape, deltas of 20 items and 60 orders. A tick's
    * cost is mostly fixed per-job and planning work on the driver, not
    * data volume: an entity tick takes 7-12 s on a 4-core box at this
    * size, and the benchmark's run budget (48 runs in under an hour)
    * cannot carry a larger history's set-up. */
  val Default = Sizes(150, 200, 1500, 20, 60)

  val Entities: Seq[String] = Seq("customer", "item", "order")

  /** Entities whose pipelines tick in the timed phase. The reference's
    * customer pipeline has item's shape (stream-gated raw MERGE, then a
    * dim MERGE from the raw table's stream) without the window dedup, so
    * customer is loaded as history only, to keep a run inside the
    * benchmark's time budget. */
  val Ticked: Seq[String] = Seq("item", "order")
  val StoreTables: Seq[String] = Seq("raw_customer", "dim_customer", "raw_item", "dim_item",
    "raw_order", "fact_order", "task_history")

  private val Salutations = Array("Mr.", "Mrs.", "Ms.", "Dr.", "Sir", "Miss")
  private val FirstNames = Array("Ada", "Nia", "Leo", "Tim", "Ola", "Kemi", "Ivan", "Mei", "Raj", "Zoe")
  private val LastNames = Array("Stone", "Byron", "Euler", "Lee", "Bello", "Okafor", "Novak", "Chen")
  private val Classes = Array("stones", "loose stones", "rings", "pendants", "bracelets", "watches")
  private val Categories = Array("Jewelry", "Home", "Sports", "Books", "Music")
  private val Words = Array("fine", "silver", "gold", "classic", "modern", "small", "large", "blue")

  /** Generator state: the latest written version of every key, which is
    * also the model the end-state audit compares against. */
  final class Model(seed: Long, sz: Sizes) {
    val rnd = new java.util.SplittableRandom(seed)
    val customers = mutable.ArrayBuffer.empty[Array[String]]
    val items = mutable.ArrayBuffer.empty[Array[String]]
    private val itemVersion = mutable.ArrayBuffer.empty[Int]
    val orders = mutable.ArrayBuffer.empty[Array[String]]

    private def pick[A](xs: Array[A]): A = xs(rnd.nextInt(xs.length))
    private def money(lo: Int, hi: Int): String = {
      val cents = lo * 100L + rnd.nextLong((hi - lo) * 100L)
      f"${cents / 100}%d.${cents % 100}%02d"
    }
    private def date(days: Int): String = java.time.LocalDate.of(1997, 1, 1).plusDays(days).toString

    def customerRow(k: Int): Array[String] = Array(f"C$k%08d", pick(Salutations), pick(FirstNames),
      pick(LastNames), (1930 + rnd.nextInt(75)).toString, s"u$k.${rnd.nextInt(1000)}@mail.test",
      if (rnd.nextInt(10) == 0) "N" else "Y")

    def itemRow(k: Int, version: Int): Array[String] = Array(f"I$k%08d",
      s"${pick(Words)} ${pick(Words)} ${pick(Classes)}", date(version),
      if (rnd.nextInt(20) == 0) date(version + 400) else "", money(1, 999),
      pick(Classes), pick(Categories))

    /** Order identity i has a fixed composite key (date, time, customer,
      * item); a restatement changes only its measures. */
    def orderRow(i: Int, cust: Int, item: Int): Array[String] = Array(
      date(i % 730), f"${(i / 730) / 3600 % 24}%02d:${(i / 730) / 60 % 60}%02d:${(i / 730) % 60}%02d",
      f"C$cust%08d", f"I$item%08d", (1 + rnd.nextInt(20)).toString, money(1, 500), money(1, 600))

    def history(): Map[String, Seq[Array[String]]] = {
      (0 until sz.customers).foreach(k => customers += customerRow(k))
      (0 until sz.items).foreach { k => items += itemRow(k, 0); itemVersion += 0 }
      (0 until sz.orders).foreach(i =>
        orders += orderRow(i, rnd.nextInt(sz.customers), rnd.nextInt(sz.items)))
      Map("customer" -> customers.toSeq, "item" -> items.toSeq, "order" -> orders.toSeq)
    }

    private def distinctKeys(n: Int, bound: Int): Seq[Int] = {
      val s = mutable.LinkedHashSet.empty[Int]
      while (s.size < math.min(n, bound)) s += rnd.nextInt(bound)
      s.toSeq
    }

    /** One delta file: ~95% restated keys, ~5% new keys; item files also
    * carry in-file duplicates (a later start_date wins). */
    def delta(entity: String): Seq[Array[String]] = entity match {
      case "item" =>
        val n = sz.deltaItems
        val fresh = math.max(1, n / 20)
        val keys = distinctKeys(n - 2 * fresh, items.length) ++
          (items.length until items.length + fresh)
        val rows = mutable.ArrayBuffer.empty[Array[String]]
        keys.foreach { k =>
          val v = if (k < itemVersion.length) itemVersion(k) + 1 else 0
          val r = itemRow(k, v)
          if (k < items.length) { items(k) = r; itemVersion(k) = v }
          else { items += r; itemVersion += v }
          rows += r
        }
        // duplicates: an older version of some keys, then the new one
        // stays latest because its start_date is the largest in the file
        keys.take(fresh).foreach { k =>
          rows += itemRow(k, itemVersion(k) - 1)
        }
        rows.toSeq
      case "order" =>
        val n = sz.deltaOrders
        val fresh = math.max(1, n / 20)
        val keys = distinctKeys(n - fresh, orders.length) ++ (orders.length until orders.length + fresh)
        keys.map { i =>
          if (i < orders.length) {
            val o = orders(i)
            val r = orderRow(i, o(2).drop(1).toInt, o(3).drop(1).toInt)
            orders(i) = r
            r
          } else {
            val r = orderRow(i, rnd.nextInt(customers.length), rnd.nextInt(items.length))
            orders += r
            r
          }
        }
    }
  }

  val Headers: Map[String, Seq[String]] = Map(
    "customer" -> Seq("customer_id", "salutation", "first_name", "last_name", "birth_year",
      "email", "is_active"),
    "item" -> Seq("item_id", "item_desc", "start_date", "end_date", "price", "item_class",
      "item_category"),
    "order" -> Seq("order_date", "order_time", "customer_id", "item_id", "order_quantity",
      "sale_price", "net_paid"))

  def writeCsv(p: Path, entity: String, rows: Seq[Array[String]]): Long = {
    val sb = new StringBuilder
    sb ++= Headers(entity).map(_.toUpperCase).mkString(",") += '\n'
    rows.foreach(r => sb ++= r.mkString(",") += '\n')
    val tmp = p.resolveSibling("." + p.getFileName)
    Files.writeString(tmp, sb)
    Files.move(tmp, p, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    Files.size(p)
  }

  private def varchar(cols: Seq[String]) = cols.map(c => s"    $c varchar").mkString(",\n")

  /** Tables and pipes of one entity (reference statement shapes). */
  def tablesDdl(e: String): String = e match {
    // stage → raw → SCD-1 dim
    case "customer" => s"""
      |create or replace table stg.stg_customer (
      |${varchar(Headers("customer"))}
      |);
      |create or replace table raw.raw_customer (
      |${varchar(Headers("customer"))}
      |) KEYS (customer_id);
      |create or replace table transformed.dim_customer (
      |    customer_dim_key number autoincrement,
      |    customer_id varchar(18),
      |    salutation varchar(10),
      |    first_name varchar(20),
      |    last_name varchar(30),
      |    birth_year number,
      |    email varchar(50),
      |    added_timestamp timestamp default current_timestamp(),
      |    updated_timestamp timestamp default current_timestamp(),
      |    is_active varchar(1)
      |) KEYS (customer_id);
      |create or replace pipe stg.stg_customer_pipe auto_ingest=true as
      |copy into stg.stg_customer from @landing/customer
      |file_format = (type = 'CSV', skip_header=1, error_on_column_count_mismatch=false);
      |""".stripMargin
    // stage → raw (window dedup of the landed file) → dim
    case "item" => s"""
      |create or replace table stg.stg_item (
      |${varchar(Headers("item"))}
      |);
      |create or replace table raw.raw_item (
      |${varchar(Headers("item"))}
      |) KEYS (item_id);
      |create or replace table transformed.dim_item (
      |    item_dim_key number autoincrement,
      |    item_id varchar(16),
      |    item_desc varchar,
      |    start_date date,
      |    end_date date,
      |    price number(7,2),
      |    item_class varchar(50),
      |    item_category varchar(50),
      |    added_timestamp timestamp default current_timestamp(),
      |    updated_timestamp timestamp default current_timestamp()
      |) KEYS (item_id);
      |create or replace pipe stg.stg_item_pipe auto_ingest=true as
      |copy into stg.stg_item from @landing/item
      |file_format = (type = 'CSV', skip_header=1, error_on_column_count_mismatch=false);
      |""".stripMargin
    // stage → raw merge → INSERT OVERWRITE star-join fact
    case "order" => s"""
      |create or replace table stg.stg_order (
      |${varchar(Headers("order"))}
      |);
      |create or replace table raw.raw_order (
      |    order_date varchar,
      |    order_time varchar,
      |    customer_id varchar,
      |    item_id varchar,
      |    order_quantity number,
      |    sale_price number(10,2),
      |    net_paid number(10,2)
      |) KEYS (order_date, order_time, customer_id, item_id);
      |create or replace table transformed.fact_order (
      |    order_date varchar,
      |    customer_dim_key number,
      |    item_dim_key number,
      |    order_count number,
      |    order_quantity number,
      |    sale_price number(20,2),
      |    net_paid number(20,2)
      |);
      |create or replace pipe stg.stg_order_pipe auto_ingest=true as
      |copy into stg.stg_order from @landing/order
      |file_format = (type = 'CSV', skip_header=1, error_on_column_count_mismatch=false);
      |""".stripMargin
  }

  /** Streams and tasks of one entity: created after the history load, so
    * the streams start empty and the first timed tick is the first cycle. */
  def dagDdl(e: String): String = e match {
    case "item" => s"""
      |create or replace stream stg.stg_item_stm on table stg.stg_item;
      |create or replace stream raw.raw_item_stm on table raw.raw_item;
      |create or replace task transformed.pause_pipe_item
      |  warehouse = bench_wh schedule = '1 minute'
      |when system$$stream_has_data('stg.stg_item_stm')
      |as alter pipe stg.stg_item_pipe set pipe_execution_paused = true;
      |create or replace task transformed.item_raw_tsk
      |  warehouse = bench_wh after transformed.pause_pipe_item
      |when system$$stream_has_data('stg.stg_item_stm')
      |as merge into raw.raw_item using (
      |  select item_id, item_desc, start_date, end_date, price, item_class, item_category
      |  from (select *, row_number() over (partition by item_id order by start_date desc) as rn
      |        from stg.stg_item_stm) where rn = 1) s
      |  on raw_item.item_id = s.item_id
      |when matched then update set
      |  raw_item.item_desc = s.item_desc, raw_item.start_date = s.start_date,
      |  raw_item.end_date = s.end_date, raw_item.price = s.price,
      |  raw_item.item_class = s.item_class, raw_item.item_category = s.item_category
      |when not matched then insert
      |  (item_id, item_desc, start_date, end_date, price, item_class, item_category)
      |  values (s.item_id, s.item_desc, s.start_date, s.end_date, s.price, s.item_class,
      |    s.item_category);
      |create or replace task transformed.dim_item_tsk
      |  warehouse = bench_wh after transformed.item_raw_tsk
      |when system$$stream_has_data('raw.raw_item_stm')
      |as merge into transformed.dim_item using raw.raw_item_stm
      |  on dim_item.item_id = raw_item_stm.item_id
      |when matched then update set
      |  dim_item.item_desc = raw_item_stm.item_desc,
      |  dim_item.start_date = raw_item_stm.start_date,
      |  dim_item.end_date = raw_item_stm.end_date,
      |  dim_item.price = raw_item_stm.price,
      |  dim_item.item_class = raw_item_stm.item_class,
      |  dim_item.item_category = raw_item_stm.item_category,
      |  dim_item.updated_timestamp = current_timestamp()
      |when not matched then insert
      |  (item_id, item_desc, start_date, end_date, price, item_class, item_category)
      |  values (raw_item_stm.item_id, raw_item_stm.item_desc, raw_item_stm.start_date,
      |    raw_item_stm.end_date, raw_item_stm.price, raw_item_stm.item_class,
      |    raw_item_stm.item_category);
      |create or replace task transformed.truncate_staging_table_item
      |  warehouse = bench_wh after transformed.dim_item_tsk
      |as truncate table if exists stg.stg_item;
            |""".stripMargin
    case "order" => s"""
      |create or replace stream stg.stg_order_stm on table stg.stg_order;
      |create or replace task transformed.pause_pipe_order
      |  warehouse = bench_wh schedule = '1 minute'
      |when system$$stream_has_data('stg.stg_order_stm')
      |as alter pipe stg.stg_order_pipe set pipe_execution_paused = true;
      |create or replace task transformed.raw_order_tsk
      |  warehouse = bench_wh after transformed.pause_pipe_order
      |when system$$stream_has_data('stg.stg_order_stm')
      |as merge into raw.raw_order using stg.stg_order_stm
      |  on raw_order.order_date = stg_order_stm.order_date
      |  and raw_order.order_time = stg_order_stm.order_time
      |  and raw_order.customer_id = stg_order_stm.customer_id
      |  and raw_order.item_id = stg_order_stm.item_id
      |when matched then update set
      |  raw_order.order_quantity = stg_order_stm.order_quantity,
      |  raw_order.sale_price = stg_order_stm.sale_price,
      |  raw_order.net_paid = stg_order_stm.net_paid
      |when not matched then insert
      |  (order_date, order_time, customer_id, item_id, order_quantity, sale_price, net_paid)
      |  values (stg_order_stm.order_date, stg_order_stm.order_time, stg_order_stm.customer_id,
      |    stg_order_stm.item_id, stg_order_stm.order_quantity, stg_order_stm.sale_price,
      |    stg_order_stm.net_paid);
      |create or replace task transformed.fact_order_tsk
      |  warehouse = bench_wh after transformed.raw_order_tsk
      |as $FactSql;
      |create or replace task transformed.truncate_staging_table_order
      |  warehouse = bench_wh after transformed.fact_order_tsk
      |as truncate table if exists stg.stg_order;
            |""".stripMargin
  }

  /** The fact rebuild: INSERT OVERWRITE of the star join over raw_order
    * and the current dims. */
  val FactSql: String = """insert overwrite into transformed.fact_order (
    |  order_date, customer_dim_key, item_dim_key, order_count, order_quantity, sale_price,
    |  net_paid)
    |select ro.order_date, dc.customer_dim_key, di.item_dim_key, count(1),
    |  sum(ro.order_quantity), sum(ro.sale_price), sum(ro.net_paid)
    |from raw.raw_order ro
    |  join transformed.dim_customer dc on dc.customer_id = ro.customer_id
    |  join transformed.dim_item di on di.item_id = ro.item_id and di.end_date is null
    |group by ro.order_date, dc.customer_dim_key, di.item_dim_key
    |order by ro.order_date""".stripMargin

  /** The task chain of one entity, root first. */
  def chain(e: String): Seq[String] = e match {
    case "order" => Seq("pause_pipe_order", "raw_order_tsk", "fact_order_tsk",
      "truncate_staging_table_order")
    case _ => Seq(s"pause_pipe_$e", s"${e}_raw_tsk", s"dim_${e}_tsk", s"truncate_staging_table_$e")
  }

  /** History load: the landed history files go through the pipes into the
    * stage tables, then straight into raw, dim and fact with INSERT
    * (customer, which does not tick, into its dim only). The streams are
    * created afterwards, so they start empty; the history rows left in the
    * ticked entities' stage tables go with their first truncate task. */
  def loadHistory(g: GraftSession): Unit = g.sqlScript("""
    |alter pipe stg.stg_customer_pipe refresh;
    |alter pipe stg.stg_item_pipe refresh;
    |alter pipe stg.stg_order_pipe refresh;
    |insert into transformed.dim_customer
    |  (customer_id, salutation, first_name, last_name, birth_year, email, is_active)
    |  select customer_id, salutation, first_name, last_name,
    |    cast(birth_year as decimal(38,0)), email, is_active
    |  from stg.stg_customer;
    |insert into raw.raw_item select * from stg.stg_item;
    |insert into transformed.dim_item
    |  (item_id, item_desc, start_date, end_date, price, item_class, item_category)
    |  select item_id, item_desc, cast(start_date as date), cast(end_date as date),
    |    cast(price as decimal(7,2)), item_class, item_category
    |  from raw.raw_item;
    |insert into raw.raw_order select order_date, order_time, customer_id, item_id,
    |  cast(order_quantity as decimal(38,0)), cast(sale_price as decimal(10,2)),
    |  cast(net_paid as decimal(10,2))
    |  from stg.stg_order;
    |""".stripMargin + FactSql)

  /** Task-name → run-log category. */
  def category(task: String): String =
    if (task.endsWith("_raw_tsk") || task == "raw_order_tsk") "raw_merge"
    else if (task.startsWith("dim_")) "dim_merge"
    else if (task == "fact_order_tsk") "fact_rebuild"
    else if (task.startsWith("truncate_")) "truncate"
    else "gate"

  private final case class Tick(n: Int, entity: String, startNs: Long, endNs: Long,
      startMs: Long, endMs: Long, cpuS: Double, threadCpuS: Double, pipeS: Double, cycleS: Double, hasDataS: Double,
      rows: Int, bytes: Long, traced: Boolean, ok: Boolean) {
    def wall: Double = (endNs - startNs) / 1e9
    def tag: String = s"t$n/$entity"
  }

  def run(a: Args, spark: SparkSession, tr: Tracer, probe: Option[SparkProbe]): Outcome = {
    val sz = Default
    val landing = a.workDir.resolve("landing")
    Entities.foreach(e => Files.createDirectories(landing.resolve(e)))
    val storeRoot = a.workDir.resolve("store")
    // one hash bucket per core, like shuffle.partitions
    val g = GraftSession(spark, storeRoot.toString, numBuckets = a.cpus)
    val model = new Model(a.seed, sz)
    var attempted = 0L
    var failed = 0L
    val problems = mutable.ArrayBuffer.empty[String]
    var csvBytes = 0L

    // ---- set-up: DDL, history landed and loaded --------------------------
    val d0 = System.nanoTime()
    g.sql(s"create or replace stage landing url = '$landing'")
    Entities.foreach(e => g.sqlScript(tablesDdl(e)))
    val ddlS = (System.nanoTime() - d0) / 1e9
    val hist = model.history()
    val h0 = System.nanoTime()
    Entities.foreach { e =>
      csvBytes += writeCsv(landing.resolve(e).resolve(s"${e}_history.csv"), e, hist(e))
    }
    loadHistory(g)
    Ticked.foreach { e =>
      g.sqlScript(dagDdl(e))
      chain(e).reverse.foreach(t => g.sql(s"alter task $t resume"))
    }
    val historyS = (System.nanoTime() - h0) / 1e9
    val bytesBeforeTicks = Sys.du(storeRoot)
    val gating = Map(
      "item" -> Seq("stg_item_stm", "raw_item_stm"),
      "order" -> Seq("stg_order_stm"))

    // ---- timed ticks -----------------------------------------------------
    val ticks = mutable.ArrayBuffer.empty[Tick]
    val firstOp = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val deadline = t0 + (a.seconds * 1e9).toLong
    val minTicks = if (a.trace) 2 else 1
    var n = 0
    while (n < minTicks || System.nanoTime() < deadline) {
      val traced = a.trace && n % 2 == 0
      Ticked.foreach { e =>
        tr.on = traced
        tr.op = ticks.length.toLong
        attempted += 1
        val rows = model.delta(e)
        val tag = s"t$n/$e"
        probe.foreach(_.tag(if (traced) tag else null))
        val c0 = Sys.processCpuS
        val j0 = Sys.javaThreadCpu()
        val s0 = System.nanoTime()
        val ms0 = System.currentTimeMillis()
        var pipeS, cycleS, hasDataS = 0.0
        var bytes = 0L
        var ok = true
        try tr.span(s"tick:$e", "bench") {
          bytes = tr.span("land", "bench") {
            writeCsv(landing.resolve(e).resolve(f"${e}_delta_$n%05d.csv"), e, rows)
          }
          val p0 = System.nanoTime()
          tr.span("pipe_refresh", "ingest") { g.sql(s"alter pipe stg.stg_${e}_pipe refresh") }
          pipeS = (System.nanoTime() - p0) / 1e9
          if (traced) {
            val h0 = System.nanoTime()
            gating(e).foreach(s => tr.span(s"has_data:$s", "cdc") { g.stream(s).hasData })
            hasDataS = (System.nanoTime() - h0) / 1e9
          }
          val c0 = System.nanoTime()
          val states = tr.span("run_cycle", "orchestrate") { g.tasks.runCycle(s"pause_pipe_$e") }
          cycleS = (System.nanoTime() - c0) / 1e9
          val bad = states.filter { case (t, s) => category(t) != "gate" && s != "SUCCEEDED" }
          if (bad.nonEmpty) {
            ok = false
            problems += s"tick $n $e: $bad"
          }
        } catch {
          case ex: Exception =>
            ok = false
            problems += s"tick $n $e: ${ex.toString.take(300)}"
        } finally probe.foreach(_.untag())
        if (!ok) failed += 1
        csvBytes += bytes
        ticks += Tick(n, e, s0, System.nanoTime(), ms0, System.currentTimeMillis(),
          Sys.processCpuS - c0, Sys.javaThreadCpuSince(j0), pipeS, cycleS, hasDataS, rows.length, bytes, traced, ok)
      }
      n += 1
    }
    tr.on = false
    val timedWall = (System.nanoTime() - t0) / 1e9
    val storeBytes = Sys.du(storeRoot)

    // ---- end-state audit -------------------------------------------------
    attempted += 1
    val a0 = System.nanoTime()
    val auditProblems = audit(g, model)
    val auditS = (System.nanoTime() - a0) / 1e9
    if (auditProblems.nonEmpty) {
      failed += 1
      problems ++= auditProblems
    }

    val walls = ticks.map(_.wall).toSeq
    val tailP = Tail.percentile(walls.length)
    val deltaRows = ticks.map(_.rows).sum
    val e2e = Rounds.e2e(ticks.map(t => OpTime(t.entity, t.wall, t.cpuS, t.threadCpuS)).toSeq)
    val detail = Map(
      "tick_p50_s" -> Metric(Stats.median(walls), "s"),
      "tick_tail_s" -> Metric(Stats.percentile(walls, tailP), "s"),
      "ticks_per_s" -> Metric(ticks.length / timedWall, "1/s"),
      "etl_rows_per_s" -> Metric(deltaRows / Stats.sum(walls), "rows/s"),
      "space_amp" -> Metric(storeBytes.toDouble / csvBytes, "ratio"))

    val layers = probe match {
      case None => Map.empty[String, Metric]
      case Some(p) =>
        p.drain()
        layerMetrics(g, ticks.toSeq, p, tr, (storeBytes - bytesBeforeTicks).toDouble / ticks.length)
    }
    Outcome(attempted, failed,
      checksRun = Seq(s"tick_states:${ticks.length}", s"audit:${if (auditProblems.isEmpty) "ok" else "FAILED"}"),
      firstTimedOpEpochMs = firstOp, e2e = e2e, detail = detail, layers = layers,
      notes = Map(
        "ticks" -> n.toString,
        "setup_ddl_s" -> f"$ddlS%.3f",
        "setup_history_s" -> f"$historyS%.3f",
        "audit_s" -> f"$auditS%.3f",
        "entity_ticks" -> ticks.length.toString,
        "tail_percentile" -> f"$tailP%.1f",
        "delta_rows" -> deltaRows.toString,
        "csv_bytes" -> csvBytes.toString,
        "store_bytes" -> storeBytes.toString,
        "tick_walls_s" -> ticks.map(t => f"${t.entity.take(1)}${t.wall}%.2f").mkString(","),
        "per_entity_median_s" -> ticks.groupBy(_.entity).toSeq.sortBy(_._1).map { case (e, ts) =>
          f"$e=${Stats.median(ts.map(_.wall).toSeq)}%.4f" }.mkString(","),
        "per_entity_median_cpu_s" -> ticks.groupBy(_.entity).toSeq.sortBy(_._1).map { case (e, ts) =>
          f"$e=${Stats.median(ts.map(_.threadCpuS).toSeq)}%.4f" }.mkString(","),
        "problems" -> problems.take(20).mkString(" | ")))
  }

  private def layerMetrics(g: GraftSession, ticks: Seq[Tick], p: SparkProbe, tr: Tracer,
      bytesPerTick: Double): Map[String, Metric] = {
    val traced = ticks.filter(_.traced)
    def med(f: Tick => Double): Double = Stats.median(traced.map(f))
    // run-log rows of the traced ticks: task duration = completed − scheduled
    val log = g.sql("select name, state, scheduled_time, completed_time " +
      "from table(information_schema.task_history())").get.collect().toSeq
      .map(r => (r.getString(0), r.getString(1), r.getTimestamp(2).getTime, r.getTimestamp(3).getTime))
    val cycleSpans = tr.all.filter(_.name == "run_cycle").map(s => s.op -> s).toMap
    val perTick = ticks.zipWithIndex.filter(_._1.traced).map { case (t, i) =>
      val rows = log.filter { case (_, _, s, _) => s >= t.startMs && s <= t.endMs }
      cycleSpans.get(i.toLong).foreach { cs =>
        rows.foreach { case (name, _, s, c) =>
          val layer = category(name) match {
            case "raw_merge" | "dim_merge" | "fact_rebuild" => "sql"
            case "truncate" => "store"
            case _ => "ingest"
          }
          tr.add(name, layer, tr.epochMsToNs(s), tr.epochMsToNs(c), parent = cs.id, opId = i)
        }
      }
      val byCat = rows.groupBy { case (name, _, _, _) => category(name) }
        .map { case (k, rs) => k -> Stats.sum(rs.map { case (_, _, s, c) => (c - s) / 1000.0 }) }
      val taskSum = Stats.sum(byCat.values)
      (t, byCat, t.cycleS - taskSum, rows.count(_._2 == "SKIPPED"))
    }
    def catMed(c: String): Double = {
      val xs = perTick.flatMap(_._2.get(c))
      if (xs.isEmpty) 0.0 else Stats.median(xs)
    }
    val self = tr.selfTimes
    val tracedIdx = ticks.zipWithIndex.filter(_._1.traced).map(_._2.toLong)
    def selfMed(layer: String): Double = Stats.median(tracedIdx.map(i => self.getOrElse((i, layer), 0.0)))
    val ratios = ticks.groupBy(_.entity).values.flatMap { ts =>
      val (t, u) = ts.partition(_.traced)
      if (t.nonEmpty && u.nonEmpty) Some(Stats.median(t.map(_.wall)) / Stats.median(u.map(_.wall)))
      else None
    }.toSeq
    val store = g.store
    val tableMetrics = StoreTables.flatMap { t =>
      Seq(s"store.batches.$t" -> Metric(store.batchCount(t).toDouble, "count"),
        s"store.version.$t" -> Metric(store.currentVersion(t).toDouble, "count"))
    }
    Map(
      "ingest.pipe_s" -> Metric(med(_.pipeS), "s"),
      "ingest.rows" -> Metric(med(_.rows.toDouble), "count"),
      "ingest.bytes" -> Metric(med(_.bytes.toDouble), "bytes"),
      "orchestrate.cycle_s" -> Metric(med(_.cycleS), "s"),
      "orchestrate.raw_merge_s" -> Metric(catMed("raw_merge"), "s"),
      "orchestrate.dim_merge_s" -> Metric(catMed("dim_merge"), "s"),
      "orchestrate.fact_rebuild_s" -> Metric(catMed("fact_rebuild"), "s"),
      "orchestrate.truncate_s" -> Metric(catMed("truncate"), "s"),
      "orchestrate.runlog_s" -> Metric(Stats.median(perTick.map(_._3)), "s"),
      "orchestrate.skipped" -> Metric(perTick.map(_._4).sum.toDouble, "count"),
      "cdc.has_data_s" -> Metric(med(_.hasDataS), "s"),
      "ops.jobs" -> Metric(med(t => p.stats(t.tag).jobs), "count"),
      "ops.task_s" -> Metric(med(t => p.stats(t.tag).taskRunMs / 1000.0), "s"),
      "ops.shuffle_write_bytes" -> Metric(med(t => p.stats(t.tag).shuffleWriteBytes), "bytes"),
      "store.bytes_per_tick" -> Metric(bytesPerTick, "bytes"),
      "ingest.self_s" -> Metric(selfMed("ingest"), "s"),
      "cdc.self_s" -> Metric(selfMed("cdc"), "s"),
      "orchestrate.self_s" -> Metric(selfMed("orchestrate"), "s"),
      "sql.self_s" -> Metric(selfMed("sql"), "s"),
      "store.self_s" -> Metric(selfMed("store"), "s"),
      "trace.overhead_frac" -> Metric(if (ratios.isEmpty) 0.0 else Stats.median(ratios) - 1, "ratio")
    ) ++ tableMetrics
  }

  /** Dims equal a latest-wins-per-key recomputation from the generated
    * CSVs; raw_order equals the latest measures per order key; fact_order
    * equals an independent join/aggregate over the final raw and dims. */
  def audit(g: GraftSession, m: Model): Seq[String] = {
    val out = mutable.ArrayBuffer.empty[String]
    def str(v: Any): String = v match {
      case null => ""
      case d: java.math.BigDecimal => d.stripTrailingZeros.toPlainString
      case x => x.toString
    }
    def money(s: String): String = if (s.isEmpty) "" else new java.math.BigDecimal(s).stripTrailingZeros.toPlainString
    def compare(name: String, got: Map[String, Seq[String]], want: Map[String, Seq[String]]): Unit = {
      if (got.size != want.size) out += s"$name: ${got.size} keys, expected ${want.size}"
      val bad = want.iterator.filter { case (k, v) => !got.get(k).contains(v) }.take(3).toSeq
      bad.foreach { case (k, v) => out += s"$name[$k]: got ${got.get(k)}, expected $v" }
    }
    val cust = g.table("dim_customer").select("customer_id", "salutation", "first_name",
      "last_name", "birth_year", "email", "is_active").collect()
    compare("dim_customer",
      cust.map(r => str(r.get(0)) -> (1 until 7).map(i => str(r.get(i)))).toMap,
      m.customers.map(r => r(0) -> Seq(r(1), r(2), r(3), r(4), r(5), r(6))).toMap)
    val item = g.table("dim_item").select("item_id", "item_desc", "start_date", "end_date",
      "price", "item_class", "item_category").collect()
    compare("dim_item",
      item.map(r => str(r.get(0)) -> (1 until 7).map(i => str(r.get(i)))).toMap,
      m.items.map(r => r(0) -> Seq(r(1), r(2), r(3), money(r(4)), r(5), r(6))).toMap)
    val raw = g.table("raw_order").collect()
    compare("raw_order",
      raw.map(r => (0 until 4).map(i => str(r.get(i))).mkString("|") ->
        (4 until 7).map(i => str(r.get(i)))).toMap,
      m.orders.map(r => r.take(4).mkString("|") -> Seq(r(4), money(r(5)), money(r(6)))).toMap)
    // fact: independent DataFrame-API recomputation over the final tables
    val ro = g.table("raw_order").alias("ro")
    val dc = g.table("dim_customer").alias("dc")
    val di = g.table("dim_item").alias("di")
    val expect = ro.join(dc, col("dc.customer_id") === col("ro.customer_id"))
      .join(di, col("di.item_id") === col("ro.item_id") && col("di.end_date").isNull)
      .groupBy(col("ro.order_date"), col("dc.customer_dim_key"), col("di.item_dim_key"))
      .agg(count(lit(1)).cast("long").as("order_count"),
        sum(col("ro.order_quantity")).cast("decimal(38,2)").as("order_quantity"),
        sum(col("ro.sale_price")).cast("decimal(38,2)").as("sale_price"),
        sum(col("ro.net_paid")).cast("decimal(38,2)").as("net_paid"))
    val fact = g.table("fact_order").select(col("order_date"),
      col("customer_dim_key").cast("long"), col("item_dim_key").cast("long"),
      col("order_count").cast("long"), col("order_quantity").cast("decimal(38,2)"),
      col("sale_price").cast("decimal(38,2)"), col("net_paid").cast("decimal(38,2)"))
    val exp2 = expect.select(col("order_date"), col("customer_dim_key").cast("long"),
      col("item_dim_key").cast("long"), col("order_count"), col("order_quantity"),
      col("sale_price"), col("net_paid"))
    val extra = fact.exceptAll(exp2).count()
    val missing = exp2.exceptAll(fact).count()
    if (extra + missing > 0) out += s"fact_order: $extra unexpected rows, $missing missing rows"
    if (fact.count() == 0) out += "fact_order: empty"
    out.toSeq
  }
}
