package graft

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.cdc.ChangeStream
import graft.ingest.{CsvFormat, Pipe}
import graft.orchestrate.{Orchestrator, Task}
import graft.spark.GraftCatalog
import graft.sql.GraftSql
import graft.store.TableStore

/** The user-facing entry point — everything a user of the reference
  * warehouse project needs, wired over one table store:
  *
  * {{{
  *   val g = GraftSession(spark, "/data/warehouse")
  *   g.createTable("stg_item", schema)                      // DDL
  *   val stm  = g.createStream("stg_item", "stg_item_stm")  // CDC stream
  *   val pipe = g.createPipe("p1", "/landing/item", "stg_item", schema)
  *   g.tasks.createTask(Task("raw_item_tsk", () => stm.consume(...)))
  *   g.sql("MERGE INTO raw_item t USING stg_item s ON ...") // dialect
  *   g.sql("SELECT * FROM dim_item").get.show()
  * }}}
  *
  * Mirrors the reference's object model 1:1 (database → store root,
  * table/stream/pipe/task/stage → the create methods, SQL scripts →
  * [[sql]]/[[sqlScript]]), SURVEY.md §1-§3. The SQL surface covers the
  * reference scripts' statements (CREATE STREAM/PIPE/TASK/STAGE, ALTER
  * TASK/PIPE, SHOW, system$ functions) — see [[graft.sql.GraftSql]].
  *
  * Snowflake-style schema-qualified names (`stg.stg_customer`) are
  * accepted everywhere and normalized to their last segment (the store's
  * flat namespace), recorded in [[nameMap]] so later statements can use
  * either form — the reference's own scripts mix both.
  */
class GraftSession(val spark: SparkSession, root: String, numBuckets: Int = 16)
    extends GraftCatalog.Names {

  val store = new TableStore(spark, root, numBuckets)
  lazy val tasks = new Orchestrator(spark, store)

  GraftCatalog.attach(this)

  private val streamsReg = mutable.LinkedHashMap.empty[String, ChangeStream]
  private val pipesReg = mutable.LinkedHashMap.empty[String, Pipe]
  private val stagesReg = mutable.LinkedHashMap.empty[String, String]
  /** full qualified name (lowercased) → flat name, for SQL normalization. */
  private[graft] val nameMap = mutable.LinkedHashMap.empty[String, String]
  /** flat names (lowercased) created UNQUALIFIED in this session — these
    * are collision candidates for later qualified creations. */
  private val unqualifiedCreated = mutable.Set.empty[String]
  /** flat name (lowercased) → qualified name it was CREATED under in this
    * session. The symmetric collision guard checks THIS, not [[nameMap]]:
    * nameMap is also populated by mere reads of qualified names, and
    * reading `stg.customer` must not block `CREATE TABLE customer`. */
  private val qualifiedCreated = mutable.LinkedHashMap.empty[String, String]

  /** Record `full` (e.g. stg.stg_customer) → its flat last segment.
    * Matching is case-insensitive (Snowflake unquoted-identifier
    * semantics); two DIFFERENT qualified names flattening to the same
    * segment (stg.customer vs raw.customer) are rejected rather than
    * silently collapsed onto one store table, and a qualified name whose
    * segment was already created unqualified (`CREATE TABLE customer` then
    * `raw.customer`) is rejected too. */
  private[graft] def recordName(full: String): String = {
    val flat = full.split("\\.").last
    if (full.contains(".")) {
      nameMap.collectFirst {
        case (k, v) if v.equalsIgnoreCase(flat) && k != full.toLowerCase => k
      }.foreach(other => sys.error(
        s"ambiguous flat name '$flat': $full vs $other (the store namespace is flat)"))
      nameMap.get(full.toLowerCase) match {
        case Some(f) if !f.equalsIgnoreCase(flat) => sys.error(s"name clash: $full vs $f")
        case Some(f) => return f // keep the first-recorded casing
        case None =>
          if (unqualifiedCreated.contains(flat.toLowerCase)) sys.error(
            s"ambiguous flat name '$flat': $full vs the unqualified table '$flat' " +
              "created earlier (the store namespace is flat)")
          nameMap(full.toLowerCase) = flat
      }
    }
    flat
  }

  /** [[recordName]] for CREATE sites. Stricter than a read: creating a
    * NEW qualified name whose flat segment is already a store table this
    * session has no mapping for (created unqualified, directly on the
    * store, or by an earlier session under a different qualified name)
    * would silently collapse two tables — reject instead. Unqualified
    * creations are remembered so the reverse order errors too, and an
    * unqualified CREATE whose name is already the flat segment of a
    * recorded QUALIFIED creation is rejected symmetrically (it would
    * silently replace that table). */
  private[graft] def recordCreate(full: String): String = {
    val flat = full.split("\\.").last
    if (full.contains(".")) {
      if (!nameMap.contains(full.toLowerCase) && store.exists(flat) &&
          !nameMap.valuesIterator.exists(_.equalsIgnoreCase(flat)))
        sys.error(s"ambiguous flat name '$flat': creating $full would collide with the " +
          s"existing table '$flat' (created without this qualified name; the store " +
          "namespace is flat — drop it first or use the same name)")
      val r = recordName(full)
      qualifiedCreated.getOrElseUpdate(flat.toLowerCase, full)
      r
    } else {
      qualifiedCreated.get(flat.toLowerCase).foreach(q =>
        sys.error(s"ambiguous flat name '$flat': unqualified CREATE vs the qualified " +
          s"table '$q' created earlier (the store namespace is flat — drop it first " +
          "or use the qualified name)"))
      unqualifiedCreated += flat.toLowerCase
      recordName(full)
    }
  }

  /** Forget name-map state for a dropped table so the advertised recovery
    * ("drop it first") actually works: a later CREATE under either form of
    * the name is no longer flagged as colliding with the dropped one. */
  private[graft] def recordDrop(flat: String): Unit = {
    unqualifiedCreated -= flat.toLowerCase
    qualifiedCreated -= flat.toLowerCase
    nameMap.filterInPlace((_, v) => !v.equalsIgnoreCase(flat))
  }

  // ---- DDL / catalog ------------------------------------------------------

  def createTable(name: String, schema: StructType, keys: Seq[String] = Nil): Unit =
    store.createTable(recordCreate(name), schema, keys)

  def dropTable(name: String): Unit = {
    val flat = recordName(name)
    store.dropTable(flat)
    recordDrop(flat)
  }

  def table(name: String): DataFrame = store.read(recordName(name))

  def listTables(): Seq[String] = store.listTables()

  // ---- CDC / ingestion ----------------------------------------------------

  /** The key `name` has in `reg`, matched in any case (Snowflake's
    * unquoted identifiers), else its flat name as written. Every registry
    * lookup below goes through it. */
  private def key(reg: mutable.Map[String, _], name: String): String = {
    val flat = recordName(name)
    reg.keys.find(_.equalsIgnoreCase(flat)).getOrElse(flat)
  }

  def createStream(onTable: String, name: String): ChangeStream = {
    val flat = key(streamsReg, name)
    // CREATE OR REPLACE: the replaced stream's offset goes with it
    streamsReg.get(flat).foreach(_.drop())
    val s = ChangeStream.create(store, recordName(onTable), flat)
    streamsReg(flat) = s
    s
  }

  def stream(name: String): ChangeStream = streamsReg(key(streamsReg, name))
  def streamOpt(name: String): Option[ChangeStream] = streamsReg.get(key(streamsReg, name))
  def dropStream(name: String): Unit = streamsReg.remove(key(streamsReg, name)).foreach(_.drop())

  /** SHOW STREAMS (F7): name, source table, consumed-through version,
    * pending version count (cheap — no data IO). */
  def listStreams(): Seq[(String, String, Long, Long)] =
    streamsReg.values.toSeq.map { s =>
      (s.name, s.table, s.offset, store.currentVersion(s.table) - s.offset)
    }

  def createPipe(name: String, landingDir: String, stageTable: String,
      schema: StructType, fmt: CsvFormat = CsvFormat(), format: String = "csv"): Pipe = {
    val flat = key(pipesReg, name)
    val p = new Pipe(spark, flat, landingDir, recordName(stageTable), schema, store, fmt, format)
    pipesReg.put(flat, p).foreach(_.pause()) // CREATE OR REPLACE stops the old poll
    p
  }

  def pipe(name: String): Pipe = pipesReg(key(pipesReg, name))
  def dropPipe(name: String): Unit = pipesReg.remove(key(pipesReg, name)).foreach(_.pause())

  /** SHOW PIPES (F7): name, status. */
  def listPipes(): Seq[(String, String)] =
    pipesReg.values.toSeq.map(p => (p.name, p.status))

  private val viewsReg = mutable.LinkedHashMap.empty[String, String]

  /** CREATE VIEW: each statement naming the view reads its SQL afresh
    * ([[relation]], the way [[GraftSql]] reads a query body), so it
    * reflects the latest commits, like Snowflake's, and a broken view
    * fails only the statements that name it. */
  def createView(name: String, sql: String): Unit =
    viewsReg(key(viewsReg, name)) = sql

  def dropView(name: String): Unit = viewsReg.remove(key(viewsReg, name))
  def listViews(): Seq[String] = viewsReg.keys.toSeq

  // the graft views being expanded on this thread, innermost first
  private val expanding = ThreadLocal.withInitial[List[String]](() => Nil)

  /** SQL name resolution ([[GraftCatalog]]) after temp views and catalog
    * tables: a view, else a stream, else a table of [[store]]. */
  def relation(name: String): Option[DataFrame] =
    viewsReg.find(_._1.equalsIgnoreCase(name)).map { case (n, q) =>
      val outer = expanding.get
      require(!outer.exists(_.equalsIgnoreCase(n)),
        s"view $n references itself: ${(n :: outer).reverse.mkString(" -> ")}")
      expanding.set(n :: outer)
      try GraftSql.query(spark, store, Some(this), q) finally expanding.set(outer)
    }.orElse(streamOpt(name).map(_.relation))
      .orElse(store.relation(name))

  /** CREATE STAGE name URL='dir' — a named external location; `@name/sub`
    * in COPY INTO resolves against it (reference: `@landing/landing/
    * customer`, customer-...sql:54). */
  def createStage(name: String, dir: String): Unit =
    stagesReg(key(stagesReg, name)) = dir.stripSuffix("/")

  /** Catalog containers (CREATE WAREHOUSE / DATABASE / SCHEMA / STORAGE
    * INTEGRATION — reference README.md:19-45): recorded no-ops. The store
    * namespace is flat and compute is Spark's, so these carry no behavior;
    * recording them makes the README's setup section executable and
    * SHOW-able instead of erroring in the passthrough. */
  private val catalogReg = mutable.LinkedHashMap.empty[String, mutable.LinkedHashSet[String]]

  def recordCatalogObject(kind: String, name: String): Unit =
    catalogReg.getOrElseUpdate(kind.toLowerCase, mutable.LinkedHashSet.empty) += name

  def listCatalogObjects(kind: String): Seq[String] =
    catalogReg.get(kind.toLowerCase).map(_.toSeq).getOrElse(Nil)

  /** CREATE FILE FORMAT (reference README.md:37-45): a named reader-options
    * object pipes reference via `FILE_FORMAT = (FORMAT_NAME='x')` or
    * `FILE_FORMAT = x`. Keys are lowercased Snowflake option names. */
  private val fileFormatsReg = mutable.LinkedHashMap.empty[String, Map[String, String]]

  def createFileFormat(name: String, opts: Map[String, String]): Unit =
    fileFormatsReg(recordName(name).toLowerCase) = opts

  def fileFormat(name: String): Option[Map[String, String]] =
    fileFormatsReg.get(recordName(name).toLowerCase)

  def listFileFormats(): Seq[(String, String)] =
    fileFormatsReg.toSeq.map { case (n, o) => (n, o.getOrElse("type", "csv")) }

  def stageDir(name: String): String = stagesReg(key(stagesReg, name))
  def listStages(): Seq[(String, String)] = stagesReg.toSeq

  // ---- SQL ----------------------------------------------------------------

  /** One statement of the reference dialect (DDL/DML → None, query →
    * rows). */
  def sql(statement: String): Option[DataFrame] =
    GraftSql.execute(spark, store, statement, Some(this))

  /** A `;`-separated script (`--` comments stripped). */
  def sqlScript(script: String): Option[DataFrame] =
    GraftSql.executeScript(spark, store, script, Some(this))

  /** Worksheet mode: run every statement, return the failures instead of
    * aborting at the first one (see [[GraftSql.executeScriptLenient]]). */
  def sqlScriptLenient(script: String): Seq[(String, String)] =
    GraftSql.executeScriptLenient(spark, store, script, Some(this))
}

object GraftSession {
  def apply(spark: SparkSession, root: String, numBuckets: Int = 16): GraftSession =
    new GraftSession(spark, root, numBuckets)

  /** The one place graft's Spark session shape is defined; every main and
    * the test session start here. `local[cores]` with one shuffle
    * partition per core, UTC session time (the reference warehouse's
    * posture), AQE with skew-join splitting on, graft's Catalyst
    * extensions ([[graft.spark.GraftExtensions]]: the native `graft_*`
    * expressions and the pruning rules; it also defaults Spark's codegen
    * cache, `spark.sql.codegen.cache.maxEntries`, to 2048 entries instead
    * of 100, so repeated queries reuse their compiled classes. A value set
    * in Spark's conf wins, and Spark reads it once per JVM, at the first
    * code generation), `nanosAsLong` so the events
    * table's nanosecond timestamps load (see [[Tables.events]]), no UI,
    * WARN logging. Idempotent: `getOrCreate` returns the running session
    * when there is one. */
  def sparkSession(cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.extensions", "graft.spark.GraftExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
