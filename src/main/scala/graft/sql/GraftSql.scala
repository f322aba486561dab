package graft.sql

import org.apache.spark.sql.{DataFrame, GraftColumnBridge, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.plans.logical.{Assignment, DeleteFromTable, LogicalPlan, UpdateTable}
import org.apache.spark.sql.types.StructType

import graft.GraftSession
import graft.orchestrate.Task
import graft.spark.GraftCatalog
import graft.store.TableStore

/** SQL statement surface over a [[TableStore]] (+ optional
  * [[GraftSession]] for streams/pipes/tasks/stages) — the reference
  * scripts' full statement set, so the three pipeline scripts run
  * end-to-end through [[executeScript]] (SURVEY.md §2.1 S7/S8, §2.2 P7,
  * §2.9 ST1-ST6, A-MERGE via [[MergeSql]]; reference:
  * customer-end-to-end-pipeline-script.sql:1-220 and siblings):
  *
  *  - `CREATE [OR REPLACE] TABLE t (c1 type1 [default e] [autoincrement],
  *    ...) [KEYS (k1, ...)]` — Snowflake column types (number, varchar(n),
  *    autoincrement, default) are translated; KEYS is our extension that
  *    enables bucket-pruned MERGE/UPDATE/DELETE
  *  - `CREATE [OR REPLACE] STREAM s ON TABLE t`
  *  - `CREATE [OR REPLACE] STAGE s URL = '<dir>'`
  *  - `CREATE [OR REPLACE] PIPE p [AUTO_INGEST=true] AS COPY INTO t FROM
  *    @stage/path FILE_FORMAT = (TYPE='CSV', SKIP_HEADER=1, ...)`
  *  - `CREATE [OR REPLACE] TASK name [WAREHOUSE=w] [SCHEDULE='1 minute']
  *    [AFTER p1, p2] [WHEN [NOT] system$stream_has_data('s')] AS <stmt>`
  *  - `ALTER TASK name RESUME|SUSPEND`; `ALTER PIPE p SET
  *    PIPE_EXECUTION_PAUSED = true|false`; `ALTER PIPE p REFRESH`
  *  - `ALTER TABLE t ADD SEARCH OPTIMIZATION ON EQUALITY(c, ...)`
  *    (per-file lookup blooms in the stats sidecar — point-lookup
  *    pruning on unclustered high-cardinality keys)
  *  - `SHOW TABLES|STREAMS|PIPES|TASKS|STAGES`; `LIST @stage`
  *  - `SELECT SYSTEM$PIPE_STATUS('p') | SYSTEM$PIPE_FORCE_RESUME('p') |
  *    SYSTEM$STREAM_HAS_DATA('s')`
  *  - `TRUNCATE [TABLE] [IF EXISTS] t`; `DELETE FROM t [WHERE pred]`
  *  - `UPDATE t SET c = expr, ... [WHERE pred]`
  *  - `INSERT INTO|OVERWRITE [INTO] t [(cols)] <select…|values…>`
  *  - `MERGE INTO ...` (delegated to [[MergeSql]]; a stream source is
  *    consumed transactionally — offset advances only if the merge
  *    commits, the reference's exactly-once contract)
  *  - `USE ...` → no-op; `--` and block comments are stripped
  *  - any other statement → `spark.sql` passthrough (SELECT monitoring
  *    queries, E3); `table(information_schema.task_history())` reads the
  *    orchestrator's run-log table
  *  - `TABLE(graft_*(…))` table functions expose the flagship
  *    LLM-pipeline operators (near-dup filter, decontamination, BM25,
  *    kmeans-IVF ANN, token-budget mix) to SQL — see [[TableFunctions]]
  *  - `t AT (VERSION => n)` / `t AT (OFFSET => -k)` time travel
  *
  * Snowflake-style qualified names (`stg.stg_customer`) are normalized to
  * their flat last segment via the session's name map. SELECT subqueries
  * run through Spark's full SQL stack, so all of Catalyst's SQL surface is
  * available inside INSERT bodies. Names resolve in Spark's analyzer: a
  * temp view, then a Spark catalog table, then the session's views,
  * streams and store tables ([[graft.spark.GraftCatalog]]); each statement
  * puts its own session first among the graft names.
  *
  * How the text is read: MERGE, UPDATE and DELETE go through Spark's own
  * parser (the session's `sqlParser`), and graft reads the plans it
  * returns (see [[MergeSql]] for the MERGE clause regrouping). The same
  * parser, wrapped by [[graft.spark.GraftParser]], reads every query, so
  * `TABLE(graft_*(…))` and `task_history()` become plan nodes that
  * [[graft.spark.ResolveGraftNames]] resolves, in a statement, a graft
  * view, a MERGE source or plain `spark.sql` alike; no temp view is
  * registered. Every other quote-, comment- or paren-aware step — comment
  * stripping, statement and list splitting, name normalization, QUALIFY
  * and the `AT (…)` to `VERSION AS OF` spelling — walks the tokens of
  * [[SqlScanner]], the one lexing rule, so none of them looks inside a
  * string literal or a comment. The remaining regexes only classify a
  * statement by its leading keywords and pick out DDL names and options.
  */
object GraftSql {

  private val UseRe = """(?is)^\s*USE\s+.*$""".r
  private val CreateCatalogObjRe =
    """(?is)^\s*CREATE\s+(?:OR\s+REPLACE\s+)?(WAREHOUSE|DATABASE|SCHEMA|STORAGE\s+INTEGRATION)\s+(?:IF\s+NOT\s+EXISTS\s+)?([\w.]+)\s*(.*?)\s*;?\s*$""".r
  private val CreateFileFormatRe =
    """(?is)^\s*CREATE\s+(?:OR\s+REPLACE\s+)?FILE\s+FORMAT\s+(?:IF\s+NOT\s+EXISTS\s+)?([\w.]+)\s+(.*?)\s*;?\s*$""".r
  private val CreateTableRe =
    """(?is)^\s*CREATE\s+(?:OR\s+(REPLACE)\s+)?TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?([\w.]+)\s*\((.+?)\)\s*(?:CLUSTER\s+BY\s*\(([^)]*)\)\s*)?(?:KEYS\s*\(([^)]*)\)\s*)?(?:CLUSTER\s+BY\s*\(([^)]*)\))?\s*;?\s*$""".r
  private val CreateTableAsRe =
    """(?is)^\s*CREATE\s+(?:OR\s+(REPLACE)\s+)?TABLE\s+([\w.]+)\s*(?:KEYS\s*\(([^)]*)\)\s*)?AS\s*(\(\s*SELECT.*|SELECT.*)$""".r
  private val CreateTableCloneRe =
    """(?is)^\s*CREATE\s+(?:OR\s+(REPLACE)\s+)?TABLE\s+([\w.]+)\s+CLONE\s+([\w.]+)\s*(?:AT\s*\(\s*(VERSION|OFFSET)\s*=>\s*(-?\d+)\s*\))?\s*;?\s*$""".r
  private val UndropTableRe =
    """(?is)^\s*UNDROP\s+TABLE\s+([\w.]+)\s*;?\s*$""".r
  private val AlterTableAddColRe =
    """(?is)^\s*ALTER\s+TABLE\s+([\w.]+)\s+ADD\s+(?:COLUMN\s+)?(\w+\s+.+?)\s*;?\s*$""".r
  private val AlterTableDropColRe =
    """(?is)^\s*ALTER\s+TABLE\s+([\w.]+)\s+DROP\s+(?:COLUMN\s+)?(\w+)\s*;?\s*$""".r
  private val AlterTableRenameColRe =
    """(?is)^\s*ALTER\s+TABLE\s+([\w.]+)\s+RENAME\s+(?:COLUMN\s+)?(\w+)\s+TO\s+(\w+)\s*;?\s*$""".r
  private val AlterTableClusterRe =
    """(?is)^\s*ALTER\s+TABLE\s+([\w.]+)\s+CLUSTER\s+BY\s*(ZORDER\s*)?\(([^)]*)\)\s*;?\s*$""".r
  private val AlterTableDropClusterRe =
    """(?is)^\s*ALTER\s+TABLE\s+([\w.]+)\s+DROP\s+CLUSTERING\s+KEY\s*;?\s*$""".r
  private val AlterTableSearchOptRe =
    """(?is)^\s*ALTER\s+TABLE\s+([\w.]+)\s+ADD\s+SEARCH\s+OPTIMIZATION\s+ON\s+EQUALITY\s*\(([^)]*)\)\s*;?\s*$""".r
  private val AlterTableAutoCompactRe =
    """(?is)^\s*ALTER\s+TABLE\s+([\w.]+)\s+SET\s+AUTO_COMPACT\s*=\s*(\d+|OFF)\s*;?\s*$""".r
  private val AlterTableUnsetAutoCompactRe =
    """(?is)^\s*ALTER\s+TABLE\s+([\w.]+)\s+UNSET\s+AUTO_COMPACT\s*;?\s*$""".r
  private val CreateViewRe =
    """(?is)^\s*CREATE\s+(?:OR\s+REPLACE\s+)?VIEW\s+([\w.]+)\s+AS\s+(.*?)\s*;?\s*$""".r
  private val CreateStreamRe =
    """(?is)^\s*CREATE\s+(?:OR\s+REPLACE\s+)?STREAM\s+([\w.]+)\s+ON\s+TABLE\s+([\w.]+)\s*;?\s*$""".r
  private val CreateStageRe =
    """(?is)^\s*CREATE\s+(?:OR\s+REPLACE\s+)?STAGE\s+([\w.]+)\s+(?:URL\s*=\s*)?'([^']+)'\s*;?\s*$""".r
  private val CreatePipeRe =
    """(?is)^\s*CREATE\s+(?:OR\s+REPLACE\s+)?PIPE\s+([\w.]+)\s*(?:AUTO_INGEST\s*=\s*\w+\s*)?AS\s+COPY\s+INTO\s+([\w.]+)\s+FROM\s+@([\w./-]+)\s*(?:FILE_FORMAT\s*=\s*(?:\(([^)]*)\)|([\w.]+))\s*)?\s*;?\s*$""".r
  private val CreateTaskRe =
    """(?is)^\s*CREATE\s+(?:OR\s+REPLACE\s+)?TASK\s+([\w.]+)\s+(.*?)\s*\bAS\b\s+(.*?)\s*;?\s*$""".r
  private val AlterTaskRe =
    """(?is)^\s*ALTER\s+TASK\s+(?:IF\s+EXISTS\s+)?([\w.]+)\s+(RESUME|SUSPEND)\s*;?\s*$""".r
  private val AlterPipePauseRe =
    """(?is)^\s*ALTER\s+PIPE\s+([\w.]+)\s+SET\s+PIPE_EXECUTION_PAUSED\s*=\s*(TRUE|FALSE)\s*;?\s*$""".r
  private val AlterPipeRefreshRe =
    """(?is)^\s*ALTER\s+PIPE\s+([\w.]+)\s+REFRESH\s*;?\s*$""".r
  private val ShowRe =
    """(?is)^\s*SHOW\s+(TABLES|STREAMS|PIPES|TASKS|STAGES|VIEWS|WAREHOUSES|DATABASES|SCHEMAS|FILE\s+FORMATS)\s*;?\s*$""".r
  private val ListStageRe = """(?is)^\s*LIST\s+@([\w./-]+)\s*;?\s*$""".r
  private val SystemFnRe =
    """(?is)^\s*SELECT\s+SYSTEM\$(\w+)\s*\(\s*'([^']*)'\s*\)\s*;?\s*$""".r
  private val DropRe =
    """(?is)^\s*DROP\s+(TABLE|STREAM|PIPE|VIEW)\s+(?:IF\s+EXISTS\s+)?([\w.]+)\s*;?\s*$""".r
  private val TruncateRe =
    """(?is)^\s*TRUNCATE\s+(?:TABLE\s+)?(?:IF\s+EXISTS\s+)?([\w.]+)\s*;?\s*$""".r
  private val UpdateOrDeleteRe = """(?is)^\s*(?:UPDATE|DELETE)\b.*$""".r
  private val InsertRe =
    """(?is)^\s*INSERT\s+(INTO|OVERWRITE)(?:\s+INTO)?\s+(?:TABLE\s+)?([\w.]+)\s*(?:\(([\w\s,]+)\)\s*)?(SELECT.*|VALUES.*)$""".r
  private val MergeRe = """(?is)^\s*MERGE\s+INTO\s+.*$""".r

  /** Execute one statement; DDL/DML return None, queries return rows. */
  def execute(spark: SparkSession, store: TableStore, sql: String,
      session: Option[GraftSession] = None): Option[DataFrame] = {
    val sp = spark
    import sp.implicits._
    def sess: GraftSession =
      session.getOrElse(sys.error(s"statement needs a GraftSession (streams/pipes/tasks): $sql"))
    session.orElse(Option(store)).foreach(GraftCatalog.attach)
    def flatName(name: String): String = session.map(_.recordName(name)).getOrElse(name)
    // `@stage[/sub]` → the stage's directory
    def stagePath(at: String): String = at.split("/", 2) match {
      case Array(stage, sub) => sess.stageDir(stage) + "/" + sub
      case Array(stage) => sess.stageDir(stage)
    }
    def query(q: String): DataFrame = GraftSql.query(spark, store, session, q)
    val stmt = norm(SqlScanner.stripComments(sql), session)
    stmt match {
      case UseRe() => None

      case CreateCatalogObjRe(kind, name, _) =>
        // containers carry no behavior here (flat store namespace, Spark
        // compute) — record them so SHOW works and the README runs verbatim
        sess.recordCatalogObject(kind.toLowerCase.replaceAll("\\s+", " "), name)
        None

      case CreateFileFormatRe(name, optsBlob) =>
        sess.createFileFormat(name, parseFormatOptions(optsBlob))
        None

      case CreateTableCloneRe(replace, name, src, atKind, atVal) =>
        val flat = session.map(_.recordCreate(name)).getOrElse(name)
        val flatSrc = flatName(src)
        // validate the source BEFORE any drop: a self-clone (src resolves
        // to dst) or a missing source must not leave the destination
        // dropped by the OR REPLACE path
        require(!flatSrc.equalsIgnoreCase(flat),
          s"cannot clone $src onto itself ($flat)")
        require(store.exists(flatSrc), s"table $flatSrc does not exist")
        val version = Option(atKind).map(atVersion(store, flatSrc, _, atVal.toLong))
        if (store.exists(flat)) {
          if (replace != null) store.dropTable(flat)
          else sys.error(s"table $flat already exists (use CREATE OR REPLACE)")
        }
        store.cloneTable(flatSrc, flat, version)
        None

      case UndropTableRe(name) =>
        store.undropTable(flatName(name))
        None

      // must precede ADD COLUMN: `ADD SEARCH OPTIMIZATION ...` would
      // otherwise parse as a column named SEARCH
      case AlterTableSearchOptRe(name, cols) =>
        // Snowflake's search optimization service, as sidecar metadata:
        // subsequent batch writes carry per-file lookup blooms for these
        // columns; compact() backfills existing files
        store.declareLookup(flatName(name), cols.split(",").toIndexedSeq.map(_.trim).filter(_.nonEmpty))
        None

      case AlterTableAutoCompactRe(name, n) =>
        // Snowflake-style table property: the write-time auto-compaction
        // policy travels WITH the table, so every writer applies it
        store.setAutoCompact(flatName(name), Some(if (n.equalsIgnoreCase("OFF")) 0 else n.toInt))
        None

      case AlterTableUnsetAutoCompactRe(name) =>
        store.setAutoCompact(flatName(name), None)
        None

      case AlterTableAddColRe(name, colDdl) =>
        val flat = flatName(name)
        val (schema, defaults, autoInc) = parseColumns(colDdl)
        require(schema.fields.length == 1, s"ADD COLUMN takes one column: $colDdl")
        require(autoInc.isEmpty, "adding an AUTOINCREMENT column is not supported")
        val f = schema.fields.head
        store.addColumn(flat, f.name, f.dataType, defaults.get(f.name))
        None

      case AlterTableDropColRe(name, colName) =>
        store.dropColumn(flatName(name), colName)
        None

      case AlterTableRenameColRe(name, from, to) =>
        store.renameColumn(flatName(name), from, to)
        None

      case AlterTableClusterRe(name, zorder, cols) =>
        // ZORDER: multi-dimensional clustering (Delta's OPTIMIZE ZORDER
        // BY spelling grafted onto Snowflake's CLUSTER BY DDL)
        store.recluster(flatName(name), cols.split(",").toIndexedSeq.map(_.trim).filter(_.nonEmpty),
          zorder = zorder != null)
        None

      case AlterTableDropClusterRe(name) =>
        store.dropClusteringKey(flatName(name))
        None

      case CreateTableRe(replace, name, colsDdl, cluster1, keys, cluster2) =>
        val flat = session.map(_.recordCreate(name)).getOrElse(name)
        val (schema, defaults, autoInc) = parseColumns(colsDdl)
        val keyCols = Option(keys).map(_.split(",").toIndexedSeq.map(_.trim)).getOrElse(Nil)
        // Snowflake CLUSTER BY (before or after the graft KEYS extension)
        val clusterCols = Option(cluster1).orElse(Option(cluster2))
          .map(_.split(",").toIndexedSeq.map(_.trim).filter(_.nonEmpty)).getOrElse(Nil)
        if (store.exists(flat)) {
          if (replace != null) store.dropTable(flat)
          else sys.error(s"table $flat already exists (use CREATE OR REPLACE)")
        }
        store.createTable(flat, schema, keyCols, defaults, autoInc, clusterCols)
        None

      case CreateTableAsRe(replace, name, keys, body) =>
        val flat = session.map(_.recordCreate(name)).getOrElse(name)
        val rows = query(stripOuterParens(body))
        val keyCols = Option(keys).map(_.split(",").toIndexedSeq.map(_.trim)).getOrElse(Nil)
        if (store.exists(flat)) {
          if (replace == null) sys.error(s"table $flat already exists (use CREATE OR REPLACE)")
          // the SELECT may read the table being replaced (the standard
          // `create or replace t as select ... from t` pattern) and is
          // LAZY — materialize it into a staging table BEFORE dropping
          // the old files, then load the replacement from the staging copy
          val tmp = s"__ctas_tmp_$flat"
          if (store.exists(tmp)) store.dropTable(tmp, purge = true)
          store.createTable(tmp, rows.schema, keyCols)
          store.append(tmp, rows) // evaluates while the old files are alive
          store.dropTable(flat)
          store.createTable(flat, rows.schema, keyCols)
          store.append(flat, store.read(tmp))
          store.dropTable(tmp, purge = true)
        } else {
          store.createTable(flat, rows.schema, keyCols)
          store.append(flat, rows)
        }
        None

      case CreateViewRe(name, body) =>
        sess.createView(name, body)
        None

      case CreateStreamRe(name, table) =>
        sess.createStream(table, name)
        None

      case CreateStageRe(name, dir) =>
        sess.createStage(name, dir)
        None

      case CreatePipeRe(name, table, at, fmtOpts, fmtName) =>
        val inline = Option(fmtOpts).map(parseOptions).getOrElse(Map.empty)
        // FILE_FORMAT = (FORMAT_NAME='x') / FILE_FORMAT = x resolves the
        // named format (README's `create file format csv ...`); inline
        // options override the named ones
        val namedKey = inline.get("format_name").orElse(Option(fmtName))
        val named = namedKey.map(n => sess.fileFormat(n)
          .getOrElse(sys.error(s"unknown file format $n"))).getOrElse(Map.empty)
        val opts = named ++ (inline - "format_name")
        val format = opts.getOrElse("type", "csv").toLowerCase match {
          case "csv" => "csv"
          case "json" | "jsonl" => "jsonl"
          case t => sys.error(s"unsupported pipe file_format type $t")
        }
        val fmt = graft.ingest.CsvFormat(
          skipHeaderLines = opts.get("skip_header").map(_.toInt).getOrElse(0),
          delimiter = opts.get("field_delimiter").map(unescapeOpt).getOrElse(","),
          quote = opts.get("field_optionally_enclosed_by").map(unescapeOpt).getOrElse("\""),
          nullValue = opts.get("null_if").map(unescapeOpt).getOrElse("\\N"))
        val flatTable = sess.recordName(table)
        sess.createPipe(name, stagePath(at), flatTable, store.schemaOf(flatTable), fmt, format)
        None

      case CreateTaskRe(name, optsBlob, body) =>
        val flat = sess.recordName(name)
        // split the WHEN gate off first (it runs to the end of the blob),
        // then pick AFTER parents out of what precedes it
        val (beforeWhen, gate) = {
          val m = """(?is)\bWHEN\b\s+(.+)$""".r.findFirstMatchIn(optsBlob)
          m.map(x => (optsBlob.substring(0, x.start), Some(x.group(1).trim)))
            .getOrElse((optsBlob, None))
        }
        val after = """(?is)\bAFTER\s+([\w.]+(?:\s*,\s*[\w.]+)*)""".r
          .findFirstMatchIn(beforeWhen)
          .map(_.group(1).split(",").toIndexedSeq.map(p => sess.recordName(p.trim)))
          .getOrElse(Nil)
        val when: () => Boolean = gate match {
          case None => () => true
          case Some(g) => parseGate(g, sess)
        }
        val theSession = sess
        sess.tasks.createOrReplaceTask(Task(
          name = flat,
          body = () => { execute(spark, store, body, Some(theSession)); () },
          after = after,
          when = when))
        None

      case AlterTaskRe(name, action) =>
        val flat = sess.recordName(name)
        if (action.equalsIgnoreCase("RESUME")) sess.tasks.resume(flat)
        else sess.tasks.suspend(flat)
        None

      case AlterPipePauseRe(name, paused) =>
        if (paused.equalsIgnoreCase("TRUE")) sess.pipe(name).pause()
        else sess.pipe(name).resume()
        None

      case AlterPipeRefreshRe(name) =>
        sess.pipe(name).refresh()
        None

      case ShowRe(what) => Some(what.toLowerCase.replaceAll("\\s+", " ") match {
        case "tables" => store.listTables().toDF("name")
        case "streams" => sess.listStreams().toDF("name", "table_name", "offset", "pending_versions")
        case "pipes" => sess.listPipes().toDF("name", "status")
        case "stages" => sess.listStages().toDF("name", "url")
        case "views" => sess.listViews().toDF("name")
        case "tasks" => sess.tasks.listTasks().toDF("name", "state", "after")
        case "warehouses" => sess.listCatalogObjects("warehouse").toDF("name")
        case "databases" => sess.listCatalogObjects("database").toDF("name")
        case "schemas" => sess.listCatalogObjects("schema").toDF("name")
        case "file formats" => sess.listFileFormats().toDF("name", "type")
      })

      case ListStageRe(at) =>
        val p = new org.apache.hadoop.fs.Path(stagePath(at))
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val files =
          if (!fs.exists(p)) Seq.empty[(String, Long, java.sql.Timestamp)]
          else {
            val it = fs.listFiles(p, true)
            val buf = Seq.newBuilder[(String, Long, java.sql.Timestamp)]
            while (it.hasNext) {
              val st = it.next()
              buf += ((st.getPath.toString, st.getLen,
                new java.sql.Timestamp(st.getModificationTime)))
            }
            buf.result()
          }
        Some(files.sortBy(_._1).toDF("name", "size", "last_modified"))

      case SystemFnRe(fn, arg) => fn.toLowerCase match {
        case "pipe_status" => Some(Seq(sess.pipe(arg).status).toDF("status"))
        case "pipe_force_resume" =>
          val p = sess.pipe(arg)
          if (!p.isRunning) p.resume()
          Some(Seq(s"pipe $arg resumed").toDF("result"))
        case "stream_has_data" => Some(Seq(sess.stream(arg).hasData).toDF("has_data"))
        case other => sys.error(s"unknown system function system$$$other")
      }

      case DropRe(kind, name) => kind.toLowerCase match {
        case "table" =>
          val flat = flatName(name)
          store.dropTable(flat)
          session.foreach(_.recordDrop(flat))
          None
        case "stream" => sess.dropStream(name); None
        case "pipe" => sess.dropPipe(name); None
        case "view" => sess.dropView(name); None
      }

      case TruncateRe(name) =>
        val flat = flatName(name)
        if (store.exists(flat)) store.truncate(flat)
        else if (!stmt.toLowerCase.contains("if exists"))
          sys.error(s"table $flat does not exist")
        None

      case UpdateOrDeleteRe() =>
        // read by Spark's parser, like MERGE
        def flat(table: LogicalPlan) = flatName(MergeSql.tableRef(table)._1)
        def column(e: Expression) = GraftColumnBridge.column(e)
        MergeSql.parsePlan(stmt) match {
          case DeleteFromTable(table, cond) => store.delete(flat(table), column(cond))
          case UpdateTable(table, assignments, cond) =>
            val sets = assignments.map {
              case Assignment(k: UnresolvedAttribute, v) => k.nameParts.mkString(".") -> column(v)
              case other => throw new IllegalArgumentException(s"bad SET assignment: $other")
            }.toMap
            store.update(flat(table), column(cond.getOrElse(Literal.TrueLiteral)), sets)
          case _ => throw new IllegalArgumentException(s"unsupported statement: ${stmt.take(200)}")
        }
        None

      case InsertRe(mode, name, colList, body) =>
        val flat = flatName(name)
        val rows = query(body)
        // INSERT ... SELECT is POSITIONAL (Snowflake semantics): rename
        // the query's columns to the target names by position before the
        // store's by-name align. An explicit column list narrows the
        // targets; omitted columns take their DEFAULT (or null).
        val targetNames = Option(colList)
          .map(_.split(",").toIndexedSeq.map(_.trim).filter(_.nonEmpty))
          .getOrElse(store.schemaOf(flat).fieldNames.toIndexedSeq)
        require(rows.columns.length <= targetNames.length,
          s"INSERT query has ${rows.columns.length} columns but targets ${targetNames.length}")
        val positional = rows.toDF(targetNames.take(rows.columns.length): _*)
        if (mode.equalsIgnoreCase("OVERWRITE")) store.overwrite(flat, positional)
        else store.append(flat, positional)
        None

      case MergeRe() =>
        val pm = MergeSql.parse(timeTravel(store, session, stmt))
        def merge(): Unit = MergeSql.runWith(spark, store, pm, pm.sourceQuery
          .map(rewriteQualify(_)(spark.sql)).getOrElse(spark.table(pm.source)))
        // a stream named directly or inside a USING (subquery), as the
        // reference's item script does, is consumed; __action stays
        // visible to branch conditions and is never written
        val stream = session.flatMap(se =>
          pm.sourceQuery.map(MergeSql.relations).getOrElse(Seq(pm.source)).flatMap(se.streamOpt).headOption)
        stream.fold(merge())(_.consume(_ => merge()))
        None

      case other =>
        // a CREATE TABLE that matched none of the handled shapes must NOT
        // leak into the spark.sql passthrough (it would silently create a
        // Spark catalog table instead of a store table)
        if ("""(?is)^\s*CREATE\s+(?:OR\s+REPLACE\s+)?(?:TRANSIENT\s+|TEMP(?:ORARY)?\s+)?TABLE\b""".r
            .findFirstIn(other).isDefined)
          sys.error(s"unsupported CREATE TABLE form (not columns/CTAS/CLONE): ${other.take(200)}")
        Some(query(other))
    }
  }

  /** A query body, read the one way every statement, graft view and MERGE
    * source is: `AT (…)` respelled ([[timeTravel]]), QUALIFY rewritten
    * ([[rewriteQualify]]), then analyzed by `spark`. */
  private[graft] def query(spark: SparkSession, store: TableStore,
      session: Option[GraftSession], q: String): DataFrame =
    rewriteQualify(timeTravel(store, session, q))(spark.sql)

  private val AtRe =
    """(?i)([\w.]+)\s+AT\s*\(\s*(VERSION|OFFSET)\s*=>\s*(-?\d+)\s*\)""".r

  /** Snowflake time travel, spelled the way Spark's parser reads it:
    * `t AT (VERSION => n)` becomes `t VERSION AS OF n`, and
    * `t AT (OFFSET => -k)` becomes the version k commits back.
    * [[graft.spark.ResolveGraftNames]] reads that version of the store
    * table (the store's manifests are immutable, so any retained version
    * is exactly reconstructable — [[TableStore.readVersion]]). */
  private def timeTravel(store: TableStore, session: Option[GraftSession], sql: String): String =
    SqlScanner.mapCode(sql)(AtRe.replaceAllIn(_, m => {
      val flat = session.map(_.recordName(m.group(1))).getOrElse(m.group(1))
      java.util.regex.Matcher.quoteReplacement(
        s"$flat VERSION AS OF ${atVersion(store, flat, m.group(2), m.group(3).toLong)}")
    }))

  /** `AT (VERSION => n)` is version n; `AT (OFFSET => -k)` is k commits
    * before the current version. */
  private def atVersion(store: TableStore, table: String, kind: String, n: Long): Long =
    if (kind.equalsIgnoreCase("VERSION")) n else store.currentVersion(table) + n

  /** Execute a script of `;`-separated statements; returns the rows of
    * the final statement if it was a query. */
  def executeScript(spark: SparkSession, store: TableStore, script: String,
      session: Option[GraftSession] = None): Option[DataFrame] =
    splitStatements(SqlScanner.stripComments(script)).foldLeft(Option.empty[DataFrame]) { (_, stmt) =>
      execute(spark, store, stmt, session)
    }

  /** Worksheet mode: execute every statement, collecting failures instead
    * of aborting — how the reference scripts are actually run (pasted
    * statement-by-statement into a worksheet, where one bad statement
    * doesn't roll back the rest; the reference scripts contain statements
    * that fail in Snowflake too, e.g. `alter task pause_pipe resume` names
    * a task that doesn't exist — SURVEY.md §0 known-bugs). Returns
    * (statement, error) for each failed statement. */
  def executeScriptLenient(spark: SparkSession, store: TableStore, script: String,
      session: Option[GraftSession] = None): Seq[(String, String)] = {
    val errs = Seq.newBuilder[(String, String)]
    splitStatements(SqlScanner.stripComments(script)).foreach { stmt =>
      try execute(spark, store, stmt, session)
      catch {
        case e: Exception =>
          errs += stmt -> Option(e.getMessage).getOrElse(e.getClass.getName).take(300)
      }
    }
    errs.result()
  }

  // ---- helpers ------------------------------------------------------------

  /** Qualified → flat name normalization using the session's name map.
    * Quote-aware: identifiers inside '...'/"..." string literals are data
    * (e.g. `INSERT ... VALUES ('stg.stg_customer')`), not names — only
    * unquoted spans are substituted. The one quoted place a qualified name
    * IS a name — system$ function arguments — resolves via the session at
    * the call site ([[parseGate]], [[SystemFnRe]] handlers). */
  private def norm(sql: String, session: Option[GraftSession]): String =
    session.map(se => SqlScanner.mapCode(sql) { span =>
      se.nameMap.foldLeft(span) { case (acc, (full, flat)) =>
        acc.replaceAll("(?i)(?<![\\w.])" + java.util.regex.Pattern.quote(full) + "(?![\\w.])", flat)
      }
    }).getOrElse(sql)

  /** Snowflake `QUALIFY <pred>` → standard SQL. The predicate (window
    * functions and select-list aliases allowed, as in Snowflake) is
    * evaluated as an extra column over the rest of the query block, then
    * filtered and dropped:
    * {{{
    *   SELECT ... FROM ... QUALIFY row_number() OVER (...) = 1 ORDER BY k
    *   -- becomes --
    *   SELECT * EXCEPT(__qualify) FROM
    *     (SELECT *, (row_number() OVER (...) = 1) AS __qualify FROM (SELECT ... FROM ...) __qualify_src)
    *   WHERE __qualify ORDER BY k
    * }}}
    * which is exactly Snowflake's semantics (QUALIFY runs after grouping,
    * before ORDER BY/LIMIT). Only a top-level QUALIFY is rewritten;
    * the scan is quote- and paren-aware. Stays fully inside Catalyst —
    * the window, filter, and column prune all plan natively.
    *
    * Two rewrite forms cover Snowflake's two resolution cases, which Spark
    * cannot satisfy with one query shape:
    *  - INJECTED (preferred): the predicate joins the block's select list,
    *    so BASE columns the projection drops still resolve;
    *  - WRAPPER (fallback): predicate over the projected output — needed
    *    when the predicate's OVER clause references a select-list alias
    *    (Spark rejects lateral aliases inside window specs,
    *    UNSUPPORTED_FEATURE.LATERAL_COLUMN_ALIAS_IN_WINDOW).
    * `analyze` takes the injected form first and gets the wrapper ONLY on
    * that specific error; any other analysis failure surfaces as is. The
    * caller keeps what `analyze` returns, so a query is analyzed once and
    * the table functions in it run once. */
  private[graft] def rewriteQualify[T](sql: String)(analyze: String => T): T = {
    val toks = SqlScanner.tokens(sql)
    def top(from: Int, until: Int)(words: String*) =
      (from until until).find(i => toks(i).depth == 0 && words.exists(w => toks(i).is(w)))
    val q = top(0, toks.length)("qualify").getOrElse(return analyze(sql))
    val head = sql.substring(0, toks(q).start).trim
    // the predicate runs to a top-level ORDER BY / LIMIT or the end
    val (pred, tail) = top(q + 1, toks.length)("order", "limit") match {
      case None => (sql.substring(toks(q).end).trim.stripSuffix(";").trim, "")
      case Some(t) => (sql.substring(toks(q).end, toks(t).start).trim,
        sql.substring(toks(t).start).trim.stripSuffix(";").trim)
    }
    // inject the predicate INTO the query block's select list (not a wrapper
    // over the projected output): Snowflake QUALIFY may reference BASE
    // columns the projection drops, and select-list aliases — both resolve
    // there (aliases via Spark's lateral column alias resolution). The
    // block's top-level FROM splits "SELECT <list>" from "FROM <rest>".
    val from = top(0, q)("from").filter(f => sql.substring(0, toks(f).start).trim.nonEmpty)
    val distinct = head.matches("(?is)^\\s*select\\s+distinct\\b.*")
    val tailSql = if (tail.isEmpty) "" else " " + tail
    // wrapper form: predicate over the projected output (select-list
    // aliases resolve everywhere; dropped base columns do not)
    val wrapper =
      s"SELECT * EXCEPT(__qualify) FROM (SELECT *, ($pred) AS __qualify FROM ($head) __qualify_src) " +
        s"WHERE __qualify" + tailSql
    if (from.isDefined && !distinct) {
      val f = toks(from.get).start
      val injected =
        s"SELECT * EXCEPT(__qualify) FROM (${sql.substring(0, f).trim}, " +
          s"($pred) AS __qualify ${sql.substring(f, toks(q).start).trim}) " +
          s"WHERE __qualify" + tailSql
      try analyze(injected)
      catch {
        case e: org.apache.spark.sql.AnalysisException
            if Option(e.getCondition).getOrElse("").contains("LATERAL_COLUMN_ALIAS") ||
               e.getMessage.contains("LATERAL_COLUMN_ALIAS") =>
          analyze(wrapper)
      }
    } else
      // no FROM / SELECT DISTINCT: the injected form cannot apply
      analyze(wrapper)
  }

  /** Strip one balanced outer paren pair (and a trailing `;`) from a CTAS
    * body — `CREATE TABLE t AS (SELECT ...)`. */
  private[sql] def stripOuterParens(body: String): String = {
    val s = body.trim.stripSuffix(";").trim
    val toks = SqlScanner.tokens(s)
    if (toks.nonEmpty && toks.head.is('(') && SqlScanner.closing(toks, 0) == toks.length - 1)
      s.substring(1, s.length - 1).trim
    else s
  }

  /** `WHEN [NOT] system$stream_has_data('s')` task gates. */
  private def parseGate(gate: String, sess: GraftSession): () => Boolean = {
    val GateRe = """(?is)^\s*(NOT\s+)?SYSTEM\$STREAM_HAS_DATA\s*\(\s*'([^']*)'\s*\)\s*$""".r
    gate match {
      case GateRe(not, stream) =>
        val flat = sess.recordName(stream)
        if (not == null) () => sess.stream(flat).hasData
        else () => !sess.stream(flat).hasData
      case other => sys.error(s"unsupported task WHEN gate: $other")
    }
  }

  /** Snowflake FILE FORMAT body: whitespace/newline-separated `key = value`
    * options where a value is a quoted string, a parenthesized list
    * (`NULL_IF = ('\\N', '')` — the first element is the writer's null
    * token), or a bare token (reference README.md:37-45). */
  private[sql] def parseFormatOptions(blob: String): Map[String, String] = {
    val OptRe = """(?s)(\w+)\s*=\s*('(?:[^'\\]|\\.)*'|\([^)]*\)|\S+)""".r
    OptRe.findAllMatchIn(blob).map { m =>
      val k = m.group(1).toLowerCase
      val raw = m.group(2).trim
      val v =
        if (raw.startsWith("(") && raw.endsWith(")"))
          SqlScanner.splitTopLevel(raw.substring(1, raw.length - 1), ',')
            .map(_.trim).headOption.getOrElse("")
        else raw
      k -> v.stripPrefix("'").stripSuffix("'")
    }.toMap
  }

  /** Snowflake option-value escapes: octal char codes (`\042` → `"`) and
    * doubled backslashes (`\\N` → `\N`). */
  private def unescapeOpt(v: String): String =
    """\\([0-7]{3})""".r.replaceAllIn(v, m =>
      java.util.regex.Matcher.quoteReplacement(
        Integer.parseInt(m.group(1), 8).toChar.toString))
      .replace("\\\\", "\\")

  /** `TYPE='CSV', SKIP_HEADER=1, ...` option lists. */
  private def parseOptions(opts: String): Map[String, String] =
    SqlScanner.splitTopLevel(opts, ',').map(_.trim).filter(_.nonEmpty).map { kv =>
      val i = kv.indexOf('=')
      require(i > 0, s"bad option: $kv")
      kv.take(i).trim.toLowerCase -> kv.drop(i + 1).trim.stripPrefix("'").stripSuffix("'")
    }.toMap

  /** Snowflake column DDL → (schema, defaults, autoincrement cols).
    * Handles `number[(p,s)]`, `varchar(n)`, `autoincrement`/`identity`,
    * `default <expr>`, `not null` (reference customer-...sql:31-45). */
  private[sql] def parseColumns(ddl: String): (StructType, Map[String, String], Seq[String]) = {
    val defaults = Map.newBuilder[String, String]
    val autoInc = Seq.newBuilder[String]
    val fields = SqlScanner.splitTopLevel(ddl, ',').map(_.trim).filter(_.nonEmpty).map { colDef =>
      val m = """(?s)^(\w+)\s+(.+)$""".r.findFirstMatchIn(colDef)
        .getOrElse(sys.error(s"bad column definition: $colDef"))
      val name = m.group(1)
      var rest = m.group(2).trim
      val defM = """(?is)\bDEFAULT\s+(.+)$""".r.findFirstMatchIn(rest)
      defM.foreach { d =>
        defaults += name -> d.group(1).trim
        rest = rest.substring(0, d.start).trim
      }
      var isAuto = false
      val autoM = """(?is)\b(AUTOINCREMENT|IDENTITY)\b""".r.findFirstMatchIn(rest)
      autoM.foreach { a =>
        isAuto = true
        autoInc += name
        rest = (rest.substring(0, a.start) + rest.substring(a.end)).trim
      }
      rest = rest.replaceAll("(?i)\\bNOT\\s+NULL\\b", "").trim
      val sparkType = mapType(rest, isAuto)
      s"$name $sparkType"
    }
    (StructType.fromDDL(fields.mkString(", ")), defaults.result(), autoInc.result())
  }

  /** Snowflake type name → Spark DDL type. */
  private def mapType(t: String, isAuto: Boolean): String = {
    val NumberRe = """(?i)^(?:NUMBER|NUMERIC|DECIMAL)\s*(?:\(\s*(\d+)\s*(?:,\s*(\d+)\s*)?\))?$""".r
    val VarcharRe = """(?i)^(?:VARCHAR|CHAR|CHARACTER|STRING|TEXT)\s*(?:\(\s*\d+\s*\))?$""".r
    if (isAuto) "bigint"
    else t.trim match {
      case NumberRe(p, s) =>
        if (p == null) "decimal(38,0)" else s"decimal($p,${Option(s).getOrElse("0")})"
      case VarcharRe() => "string"
      case x if x.matches("(?i)TIMESTAMP(_NTZ|_LTZ|_TZ)?|DATETIME") => "timestamp"
      case x if x.matches("(?i)FLOAT[48]?|REAL|DOUBLE(\\s+PRECISION)?") => "double"
      case other => other // int/bigint/date/boolean/binary/... are Spark DDL already
    }
  }

  /** Split a script into statements at every `;` outside literals and
    * comments. */
  private[sql] def splitStatements(script: String): Seq[String] =
    SqlScanner.split(script)(_.is(';')).map(_.trim).filter(_.nonEmpty)
}
