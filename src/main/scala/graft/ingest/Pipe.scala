package graft.ingest

import java.util.concurrent.{Executors, ScheduledExecutorService, TimeUnit}

import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.store.TableStore

/** Auto-ingest pipe: landing dir → COPY INTO stage table (SURVEY.md §2.1
  * S3/S4, §2.9 ST1/ST6; reference: README.md:3 SQS→pipe,
  * customer-end-to-end-pipeline-script.sql:51-56, pause/resume
  * customer-...sql:68,179).
  *
  * Each landed file is loaded exactly once. The ledger that says so is
  * the stage table's own ([[TableStore.loadedFiles]]), the way Snowpipe
  * keeps per-file load metadata with the table (ST6). A [[refresh]]:
  *  1. lists the landing dir (not recursively) for `*.csv` (`*.jsonl`)
  *     files, skipping hidden `_`/`.` names;
  *  2. drops every file the ledger already names;
  *  3. parses the rest with the reference CSV semantics ([[CsvIngest]])
  *     or as JSON lines;
  *  4. commits them with one [[TableStore.append]], whose manifest also
  *     adds them to the ledger — rows and ledger publish together, so a
  *     crash before the publish loads nothing and a crash after it
  *     loaded everything once. New files with no rows still commit, to
  *     enter the ledger.
  * If a concurrent refresh (another session over the same store) commits
  * some of the same files first, the append commits nothing and the
  * refresh starts over with what is still new.
  *
  * The ledger outlives the pipe: CREATE OR REPLACE PIPE, another session,
  * TRUNCATE and compaction of the stage table keep it. Dropping and
  * recreating the stage table starts an empty ledger, so every file still
  * in the landing dir loads again.
  *
  * Lifecycle: `start` (auto_ingest=true) polls with [[refresh]] every
  * `intervalMs` on one daemon thread; `pause` stops the poll after an
  * in-flight refresh completes; `resume` starts it again
  * (system$pipe_force_resume); `runOnce` (ALTER PIPE … REFRESH) refreshes
  * on the caller's thread, also while the poll runs.
  */
class Pipe(
    spark: SparkSession,
    val name: String,
    landingDir: String,
    stageTable: String,
    schema: StructType,
    store: TableStore,
    fmt: CsvFormat = CsvFormat(),
    format: String = "csv") {

  require(format == "csv" || format == "jsonl", s"unsupported pipe format $format")

  private val suffix = if (format == "jsonl") ".jsonl" else ".csv"

  /** The landed files, as the ledger records them. A name with a line
    * break is left out: a manifest holds one ledger line per file. */
  private def landed(): Seq[TableStore.LoadedFile] = {
    val dir = new Path(landingDir)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val listing =
      try fs.listStatus(dir).toIndexedSeq
      catch { case _: java.io.FileNotFoundException => Nil }
    listing.filter { st =>
      val n = st.getPath.getName
      st.isFile && n.endsWith(suffix) && !n.startsWith("_") && !n.startsWith(".") &&
        !n.exists(c => c == '\n' || c == '\r')
    }.map(st => TableStore.LoadedFile(st.getPath.toString, st.getLen, st.getModificationTime))
      .sortBy(_.path)
  }

  private def parse(paths: Seq[String]): DataFrame =
    if (format == "csv") CsvIngest.read(spark, paths, schema, fmt)
    else {
      // JSONL: one JSON object per line; schema-projected permissive
      // parse (missing fields null, as with the CSV path)
      val lines = CsvIngest.fileTexts(spark, paths).flatMap((text: String) =>
        text.split("\n", -1).iterator.map(_.trim).filter(_.nonEmpty))(Encoders.STRING)
      spark.read.schema(schema).option("mode", "PERMISSIVE").json(lines)
    }

  /** Load every landed file the stage table's ledger does not name yet,
    * in one commit. */
  def refresh(): Unit = synchronized {
    var done = false
    while (!done) {
      val seen = store.loadedFiles(stageTable).map(_.path).toSet
      val fresh = landed().filterNot(f => seen(f.path))
      done = fresh.isEmpty || store.append(stageTable, parse(fresh.map(_.path)), fresh)
    }
  }

  /** ALTER PIPE … REFRESH. */
  def runOnce(): Unit = refresh()

  private val lifecycle = new Object
  @volatile private var poll: Option[ScheduledExecutorService] = None

  /** auto_ingest: refresh every `intervalMs` until paused. */
  def start(intervalMs: Long = 1000L): Unit = lifecycle.synchronized {
    require(poll.isEmpty, s"pipe $name already running")
    val ex = Executors.newSingleThreadScheduledExecutor { r =>
      val t = new Thread(r, s"graft-pipe-$name")
      t.setDaemon(true)
      t
    }
    ex.scheduleWithFixedDelay(() =>
      try refresh()
      catch { case NonFatal(e) =>
        org.slf4j.LoggerFactory.getLogger(getClass).warn(s"pipe $name: refresh failed", e)
      }, 0L, intervalMs, TimeUnit.MILLISECONDS)
    poll = Some(ex)
  }

  /** alter pipe ... set pipe_execution_paused = true */
  def pause(): Unit = {
    val stopped = lifecycle.synchronized { val p = poll; poll = None; p }
    stopped.foreach { ex =>
      ex.shutdown()
      ex.awaitTermination(Long.MaxValue, TimeUnit.MILLISECONDS)
    }
  }

  /** system$pipe_force_resume */
  def resume(intervalMs: Long = 1000L): Unit = start(intervalMs)

  /** system$pipe_status (F5). */
  def status: String = if (isRunning) "RUNNING" else "PAUSED"

  def isRunning: Boolean = poll.nonEmpty
}
