package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query-name filter (local iteration)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = GraftSession.sparkSession(cpus)
    new java.io.File(outDir).mkdirs()
    // Per-query wall-clock budget: ONE pathological query must cost one
    // red row, not the whole artifact (the e23 incident voided all 88
    // rows). Each query runs on its own daemon thread; on expiry we
    // cancel its Spark jobs and move on — a thread stuck driver-side
    // (e.g. plan stringification) keeps burning its core but no longer
    // blocks the suite, and daemon threads don't block JVM exit.
    val timeoutSec =
      sys.env.getOrElse("SPARK_GRAFT_VERIFY_TIMEOUT_SEC", "120").toLong
    val pool = java.util.concurrent.Executors.newCachedThreadPool(r => {
      val t = new Thread(r, "verify-query"); t.setDaemon(true); t
    })
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      val fut = pool.submit(new java.util.concurrent.Callable[Unit] {
        def call(): Unit = {
          spark.sparkContext.setJobGroup(name, name, interruptOnCancel = true)
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
        }
      })
      try fut.get(timeoutSec, java.util.concurrent.TimeUnit.SECONDS)
      catch {
        case _: java.util.concurrent.TimeoutException =>
          System.err.println(s"[verify] $name failed: timeout after ${timeoutSec}s")
          fut.cancel(true)
          spark.sparkContext.cancelJobGroup(name)
        case e: java.util.concurrent.ExecutionException =>
          val cause = Option(e.getCause).getOrElse(e)
          System.err.println(s"[verify] $name failed: ${cause.getMessage}")
          if (sys.env.contains("SPARK_GRAFT_VERIFY_TRACE")) cause.printStackTrace()
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
