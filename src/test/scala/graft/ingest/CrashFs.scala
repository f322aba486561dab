package graft.ingest

import java.net.URI
import java.util.concurrent.atomic.AtomicReference

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The local filesystem under its own `crashfs` scheme, with one armed
  * crash: the next create of a path the armed predicate matches throws
  * [[CrashFs.Crash]] instead of creating it — a writer that dies at that
  * point. The crash is not an IOException, which the commit protocol
  * reads as a lost race and retries. */
class CrashFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create("crashfs:///")
  override def getScheme: String = "crashfs"

  override protected def createOutputStreamWithMode(f: Path, append: Boolean,
      permission: FsPermission): java.io.OutputStream = {
    CrashFs.check(f)
    super.createOutputStreamWithMode(f, append, permission)
  }
}

object CrashFs {
  final class Crash(p: Path) extends RuntimeException(s"injected crash creating $p")

  private val armed = new AtomicReference[Path => Boolean](null)

  /** Route `crashfs:` paths of `conf` to this filesystem. */
  def register(conf: Configuration): Unit = conf.set("fs.crashfs.impl", classOf[CrashFs].getName)

  /** Crash the next create of a path `at` matches (once). */
  def arm(at: Path => Boolean): Unit = armed.set(at)

  private def check(p: Path): Unit = {
    val at = armed.get
    if (at != null && at(p) && armed.compareAndSet(at, null)) throw new Crash(p)
  }
}
