package graft.store

import java.util.concurrent.atomic.AtomicReference

import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}

/** The ONE cross-JVM commit point both graft coordination protocols
  * reduce to: atomically publish `content` at `path` iff nothing exists
  * there, then READ IT BACK — the caller won iff its exact bytes
  * survived verbatim. Used by [[TableStore]]'s versioned-manifest
  * commit (`_versions/v<n>` — the winner OWNS that version) and by
  * [[Artifacts]]' claim lock (`_claims/<table>.claim` — the winner
  * holds the build lease).
  *
  * Layered guarantee, per store (the same split Delta Lake documents
  * for its `_delta_log` protocol):
  *
  *  - '''HDFS''': `FileSystem.create(overwrite=false)` is atomic (the
  *    namenode serializes the namespace check and create) — the create
  *    alone decides, and the read-back is a cheap invariant check.
  *  - '''Local filesystem''': Hadoop's local create(false) is an
  *    exists() probe followed by a truncating open (no `O_EXCL`), which
  *    let two racers both win one path; [[AtomicCreate]] claims the path
  *    with an `O_EXCL` create first, so the create alone decides, as on
  *    HDFS. The injected-creator specs still exercise the unfenced
  *    window.
  *  - '''Object stores without a conditional write''': the
  *    [[AtomicCreate]] fallback's `create(false)` is check-then-create
  *    (a HEAD then a PUT), NOT atomic. The token read-back closes most
  *    of the window — two interleaved creators each verify against the
  *    LAST content written, so at most one (possibly zero) sees its own
  *    bytes and wins; a zero-winner version is an mtime-quiet corpse both
  *    protocols already break ([[TableStore.awaitBaseAdvance]],
  *    [[Artifacts.publish]]'s stale-claim break). The residual —
  *    reader A read-back-verifies BEFORE writer B's overwriting PUT
  *    lands, then B's content replaces the "committed" file — needs a
  *    store-side fence to close fully (CommitPointSpec's
  *    overwrite-after-read-back arm demonstrates the residual is
  *    real).
  *  - '''Object stores with a conditional write''': the store-side
  *    fence — [[ConditionalCreate]], the one creator, makes the create
  *    carry the filesystem's conditional-write option
  *    (`fs.option.create.conditional.overwrite`, Hadoop 3.4.2+
  *    `Options.CreateFileOptionKeys`; S3A maps it to an
  *    `If-None-Match: *` PUT, native on S3 since 2024 and on
  *    GCS/ABFS), so exclusivity is decided atomically AT PUT TIME by
  *    the store, not by a stale HEAD. A late overwriting PUT is
  *    rejected by the store itself; the read-back stays as a cheap
  *    invariant check. Filesystems that don't understand the option
  *    (the local filesystem among them) fall back to [[AtomicCreate]]
  *    on each create; an external coordinator (DynamoDB-style, as
  *    S3-era Delta used) remains the alternative for stores with no
  *    conditional write at all.
  *
  * The `creator` seam is also how the protocol is TESTED: specs inject
  * a deliberately non-atomic check-then-create ([[withCreator]]) and
  * prove that even then the manifest protocol never yields two winners
  * for one version.
  */
object CommitPoint {

  /** The pluggable atomic-create seam. `createIfAbsent` returns true
    * iff THIS caller materialized `p` (best effort — the read-back in
    * [[publish]] is the final arbiter, so a lying creator degrades to
    * lost races, never to two winners... provided its lie converges to
    * one final content, which any real store's PUT does). */
  trait Creator {
    def createIfAbsent(fs: FileSystem, p: Path, bytes: Array[Byte]): Boolean
  }

  /** Exclusive create: `create(overwrite = false)` — atomic on HDFS,
    * check-then-create on S3A (see the object scaladoc for why the
    * read-back still bounds that). On the local filesystem Hadoop's
    * `create(false)` is an `exists()` probe and then a truncating open,
    * so a racer whose open lands after another racer wrote and read back
    * its bytes truncates a version that racer already won; the path is
    * therefore claimed with an `O_EXCL` create first. [[ConditionalCreate]]'s
    * fallback. */
  object AtomicCreate extends Creator {
    override def createIfAbsent(fs: FileSystem, p: Path,
        bytes: Array[Byte]): Boolean =
      try {
        val out = fs match {
          case local: LocalFileSystem =>
            fs.mkdirs(p.getParent)
            java.nio.file.Files.createFile(local.pathToFile(p).toPath) // throws if taken
            fs.create(p, true)
          case _ => fs.create(p, false) // throws if the path is taken
        }
        try out.write(bytes) finally out.close()
        true
      } catch { case _: java.io.IOException => false }
  }

  /** Conditional-write creator — the store-side fence. Asks the
    * filesystem for create-with-`If-None-Match` semantics through the
    * public builder option (Hadoop 3.4.2+
    * `Options.CreateFileOptionKeys.FS_OPTION_CREATE_CONDITIONAL_OVERWRITE`,
    * requested with `must` so a store that recognizes option keys and
    * can't honor it REJECTS at build time instead of silently
    * degrading), layered on `overwrite(false)`: on S3A the PUT itself
    * is conditional (exclusivity decided by the store at PUT time — the
    * fence), on HDFS/POSIX the exclusive create is already atomic, and
    * a filesystem that rejects the option falls back to
    * [[AtomicCreate]]. The create is recursive (missing parent dirs are
    * made), as the fallback's is. An IOException from the conditional
    * build/write/close path is a LOST RACE (the store refused the PUT
    * because the object exists), exactly like a failed exclusive
    * create. Every commit goes through it. */
  object ConditionalCreate extends Creator {
    // Options.CreateFileOptionKeys lives in hadoop-common 3.4.2+; keep
    // the literal in sync with the constant (binding to the interface
    // field would be equivalent — the string IS the public contract)
    private[store] val ConditionalOverwriteKey =
      org.apache.hadoop.fs.Options.CreateFileOptionKeys
        .FS_OPTION_CREATE_CONDITIONAL_OVERWRITE

    override def createIfAbsent(fs: FileSystem, p: Path,
        bytes: Array[Byte]): Boolean = {
      val built =
        try {
          val b = fs.createFile(p).overwrite(false).recursive()
          b.must(ConditionalOverwriteKey, true)
          Some(b.build())
        } catch {
          case _: UnsupportedOperationException | _: IllegalArgumentException =>
            None // FS rejected the option — not conditional-capable
          case _: java.io.IOException => return false // path taken
        }
      built match {
        case None => AtomicCreate.createIfAbsent(fs, p, bytes)
        case Some(out) =>
          try { out.write(bytes); out.close(); true }
          catch { case _: java.io.IOException =>
            // the conditional PUT (S3A: at close()) was rejected — lost
            try out.close() catch { case _: java.io.IOException => }
            false
          }
      }
    }
  }

  private val creator = new AtomicReference[Creator](ConditionalCreate)

  /** Swap the creator for the duration of `body` — test-only seam for
    * injecting non-atomic creates. Global (both protocols see it),
    * which is the point: one shim exercises every commit path. */
  private[graft] def withCreator[T](c: Creator)(body: => T): T = {
    val prev = creator.getAndSet(c)
    try body finally creator.set(prev)
  }

  /** One commit attempt: create-if-absent `content` at `p`, then read
    * it back — true iff OUR bytes are what the path now serves. False
    * means a lost race (someone else's content, or a torn/vanished
    * write): the caller must treat the path as foreign and rebase or
    * wait, never retry-overwrite. */
  def publish(fs: FileSystem, p: Path, content: String): Boolean = {
    val bytes = content.getBytes("UTF-8")
    val created = creator.get().createIfAbsent(fs, p, bytes)
    created && (try readBack(fs, p) == content
      catch { case _: java.io.IOException => false })
  }

  private def readBack(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
  }
}
