package graft

import java.io.IOException
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.nio.file.attribute.FileTime

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** Small filesystem helpers shared by the CLI and the test-fixture
  * machinery: one implementation per rule instead of per-site copies (a
  * fix to one copy was not reaching the others).
  *
  * The one rule for derived directories under [[tmpRoot]] (the synthetic
  * pcap fixtures, the fixture oracles, the scale corpus's leftovers):
  *   - [[publish]] writes into a dot-prefixed staging sibling and renames
  *     it into place atomically, so no reader ever sees a partial target
  *     and an existing target is never rewritten;
  *   - [[touch]] refreshes the mtime of a directory a run is using
  *     (reads do not), so other JVMs see it as live;
  *   - [[sweepIdle]] deletes a leftover only when nothing anywhere under
  *     it was modified for the idle window ([[IdleMs]] unless the caller
  *     has a reason for another).
  */
private[graft] object Fs {

  /** The JVM temp root every derived directory lives under. */
  def tmpRoot: Path = Paths.get(sys.props("java.io.tmpdir"))

  /** Idle window of the derived-directory sweeps: a healthy derivation or
    * run touches its directories well inside an hour.
    */
  val IdleMs: Long = 60 * 60 * 1000L

  /** Best-effort recursive delete: deepest-first walk, each entry via
    * `deleteIfExists` (a concurrent deletion is not an error), NonFatal
    * failures swallowed — callers use this for temp/staging state whose
    * leftover presence is tolerable but whose cleanup must never take
    * the run down. Fatal throwables (InterruptedException, OOM)
    * propagate: a Ctrl-C-initiated shutdown must not have its interrupt
    * eaten by a cleanup helper (round-9 review).
    */
  def deleteTree(p: Path): Unit =
    try {
      val walk = Files.walk(p)
      try walk.iterator().asScala.toSeq.sortBy(-_.getNameCount)
        .foreach(Files.deleteIfExists(_))
      finally walk.close()
    } catch { case NonFatal(_) => () }

  /** Publish `target` unless it exists: `write` fills the staging sibling
    * `.tmp_<name>_<8 hex>` (dot-prefixed, so Spark's file listing never
    * shows it), which is then renamed into place with `ATOMIC_MOVE`.
    * `write` is not called for an existing target, so a present fixture
    * skips its derivation. Same target means same content for every
    * caller, so losing the rename race to a rival is benign: the staging
    * copy is dropped and the rival's target kept. Any other failure
    * drops the staging copy and throws an `IOException`.
    */
  def publish(target: Path)(write: Path => Unit): Unit =
    if (!Files.exists(target)) {
      val staging = target.resolveSibling(
        s".tmp_${target.getFileName}_${java.util.UUID.randomUUID().toString.take(8)}")
      try {
        write(staging)
        Files.move(staging, target, StandardCopyOption.ATOMIC_MOVE)
      } catch { case e: Throwable =>
        deleteTree(staging)
        if (!NonFatal(e)) throw e
        if (!Files.exists(target))
          throw new IOException(s"could not publish $target", e)
      }
    }

  /** Best-effort liveness beacon: set `p`'s mtime to now. */
  def touch(p: Path): Unit =
    try Files.setLastModifiedTime(p, FileTime.fromMillis(System.currentTimeMillis()))
    catch { case NonFatal(_) => () }

  /** Delete the entries of `dir` that `select` picks and whose newest
    * mtime anywhere under them is older than `idleMs` — a top-level
    * directory mtime only moves when a direct child appears, so a long
    * write deeper in the tree would otherwise look idle. An unreadable
    * entry counts as live. Best-effort; returns the paths it deleted.
    */
  def sweepIdle(dir: Path, idleMs: Long)(select: Path => Boolean): Seq[Path] = {
    val cutoff = System.currentTimeMillis() - idleMs
    val picked =
      try {
        val listing = Files.list(dir)
        try listing.iterator().asScala.filter(select).toList
        finally listing.close()
      } catch { case NonFatal(_) => Nil }
    picked.filter(newestMtime(_) < cutoff)
      .filter { p => deleteTree(p); !Files.exists(p) }
  }

  private def newestMtime(p: Path): Long =
    try {
      val walk = Files.walk(p)
      try walk.iterator().asScala.foldLeft(Long.MinValue) { (mx, f) =>
        math.max(mx, Files.getLastModifiedTime(f).toMillis)
      } finally walk.close()
    } catch { case NonFatal(_) => Long.MaxValue }
}
