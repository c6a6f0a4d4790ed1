package graft.ops

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import scala.jdk.CollectionConverters._

import graft.streaming.StreamingOps

/** The engine's process-wide memos: intermediates that several queries
  * share ("fit once, serve every consumer"). Every memo is a [[Memo]],
  * which registers itself and the registry names of the queries that
  * read it when it is built. [[clearAll]] empties every memo, so the
  * next consumer refills it; Bench clears at the start of each timed
  * pass (the first consumer of a pass pays the fill, later ones hit),
  * and times each of [[consumerNames]] once right after a clear
  * (BENCH_COLD.json).
  *
  * Keys that depend on a fixture use [[fixture]]: the file's path plus
  * its content fingerprint, so a rewrite under the same path is a miss,
  * never a stale hit.
  */
object Memos {

  /** Temp trees made by one fill. The memo deletes them when it is
    * cleared, or at once if the fill throws.
    */
  final class Fill private[Memos] {
    private[Memos] val dirs = new ConcurrentLinkedQueue[String]()

    /** A fresh [[StreamingOps.tempSinkDir]] owned by this fill. */
    def tempDir(prefix: String): String = {
      val d = StreamingOps.tempSinkDir(prefix)
      dirs.add(d)
      d
    }
  }

  /** A typed memo. [[get]] fills each key at most once per [[clear]]:
    * concurrent readers of one key wait on that key's cell while the
    * first runs the fill, other keys (including ones the fill itself
    * reads) are never blocked, and the map lock is held only to add an
    * empty cell. A fill that throws caches nothing; the next [[get]]
    * fills again. A fill still running when the memo is cleared keeps
    * its trees until JVM exit.
    */
  final class Memo[K, V](private[Memos] val consumers: String*) {
    private final class Cell {
      @volatile private var filled: Option[(V, Seq[String])] = None
      private var filling = false

      def get(fill: Fill => V): V = filled match {
        case Some((v, _)) => v
        case None => synchronized {
          if (filled.isEmpty) {
            require(!filling, "a memo fill read its own key")
            filling = true
            val f = new Fill
            try filled = Some((fill(f), f.dirs.asScala.toSeq))
            catch { case e: Throwable =>
              f.dirs.forEach(d => StreamingOps.deleteRecursively(d))
              throw e
            } finally filling = false
          }
          filled.get._1
        }
      }

      def release(): Unit =
        filled.foreach(_._2.foreach(StreamingOps.deleteRecursively))
    }

    private val cells = new ConcurrentHashMap[K, Cell]()

    def get(key: K)(fill: Fill => V): V =
      cells.computeIfAbsent(key, _ => new Cell).get(fill)

    /** Drop every key, then delete the trees of the dropped fills: the
      * cell leaves the map first, so no reader is handed a deleted path.
      */
    private[Memos] def clear(): Unit =
      cells.keySet.forEach(k => Option(cells.remove(k)).foreach(_.release()))

    register(this)
  }

  private val memos = new ConcurrentLinkedQueue[Memo[_, _]]()

  private def register(m: Memo[_, _]): Unit = memos.add(m)

  /** Drop every registered memo — the next consumer refits/redrains. */
  def clearAll(): Unit = memos.forEach(_.clear())

  /** Registry names of every memo-reading query, for Bench's cold
    * probe. Deduplicated, insertion-ordered.
    */
  def consumerNames: Seq[String] =
    memos.asScala.flatMap(_.consumers).toSeq.distinct

  /** A fixture file as a memo key component: its path and content. */
  final case class Fixture(path: String, fingerprint: String)

  def fixture(path: String): Fixture = Fixture(path, dirFingerprint(path))

  /** Cheap content fingerprint of a data directory (or single file):
    * MD5 over the RECURSIVE sorted (relative path, length, mtime)
    * listing. Recursion catches rewrites inside partition
    * subdirectories (a child file's change does not bump the parent
    * dir's mtime), and the 128-bit digest removes the 32-bit
    * `String.hashCode` collision surface — both silent-stale-hit
    * holes. Parquet fixture rewrites always touch file
    * metadata, so this catches the rewrite without reading a byte of
    * data. Missing paths fingerprint as "absent" rather than throwing —
    * the memo's own read path reports the real error.
    */
  def dirFingerprint(path: String): String = {
    val root = new java.io.File(path)
    if (!root.exists()) "absent"
    else {
      // listFiles() is null for unreadable/concurrently-deleted dirs
      // (walk the rest rather than NPE), and symlinks are skipped: a
      // cyclic link would recurse unboundedly, and a link's target
      // mutating is the target path's business
      def walk(f: java.io.File, rel: String): Seq[String] =
        if (java.nio.file.Files.isSymbolicLink(f.toPath)) Seq(s"$rel:symlink")
        else if (f.isDirectory)
          Option(f.listFiles()).getOrElse(Array.empty).sortBy(_.getName)
            .flatMap(c => walk(c, s"$rel/${c.getName}")).toSeq
        else Seq(s"$rel:${f.length()}:${f.lastModified()}")
      val listing = walk(root, "").mkString("|")
      java.security.MessageDigest.getInstance("MD5")
        .digest(listing.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    }
  }
}
