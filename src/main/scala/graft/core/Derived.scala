package graft.core

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.ConcurrentHashMap

/** The one staleness rule for everything derived from a corpus.
  *
  * On disk, a derived copy (reader-format fixtures, sequential goldens, the
  * checkpointed bucketed run, the IVF index, the streaming source copy) is
  * fresh exactly when its marker file holds the current signature:
  * [[ensure]]. In memory, a derived value (model, eval slice, centroids,
  * inferred schema, broadcast) lives in a [[Memo]] slot that holds one value
  * per slot and releases it when a new signature supersedes it.
  */
object Derived {

  /** MD5 over `version`, then every `(doc_id, text)` in order (8-byte
    * big-endian id, UTF-8 text), lower-case hex — the content signature of
    * the stages derived from the documents themselves
    */
  def contentSig(version: String, docs: Seq[(Long, String)]): String = {
    val d = java.security.MessageDigest.getInstance("MD5")
    d.update(version.getBytes(StandardCharsets.UTF_8))
    docs.foreach { case (id, text) =>
      d.update(java.nio.ByteBuffer.allocate(8).putLong(id).array())
      d.update(text.getBytes(StandardCharsets.UTF_8))
    }
    FileSig.hex(d.digest())
  }

  private val markerLocks = new ConcurrentHashMap[Path, AnyRef]()

  /** Runs `build` unless `marker` already holds `sig`. Calls on one marker
    * path are serialized within the JVM, so two callers never build into the
    * same place at once. A stale marker is deleted before `build` runs and
    * `sig` is written (tmp file + atomic rename) only after it returns, so a
    * build that fails partway is never taken for fresh.
    */
  def ensure(marker: Path, sig: String)(build: => Unit): Unit = {
    val m = marker.toAbsolutePath.normalize
    markerLocks.computeIfAbsent(m, _ => new Object).synchronized {
      val fresh = Files.isRegularFile(m) &&
        new String(Files.readAllBytes(m), StandardCharsets.UTF_8) == sig
      if (!fresh) {
        Files.deleteIfExists(m)
        build
        Files.createDirectories(m.getParent)
        val tmp = m.resolveSibling(s"${m.getFileName}.tmp")
        Files.write(tmp, sig.getBytes(StandardCharsets.UTF_8))
        Files.move(tmp, m, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
      }
    }
  }

  /** One live value per slot. `get(slot, sig)` runs `build` at most once per
    * (slot, sig); a new sig for a slot releases the value it supersedes, once
    * and best-effort, before building its replacement. Calls on one slot are
    * serialized; different slots build independently.
    */
  final class Memo[V](release: V => Unit) {
    private final class Cell { var live: Option[(String, V)] = None }
    private val cells = new ConcurrentHashMap[String, Cell]()

    def get(slot: String, sig: String)(build: => V): V = {
      val cell = cells.computeIfAbsent(slot, _ => new Cell)
      cell.synchronized {
        cell.live match {
          case Some((`sig`, v)) => v
          case old =>
            cell.live = None
            old.foreach { case (_, v) => scala.util.Try(release(v)) }
            val v = build
            cell.live = Some((sig, v))
            v
        }
      }
    }

    /** number of slots holding a live value */
    def size: Int = {
      var n = 0
      cells.values().forEach(c => if (c.synchronized(c.live.isDefined)) n += 1)
      n
    }
  }
}
