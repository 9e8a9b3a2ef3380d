package graft.core

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

/** File-level signature (names + sizes + nanosecond mtimes + child count — no
  * data scan) of a file or a directory's direct children, MD5-hex. The
  * corpus-file half of the staleness rule in [[Derived]]: the IVF index,
  * the stream source copy, the KgRunner run and the in-memory model, slice,
  * centroid, schema and broadcast slots sign their input with it (the
  * stages derived from the document text use [[Derived.contentSig]], which
  * `ReaderStage.corpusSig` recomputes only when this signature flips).
  *
  * Granularity note: mtimes are hashed at NANOSECOND resolution
  * (`FileTime.to(NANOSECONDS)`), so an in-place regeneration that reproduces
  * identical names and sizes still flips the signature unless the filesystem
  * itself reports coarse timestamps AND the rewrite lands inside one tick —
  * the residual blind spot is the filesystem's own mtime resolution, not the
  * milliseconds this used to truncate to. The directory child COUNT is hashed
  * explicitly too, so adding/removing a zero-length same-named part file
  * can't alias.
  */
object FileSig {

  def of(pathStr: String): String = {
    val dir = Paths.get(pathStr)
    val parts: Seq[String] =
      if (Files.isDirectory(dir)) {
        val s = Files.list(dir)
        try {
          val it = s.iterator()
          val b = Seq.newBuilder[String]
          while (it.hasNext) b += entry(it.next())
          val children = b.result().sorted
          (s"n=${children.length}" +: children)
        } finally s.close()
      } else if (Files.exists(dir)) Seq(entry(dir))
      // absent input signs as the path string — a clear "missing" signature
      // that flips as soon as the input appears, instead of an opaque
      // NoSuchFileException out of the caller's marker check
      else Seq(dir.toString)
    val d = java.security.MessageDigest.getInstance("MD5")
    parts.foreach(s => d.update(s.getBytes(StandardCharsets.UTF_8)))
    hex(d.digest())
  }

  private def entry(p: Path): String = {
    val mtimeNanos =
      Files.getLastModifiedTime(p).to(java.util.concurrent.TimeUnit.NANOSECONDS)
    s"${p.getFileName}:${Files.size(p)}:$mtimeNanos"
  }

  private val HexChars = "0123456789abcdef".toCharArray

  private[core] def hex(bytes: Array[Byte]): String = {
    val out = new Array[Char](bytes.length * 2)
    var i = 0
    while (i < bytes.length) {
      val b = bytes(i) & 0xff
      out(i * 2) = HexChars(b >>> 4)
      out(i * 2 + 1) = HexChars(b & 0xf)
      i += 1
    }
    new String(out)
  }
}
