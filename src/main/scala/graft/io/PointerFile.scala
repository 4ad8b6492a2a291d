package graft.io

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, Options, Path, UnsupportedFileSystemException}

/** A small text file that names the current generation of something (a
  * snapshot directory, a manifest), or a commit marker, replaced whole.
  *
  * [[publish]] writes the new content to a temp sibling ([[staging]]),
  * closes it, then renames it over the pointer with
  * `Options.Rename.OVERWRITE`. On `file:` (graft's `NioLocalFs`) and HDFS
  * that rename is atomic: the pointer names the old content, then the
  * new. A crash before the rename leaves the old pointer whole, and the
  * next publish overwrites the temp file.
  *
  * Elsewhere the flip is delete-then-rename: the stock `FileContext`
  * rename (s3a, abfs) or, on a store with no `AbstractFileSystem` binding
  * (gs), `FileSystem.delete` + `rename`. A crash in between leaves only
  * the complete temp file, and [[read]] serves it; the next publish then
  * restores the pointer.
  */
object PointerFile {

  /** The temp sibling a publish of `ptr` writes before its rename. */
  def staging(ptr: Path): Path = ptr.suffix(".tmp")

  /** Point `ptr` at `content`. */
  def publish(ptr: Path, content: String, hconf: Configuration): Unit = {
    stage(ptr, content, hconf)
    val fc = try Some(FileContext.getFileContext(ptr.toUri, hconf))
      catch { case _: UnsupportedFileSystemException => None }
    fc match {
      case Some(fc) => fc.rename(staging(ptr), ptr, Options.Rename.OVERWRITE)
      case None =>
        val fs = ptr.getFileSystem(hconf)
        fs.delete(ptr, false)
        if (!fs.rename(staging(ptr), ptr))
          throw new java.io.IOException(s"could not rename ${staging(ptr)} to $ptr")
    }
  }

  /** The first half of [[publish]]: the temp sibling written and closed,
    * the pointer not yet renamed over. */
  private[graft] def stage(ptr: Path, content: String, hconf: Configuration): Unit = {
    val out = ptr.getFileSystem(hconf).create(staging(ptr), true)
    try out.write(content.getBytes(UTF_8)) finally out.close()
  }

  /** The content `ptr` names; a flip cut between its delete and its rename
    * left only the temp file, which then holds it. None before the first
    * publish (no pointer, and no temp file or an empty one). */
  def read(ptr: Path, hconf: Configuration): Option[String] = {
    val fs = ptr.getFileSystem(hconf)
    def content(p: Path): String = {
      val in = fs.open(p)
      try new String(in.readAllBytes(), UTF_8).trim finally in.close()
    }
    if (fs.exists(ptr)) Some(content(ptr))
    else if (fs.exists(staging(ptr))) Some(content(staging(ptr))).filter(_.nonEmpty)
    else None
  }
}
