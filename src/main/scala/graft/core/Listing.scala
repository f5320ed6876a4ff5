package graft.core

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}

/** The engine's one recursive file listing; it never asks a file for its permissions.
  *
  * `FileSystem.listFiles(dir, true)` wraps every file in a
  * `LocatedFileStatus`, whose constructor reads the file's permission. On
  * the local filesystem without the native Hadoop library that read forks a
  * `stat` process per file (about 3 ms each), so listing cost grows with the
  * file count instead of staying a metadata walk. A plain `listStatus` walk
  * returns the same files in the same depth-first order without that
  * lookup; it is how Spark's own `HadoopFSUtils` lists a scan's input.
  */
object Listing {

  /** Spark's data-file filter: `_SUCCESS`, `_temporary/`, `.crc` are not
    * data; a `_`-prefixed `key=value` partition directory is. */
  private def hidden(name: String): Boolean =
    (name.startsWith("_") && !name.contains("=")) || name.startsWith(".")

  /** Every non-hidden file under `root` (or `root` itself, when it is a
    * file) whose path passes `keep`, descending into every non-hidden
    * sub-directory: one `listStatus` per directory visited. A `root` that
    * does not exist lists as empty. */
  def files(fs: FileSystem, root: Path, keep: Path => Boolean): Seq[FileStatus] = {
    val out = ArrayBuffer.empty[FileStatus]
    def visit(entries: Array[FileStatus]): Unit = entries.foreach { s =>
      if (!hidden(s.getPath.getName)) {
        if (s.isDirectory) visit(fs.listStatus(s.getPath))
        else if (keep(s.getPath)) out += s
      }
    }
    visit(try fs.listStatus(root) catch { case _: java.io.FileNotFoundException => Array.empty })
    out.toSeq
  }
}
