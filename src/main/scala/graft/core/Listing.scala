package graft.core

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}

/** Recursive file listing that never asks a file for its permissions.
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

  /** Every file under `root` (or `root` itself, when it is a file) whose
    * path passes `keep`, descending into every sub-directory — the set
    * `fs.listFiles(root, true)` yields. */
  def files(fs: FileSystem, root: Path, keep: Path => Boolean): Seq[FileStatus] = {
    val out = ArrayBuffer.empty[FileStatus]
    def walk(dir: Path): Unit = fs.listStatus(dir).foreach { s =>
      if (s.isDirectory) walk(s.getPath)
      else if (keep(s.getPath)) out += s
    }
    walk(root)
    out.toSeq
  }
}
