package graft.streaming

import java.nio.file.{FileAlreadyExistsException => NioExists, Files => NioFiles, Paths => NioPaths}

import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path}
import org.apache.spark.sql.SparkSession

/** Epoch-fenced commit log: the check-and-swap publish primitive behind
  * the versioned stores ([[StreamingUpsert]]'s snapshots and
  * [[graft.ext.AnnIndex]]'s revisions). A single-writer pointer loses
  * updates: two concurrent folds race on publish and the loser's fold
  * silently vanishes. This log makes publish OPTIMISTICALLY CONCURRENT,
  * the scheme table formats use (Delta's `_delta_log/<n>.json`
  * exclusive-create): a writer that folded from epoch E may only
  * publish as epoch E+1, and creating the epoch file is
  * ATOMIC-EXCLUSIVE — exactly one of two racing writers wins; the loser
  * DETECTS the conflict (a plain false, no torn state), re-reads the
  * winner's snapshot, re-folds, retries.
  *
  * Layout: `dir/_commits/<zero-padded epoch>` one immutable file per
  * commit, content = the version string it publishes (`v=<...>` — the
  * data directory name under `dir/`). The current version is the
  * highest epoch's content. Commit files are written fully to a temp
  * name FIRST and made visible in one atomic step, so a reader can
  * never observe a torn or partial pointer:
  *  - HDFS-like stores: `FileContext.rename(tmp, dst, Rename.NONE)` —
  *    namenode-atomic, fails if dst exists;
  *  - local filesystems: Hadoop's no-overwrite rename is check-then-act
  *    over POSIX rename(2) (which overwrites), so the atomic EEXIST
  *    primitive is link(2) — `Files.createLink` (also what makes the
  *    two-writer spec a REAL race test, not a mocked one);
  *  - object stores without atomic create-if-absent need a fencing
  *    service (e.g. a DynamoDB/ZK lock — what Delta on S3 does); the
  *    log ENFORCES that requirement — an undeclared non-atomic scheme
  *    is refused at commit time, not silently raced (declare fenced
  *    schemes via `graft.commitlog.atomic.rename.schemes`).
  *
  * Epochs are dense (1, 2, 3, …): `tryCommit(expected = E)` writes
  * E+1, so the log itself proves no update was lost — every fold that
  * returned true owns exactly one epoch.
  */
object CommitLog {

  /** One published commit: the log position and the data-directory
    * version string it points at. */
  final case class Commit(epoch: Long, version: String)

  private def fs(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def commitsPath(dir: String) = new Path(s"$dir/_commits")

  private val EpochWidth = 20 // zero-padded long: lexical order = numeric

  private def read(f: FileSystem, p: Path): String = {
    val in = f.open(p)
    try new String(in.readAllBytes(), "UTF-8").trim finally in.close()
  }

  /** Committed epoch FILE paths at `dir`, name-ascending (zero-padding
    * makes lexical order = epoch order). Listing only — no contents
    * read. Temp files mid-publish are excluded. */
  private def epochFiles(f: FileSystem, dir: String): Seq[Path] = {
    val p = commitsPath(dir)
    if (!f.exists(p)) Nil
    else f.listStatus(p).toSeq.map(_.getPath)
      .filter(q => q.getName.nonEmpty && q.getName.forall(_.isDigit))
      .sortBy(_.getName)
  }

  /** All commits at `dir`, epoch-ascending. Empty when the log does not
    * exist yet (a fresh store). Reads every epoch file —
    * use [[current]] / [[descending]] on hot paths; [[truncate]] bounds
    * the log length for the full readers (vacuum, time travel). */
  def commits(spark: SparkSession, dir: String): Seq[Commit] = {
    val f = fs(spark, dir)
    epochFiles(f, dir).map(p => Commit(p.getName.toLong, read(f, p)))
  }

  /** Commits newest-first, contents read LAZILY — a caller scanning for
    * the most recent commit matching a predicate (e.g. the replay guard
    * looking for its own writer tag) reads only as many files as it
    * consumes, not the whole log. */
  def descending(spark: SparkSession, dir: String): Iterator[Commit] = {
    val f = fs(spark, dir)
    epochFiles(f, dir).reverseIterator
      .map(p => Commit(p.getName.toLong, read(f, p)))
  }

  /** The head commit, or None when the log is empty. One listing + ONE
    * file read (the lexically-largest name — zero-padding makes that the
    * highest epoch), not a full-log scan: this is the per-micro-batch
    * hot path, and reading O(total commits) files per batch made a
    * long-running stream cumulatively quadratic. */
  def current(spark: SparkSession, dir: String): Option[Commit] = {
    val f = fs(spark, dir)
    epochFiles(f, dir).lastOption.map(p => Commit(p.getName.toLong, read(f, p)))
  }

  /** Drop epoch files for commits older than the newest `keepEpochs`,
    * KEEPING every epoch named in `alsoKeep` (the caller's replay-guard
    * set — each writer's newest commit must survive truncation or a
    * restarted writer would re-apply an already-published batch).
    * Meant to run with retention vacuum: a truncated log no longer
    * proves density from epoch 1, but every surviving commit is still
    * immutable and totally ordered. */
  def truncate(spark: SparkSession, dir: String, keepEpochs: Int,
      alsoKeep: Set[Long] = Set.empty): Unit = {
    require(keepEpochs >= 1, "keepEpochs must be >= 1 (the head always stays)")
    val f = fs(spark, dir)
    epochFiles(f, dir).dropRight(keepEpochs)
      .filterNot(p => alsoKeep.contains(p.getName.toLong))
      .foreach(p => f.delete(p, false))
  }

  /** Attempt to publish `version` as epoch `expectedEpoch + 1`. Returns
    * true iff THIS call created the epoch file — false means another
    * writer committed first (the caller saw a stale head and must
    * re-read, re-fold, retry or abort). The version content is fully
    * durable before the commit becomes visible; a false return leaves
    * no observable state behind. */
  def tryCommit(spark: SparkSession, dir: String, expectedEpoch: Long,
      version: String): Boolean = {
    require(expectedEpoch >= 0, s"expectedEpoch must be >= 0, got $expectedEpoch")
    require(version.nonEmpty && !version.contains('\n'),
      s"version must be a non-empty single line, got '$version'")
    val conf = spark.sparkContext.hadoopConfiguration
    // scheme check BEFORE any filesystem call — refusing an object store
    // must not require instantiating its client first
    val scheme = Option(new Path(dir).toUri.getScheme)
      .orElse(Option(org.apache.hadoop.fs.FileSystem.getDefaultUri(conf)
        .getScheme))
      .getOrElse("file")
    val extraAtomic =
      conf.getTrimmedStrings("graft.commitlog.atomic.rename.schemes").toSet
    if (!AtomicRenameSchemes.contains(scheme) && !extraAtomic.contains(scheme))
      throw new UnsupportedOperationException(
        s"CommitLog requires an atomic-exclusive create and scheme " +
          s"'$scheme' does not provide one (its no-overwrite rename is " +
          "check-then-act) — front the log with an external fencing " +
          "service and declare the scheme via the Hadoop conf " +
          "'graft.commitlog.atomic.rename.schemes'")
    val f = fs(spark, dir)
    val cp = commitsPath(dir)
    f.mkdirs(cp)
    val dst = new Path(cp, s"%0${EpochWidth}d".format(expectedEpoch + 1))
    if (f.exists(dst)) return false // fast-path: already lost
    val tmp = new Path(cp, s".tmp-${java.util.UUID.randomUUID}")
    val out = f.create(tmp, true)
    try out.write(version.getBytes("UTF-8")) finally out.close()
    try {
      if (scheme == "file") {
        try {
          NioFiles.createLink(
            NioPaths.get(f.makeQualified(dst).toUri.getPath),
            NioPaths.get(f.makeQualified(tmp).toUri.getPath))
          true
        } catch { case _: NioExists => false }
      } else {
        val fc = FileContext.getFileContext(
          dst.toUri, spark.sparkContext.hadoopConfiguration)
        try { fc.rename(tmp, dst, Options.Rename.NONE); true }
        catch {
          case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
          case _: NioExists => false
        }
      }
    } finally {
      try f.delete(tmp, false) catch { case _: java.io.IOException => () }
    }
  }

  /** Filesystems whose no-overwrite rename is a true namenode/metadata
    * atomic (plus `file`, where the log uses link(2) instead). Object
    * stores (s3a, gs, oss, …) implement Rename.NONE as check-then-act —
    * two racing writers can BOTH "win", silently reintroducing the lost
    * update this log exists to prevent — so the log REFUSES them rather
    * than documenting the hazard away. Extend via the Hadoop conf key
    * `graft.commitlog.atomic.rename.schemes` (comma-separated) when
    * fronted by an external fencing service (what Delta on S3 does with
    * DynamoDB). */
  private val AtomicRenameSchemes =
    Set("file", "hdfs", "viewfs", "abfs", "abfss")
}
