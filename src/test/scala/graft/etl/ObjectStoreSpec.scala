package graft.etl

import java.net.URI
import java.nio.file.Files
import java.sql.Timestamp

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path, RawLocalFileSystem}

import graft.SparkSpec

/** Local disk under another scheme: a Hadoop `FileSystem` registered
  * through `fs.<scheme>.impl`, so paths keep their scheme end to end and
  * every call a job makes on them goes through this class. */
abstract class SchemeLocalFileSystem extends RawLocalFileSystem {
  /** A constant: the base-class constructor reads it through [[getUri]]. */
  protected def scheme: String
  private var fsUri: URI = _
  override def initialize(name: URI, conf: Configuration): Unit = {
    fsUri = URI.create(s"${name.getScheme}://${name.getAuthority}")
    super.initialize(name, conf)
  }
  // the base-class constructor qualifies its working dir through getUri
  // before initialize() has run — fall back until the real URI is known
  override def getUri: URI =
    if (fsUri == null) URI.create(s"$scheme:///") else fsUri
  override def getScheme: String = scheme

  // the base class's statuses load permissions LAZILY via `new File(uri)`,
  // which rejects non-file schemes — return eagerly-filled statuses instead
  private def fill(s: org.apache.hadoop.fs.FileStatus): org.apache.hadoop.fs.FileStatus =
    new org.apache.hadoop.fs.FileStatus(
      s.getLen, s.isDirectory, s.getReplication, s.getBlockSize,
      s.getModificationTime, s.getAccessTime,
      if (s.isDirectory) org.apache.hadoop.fs.permission.FsPermission.getDirDefault
      else org.apache.hadoop.fs.permission.FsPermission.getFileDefault,
      "", "", s.getPath)
  override def getFileStatus(f: Path): org.apache.hadoop.fs.FileStatus =
    fill(super.getFileStatus(f))
  override def listStatus(f: Path): Array[org.apache.hadoop.fs.FileStatus] =
    super.listStatus(f).map(fill)
}

/** In-process object-store stand-in: local disk registered under the
  * `s3a://` scheme via `fs.s3a.impl` — the same pattern Hadoop's and
  * Spark's own committer suites use for S3 tests without a network.
  * Renames happen to stay atomic on the local backing store; what the
  * suite verifies is the ENGINE's half of the contract on a real `s3a://`
  * URI (reference analog: the S3 integration test at
  * `etl/tests/test_etl_integration.py:77-139`): scheme detection flips the
  * committer to write-once-per-runId, dynamic partition overwrite is
  * withheld, and outputs, manifests, and incremental scheduling all resolve
  * on the object-store filesystem rather than the default one. */
class FakeS3FileSystem extends SchemeLocalFileSystem {
  override protected def scheme: String = "s3a"
}

class ObjectStoreSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  private lazy val hc = {
    val c = spark.sparkContext.hadoopConfiguration
    c.set("fs.s3a.impl", classOf[FakeS3FileSystem].getName)
    c.set("fs.s3a.impl.disable.cache", "true")
    c
  }

  /** Local source fixture + an s3a:// output root over the same temp dir. */
  private def fixture(): (JobSpec, String, String) = {
    val root = Files.createTempDirectory("graft_os").toString
    val src = s"$root/src"
    Seq(
      (ts("2024-03-01 00:00:00"), 1L, 2.0, 0, "AK"),
      (ts("2024-03-01 00:15:00"), 1L, 4.0, 0, "AK"),
      (ts("2024-03-01 00:00:00"), 2L, 6.0, 1, "AK"))
      .toDF("timestamp", "bldg_id", "m", "upgrade", "state")
      .repartition(1) // one source file per partition dir — pins the ledger counts
      .write.partitionBy("upgrade", "state").parquet(src)
    val spec = JobSpec("rel", "2024", "AK", Seq(0, 1), src, s"$root/nometa")
    (spec, s"s3a://graft-test-bucket$root/out", root)
  }

  test("end-to-end ETL onto an s3a:// output root") {
    val (spec, outRoot, root) = fixture()
    hc // force registration before any s3a path is touched
    // detection, not override: the scheme alone must pick the contract
    assert(JobRunner.isObjectStore(outRoot, hc))
    val res = JobRunner.run(spark, spec, outRoot, "run1")

    // output lands on the object-store filesystem and reads back from it
    assert(res.dataOut.startsWith("s3a://graft-test-bucket"))
    val got = spark.read.parquet(res.dataOut)
    assert(got.count() === 2) // two (upgrade, hour) groups
    assert(got.select("upgrade").distinct().as[Int].collect().sorted === Array(0, 1))
    // ... and physically exists on the backing store (went through our FS)
    assert(new java.io.File(s"$root/out/run1/data/rel/2024/AK").exists())

    // ledger: clean run over the s3a sink
    assert(res.ledger.listed === 2 && res.ledger.processed === 2)
    assert(res.ledger.discrepancies.isEmpty)
    assert(res.ledger.inputRows === 3 && res.ledger.outputRows === 2)

    // manifest was written on the OBJECT-STORE fs, where scheduling reads it
    val m = new Path(s"$outRoot/run1/manifest/rel/2024/AK/processed.txt")
    assert(m.getFileSystem(hc).exists(m))
    assert(JobRunner.processedSoFar(spark, outRoot, spec).size === 2)
  }

  test("write-once-per-runId on s3a: re-run replaces the whole job dir") {
    val (spec, outRoot, _) = fixture()
    hc
    val res = JobRunner.run(spark, spec, outRoot, "run1")
    assert(spark.read.parquet(res.dataOut)
      .select("upgrade").distinct().as[Int].collect().sorted === Array(0, 1))
    // subset re-run, same runId: dynamic overwrite is withheld on object
    // stores, so the whole per-job dir is replaced — upgrade=0 is gone
    JobRunner.run(spark, spec.copy(upgrades = Seq(1)), outRoot, "run1")
    assert(spark.read.parquet(res.dataOut)
      .select("upgrade").distinct().as[Int].collect().sorted === Array(1))
  }

  test("incremental scheduling reads manifests back off s3a") {
    val (spec, outRoot, _) = fixture()
    hc
    JobRunner.run(spark, spec, outRoot, "run1")
    // nothing new: the second run must schedule zero files via the
    // manifests it finds under the s3a output root
    val inc = JobRunner.runIncremental(spark, spec, outRoot, "run2")
    assert(inc.ledger.listed === 0 && inc.ledger.processed === 0)
  }
}
