package graft.sources

import graft.SparkTestBase
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

/** The writer lease (VERDICT r12 #2): conflicting writers are REJECTED
  * loudly, stale leases are taken over, a post-takeover original
  * aborts at its commit point, and every mutating entry point
  * (batch write, compact, recluster, ingestEpoch) participates. */
class JsonLeaseSpec extends SparkTestBase {

  private def fsOf(p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def freshTable(name: String, files: Int = 3): String = {
    val dir = new java.io.File(graft.TempRoots.path(name))
    dir.mkdirs()
    (0 until files).foreach { i =>
      val w = new java.io.PrintWriter(new java.io.File(dir, f"f$i%03d.json"))
      (0 until 5).foreach(j => w.println(s"""{"id": ${i * 10 + j}, "s": "v$i"}"""))
      w.close()
    }
    dir.toString
  }

  /** What a default Hadoop client gets for `file://`: a checksummed
    * LocalFileSystem. Uncached, so the session's shared raw instance is
    * untouched. */
  private def checksummedFs(): org.apache.hadoop.fs.FileSystem = {
    val conf = new org.apache.hadoop.conf.Configuration(
      spark.sparkContext.hadoopConfiguration)
    conf.set("fs.file.impl", classOf[org.apache.hadoop.fs.LocalFileSystem].getName)
    conf.setBoolean("fs.file.impl.disable.cache", true)
    val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI("file:///"), conf)
    assert(fs.isInstanceOf[org.apache.hadoop.fs.LocalFileSystem])
    fs
  }

  test("acquire, release and takeover through a checksummed LocalFileSystem raise no ChecksumException and leave no sidecar") {
    val fs = checksummedFs()
    val root = fs.makeQualified(new Path(freshTable("lease_checksummed")))
    val lp = JsonLease.leasePath(root)
    val leaseDir = new java.io.File(lp.getParent.toUri)
    // release may remove the emptied lease directory itself
    def listed() = Option(leaseDir.list()).toSeq.flatten
    def sidecars() = listed().filter(_.endsWith(".crc"))
    // every read goes through the CHECKSUMMED fs: a stale sidecar
    // beside the lease would throw ChecksumException here
    def holder() = graft.ops.Fs.readFullyUtf8(fs, lp)
    val first = JsonLease.acquire(fs, root, "first")
    assert(holder().startsWith("first@") && sidecars().isEmpty, sidecars())
    first.release()
    assert(!fs.exists(lp) && sidecars().isEmpty, sidecars())
    val dead = JsonLease.acquire(fs, root, "crashed-run")
    fs.setTimes(lp, System.currentTimeMillis() - JsonLease.DefaultTtlMs - 1000, -1)
    val usurper = JsonLease.acquire(fs, root, "takeover")
    assert(holder().startsWith("takeover@") && sidecars().isEmpty, sidecars())
    intercept[IllegalStateException](dead.verifyHeld())
    dead.release()
    usurper.verifyHeld()
    usurper.release()
    assert(!fs.exists(lp), "the takeover's release left the lease")
    assert(listed().isEmpty, s"debris: ${listed()}")
  }

  test("second acquire fails loudly while the lease is fresh; succeeds after release") {
    val dir = freshTable("lease_basic")
    val root = new Path(dir)
    val fs = fsOf(root)
    val h = JsonLease.acquire(fs, root, "test-op")
    val e = intercept[IllegalStateException](
      JsonLease.acquire(fs, root, "intruder"))
    assert(e.getMessage.contains("locked by a concurrent") &&
      e.getMessage.contains("test-op"), e.getMessage)
    h.release()
    assert(!fs.exists(JsonLease.leasePath(root)), "release left the lease")
    val h2 = JsonLease.acquire(fs, root, "second")
    h2.release()
  }

  test("stale lease is taken over; the usurped original aborts at verifyHeld and leaves the usurper's lease") {
    val dir = freshTable("lease_stale")
    val root = new Path(dir)
    val fs = fsOf(root)
    val dead = JsonLease.acquire(fs, root, "crashed-run")
    // age the lease past TTL
    fs.setTimes(JsonLease.leasePath(root),
      System.currentTimeMillis() - JsonLease.DefaultTtlMs - 1000, -1)
    val usurper = JsonLease.acquire(fs, root, "takeover")
    // the original believed itself alive: its commit-point check must
    // abort it
    val e = intercept[IllegalStateException](dead.verifyHeld())
    assert(e.getMessage.contains("lost the writer lease"), e.getMessage)
    // and its release must NOT remove the usurper's lease
    dead.release()
    assert(fs.exists(JsonLease.leasePath(root)),
      "usurped release deleted the live usurper's lease")
    usurper.verifyHeld()
    usurper.release()
  }

  test("compact and recluster reject a concurrent holder; compact takes over a stale one and releases after") {
    val dir = freshTable("lease_compact")
    val root = new Path(dir)
    val fs = fsOf(root)
    val h = JsonLease.acquire(fs, root, "concurrent-writer")
    intercept[IllegalStateException](
      JsonCompact.compact(spark, dir, targetBytes = 1L << 20))
    intercept[IllegalStateException](
      JsonCompact.recluster(spark, dir, "id", targetBytes = 1L << 20))
    // stale: compact takes over and proceeds
    fs.setTimes(JsonLease.leasePath(root),
      System.currentTimeMillis() - JsonLease.DefaultTtlMs - 1000, -1)
    val rep = JsonCompact.compact(spark, dir, targetBytes = 1L << 20)
    assert(rep.mergedFiles == 3)
    assert(!fs.exists(JsonLease.leasePath(root)),
      "compact did not release the lease")
    h.release() // no-op: its token is gone
  }

  test("batch write loses cleanly to a live maintenance lease, then succeeds after release") {
    val dir = freshTable("lease_write", files = 2)
    val root = new Path(dir)
    val fs = fsOf(root)
    val docs = spark.range(10).select(col("id"),
      concat(lit("w"), col("id").cast("string")).as("s"))
    val h = JsonLease.acquire(fs, root, "maintenance")
    val e = intercept[Exception] {
      docs.write.format("graftjson").mode("append").save(dir)
    }
    // Spark may wrap our IllegalStateException — the message survives
    def chain(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(x => Option(x.getMessage).getOrElse("")).toSeq
    assert(chain(e).exists(_.contains("locked by a concurrent")),
      chain(e).mkString(" | "))
    // the loser left no published rows
    assert(spark.read.format("graftjson").load(dir).count() == 10,
      "failed write leaked rows")
    h.release()
    docs.write.format("graftjson").mode("append").save(dir)
    assert(spark.read.format("graftjson").option("refresh", "true")
      .load(dir).count() == 20)
    assert(!fs.exists(JsonLease.leasePath(root)),
      "write did not release the lease")
  }

  test("ingestEpoch and the streaming sink epoch commit respect the lease") {
    val dir = freshTable("lease_ingest", files = 1)
    val root = new Path(dir)
    val fs = fsOf(root)
    val batch = spark.range(5).select(col("id"),
      lit("e").as("s"))
    val h = JsonLease.acquire(fs, root, "maintenance")
    val e = intercept[IllegalStateException](
      graft.streaming.EventStreams.ingestEpoch(batch, dir, batchId = 7L))
    assert(e.getMessage.contains("locked by a concurrent"), e.getMessage)
    h.release()
    graft.streaming.EventStreams.ingestEpoch(batch, dir, batchId = 7L)
    assert(spark.read.format("graftjson").option("refresh", "true")
      .load(dir).count() == 10)
    assert(!fs.exists(JsonLease.leasePath(root)))
  }

  test("same-label retry takes over a crashed epoch lease immediately; other labels still wait the TTL") {
    val dir = freshTable("lease_retry", files = 1)
    val root = new Path(dir)
    val fs = fsOf(root)
    // a crashed epoch commit left its fresh lease behind
    JsonLease.acquire(fs, root, "stream-epoch-7") // never released
    // a DIFFERENT label must still fail (the strict single-writer rule)
    intercept[IllegalStateException](
      JsonLease.acquire(fs, root, "compact"))
    intercept[IllegalStateException](
      JsonLease.acquire(fs, root, "stream-epoch-8", retrySameLabel = true))
    // the serial retry of the SAME epoch takes over without the TTL
    val retry = JsonLease.acquire(fs, root, "stream-epoch-7",
      retrySameLabel = true)
    retry.verifyHeld()
    retry.release()
    // end to end: a crashed ingestEpoch's lease does not wedge the
    // replay of the same batch id
    val batch = spark.range(3).select(col("id"), lit("r").as("s"))
    graft.streaming.EventStreams.ingestEpoch(batch, dir, batchId = 9L)
    JsonLease.acquire(fs, root, "ingest-epoch-9") // simulate the crash
    graft.streaming.EventStreams.ingestEpoch(batch, dir, batchId = 9L)
    assert(!fs.exists(JsonLease.leasePath(root)))
    // ...but a different epoch's ingest still loses to it
    val h = JsonLease.acquire(fs, root, "ingest-epoch-9")
    intercept[IllegalStateException](
      graft.streaming.EventStreams.ingestEpoch(batch, dir, batchId = 10L))
    h.release()
  }

  test("compact fails loudly on FRESH streaming-epoch staging; sweeps it once stale") {
    // VERDICT r13 #1: the sink stages during the epoch but only takes
    // the lease at commit — maintenance winning the lease in that
    // window must not sweep the live epoch's staging
    val dir = freshTable("lease_live_epoch")
    val root = new Path(dir)
    val fs = fsOf(root)
    val stage = new Path(root, JsonCompact.MarkerDirName)
    fs.mkdirs(stage)
    val staged = new Path(stage, "stream-abc123def456-e3-p00000-t7.json")
    val out = fs.create(staged, true)
    out.write("{\"id\": 555}\n".getBytes("UTF-8")); out.close()
    val e = intercept[IllegalStateException](
      JsonCompact.compact(spark, dir, targetBytes = 1L << 20))
    assert(e.getMessage.contains("streaming epoch") &&
      e.getMessage.contains("live"), e.getMessage)
    assert(fs.exists(staged), "compact swept live epoch staging")
    // the failed compact released its lease
    assert(!fs.exists(JsonLease.leasePath(root)),
      "failed compact left its lease behind")
    // recluster shares the guard
    val e2 = intercept[IllegalStateException](
      JsonCompact.recluster(spark, dir, "id", targetBytes = 1L << 20))
    assert(e2.getMessage.contains("streaming epoch"), e2.getMessage)
    // a crashed stream's staging goes stale after the TTL and sweeps
    fs.setTimes(staged,
      System.currentTimeMillis() - JsonLease.DefaultTtlMs - 1000, -1)
    val rep = JsonCompact.compact(spark, dir, targetBytes = 1L << 20)
    assert(rep.mergedFiles == 3)
    assert(!fs.exists(staged), "stale stream staging survived compact")
  }

  test("two pipelines with equal batch ids conflict loudly instead of usurping each other's epoch lease") {
    // ADVICE r13: the retry label is scoped to ONE logical pipeline —
    // only a true serial retry (same opId) may take over a live lease
    val dir = freshTable("lease_opid", files = 1)
    val root = new Path(dir)
    val fs = fsOf(root)
    val batch = spark.range(3).select(col("id"), lit("p").as("s"))
    // pipeline A's epoch 0 crashed mid-commit, lease still fresh
    graft.streaming.EventStreams.ingestEpoch(batch, dir, batchId = 0L,
      opId = "pipeA")
    JsonLease.acquire(fs, root, "ingest-epoch-pipeA-0") // simulate crash
    // pipeline B, SAME batch id: must fail loudly, not usurp
    val e = intercept[IllegalStateException](
      graft.streaming.EventStreams.ingestEpoch(batch, dir, batchId = 0L,
        opId = "pipeB"))
    assert(e.getMessage.contains("locked by a concurrent"), e.getMessage)
    // pipeline A's own serial retry takes over immediately
    graft.streaming.EventStreams.ingestEpoch(batch, dir, batchId = 0L,
      opId = "pipeA")
    assert(!fs.exists(JsonLease.leasePath(root)))
  }

  test("maintenance sweep never deletes a live lease; a failed write's stage debris is swept under the next lease") {
    val dir = freshTable("lease_sweep")
    val root = new Path(dir)
    val fs = fsOf(root)
    // debris: a crashed run's staged file, no marker
    val stage = new Path(root, JsonCompact.MarkerDirName)
    fs.mkdirs(stage)
    val debris = new Path(stage, "write-deadbeef-p00000-t1.json")
    val out = fs.create(debris, true)
    out.write("{\"id\": 999}\n".getBytes("UTF-8")); out.close()
    // compact under its own lease sweeps the debris, not its lease
    val rep = JsonCompact.compact(spark, dir, targetBytes = 1L << 20)
    assert(rep.mergedFiles == 3)
    assert(!fs.exists(debris), "stale stage debris survived compact")
    assert(!fs.exists(JsonLease.leasePath(root)))
    // the debris rows never appear
    val ids = spark.read.format("graftjson").option("refresh", "true")
      .load(dir).select(col("id")).collect()
      .map(_.getAs[Number](0).longValue).toSet
    assert(!ids.contains(999L))
  }
}
