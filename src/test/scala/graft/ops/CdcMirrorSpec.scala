package graft.ops

import graft.SparkTestBase
import graft.sources.JsonMeta
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** [[CdcMirror]]: a parquet mirror stays EXACTLY consistent with a
  * graftjson table through adds, in-place rewrites, and deletes, by
  * per-file partition replacement driven from the cdcDeletes feed —
  * O(changed files) per batch, idempotent under foreachBatch replay. */
class CdcMirrorSpec extends SparkTestBase {

  private def mkDir(name: String): java.io.File = {
    val d = new java.io.File(graft.TempRoots.path(name)); d.mkdirs(); d
  }
  private def put(dir: java.io.File, file: String, text: String): Unit = {
    val w = new java.io.FileWriter(new java.io.File(dir, file))
    w.write(text); w.close()
  }
  private def ids(df: org.apache.spark.sql.DataFrame): Seq[Long] =
    if (!df.schema.fieldNames.contains("id")) Seq.empty
    else df.select(col("id").cast("long")).collect()
      .map(_.getLong(0)).sorted.toSeq
  private def liveIds(dir: java.io.File): Seq[Long] =
    ids(spark.read.format("graftjson").option("refresh", "true")
      .load(dir.toString))

  test("a mirror seeded before the source's integer type widened reads every value back exactly") {
    // either seed-file name: the parquet read takes one partition's
    // schema, and which one depends on the listing order
    for ((seedFile, laterFile) <- Seq("e0.json" -> "e1.json", "e1.json" -> "e0.json")) {
      val dir = mkDir(s"cdcmirror_widen_$seedFile")
      val mirror = graft.TempRoots.path(s"cdcmirror_widen_out_$seedFile")
      val ckpt = graft.TempRoots.path(s"cdcmirror_widen_ckpt_$seedFile")
      put(dir, seedFile, """{"id": 1, "s": "a"}""" + "\n") // tinyint
      JsonMeta.save(spark, dir.toString)
      val start = JsonMeta.saves(spark, dir.toString).head
      CdcMirror.init(spark, dir.toString, mirror, start)
      put(dir, laterFile,
        """{"id": 130, "s": "b"}""" + "\n" + """{"id": 40000, "s": "c"}""" + "\n")
      JsonMeta.save(spark, dir.toString)
      val q = CdcMirror.writer(spark, dir.toString, mirror, ckpt, start)
        .trigger(Trigger.AvailableNow()).start()
      try q.awaitTermination() finally q.stop()
      assert(ids(CdcMirror.read(spark, mirror)) == Seq(1L, 130L, 40000L),
        s"seed $seedFile")
    }
  }

  test("a field the source gained after the mirror's seed survives the read in either listing order") {
    for ((seedFile, laterFile) <- Seq("e0.json" -> "e1.json", "e1.json" -> "e0.json")) {
      val dir = mkDir(s"cdcmirror_late_$seedFile")
      val mirror = graft.TempRoots.path(s"cdcmirror_late_out_$seedFile")
      val ckpt = graft.TempRoots.path(s"cdcmirror_late_ckpt_$seedFile")
      put(dir, seedFile, """{"id": 1, "s": "a"}""" + "\n")
      JsonMeta.save(spark, dir.toString)
      val start = JsonMeta.saves(spark, dir.toString).head
      CdcMirror.init(spark, dir.toString, mirror, start)
      put(dir, laterFile, """{"id": 2, "s": "b", "extra": "x"}""" + "\n")
      JsonMeta.save(spark, dir.toString)
      val q = CdcMirror.writer(spark, dir.toString, mirror, ckpt, start)
        .trigger(Trigger.AvailableNow()).start()
      try q.awaitTermination() finally q.stop()
      val got = CdcMirror.read(spark, mirror)
      assert(got.schema.fieldNames.contains("extra"),
        s"seed $seedFile: ${got.schema.simpleString}")
      assert(got.select(col("id").cast("long"), col("extra")).collect()
        .map(r => r.getLong(0) -> Option(r.getString(1))).sorted.toSeq ==
        Seq(1L -> None, 2L -> Some("x")), s"seed $seedFile")
    }
  }

  test("init + sync tracks adds, rewrites, and deletes exactly; restarts replay idempotently; the live tail continues") {
    val dir = mkDir("cdcmirror_src")
    val mirror = graft.TempRoots.path("cdcmirror_out")
    val ckpt = graft.TempRoots.path("cdcmirror_ckpt")
    put(dir, "e0.json", """{"id": 1, "s": "a"}""" + "\n")
    JsonMeta.save(spark, dir.toString) // save 1: the mirror's seed
    val start = JsonMeta.saves(spark, dir.toString).head
    CdcMirror.init(spark, dir.toString, mirror, start)
    assert(ids(CdcMirror.read(spark, mirror)) == Seq(1L))
    // upstream history: add, rewrite, delete
    put(dir, "e1.json", """{"id": 2, "s": "b"}""" + "\n")
    JsonMeta.save(spark, dir.toString) // save 2
    put(dir, "e0.json",
      """{"id": 5, "s": "A"}""" + "\n" + """{"id": 6, "s": "B"}""" + "\n")
    JsonMeta.save(spark, dir.toString) // save 3: e0 rewritten
    assert(new java.io.File(dir, "e1.json").delete())
    new java.io.File(dir, ".e1.json.crc").delete()
    JsonMeta.save(spark, dir.toString) // save 4: e1 tombstone
    put(dir, "e2.json", """{"id": 4, "s": "d"}""" + "\n")
    JsonMeta.save(spark, dir.toString) // save 5
    def sync(): Unit = {
      val q = CdcMirror.writer(spark, dir.toString, mirror, ckpt, start)
        .trigger(Trigger.AvailableNow()).start()
      try q.awaitTermination() finally q.stop()
    }
    sync()
    assert(ids(CdcMirror.read(spark, mirror)) == liveIds(dir),
      s"mirror ${ids(CdcMirror.read(spark, mirror))} vs live ${liveIds(dir)}")
    assert(ids(CdcMirror.read(spark, mirror)) == Seq(4L, 5L, 6L))
    // restart with nothing new: idempotent, nothing double-applied
    sync()
    assert(ids(CdcMirror.read(spark, mirror)) == Seq(4L, 5L, 6L))
    // live-tail continuation after catch-up completion: an unsaved
    // append flows through as an insert
    put(dir, "e3.json", """{"id": 9, "s": "z"}""" + "\n")
    sync()
    assert(ids(CdcMirror.read(spark, mirror)) == Seq(4L, 5L, 6L, 9L))
    assert(ids(CdcMirror.read(spark, mirror)) == liveIds(dir))
  }

  test("a retracted file whose basename needs partition-value ESCAPING still drops its mirror partition (no ghost rows)") {
    val dir = mkDir("cdcmirror_esc_src")
    val mirror = graft.TempRoots.path("cdcmirror_esc_out")
    val ckpt = graft.TempRoots.path("cdcmirror_esc_ckpt")
    // '=' and '%' force Spark's escapePathName in the partition dir —
    // a raw-basename delete would silently miss it (review r16)
    put(dir, "a=b%7.json", """{"id": 1, "s": "a"}""" + "\n")
    JsonMeta.save(spark, dir.toString)
    val start = JsonMeta.saves(spark, dir.toString).head
    CdcMirror.init(spark, dir.toString, mirror, start)
    assert(ids(CdcMirror.read(spark, mirror)) == Seq(1L))
    assert(new java.io.File(dir, "a=b%7.json").delete())
    new java.io.File(dir, ".a=b%7.json.crc").delete()
    JsonMeta.save(spark, dir.toString)
    put(dir, "e1.json", """{"id": 2, "s": "b"}""" + "\n")
    JsonMeta.save(spark, dir.toString)
    val q = CdcMirror.writer(spark, dir.toString, mirror, ckpt, start)
      .trigger(Trigger.AvailableNow()).start()
    try q.awaitTermination() finally q.stop()
    assert(ids(CdcMirror.read(spark, mirror)) == Seq(2L),
      s"ghost rows from the escaped partition: " +
        ids(CdcMirror.read(spark, mirror)))
    assert(ids(CdcMirror.read(spark, mirror)) == liveIds(dir))
  }

  test("a post-completion upstream delete ends the stream LOUDLY; re-seeding from a newer save converges the mirror") {
    val dir = mkDir("cdcmirror_reseed_src")
    val mirror = graft.TempRoots.path("cdcmirror_reseed_out")
    val ckpt = graft.TempRoots.path("cdcmirror_reseed_ckpt")
    put(dir, "e0.json", """{"id": 1, "s": "a"}""" + "\n")
    JsonMeta.save(spark, dir.toString)
    put(dir, "e1.json", """{"id": 2, "s": "b"}""" + "\n")
    JsonMeta.save(spark, dir.toString)
    val start = JsonMeta.saves(spark, dir.toString).head
    CdcMirror.init(spark, dir.toString, mirror, start)
    def sync(ck: String, from: Long): Unit = {
      val q = CdcMirror.writer(spark, dir.toString, mirror, ck, from)
        .trigger(Trigger.AvailableNow()).start()
      try q.awaitTermination() finally q.stop()
    }
    sync(ckpt, start)
    assert(ids(CdcMirror.read(spark, mirror)) == Seq(1L, 2L))
    // upstream delete AFTER the feed completed: the old checkpoint's
    // tail holds the file as consumed — loud, never silent drift
    assert(new java.io.File(dir, "e1.json").delete())
    new java.io.File(dir, ".e1.json.crc").delete()
    JsonMeta.save(spark, dir.toString)
    val e = intercept[Exception](sync(ckpt, start))
    assert(Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .exists(x => Option(x.getMessage).exists(
        _.contains("must not run on a tailed directory"))), e.getMessage)
    // the documented recovery: re-seed at the newest save, stream from
    // there under a FRESH checkpoint
    val head = JsonMeta.saves(spark, dir.toString).last
    CdcMirror.init(spark, dir.toString, mirror, head)
    sync(graft.TempRoots.path("cdcmirror_reseed_ckpt2"), head)
    assert(ids(CdcMirror.read(spark, mirror)) == Seq(1L))
    assert(ids(CdcMirror.read(spark, mirror)) == liveIds(dir))
  }

  test("a compaction in committed history re-emits EXACTLY the merged files through the feed (retract every input, add every output) — the documented O(table) storm, never anything silent") {
    val dir = mkDir("cdcmirror_compact_src")
    val mirror = graft.TempRoots.path("cdcmirror_compact_out")
    val ckpt = graft.TempRoots.path("cdcmirror_compact_ckpt")
    put(dir, "a.json", """{"id": 1, "s": "a"}""" + "\n")
    JsonMeta.save(spark, dir.toString) // save 1: the mirror's seed
    val start = JsonMeta.saves(spark, dir.toString).head
    CdcMirror.init(spark, dir.toString, mirror, start)
    put(dir, "b.json", """{"id": 2, "s": "b"}""" + "\n")
    JsonMeta.save(spark, dir.toString) // save 2
    put(dir, "c.json", """{"id": 3, "s": "c"}""" + "\n")
    JsonMeta.save(spark, dir.toString) // save 3
    val preCompact = Seq("a.json", "b.json", "c.json")
    graft.sources.JsonCompact.compact(spark, dir.toString,
      targetBytes = 4L << 10, refreshMeta = true) // save 4: one merged file
    val merged = dir.listFiles().filter(f => f.isFile &&
      !f.getName.startsWith("_") && !f.getName.startsWith(".")).toSeq
    assert(merged.size == 1, s"compaction should merge to one file: $merged")
    // the RESOLUTION is the contract: the compaction save retracts
    // every merged input by name — including the baseline-seeded a —
    // and re-adds exactly the compacted output; the pre-compaction
    // saves contribute NO adds (their forms are dead, their rows
    // arrive only through the merged file). File-level CDF is coarser
    // than a row diff, never silent: O(merged files) re-emission.
    val res = graft.sources.JsonMeta.cdcResolve(spark, dir.toString, start)
    assert(res.baseline.isEmpty,
      s"nothing survives the compaction identically: ${res.baseline}")
    val storm = res.changes.find(_.save == 4L).get
    def base(p: String) = p.substring(p.lastIndexOf('/') + 1)
    assert(storm.removed.map(base).sorted == preCompact,
      s"the storm must retract every merged input: ${storm.removed}")
    assert(storm.added.map(t => base(t._1)) == Seq(merged.head.getName),
      s"the storm must add exactly the compacted output: ${storm.added}")
    assert(res.changes.filter(_.save < 4L).forall(_.added.isEmpty),
      "a pre-compaction save emitted a dead form")
    // and the MIRROR lands it: partitions a/b/c dropped, one merged
    // partition holding all three rows
    val q = CdcMirror.writer(spark, dir.toString, mirror, ckpt, start)
      .trigger(Trigger.AvailableNow()).start()
    try q.awaitTermination() finally q.stop()
    assert(ids(CdcMirror.read(spark, mirror)) == Seq(1L, 2L, 3L))
    assert(ids(CdcMirror.read(spark, mirror)) == liveIds(dir))
    val parts = new java.io.File(mirror).listFiles()
      .filter(_.getName.startsWith("_mf=")).map(_.getName).toSeq
    assert(parts == Seq(s"_mf=${merged.head.getName}"),
      s"stale pre-compaction partitions survived: $parts")
  }

  test("init fails FAST when the table's data carries a _file field (ADVICE r16) — before any seed is written") {
    val dir = mkDir("cdcmirror_shadow_src")
    val mirror = graft.TempRoots.path("cdcmirror_shadow_out")
    // a data field named _file SHADOWS the metadata column: without the
    // guard, init would silently seed partitions from data VALUES and
    // the loud failure would only arrive at writer()'s widenCdc check
    put(dir, "e0.json", """{"id": 1, "_file": "not-a-path"}""" + "\n")
    JsonMeta.save(spark, dir.toString)
    val start = JsonMeta.saves(spark, dir.toString).head
    val e = intercept[IllegalArgumentException](
      CdcMirror.init(spark, dir.toString, mirror, start))
    assert(e.getMessage.contains("'_file' free"), e.getMessage)
    // nothing was written — the bad seed never lands
    assert(!new java.io.File(mirror).exists(),
      "init wrote a seed despite the shadowed _file column")
  }
}
