package graft.streaming

import graft.SparkTestBase
import graft.sources.{JsonCompact, JsonDocSource, JsonMeta}
import org.apache.spark.sql.functions._

/** NDJSON epoch ingest into a graftjson table
  * ([[EventStreams.ingestEpoch]]): deterministic epoch files
  * (replay-idempotent), incremental planning metadata (fresh-JVM reads
  * walk-free), and the compaction lifecycle over the accreted epochs. */
class JsonIngestSpec extends SparkTestBase {

  private def freshJvm(): Unit = {
    JsonDocSource.clearInferCache()
    JsonMeta.clearParsed()
  }
  private def walked[A](body: => A): (A, Long) = {
    val before = JsonDocSource.filesWalked.get()
    val r = body
    (r, JsonDocSource.filesWalked.get() - before)
  }

  test("epochs land as deterministic files; input rows == table rows; meta keeps reads walk-free") {
    import spark.implicits._
    val dir = graft.TempRoots.path("json_ingest")
    new java.io.File(dir).mkdirs()
    val b1 = (1L to 5L).map(i => (i, s"doc$i"))
    val b2 = (6L to 9L).map(i => (i, s"doc$i"))
    Seq(b1, b2).zipWithIndex.foreach { case (b, e) =>
      EventStreams.ingestEpoch(b.toDF("id", "text"), dir, batchId = e.toLong)
    }
    val files = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("epoch-")).map(_.getName).sorted.toSeq
    assert(files == Seq("epoch-000000.json", "epoch-000001.json"), files)
    // the ingest refreshed the meta per epoch: a fresh JVM plans the
    // table with zero files walked
    freshJvm()
    val (rows, w) = walked {
      spark.read.format("graftjson").load(dir)
        .select(col("id"), col("text")).collect()
        .map(r => (r.getAs[Number]("id").longValue, r.getString(1))).sorted.toSeq
    }
    assert(w == 0L, s"ingest-refreshed meta should plan walk-free, walked $w")
    assert(rows == (b1 ++ b2).sorted)
  }

  test("a replayed epoch converges on its own namespace (identical content kept, not rewritten)") {
    import spark.implicits._
    val dir = graft.TempRoots.path("json_ingest_replay")
    new java.io.File(dir).mkdirs()
    val batch = Seq((1L, "a"), (2L, "b")).toDF("id", "text")
    EventStreams.ingestEpoch(batch, dir, batchId = 7L)
    def table = spark.read.format("graftjson").load(dir)
      .collect().map(_.toString).sorted.toSeq
    val first = table
    // the retry contract: same id, same data → same state
    EventStreams.ingestEpoch(batch, dir, batchId = 7L)
    assert(table == first)
    assert(new java.io.File(dir).listFiles()
      .count(_.getName.startsWith("epoch-")) == 1)
    // staging dir never leaks into listings
    assert(!JsonDocSource.listFiles(spark, Seq(dir))
      .exists(_._1.contains("_ingest_tmp")))
  }

  test("a replayed epoch with FEWER part files sweeps its stale siblings") {
    import spark.implicits._
    val dir = graft.TempRoots.path("json_ingest_shrink")
    new java.io.File(dir).mkdirs()
    val batch = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "text")
    // first attempt lands 3 part files for epoch 4
    EventStreams.ingestEpoch(batch, dir, batchId = 4L, nFiles = 3)
    assert(new java.io.File(dir).listFiles()
      .count(_.getName.startsWith("epoch-000004")) == 3)
    // the replay (different upstream partitioning after a restart)
    // lands ONE file — the stale -001/-002 siblings must go, or the
    // table double-counts their rows
    EventStreams.ingestEpoch(batch, dir, batchId = 4L, nFiles = 1)
    assert(new java.io.File(dir).listFiles()
      .count(_.getName.startsWith("epoch-000004")) == 1)
    val rows = spark.read.format("graftjson").load(dir)
      .select(col("id")).collect().map(_.getAs[Number](0).longValue).sorted
    assert(rows.toSeq == Seq(1L, 2L, 3L),
      s"stale epoch siblings duplicated rows: ${rows.mkString(",")}")
  }

  test("content-identical replay keeps the published file's fingerprint: as-of reads of replayed epochs survive") {
    // VERDICT r13 #2 / watchpoint: a foreachBatch replay used to
    // OVERWRITE its epoch file with identical bytes, bumping the mtime
    // and drifting it out of every historical save's fingerprint
    import spark.implicits._
    val dir = graft.TempRoots.path("json_ingest_asof_replay")
    new java.io.File(dir).mkdirs()
    val batch = Seq((1L, "a"), (2L, "b")).toDF("id", "text")
    EventStreams.ingestEpoch(batch, dir, batchId = 0L)
    val f = new java.io.File(dir, "epoch-000000.json")
    assert(f.exists)
    // age the published file so an overwrite is mtime-VISIBLE even on
    // coarse clocks, then re-save so the history fingerprints the aged
    // mtime
    f.setLastModified(System.currentTimeMillis() - 60000)
    JsonMeta.save(spark, dir)
    val saves = JsonMeta.saves(spark, dir)
    val aged = f.lastModified()
    def asOfRows = spark.read.format("graftjson")
      .option("asOfSave", saves.last.toString).load(dir)
      .collect().map(_.toString).sorted.toSeq
    val before = asOfRows
    // identical replay: the published file must be KEPT, not rewritten
    EventStreams.ingestEpoch(batch, dir, batchId = 0L)
    assert(f.lastModified() == aged,
      "identical replay rewrote the published epoch file (mtime drift)")
    assert(asOfRows == before, "as-of read drifted across identical replay")
    // changed-content replay: the file must be REPLACED (live read
    // shows the new rows) and the stale as-of fails loudly, never
    // serves wrong rows
    val changed = Seq((1L, "a"), (2L, "CHANGED")).toDF("id", "text")
    EventStreams.ingestEpoch(changed, dir, batchId = 0L)
    val live = spark.read.format("graftjson").option("refresh", "true")
      .load(dir).select(col("text")).collect().map(_.getString(0)).sorted
    assert(live.toSeq == Seq("CHANGED", "a"), live.mkString(","))
    val e = intercept[IllegalStateException](asOfRows)
    assert(e.getMessage.contains("name was reused") ||
      e.getMessage.contains("physically removed"), e.getMessage)
  }

  test("compaction folds accreted epochs; rows and meta survive") {
    import spark.implicits._
    val dir = graft.TempRoots.path("json_ingest_compact")
    new java.io.File(dir).mkdirs()
    (0L until 6L).foreach { e =>
      EventStreams.ingestEpoch(
        Seq((e * 10, s"epoch$e")).toDF("id", "text"), dir, batchId = e)
    }
    val before = spark.read.format("graftjson").load(dir)
      .collect().map(_.toString).sorted.toSeq
    val rep = JsonCompact.compact(spark, dir, targetBytes = 1L << 20,
      refreshMeta = true)
    assert(rep.mergedFiles == 6 && rep.mergedInto == 1)
    freshJvm()
    val (after, w) = walked {
      spark.read.format("graftjson").load(dir)
        .collect().map(_.toString).sorted.toSeq
    }
    assert(after == before)
    assert(w == 0L, s"post-compaction meta should serve planning, walked $w")
  }
}
