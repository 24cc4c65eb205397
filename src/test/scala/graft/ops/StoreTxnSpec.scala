package graft.ops

import graft.SparkTestBase
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.JobContext
import org.apache.spark.internal.io.FileCommitProtocol.TaskCommitMessage
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.datasources.SQLHadoopMapReduceCommitProtocol
import org.apache.spark.sql.functions._

/** Commit protocol that tears ONE dynamic partition overwrite the way a
  * crash inside Spark's per-partition delete-then-rename does: armed
  * with (target dir, partition dir name), its job commit deletes that
  * partition's live dir and fails before any new file is renamed in. */
class TornCommitProtocol(jobId: String, path: String, dynamic: Boolean)
    extends SQLHadoopMapReduceCommitProtocol(jobId, path, dynamic) {
  override def commitJob(job: JobContext,
                         msgs: Seq[TaskCommitMessage]): Unit =
    TornCommitProtocol.tear match {
      case Some((target, part)) if dynamic &&
          new Path(path).toUri.getPath == new Path(target).toUri.getPath =>
        TornCommitProtocol.tear = None
        val p = new Path(path, part)
        p.getFileSystem(job.getConfiguration).delete(p, true)
        throw new java.io.IOException(s"injected torn commit at $p")
      case _ => super.commitJob(job, msgs)
    }
}

object TornCommitProtocol {
  @volatile var tear: Option[(String, String)] = None
}

/** Raw local FS that crashes ONE chosen step of a store commit: armed
  * with a [[CrashFs.Point]], the first recursive delete of its path (a
  * store's `Fs.delete`, a static overwrite's wipe) or rename onto it (an
  * atomic control-file publish) throws — after performing the
  * operation when `done`, before it otherwise. */
class CrashFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def delete(p: Path, recursive: Boolean): Boolean =
    if (!recursive) super.delete(p, recursive)
    else CrashFs.at("delete", p)(super.delete(p, recursive))
  override def rename(src: Path, dst: Path): Boolean =
    CrashFs.at("rename", dst)(super.rename(src, dst))
}

object CrashFs {
  final case class Point(op: String, path: String, done: Boolean)
  @volatile var armed: Option[Point] = None

  def at(op: String, p: Path)(run: => Boolean): Boolean = armed match {
    case Some(pt) if pt.op == op &&
        p.toUri.getPath == new Path(pt.path).toUri.getPath =>
      armed = None
      if (pt.done) run
      throw new java.io.IOException(s"injected crash at $op $p")
    case _ => run
  }
}

/** [[StoreTxn]]: the in-flight guard's refuse / allow / reader-fail
  * paths, the staged redo's roll-forward rules, the named store jobs,
  * torn IVF commits (a delete that empties no cell, an append)
  * restored from their staged redo log by the next maintenance call,
  * and the swap ports (compactSegments, maintainStats) crashed at each
  * step of a real commit and converged by their rerun. */
class StoreTxnSpec extends SparkTestBase {

  private def vecs: Seq[(Long, Seq[Float])] = {
    val rnd = new scala.util.Random(91)
    (0L until 80L).map(i => (i, Seq.fill(16)(rnd.nextGaussian().toFloat)))
  }
  private def all = spark.createDataFrame(vecs).toDF("vec_id", "embedding")
  private def corpusIds(idx: String): Set[Long] =
    spark.read.parquet(s"$idx/corpus").select(col("vec_id"))
      .collect().map(_.getLong(0)).toSet
  private def exists(p: String): Boolean = Fs.exists(spark, p)

  /** Run `op` with `part` of `target` torn mid-commit; the op must fail. */
  private def torn(target: String, part: String)(op: => Unit): Unit = {
    val key = "spark.sql.sources.commitProtocolClass"
    TornCommitProtocol.tear = Some((target, part))
    spark.conf.set(key, classOf[TornCommitProtocol].getName)
    try {
      val e = intercept[Exception](op)
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(t => String.valueOf(t.getMessage).contains("injected torn")),
        s"the op failed for another reason: $e")
      assert(TornCommitProtocol.tear.isEmpty, "the tear never fired")
    } finally {
      TornCommitProtocol.tear = None
      spark.conf.unset(key)
    }
  }

  /** Run `op` on [[CrashFs]] armed at `point`; the op must fail there. */
  private def crashAt(point: CrashFs.Point)(op: => Unit): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val impl = conf.get("fs.file.impl")
    CrashFs.armed = Some(point)
    conf.set("fs.file.impl", classOf[CrashFs].getName)
    conf.setBoolean("fs.file.impl.disable.cache", true)
    try {
      val e = intercept[Exception](op)
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(t => String.valueOf(t.getMessage).contains("injected crash")),
        s"the op failed for another reason: $e")
      assert(CrashFs.armed.isEmpty, "the crash never fired")
    } finally {
      CrashFs.armed = None
      conf.set("fs.file.impl", impl)
      conf.unset("fs.file.impl.disable.cache")
    }
  }

  /** The crash points of one swap commit, in commit order. */
  private val swapCrashes = Seq("after the marker write",
    "mid-overwrite, live wiped", "after the overwrite",
    "after the after-step", "after the marker is retired")
  private val Retired = swapCrashes.last

  /** The point at which `crash` tears a commit, given the store's
    * marker, first target, and the after-step's path and FS op. */
  private def swapPoint(crash: String, marker: String, live: String,
                        after: String, afterOp: String): CrashFs.Point =
    crash match {
      case "after the marker write" => CrashFs.Point("rename", marker, done = true)
      case "mid-overwrite, live wiped" => CrashFs.Point("delete", live, done = true)
      case "after the overwrite" => CrashFs.Point(afterOp, after, done = false)
      case "after the after-step" => CrashFs.Point(afterOp, after, done = true)
      case Retired => CrashFs.Point("delete", marker, done = true)
    }

  private def indexDocs = spark.createDataFrame((0L until 40L).map(i =>
      (i, s"merge w${i % 3} w${i % 5} merge w${i % 7}")))
    .toDF("doc_id", "text")

  /** An index with two segments and a tombstone batch, and its live
    * search results before any compaction. */
  private def tombstonedIndex(dir: String): Map[String, Map[Long, Long]] = {
    InvertedIndex.build(indexDocs.where(col("doc_id") < 30), dir, nBuckets = 8)
    InvertedIndex.appendSegment(indexDocs.where(col("doc_id") >= 30), dir, 1)
    InvertedIndex.deleteDocs(spark, dir,
      indexDocs.where(col("doc_id") % 4 === 1).select(col("doc_id")), 1)
    searches(dir)
  }
  private def searches(dir: String): Map[String, Map[Long, Long]] =
    Seq("merge", "w1", "w4").map(t => t ->
      InvertedIndex.searchAll(spark, dir, Seq(t)).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap).toMap

  for ((crash, i) <- swapCrashes.zipWithIndex) {
    test(s"compactSegments crashed $crash converges on its rerun") {
      val dir = graft.TempRoots.path(s"storetxn_compact_$i")
      val marker = s"$dir/_compact_pending"
      val want = tombstonedIndex(dir)
      crashAt(swapPoint(crash, marker, s"$dir/postings",
          s"$dir/tombstones", "delete")) {
        InvertedIndex.compactSegments(spark, dir)
      }
      if (crash == Retired) assert(!exists(marker))
      else {
        assert(exists(marker) && exists(s"$dir/_staging"))
        val e = intercept[IllegalStateException](searches(dir))
        assert(e.getMessage.contains("compaction crashed"), e.getMessage)
      }
      InvertedIndex.compactSegments(spark, dir)
      assert(searches(dir) == want)
      assert(!exists(s"$dir/tombstones") && !exists(marker) &&
        !exists(s"$dir/_staging"))
      assert(spark.read.parquet(s"$dir/postings").select(col("seg"))
        .distinct().collect().map(_.getInt(0)).toSeq == Seq(0))
    }
  }

  test("compactSegments: a marker without its staged copy fails loudly, naming the index") {
    val dir = graft.TempRoots.path("storetxn_compact_lost")
    tombstonedIndex(dir)
    crashAt(CrashFs.Point("delete", s"$dir/tombstones", done = true)) {
      InvertedIndex.compactSegments(spark, dir)
    }
    Fs.delete(spark, s"$dir/_staging")
    val e = intercept[IllegalStateException] {
      InvertedIndex.compactSegments(spark, dir)
    }
    assert(e.getMessage.contains(dir) &&
      e.getMessage.contains("without its staged copy"), e.getMessage)
    assert(exists(s"$dir/_compact_pending"))
  }

  private def statsBase = spark.createDataFrame(Seq(
      (0L, "aaaa", "en", "web", 4L), (1L, "bbbbbb", "en", "web", 6L),
      (2L, "cc", "en", "book", 2L), (3L, "ddddd", "en", "book", 5L),
      (4L, "eee", "en", "code", 3L)))
    .toDF("doc_id", "text", "lang", "source", "n_chars")
  private def statsBatch = spark.createDataFrame(Seq(
      (0L, "aaaaaaaa", "en", "web", 8L, "upsert"),
      (2L, "cc", "en", "web", 2L, "upsert"),
      (9L, "zzzz", "en", "wiki", 4L, "upsert"),
      (4L, null.asInstanceOf[String], "en", "code", 0L, "delete")))
    .toDF("doc_id", "text", "lang", "source", "n_chars", "op")
  private def rollup(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getAs[String]("source"), r.getAs[Long]("n_docs"),
      r.getAs[Long]("total_chars"))).sortBy(_._1).toSeq

  for ((crash, i) <- swapCrashes.zipWithIndex) {
    test(s"maintainStats crashed $crash converges on its rerun and applies once") {
      val root = graft.TempRoots.path(s"storetxn_stats_$i")
      val (store, stats) = (s"$root/store", s"$root/stats")
      Sharding.initDocStore(statsBase, store, 4)
      Sharding.initStatsStore(statsBase, stats)
      crashAt(swapPoint(crash, s"${stats}__pending", stats,
          s"${stats}__last", "rename")) {
        Sharding.maintainStats(spark, store, stats, statsBatch, 4)
      }
      if (crash == Retired) assert(!exists(s"${stats}__pending"))
      else assert(exists(s"${stats}__pending") && exists(s"${stats}__staging"))
      // the rerun and a further retry of the same batch: applied once
      Sharding.maintainStats(spark, store, stats, statsBatch, 4)
      val got = rollup(Sharding.maintainStats(spark, store, stats, statsBatch, 4))
      assert(!exists(s"${stats}__pending") && !exists(s"${stats}__staging"))
      Sharding.mergeCdc(spark, store, statsBatch, 4)
      val want = rollup(spark.read.parquet(store).groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars")))
      assert(got == want && rollup(spark.read.parquet(stats)) == want)
    }
  }

  test("maintainStats: re-initializing the stats store retires its ledger, so the batch applies again") {
    val root = graft.TempRoots.path("storetxn_stats_reinit")
    val (store, stats) = (s"$root/store", s"$root/stats")
    def fresh(): Unit = {
      Sharding.initDocStore(statsBase, store, 4)
      Sharding.initStatsStore(statsBase, stats)
    }
    fresh()
    val first = rollup(Sharding.maintainStats(spark, store, stats, statsBatch, 4))
    assert(first != rollup(statsBase.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))))
    fresh() // a second run of the same pipeline, as a bench pass does
    assert(rollup(Sharding.maintainStats(spark, store, stats, statsBatch, 4)) == first)
  }

  test("maintainStats: a marker without its staged rollup fails loudly, naming the store") {
    val root = graft.TempRoots.path("storetxn_stats_lost")
    val (store, stats) = (s"$root/store", s"$root/stats")
    Sharding.initDocStore(statsBase, store, 4)
    Sharding.initStatsStore(statsBase, stats)
    crashAt(CrashFs.Point("rename", s"${stats}__pending", done = true)) {
      Sharding.maintainStats(spark, store, stats, statsBatch, 4)
    }
    Fs.delete(spark, s"${stats}__staging")
    val e = intercept[IllegalStateException] {
      Sharding.maintainStats(spark, store, stats, statsBatch, 4)
    }
    assert(e.getMessage.contains(stats) &&
      e.getMessage.contains("restore statsDir from backup"), e.getMessage)
  }

  test("guard: readers fail fast, a foreign write is refused, the recovery rerun converges") {
    val dir = graft.TempRoots.path("storetxn_guard")
    val g = StoreTxn.Guard(s"$dir/_pending", crashed = "crashed-text",
      refusal = "refusal-text")
    g.failIfPending(spark) // no marker: readers proceed
    // a write that dies inside its body leaves the marker up
    intercept[RuntimeException] {
      g.write(spark, "probe")(throw new RuntimeException("boom"))
    }
    assert(g.pending(spark))
    val r = intercept[IllegalStateException](g.failIfPending(spark))
    assert(r.getMessage == "crashed-text")
    // an unrelated write refuses before touching anything
    var ran = false
    val w = intercept[IllegalArgumentException] {
      g.write(spark, "probe", recovery = false) { ran = true }
    }
    assert(w.getMessage.contains("refusal-text") && !ran && g.pending(spark))
    // the recovery rerun runs and clears the marker
    assert(g.write(spark, "probe") { 42 } == 42)
    assert(!g.pending(spark))
    g.failIfPending(spark)
    // and with no marker a non-recovery write just runs
    g.write(spark, "probe", recovery = false) { ran = true }
    assert(ran && !g.pending(spark))
  }

  test("Sketches: a crashed backfill fails estimate readers and refuses other backfills until its rerun") {
    import spark.implicits._
    val dir = graft.TempRoots.path("storetxn_sketch")
    val rows = (0 until 40).map(i => (i % 2, i % 3, i.toLong)).toDF("s", "g", "id")
    Sketches.writeHllShards(rows, dir, col("s"), col("g"), col("id"))
    Fs.touch(spark, s"$dir/_backfill_pending") // the crash window
    val r = intercept[IllegalStateException] {
      Sketches.mergedDistinct(spark, dir).collect()
    }
    assert(r.getMessage.contains("_backfill_pending"), r.getMessage)
    intercept[IllegalArgumentException] {
      Sketches.writeHllShards(rows, dir, col("s"), col("g"), col("id"))
    }
    Sketches.writeHllShards(rows, dir, col("s"), col("g"), col("id"),
      allowPending = true)
    assert(Sketches.mergedDistinct(spark, dir).count() == 3L)
  }

  test("step names the jobs it starts and restores the caller's description") {
    val sc = spark.sparkContext
    sc.setJobDescription("outer")
    try {
      val seen = StoreTxn.step(spark, "op", "inner") {
        StoreTxn.step(spark, "op", "nested")(())
        sc.getLocalProperty("spark.job.description")
      }
      assert(seen == "op:inner")
      assert(sc.getLocalProperty("spark.job.description") == "outer")
    } finally sc.setJobDescription(null)
    StoreTxn.step(spark, "op", "x")(())
    assert(sc.getLocalProperty("spark.job.description") == null)
  }

  test("every job a mergeCdc starts carries a mergeCdc: description") {
    val store = graft.TempRoots.path("storetxn_cdc_jobs")
    val docs = spark.createDataFrame(
      (0L until 24L).map(i => (i, s"t$i", "en", "a", i)))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    Sharding.initDocStore(docs, store, nBuckets = 4)
    val changes = spark.createDataFrame(Seq(
        (3L, "u3", "en", "a", 2L, "upsert"),
        (100L, "n100", "en", "a", 4L, "upsert"),
        (7L, null.asInstanceOf[String], "en", "a", 0L, "delete")))
      .toDF("doc_id", "text", "lang", "source", "n_chars", "op")
    val descs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val fence = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val d = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("")
        if (d == "storetxn-fence") fence.countDown() else descs.add(d)
      }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      Sharding.mergeCdc(spark, store, changes, 4)
      // the bus delivers in order: once the fence job's start arrives,
      // every job the merge started has been seen
      sc.setJobDescription("storetxn-fence")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setJobDescription(null)
      assert(fence.await(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally sc.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    val got = descs.asScala.toSeq
    assert(got.nonEmpty)
    assert(got.forall(_.startsWith("mergeCdc:")), got.mkString(", "))
    assert(got.contains("mergeCdc:stage") && got.contains("mergeCdc:commit"),
      got.mkString(", "))
  }

  test("redo: a husk marker only clears debris; the reader drops the sentinel") {
    val dir = graft.TempRoots.path("storetxn_redo")
    spark.range(6).select(col("id"), (col("id") % 3).cast("int").as("p"))
      .write.partitionBy("p").parquet(s"$dir/data")
    val redo = StoreTxn.Redo(target = s"$dir/data", partCol = "p",
      markerDir = s"$dir/_m", markerLeaf = "emptied",
      staging = s"$dir/_staging", staged = s"$dir/_staging/out")
    // husk: a fileless marker dir (crash during the marker write)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(redo.marker))
    spark.range(2).write.parquet(redo.staged) // must NOT be applied
    assert(StoreTxn.pendingEmptied(spark, redo).isEmpty)
    StoreTxn.rollForward(spark, "probe", redo)
    assert(!exists(redo.markerDir) && !exists(redo.staging))
    assert(spark.read.parquet(redo.target).count() == 6L)
    // a committed marker with one emptied partition and no staged
    // copy: the reader sees only the real id, roll-forward removes it
    spark.createDataFrame(Seq(Tuple1(-1), Tuple1(2))).toDF("p")
      .coalesce(1).write.parquet(redo.marker)
    assert(StoreTxn.pendingEmptied(spark, redo) == Seq(2))
    StoreTxn.rollForward(spark, "probe", redo)
    assert(!exists(s"$dir/data/p=2") && !exists(redo.markerDir))
    assert(spark.read.parquet(redo.target).count() == 4L)
  }

  test("a torn IVF delete that empties no cell is restored from staging by the next maintenance call") {
    import spark.implicits._
    val idx = graft.TempRoots.path("storetxn_torn_delete")
    VectorOps.buildIvfIndex(all.where(col("vec_id") < 60), idx, nCells = 4)
    val before = corpusIds(idx)
    val byCell = spark.read.parquet(s"$idx/corpus")
      .select(col("vec_id"), col("cell")).collect()
      .groupBy(_.getInt(1)).view.mapValues(_.map(_.getLong(0)).toSet).toMap
    val (cell, ids) = byCell.filter(_._2.size >= 2).minBy(_._1)
    val dead = ids.min
    torn(s"$idx/corpus", s"cell=$cell") {
      VectorOps.deleteFromIvfIndex(spark, idx, Seq(dead).toDF("vec_id"))
    }
    // the torn state: the cell's dir is gone, but the commit's marker
    // and staged redo log are durable
    assert(!exists(s"$idx/corpus/cell=$cell"))
    assert(exists(s"$idx/_maintenance/pending_removes"))
    assert(exists(s"$idx/_staging/carried"))
    VectorOps.deleteFromIvfIndex(spark, idx, Seq(-1L).toDF("vec_id"))
    assert(corpusIds(idx) == before - dead,
      s"lost: ${(before - dead) -- corpusIds(idx)}")
    assert(!exists(s"$idx/_maintenance") && !exists(s"$idx/_staging"))
  }

  test("a torn IVF append is restored from staging by the next maintenance call") {
    val idx = graft.TempRoots.path("storetxn_torn_append")
    VectorOps.buildIvfIndex(all.where(col("vec_id") < 60), idx, nCells = 4)
    val before = corpusIds(idx)
    val batch = all.where(col("vec_id") >= 60)
    // tear a cell that holds built rows AND receives appended ones:
    // the build is deterministic, so a twin index shows where the
    // batch lands
    val twin = graft.TempRoots.path("storetxn_torn_append_twin")
    VectorOps.buildIvfIndex(all.where(col("vec_id") < 60), twin, nCells = 4)
    VectorOps.appendToIvfIndex(spark, twin, batch)
    val cells = spark.read.parquet(s"$twin/corpus")
      .groupBy(col("cell"))
      .agg(min(col("vec_id")).as("lo"), max(col("vec_id")).as("hi"))
      .where(col("lo") < 60 && col("hi") >= 60)
      .select(col("cell")).collect().map(_.getInt(0))
    assert(cells.nonEmpty)
    val cell = cells.min
    torn(s"$idx/corpus", s"cell=$cell") {
      VectorOps.appendToIvfIndex(spark, idx, batch)
    }
    assert(!exists(s"$idx/corpus/cell=$cell"))
    assert(exists(s"$idx/_maintenance/pending_removes"))
    assert(exists(s"$idx/_staging/carried"))
    VectorOps.compactCells(spark, idx, maxFilesPerCell = 1000)
    assert(corpusIds(idx) == before ++ (60L until 80L),
      s"lost: ${(before ++ (60L until 80L)) -- corpusIds(idx)}")
    assert(!exists(s"$idx/_maintenance") && !exists(s"$idx/_staging"))
  }
}
