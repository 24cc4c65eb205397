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

/** [[StoreTxn]]: the in-flight guard's refuse / allow / reader-fail
  * paths, the staged redo's roll-forward rules, the named store jobs,
  * and torn IVF commits (a delete that empties no cell, an append)
  * restored from their staged redo log by the next maintenance call. */
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
