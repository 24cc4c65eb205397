package graft.streaming

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Crash-injection replay proofs for the store ops an ingest batch
  * writes through (VERDICT r9 #6). Each op claims that re-running a
  * batch under the same key converges; a clean rerun never exercises
  * the claim's hard case — a batch that CRASHED mid-write, leaving a
  * PARTIAL store mutation behind.
  *
  * Shape of every test here:
  *   1. commit batch 0 through the store op;
  *   2. simulate the crash: apply a strict SUBSET of batch 1 through
  *      the same op and key (the state some tasks' completed writes
  *      leave when the driver dies);
  *   3. re-run batch 1 in full under the same key;
  *   4. assert the store CONVERGED to the one-shot no-crash result.
  *
  * Covers the three distinct idempotence mechanisms: by-id merge
  * (`Sharding.mergeCdc`), dynamic overwrite of one `shard=`/`seg=`
  * partition (histogram + HLL sketch stores, inverted-index segments),
  * and the immutable-id anti-join (`VectorOps.appendToIvfIndex`). */
class IngestCrashReplaySpec extends SparkTestBase {

  test("mergeCdc: a partially applied batch converges when re-run (by-id merge idempotence)") {
    val store = graft.TempRoots.path("crash_cdc_store")
    val base = (0L until 20L).map(i => (i, s"doc $i", "en", "a", 6L))
    graft.ops.Sharding.initDocStore(
      spark.createDataFrame(base).toDF("doc_id", "text", "lang", "source", "n_chars"),
      store, 4)
    def content = spark.read.parquet(store)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    def merge(rows: Seq[(Long, String, String, String, Long, String)]) =
      graft.ops.Sharding.mergeCdc(spark, store, spark.createDataFrame(rows)
        .toDF("doc_id", "text", "lang", "source", "n_chars", "op"), 4)

    // batch 0 commits cleanly
    merge(Seq((3L, "updated 3", "en", "a", 9L, "upsert")))
    assert(content(3L) == "updated 3")

    // batch 1 = {upsert 5, delete 7, insert 100}; the crash applied
    // only the delete before dying
    val batch1 = Seq((5L, "updated 5", "en", "a", 9L, "upsert"),
      (7L, null.asInstanceOf[String], "en", "a", 0L, "delete"),
      (100L, "fresh 100", "en", "a", 9L, "upsert"))
    merge(batch1.filter(_._6 == "delete"))
    val mid = content
    assert(!mid.contains(7L) && !mid.contains(100L)) // the partial state

    // the rerun applies batch 1 IN FULL
    merge(batch1)
    val got = content
    assert(got(5L) == "updated 5" && got(100L) == "fresh 100")
    assert(!got.contains(7L))
    assert(got(3L) == "updated 3")
    assert(got.size == 20) // 20 base − 7 + 100
  }

  test("writeHistShards: a partial shard is replaced wholesale when re-run (shard-keyed overwrite)") {
    val store = graft.TempRoots.path("crash_hist_store")
    val (lo, hi, nBins) = (0.0, 200.0, 20)
    def write(vs: Range, shard: String) = graft.ops.Sketches.writeHistShards(
      spark.createDataFrame(vs.map(v => Tuple1(v.toDouble))).toDF("v"),
      store, col("v"), lit(shard), lo, hi, nBins)

    write(0 until 100, "batch-000000")
    // batch 1 = values 100..199; the crash wrote only the first 30
    // values' bin counts into batch 1's shard before dying
    write(100 until 130, "batch-000001")
    val partial = spark.read.parquet(store)
      .where(col("shard") === "batch-000001")
      .agg(sum(col("c"))).head().getLong(0)
    assert(partial == 30L) // the partial state is visible pre-rerun

    write(100 until 200, "batch-000001")
    // converged: batch 1's shard holds the FULL batch (the partial
    // rows were dynamically overwritten, not added to)
    val byShard = spark.read.parquet(store)
      .groupBy(col("shard")).agg(sum(col("c")).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byShard == Map("batch-000000" -> 100L, "batch-000001" -> 100L))
    // and the merged store answers exactly like a clean one-shot build
    val est = graft.ops.Sketches.histQuantiles(spark, store, lo, hi,
      nBins, Seq(0.5)).head().getAs[Double]("est")
    assert(math.abs(est - 100.0) <= (hi - lo) / nBins + 1e-9)
  }

  test("writeHllShards: a partial HLL shard is replaced wholesale when re-run") {
    val store = graft.TempRoots.path("crash_hll_store")
    def write(ids: Seq[Long], shard: String) = graft.ops.Sketches.writeHllShards(
      spark.createDataFrame(ids.map(i => ("g" + (i % 2), i))).toDF("grp", "id"),
      store, lit(shard), col("grp"), col("id"))

    write(0L until 200L, "batch-000000")
    // batch 1 = ids 200..399; the crash sketched only the first 50
    // into batch 1's shard before dying
    write(200L until 250L, "batch-000001")
    write(200L until 400L, "batch-000001")
    // converged: merged distinct over the store covers ALL 400 ids per
    // group within the HLL envelope — a lost tail (ids 250..399) would
    // read ~25% low, far outside lgK=12's ~3% 3-sigma bound
    val est = graft.ops.Sketches.mergedDistinct(spark, store).collect()
      .map(r => r.getAs[String]("grp") -> r.getAs[Long]("n_distinct_est")).toMap
    for (g <- Seq("g0", "g1")) {
      assert(math.abs(est(g) - 200.0) <= 0.1 * 200.0,
        s"$g: ${est(g)} vs 200 true distinct")
    }
    // and the shard family is exactly the two batch shards
    val shards = spark.read.parquet(store).select(col("shard")).distinct()
      .collect().map(_.getString(0)).toSet
    assert(shards == Set("batch-000000", "batch-000001"))
  }

  test("appendToIvfIndex: a partially appended batch converges when re-run (immutable-id anti-join)") {
    val idx = graft.TempRoots.path("crash_vec_store")
    val rnd = new scala.util.Random(31)
    def vecs(ids: Range) = ids.map(i =>
      (i.toLong, Seq.fill(8)(rnd.nextGaussian().toFloat)))
    def append(rows: Seq[(Long, Seq[Float])]) =
      graft.ops.VectorOps.appendToIvfIndex(spark, idx,
        spark.createDataFrame(rows).toDF("vec_id", "embedding"))
    graft.ops.VectorOps.buildIvfIndex(
      spark.createDataFrame(vecs(0 until 40)).toDF("vec_id", "embedding"),
      idx, nCells = 4)

    append(vecs(100 until 110))
    // batch 1 = ids 200..219; the crash appended only the first 5
    val b1 = vecs(200 until 220)
    append(b1.take(5))
    append(b1)
    // converged: every id present exactly once (the anti-join skipped
    // the 5 already-appended rows instead of duplicating them)
    val stored = spark.read.parquet(s"$idx/corpus")
      .groupBy(col("vec_id")).count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(stored.values.forall(_ == 1L), "duplicated ids after rerun")
    val want = (0L until 40L) ++ (100L until 110L) ++ (200L until 220L)
    assert(stored.keySet == want.toSet,
      s"missing=${want.toSet -- stored.keySet} extra=${stored.keySet -- want.toSet}")
  }

  test("appendSegment: a partial segment is replaced wholesale when re-run (segment-keyed overwrite)") {
    val idx = graft.TempRoots.path("crash_index_store")
    def append(rows: Seq[(Long, String)], seg: Int) =
      graft.ops.InvertedIndex.appendSegment(
        spark.createDataFrame(rows).toDF("doc_id", "text"), idx, segId = seg)
    graft.ops.InvertedIndex.build(
      spark.createDataFrame(Seq((0L, "base doc zero"), (1L, "base doc one")))
        .toDF("doc_id", "text"),
      idx, nBuckets = 8)

    append(Seq((10L, "alpha beta"), (11L, "beta gamma")), 1)
    // batch 1 = docs 20..23; the crash indexed only docs 20-21 into
    // segment 2 before dying
    val full = Seq((20L, "delta epsilon"), (21L, "epsilon zeta"),
      (22L, "zeta eta"), (23L, "eta delta"))
    append(full.take(2), 2)
    val midDocs = spark.read.parquet(s"$idx/postings")
      .where(col("seg") === 2).select(col("doc_id")).distinct().count()
    assert(midDocs == 2L) // the partial state

    append(full, 2)
    // converged: segment 2 holds the full batch, once each
    val seg2 = spark.read.parquet(s"$idx/postings")
      .where(col("seg") === 2)
    assert(seg2.select(col("doc_id")).distinct().count() == 4L)
    // no doc indexed twice within the segment (a non-overwriting
    // rerun would duplicate doc 20/21's postings)
    val dup = seg2.groupBy(col("term"), col("doc_id"))
      .agg(count(lit(1)).as("n")).where(col("n") > 1).count()
    assert(dup == 0L)
    // meta for seg 2 reflects the full batch, not partial + full
    val meta2 = spark.read.parquet(s"$idx/meta")
      .where(col("seg") === 2).collect()
    assert(meta2.length == 1 && meta2(0).getAs[Long]("n_docs") == 4L)
    // and search over the recovered index finds the rerun's docs
    val hits = graft.ops.InvertedIndex.searchAll(spark, idx,
      Seq("delta")).collect().map(_.getAs[Long]("doc_id")).toSet
    assert(hits == Set(20L, 23L))
  }
}
