package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** 10× scale smoke (tagged Slow, excluded from the default run): the
  * non-linearity class no fixed-SF bench can see. A quadratic
  * candidate path looks fine at one scale and only betrays itself in
  * the GROWTH rate, so this suite synthesizes a 10× corpus in a temp
  * dir, re-runs the candidate-generating operators, and asserts
  * (a) wall-time grows ≲ linearly (generous 20× bound on a 10× input:
  * slack for fixed overheads and host noise — a quadratic path lands
  * at ~100× and still fails loudly) and (b) the EXACT candidate /
  * explode volumes predicted by the replication algebra:
  * identical-copy docs must produce exactly 10× the contamination
  * join volume, exactly `bands` lost bands per copy, and an
  * unchanged original kept-set. */
class ScaleSmokeSpec extends SparkTestBase {

  private val CopyOffset = 1000000L

  /** 10 copies of the base table with offset ids, parquet round-trip
    * (real file scans on both sides of the comparison). */
  private def replicate(base: DataFrame, name: String): DataFrame = {
    val big = (0 until 10).map(k =>
        base.withColumn("doc_id", col("doc_id") + lit(k * CopyOffset)))
      .reduce(_ unionByName _)
    val dir = graft.TempRoots.path(name)
    big.write.mode("overwrite").parquet(dir)
    base.sparkSession.read.parquet(dir)
  }

  private def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** t(10×) must stay within 20× of t(1×) (floored so sub-second 1×
    * runs don't turn host noise into a ratio). */
  private def assertLinear(what: String, t1: Double, t10: Double): Unit =
    assert(t10 <= 20.0 * math.max(t1, 0.3),
      s"$what: ${t10}s at 10x vs ${t1}s at 1x - super-linear growth")

  test("q179/q182/q184 statistics are exactly replication-invariant at 10x, linear time", graft.Slow) {
    // 10 identical copies leave every DISTRIBUTION unchanged while
    // multiplying every count by exactly 10 — so AUC, KL, slope/
    // intercept/R², precision/recall/F1 must come back bit-equal
    // (equal real ratios are equal doubles under IEEE exact rounding)
    // and the count columns exactly 10x. A quadratic or
    // order-sensitive path breaks one of the two.
    val base = spark.read.parquet(s"$sfDir/documents.parquet")
    val dir10 = graft.TempRoots.path("scale10_docs_stats")
    (0 until 10).map(k =>
        base.withColumn("doc_id", col("doc_id") + lit(k * CopyOffset)))
      .reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$dir10/documents.parquet")
    def q(name: String, dir: String) =
      graft.SparkEntry.queries(name)(spark, dir).collect()
    q("q182_vocab_drift", sfDir) // warmup
    val (d1, t1) = timed(q("q182_vocab_drift", sfDir))
    val (d10, t10) = timed(q("q182_vocab_drift", dir10))
    assertLinear("vocabDrift", t1, t10)
    val drift1 = d1.map(r => r.getString(0) ->
      (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    d10.foreach { r =>
      val (tok, voc, kl) = drift1(r.getString(0))
      assert(r.getLong(1) == 10 * tok)  // n_tokens exactly 10x
      assert(r.getLong(2) == voc)       // vocabulary unchanged
      assert(r.getDouble(3) == kl)      // KL bit-equal
    }
    val a1 = q("q179_score_auc", sfDir)
    val a10 = q("q179_score_auc", dir10)
    a1.zip(a10).foreach { case (r1, r10) =>
      assert(r1.getDouble(0) == r10.getDouble(0)) // threshold
      for (i <- 1 to 4)                            // tp/fp/fn/tn 10x
        assert(r10.getLong(i) == 10 * r1.getLong(i), s"col $i")
      for (i <- 5 to 8)                            // rates + auc equal
        assert(r1.isNullAt(i) == r10.isNullAt(i) &&
          (r1.isNullAt(i) || r1.getDouble(i) == r10.getDouble(i)), s"col $i")
    }
    val o1 = q("q184_ols_per_source", sfDir)
    val o10 = q("q184_ols_per_source", dir10)
    o1.zip(o10).foreach { case (r1, r10) =>
      assert(r1.getString(0) == r10.getString(0))
      assert(r10.getLong(1) == 10 * r1.getLong(1))
      for (i <- 2 to 4)
        assert(r1.isNullAt(i) == r10.isNullAt(i) &&
          (r1.isNullAt(i) || r1.getDouble(i) == r10.getDouble(i)), s"col $i")
    }
  }

  test("near-dup suppress at 10x: linear time, exact band volume, copies all suppressed", graft.Slow) {
    val base = graft.queries.Tables(spark, sfDir, "documents")
      .where(col("text").isNotNull)
      .select(col("doc_id"), col("text"))
    val docs10 = replicate(base, "scale10_docs_suppress")
    val n1 = base.count(); val n10 = docs10.count()
    assert(n10 == 10 * n1)
    // exact explode volume: one row per (doc, band), nothing more
    def bandVolume(d: DataFrame) = d.select(explode(TextOps.bandStructs(
      TextOps.minhashSignatureFromHashes(TextOps.ngramHashSet(col("text"), 1),
        12, Some(spark)), 12, 3))).count()
    assert(bandVolume(base) == 3 * n1)
    assert(bandVolume(docs10) == 3 * n10)
    def run(d: DataFrame) = TextOps.nearDupSuppress(d).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_lost_bands"),
        r.getAs[Long]("is_kept")))
    run(base) // warmup (JIT + codegen caches)
    val (out1, t1) = timed(run(base))
    val (out10, t10) = timed(run(docs10))
    assertLinear("nearDupSuppress", t1, t10)
    // replication algebra: originals (lowest ids) keep their 1x rows
    // verbatim; every copy loses ALL its bands to an earlier claimant
    assert(out10.filter(_._1 < CopyOffset).sortBy(_._1).toSeq
      == out1.sortBy(_._1).toSeq)
    assert(out10.filter(_._1 >= CopyOffset).forall(r => r._2 == 3L && r._3 == 0L),
      "every copy must lose all 3 bands")
  }

  test("n-gram contamination at 10x train: linear time, join volume exactly 10x", graft.Slow) {
    val docs = graft.queries.Tables(spark, sfDir, "documents")
    val eval_ = docs.where(col("source") === "src0")
    val train1 = docs.where(col("source") =!= "src0")
    val train10 = replicate(train1, "scale10_docs_contam")
    // uncapped: identical copies multiply every matched gram exactly
    def run(t: DataFrame) = TextOps.ngramContamination(t, eval_).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_shared_grams")))
    run(train1) // warmup
    val (out1, t1) = timed(run(train1))
    val (out10, t10) = timed(run(train10))
    assertLinear("ngramContamination", t1, t10)
    assert(out10.length == 10 * out1.length,
      s"flagged docs ${out10.length} vs 10*${out1.length}")
    assert(out10.map(_._2).sum == 10 * out1.map(_._2).sum,
      "probe-join volume (sum of shared grams) must grow exactly 10x")
    // and each copy reproduces its original's gram count verbatim
    val by1 = out1.toMap
    assert(out10.forall { case (id, n) => by1(id % CopyOffset) == n })
  }

  test("inverted index at 10x: linear build+search, exact 10x results", graft.Slow) {
    val base = graft.queries.Tables(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"))
    val docs10 = replicate(base, "scale10_docs_index")
    def buildSearch(d: DataFrame, name: String): Map[Long, Long] = {
      val dir = graft.TempRoots.path(name)
      InvertedIndex.build(d, dir, nBuckets = 16)
      InvertedIndex.searchAll(spark, dir, Seq("window", "scan")).collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("total_tf")).toMap
    }
    buildSearch(base, "scale10_idx_warm") // warmup (codegen + JIT)
    val (r1, t1) = timed(buildSearch(base, "scale10_idx1"))
    val (r10, t10) = timed(buildSearch(docs10, "scale10_idx10"))
    assertLinear("invertedIndex build+search", t1, t10)
    // replication algebra: every copy matches exactly as its original
    assert(r10.size == 10 * r1.size)
    for ((id, tf) <- r1; k <- 0 until 10)
      assert(r10(id + k * CopyOffset) == tf)
  }

  test("heavy hitters at 10x: linear time, counts exactly 10x under a 10x threshold", graft.Slow) {
    val base = graft.queries.Tables(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"))
    val docs10 = replicate(base, "scale10_docs_hh")
    def run(d: DataFrame, mc: Long): Map[String, Long] =
      TextOps.heavyHitters(d, mc, nCounters = 512).collect()
        .map(r => r.getAs[String]("w") -> r.getAs[Long]("cnt")).toMap
    run(base, 100L) // warmup
    val (r1, t1) = timed(run(base, 100L))
    // threshold scales with the corpus → the SAME tokens qualify, at
    // exactly 10x their counts (and the MG bound precondition scales
    // identically on both sides)
    val (r10, t10) = timed(run(docs10, 1000L))
    assertLinear("heavyHitters", t1, t10)
    assert(r1.nonEmpty)
    assert(r10 == r1.map { case (w, c) => w -> (10 * c) })
  }

  test("cell-blocked embedding near-dup at 10x: linear time when cells scale with n", graft.Slow) {
    val base = graft.queries.Tables(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val dim = base.select(size(col("embedding"))).first().getInt(0)
    val n1 = base.count().toInt
    // fresh same-distribution vectors (exact copies would make every
    // pair a near-dup and measure the output size, not the operator)
    val rnd = new scala.util.Random(99)
    val extra = spark.createDataFrame(
      (0 until 9 * n1).map(i => (CopyOffset + i,
        Seq.fill(dim)(rnd.nextGaussian().toFloat))))
      .toDF("vec_id", "embedding")
    val dir = graft.TempRoots.path("scale10_embeddings")
    base.unionByName(extra).write.mode("overwrite").parquet(dir)
    val big = spark.read.parquet(dir)
    // candidate volume ~ nAssign^2 * n^2 / nCells: growing cells WITH n
    // keeps per-cell population (and so per-row work) constant - the
    // scale path the operator documents
    def run(d: DataFrame, cells: Int) =
      VectorOps.embeddingNearDupIvf(d, 0.4, nCells = cells, nAssign = 2).count()
    run(base, 16) // warmup
    val (c1, t1) = timed(run(base, 16))
    val (c10, t10) = timed(run(big, 160))
    assertLinear("embeddingNearDupIvf", t1, t10)
    // sanity: the 10x corpus contains the 1x corpus, so with exhaustive
    // recall the pair set could only grow; with fixed per-cell blocking
    // it must at least still find SOME pairs and never crash
    assert(c1 >= 0 && c10 >= 0)
  }

  test("k-means refinement at 10x: linear time, full coverage", graft.Slow) {
    val base = graft.queries.Tables(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val big10 = (0 until 10).map(k =>
        base.withColumn("vec_id", col("vec_id") + lit(k * CopyOffset)))
      .reduce(_ unionByName _)
    val dir = graft.TempRoots.path("scale10_kmeans")
    big10.write.mode("overwrite").parquet(dir)
    val big = spark.read.parquet(dir)
    val n1 = base.count(); val n10 = big.count()
    def run(d: DataFrame) = VectorOps.kmeansRefine(d, nCells = 8, iters = 3)
      .collect().map(r => r.getAs[Long]("n_rows"))
    run(base) // warmup
    val (s1, t1) = timed(run(base))
    val (s10, t10) = timed(run(big))
    assertLinear("kmeansRefine", t1, t10)
    // every row lands in exactly one cell at both scales
    assert(s1.sum == n1 && s10.sum == n10)
  }

  test("IRLS classifier at 10x identical copies: linear time, near-identical model", graft.Slow) {
    val base = graft.queries.Tables(spark, sfDir, "documents")
    val docs10 = replicate(base, "scale10_docs_classifier")
    def run(d: DataFrame) = TextOps.trainQualityClassifier(d, iters = 8)
    run(base) // warmup
    val (w1, t1) = timed(run(base))
    val (w10, t10) = timed(run(docs10))
    assertLinear("trainQualityClassifier", t1, t10)
    // 10 identical copies leave every gradient/Hessian MEAN unchanged
    // up to the final double rounding of 10x-scaled exact sums — the
    // model must be the same to ~1 ulp per Newton step
    w1.zip(w10).foreach { case (a, b) =>
      assert(math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(a)),
        s"weights diverged: ${w1.toSeq} vs ${w10.toSeq}")
    }
  }

  test("pageRank at 10x disjoint copies: linear time, per-copy ranks scale by 1/10", graft.Slow) {
    val docs = graft.queries.Tables(spark, sfDir, "documents")
    // deterministic sparse digraph from doc ids, then symmetrize
    val e1 = docs.select(col("doc_id").as("src"),
        ((col("doc_id") * 31 + 7) % lit(50)).as("dst"))
    val sym1 = e1.unionByName(
      e1.select(col("dst").as("src"), col("src").as("dst")))
    val sym10 = (0 until 10).map(k => sym1
        .withColumn("src", col("src") + lit(k * CopyOffset))
        .withColumn("dst", col("dst") + lit(k * CopyOffset)))
      .reduce(_ unionByName _)
    def run(d: DataFrame) = GraphOps.pageRank(d, iters = 4).collect()
      .map(r => r.getAs[Long]("node") -> r.getAs[Double]("rank")).toMap
    run(sym1) // warmup
    val (r1, t1) = timed(run(sym1))
    val (r10, t10) = timed(run(sym10))
    assertLinear("pageRank", t1, t10)
    assert(r10.size == 10 * r1.size)
    // 10 disjoint copies split the unit mass: each node's rank is
    // exactly its original's / 10, up to the 1e-12 quantization and
    // the output rounding
    r1.foreach { case (node, rank) =>
      (0 until 10).foreach { k =>
        assert(math.abs(r10(node + k * CopyOffset) - rank / 10) <= 2e-6,
          s"node $node copy $k: ${r10(node + k * CopyOffset)} vs ${rank / 10}")
      }
    }
  }

  test("q189/q190/q194/q199 relational profiling at 10x: linear time, exact 10x counts, invariant ratios", graft.Slow) {
    // 10 copies with offset KEYS and unchanged attribute values:
    // every count scales exactly 10x, every RATIO of 10x-scaled exact
    // integers divides to the same real number, hence (correct IEEE
    // rounding of the same real) the same double
    val dir10 = graft.TempRoots.path("scale10_rel")
    def rep(table: String, keys: Seq[String]): Unit = {
      val base = graft.queries.Tables(spark, sfDir, table)
      (0 until 10).map { k =>
        keys.foldLeft(base)((d, c) =>
          d.withColumn(c, col(c) + lit(k * CopyOffset)))
      }.reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$dir10/$table.parquet")
    }
    rep("customer", Seq("c_custkey"))
    rep("orders", Seq("o_orderkey", "o_custkey"))
    rep("part", Seq("p_partkey"))
    rep("lineitem", Seq("l_orderkey", "l_partkey", "l_suppkey"))
    rep("supplier", Seq("s_suppkey"))
    rep("nation", Seq())
    def q(name: String, dir: String) =
      graft.SparkEntry.queries(name)(spark, dir).collect()

    q("q189_fd_profile", sfDir) // warmup
    val (f1, t1) = timed(q("q189_fd_profile", sfDir))
    val (f10, t10) = timed(q("q189_fd_profile", dir10))
    assertLinear("fdProfile", t1, t10)
    val byFd = f1.map(r => r.getString(0) -> r).toMap
    f10.foreach { r =>
      val b = byFd(r.getString(0))
      assert(r.getAs[Long]("n_rows") == 10 * b.getAs[Long]("n_rows"))
      assert(r.getAs[Long]("violations") == 10 * b.getAs[Long]("violations"))
      assert(r.getAs[Double]("g3") == b.getAs[Double]("g3"),
        s"${r.getString(0)} g3 drifted")
    }

    val (h1, ht1) = timed(q("q190_hist_quantiles", sfDir))
    val (h10, ht10) = timed(q("q190_hist_quantiles", dir10))
    assertLinear("histQuantiles", ht1, ht10)
    h1.zip(h10).foreach { case (a, b) =>
      assert(a.getAs[Double]("p") == b.getAs[Double]("p"))
      assert(a.getAs[Long]("bin") == b.getAs[Long]("bin"),
        "quantile landed in a different bin under pure replication")
      assert(b.getAs[Long]("n_le") == 10 * a.getAs[Long]("n_le"))
      assert(a.getAs[Double]("est") == b.getAs[Double]("est"),
        s"p=${a.getAs[Double]("p")} est drifted")
    }

    val (c1, ct1) = timed(q("q194_corr_matrix", sfDir))
    val (c10, ct10) = timed(q("q194_corr_matrix", dir10))
    assertLinear("corrMatrix", ct1, ct10)
    c1.zip(c10).foreach { case (a, b) =>
      assert(a.getString(0) == b.getString(0))
      assert(b.getAs[Long]("n") == 10 * a.getAs[Long]("n"))
      assert(a.getAs[Double]("corr") == b.getAs[Double]("corr"),
        s"${a.getString(0)} corr drifted")
    }

    val (z1, zt1) = timed(q("q199_benford_audit", sfDir))
    val (z10, zt10) = timed(q("q199_benford_audit", dir10))
    assertLinear("benford", zt1, zt10)
    z1.zip(z10).foreach { case (a, b) =>
      assert(a.getAs[Long]("digit") == b.getAs[Long]("digit"))
      assert(b.getAs[Long]("n") == 10 * a.getAs[Long]("n"))
      assert(a.getAs[Double]("share") == b.getAs[Double]("share"))
      // chi2 scales linearly with n: compare against 10x the 1x term
      // with rounding slack (both sides round to 4 independently)
      assert(math.abs(b.getAs[Double]("chi2_term") -
        10 * a.getAs[Double]("chi2_term")) <= 0.02,
        s"digit ${a.getAs[Long]("digit")} chi2 not ~10x")
    }
  }

  test("q191/q197 session analytics at 10x users: linear time, exact 10x counts, invariant ratios", graft.Slow) {
    // 10 copies of the event log under NEW user ids: sessions, paths
    // and co-occurrence baskets replicate exactly, so counts scale
    // 10x and conf/lift (ratios of 10x integers) are bit-equal
    val dir10 = graft.TempRoots.path("scale10_events")
    val base = graft.queries.Tables(spark, sfDir, "events")
    (0 until 10).map(k => base
        .withColumn("user_id", col("user_id") + lit(k * CopyOffset))
        .withColumn("event_id", col("event_id") + lit(k * CopyOffset)))
      .reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$dir10/events.parquet")
    def q(name: String, dir: String) =
      graft.SparkEntry.queries(name)(spark, dir).collect()

    q("q191_event_paths", sfDir) // warmup
    val (p1, t1) = timed(q("q191_event_paths", sfDir))
    val (p10, t10) = timed(q("q191_event_paths", dir10))
    assertLinear("eventPaths", t1, t10)
    p1.zip(p10).foreach { case (a, b) =>
      assert(a.getString(0) == b.getString(0),
        "top-20 path set changed under pure replication")
      assert(b.getAs[Long]("n") == 10 * a.getAs[Long]("n"))
    }

    val (r1, rt1) = timed(q("q197_association_rules", sfDir))
    val (r10, rt10) = timed(q("q197_association_rules", dir10))
    assertLinear("associationRules", rt1, rt10)
    // the min-support cut (n_both >= 5) is ABSOLUTE, so pairs with
    // 1x-count in [1,4] legitimately surface at 10x — compare the
    // algebra, not raw row sets: every 1x rule reappears with exactly
    // 10x support and bit-equal ratios, and every 10x rule at >= 50
    // support must descend from a surviving 1x rule
    val m10 = r10.map(r => (r.getString(0), r.getString(1)) -> r).toMap
    r1.foreach { a =>
      val b = m10((a.getString(0), a.getString(1)))
      assert(b.getAs[Long]("n_both") == 10 * a.getAs[Long]("n_both"))
      assert(a.getAs[Double]("conf") == b.getAs[Double]("conf"),
        s"${a.getString(0)}->${a.getString(1)} conf drifted")
      assert(a.getAs[Double]("lift") == b.getAs[Double]("lift"),
        s"${a.getString(0)}->${a.getString(1)} lift drifted")
    }
    val keys1 = r1.map(r => (r.getString(0), r.getString(1))).toSet
    r10.filter(_.getAs[Long]("n_both") >= 50L).foreach { b =>
      assert(keys1.contains((b.getString(0), b.getString(1))),
        s"rule ${b.getString(0)}->${b.getString(1)} appeared from nowhere")
    }
  }

  test("repetition signals at 10x: linear time, per-copy rows verbatim", graft.Slow) {
    // every signal is WITHIN-document, so replication must reproduce
    // each original's row verbatim on every copy — any cross-doc
    // leakage (a df-keyed join sneaking in) or super-linear candidate
    // path breaks one of the two assertions
    val base = graft.queries.Tables(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"))
    val docs10 = replicate(base, "scale10_repsig")
    def run(d: DataFrame) = TextOps.repetitionSignals(d).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_words"), r.getAs[Double]("distinct_frac"),
          r.getAs[Double]("top_word_frac"), r.getAs[Double]("top_2gram_frac"),
          r.getAs[Double]("dup_5gram_frac")))
    run(base) // warmup
    val (out1, t1) = timed(run(base))
    val (out10, t10) = timed(run(docs10))
    assertLinear("repetitionSignals", t1, t10)
    assert(out10.length == 10 * out1.length)
    val by1 = out1.toMap
    out10.foreach { case (id, sig) =>
      assert(by1(id % CopyOffset) == sig, s"doc $id drifted: $sig") }
  }

  test("sorted-neighborhood at 10x: linear time, per-doc candidate cap holds", graft.Slow) {
    // identical copies SORT ADJACENTLY inside blocks, so cross-copy
    // pairs legitimately appear — the structural guarantee is the
    // WINDOW cap (<= w candidates per doc), which is what keeps the
    // operator linear no matter how duplicated the corpus is
    val docs10 = replicate(
      graft.queries.Tables(spark, sfDir, "documents"), "scale10_sn")
    val dir10 = graft.TempRoots.path("scale10_sn_tbl")
    docs10.write.mode("overwrite").parquet(s"$dir10/documents.parquet")
    def q(dir: String) =
      graft.SparkEntry.queries("q196_sorted_neighborhood")(spark, dir)
    q(sfDir).collect() // warmup
    val (n1, t1) = timed(q(sfDir).count())
    val (n10, t10) = timed(q(dir10).count())
    assertLinear("sortedNeighborhood", t1, t10)
    val nDocs10 = docs10.count()
    assert(n10 <= 3L * nDocs10, s"candidate volume $n10 exceeds the w=3 cap")
    assert(n10 >= n1, "10x corpus lost candidates")
  }

  test("graftjson incremental planning: appends cost the diff, not the table, at 10x files", graft.Slow) {
    import graft.sources.JsonDocSource
    // 40 NDJSON files, then one appended file: planning must re-walk
    // exactly 1 of 41 — the property that makes a 100k-file table's
    // append O(diff). Also: zone pruning on a clustered key keeps
    // selecting ONE file's partitions regardless of file count.
    val dir = new java.io.File(graft.TempRoots.path("scale_incr"))
    dir.mkdirs()
    for (k <- 0 until 40) {
      val w = new java.io.PrintWriter(new java.io.File(dir, f"p$k%02d.json"))
      for (i <- 0 until 50)
        w.println(s"""{"id": ${k * 1000 + i}, "part": $k}""")
      w.close()
    }
    JsonDocSource.clearInferCache()
    val (_, tFull) = timed {
      spark.read.format("graftjson").option("zonemaps", "true")
        .load(dir.toString).count()
    }
    val walked = JsonDocSource.filesWalked.get()
    val w41 = new java.io.PrintWriter(new java.io.File(dir, "p40.json"))
    for (i <- 0 until 50) w41.println(s"""{"id": ${40000 + i}, "part": 40}""")
    w41.close()
    val (_, tIncr) = timed {
      spark.read.format("graftjson").option("zonemaps", "true")
        .load(dir.toString).count()
    }
    assert(JsonDocSource.filesWalked.get() == walked + 1,
      "append re-walked more than the one new file")
    // the incremental load includes a listing + 1-file job; it must be
    // far under the 41-file cold pass (generous 0.8x bound — equality
    // would mean the diff property silently broke)
    assert(tIncr <= math.max(0.8 * tFull, 1.5),
      s"incremental load ${tIncr}s vs full ${tFull}s")
    // pruning on the clustered key plans exactly one file's partitions
    import org.apache.spark.sql.functions.col
    val q = spark.read.format("graftjson").option("zonemaps", "true")
      .load(dir.toString).where(col("part") === 17)
    assert(q.count() == 50L)
  }
}
