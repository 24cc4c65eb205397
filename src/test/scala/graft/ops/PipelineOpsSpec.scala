package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Round-6 pipeline operators: n-gram decontamination, context-window
  * packing, quality-filter funnel, deterministic shard export. */
class PipelineOpsSpec extends SparkTestBase {

  import org.apache.spark.sql.DataFrame

  private def df(rows: Seq[(Long, String, String)]): DataFrame =
    spark.createDataFrame(rows).toDF("doc_id", "text", "source")

  test("ngramContamination flags exactly the docs sharing a 5-gram with eval") {
    val evalSet = df(Seq(
      (100L, "the quick brown fox jumps over the lazy dog", "eval")))
    val train = df(Seq(
      // shares "quick brown fox jumps over" (and more) with eval
      (1L, "intro text then the quick brown fox jumps over a fence", "tr"),
      // shares only a 4-gram ("brown fox jumps over" broken by swap)
      (2L, "quick brown fox leaps over the lazy dog maybe", "tr"),
      (3L, "completely unrelated words in this training document body", "tr"),
      (4L, "", "tr")))
    val out = TextOps.ngramContamination(train, evalSet).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_shared_grams"), r.getAs[String]("first_gram"))).toMap
    assert(out.keySet == Set(1L), s"got $out")
    // doc 1 vs eval: shared 5-grams are "the quick brown fox jumps" and
    // "quick brown fox jumps over"
    assert(out(1L)._1 == 2L)
    assert(out(1L)._2 == "quick brown fox jumps over") // lexicographic min
  }

  test("stop-gram cap: output unchanged on testdata, join volume cut on boilerplate") {
    val docs = graft.queries.Tables(spark, sfDir, "documents")
    val train = docs.where(col("source") =!= "src0")
    val eval_ = docs.where(col("source") === "src0")
    def rows(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_shared_grams"),
        r.getAs[String]("first_gram"))).toSeq.sortBy(_._1)
    // on the real corpus no eval-shared gram reaches df 32: capped and
    // uncapped runs must be identical
    assert(rows(TextOps.ngramContamination(train, eval_, maxTrainDf = Some(32)))
      == rows(TextOps.ngramContamination(train, eval_)))
    // boilerplate-heavy synthetic corpus: 100 train docs share one
    // footer 5-gram that also appears in eval; 2 train docs quote real
    // eval text. Sum of n_shared_grams IS the probe join's output row
    // count — the cap must cut it from ~102 to 2 and stop flagging the
    // footer-only docs.
    val footer = "all rights reserved by corp"
    val quote = "the quick brown fox jumped over lazy dogs yesterday"
    val synthTrain = df((0L until 100L).map(i =>
      (i, s"unique body $i words here $footer", "web")) ++
      Seq((100L, s"page one $quote end", "web"),
        (101L, s"page two $quote end", "web")))
    val synthEval = df(Seq(
      (900L, s"benchmark question text $footer", "eval"),
      (901L, s"benchmark with $quote inside", "eval")))
    def volume(d: org.apache.spark.sql.DataFrame): Long =
      Option(d.agg(sum(col("n_shared_grams"))).collect()(0).get(0))
        .map(_.asInstanceOf[Long]).getOrElse(0L)
    val uncapped = TextOps.ngramContamination(synthTrain, synthEval)
    val capped = TextOps.ngramContamination(synthTrain, synthEval,
      maxTrainDf = Some(32))
    assert(volume(uncapped) >= 100L, s"footer gram must explode: ${volume(uncapped)}")
    val cappedRows = capped.collect().map(_.getAs[Long]("doc_id")).toSet
    assert(cappedRows == Set(100L, 101L),
      s"only true quoters flagged after the cap: $cappedRows")
    assert(volume(capped) < volume(uncapped) / 10,
      s"capped ${volume(capped)} vs uncapped ${volume(uncapped)}")
  }

  test("ngramContamination fires on the real corpus and catches verbatim quoting") {
    // NOTE the two screens are deliberately orthogonal on this corpus:
    // exact contamination (q70) matches token-SET fingerprints, which
    // this word-salad corpus duplicates in scrambled ORDER — those
    // share no literal 5-gram. The gram screen instead catches ordered
    // substring overlap, including eval text quoted inside a larger doc
    // (which the whole-doc fingerprint can never see).
    val docs = graft.queries.Tables(spark, sfDir, "documents")
    val train = docs.where(col("source") =!= "src0")
      .select(col("doc_id"), col("text"), col("source"))
    val evalSet = docs.where(col("source") === "src0")
    // the corpus itself has cross-source ordered overlap (6 docs at sf0.001)
    assert(TextOps.ngramContamination(train, evalSet).count() > 0)
    // a train doc QUOTING an eval doc verbatim inside extra context is
    // flagged, with every eval 5-gram shared
    val evalRow = evalSet.select(col("text")).where(size(split(col("text"), " ")) >= 10)
      .orderBy(col("doc_id")).limit(1).collect()(0).getString(0)
    val nEvalWords = evalRow.split(" ").length
    val quoting = df(Seq((900001L, s"prefix words then $evalRow and a suffix", "trX")))
    val hit = TextOps.ngramContamination(quoting, evalSet).collect()
    assert(hit.length == 1 && hit(0).getAs[Long]("doc_id") == 900001L)
    assert(hit(0).getAs[Long]("n_shared_grams") >= nEvalWords - 4)
  }

  test("contextPacking windows tile the concatenated stream exactly") {
    val docs = df(Seq(
      (1L, Seq.fill(300)("w").mkString(" "), "a"), // 300 words
      (2L, Seq.fill(100)("w").mkString(" "), "a"), // ends at 400
      (3L, Seq.fill(200)("w").mkString(" "), "a"), // ends at 600
      (10L, Seq.fill(10)("w").mkString(" "), "b")))
    val out = TextOps.contextPacking(docs, budget = 256).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("window_id")) ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("n_words"))).toMap
    // source a: 600 words -> windows 0,1 full (256) + window 2 tail (88)
    assert(out(("a", 0L)) == (1L, 256L)) // [0,256) ⊂ doc1
    assert(out(("a", 1L)) == (3L, 256L)) // doc1 tail 44 + doc2 100 + doc3 112
    assert(out(("a", 2L)) == (1L, 88L)) // doc3 tail
    assert(out(("b", 0L)) == (1L, 10L))
    // per-source word totals are preserved by the tiling
    val totalA = out.collect { case (("a", _), (_, nw)) => nw }.sum
    assert(totalA == 600L)
  }

  test("contextPacking matches per-doc word counts on the real corpus") {
    val docs = graft.queries.Tables(spark, sfDir, "documents")
    val packed = TextOps.contextPacking(docs)
    val packedWords = packed.agg(sum(col("n_words"))).collect()(0).getLong(0)
    val rawWords = docs.select(
      sum(size(split(coalesce(col("text"), lit("")), " ")).cast("bigint")))
      .collect()(0).getLong(0)
    assert(packedWords == rawWords,
      s"packing lost words: packed $packedWords raw $rawWords")
    // every non-tail window holds exactly `budget` words
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("source"))
    val nonTail = packed
      .withColumn("last_w", max(col("window_id")).over(w))
      .where(col("window_id") < col("last_w"))
      .where(col("n_words") =!= 256)
    assert(nonTail.count() == 0, "a non-tail window missed its budget")
  }

  test("filterFunnel counts rejections per rule and survivors") {
    val docs = df(Seq(
      (1L, "the of and a in to is words enough here total eleven", "a"),
      (2L, "short doc", "a"), // < 8 words
      (3L, "zz zz zz zz zz zz zz zz zz zz", "a"), // repetitive + no stopwords
      // 8 words, mean word length (3 + 7·20)/8 ≈ 17.9 > 12
      (4L, "the abcdefghijklmnopqrst bcdefghijklmnopqrstu cdefghijklmnopqrstuv " +
        "defghijklmnopqrstuvw efghijklmnopqrstuvwx fghijklmnopqrstuvwxy " +
        "ghijklmnopqrstuvwxyz", "b")))
    val out = TextOps.filterFunnel(docs).collect()
      .map(r => r.getAs[String]("source") -> r).toMap
    val a = out("a")
    assert(a.getAs[Long]("n_docs") == 3L)
    assert(a.getAs[Long]("n_short") == 1L) // doc 2
    assert(a.getAs[Long]("n_low_stopword") == 2L) // docs 2, 3
    assert(a.getAs[Long]("n_repetitive") == 1L) // doc 3 (dup ratio 0.9)
    assert(a.getAs[Long]("n_survivors") == 1L) // doc 1
    val b = out("b")
    // doc 4: 8 words, has "the", mean word len ≈17.9 fails the len rule
    assert(b.getAs[Long]("n_bad_wordlen") == 1L)
    assert(b.getAs[Long]("n_survivors") == 0L)
  }

  test("curation e2e stages are monotone and the final audit balances") {
    val docs = graft.queries.Tables(spark, sfDir, "documents")
    val nAll = docs.count()
    val survivors = TextOps.dedupedDocs(docs)
    val nDedup = survivors.count()
    val kept = survivors.where(TextOps.qualityOk)
    val nQuality = kept.count()
    val audit = graft.SparkEntry.queries("q102_curation_e2e")(spark, sfDir)
    // null-safe: an all-dropped pipeline must reach the assert below,
    // not NPE on the null sum
    val nClean = Option(audit.agg(sum(col("n_docs"))).collect()(0).get(0))
      .map(_.asInstanceOf[Long]).getOrElse(0L)
    // each stage can only drop documents
    assert(nAll >= nDedup && nDedup >= nQuality && nQuality >= nClean,
      s"$nAll >= $nDedup >= $nQuality >= $nClean violated")
    assert(nClean > 0, "pipeline dropped everything — stages miswired")
    // decontamination removes only non-src0 docs, so src0's audit row
    // must equal its quality-gated survivor count exactly
    val src0Audit = audit.where(col("source") === "src0").collect()
      .headOption.map(_.getAs[Long]("n_docs")).getOrElse(0L)
    assert(src0Audit == kept.where(col("source") === "src0").count())
  }

  test("curation lineage reconciles with the funnel: kept totals equal q102, stages partition the corpus") {
    val lineage = graft.SparkEntry.queries("q114_curation_lineage")(spark, sfDir)
      .collect()
    val docs = graft.queries.Tables(spark, sfDir, "documents")
    // every doc gets exactly one lineage row (the stages PARTITION the
    // corpus — no doc double-counted, none unaccounted)
    assert(lineage.length == docs.count())
    val byStage = lineage.groupBy(_.getAs[String]("first_drop_stage"))
      .view.mapValues(_.length.toLong).toMap
    assert(byStage.keySet.subsetOf(
      Set("dedup", "quality", "contamination", "kept")))
    // per-source kept counts must equal q102's funnel output exactly
    val keptBySource = lineage.filter(_.getAs[String]("first_drop_stage") == "kept")
      .groupBy(_.getAs[String]("source")).view.mapValues(_.length.toLong).toMap
    val audit = graft.SparkEntry.queries("q102_curation_e2e")(spark, sfDir)
      .collect().map(r => r.getAs[String]("source") -> r.getAs[Long]("n_docs"))
      .toMap
    assert(keptBySource == audit,
      s"lineage kept $keptBySource vs funnel $audit")
    // and the stage counts reconcile with the independently computed
    // stage survivor counts
    val nDedupDrop = docs.count() - TextOps.dedupedDocs(docs).count()
    assert(byStage.getOrElse("dedup", 0L) == nDedupDrop)
  }

  test("incrementalCuration equals the from-scratch verdict and never re-reads unchanged text") {
    val docs = graft.queries.Tables(spark, sfDir, "documents")
    val oldSnap = docs.where(col("doc_id") % 5 =!= 4)
    val newSnap = docs.where(col("doc_id") % 7 =!= 6)
      .withColumn("text",
        when(col("doc_id") % 11 === 0,
          concat(coalesce(col("text"), lit("")), lit(" updated")))
          .otherwise(col("text")))
    // the previous run's PERSISTED state (parquet round-trip, as in
    // production — the incremental path must never need old text)
    val stateDir = graft.TempRoots.path("cur_state_spec")
    TextOps.curationState(oldSnap).write.mode("overwrite").parquet(stateDir)
    val oldState = spark.read.parquet(stateDir)
    val diff = TextOps.snapshotDiff(oldSnap, newSnap)
    val inc = TextOps.incrementalCuration(oldState, newSnap, diff)
    def verdicts(df: org.apache.spark.sql.DataFrame) = df
      .select(col("doc_id"), col("source"), col("first_drop_stage"))
      .collect().map(r => (r.getAs[Long]("doc_id"),
        r.getAs[String]("source"), r.getAs[String]("first_drop_stage")))
      .sortBy(_._1).toSeq
    // row-for-row equality with a from-scratch run on the new snapshot
    val scratch = TextOps.curationVerdict(TextOps.curationState(newSnap))
    assert(verdicts(inc) == verdicts(scratch))
    // statuses come straight from the diff (removed docs excluded)
    val incStatuses = inc.groupBy(col("status")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val diffStatuses = diff.where(col("status") =!= "removed")
      .groupBy(col("status")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(incStatuses == diffStatuses)
    assert(Set("added", "changed", "unchanged").subsetOf(incStatuses.keySet),
      s"slice must exercise all carried/fresh paths: $incStatuses")
    // carry-forward proof: poison ONE unchanged kept doc's stored state
    // (flip quality_ok). If the incremental path re-derived state from
    // text, the poison would be invisible; because unchanged docs carry
    // the STORED state, the verdict must flip to 'quality'.
    val victimId = inc.where(col("status") === "unchanged" &&
        col("first_drop_stage") === "kept")
      .select(col("doc_id")).orderBy(col("doc_id")).limit(1)
      .collect()(0).getLong(0)
    val poisoned = oldState.withColumn("quality_ok",
      when(col("doc_id") === victimId, lit(false)).otherwise(col("quality_ok")))
    val incPoisoned = TextOps.incrementalCuration(poisoned, newSnap, diff)
      .where(col("doc_id") === victimId).collect()
    assert(incPoisoned(0).getAs[String]("first_drop_stage") == "quality",
      "unchanged docs must use the stored state, not recomputed text")
    // and the heavy text subtree sits under the diff-slice restriction
    val plan = inc.queryExecution.optimizedPlan.toString
    assert(plan.contains("LeftSemi"), "fresh slice must be a semi-join restriction")
  }

  test("quality-aware dedup keeps one survivor per group, and it is the best one") {
    val docs = graft.queries.Tables(spark, sfDir, "documents")
    val best = TextOps.dedupBestQuality(docs)
    // same fingerprint partition as min-id dedup → same group count
    assert(best.count() == TextOps.dedupedDocs(docs).count())
    // every survivor carries its group's maximum score
    val fp = TextOps.tokenSetFingerprint(col("text"))
    val grpMax = docs.withColumn("fp", fp)
      .join(TextOps.qualityScore(docs).select(col("doc_id"), col("quality_score")),
        "doc_id")
      .groupBy(col("fp")).agg(max(col("quality_score")).as("max_score"))
    val offenders = best // survivor rows keep their text + score
      .withColumn("fp", fp).join(grpMax, "fp")
      .where(col("quality_score") =!= col("max_score"))
    assert(offenders.count() == 0)
  }

  test("shard export round-trips every row into its computed shard") {
    val docs = graft.queries.Tables(spark, sfDir, "documents")
    val out = graft.TempRoots.path("shard_spec")
    val audit = Sharding.writeShards(docs, out, nShards = 4, maxRecordsPerFile = 50L)
    val back = spark.read.parquet(out)
    // the observe/CollectMetrics audit rode the write job: rows written
    // and the shard spread match the sink without any extra scan
    assert(audit.n_rows == docs.count(), s"audit $audit")
    assert(audit.min_shard == 0 && audit.max_shard == 3, s"audit $audit")
    // no loss, no duplication
    assert(back.count() == docs.count())
    assert(back.select(col("doc_id")).distinct().count() == docs.count())
    // every row landed in the shard its key computes to
    val misplaced = back.where(
      col("shard") =!= Sharding.shardOf(col("doc_id"), 4)).count()
    assert(misplaced == 0L, s"$misplaced rows in the wrong shard dir")
    // the sink produced one directory per non-empty shard
    val dirs = new java.io.File(out).listFiles()
      .filter(_.getName.startsWith("shard=")).map(_.getName).toSet
    val shards = back.select(col("shard")).distinct()
      .collect().map(r => s"shard=${r.get(0)}").toSet
    assert(dirs == shards)
    // maxRecordsPerFile is honored (50 rows per file at most)
    val files = new java.io.File(out).listFiles()
      .filter(_.getName.startsWith("shard="))
      .flatMap(_.listFiles()).filter(_.getName.endsWith(".parquet"))
    files.foreach { f =>
      val n = spark.read.parquet(f.getAbsolutePath).count()
      assert(n <= 50L, s"${f.getName} holds $n rows > maxRecordsPerFile")
    }
  }

  test("compaction: lossless rewrite, bounded file count, disjoint key spans per file") {
    val docs = graft.queries.Tables(spark, sfDir, "documents")
    val frag = graft.TempRoots.path("compact_frag")
    val out = graft.TempRoots.path("compact_out")
    docs.repartition(13).write.mode("overwrite").parquet(frag)
    val audit = Sharding.compact(spark, frag, out, "doc_id",
      targetRecords = 120L)
    val n = docs.count()
    val expectFiles = (n + 119) / 120
    assert(audit.n_rows == n, s"audit $audit")
    assert(audit.files_before == 13L, s"audit $audit")
    // range boundaries come from a sample, so an oversized partition
    // may split once under maxRecordsPerFile — allow a little slack,
    // but the rewrite must beat the fragmented layout decisively
    assert(audit.files_after >= expectFiles && audit.files_after <= expectFiles + 2,
      s"audit $audit, expected ~$expectFiles files")
    assert(audit.files_after < audit.files_before)
    val back = spark.read.parquet(out)
    assert(back.count() == n)
    assert(back.select(col("doc_id")).distinct().count() == n)
    // every file holds ≤ targetRecords rows and covers a key span
    // disjoint from every other file — the footer min/max stays
    // selective for data-skipping readers
    val perFile = back.groupBy(input_file_name().as("f"))
      .agg(count(lit(1)).as("nr"),
        min(col("doc_id")).as("lo"), max(col("doc_id")).as("hi"))
      .collect()
    perFile.foreach(r =>
      assert(r.getAs[Long]("nr") <= 120L, s"${r.getAs[String]("f")} too big"))
    val spans = perFile.map(r => (r.getAs[Long]("lo"), r.getAs[Long]("hi")))
      .sortBy(_._1)
    spans.sliding(2).foreach {
      case Array((_, h1), (l2, _)) => assert(h1 < l2, "file key spans overlap")
      case _ => ()
    }
  }

  test("zone map admits only intersecting files, scan is exact, empty range degrades cleanly") {
    val docs = graft.queries.Tables(spark, sfDir, "documents")
    val data = graft.TempRoots.path("zonemap_data_spec")
    val idx = graft.TempRoots.path("zonemap_idx_spec")
    Sharding.compact(spark, s"$sfDir/documents.parquet", data, "doc_id",
      targetRecords = 64L)
    Sharding.zoneMapIndex(spark, data, "doc_id", idx)
    val total = spark.read.parquet(data).inputFiles.length
    // index rows mirror the physical files one-to-one
    assert(spark.read.parquet(idx).count() == total.toLong)
    val (lo, hi) = (100L, 180L)
    val admitted = Sharding.zoneMapFiles(spark, idx, lo, hi)
    // the range covers ~81 of ~500 clustered rows: most files must skip
    assert(admitted.nonEmpty && admitted.length < total,
      s"admitted ${admitted.length} of $total files")
    // admitted is exactly the set of files whose span intersects:
    // every OTHER file holds no row in range (no false skips anywhere)
    val outside = spark.read.parquet(data)
      .where(!input_file_name().isin(admitted.toIndexedSeq: _*))
      .where(col("doc_id") >= lo && col("doc_id") <= hi)
    assert(outside.isEmpty, "a skipped file held an in-range row")
    // pruned scan ≡ full filter
    val got = Sharding.zoneMapScan(spark, data, idx, "doc_id", lo, hi)
      .select(col("doc_id")).collect().map(_.getLong(0)).sorted.toSeq
    val want = docs.where(col("doc_id") >= lo && col("doc_id") <= hi)
      .select(col("doc_id")).collect().map(_.getLong(0)).sorted.toSeq
    assert(got == want && got.nonEmpty)
    // the executed plan reads only the admitted files
    val read = Sharding.zoneMapScan(spark, data, idx, "doc_id", lo, hi)
      .select(input_file_name()).distinct().collect().map(_.getString(0))
    assert(read.toSet.subsetOf(admitted.toSet), read.mkString("\n"))
    // a range beyond the corpus admits nothing and returns empty, typed
    val empty = Sharding.zoneMapScan(spark, data, idx, "doc_id",
      10000000L, 20000000L)
    assert(empty.isEmpty && empty.columns.contains("doc_id"))
  }

  test("maintainStats: delta-maintained rollup equals a recompute over the merged store") {
    val store = graft.TempRoots.path("stats_store_spec")
    val stats = graft.TempRoots.path("stats_view_spec")
    val base = spark.createDataFrame(Seq(
      (0L, "aaaa", "en", "web", 4L), (1L, "bbbbbb", "en", "web", 6L),
      (2L, "cc", "en", "book", 2L), (3L, "ddddd", "en", "book", 5L),
      (4L, "eee", "en", "code", 3L)))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    Sharding.initDocStore(base, store, 4)
    Sharding.initStatsStore(base, stats)
    val changes = spark.createDataFrame(Seq(
      // longer text, same source        → chars delta only
      (0L, "aaaaaaaa", "en", "web", 8L, "upsert"),
      // SOURCE MOVE: book → web         → both sides shift
      (2L, "cc", "en", "web", 2L, "upsert"),
      // brand-new doc in a new source   → +1 row in stats
      (9L, "zzzz", "en", "wiki", 4L, "upsert"),
      // delete                          → −1; 'code' empties and drops
      (4L, null.asInstanceOf[String], "en", "code", 0L, "delete")))
      .toDF("doc_id", "text", "lang", "source", "n_chars", "op")
    val maintained = Sharding.maintainStats(spark, store, stats, changes, 4)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1).toSeq
    // now actually merge the same batch and recompute from scratch
    Sharding.mergeCdc(spark, store, changes, 4)
    val recomputed = spark.read.parquet(store)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1).toSeq
    assert(maintained == recomputed, s"$maintained vs $recomputed")
    assert(maintained.map(_._1) == Seq("book", "web", "wiki"))
    // the persisted view matches what was returned
    val persisted = spark.read.parquet(stats)
      .collect().map(r => (r.getAs[String]("source"), r.getAs[Long]("n_docs"),
        r.getAs[Long]("total_chars"))).sortBy(_._1).toSeq
    assert(persisted == maintained)
    // staging cleaned up
    assert(!new java.io.File(s"${stats}__staging").exists())
  }

  test("maintainStats: same-keys different-content batch APPLIES; true retry is skipped") {
    // ADVICE r12: the ledger signature must cover the change CONTENT
    // (source, n_chars), not just doc_id/op — the same doc upserted in
    // two consecutive batches with different lengths is a normal CDC
    // pattern, not a retry
    val store = graft.TempRoots.path("stats_store_sig_spec")
    val stats = graft.TempRoots.path("stats_view_sig_spec")
    val base = spark.createDataFrame(Seq(
      (0L, "aaaa", "en", "web", 4L), (1L, "bb", "en", "book", 2L)))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    Sharding.initDocStore(base, store, 4)
    Sharding.initStatsStore(base, stats)
    def batch(nChars: Long) = spark.createDataFrame(Seq(
      (0L, "x" * nChars.toInt, "en", "web", nChars, "upsert")))
      .toDF("doc_id", "text", "lang", "source", "n_chars", "op")
    // batch 1: doc 0 grows to 10 chars
    Sharding.maintainStats(spark, store, stats, batch(10L), 4)
    Sharding.mergeCdc(spark, store, batch(10L), 4)
    // batch 2: SAME doc_id/op multiset, DIFFERENT content (7 chars) —
    // must apply, not be ledger-skipped
    val after = Sharding.maintainStats(spark, store, stats, batch(7L), 4)
      .where(col("source") === "web").collect()(0)
    assert(after.getAs[Long]("total_chars") == 7L,
      s"content-distinct batch was skipped as a retry: $after")
    Sharding.mergeCdc(spark, store, batch(7L), 4)
    // a TRUE retry of batch 2 (identical content) is a no-op
    val retried = Sharding.maintainStats(spark, store, stats, batch(7L), 4)
      .where(col("source") === "web").collect()(0)
    assert(retried.getAs[Long]("total_chars") == 7L &&
      retried.getAs[Long]("n_docs") == 1L, s"retry double-applied: $retried")
  }

  test("maintainStats: a pre-upgrade legacy-format ledger entry still skips its own batch's retry") {
    // ADVICE r13: the r13 signature upgrade (content hash) must not
    // make an in-flight foreachBatch retry — recorded under the OLD
    // formula — look like a new batch and double-apply its delta
    val store = graft.TempRoots.path("stats_store_legacy_spec")
    val stats = graft.TempRoots.path("stats_view_legacy_spec")
    val base = spark.createDataFrame(Seq(
      (0L, "aaaa", "en", "web", 4L), (1L, "bb", "en", "book", 2L)))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    Sharding.initDocStore(base, store, 4)
    Sharding.initStatsStore(base, stats)
    val b = spark.createDataFrame(Seq(
      (0L, "x" * 9, "en", "web", 9L, "upsert")))
      .toDF("doc_id", "text", "lang", "source", "n_chars", "op")
    Sharding.maintainStats(spark, store, stats, b, 4)
    // overwrite the ledger with what the PRE-upgrade code recorded for
    // this same batch: count + keys-only hash, no format tag
    val sigRow = b.agg(count(lit(1)),
      coalesce(sum(xxhash64(concat_ws("|",
          col("doc_id").cast("string"), col("op")))
        .cast("decimal(38,0)")), lit(0L).cast("decimal(38,0)")))
      .collect()(0)
    Fs.writeUtf8Atomic(spark, s"${stats}__last",
      s"${sigRow.getLong(0)}:${sigRow.get(1)}")
    // the retry (store NOT yet merged — the maintain-first contract)
    // must be skipped: an apply would re-subtract the old 4 chars and
    // re-add 9, leaving 14
    val retried = Sharding.maintainStats(spark, store, stats, b, 4)
      .where(col("source") === "web").collect()(0)
    assert(retried.getAs[Long]("total_chars") == 9L &&
      retried.getAs[Long]("n_docs") == 1L,
      s"legacy-recorded batch double-applied on retry: $retried")
    // the IMMEDIATELY-preceding era (review r14): the r13 release
    // recorded the content hash UNTAGGED — its retry must skip too
    val sig4 = b.agg(count(lit(1)),
      coalesce(sum(xxhash64(concat_ws("|",
          col("doc_id").cast("string"), col("op"),
          coalesce(col("source"), lit("null")),
          coalesce(col("n_chars").cast("string"), lit("null"))))
        .cast("decimal(38,0)")), lit(0L).cast("decimal(38,0)")))
      .collect()(0)
    Fs.writeUtf8Atomic(spark, s"${stats}__last",
      s"${sig4.getLong(0)}:${sig4.get(1)}")
    val retried4 = Sharding.maintainStats(spark, store, stats, b, 4)
      .where(col("source") === "web").collect()(0)
    assert(retried4.getAs[Long]("total_chars") == 9L &&
      retried4.getAs[Long]("n_docs") == 1L,
      s"untagged content-hash batch double-applied on retry: $retried4")
  }

  test("morton matches a reference bit-interleave") {
    def ref(x: Long, y: Long): Long = {
      var z = 0L
      for (i <- 0 until 16)
        z |= (((x >> i) & 1L) << (2 * i)) | (((y >> i) & 1L) << (2 * i + 1))
      z
    }
    val pairs = Seq((0L, 0L), (1L, 0L), (0L, 1L), (65535L, 65535L),
      (12345L, 54321L), (40000L, 7L))
    val df = spark.createDataFrame(pairs).toDF("x", "y")
      .select(col("x"), col("y"), Sharding.morton(col("x"), col("y")).as("z"))
    df.collect().foreach { r =>
      assert(r.getAs[Long]("z") == ref(r.getAs[Long]("x"), r.getAs[Long]("y")))
    }
  }

  test("zorder files cover tight rectangles on BOTH dims; lexicographic spans the full second dim") {
    val orders = graft.queries.Tables(spark, sfDir, "orders")
    val day = datediff(col("o_orderdate").cast("date"),
      lit("1970-01-01").cast("date"))
    val zDir = graft.TempRoots.path("zorder_spec")
    val audit = Sharding.zorderWrite(orders, zDir, col("o_custkey"), day,
      targetRecords = 100L)
    assert(audit.n_rows == orders.count())
    assert(audit.files_after >= (audit.n_rows + 99) / 100)
    // lexicographic contrast: range-partition + sort on custkey alone
    val lexDir = graft.TempRoots.path("zorder_lex")
    orders.repartitionByRange(audit.files_after.toInt, col("o_custkey"))
      .sortWithinPartitions(col("o_custkey"))
      .write.mode("overwrite").option("maxRecordsPerFile", 100L)
      .parquet(lexDir)
    // normalized mean per-file span of the SECOND dimension (order day)
    def daySpread(dir: String): Double = {
      val back = spark.read.parquet(dir).withColumn("d", day)
      val global = back.agg((max(col("d")) - min(col("d"))).cast("double"))
        .head().getDouble(0)
      val spans = back.groupBy(input_file_name())
        .agg(((max(col("d")) - min(col("d"))) / global).as("s"))
        .agg(avg(col("s"))).head().getDouble(0)
      spans
    }
    val zSpread = daySpread(zDir)
    val lexSpread = daySpread(lexDir)
    // lexicographic files each cover (nearly) the whole date range;
    // z-order files cover a bounded rectangle — demand a decisive gap
    assert(lexSpread > 0.8, s"lex day spread $lexSpread")
    assert(zSpread < lexSpread * 0.6, s"z $zSpread vs lex $lexSpread")
    // and the rewrite stayed lossless
    assert(spark.read.parquet(zDir).count() == audit.n_rows)
    assert(spark.read.parquet(zDir).select(col("o_orderkey")).distinct()
      .count() == audit.n_rows)
  }

  test("mergeCdc rewrites only touched buckets, replays idempotently, cleans staging") {
    val docs = graft.queries.Tables(spark, sfDir, "documents")
    val store = graft.TempRoots.path("cdc_store")
    Sharding.initDocStore(docs, store, 8)
    def bucketFiles(): Map[String, Set[String]] =
      new java.io.File(store).listFiles()
        .filter(_.getName.startsWith("bucket=")).map { d =>
          d.getName -> d.listFiles().map(f =>
            s"${f.getName}:${f.lastModified}").toSet
        }.toMap
    val before = bucketFiles()
    // a change batch confined to two doc_ids → at most two buckets
    val changes = spark.createDataFrame(Seq(
      (3L, "rewritten text", "en", "a", 14L, "upsert"),
      (7L, null.asInstanceOf[String], "en", "a", 0L, "delete")))
      .toDF("doc_id", "text", "lang", "source", "n_chars", "op")
    val audit = Sharding.mergeCdc(spark, store, changes, 8)
    assert(audit == Sharding.CdcAudit(1L, 1L, 2L), s"audit $audit")
    val after = bucketFiles()
    val touched = Seq(3L, 7L)
      .map(id => s"bucket=${((id * 48271) % 2147483647L) % 8}").toSet
    // untouched bucket partitions kept their exact files (same names,
    // same mtimes); touched ones were rewritten
    for ((b, files) <- before if !touched.contains(b))
      assert(after(b) == files, s"untouched $b was rewritten")
    for (b <- touched)
      assert(after(b) != before(b), s"touched $b was not rewritten")
    // content: doc 3 updated, doc 7 gone, everything else intact
    val back = spark.read.parquet(store)
    assert(back.where(col("doc_id") === 3L).select(col("text"))
      .head().getString(0) == "rewritten text")
    assert(back.where(col("doc_id") === 7L).count() == 0L)
    assert(back.count() == docs.count() - 1)
    // replay: same batch again → same content, still no staging dir
    Sharding.mergeCdc(spark, store, changes, 8)
    val replayed = spark.read.parquet(store)
    assert(replayed.count() == docs.count() - 1)
    assert(replayed.where(col("doc_id") === 3L).select(col("text"))
      .head().getString(0) == "rewritten text")
    assert(!new java.io.File(s"$store/_staging").exists(),
      "staging dir survived the merge")
  }

  test("a delete that EMPTIES a bucket removes its dir; a crashed merge rolls forward") {
    import spark.implicits._
    val store = graft.TempRoots.path("cdc_emptied")
    val docs = spark.createDataFrame(
      (0L until 24L).map(i => (i, s"t$i", "en", "a", i)))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    Sharding.initDocStore(docs, store, nBuckets = 4)
    def byBucket = spark.read.parquet(store)
      .select(col("doc_id"), col("bucket")).collect()
      .groupBy(_.getInt(1)).view.mapValues(_.map(_.getLong(0)).toSet).toMap
    val (b, ids) = byBucket.head
    // delete EVERY doc of one bucket, no upserts hashing there: a
    // dynamic overwrite cannot truncate a zero-output partition — the
    // merge must REMOVE the dir (review r12: these rows previously
    // survived silently while the audit reported the deletes applied)
    val eraser = spark.createDataFrame(ids.toSeq.map(i =>
        (i, null.asInstanceOf[String], "en", "a", 0L, "delete")))
      .toDF("doc_id", "text", "lang", "source", "n_chars", "op")
    Sharding.mergeCdc(spark, store, eraser, 4)
    val after = spark.read.parquet(store)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(after.intersect(ids).isEmpty, "emptied bucket's rows survived")
    assert(!new java.io.File(s"$store/bucket=$b").exists)
    assert(!new java.io.File(s"$store/_cdc_pending").exists)
    assert(!new java.io.File(s"$store/_staging").exists)

    // CRASH state: staged post-merge content + committed marker, with
    // one touched bucket wiped (Spark's per-partition delete-then-
    // rename died between the two) — the next merge entry must
    // restore the bucket FROM STAGING, completing the crashed delete
    val (b2, ids2) = byBucket.filter(_._2.size >= 2).head
    val dead2 = ids2.min
    spark.read.parquet(store)
      .where(col("bucket") === b2 && col("doc_id") =!= dead2)
      .write.parquet(s"$store/_staging/out")
    spark.createDataFrame(Seq(Tuple1(-1))).toDF("bucket")
      .coalesce(1).write.parquet(s"$store/_cdc_pending/emptied")
    graft.ops.Fs.delete(spark, s"$store/bucket=$b2") // the torn commit
    Sharding.mergeCdc(spark, store, eraser.where(lit(false)), 4)
    val healed = spark.read.parquet(store)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(!healed.contains(dead2), "the crashed delete must complete")
    assert((ids2 - dead2).subsetOf(healed),
      "the torn bucket's survivors must be restored from staging")
    assert(!new java.io.File(s"$store/_cdc_pending").exists)
    assert(!new java.io.File(s"$store/_staging").exists)
  }

  test("mergeCdc: conflicting rows for one id fail fast and leave no staging") {
    val store = graft.TempRoots.path("cdc_conflict_store")
    Sharding.initDocStore(spark.createDataFrame(
        (0L until 20L).map(i => (i, s"doc $i", "en", "a", 6L)))
      .toDF("doc_id", "text", "lang", "source", "n_chars"), store, 4)
    // conflicting rows for one id in a single batch must fail fast,
    // not silently duplicate the doc in the store
    val bad = spark.createDataFrame(Seq(
      (5L, "a", "en", "a", 1L, "upsert"),
      (5L, "b", "en", "a", 1L, "upsert")))
      .toDF("doc_id", "text", "lang", "source", "n_chars", "op")
    val err = intercept[IllegalArgumentException] {
      Sharding.mergeCdc(spark, store, bad, 4)
    }
    assert(err.getMessage.contains("one change per id"))
    // and the failed merge left no staging behind
    assert(!new java.io.File(s"$store/_staging").exists())
  }

  test("write audit degrades cleanly on an empty export (null min/max, no stall)") {
    val docs = graft.queries.Tables(spark, sfDir, "documents")
    val audit = Sharding.writeShards(docs.where(lit(false)),
      graft.TempRoots.path("shard_empty"), nShards = 4)
    // observe over zero rows: count 0, min/max null → sentinels (the
    // null unbox used to NPE on the listener thread and stall the
    // latch for its full timeout)
    assert(audit.n_rows == 0L && audit.min_shard == -1 && audit.max_shard == -1,
      s"audit $audit")
  }

  test("merged-schema scan: evolved column is null exactly on pre-evolution files") {
    val docs = graft.queries.Tables(spark, sfDir, "documents")
    val out = graft.TempRoots.path("evo_spec")
    docs.where(col("doc_id") % 2 === 0)
      .select(col("doc_id"), col("source"))
      .write.mode("overwrite").parquet(s"$out/epoch=1")
    docs.where(col("doc_id") % 2 =!= 0)
      .select(col("doc_id"), col("source"), lit(true).as("added_later"))
      .write.mode("overwrite").parquet(s"$out/epoch=2")
    val merged = spark.read.option("mergeSchema", "true").parquet(out)
    // one scan sees both revisions: the evolved column and the epoch
    // partition column are in the merged schema
    assert(merged.columns.contains("added_later") && merged.columns.contains("epoch"))
    assert(merged.count() == docs.count())
    // null exactly on the legacy half, populated exactly on the new half
    assert(merged.where(col("added_later").isNull)
      .where(col("doc_id") % 2 =!= 0).count() == 0)
    assert(merged.where(col("added_later").isNotNull)
      .where(col("doc_id") % 2 === 0).count() == 0)
  }

  test("shard export is deterministic: two runs produce identical shard files") {
    val docs = graft.queries.Tables(spark, sfDir, "documents")
    def checksum(dir: String): Seq[(Any, String)] = {
      Sharding.writeShards(docs, dir, nShards = 4)
      spark.read.parquet(dir)
        .select(col("shard"), md5(concat_ws("|", col("doc_id"), col("text"))).as("h"))
        .groupBy(col("shard"))
        .agg(md5(concat_ws(",", array_sort(collect_list(col("h"))))).as("sig"))
        .collect().map(r => (r.get(0), r.getString(1))).sortBy(_.toString()).toSeq
    }
    assert(checksum(graft.TempRoots.path("shard_det_a")) ==
      checksum(graft.TempRoots.path("shard_det_b")))
  }

  test("scd2Apply: closes only the open row, ignores no-ops, replays as a version no-op") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("k", LongType), StructField("seg", StringType),
      StructField("valid_from", TimestampType),
      StructField("valid_to", TimestampType)))
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // key 1 already has history (one closed + one open version)
    val current = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        Row(1L, "A", ts("2020-01-01 00:00:00"), ts("2021-01-01 00:00:00")),
        Row(1L, "B", ts("2021-01-01 00:00:00"), null),
        Row(2L, "C", ts("2020-01-01 00:00:00"), null),
        Row(3L, "D", ts("2020-01-01 00:00:00"), null))), schema)
    val changes = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        Row(1L, "B2", null, null), // real change
        Row(2L, "C", null, null))), schema) // no-op: same attribute
      .select(col("k"), col("seg"))
    val eff = lit("2022-01-01 00:00:00").cast("timestamp")
    val h1 = Sharding.scd2Apply(current, changes, "k", Seq("seg"), eff)
    val rows = h1.collect()
    assert(rows.length == 5, rows.mkString("\n")) // +1 version for key 1 only
    val k1 = rows.filter(_.getLong(0) == 1L).sortBy(r => r.getTimestamp(2).getTime)
    assert(k1.map(_.getString(1)).toSeq == Seq("A", "B", "B2"))
    // the prior CLOSED version is untouched, the old open row closed at eff
    assert(k1(0).getTimestamp(3) == ts("2021-01-01 00:00:00"))
    assert(k1(1).getTimestamp(3) == ts("2022-01-01 00:00:00"))
    assert(k1(2).getTimestamp(3) == null)
    // no-op change: key 2 keeps its single open version
    assert(rows.count(_.getLong(0) == 2L) == 1)
    // replay: the same batch against the new history changes nothing
    val h2 = Sharding.scd2Apply(h1, changes, "k", Seq("seg"),
      lit("2023-01-01 00:00:00").cast("timestamp"))
    assert(h2.count() == 5, "replay must not mint new versions")
  }

  test("scd2Apply history under the temporal join: boundary, unknown-key and pre-history rows") {
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // dimension history: key 1 changes segment on 2024-06-01, key 2
    // never changes
    val dim0 = Seq((1L, "OLD"), (2L, "STABLE"))
      .toDF("k", "seg")
      .withColumn("valid_from", lit("2024-01-01 00:00:00").cast("timestamp"))
      .withColumn("valid_to", lit(null).cast("timestamp"))
    val hist = Sharding.scd2Apply(dim0,
      Seq((1L, "NEW")).toDF("k", "seg"), "k", Seq("seg"),
      lit("2024-06-01 00:00:00").cast("timestamp"))
    // events straddling the version boundary, an unknown key (9) and a
    // pre-history event, joined as q156 joins orders to its history
    val events = Seq((10L, 1L, ts("2024-03-01 12:00:00")),
      (11L, 1L, ts("2024-06-01 00:00:00")), // boundary: NEW from here
      (12L, 9L, ts("2024-07-01 00:00:00")), // unknown key
      (13L, 1L, ts("2024-05-31 23:59:59")),
      (14L, 2L, ts("2024-08-01 00:00:00")),
      (15L, 2L, ts("2023-12-31 23:59:59"))) // before first version
      .toDF("event_id", "k", "ts")
    val got = events.join(hist.as("d"),
        events("k") === col("d.k") && events("ts") >= col("d.valid_from") &&
          (col("d.valid_to").isNull || events("ts") < col("d.valid_to")),
        "left")
      .select(col("event_id"), col("seg")).collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(got == Map(
      10L -> Some("OLD"), 11L -> Some("NEW"), 12L -> None,
      13L -> Some("OLD"), 14L -> Some("STABLE"), 15L -> None))
  }
}
