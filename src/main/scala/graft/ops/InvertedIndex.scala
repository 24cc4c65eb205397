package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Stored inverted text index — exact term search as the complement of
  * the embedding-side ANN indexes ([[VectorOps]]): postings live as
  * `(term, doc_id, tf)` parquet rows partitioned by a term-hash
  * bucket, so a query for k terms reads ONLY the k probed bucket
  * partitions (static partition pruning — the text twin of the IVF
  * cell layout). One row per (term, doc) — never an array posting
  * list, whose row width would explode on stopword-grade terms —
  * sorted by (term, doc_id) within each bucket so parquet row-group
  * stats prune within the bucket too.
  *
  * Search is relational end to end: boolean AND is a
  * count-of-matched-terms filter, ranking is TF-IDF (the same
  * smoothed form as [[TextOps.tfidfTopTerms]]) aggregated per doc
  * with the repo's decimal-sum discipline and a TakeOrdered top-k.
  * Both forms are fully DuckDB-oracled from the raw table — a green
  * row proves the index agrees with scanning the corpus.
  *
  * Growth is LSM-style: [[appendSegment]] indexes a new document
  * batch as its own `seg=` partition family without touching existing
  * segments; search unions segments transparently (bucket pruning
  * holds per segment). The spec pins appended == rebuilt-from-union
  * and replay idempotence. */
object InvertedIndex {

  /** Term → bucket: CRC32 of the UTF-8 bytes mod nBuckets. CRC32 (a
    * public, engine-independent polynomial) rather than Spark's
    * murmur `hash()` so the driver side ([[termBucket]]) reproduces
    * it bit-for-bit when pruning. */
  def bucketOf(term: Column, nBuckets: Int): Column =
    pmod(crc32(term.cast("binary")), lit(nBuckets.toLong)).cast("int")

  /** Driver-side twin of [[bucketOf]] for probe pruning. */
  private[ops] def termBucket(term: String, nBuckets: Int): Int = {
    val c = new java.util.zip.CRC32()
    c.update(term.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    (c.getValue % nBuckets).toInt
  }

  /** One postings row per (term, doc): tf plus the sorted 0-based
    * POSITION LIST — the extra column that turns the index
    * positional, enabling phrase queries ([[searchPhrase]]). Width is
    * bounded by the doc's length (positions of one term in one doc),
    * never by df — the dangerous axis stays one row per doc. `dl`
    * (the doc's total token count) is denormalized onto every posting
    * — the Lucene "norm" trick — so length-normalized ranking
    * ([[searchBm25]]) needs ONLY the probed postings, never a doc
    * table lookup; the price is one long per row. */
  private def postingsOf(docs: DataFrame, nBuckets: Int, seg: Int): DataFrame =
    docs
      .select(col("doc_id"),
        split(coalesce(col("text"), lit("")), " ").as("ws"))
      .select(col("doc_id"), size(col("ws")).cast("long").as("dl"),
        posexplode(col("ws")).as(Seq("pos", "term")))
      .groupBy(col("term"), col("doc_id"), col("dl"))
      .agg(count(lit(1)).as("tf"),
        sort_array(collect_list(col("pos"))).as("positions"))
      .withColumn("bucket", bucketOf(col("term"), nBuckets))
      .withColumn("seg", lit(seg))

  /** Write one segment's postings and its meta row under `root` (the
    * index, or the compaction's staging) in ONE corpus pass (r17
    * optimization, guide §1.2): the meta scalars are derivable
    * from the postings stream itself — Σtf over a doc's groups is the
    * doc's token count (so Σtf overall == Σdl == the old
    * size(split(text)) sum), and exactly one (term, doc) group per doc
    * holds position 0 (the doc's first token), so counting those
    * groups counts docs. An `observe` on the write job captures both;
    * the old writeMeta re-scanned and re-tokenized the whole corpus
    * for numbers the build had already computed.
    *
    * CONTRACT (ADVICE r17): `docs` must carry one row per doc_id.
    * The position-0 doc count is load-bearing on that uniqueness — an
    * exact-duplicate doc_id row can merge its (term, doc_id, dl)
    * groups with the original's, under-counting n_docs while n_tokens
    * still sums both copies (skewing the BM25 average doc length).
    * Every in-repo caller feeds a keyed corpus where doc_id is the
    * primary key; external callers must dedup first. */
  private def writeSegment(postings: DataFrame, root: String,
                           nBuckets: Int, seg: Int): Unit = {
    val spark = postings.sparkSession
    val obs = org.apache.spark.sql.Observation()
    postings
      .observe(obs,
        coalesce(sum(col("tf")), lit(0L)).as("n_tokens"),
        count(when(element_at(col("positions"), 1) === 0, lit(1)))
          .as("n_docs"))
      .repartition(col("bucket"))
      .sortWithinPartitions(col("term"), col("doc_id"))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("seg", "bucket")
      .parquet(s"$root/postings")
    val row = obs.get
    import spark.implicits._
    Seq((row("n_docs").asInstanceOf[Long],
        row("n_tokens").asInstanceOf[Long], nBuckets.toLong, seg))
      .toDF("n_docs", "n_tokens", "n_buckets", "seg")
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("seg")
      .parquet(s"$root/meta")
  }

  /** Default driver bound on a retrieval batch's distinct
    * (query_id, term) rows ([[searchBm25Batch]]) — a request batch is
    * driver-sized by definition; rows past this are an eval corpus
    * mis-pointed at the serving API and fail with a named error. */
  val DefaultMaxBatchRows = 100000

  /** Marker file names: put up before a multi-step wipe/swap, removed
    * after it completes — readers fail fast in the window and the
    * crashed operation converges on a rerun (a build IS the recovery
    * rerun; compactSegments rolls its swap forward). */
  private val RebuildMarker = "_rebuild_pending"
  private val CompactMarker = "_compact_pending"

  private def rebuildGuard(indexDir: String, kind: String,
                           rerun: String): StoreTxn.Guard =
    StoreTxn.Guard(s"$indexDir/$RebuildMarker",
      crashed = s"$kind $indexDir: a rebuild crashed mid-wipe " +
        s"($RebuildMarker) — rerun $rerun() to converge")
  private def postingsGuard(indexDir: String) =
    rebuildGuard(indexDir, "inverted index", "build")
  private def trigramGuard(indexDir: String) =
    rebuildGuard(indexDir, "trigram index", "buildTrigramIndex")

  /** The compaction's swap: staged segment 0 over postings and meta. */
  private def compactSwap(indexDir: String): StoreTxn.Swap = {
    val staging = s"$indexDir/_staging"
    StoreTxn.Swap(s"$indexDir/$CompactMarker", staging,
      targets = Seq(
        StoreTxn.Target(s"$staging/postings", s"$indexDir/postings",
          Seq("seg", "bucket"), Some(postingsSchema)),
        StoreTxn.Target(s"$staging/meta", s"$indexDir/meta", Seq("seg"))),
      drop = Seq(s"$indexDir/tombstones"),
      crashed = s"inverted index $indexDir: a compaction crashed " +
        s"mid-swap ($CompactMarker) — rerun compactSegments() to roll forward",
      lost = s"inverted index $indexDir: compaction marker " +
        s"($CompactMarker) is up without its staged copy — rerun build()")
  }

  /** Build the index as segment 0: one corpus scan, one (term, doc)
    * aggregation, one (seg, bucket)-partitioned write, plus a per-
    * segment meta row carrying the segment's doc count and the bucket
    * count (search derives everything else from the store).
    *
    * A build IS a REBUILD: prior segments, tombstones, and meta rows
    * are wiped first — the per-partition (dynamic) segment write
    * replaces only partitions the new corpus produces, so without the
    * wipe a rebuild would leave stale buckets/segments (and their
    * deleted docs) being served, and a changed nBuckets would leave
    * probes hashing against the wrong modulus (review r12). The
    * marker makes the wipe→write window fail fast for readers and a
    * crashed build converges by rerunning build(). */
  def build(docs: DataFrame, indexDir: String, nBuckets: Int = 64): Unit = {
    val spark = docs.sparkSession
    postingsGuard(indexDir).write(spark, "build") {
      // a crashed COMPACTION's marker and staged copy hold PRE-rebuild
      // data — left alive, the post-rebuild "rerun compactSegments"
      // recovery would swap that stale copy over the fresh index
      // (review r12); the rebuild supersedes them wholesale
      val c = compactSwap(indexDir)
      (Seq(c.marker, c.staging) ++ c.drop ++ c.targets.map(_.live))
        .foreach(Fs.delete(spark, _))
      writeSegment(postingsOf(docs, nBuckets, 0), indexDir, nBuckets, 0)
    }
  }

  /** LSM-style incremental growth: index a NEW batch of documents as
    * its own segment — the append never reads or rewrites existing
    * segments (cost ∝ batch), and every search unions segments with
    * the same bucket pruning, because `bucket` stays a partition
    * column under `seg`. Replay-safe: re-appending the same `segId`
    * dynamically overwrites exactly that segment's partitions with
    * identical content (the foreachBatch retry contract, same as the
    * ANN index append). Segments are DISJOINT doc sets by contract
    * (append-only corpus); updates go through a rebuild or a future
    * delete-segment, not through overlapping appends. */
  def appendSegment(docs: DataFrame, indexDir: String, segId: Int): Unit = {
    require(segId > 0, "segment 0 is the build; append with segId > 0")
    val spark = docs.sparkSession
    val (_, _, nBuckets) = meta(spark, indexDir)
    // meta partitions by seg too, so this only writes the new row
    writeSegment(postingsOf(docs, nBuckets, segId), indexDir, nBuckets, segId)
  }

  /** (total docs, total tokens, bucket count) summed across segments.
    * Fails FAST when a rebuild or compaction marker is pending: the
    * live dirs may be mid-wipe or mid-swap, and serving partial
    * postings silently would be worse than the loud error. */
  private def meta(spark: SparkSession, indexDir: String): (Long, Long, Int) = {
    postingsGuard(indexDir).failIfPending(spark)
    compactSwap(indexDir).failIfPending(spark)
    val rows = spark.read.parquet(s"$indexDir/meta").collect()
    (rows.map(_.getAs[Long]("n_docs")).sum,
      rows.map(_.getAs[Long]("n_tokens")).sum,
      rows.head.getAs[Long]("n_buckets").toInt)
  }

  /** Tombstone a document batch — the LSM delete (the
    * right-to-be-forgotten path): deleted ids land as their own
    * `batch=` partition family under the index root, segments are
    * NEVER rewritten (cost ∝ delete batch), and every search
    * anti-joins the tombstone set. Replay-safe like [[appendSegment]]:
    * re-running a `batchId` dynamically overwrites exactly that
    * batch's partition with identical content — which is also why
    * `batchId` is REQUIRED with no default: two DISTINCT deletes
    * sharing an id would silently resurrect the first one's docs
    * (review r12). Tombstones are small relative to the corpus by
    * contract, so the anti-join broadcasts.
    *
    * Stats caveat: [[searchBm25]]'s N and avgdl come from the meta
    * rows and still count tombstoned docs until [[compactSegments]]
    * rebuilds them (Lucene's pre-merge behavior), while df is counted
    * from the probed LIVE postings and reflects deletes immediately —
    * a hybrid state, exact again after compaction (q173's oracle
    * proves the refreshed form). Boolean and phrase results
    * ([[searchAll]]/[[searchPhrase]]) are exact immediately. */
  def deleteDocs(spark: SparkSession, indexDir: String,
                 docIds: DataFrame, batchId: Int): Unit = {
    // fail fast on a pending rebuild/compaction like every search: a
    // delete acknowledged inside a crashed compaction's window would
    // be WIPED by the roll-forward (the staged copy predates it) —
    // tombstones written now must never race a swap (review r12)
    meta(spark, indexDir)
    docIds.select(col("doc_id")).distinct()
      .withColumn("batch", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch")
      .parquet(s"$indexDir/tombstones")
  }

  /** Postings-row schema, used on every store read: an EXPLICIT
    * schema makes a fileless directory (an empty delete batch, a
    * compaction that tombstoned every doc — both write only _SUCCESS)
    * read as an empty frame instead of throwing 'Unable to infer
    * schema'. */
  private val postingsSchema =
    "term STRING, doc_id BIGINT, dl BIGINT, tf BIGINT, " +
      "positions ARRAY<INT>, bucket INT, seg INT"
  private val tombstoneSchema = "doc_id BIGINT, batch INT"

  // Hadoop FS, not java.io: the index root may live on HDFS/S3 — a
  // local-File existence probe would silently report "no tombstones"
  // there and serve deleted docs (cluster-readiness, r10 sweep)
  private def tombstones(spark: SparkSession,
                         indexDir: String): Option[DataFrame] =
    if (Fs.exists(spark, s"$indexDir/tombstones"))
      Some(spark.read.schema(tombstoneSchema)
        .parquet(s"$indexDir/tombstones")
        .select(col("doc_id")).distinct())
    else None

  /** Postings of `terms` only: bucket pruning is STATIC (the probed
    * bucket ids are literals computed on the driver from the query
    * terms — ≤ one int per term), then the term filter rides the
    * row-group stats inside each bucket; tombstoned docs are
    * anti-joined out here, so every search form respects deletes. */
  private def postingsFor(spark: SparkSession, indexDir: String,
                          terms: Seq[String], nBuckets: Int): DataFrame = {
    val buckets = terms.map(termBucket(_, nBuckets)).distinct
    val p = spark.read.schema(postingsSchema)
      .parquet(s"$indexDir/postings")
      .where(col("bucket").isin(buckets.map(Int.box): _*) &&
        col("term").isin(terms: _*))
    tombstones(spark, indexDir) match {
      case Some(t) => p.join(broadcast(t), Seq("doc_id"), "left_anti")
      case None => p
    }
  }

  /** Boolean AND search: doc_ids containing EVERY query term, with the
    * summed term frequency. */
  def searchAll(spark: SparkSession, indexDir: String,
                terms: Seq[String]): DataFrame = {
    require(terms.nonEmpty && terms.distinct.size == terms.size)
    val (_, _, nBuckets) = meta(spark, indexDir)
    postingsFor(spark, indexDir, terms, nBuckets)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms"), sum(col("tf")).as("total_tf"))
      .where(col("n_terms") === terms.size)
      .select(col("doc_id"), col("total_tf"))
  }

  /** Phrase search over the positional postings: docs where the exact
    * word sequence occurs, with its occurrence count. An occurrence at
    * position p means term i sits at p+i for every i, so the match is
    * an intersection of SHIFTED position sets — one keyed (doc, pos)
    * join per phrase term beyond the first, each over the narrow
    * (doc_id, pos) projection of that term's postings. Never a text
    * rescan, never a cross join; repeated terms in the phrase reuse
    * the same postings under different shifts. */
  def searchPhrase(spark: SparkSession, indexDir: String,
                   phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty)
    val (_, _, nBuckets) = meta(spark, indexDir)
    val p = postingsFor(spark, indexDir, phrase.distinct, nBuckets)
      .select(col("term"), col("doc_id"),
        explode(col("positions")).as("pos"))
    val starts = phrase.zipWithIndex.map { case (t, i) =>
      // positions where term i could START the phrase (shift by −i)
      p.where(col("term") === t)
        .select(col("doc_id"), (col("pos") - i).as("pos"))
    }
    starts.reduce((a, b) => a.join(b, Seq("doc_id", "pos")))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_occurrences"))
  }

  /** TF-IDF-ranked top-k: score(doc) = Σ_t tf·ln((N+1)/(df_t+1)),
    * per-term contributions rounded to 8 decimals and summed as
    * DECIMAL (engine-exact, the q93 discipline), final score rounded
    * to 4 before ranking with doc_id as the unique tiebreak. df comes
    * from the probed postings alone — the full corpus is never
    * rescanned. */
  def searchRanked(spark: SparkSession, indexDir: String,
                   terms: Seq[String], k: Int): DataFrame = {
    require(terms.nonEmpty && terms.distinct.size == terms.size)
    val (nDocs, _, nBuckets) = meta(spark, indexDir)
    val p = postingsFor(spark, indexDir, terms, nBuckets)
    // (term, doc) rows are unique, so df is a plain count per term
    val dfs = p.groupBy(col("term")).agg(count(lit(1)).as("df"))
    p.join(broadcast(dfs), "term")
      .withColumn("contrib",
        round(col("tf") * log(lit(nDocs + 1.0) / (col("df") + 1)), 8)
          .cast("decimal(18,8)"))
      .groupBy(col("doc_id"))
      .agg(round(sum(col("contrib")).cast("double"), 4).as("score"))
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(k)
  }

  /** Segment compaction — the LSM merge that completes the lifecycle
    * (build → append → delete → COMPACT): all live postings (every
    * segment, minus tombstones) rewrite as a single segment 0, the
    * tombstone family disappears, and the meta row is recomputed from
    * the live postings — so the collection statistics [[searchBm25]]
    * reads (N, avgdl, and with them df) reflect deletes from here on,
    * exactly like a Lucene merge. Every document owns ≥ 1 posting row
    * (an empty text still posts its one empty token), so live doc
    * count and token totals are recoverable from postings alone.
    *
    * Durable-staging discipline (the stored-ANN-index rule): the live
    * rows are first written to `_staging` under the index root, and
    * the overwrite of the postings dir reads from that DURABLE copy —
    * never from the very files being replaced, and never from
    * executor-memory lineage that an executor loss would truncate.
    * A crashed swap ([[StoreTxn.Swap]]) rolls forward FROM STAGING.
    * Cost ∝ live index size — the full rewrite IS the point of a
    * merge; deletes stay O(batch) until one is scheduled. */
  def compactSegments(spark: SparkSession, indexDir: String): Unit = {
    val swap = compactSwap(indexDir)
    swap.run(spark, "compactSegments") {
      val nBuckets = meta(spark, indexDir)._3
      val p = spark.read.schema(postingsSchema).parquet(s"$indexDir/postings")
      val live = tombstones(spark, indexDir)
        .fold(p)(t => p.join(broadcast(t), Seq("doc_id"), "left_anti"))
      // the staged segment's meta row derives from the same write
      writeSegment(live.withColumn("seg", lit(0)), swap.staging, nBuckets, 0)
      swap.commit(spark, "compactSegments", "")
    }
  }

  /** Character-trigram substring index — the grep / pg_trgm-style
    * complement of the word-term index above, for patterns that do
    * NOT respect token boundaries (infixes, multi-word spans with
    * their joining spaces): postings are one row per (gram, doc_id)
    * for each DISTINCT character 3-gram of the document,
    * bucket-partitioned by the same CRC32 hash so a probe reads only
    * the pattern's gram buckets. Every substring of length ≥ 3
    * decomposes into trigrams that ALL occur in any containing
    * document, so the AND over the pattern's grams is a complete
    * candidate superset; [[searchSubstring]] then verifies with ONE
    * `contains` probe over the candidates alone — a doc_id-keyed join
    * against the corpus, never a full-text rescan.
    *
    * Scale: the store is ≤ one row per document character (distinct
    * grams per doc), two narrow columns; a search moves only the
    * probed grams' postings (document-frequency-bounded) plus the
    * candidate documents' text. */
  def buildTrigramIndex(docs: DataFrame, indexDir: String,
                        nBuckets: Int = 64): Unit = {
    val spark = docs.sparkSession
    // same rebuild discipline as build(): marker + wipe, so a crashed
    // rebuild fails loudly instead of serving a stale or fileless
    // store, and a changed nBuckets cannot disagree with the grams
    trigramGuard(indexDir).write(spark, "buildTrigramIndex") {
      Fs.delete(spark, s"$indexDir/grams")
      Fs.delete(spark, s"$indexDir/meta")
      val t = coalesce(col("text"), lit(""))
      docs.select(col("doc_id"),
          explode(when(length(t) >= 3,
            array_distinct(transform(sequence(lit(1), length(t) - lit(2)),
              i => t.substr(i, lit(3)))))
            .otherwise(array().cast("array<string>"))).as("gram"))
        .withColumn("bucket", bucketOf(col("gram"), nBuckets))
        .repartition(col("bucket"))
        .sortWithinPartitions(col("gram"), col("doc_id"))
        .write.mode("overwrite").partitionBy("bucket")
        .parquet(s"$indexDir/grams")
      docs.agg(count(lit(1)).as("n_docs"),
          lit(nBuckets.toLong).as("n_buckets"))
        .write.mode("overwrite").parquet(s"$indexDir/meta")
    }
  }

  /** Substring (grep-style) search over [[buildTrigramIndex]]'s store:
    * docs whose text contains `pattern`, with the 1-based position of
    * the first occurrence and the non-overlapping occurrence count.
    * Bucket pruning is static (gram buckets are driver-computed
    * literals, ≤ one int per pattern gram); the candidate AND is a
    * count-of-matched-grams filter, and the final `contains`
    * verification touches candidate rows only. */
  def searchSubstring(docs: DataFrame, indexDir: String,
                      pattern: String): DataFrame = {
    require(pattern.length >= 3, "substring search needs >= 3 chars")
    val spark = docs.sparkSession
    trigramGuard(indexDir).failIfPending(spark)
    // explicit schemas: a fileless dir (crash debris) reads empty
    // instead of throwing 'Unable to infer schema' with no cause
    val nBuckets = spark.read.schema("n_docs BIGINT, n_buckets BIGINT")
      .parquet(s"$indexDir/meta")
      .collect().head.getAs[Long]("n_buckets").toInt
    val grams = pattern.sliding(3).toSeq.distinct
    val buckets = grams.map(termBucket(_, nBuckets)).distinct
    val candidates = spark.read
      .schema("doc_id BIGINT, gram STRING, bucket INT")
      .parquet(s"$indexDir/grams")
      .where(col("bucket").isin(buckets.map(Int.box): _*) &&
        col("gram").isin(grams: _*))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_grams"))
      .where(col("n_grams") === grams.size)
      .select(col("doc_id"))
    docs.join(candidates, "doc_id")
      .where(instr(col("text"), pattern) > 0)
      .select(col("doc_id"),
        instr(col("text"), pattern).cast("bigint").as("first_pos"),
        // non-overlapping count via length shrink — same left-to-right
        // semantics as the oracle's replace(). call_function keeps the
        // pattern a literal VALUE: an expr() splice would re-parse
        // backslashes as SQL escapes and quote-injection would break
        // the expression entirely
        floor((length(col("text")) -
            length(call_function("replace", col("text"), lit(pattern),
              lit("")))) /
          lit(pattern.length)).cast("bigint").as("n_hits"))
  }

  /** BM25-ranked top-k (the Lucene-variant formula):
    * score(d) = Σ_t ln(1 + (N − df + 0.5)/(df + 0.5)) ·
    *            tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl)).
    * Everything comes from the store alone: df from the probed
    * postings, dl from the denormalized per-posting norm, N and avgdl
    * from the meta rows — the corpus is NEVER rescanned and no doc
    * table is joined, so query cost stays proportional to the probed
    * postings exactly as in [[searchRanked]]. Same determinism
    * discipline: per-term contributions rounded to 8 and summed as
    * decimal, final score rounded to 4, doc_id tiebreak, TakeOrdered
    * top-k. The defaults k1=1.5, b=0.75 sit in the standard tuning
    * range AND are exactly representable in binary — so k1+1, 1−b and
    * every product stay bit-identical across engines (an inexact 1.2
    * would make the oracle's decimal-literal arithmetic diverge in
    * the last ulp). */
  def searchBm25(spark: SparkSession, indexDir: String,
                 terms: Seq[String], k: Int,
                 k1: Double = 1.5, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty && terms.distinct.size == terms.size)
    val (nDocs, nTokens, nBuckets) = meta(spark, indexDir)
    val avgdl = nTokens.toDouble / nDocs
    val p = postingsFor(spark, indexDir, terms, nBuckets)
    val dfs = p.groupBy(col("term")).agg(count(lit(1)).as("df"))
    p.join(broadcast(dfs), "term")
      .withColumn("idf",
        log(lit(1.0) +
          (lit(nDocs.toDouble) - col("df") + 0.5) / (col("df") + 0.5)))
      .withColumn("contrib",
        round(col("idf") * (col("tf") * lit(k1 + 1.0)) /
          (col("tf") + lit(k1) *
            (lit(1.0 - b) + (lit(b) * col("dl")) / lit(avgdl))), 8)
          .cast("decimal(18,8)"))
      .groupBy(col("doc_id"))
      .agg(round(sum(col("contrib")).cast("double"), 4).as("score"))
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(k)
  }

  /** BM25 top-k for a QUERY BATCH — [[searchBm25]]'s formula, fanned
    * over a (query_id, term) frame (r16 — VERDICT r15 #4): production
    * retrieval serves a request batch, not one query per job. The
    * postings are probed ONCE for the batch's distinct term set (the
    * term list is collected to the driver — a query batch is
    * driver-sized by definition, it IS the request — so the static
    * bucket pruning of [[postingsFor]] still applies), df/idf stay
    * query-independent, and the per-query fan-out is a broadcast join
    * of the tiny (query_id, term) frame onto the probed postings. The
    * top-k cut is a rank window PARTITIONED BY query (q60/q172's batch
    * shape — a bounded heap per query after one hash exchange, never a
    * global sort); same determinism discipline as the single-query
    * form (decimal contribs, round-4 scores, doc_id tiebreak).
    *
    * `maxBatchRows` bounds the DRIVER-SIZED contract (r17 — VERDICT
    * r16 #1): the batch's distinct (query_id, term) rows are collected
    * for bucket pruning + broadcast fan-out, so the collect probes
    * `maxBatchRows + 1` rows in ONE limit-pushdown job (the
    * [[VectorOps]] smallQueryRows discipline) and fails with a NAMED
    * error past the bound — an offline-eval-scale query corpus pointed
    * at this API must shard, never silently OOM the driver. */
  def searchBm25Batch(spark: SparkSession, indexDir: String,
                      queryTerms: DataFrame, k: Int,
                      k1: Double = 1.5, b: Double = 0.75,
                      maxBatchRows: Int = DefaultMaxBatchRows): DataFrame = {
    require(k >= 1, s"searchBm25Batch: k must be >= 1, got $k")
    require(maxBatchRows >= 1,
      s"searchBm25Batch: maxBatchRows must be >= 1, got $maxBatchRows")
    val (nDocs, nTokens, nBuckets) = meta(spark, indexDir)
    val avgdl = nTokens.toDouble / nDocs
    // ONE collect serves the size guard, the driver-side bucket
    // pruning, and the broadcast fan-out frame (a separate count would
    // evaluate the query-side lineage twice)
    // probe clamp: a caller taking the error message's own advice
    // ("raise maxBatchRows deliberately") with Int.MaxValue must not
    // overflow limit() into an AnalysisException (self-review r17)
    val probeLimit = math.min(maxBatchRows, Int.MaxValue - 1) + 1
    val probed = queryTerms.select(col("query_id").cast("bigint"),
        col("term").cast("string")).distinct()
      .limit(probeLimit).collect()
    if (probed.length > maxBatchRows) throw new IllegalArgumentException(
      s"searchBm25Batch: query batch exceeds the driver-sized contract " +
        s"(> $maxBatchRows distinct (query_id, term) rows) — batch " +
        "retrieval collects the query frame to the driver for postings-" +
        "bucket pruning and broadcast fan-out; shard the request frame " +
        "and fuse shards, or raise maxBatchRows deliberately")
    val pairs = probed.map(r => (r.getLong(0), r.getString(1))).toSeq
    require(pairs.nonEmpty, "searchBm25Batch: empty query batch")
    val terms = pairs.map(_._2).distinct
    import spark.implicits._
    val qt = pairs.toDF("query_id", "term")
    val p = postingsFor(spark, indexDir, terms, nBuckets)
    val dfs = p.groupBy(col("term")).agg(count(lit(1)).as("df"))
    p.join(broadcast(dfs), "term")
      .join(broadcast(qt), "term")
      .withColumn("idf",
        log(lit(1.0) +
          (lit(nDocs.toDouble) - col("df") + 0.5) / (col("df") + 0.5)))
      .withColumn("contrib",
        round(col("idf") * (col("tf") * lit(k1 + 1.0)) /
          (col("tf") + lit(k1) *
            (lit(1.0 - b) + (lit(b) * col("dl")) / lit(avgdl))), 8)
          .cast("decimal(18,8)"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(round(sum(col("contrib")).cast("double"), 4).as("score"))
      .withColumn("rank_text", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("query_id"))
          .orderBy(col("score").desc, col("doc_id"))))
      .where(col("rank_text") <= k)
  }
}
