package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic shard export — the terminal step of a training-data
  * pipeline: spread documents across `nShards` shards by a
  * position-independent hash of the stable doc key, shuffle ONCE on
  * the shard id, and write one directory per shard with bounded file
  * sizes (`maxRecordsPerFile` keeps any single output file readable by
  * a single loader worker). Rows inside a shard are ordered by
  * md5(doc_id) — an engine-independent uniform permutation — so the
  * export IS the "deterministically shuffled training order": two runs
  * over the same corpus produce byte-identical shard contents, and no
  * driver-side randomness or global sort is involved.
  *
  * The shard function is a Lehmer/MINSTD LCG step (public-domain
  * constant 48271 modulo the Mersenne prime 2^31−1) computed in plain
  * bigint arithmetic — deliberately NOT Spark's murmur `hash()`, whose
  * value an external engine cannot reproduce; any SQL oracle can
  * recompute `((key * 48271) % 2147483647) % nShards` verbatim. */
object Sharding {

  /** ((key · 48271) mod 2^31−1) mod nShards, non-negative. Exact while
    * key < 2^63 / 48271 ≈ 1.9e14 — beyond any corpus's doc count; for
    * synthetic wider keys pre-fold the key with pmod(key, 2^31−1). */
  def shardOf(key: Column, nShards: Int): Column =
    pmod(pmod(key * lit(48271L), lit(2147483647L)), lit(nShards.toLong))
      .cast("int")

  /** One hash-partitioned write: shard assignment is a per-row
    * expression, `repartition(nShards, shard)` is the single shuffle,
    * and the partitioned sink writes each shard directory from exactly
    * the executors holding it — nothing funnels through the driver.
    *
    * Returns the write-audit counters a production export publishes:
    * rows written and the shard-id spread, collected through
    * `observe`/CollectMetrics — the metrics ride the write job itself,
    * so the audit costs ZERO extra scans (a count-after-write re-reads
    * the sink; at 100 TB that second scan is real money). The observed
    * metrics surface only on the QueryExecution that actually RAN (the
    * write command plans its own), so they are harvested through a
    * QueryExecutionListener — the production pattern — matched by
    * observation name, with a bounded wait for the async listener bus.
    * A missed harvest degrades to WriteAudit(-1, -1, -1); it never
    * fails a completed write. */
  def writeShards(docs: DataFrame, outDir: String, nShards: Int,
                  maxRecordsPerFile: Long = 1000000L): WriteAudit = {
    val spark = docs.sparkSession
    // unique observation name: concurrent writeShards calls on one
    // session must not harvest each other's metrics
    val obsName = s"write_audit_${java.util.UUID.randomUUID().toString.take(8)}"
    val result = new java.util.concurrent.atomic.AtomicReference(
      WriteAudit(-1L, -1, -1))
    val latch = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit =
        qe.observedMetrics.get(obsName).foreach { r =>
          // min/max over ZERO rows observe as null — unboxing them
          // would NPE on the listener thread, swallow the event, and
          // stall the latch for the full timeout on every empty export
          def intOr(field: String, dflt: Int): Int = {
            val i = r.fieldIndex(field)
            if (r.isNullAt(i)) dflt else r.getInt(i)
          }
          result.set(WriteAudit(r.getAs[Long]("n_rows"),
            intOr("min_shard", -1), intOr("max_shard", -1)))
          latch.countDown()
        }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      docs.withColumn("shard", shardOf(col("doc_id"), nShards))
        .repartition(nShards, col("shard"))
        .sortWithinPartitions(col("shard"),
          md5(col("doc_id").cast("string")), col("doc_id"))
        // observe ABOVE the exchange, in the write's RESULT stage:
        // map-stage accumulators apply per successful TASK ATTEMPT, so
        // a fetch-failure retry or a speculative duplicate would
        // double-count the audit (review r12); result-stage updates
        // apply once per partition
        .observe(obsName, count(lit(1)).as("n_rows"),
          min(col("shard")).as("min_shard"), max(col("shard")).as("max_shard"))
        .write.mode("overwrite")
        .option("maxRecordsPerFile", maxRecordsPerFile)
        .partitionBy("shard")
        .parquet(outDir)
      // the listener bus is async; bound the wait so a dropped event
      // can never wedge the export — and SAY when it degrades, so a
      // stalled harvest is visible instead of silently absorbed into
      // bench timings
      val harvested =
        latch.await(30, java.util.concurrent.TimeUnit.SECONDS)
      if (!harvested)
        System.err.println(
          s"graft: write audit for $outDir not harvested within 30s; " +
            "degrading to WriteAudit(-1, -1, -1)")
    } finally spark.listenerManager.unregister(listener)
    result.get
  }

  /** Counters observed during the shard write (no extra scan). */
  case class WriteAudit(n_rows: Long, min_shard: Int, max_shard: Int)

  /** Result of a [[compact]] run: file counts either side of the
    * rewrite plus the row count that rode the write job. */
  case class CompactAudit(n_rows: Long, files_before: Long, files_after: Long)

  /** Small-file compaction — the table-maintenance pass every
    * long-lived 100 TB dataset needs: streaming ingests and dynamic
    * partition overwrites accrete thousands of KB-sized parquet files,
    * and scan cost becomes file-open cost (driver listing, footer
    * reads, one task per tiny split) long before it is byte cost.
    *
    * The rewrite is content-identical and deterministic: rows are
    * range-partitioned on `key` into `ceil(n / targetRecords)` chunks
    * (range, not hash, so each output file covers a tight contiguous
    * key span — min/max footer stats stay selective for data-skipping
    * readers), sorted by `key` within each file, and written with
    * `maxRecordsPerFile` as a hard cap. One count job (columnar
    * metadata scan), one shuffle, one write; nothing funnels through
    * the driver. The caller swaps the compacted dir in atomically
    * (rename / view flip) — same publish discipline as the stored-ANN
    * maintenance in [[graft.ops.VectorOps]]. */
  def compact(spark: org.apache.spark.sql.SparkSession, inDir: String,
              outDir: String, key: String,
              targetRecords: Long = 1000000L): CompactAudit = {
    val in = spark.read.parquet(inDir)
    val filesBefore = in.inputFiles.length.toLong
    val n = in.count()
    val nFiles = math.max(1L, (n + targetRecords - 1) / targetRecords).toInt
    in.repartitionByRange(nFiles, col(key))
      .sortWithinPartitions(col(key))
      .write.mode("overwrite")
      .option("maxRecordsPerFile", targetRecords)
      .parquet(outDir)
    CompactAudit(n, filesBefore,
      spark.read.parquet(outDir).inputFiles.length.toLong)
  }

  /** Zone-map (file-skipping) index — the Delta/Iceberg data-skipping
    * idea as a standalone store: ONE row per parquet data file with
    * the file's key min/max and row count. Spark's own reader prunes
    * ROW GROUPS from footer stats, but it still has to list the whole
    * dataset and open every footer first; at 100 TB (≈10⁵ files) the
    * planning cost IS the bottleneck for selective queries. The index
    * collapses that to one read of a ~file-count-row table.
    *
    * Build is one column-pruned scan of the key column grouped by
    * [[org.apache.spark.sql.functions.input_file_name]] — map-side
    * combine ships ≤ one row per (partition, file). The index is only
    * SELECTIVE if files are key-clustered — compose with [[compact]]
    * (range clustering) or [[zorderWrite]]; on random layout every
    * file spans the full key range and nothing prunes (that's the
    * layout's fault, not the index's — same contract as parquet's own
    * stats). */
  def zoneMapIndex(spark: org.apache.spark.sql.SparkSession,
                   dataDir: String, key: String, indexDir: String): Unit =
    spark.read.parquet(dataDir)
      .groupBy(input_file_name().as("file"))
      .agg(min(col(key)).as("min_key"), max(col(key)).as("max_key"),
        count(lit(1)).as("n_rows"))
      .coalesce(1)
      .write.mode("overwrite").parquet(indexDir)

  /** Data-file paths whose [min, max] key span intersects [lo, hi] —
    * the driver-side prune. The collect is bounded by the FILE count
    * (what every table format's planner holds in memory), never by
    * rows. */
  def zoneMapFiles(spark: org.apache.spark.sql.SparkSession,
                   indexDir: String, lo: Long, hi: Long): Array[String] =
    spark.read.parquet(indexDir)
      .where(col("max_key") >= lo && col("min_key") <= hi)
      .select(col("file")).orderBy(col("file"))
      .collect().map(_.getString(0))

  /** Range scan through the zone map: read ONLY the files the index
    * admits, then apply the exact predicate (the index over-approximates
    * by design — min/max spans, not row sets). Equivalent to the full
    * scan + filter by construction; the win is that Spark never lists
    * or opens the skipped files. */
  def zoneMapScan(spark: org.apache.spark.sql.SparkSession,
                  dataDir: String, indexDir: String, key: String,
                  lo: Long, hi: Long): DataFrame = {
    // staleness gate (the graftjson fingerprint rule's cheap half):
    // a file ADDED to dataDir after the index build is simply absent
    // from the index, so its rows would vanish from results SILENTLY
    // — removed files at least fail loudly at read time. One listing
    // of dataDir per scan is planner-grade cost; renderings normalize
    // through the same helper both sides (input_file_name is
    // URL-encoded, inputFiles is not).
    val norm = graft.sources.ZoneStats.normalizeFileName _
    val indexed = spark.read.parquet(indexDir)
      .select(col("file")).collect().map(r => norm(r.getString(0))).toSet
    val unknown = spark.read.parquet(dataDir).inputFiles
      .map(norm).filterNot(indexed.contains)
    require(unknown.isEmpty,
      s"zone-map index $indexDir is STALE: ${unknown.length} data " +
        s"files are not indexed (e.g. ${unknown.headOption.getOrElse("")}) " +
        "— rebuild zoneMapIndex before scanning")
    val files = zoneMapFiles(spark, indexDir, lo, hi)
    val base =
      if (files.isEmpty) spark.read.parquet(dataDir).where(lit(false))
      else spark.read.parquet(files.toIndexedSeq: _*)
    base.where(col(key) >= lo && col(key) <= hi)
  }

  /** Result of a [[mergeCdc]] run. */
  case class CdcAudit(n_upserts: Long, n_deletes: Long,
                      n_buckets_touched: Long)

  /** Initialize a hash-bucketed document store: rows land in
    * `bucket=<shardOf(doc_id)>` partition dirs, one shuffle. The
    * bucket function is the same oracle-recomputable Lehmer step as
    * [[shardOf]], so external engines can locate a doc's partition. */
  def initDocStore(docs: DataFrame, storeDir: String, nBuckets: Int): Unit =
    StoreTxn.step(docs.sparkSession, "initDocStore", "write") {
      docs.withColumn("bucket", shardOf(col("doc_id"), nBuckets))
        .repartition(col("bucket"))
        .write.mode("overwrite")
        // STATIC pinned (the r12 full-replacement rule, reachable from
        // foreign sessions since the CALL addressing): under a
        // session-wide dynamic default, re-initializing from a smaller
        // source would keep stale bucket dirs alongside the new ones
        .option("partitionOverwriteMode", "static")
        .partitionBy("bucket").parquet(storeDir)
    }

  /** CDC merge (upsert + delete) into a bucketed document store — the
    * text-corpus twin of the stored-ANN index maintenance: a change
    * batch touches only the bucket partitions its doc_ids hash to, so
    * merge cost is ∝ batch, never ∝ corpus. The dance is the proven
    * one from `VectorOps.appendStaged`:
    *
    *   1. stage the change batch durably under `$storeDir/_staging`
    *      (single evaluation of a possibly nondeterministic plan;
    *      executor loss mid-write only retries tasks);
    *   2. collect the touched bucket ids (bounded: ≤ nBuckets ints) so
    *      the survivor scan prunes STATICALLY on the partition column;
    *   3. stage the touched buckets' complete post-merge content
    *      (survivors ∪ upserts) durably — the dynamic overwrite must
    *      read only durable files, never its own input path;
    *   4. commit through [[StoreTxn.commit]]: marker, dynamic
    *      overwrite of ONLY the touched bucket partitions, removal of
    *      the buckets the merge emptied.
    *
    * Replay-safe: re-applying the same batch rewrites the same
    * partitions to the same content (upserts are by-id overwrites,
    * deletes of absent ids are no-ops). `changes` carries the store
    * columns plus `op` ∈ {upsert, delete}. */
  def mergeCdc(spark: org.apache.spark.sql.SparkSession, storeDir: String,
               changes: DataFrame, nBuckets: Int): CdcAudit = {
    val redo = cdcRedo(storeDir)
    StoreTxn.run(spark, "mergeCdc", redo) { // finishes a crashed merge first
      mergeCdcBody(spark, storeDir, changes, nBuckets, redo)
    }
  }

  /** The store's redo layout ([[StoreTxn.Redo]]): the staged
    * post-merge content of the touched buckets at `_staging/out`, the
    * marker at `_cdc_pending/emptied`. */
  private def cdcRedo(storeDir: String) = StoreTxn.Redo(
    target = storeDir, partCol = "bucket",
    markerDir = s"$storeDir/_cdc_pending", markerLeaf = "emptied",
    staging = s"$storeDir/_staging", staged = s"$storeDir/_staging/out")

  private def mergeCdcBody(spark: org.apache.spark.sql.SparkSession,
                           storeDir: String, changes: DataFrame,
                           nBuckets: Int, redo: StoreTxn.Redo): CdcAudit = {
    val ch = StoreTxn.stage(
      changes.withColumn("bucket", shardOf(col("doc_id"), nBuckets)),
      s"${redo.staging}/changes")
    // ONE summary job over the tiny staged batch (r17 optimization,
    // guide §1.2): the dup-id check, the touched-bucket set, and both
    // audit counts each ran their own job before — all four fold into
    // one two-level aggregate. With no duplicate ids every doc_id
    // group is a single row, so first(op) IS the row's op and the
    // counts are exact; with duplicates we throw before using them.
    val sm = ch.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("c"), first(col("bucket")).as("b"),
        first(col("op")).as("o"))
      .agg(max(col("c")).as("maxc"),
        collect_set(col("b")).as("buckets"),
        coalesce(sum(when(col("o") === "upsert", 1L).otherwise(0L)),
          lit(0L)).as("nup"),
        coalesce(sum(when(col("o") === "delete", 1L).otherwise(0L)),
          lit(0L)).as("ndel"))
      .collect()(0)
    // one change row per doc_id: two upserts (or an upsert and a
    // delete) for the same id in one batch have no defined order —
    // unioning both would silently duplicate the row in the store.
    require(sm.isNullAt(0) || sm.getLong(0) <= 1L,
      "mergeCdc batch carries conflicting rows for the same doc_id; " +
        "resolve to one change per id upstream (last-write-wins)")
    val touched = sm.getAs[scala.collection.Seq[Int]]("buckets").toArray
    val nUpserts = sm.getAs[Long]("nup")
    val nDeletes = sm.getAs[Long]("ndel")
    if (touched.isEmpty) { Fs.delete(spark, redo.staging); return CdcAudit(0L, 0L, 0L) }
    val existing = spark.read.parquet(storeDir)
    val upserts0 = ch.where(col("op") === "upsert").drop("op")
    // stage the complete post-merge content of the touched buckets —
    // survivors ∪ upserts — as the commit's redo log: the overwrite
    // never reads the path it rewrites, and a crash ANYWHERE in the
    // commit re-applies the whole merge from this durable copy (a
    // replay that read a torn bucket as "survivors" would lose its
    // rows forever — review r12).
    // the post-merge bucket set rides the staging WRITE via observe
    // (r18, guide §1.2): it used to be a separate distinct+collect
    // job over the staged files — one less plan+job per merge
    val obs = org.apache.spark.sql.Observation()
    val merged = existing
      .where(col("bucket").isin(touched.map(Int.box).toSeq: _*))
      .join(ch.select(col("doc_id")), Seq("doc_id"), "left_anti")
      .unionByName(upserts0.select(
        existing.columns.map(col).toIndexedSeq: _*))
    merged.observe(obs, collect_set(col("bucket")).as("buckets"))
      .write.mode("overwrite").parquet(redo.staged)
    // read back with the schema in hand: footer inference costs a job
    val out = spark.read.schema(merged.schema).parquet(redo.staged)
    // buckets this merge EMPTIES entirely (all rows deleted, no
    // upserts hashing there) ride the marker so their dirs are removed
    val outBuckets = Observed.ints(obs, "buckets").toSet
    val emptied = touched.filterNot(outBuckets.contains)
    StoreTxn.commit(spark, "mergeCdc", redo,
      if (outBuckets.nonEmpty) Some(out) else None, emptied.toSeq)
    CdcAudit(nUpserts, nDeletes, touched.length.toLong)
  }

  /** ANALYZE-style per-column statistics — the planner-food every
    * warehouse maintains: row count, null count, exact distinct
    * count, and min/max (rendered as strings so one narrow schema
    * covers every column type; both engines compare strings with
    * binary collation, so the rendering is oracle-stable). One
    * COLUMN-PRUNED scan per column — at 100 TB each pass reads only
    * its own column's pages, so the total IO is one logical table
    * read; the exact distinct is the one genuinely heavy aggregate
    * (one shuffle per column), which is the honest price of exact
    * ndv — swap in the q138 HLL store when approximate is enough. */
  /** SCD2 (type-2 slowly changing dimension) apply — the versioned
    * twin of [[mergeCdc]]'s overwrite semantics: instead of replacing
    * a changed row, the current version is CLOSED (`valid_to` set to
    * the effective timestamp) and a new open version inserted, so
    * every historical attribute state stays queryable with an as-of
    * predicate. A change row whose tracked attributes all equal the
    * current open version is a NO-OP (no spurious version churn —
    * the differ check is part of the contract, not an optimization).
    *
    * `current` must carry `valid_from`/`valid_to` (open = null);
    * `changes` carries the key + the tracked attributes. Returns the
    * full post-apply history. Scale: one key join to find genuine
    * changes + one key anti-join for untouched rows — two keyed
    * shuffles of dimension-sized (not fact-sized) rows; at 100 TB a
    * dimension is still the small table, and AQE broadcasts the
    * change side when it is bounded. */
  def scd2Apply(current: DataFrame, changes: DataFrame, key: String,
                attrs: Seq[String], effTs: Column): DataFrame = {
    val differ = attrs.map(a =>
      !(col(s"c.$a") <=> col(s"d.$a"))).reduce(_ || _)
    val real = changes.as("c")
      .join(current.where(col("valid_to").isNull).as("d"), Seq(key))
      .where(differ)
      .select(col(key) +: attrs.map(a => col(s"c.$a")): _*)
    val changedKeys = real.select(col(key), lit(1).as("ch"))
    // one left join classifies every existing row: close the open
    // version of a changed key, keep everything else verbatim —
    // including the PRIOR closed versions of changed keys (history is
    // append-only; only the open row ever mutates)
    val history = current
      .join(changedKeys, Seq(key), "left")
      .withColumn("valid_to",
        when(col("ch").isNotNull && col("valid_to").isNull, effTs)
          .otherwise(col("valid_to")))
      .drop("ch")
    val opened = real
      .withColumn("valid_from", effTs)
      .withColumn("valid_to", lit(null).cast("timestamp"))
    history.unionByName(opened)
  }

  def analyzeColumns(df: DataFrame, cols: Seq[String]): DataFrame =
    cols.map { c =>
      df.agg(
        lit(c).as("col_name"),
        count(lit(1)).as("n_rows"),
        (count(lit(1)) - count(col(c))).as("n_nulls"),
        countDistinct(col(c)).as("n_distinct"),
        min(col(c)).cast("string").as("min_val"),
        max(col(c)).cast("string").as("max_val"))
    }.reduce(_ unionByName _)

  /** Initialize the incrementally-maintained per-source rollup next to
    * a [[initDocStore]] corpus: (source, n_docs, total_chars), the
    * materialized view [[maintainStats]] keeps current without ever
    * rescanning the corpus. One aggregation, one tiny write; retires the
    * old rollup's publish state (its ledger would skip the next batch). */
  def initStatsStore(docs: DataFrame, statsDir: String): Unit = {
    val swap = statsSwap(statsDir)
    (Seq(swap.marker, swap.staging) ++ swap.ledger)
      .foreach(Fs.delete(docs.sparkSession, _))
    docs.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"))
      .coalesce(1)
      .write.mode("overwrite").parquet(statsDir)
  }

  /** The rollup publish: marker and ledger carry the batch signature,
    * so a crashed publish rolls forward (its overwrite wipes statsDir
    * first) and a retry of the batch is skipped. Staging is a SIBLING:
    * the overwrite would delete an in-tree one. */
  private def statsSwap(statsDir: String): StoreTxn.Swap = {
    val staging = s"${statsDir}__staging"
    StoreTxn.Swap(s"${statsDir}__pending", staging,
      targets = Seq(StoreTxn.Target(s"$staging/updated", statsDir)),
      ledger = Some(s"${statsDir}__last"),
      lost = s"stats store $statsDir: publish marker present without " +
        "its staged rollup — restore statsDir from backup")
  }

  /** Incremental materialized-view maintenance — apply a CDC batch to
    * the per-source rollup WITHOUT rescanning the corpus: the delta is
    * (+new row) per upsert, (−old row) per upsert-over-existing or
    * delete, and the old rows come from ONLY the touched `bucket=`
    * partitions of the doc store (the same static pruning as
    * [[mergeCdc]] — cost ∝ batch at any corpus size). All maintained
    * aggregates are ADDITIVE integer counts/sums, so delta application
    * is exact and order-independent.
    *
    * Call BEFORE [[mergeCdc]] applies the same batch (the store must
    * still hold the old rows); apply-once semantics — replaying a
    * batch double-counts, so a streaming caller keys application by
    * batchId exactly like the index-ingest twins. Returns the new
    * stats table (also persisted to `statsDir`). */
  def maintainStats(spark: org.apache.spark.sql.SparkSession,
                    storeDir: String, statsDir: String,
                    changes: DataFrame, nBuckets: Int): DataFrame = {
    val swap = statsSwap(statsDir)
    swap.run(spark, "maintainStats") {
      val ch = StoreTxn.stage(
        changes.withColumn("bucket", shardOf(col("doc_id"), nBuckets)),
        s"${swap.staging}/changes")
      // deterministic batch signature (count + decimal hash-sum): the
      // SERIAL retry of a batch whose publish already completed (via
      // the roll-forward above or a fully-committed first attempt)
      // must be a no-op, because delta addition is not
      // replay-idempotent — the one ledger slot covers exactly the
      // serial foreachBatch retry contract. The hash covers EVERY
      // change column (doc_id, op, source, n_chars), not just the
      // keys: two consecutive upserts of the same doc with different
      // content are distinct batches that must both apply (ADVICE
      // r12); a truly content-identical batch's skip stays harmless
      // because its delta is net-zero only when the content matches.
      val sigRow = ch.agg(count(lit(1)).as("n"),
        coalesce(sum(xxhash64(concat_ws("|",
            col("doc_id").cast("string"), col("op"),
            coalesce(col("source"), lit("null")),
            coalesce(col("n_chars").cast("string"), lit("null"))))
          .cast("decimal(38,0)")), lit(0L).cast("decimal(38,0)")).as("h"),
        // the r13-and-earlier signature formula (keys only), kept so a
        // ledger written before the content-hash upgrade still detects
        // its own batch's replay — without it the retry computes a
        // new-format sig, mismatches, and DOUBLE-APPLIES the delta
        // (ADVICE r13)
        coalesce(sum(xxhash64(concat_ws("|",
            col("doc_id").cast("string"), col("op")))
          .cast("decimal(38,0)")), lit(0L).cast("decimal(38,0)")).as("h1"))
        .collect()(0)
      // the recorded value carries a format tag from v2 on; a tagless
      // recorded value is one of the two prior formulas — the
      // content hash WITHOUT the tag (the immediately-preceding
      // release: same fields, untagged — review r14) or the original
      // keys-only hash — and either one recognizing its own batch
      // means "already applied"
      val sig = s"v2:${sigRow.getLong(0)}:${sigRow.get(1)}"
      val untaggedContentSig = s"${sigRow.getLong(0)}:${sigRow.get(1)}"
      val legacyKeysSig = s"${sigRow.getLong(0)}:${sigRow.get(2)}"
      val recorded = swap.ledger.flatMap(Fs.readUtf8IfExists(spark, _))
      if (!Seq(sig, untaggedContentSig, legacyKeysSig).exists(recorded.contains)) {
        // the same conflicting-batch gate mergeCdc enforces, HERE too:
        // maintainStats runs FIRST by contract, so a batch mergeCdc
        // would reject must not have already corrupted the apply-once
        // rollup (a duplicate upsert would +2 the plus leg while the
        // left_semi minus leg dedups — permanently off by one)
        require(ch.groupBy(col("doc_id")).count()
          .where(col("count") > 1).isEmpty,
          "maintainStats batch carries conflicting rows for the same " +
            "doc_id; resolve to one change per id upstream")
        val touched = ch.select(col("bucket")).distinct()
          .collect().map(_.getInt(0))
        val olds =
          if (touched.isEmpty) ch.where(lit(false))
            .select(col("doc_id"), col("source"), col("n_chars"))
          else spark.read.parquet(storeDir)
            .where(col("bucket").isin(touched.map(Int.box).toSeq: _*))
            .join(ch.select(col("doc_id")), Seq("doc_id"), "left_semi")
            .select(col("doc_id"), col("source"), col("n_chars"))
        val minus = olds.select(col("source"), lit(-1L).as("d_docs"),
          (-col("n_chars")).as("d_chars"))
        val plus = ch.where(col("op") === "upsert")
          .select(col("source"), lit(1L).as("d_docs"),
            col("n_chars").as("d_chars"))
        val delta = plus.unionByName(minus)
          .groupBy(col("source"))
          .agg(sum(col("d_docs")).as("d_docs"), sum(col("d_chars")).as("d_chars"))
        // one staged file, so the swap's overwrite writes one file
        spark.read.parquet(statsDir).join(delta, Seq("source"), "full_outer")
          .select(col("source"),
            (coalesce(col("n_docs"), lit(0L)) +
              coalesce(col("d_docs"), lit(0L))).as("n_docs"),
            (coalesce(col("total_chars"), lit(0L)) +
              coalesce(col("d_chars"), lit(0L))).as("total_chars"))
          .where(col("n_docs") > 0)
          .coalesce(1)
          .write.mode("overwrite").parquet(swap.targets.head.staged)
        swap.commit(spark, "maintainStats", sig)
      }
    }
    spark.read.parquet(statsDir)
  }

  /** Morton bit-spread of a 16-bit value (zeros interleaved between
    * its bits) — the shift-and-mask ladder every published Morton
    * encoder uses, expressed as codegen'd Column arithmetic. */
  private def spread16(v: Column): Column = {
    val a = v.bitwiseOR(shiftleft(v, 8)).bitwiseAND(lit(0x00FF00FFL))
    val b = a.bitwiseOR(shiftleft(a, 4)).bitwiseAND(lit(0x0F0F0F0FL))
    val c = b.bitwiseOR(shiftleft(b, 2)).bitwiseAND(lit(0x33333333L))
    c.bitwiseOR(shiftleft(c, 1)).bitwiseAND(lit(0x55555555L))
  }

  /** Z-value (Morton code) of two 16-bit quantized coordinates: bits
    * of `x` on even positions, `y` on odd. Locality on the Z-curve
    * approximates 2-D locality, which is what makes a range partition
    * over it a 2-D clustering. */
  def morton(x: Column, y: Column): Column =
    spread16(x.cast("long")).bitwiseOR(shiftleft(spread16(y.cast("long")), 1))

  /** Z-order layout rewrite — 2-D data clustering for data-skipping
    * scans: quantize two numeric dimensions to 16 bits each (min/max
    * scaled), interleave into a Morton z-value, range-partition and
    * sort ON the z-value, and write with bounded file sizes. Each
    * output file then covers a small RECTANGLE of the (x, y) space, so
    * parquet footer min/max on BOTH columns stays selective — a
    * lexicographic sort gives tight spans on the first key only, and
    * every file spans the full range of the second (ShardingSpec pins
    * the contrast). This is how a 100 TB fact table serves selective
    * two-dimensional scans (customer × date, partition × time) without
    * an index: the reader prunes files/row-groups on footer stats
    * alone.
    *
    * One tiny min/max agg (broadcast back — never a driver collect of
    * data rows), one count for the file budget, one shuffle, one
    * write; content is untouched (q125's oracle proves losslessness). */
  def zorderWrite(df: DataFrame, outDir: String, x: Column, y: Column,
                  targetRecords: Long = 1000000L): CompactAudit = {
    val spark = df.sparkSession
    val filesBefore = df.inputFiles.length.toLong
    val stats = df.agg(min(x).cast("long").as("xmin"),
      max(x).cast("long").as("xmax"),
      min(y).cast("long").as("ymin"), max(y).cast("long").as("ymax"))
    val n = df.count()
    val nFiles = math.max(1L, (n + targetRecords - 1) / targetRecords).toInt
    // DOUBLE-space quantization: (v−lo)*65535 overflows Long on wide
    // key domains (epoch micros, snowflake ids — ANSI aborts the
    // whole rewrite; non-ANSI silently garbles the clustering), and
    // v−lo itself overflows on wide signed domains. Doubles never
    // overflow, and the z-value only drives LAYOUT — content is
    // untouched, so rounding at the 2^53 tail costs clustering
    // resolution, never correctness (review r12).
    def quant(v: Column, lo: Column, hi: Column): Column =
      least(floor((v.cast("double") - lo.cast("double")) * 65535.0d /
          greatest(hi.cast("double") - lo.cast("double"), lit(1.0d))),
        lit(65535.0d))
        .cast("long")
    df.crossJoin(broadcast(stats))
      .withColumn("__z", morton(
        quant(x, col("xmin"), col("xmax")),
        quant(y, col("ymin"), col("ymax"))))
      .repartitionByRange(nFiles, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z", "xmin", "xmax", "ymin", "ymax")
      .write.mode("overwrite")
      .option("maxRecordsPerFile", targetRecords)
      .parquet(outDir)
    CompactAudit(n, filesBefore,
      spark.read.parquet(outDir).inputFiles.length.toLong)
  }

  /** The shared scaffold of [[globalRank]] and [[globalCumSum]] — the
    * ONE place the determinism-critical sequence lives:
    * range-repartition on the sort key, compute a per-row quantity
    * WITHIN each partition, then add the broadcast cumulative
    * per-partition offsets (a bounded nParts-row collect; attached
    * via a broadcast hash join on the tiny (_pid,_off) table — O(1)
    * per row, where a when()-chain is O(nParts) comparisons and with
    * shuffle partitions in the thousands risks codegen splitting /
    * interpreted fallback, ADVICE r9).
    *
    * The result is `localCheckpoint`ed — REQUIRED, not for lineage
    * depth but for DETERMINISM: `offsets` was collected from one
    * concrete materialization of `ranged`, and repartitionByRange
    * SAMPLES its boundaries, so a recompute of the (unpersisted-
    * below) input could place rows in different partitions than the
    * offsets were summed for — silently wrong global positions.
    * Pinning the result makes a lost block fail the query (retry
    * re-runs the whole construction consistently) instead of
    * recomputing inconsistently. Fail-fast beats wrong-answer. */
  private def globalOffset(df: DataFrame, name: String,
                           prep: DataFrame => DataFrame,
                           partitionTotal: Column,
                           rowValue: org.apache.spark.sql.expressions
                             .WindowSpec => Column,
                           dropExtra: Seq[String],
                           sortCols: Seq[Column]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.storage.StorageLevel
    val spark = df.sparkSession
    val nParts = spark.sessionState.conf.numShufflePartitions
    val ranged = prep(df.repartitionByRange(nParts, sortCols: _*)
        .withColumn("_pid", spark_partition_id()))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val sizes = ranged.groupBy(col("_pid"))
      .agg(partitionTotal.as("c")).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    var acc = 0L
    val offsets = sizes.map { case (pid, c) =>
      val o = (pid, acc); acc += c; o }
    val offDf = broadcast(
      spark.createDataFrame(offsets.toSeq).toDF("_pid", "_off"))
    val w = Window.partitionBy(col("_pid")).orderBy(sortCols: _*)
    val out = ranged
      .withColumn(name, rowValue(w))
      .join(offDf, Seq("_pid"))
      .withColumn(name, col(name) + col("_off"))
      .drop("_pid" +: "_off" +: dropExtra: _*)
      .localCheckpoint(true) // determinism pin — scaladoc above
    ranged.unpersist(blocking = false)
    out
  }

  /** Global INCLUSIVE prefix sum of `value` along a total order,
    * without a single-partition window — the parallel-prefix-sum
    * construction ([[globalOffset]]): range-repartition, running sum
    * within each partition, broadcast cumulative partition totals.
    * The scalable twin of `sum(value) OVER (ORDER BY ... ROWS
    * UNBOUNDED PRECEDING)` exactly as [[globalRank]] is of a bare
    * `row_number()`.
    *
    * CONTRACT (same as globalRank): `sortCols` must be a TOTAL order;
    * `value` must be integral — LONG sums are exact under any
    * partitioning, where a DOUBLE's partial-order rounding would make
    * the result layout-dependent, so a fractional value type is
    * rejected eagerly instead of silently truncate-cast. NULL values
    * count as 0 (the SQL running-sum convention); the coalesce also
    * keeps the per-partition total collect safe when a whole range
    * partition is null-valued. */
  def globalCumSum(df: DataFrame, cumName: String, value: Column,
                   sortCols: Column*): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val vt = df.select(value).schema.head.dataType
    require(Set("byte", "short", "integer", "long")(vt.typeName),
      s"globalCumSum needs an integral value column, got $vt")
    globalOffset(df, cumName,
      prep = _.withColumn("_v", coalesce(value.cast("bigint"), lit(0L))),
      partitionTotal = sum(col("_v")),
      rowValue = w => sum(col("_v")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
      dropExtra = Seq("_v"),
      sortCols = sortCols)
  }

  /** Global row numbers WITHOUT a single-partition window — the
    * scalable construction of a total order ([[globalOffset]]):
    * range-repartition on the sort key, rank within each partition,
    * add the broadcast cumulative partition offsets. A bare
    * `Window.orderBy(...)` funnels the entire dataset through one
    * task; this shape keeps every stage parallel, which is the
    * difference between "sorting 100 TB" and "sorting 100 TB on one
    * core".
    *
    * CONTRACT: `sortCols` must be a TOTAL order (unique tiebreak) —
    * positions are then layout-independent even though the range
    * boundaries themselves may vary run to run. The input frame is
    * persisted for the duration (two passes: partition sizes, then
    * ranks) and released before return. */
  def globalRank(df: DataFrame, posName: String,
                 sortCols: Column*): DataFrame =
    globalOffset(df, posName,
      prep = identity,
      partitionTotal = count(lit(1)),
      rowValue = w => row_number().over(w).cast("bigint"),
      dropExtra = Nil,
      sortCols = sortCols)
}
