package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The event-table operators the query inventory shares: the epoch
  * writer behind q230 and the graftjson lifecycle queries
  * ([[ingestEpoch]]), per-window schema inference (q101,
  * [[schemaOverTime]]) and the hourly throughput monitor (q157,
  * [[hourlyAnomalies]]). All three are batch operations; the graftjson
  * table's streaming surface is its own source (`JsonDocMicroBatchStream`,
  * q232) and sink (`JsonDocStreamingWrite`, q234). */
object EventStreams {

  /** Streaming schema inference — the reference's CORE capability run
    * as a monitoring stream: per watermarked tumbling window, the JSON
    * column folds through the schema-merge lattice (the same
    * associative `InferSchemaStringAgg` the batch CLI uses) and the
    * window emits its rendered schema. State per open window is ONE
    * O(schema) tree merged map-side like any partial+final aggregate —
    * inference over a 100 TB/day firehose has the identical one-pass
    * shape as the batch crawl. A producer deploying a field change
    * becomes visible in the next window's rendered schema instead of
    * at the next batch inventory run. */
  def schemaOverTime(events: DataFrame, jsonCol: String = "props",
                     window_ : String = "1 hour",
                     lateness: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", lateness)
      .groupBy(window(col("ts"), window_).as("w"))
      .agg(count(lit(1)).as("n_events"),
        graft.infer.InferSchema.of(col(jsonCol), "flat").as("schema_flat"))
      .select(col("w.start").as("window_start"), col("n_events"),
        col("schema_flat"))

  /** One ingest epoch: write the batch as NDJSON under the table's
    * hidden `_ingest_tmp` staging dir, then move the part files to
    * DETERMINISTIC epoch names (`epoch-NNNNNN[-K].json`) in the table
    * dir — a replayed epoch reconciles exactly its own namespace:
    * published files whose bytes already match the replay's are KEPT
    * (no mtime bump — historical save fingerprints of replayed epochs
    * stay valid, r14), differing ones are replaced, stale sibling
    * names swept; recovery is idempotent with no id bookkeeping.
    * A crash mid-move leaves a subset of the epoch's files visible;
    * the replay converges those same names to the identical committed
    * state.
    * When `refreshMeta`, the durable planning metadata refreshes in
    * the same cycle — the meta diff walks only this epoch's files, so
    * a fresh-JVM reader plans the table walk-free.
    *
    * Replays and LIVE TAILS don't mix: a replay sweeps and rewrites
    * its epoch's published names, which a concurrent
    * `readStream.format("graftjson")` tail that already consumed them
    * correctly fails LOUDLY on (the append-only mtime/disappearance
    * guards) — replay-exposed epochs belong to the ingest pipeline's
    * recovery, not to a tailed steady state; start tails after the
    * ingest checkpoint has committed the epochs they will read. */
  def ingestEpoch(batch: DataFrame, dir: String, batchId: Long,
                  nFiles: Int = 1, refreshMeta: Boolean = true,
                  opId: String = ""): Unit = {
    require(nFiles > 0, "nFiles must be positive")
    val spark = batch.sparkSession
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(conf)
    // enforced single-writer: the epoch's sweep-then-publish mutates
    // the table namespace — a concurrent write/compact fails loudly
    // ([[graft.sources.JsonLease]], r13)
    // retrySameLabel: a retry of THIS epoch is a serial
    // replay of the same logical op (deterministic epoch names) — it
    // must not wait out a crashed attempt's lease TTL (review r13).
    // `opId` scopes the retry to ONE logical pipeline: two pipelines
    // ingesting the same table with equal batchIds must conflict
    // loudly, not usurp each other's live lease (ADVICE r13) — callers
    // sharing a table across pipelines pass their own
    val label =
      if (opId.isEmpty) s"ingest-epoch-$batchId"
      else s"ingest-epoch-$opId-$batchId"
    graft.sources.JsonLease.withLease(fs, root, label,
      retrySameLabel = true) { h =>
    // CLAIM-UNIQUE staging (r16 — a real JsonLeaseRaceSpec find, round
    // 52 of a full-suite run): the shared `_ingest_tmp` let a
    // residual-window double-claimant's mode(overwrite) write CLOBBER
    // the verified holder's staged parts between its tmp job and its
    // publish renames — the holder then LISTED the other epoch's
    // parts and renamed FOREIGN ROWS under its own epoch names (a
    // silent wrong-content publish; the victim's later "could not
    // publish" was loud, the thief's commit was not). A unique dir
    // per attempt means every claimant only ever lists its own bytes;
    // the lease's advisory residual then degrades to loud aborts,
    // never content theft. Crashed attempts' dirs sweep by lease TTL
    // (fresh ones may belong to a live racer in the residual window —
    // spared, the clearStaleStage discipline).
    try Option(fs.listStatus(root)).getOrElse(Array.empty)
      .filter(st => st.isDirectory &&
        st.getPath.getName.startsWith("_ingest_tmp") &&
        System.currentTimeMillis() - st.getModificationTime >
          graft.sources.JsonLease.DefaultTtlMs)
      .foreach(st => fs.delete(st.getPath, true))
    catch { case _: java.io.FileNotFoundException => () }
    val tmp = new org.apache.hadoop.fs.Path(root,
      s"_ingest_tmp_${java.util.UUID.randomUUID().toString.take(12)}")
    batch.repartition(nFiles).write.mode("overwrite").json(tmp.toString)
    // the tmp write is a full Spark job that can outlast the lease TTL
    // at scale: heartbeat, then re-check ownership BEFORE the first
    // namespace mutation (the sweep below) — a post-TTL usurper makes
    // this run abort loudly instead of interleaving (ADVICE r13)
    h.touch(); h.verifyHeld()
    val parts = fs.listStatus(tmp)
      .filter(st => st.isFile && st.getPath.getName.startsWith("part-"))
      .sortBy(_.getPath.getName)
    // the epoch's target names, then reconcile its WHOLE published
    // namespace against them — not just the names about to be written:
    // a replayed epoch can land FEWER part files than its crashed
    // first attempt (different upstream partitioning, an empty
    // partition), and a stale epoch-NNNNNN-KKK.json would otherwise
    // survive holding rows the rewritten files also carry — duplicates.
    // (The native streaming sink sweeps its prefix for exactly this
    // reason; review r12.)
    val prefix = f"epoch-$batchId%06d"
    val targets: Seq[(org.apache.hadoop.fs.FileStatus, String)] =
      parts.zipWithIndex.map { case (st, k) =>
        st -> (if (nFiles == 1) f"epoch-$batchId%06d.json"
               else f"epoch-$batchId%06d-$k%03d.json")
      }.toSeq
    val targetNames = targets.map(_._2).toSet
    try
      Option(fs.listStatus(root)).getOrElse(Array.empty)
        .filter { st =>
          val n = st.getPath.getName
          st.isFile && (n == s"$prefix.json" ||
            (n.startsWith(s"$prefix-") && n.endsWith(".json"))) &&
            !targetNames.contains(n)
        }
        .foreach(st => fs.delete(st.getPath, false))
    catch { case _: java.io.FileNotFoundException => }
    targets.foreach { case (st, name) =>
      val dst = new org.apache.hadoop.fs.Path(root, name)
      // content-identical replay keeps the PUBLISHED file: a true
      // foreachBatch retry re-renders the same bytes, and overwriting
      // them would bump the mtime — drifting the file out of every
      // historical save's (len, mtime) fingerprint and killing asOf
      // reads of replayed epochs for no reason (VERDICT r13 #2 /
      // watchpoint r13#1). Only differing bytes replace the file.
      val existing =
        try Some(fs.getFileStatus(dst))
        catch { case _: java.io.FileNotFoundException => None }
      val identical = existing.exists(_.getLen == st.getLen) &&
        graft.ops.Fs.sameBytes(fs, st.getPath, dst)
      if (identical) fs.delete(st.getPath, false)
      else {
        existing.foreach(_ => fs.delete(dst, false))
        if (!fs.rename(st.getPath, dst))
          throw new IllegalStateException(s"could not publish $dst")
      }
    }
    fs.delete(tmp, true)
    if (refreshMeta) {
      // the publish renames are namespace mutations too — heartbeat
      // and re-verify before the meta commit (ADVICE r13)
      h.touch(); h.verifyHeld()
      graft.sources.JsonMeta.saveWith(spark, dir, None, h)
    }
    }
    ()
  }

  /** The throughput anomaly monitor (q157's body): hourly event-type
    * counts z-scored against the preceding 24 hourly ROWS
    * (`ROWS -24..-1` — hours without events produce no row and no
    * gap-filling happens). Rows with fewer than 24 predecessors or
    * zero variance are suppressed. Integer moments ⇒ exact under any
    * layout. */
  def hourlyAnomalies(events: DataFrame): DataFrame = {
    val hourly = events
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hr"))
      .agg(count(lit(1)).as("cnt"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type")).orderBy(col("hr"))
      .rowsBetween(-24, -1)
    val mu = col("s1").cast("double") / col("n_prev")
    val sigma = sqrt(col("s2").cast("double") / col("n_prev") - mu * mu)
    hourly
      .withColumn("n_prev", count(lit(1)).over(w))
      .withColumn("s1", sum(col("cnt")).over(w))
      .withColumn("s2", sum(col("cnt") * col("cnt")).over(w))
      .where(col("n_prev") === 24 && sigma > 0)
      .select(col("event_type"), col("hr"), col("cnt"),
        round(mu, 4).as("mu"), round(sigma, 4).as("sigma"),
        round((col("cnt") - mu) / sigma, 4).as("z"),
        (abs((col("cnt") - mu) / sigma) >= 3.0).cast("int").cast("bigint")
          .as("is_anomaly"))
      .orderBy(col("event_type"), col("hr"))
  }
}
