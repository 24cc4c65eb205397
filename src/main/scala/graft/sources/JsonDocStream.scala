package graft.sources

import graft.types.HType
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming._
import org.apache.spark.sql.types.StructType

import java.nio.charset.StandardCharsets
import scala.collection.mutable

/** `spark.readStream.format("graftjson")` — the graftjson table as a
  * native micro-batch source, completing the ingest loop whose write
  * side is [[graft.streaming.EventStreams.ingestEpoch]]: epochs land
  * as NDJSON files, and a streaming reader tails the directory with
  * exactly-once file accounting.
  *
  * Offsets are BATCH IDS, not file lists: each planned batch appends
  * one immutable log file under `<checkpoint>/graft-batches/` naming
  * exactly the files it admitted (tmp + atomic rename — the
  * [[JsonCompact]] marker discipline), and the engine's offset WAL
  * stores just the id. Checkpoint cost per trigger is therefore
  * proportional to the files that ARRIVED, never to the table — the
  * same diff-not-table grain as [[JsonMeta]] segments. Replay is
  * deterministic because `planInputPartitions(start, end)` re-reads
  * the logs for `(start, end]` verbatim; a crash between our log
  * write and the engine's WAL commit leaves an orphan log that the
  * next `latestOffset` simply returns again (the files are already
  * accounted as seen, the id is already durable — FileStreamSource's
  * recovery shape).
  *
  * Schema locks at stream start (the load-time inference); later
  * files materialize through that locked [[HType]] exactly like
  * post-inference files do in a batch scan. Batches reuse the batch
  * reader wholesale — the same [[JsonDocSplitter]] byte-range splits
  * for plain NDJSON, single partitions for `.gz`/whole, pushed-filter
  * early skip — so stream and batch cannot drift row-wise. Unlike the
  * batch scan, the stream does NOT pack small splits into one task:
  * its partitions interleave [[CdcRemovePartition]]s with the data
  * splits, and trigger admission (`maxFilesPerTrigger` /
  * `maxBytesPerTrigger`) already bounds a batch, so each split stays
  * its own partition.
  *
  * The tailed directory is APPEND-ONLY by contract: ingest epochs
  * add files and never mutate them (a replayed epoch rewrites
  * identical bytes at identical length). A consumed file that
  * GROWS/shrinks or DISAPPEARS (an in-place append, or a
  * `compact()`/`recluster()` swap — their merged outputs would be
  * double reads of rows already emitted) fails the stream loudly at
  * the next trigger instead of silently losing or duplicating rows;
  * run maintenance on directories not being tailed.
  *
  * Admission control: `maxFilesPerTrigger` / `maxBytesPerTrigger`
  * options (at least one file always admits, so a single file larger
  * than the byte cap still progresses); files admit in (mtime, path)
  * order. `Trigger.AvailableNow` snapshots the listing at start and
  * drains exactly that set under the rate limits.
  *
  * CHANGE-FEED start (`startingSave=k`, r15 — VERDICT r14 #3, the
  * Delta/Iceberg CDF shape): instead of snapshotting "now" as batch 0,
  * the stream REPLAYS committed history from save `k` before handing
  * off to the live tail. [[JsonMeta.cdcResolve]] resolves, from the
  * manifest fold, (a) the BASELINE — files the consumer already holds
  * at save k, swallowed durably (written once to `cdc-baseline` under
  * the checkpoint, never emitted) — and (b) one DELTA per later save:
  * the files that save introduced that are still current. Catch-up
  * batches serve the deltas in save order, never mixing saves (rate
  * limits apply WITHIN a save), and a `cdc-done` marker commits
  * catch-up completion so restarts after completion never re-resolve
  * (a later vacuum of save k then cannot kill a healthy stream).
  * Restart DURING catch-up re-resolves against the current manifest
  * and continues where the batch logs left off (already-admitted
  * files filter out through `seen`); a vacuumed/squashed/unknown
  * `startingSave` fails with [[JsonMeta]]'s own named errors — never
  * silently re-snapshots. By default deletions are NOT replayed as
  * rows (append-oriented file-level CDF: a deleted file simply stops
  * appearing — the documented coarser-never-wrong grain of
  * `sinceSave`); `cdcDeletes=true` (r16 — VERDICT r15 #2) opts into
  * the full mirror contract: the schema gains explicit
  * `_file`/`_change_type` columns, every data row rides as
  * `_change_type='insert'`, and each catch-up save FIRST emits one
  * all-null RETRACTION row per file whose previous form died at that
  * save (`_change_type='delete'`, `_file` the dead path) — a
  * consumer applying deletes-then-inserts per batch lands exactly on
  * the live table ([[JsonMeta.SaveChanges]]). Retraction rows are
  * exactly-once across restarts like file admissions (logged with a
  * len=-1 sentinel carrying the save id). The LIVE tail still never
  * emits deletes — the append-only guard stands; deletes reach the
  * feed as committed history on the next `startingSave` resolution. */
private[sources] class JsonDocMicroBatchStream(
    spark: SparkSession,
    checkpointLocation: String,
    ps: Seq[String], whole: Boolean, t: HType,
    full: StructType, required: StructType,
    pushed: Array[org.apache.spark.sql.sources.Filter],
    maxSplitBytes: Option[Long],
    maxFilesPerTrigger: Option[Int],
    maxBytesPerTrigger: Option[Long],
    startingSave: Option[Long] = None,
    appendFilePath: Boolean = false,
    cdcDeletes: Boolean = false)
  extends MicroBatchStream with SupportsAdmissionControl
  with SupportsTriggerAvailableNow {

  import JsonDocMicroBatchStream._

  private val logDir = new Path(checkpointLocation, LogDirName)
  // driver-side only: the session conf carries the user's fs settings
  private val fs: FileSystem =
    logDir.getFileSystem(spark.sparkContext.hadoopConfiguration)

  // path -> (length, mtime) at admission, rebuilt from the logs at
  // restart: BOTH drive the append-only
  // guard — a same-length in-place rewrite bumps mtime, and planned
  // byte-range partitions from an old log would silently read the NEW
  // bytes (rows lost + duplicated) if only length were checked
  private val seen = mutable.HashMap.empty[String, (Long, Long)]
  // retraction rows already emitted, keyed (save, path) — a path can
  // legitimately be retracted at several saves (rewrite chains)
  private val seenRemoved = mutable.HashSet.empty[(Long, String)]
  private var latestId: Long = -1L
  // Trigger.AvailableNow target: drain exactly this path set, then idle
  private var availableNowTarget: Option[Set[String]] = None
  // change-feed catch-up queue: per-save deltas not yet fully admitted
  private var pendingSaves: List[(Long, List[LogEntry])] = Nil

  private val baselinePath = new Path(logDir, CdcBaselineName)
  private val cdcDonePath = new Path(logDir, CdcDoneName)
  private val cdcModePath = new Path(logDir, CdcModeName)

  locally {
    require(startingSave.isEmpty || (ps.size == 1 && !whole),
      "graftjson: startingSave needs exactly one NDJSON table directory " +
        "(the change feed resolves through its planning metadata)")
    fs.mkdirs(logDir)
    // the cdcDeletes MODE is durable checkpoint state: its batch logs
    // carry retraction entries and its sink schema carries the cdc
    // columns — resuming the same checkpoint in the other mode would
    // plan retraction entries without the reader that serves them (an
    // unnamed ClassCastException) or silently change the row shape.
    // Fail with a NAMED error instead (review r16).
    val modeOnDisk = fs.exists(cdcModePath)
    val anyDurable = fs.exists(baselinePath) ||
      logIds(fs, logDir).nonEmpty
    if (modeOnDisk && !cdcDeletes) throw new IllegalStateException(
      s"graftjson stream: checkpoint $checkpointLocation was built " +
        "with cdcDeletes=true — restart the stream with the same " +
        "option (its batch logs carry retraction entries), or start " +
        "over under a fresh checkpoint")
    if (!modeOnDisk && cdcDeletes && anyDurable)
      throw new IllegalStateException(
        s"graftjson stream: checkpoint $checkpointLocation was built " +
          "WITHOUT cdcDeletes — restart without the option (the sink's " +
          "row shape has no cdc columns), or start over under a fresh " +
          "checkpoint")
    // NOTE: the cdcDeletes mode marker is written AFTER the change-feed
    // resolution below succeeds (ADVICE r16) — cdcResolve can fail on a
    // fresh checkpoint (e.g. the named vacuum-retention error), and a
    // marker created first would poison the otherwise-empty checkpoint:
    // a retry without the option would then hit the misleading
    // "was built with cdcDeletes=true" message though no batch logs or
    // baseline were ever written.
    logIds(fs, logDir).foreach { id =>
      readLog(fs, logDir, id).foreach { e =>
        // len<0 marks a RETRACTION entry (mtime carries the save id):
        // it must never enter `seen` — the path has no live bytes for
        // the append-only guard to fingerprint. It also SUPERSEDES an
        // earlier admission of the same path (logs fold in id order):
        // the feed told the consumer to drop that file, so the
        // append-only guard must stop holding it (review r16 — a
        // restart after an upstream delete of a served file would
        // otherwise wedge the checkpoint on the disappeared-file
        // error forever)
        if (e.len < 0L) { seenRemoved += ((e.mtime, e.path)); seen -= e.path }
        else seen(e.path) = (e.len, e.mtime)
      }
      latestId = math.max(latestId, id)
    }
    startingSave.foreach { sv =>
      // the baseline is swallowed, not emitted — it must be DURABLE
      // before the first offset, or a restart would tail-admit the
      // consumer's own pre-save files as fresh rows
      if (fs.exists(baselinePath))
        readEntriesFile(fs, baselinePath)
          .foreach(e => seen(e.path) = (e.len, e.mtime))
      if (!fs.exists(cdcDonePath)) {
        val res = JsonMeta.cdcResolve(spark, ps.head, sv)
        // mode marker: durable only once resolution SUCCEEDED, and
        // BEFORE any baseline/log write (a crash after the baseline but
        // before the marker would otherwise trip the reverse
        // "built WITHOUT cdcDeletes" check on restart)
        if (cdcDeletes && !fs.exists(cdcModePath)) {
          val o = fs.create(cdcModePath, true); o.close()
        }
        if (!fs.exists(baselinePath)) {
          writeEntriesFile(fs, baselinePath,
            res.baseline.map { case (p, l, m) => LogEntry(p, l, m) })
          res.baseline.foreach { case (p, l, m) => seen(p) = (l, m) }
        }
        // with cdcDeletes, each save's RETRACTIONS precede its adds
        // (retract-then-apply is the mirror order; applyLimit admits
        // prefixes, so the order survives rate-limited batches too)
        pendingSaves =
          (if (cdcDeletes)
            res.changes.iterator.map { c =>
              (c.save,
                c.removed.collect {
                  case p if !seenRemoved((c.save, p)) =>
                    LogEntry(p, -1L, c.save)
                }.toList :::
                // FINGERPRINT-filtered, not path-filtered: a served
                // file rewritten upstream (retraction queued above)
                // must re-admit its NEW form — a path filter would
                // retract without re-inserting and a mirror would
                // lose the file (review r16)
                c.added.collect {
                  case (p, l, m) if !seen.get(p).contains((l, m)) =>
                    LogEntry(p, l, m)
                }.toList)
            }
          else
            res.deltas.iterator.map { case (save, files) =>
              (save, files.collect {
                case (p, l, m) if !seen.contains(p) => LogEntry(p, l, m)
              }.toList)
            }).filter(_._2.nonEmpty).toList
        if (pendingSaves.isEmpty) markCdcDone()
      }
    }
  }

  private def markCdcDone(): Unit = {
    // a plain create is enough: the flag's content is its existence,
    // and a torn create still exists (idempotent to re-create)
    val out = fs.create(cdcDonePath, true)
    out.close()
  }

  override def initialOffset(): Offset = JsonStreamOffset(-1L)

  override def deserializeOffset(json: String): Offset =
    JsonStreamOffset(json.trim.toLong)

  override def getDefaultReadLimit: ReadLimit = {
    val limits = maxFilesPerTrigger.map(ReadLimit.maxFiles).toSeq ++
      maxBytesPerTrigger.map(ReadLimit.maxBytes).toSeq
    limits match {
      case Seq() => ReadLimit.allAvailable()
      case Seq(one) => one
      case many => ReadLimit.compositeLimit(many.toArray)
    }
  }

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget =
      Some(JsonDocSource.listFiles(spark, ps).map(_._1).toSet)

  // engine always goes through the admission-control overload
  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) is the entry point")

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val listing = JsonDocSource.listFiles(spark, ps)
    val present = listing.iterator.map(_._1).toSet
    // a served file with a PENDING retraction queued for it (a restart
    // re-resolved history and found a committed delete/rewrite of it)
    // is legitimately allowed to be gone or changed: the feed is about
    // to tell the consumer to drop it — the admission no longer holds
    // it (r16 review; without cdcDeletes no retraction can exist and
    // the guards stay absolute). Materialized ONCE per trigger (ADVICE
    // r16): probing the pending-save lists per listed file was
    // O(listing × pending entries) during a large catch-up.
    val queuedRetractions: Set[String] =
      if (!cdcDeletes) Set.empty
      else pendingSaves.iterator.flatMap(_._2.iterator
        .filter(_.len < 0L).map(_.path)).toSet
    def retractionQueued(p: String): Boolean = queuedRetractions(p)
    listing.foreach { case (p, len, mtime) =>
      seen.get(p).foreach { case (aLen, aMtime) =>
        if (len != aLen || mtime != aMtime) {
          if (retractionQueued(p)) seen -= p
          else throw new IllegalStateException(
            s"graftjson stream: consumed file changed " +
              s"(len $aLen -> $len, mtime $aMtime -> $mtime): $p — tailed " +
              "directories are append-only (write new files; never " +
              "rewrite or append in place)")
        }
      }
    }
    seen.keysIterator.filterNot(present).toSeq.foreach { p =>
      if (retractionQueued(p)) seen -= p
      else throw new IllegalStateException(
        s"graftjson stream: consumed file disappeared: $p — " +
          "compact()/recluster() must not run on a tailed directory")
    }
    // change-feed catch-up first: committed history replays in save
    // order before any live-tail admission (a fresh live file must not
    // interleave ahead of an older save's delta), batches never mix
    // saves, and the rate limits bound each batch WITHIN the current
    // save's remaining files
    if (pendingSaves.nonEmpty) {
      val (save, files) = pendingSaves.head
      val admitted = applyLimit(
        files.map(e => (e.path, e.len, e.mtime)), limit)
      // drift guard (r16 — VERDICT r15 #3): the resolution verified
      // these fingerprints ONCE, at stream construction; maintenance
      // (compact/recluster/an in-place rewrite) can swap the bytes
      // between resolution and this admission, and a partition planned
      // from the stale log entry would silently read the NEW bytes.
      // The trigger's own listing re-checks for free — fail LOUDLY,
      // never wrong rows
      val byPath = listing.iterator.map(f => f._1 -> ((f._2, f._3))).toMap
      admitted.foreach { case (p, l, m) =>
        if (l >= 0L) byPath.get(p) match {
          case Some((cl, cm)) if cl == l && cm == m => ()
          case Some((cl, cm)) => throw new IllegalStateException(
            s"graftjson stream: change-feed file $p drifted from its " +
              s"save-time fingerprint (($l, $m) vs ($cl, $cm)) — " +
              "maintenance rewrote it mid-replay; restart the feed " +
              "from a newer save")
          case None => throw new IllegalStateException(
            s"graftjson stream: change-feed file $p, whose bytes were " +
              "physically removed mid-replay — restart the feed from " +
              "a newer save")
        }
      }
      val id = latestId + 1
      writeLog(fs, logDir, id,
        admitted.map { case (p, l, m) => LogEntry(p, l, m) })
      admitted.foreach(f =>
        if (f._2 >= 0L) seen(f._1) = (f._2, f._3)
        else seenRemoved += ((f._3, f._1)))
      latestId = id
      // applyLimit admits a PREFIX, so the remainder is a drop
      val remaining = files.drop(admitted.size)
      pendingSaves =
        if (remaining.isEmpty) pendingSaves.tail
        else (save, remaining) :: pendingSaves.tail
      if (pendingSaves.isEmpty) markCdcDone()
      return JsonStreamOffset(id)
    }
    var fresh = listing.filterNot(f => seen.contains(f._1))
    availableNowTarget.foreach(tg => fresh = fresh.filter(f => tg(f._1)))
    val admitted = applyLimit(fresh.sortBy(f => (f._3, f._1)), limit)
    if (admitted.isEmpty) JsonStreamOffset(latestId)
    else {
      val id = latestId + 1
      writeLog(fs, logDir, id,
        admitted.map { case (p, l, m) => LogEntry(p, l, m) })
      admitted.foreach(f => seen(f._1) = (f._2, f._3))
      latestId = id
      JsonStreamOffset(id)
    }
  }

  private def applyLimit(fresh: Seq[(String, Long, Long)],
                         limit: ReadLimit): Seq[(String, Long, Long)] = {
    def flatten(l: ReadLimit): Seq[ReadLimit] = l match {
      case c: CompositeReadLimit => c.getReadLimits.toSeq.flatMap(flatten)
      case other => Seq(other)
    }
    flatten(limit).foldLeft(fresh) {
      case (fs0, f: ReadMaxFiles) => fs0.take(math.max(1, f.maxFiles))
      case (fs0, b: ReadMaxBytes) =>
        // admit files until the byte budget is spent; never zero files
        // (retraction entries, len<0, cost nothing)
        var budget = b.maxBytes
        val it = fs0.iterator
        val out = Seq.newBuilder[(String, Long, Long)]
        var first = true
        while (it.hasNext && (first || budget > 0)) {
          val f = it.next()
          val cost = math.max(0L, f._2)
          if (first || cost <= budget) { out += f; budget -= cost }
          else budget = 0
          first = false
        }
        out.result()
      case (fs0, _) => fs0 // allAvailable / row limits: no file cap
    }
  }

  override def planInputPartitions(start: Offset,
                                   end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[JsonStreamOffset].batchId
    val e = end.asInstanceOf[JsonStreamOffset].batchId
    val conf = spark.sparkContext.hadoopConfiguration
    val splitter = new JsonDocSplitter(spark, whole, maxSplitBytes)
    ((s + 1) to e).flatMap { id =>
      readLog(fs, logDir, id).flatMap { entry =>
        if (entry.len < 0L)
          // retraction entry: one synthetic delete row, no file read
          Seq(CdcRemovePartition(entry.path): InputPartition)
        else {
          // replay fingerprint check (review r16): the engine replays
          // a committed-but-unprocessed batch from its log after a
          // restart WITHOUT another latestOffset — a same-length
          // in-place rewrite while the stream was down would be read
          // silently under the old admission. One stat per admitted
          // file, proportional to the batch.
          val p = new Path(entry.path)
          val st = try p.getFileSystem(conf).getFileStatus(p) catch {
            case _: java.io.FileNotFoundException =>
              throw new IllegalStateException(
                s"graftjson stream: consumed file disappeared: " +
                  s"${entry.path} — compact()/recluster() must not " +
                  "run on a tailed directory")
          }
          if (st.getLen != entry.len ||
            st.getModificationTime != entry.mtime)
            throw new IllegalStateException(
              s"graftjson stream: consumed file changed (len " +
                s"${entry.len} -> ${st.getLen}, mtime ${entry.mtime} " +
                s"-> ${st.getModificationTime}): ${entry.path} — " +
                "tailed directories are append-only (write new files; " +
                "never rewrite or append in place)")
          splitter(entry.path, entry.len)
        }
      }
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    // `_file` metadata column selected on the stream (never with
    // cdcDeletes): same per-split constant append as the batch scan.
    // cdcDeletes appends the two EXPLICIT cdc columns instead (and
    // serves retractions).
    val base = JsonDocReaderFactory(whole, t, full, required, pushed,
      graft.ops.Fs.broadcastConf(spark),
      appendFile = appendFilePath)
    if (cdcDeletes) CdcAppendingReaderFactory(base, required.size)
    else base
  }

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

private[sources] object JsonDocMicroBatchStream {

  private[sources] val LogDirName = "graft-batches"
  /** Change-feed artifacts under the log dir — neither matches the
    * `batch-` prefix, so [[logIds]] never mistakes them for batches. */
  private[sources] val CdcBaselineName = "cdc-baseline"
  private[sources] val CdcDoneName = "cdc-done"
  /** Durable cdcDeletes MODE marker: a checkpoint's batch logs and
    * sink schema are mode-specific, so resuming in the other mode
    * fails with a named error instead of misreading them. */
  private[sources] val CdcModeName = "cdc-deletes-mode"

  private[sources] case class JsonStreamOffset(batchId: Long) extends Offset {
    override def json(): String = batchId.toString
  }

  private[sources] case class LogEntry(path: String, len: Long, mtime: Long)

  private def logPath(dir: Path, id: Long): Path =
    new Path(dir, f"batch-$id%010d")

  private[sources] def logIds(fs: FileSystem, dir: Path): Seq[Long] =
    Option(fs.listStatus(dir)).getOrElse(Array.empty).toSeq
      .map(_.getPath.getName)
      .filter(n => n.startsWith("batch-") && !n.endsWith(".tmp"))
      .map(_.stripPrefix("batch-").toLong).sorted

  /** One immutable file per batch; tmp + rename so a torn write is
    * never visible (an invisible tmp is re-planned from the listing
    * on the next trigger — the id was never returned to the engine). */
  private[sources] def writeLog(fs: FileSystem, dir: Path, id: Long,
                                entries: Seq[LogEntry]): Unit =
    writeEntriesFile(fs, logPath(dir, id), entries)

  /** Same tmp+rename commit for any entry file (batch logs and the
    * change-feed baseline share the format). */
  private[sources] def writeEntriesFile(fs: FileSystem, p: Path,
                                        entries: Seq[LogEntry]): Unit = {
    val tmp = new Path(p.getParent, p.getName + ".tmp")
    val out = fs.create(tmp, true)
    try entries.foreach { e =>
      out.write(s"${e.len}\t${e.mtime}\t${e.path}\n"
        .getBytes(StandardCharsets.UTF_8))
    } finally out.close()
    if (!fs.rename(tmp, p))
      throw new IllegalStateException(s"could not commit batch log $p")
  }

  private[sources] def readLog(fs: FileSystem, dir: Path,
                               id: Long): Seq[LogEntry] =
    readEntriesFile(fs, logPath(dir, id))

  private[sources] def readEntriesFile(fs: FileSystem,
                                       p: Path): Seq[LogEntry] = {
    val text = graft.ops.Fs.readFullyUtf8(fs, p)
    text.split("\n").iterator.filter(_.nonEmpty).map { line =>
      // path LAST: it may itself contain tabs
      val Array(len, mtime, path) = line.split("\t", 3)
      LogEntry(path, len.toLong, mtime.toLong)
    }.toSeq
  }
}
