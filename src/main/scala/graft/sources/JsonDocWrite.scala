package graft.sources

import com.fasterxml.jackson.core.{JsonFactory, JsonGenerator}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.SpecializedGetters
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.types._

import java.time.{LocalDate, LocalDateTime, ZoneId, ZoneOffset}
import java.time.format.DateTimeFormatter

/** The WRITE half of the graftjson table format —
  * `df.write.format("graftjson")` (append / overwrite) and
  * `df.writeStream.format("graftjson")` (append), making the source a
  * complete, symmetric table format: batch read/write, streaming
  * read/write, plus the maintenance family (compact / recluster /
  * durable meta) that keeps the written layout healthy.
  *
  * Each write task streams its rows as NDJSON into the table's hidden
  * `_compaction/` staging dir (one file per task attempt — speculative
  * attempts never collide because the task id is in the staged name).
  * Commit then follows the store's established crash contracts:
  *
  *   - BATCH: the job's winning staged files are published through the
  *     SAME atomic marker protocol compaction and recluster use
  *     ([[JsonCompact]]): one `_compaction/commit` marker (tmp +
  *     rename) names every staged→final move, and — for overwrite —
  *     every current data file to remove. Any crash point shows
  *     readers either the old table or the new one, never a mix;
  *     the next maintenance call rolls the marker forward.
  *   - STREAMING: each epoch's files rename to DETERMINISTIC names
  *     (`epoch-NNNNNN-sPPPPP.json`) after reconciling the namespace
  *     the same epoch published before — content-identical files are
  *     KEPT (no mtime bump: historical save fingerprints of replayed
  *     epochs stay valid, r14), differing ones replaced, stale sibling
  *     names swept — so recovery is idempotent with no id bookkeeping
  *     (the [[graft.streaming.EventStreams.ingestEpoch]] contract).
  *
  * NDJSON is schema-on-read: a write renders VALUES faithfully and the
  * next load re-infers TYPES under the reference classifier
  * (JsonSchemaFinder.java:56-134), so the round-tripped schema follows
  * the reference's value-bucketed semantics, not the input df's
  * nominal types (a LongType column of small values reads back as
  * int/short/byte; a double within float range reads back as decimal
  * or float by its rendered form). Values survive exactly for
  * integral, string, boolean, decimal, binary (hex), and
  * second-precision timestamps; see [[JsonRowText]] for the rendering
  * contract. Single-writer: writes must not run concurrently with
  * maintenance (compact/recluster) or other writers on the same
  * directory — the store-wide contract. */
private[sources] object JsonDocWrite {

  /** Writer option: refresh the durable planning metadata
    * ([[JsonMeta.save]]) in the same commit, so a fresh-JVM reader
    * plans the appended files walk-free. */
  val RefreshMetaOption = "refreshMeta"

  /** Writer option: cluster the written files by this (dotted) column
    * path — the write declares an ORDERED required distribution
    * (DSv2 `RequiresDistributionAndOrdering`), so Spark range-
    * exchanges and sorts the rows BEFORE they reach the staging
    * writers and each output file covers a tight, non-overlapping key
    * range: zone maps are selective from the first scan, no post-hoc
    * [[JsonCompact.recluster]] rewrite needed. The engine plans the
    * exchange, so skew handling (AQE) and partition sizing
    * (`clusterTargetBytes` → advisory partition size) are the
    * optimizer's own machinery, not custom code. */
  val ClusterByOption = "clusterBy"

  /** Writer option: advisory bytes per clustered output partition
    * (AQE sizes the range exchange's partitions toward it — and each
    * partition is one staged file). Only meaningful with
    * [[ClusterByOption]]. */
  val ClusterTargetBytesOption = "clusterTargetBytes"

  /** Writer option: EXACT number of clustered output partitions
    * (`requiredNumPartitions` — disables AQE's coalescing for the
    * exchange; one staged file per non-empty partition). Only
    * meaningful with [[ClusterByOption]]; prefer the advisory size at
    * scale and this when the file count itself is the contract. */
  val ClusterPartitionsOption = "clusterPartitions"

  private[sources] def runTag(queryId: String): String =
    queryId.replace("-", "").take(12)

  private[sources] def stagedBatchName(tag: String, pid: Int, tid: Long): String =
    f"write-$tag-p$pid%05d-t$tid.json"
  private[sources] def finalBatchName(tag: String, pid: Int): String =
    f"part-$tag-p$pid%05d.json"
  private[sources] def stagedStreamName(tag: String, epochId: Long, pid: Int,
                                        tid: Long): String =
    f"stream-$tag-e$epochId-p$pid%05d-t$tid.json"
  private[sources] def finalStreamName(epochId: Long, pid: Int): String =
    f"epoch-$epochId%06d-s$pid%05d.json"
  /** The epoch's deterministic namespace, swept before a (re)publish. */
  private[sources] def streamEpochPrefix(epochId: Long): String =
    f"epoch-$epochId%06d-s"
}

/** One staged NDJSON file (or none — empty partitions stage nothing).
  * `stats` carries the WRITE-TIME planning capture (refreshMeta
  * writes): the task folded the golden inference walker and the zone
  * walker over every line it rendered, so the commit can seed the
  * per-file planning cache and refresh the durable meta with ZERO
  * read-back — at ingest scale the post-write "walk the new files"
  * pass is a full second read of everything just written. */
private[sources] case class StagedNdjsonFile(name: String, partitionId: Int,
                                             rows: Long,
                                             stats: Option[JsonDocSource.FileResult] = None)
    extends WriterCommitMessage

private[sources] class JsonDocWriteBuilder(dir: String, whole: Boolean,
                                           info: LogicalWriteInfo)
    extends WriteBuilder with SupportsTruncate {
  private var overwrite = false
  override def truncate(): WriteBuilder = { overwrite = true; this }
  override def build(): Write = {
    // fail at planning, not mid-job
    require(!whole,
      "graftjson: writes to a whole=true table are unsupported — whole " +
        "mode is the one-file-one-document layout, owned by whoever " +
        "places the files")
    require(!dir.exists("*?[{".contains(_)),
      s"graftjson: cannot write to a glob path: $dir")
    val bad = JsonRowText.unsupported(info.schema(), "")
    require(bad.isEmpty,
      s"graftjson: schema has non-JSON-renderable fields: ${bad.mkString("; ")}")
    val clusterBy = Option(info.options.get(JsonDocWrite.ClusterByOption))
    clusterBy.foreach { c =>
      // top-level names validated here (fail at planning with the
      // schema in hand); dotted nested paths resolve in the engine's
      // own analyzer, which raises its own unresolved-column error.
      // Two comma-separated keys declare the Morton-curve ordering
      // (write-time Z-order) — resolvable only through [[GraftCatalog]]
      // (`df.writeTo("graft.`dir`")`), because the engine looks the
      // ordering function up in the relation's FunctionCatalog
      val keys = c.split(",").map(_.trim)
      require(keys.length <= 2,
        s"graftjson: clusterBy takes one key or two ('a,b' → Morton " +
          s"curve), got ${keys.length}: '$c'")
      keys.foreach(k =>
        require(k.contains('.') || info.schema().fieldNames.contains(k),
          s"graftjson: clusterBy column '$k' is not in the write schema " +
            s"(${info.schema().fieldNames.mkString(", ")})"))
    }
    new JsonDocWriteImpl(dir, info.schema(), info.queryId(), overwrite,
      Option(info.options.get(JsonDocWrite.RefreshMetaOption))
        .exists(_.toBoolean),
      clusterBy,
      Option(info.options.get(JsonDocWrite.ClusterTargetBytesOption))
        .map(_.toLong).getOrElse(0L),
      Option(info.options.get(JsonDocWrite.ClusterPartitionsOption))
        .map(_.toInt).getOrElse(0))
  }
}

private class JsonDocWriteImpl(dir: String, schema: StructType,
                               queryId: String, overwrite: Boolean,
                               refreshMeta: Boolean,
                               clusterBy: Option[String] = None,
                               clusterTargetBytes: Long = 0L,
                               clusterPartitions: Int = 0)
    extends Write
    with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {
  import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
  import org.apache.spark.sql.connector.expressions.{Expressions, NullOrdering, SortDirection, SortOrder}
  private def sortOrders: Array[SortOrder] = clusterBy.toArray.map { c =>
    val keys = c.split(",").map(_.trim)
    val sortExpr =
      if (keys.length == 2)
        // two keys → the Morton-curve ordering, named as a function
        // transform the engine resolves through the relation's
        // FunctionCatalog ([[GraftCatalog.MortonFunction]]): the range
        // exchange then partitions ON the curve, so every staged file
        // covers a tight z-range = a small rectangle of (a, b) space —
        // write-time Z-order, no recluster rewrite (VERDICT r13 #5)
        Expressions.apply(GraftCatalog.MortonName,
          Expressions.column(keys(0)), Expressions.column(keys(1)))
      else Expressions.column(c)
    Expressions.sort(sortExpr, SortDirection.ASCENDING,
      NullOrdering.NULLS_FIRST)
  }
  /** ORDERED distribution = a range exchange + in-partition sort
    * planned by the ENGINE: globally clustered output, each staged
    * file a tight non-overlapping key range (nulls — absent fields —
    * first). Unspecified when no clusterBy: an append must not pay a
    * shuffle it didn't ask for. */
  override def requiredDistribution(): Distribution =
    if (clusterBy.isEmpty) Distributions.unspecified()
    else Distributions.ordered(sortOrders)
  override def requiredOrdering(): Array[SortOrder] = sortOrders
  override def advisoryPartitionSizeInBytes(): Long = clusterTargetBytes
  override def requiredNumPartitions(): Int =
    if (clusterBy.isEmpty) 0 else clusterPartitions
  override def description(): String =
    s"graftjson write $dir (${if (overwrite) "overwrite" else "append"})" +
      clusterBy.fold("")(c => s" clustered by $c")
  override def toBatch: BatchWrite =
    new JsonDocBatchWrite(dir, schema, JsonDocWrite.runTag(queryId),
      overwrite, refreshMeta)
  override def toStreaming: StreamingWrite = {
    require(!overwrite,
      "graftjson: streaming supports append output mode only")
    new JsonDocStreamingWrite(dir, schema, JsonDocWrite.runTag(queryId),
      refreshMeta)
  }
}

private[sources] class JsonDocBatchWrite(dir: String, schema: StructType, tag: String,
                                overwrite: Boolean, refreshMeta: Boolean)
    extends BatchWrite {

  // held from staging start (factory creation, driver-side) through
  // commit/abort: a concurrent maintenance cycle would sweep our
  // not-yet-committed staged files as debris, so the lease must cover
  // the WHOLE write, not just the marker swap
  private var lease: Option[JsonLease.Handle] = None

  override def createBatchWriterFactory(info: PhysicalWriteInfo)
      : DataWriterFactory = {
    val root = new Path(dir)
    val lfs = root.getFileSystem(
      SparkSession.active.sparkContext.hadoopConfiguration)
    if (lease.isEmpty)
      lease = Some(JsonLease.acquire(lfs, root, "write"))
    val stage = new Path(dir, JsonCompact.MarkerDirName).toString
    val conf = graft.ops.Fs.broadcastConf(SparkSession.active)
    val s = schema
    val t = tag
    val doRefreshMeta = refreshMeta
    new DataWriterFactory {
      override def createWriter(partitionId: Int,
                                taskId: Long): DataWriter[InternalRow] =
        new NdjsonDataWriter(stage,
          JsonDocWrite.stagedBatchName(t, partitionId, taskId),
          partitionId, s, conf.value.value, capture = doRefreshMeta)
    }
  }

  /** The commit point: ONE atomically-renamed marker naming every
    * winning staged file's final name (and, under overwrite, every
    * current data file to remove), then an immediate roll-forward.
    * A crash before the marker leaves only invisible staging; after
    * it, readers already see the post-write rows ([[JsonDocSource
    * .listFiles]] applies pending markers). Losing speculative
    * attempts' staged files are swept afterwards, best-effort — they
    * are invisible debris either way. */
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
    // commit-point check: if a post-TTL takeover replaced our lease,
    // abort loudly instead of racing the usurper on the marker slot
    lease.foreach { l => l.touch(); l.verifyHeld() }
    // a pending marker from crashed maintenance owns the single marker
    // slot — roll it forward first (never touches our unreferenced
    // staged files)
    JsonCompact.rollForward(spark, dir)
    val staged = messages.collect {
      case s: StagedNdjsonFile if s.rows > 0 => s
    }.sortBy(_.partitionId)
    val adds = staged.map(s =>
      s.name -> JsonDocWrite.finalBatchName(tag, s.partitionId)).toSeq
    val removes: Seq[String] =
      if (!overwrite) Seq.empty
      else {
        val children =
          try fs.listStatus(root).toSeq
          catch { case _: java.io.FileNotFoundException => Seq.empty }
        val nestedData = children.exists(st => st.isDirectory && {
          val n = st.getPath.getName
          !n.startsWith("_") && !n.startsWith(".")
        })
        if (nestedData) throw new IllegalStateException(
          s"graftjson: overwrite of $dir is unsupported — it has nested " +
            "data directories, and the commit marker is per-directory")
        children.filter(st => st.isFile && {
          val n = st.getPath.getName
          !n.startsWith("_") && !n.startsWith(".")
        }).map(_.getPath.getName)
      }
    if (adds.nonEmpty || removes.nonEmpty) {
      JsonCompact.writeMarker(fs, root, JsonCompact.Marker(adds, removes))
      JsonCompact.rollForward(spark, dir)
    }
    // sweep losing attempts' staging (ours only — prefix-matched)
    sweepStage(fs, root, n => n.startsWith(s"write-$tag-"))
    if (refreshMeta) {
      // seed the per-file planning cache with the tasks' write-time
      // captures under the PUBLISHED fingerprint (rename preserves
      // bytes; the stat is the authoritative (len, mtime) any later
      // listing sees) — the save below then refreshes the durable
      // meta without re-reading one byte of what was just written
      staged.foreach(s => s.stats.foreach { r =>
        val st = fs.getFileStatus(
          new Path(root, JsonDocWrite.finalBatchName(tag, s.partitionId)))
        JsonDocSource.seedFileCache(JsonDocSource.FileKey(
          st.getPath.toString, st.getLen, st.getModificationTime,
          whole = false), r)
      })
      lease match {
        case Some(h) => JsonMeta.saveWith(spark, dir, None, h)
        case None => JsonMeta.save(spark, dir)
      }
    }
    } finally { lease.foreach(_.release()); lease = None }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    try sweepStage(fs, root, n => n.startsWith(s"write-$tag-"))
    finally { lease.foreach(_.release()); lease = None }
  }

  private def sweepStage(fs: org.apache.hadoop.fs.FileSystem, root: Path,
                         mine: String => Boolean): Unit = {
    val stage = new Path(root, JsonCompact.MarkerDirName)
    try
      Option(fs.listStatus(stage)).getOrElse(Array.empty)
        .filter(st => st.isFile && mine(st.getPath.getName))
        .foreach(st => fs.delete(st.getPath, false))
    catch { case _: java.io.FileNotFoundException => }
  }
}

/** Streaming sink: per-epoch deterministic publication — the
  * [[graft.streaming.EventStreams.ingestEpoch]] contract as a native
  * DSv2 StreamingWrite. No marker: a replayed epoch reconciles the
  * files its previous attempt published (keep identical bytes, replace
  * differing ones, sweep stale sibling names); any crash point
  * converges on replay because the epoch owns its whole namespace. The
  * partial-visibility window between first rename and last is the
  * documented ingestEpoch window, accepted for streaming (batch
  * writes, which users point queries at mid-job, keep the stricter
  * marker atomicity). */
private[sources] class JsonDocStreamingWrite(dir: String, schema: StructType,
                                    tag: String, refreshMeta: Boolean)
    extends StreamingWrite {

  override def createStreamingWriterFactory(info: PhysicalWriteInfo)
      : StreamingDataWriterFactory = {
    val stage = new Path(dir, JsonCompact.MarkerDirName).toString
    val conf = graft.ops.Fs.broadcastConf(SparkSession.active)
    val s = schema
    val t = tag
    val doRefreshMeta = refreshMeta
    new StreamingDataWriterFactory {
      override def createWriter(partitionId: Int, taskId: Long,
                                epochId: Long): DataWriter[InternalRow] =
        new NdjsonDataWriter(stage,
          JsonDocWrite.stagedStreamName(t, epochId, partitionId, taskId),
          partitionId, s, conf.value.value, capture = doRefreshMeta)
    }
  }

  override def commit(epochId: Long,
                      messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stage = new Path(root, JsonCompact.MarkerDirName)
    // per-epoch lease: the sweep-then-rename publish below mutates the
    // table namespace — a concurrent maintenance cycle fails loudly
    // instead of interleaving. Commit-scoped (not query-lifetime) so a
    // stopped stream never wedges the table until TTL.
    // retrySameLabel: a crashed commit of THIS epoch must not wedge
    // the restarted stream for the TTL — the deterministic-replay
    // contract makes the serial retry idempotent (review r13). The
    // label carries the write's tag (the STABLE streaming query id —
    // MicroBatchExecution passes `id`, not `runId`, persisted in the
    // checkpoint) so only a true serial retry of THIS query matches:
    // two distinct streams writing one table both starting at epoch 0
    // must conflict loudly, not usurp each other's live lease
    // (ADVICE r13)
    JsonLease.withLease(fs, root, s"stream-epoch-$tag-$epochId",
      retrySameLabel = true) { h =>
    // two claimants can both survive a stale-lease takeover race in
    // acquire (delete/create interleaving) — re-read the slot before
    // the first namespace mutation so exactly one proceeds (ADVICE r13)
    h.verifyHeld()
    // replay reconcile: this epoch's namespace belongs to this commit.
    // Files a crashed previous attempt published under names this
    // attempt will NOT rewrite go first (partitioning drift across
    // restarts cannot strand stale files); names it WILL rewrite are
    // kept when their bytes already match — a content-identical replay
    // must not bump the published file's mtime, or every historical
    // save fingerprinting it loses its as-of point (VERDICT r13 #2)
    val prefix = JsonDocWrite.streamEpochPrefix(epochId)
    val staged = messages.collect { case s: StagedNdjsonFile if s.rows > 0 => s }
    val targetNames = staged.map(s =>
      JsonDocWrite.finalStreamName(epochId, s.partitionId)).toSet
    try
      Option(fs.listStatus(root)).getOrElse(Array.empty)
        .filter(st => st.isFile && st.getPath.getName.startsWith(prefix) &&
          !targetNames.contains(st.getPath.getName))
        .foreach(st => fs.delete(st.getPath, false))
    catch { case _: java.io.FileNotFoundException => }
    staged.foreach { s =>
        val sp = new Path(stage, s.name)
        val fin = new Path(root, JsonDocWrite.finalStreamName(epochId, s.partitionId))
        val existing =
          try Some(fs.getFileStatus(fin))
          catch { case _: java.io.FileNotFoundException => None }
        val identical = existing.exists(_.getLen == fs.getFileStatus(sp).getLen) &&
          graft.ops.Fs.sameBytes(fs, sp, fin)
        if (identical) fs.delete(sp, false)
        else {
          existing.foreach(_ => fs.delete(fin, false))
          if (!fs.rename(sp, fin))
            throw new IllegalStateException(s"could not publish $fin")
        }
        // write-time planning capture → cache, under the published
        // fingerprint (the batch-commit contract): the epoch's meta
        // refresh below reads nothing back
        s.stats.foreach { r =>
          val st = fs.getFileStatus(fin)
          JsonDocSource.seedFileCache(JsonDocSource.FileKey(
            st.getPath.toString, st.getLen, st.getModificationTime,
            whole = false), r)
        }
      }
    // losing attempts of THIS epoch (same tag+epoch prefix, different
    // task id) are invisible staging debris — sweep
    try
      Option(fs.listStatus(stage)).getOrElse(Array.empty)
        .filter(st => st.isFile &&
          st.getPath.getName.startsWith(s"stream-$tag-e$epochId-"))
        .foreach(st => fs.delete(st.getPath, false))
    catch { case _: java.io.FileNotFoundException => }
    if (refreshMeta) {
      // heartbeat + re-check before the meta commit: the rename loop
      // above can outlast the TTL on a wide epoch (ADVICE r13)
      h.touch(); h.verifyHeld()
      JsonMeta.saveWith(spark, dir, None, h)
    }
    }
  }

  override def abort(epochId: Long,
                     messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val stage = new Path(new Path(dir), JsonCompact.MarkerDirName)
    val fs = stage.getFileSystem(spark.sparkContext.hadoopConfiguration)
    try
      Option(fs.listStatus(stage)).getOrElse(Array.empty)
        .filter(st => st.isFile &&
          st.getPath.getName.startsWith(s"stream-$tag-e$epochId-"))
        .foreach(st => fs.delete(st.getPath, false))
    catch { case _: java.io.FileNotFoundException => }
  }
}

/** One task attempt's staged NDJSON file: rows stream through one
  * Jackson generator straight into the (buffered) Hadoop output —
  * memory is the 64 KB buffer, independent of row count. The file is
  * created lazily on the first row, so empty partitions stage
  * nothing.
  *
  * With `capture=true` (refreshMeta writes) each row renders through a
  * small per-row buffer instead, and the EXACT rendered line — the
  * same string a read-back walk would decode, since rename publishes
  * the staged bytes verbatim and Jackson escapes every embedded
  * newline — folds through the golden inference walker
  * ([[graft.infer.JsonInfer.inferDocCount]]) and the zone walker
  * ([[ZoneStats.walkUnit]]), producing this file's planning entry
  * byte-identically to the walk the next load would otherwise pay.
  * Costs two in-memory parses per row; saves re-READING the whole
  * write afterwards. */
private[sources] class NdjsonDataWriter(stageDir: String, name: String,
                                        partitionId: Int, schema: StructType,
                                        conf: Configuration,
                                        capture: Boolean = false)
    extends DataWriter[InternalRow] {

  private var out: java.io.OutputStream = _
  private var gen: JsonGenerator = _
  private var rows = 0L
  // write-time planning capture (only when capture) — exactly
  // InferFileAgg.reduce + ZoneFileAgg.reduce over the rendered lines
  private var lineBuf: java.io.ByteArrayOutputStream = _
  private var ht: graft.types.HType = graft.types.HNull
  private var docs = 0L
  private var zone: ZoneStats.FileZone = ZoneStats.emptyFile

  private def ensureOpen(): Unit = if (out == null) {
    val p = new Path(stageDir, name)
    val fs = p.getFileSystem(conf)
    out = new java.io.BufferedOutputStream(fs.create(p, true), 1 << 16)
    if (capture) {
      lineBuf = new java.io.ByteArrayOutputStream(8192)
      gen = JsonRowText.newGenerator(lineBuf)
    } else gen = JsonRowText.newGenerator(out)
  }

  override def write(record: InternalRow): Unit = {
    ensureOpen()
    JsonRowText.writeObject(gen, record, schema)
    if (capture) {
      gen.flush()
      val bytes = lineBuf.toByteArray
      lineBuf.reset()
      // the fold sees the line WITHOUT its newline, exactly like the
      // read-back line reader
      val line = new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
      val (t, n) = graft.infer.JsonInfer.inferDocCount(line)
      ht = graft.types.HType.merge(ht, t)
      docs += n
      zone = ZoneStats.walkUnit(line, zone.copy(units = zone.units + 1))
      out.write(bytes)
      out.write('\n')
    } else gen.writeRaw('\n')
    rows += 1
  }

  override def commit(): WriterCommitMessage = {
    if (out != null) { gen.flush(); out.close(); out = null }
    StagedNdjsonFile(name, partitionId, rows,
      if (capture && rows > 0)
        // same finish-time set-budget trim as ZoneFileAgg — the
        // capture must stay byte-identical to a read-back walk
        Some(JsonDocSource.FileResult(ht, docs,
          Some(ZoneStats.trimFile(zone))))
      else None)
  }

  override def abort(): Unit = {
    close()
    val p = new Path(stageDir, name)
    val fs = p.getFileSystem(conf)
    if (fs.exists(p)) fs.delete(p, false)
  }

  override def close(): Unit =
    if (out != null) {
      try { gen.flush(); out.close() } finally { out = null }
    }
}

/** InternalRow → NDJSON rendering, designed to ROUND-TRIP through the
  * reference classifier ([[graft.infer.JsonInfer]]) and materializer
  * ([[graft.infer.Materialize]]):
  *   - integral → plain digits (re-infers value-bucketed integral);
  *   - decimal → `toPlainString` (re-infers decimal, value exact);
  *   - float/double → shortest round-trip text; NaN/±Infinity as
  *     quoted strings (JSON has no tokens for them) — re-inferred
  *     types follow the classifier's value buckets, the parsed value
  *     is the text's exact decimal reading;
  *   - string → JSON string (escaped); note the classifier's own
  *     rules re-type hex-pair-shaped and timestamp-shaped strings;
  *   - boolean → true/false;
  *   - binary → lowercase hex pairs (the classifier's Binary shape —
  *     [[graft.infer.Materialize]] converts it back to the same
  *     bytes);
  *   - timestamp → `yyyy-MM-dd HH:mm:ss` in the JVM default zone,
  *     because `Materialize.parseTimestamp` reads wall time in the
  *     default zone and ignores zone suffixes — second precision
  *     (sub-second micros truncate; the reference's pattern has no
  *     fraction field);
  *   - date → ISO `yyyy-MM-dd` (re-infers as string — the reference
  *     has no date class);
  *   - struct → object with NULL FIELDS OMITTED (explicit-null and
  *     missing infer identically, and omission is what every NDJSON
  *     producer does); array → array with nulls kept (positions
  *     matter); map → object (re-infers as struct — the reference has
  *     no map type).
  * Unsupported: intervals, UDTs, variant, non-atomic map keys —
  * rejected at planning by [[unsupported]]. */
private[sources] object JsonRowText {

  private val factory = new JsonFactory()

  def newGenerator(out: java.io.OutputStream): JsonGenerator = {
    val g = factory.createGenerator(out)
    g.configure(JsonGenerator.Feature.AUTO_CLOSE_TARGET, false)
    // the '\n' each row appends IS the separator; Jackson's default
    // would prepend a space to every root value after the first
    g.setRootValueSeparator(null)
    g
  }

  private val tsFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")

  /** Schema fields JSON cannot render (dotted paths), empty = ok. */
  def unsupported(dt: DataType, path: String): Seq[String] = dt match {
    case ByteType | ShortType | IntegerType | LongType | FloatType |
         DoubleType | StringType | BooleanType | BinaryType | DateType |
         TimestampType | TimestampNTZType | NullType => Seq.empty
    case _: DecimalType => Seq.empty
    case ArrayType(e, _) => unsupported(e, s"$path.element")
    case StructType(fs) =>
      fs.toSeq.flatMap(f => unsupported(f.dataType, s"$path.${f.name}"))
    case MapType(k, v, _) =>
      (k match {
        case StringType | ByteType | ShortType | IntegerType | LongType |
             BooleanType => Seq.empty
        case other => Seq(s"$path: map key type ${other.simpleString}")
      }) ++ unsupported(v, s"$path.value")
    case other => Seq(s"$path: ${other.simpleString}")
  }

  /** One row → one JSON object (null fields omitted). */
  def writeObject(gen: JsonGenerator, row: InternalRow,
                  schema: StructType): Unit = {
    gen.writeStartObject()
    var i = 0
    val fields = schema.fields
    while (i < fields.length) {
      if (!row.isNullAt(i)) {
        gen.writeFieldName(fields(i).name)
        writeValue(gen, row, i, fields(i).dataType)
      }
      i += 1
    }
    gen.writeEndObject()
  }

  private def writeValue(gen: JsonGenerator, g: SpecializedGetters, i: Int,
                         dt: DataType): Unit = dt match {
    case NullType => gen.writeNull()
    case BooleanType => gen.writeBoolean(g.getBoolean(i))
    case ByteType => gen.writeNumber(g.getByte(i).toInt)
    case ShortType => gen.writeNumber(g.getShort(i).toInt)
    case IntegerType => gen.writeNumber(g.getInt(i))
    case LongType => gen.writeNumber(g.getLong(i))
    case FloatType =>
      val v = g.getFloat(i)
      if (java.lang.Float.isNaN(v) || java.lang.Float.isInfinite(v))
        gen.writeString(v.toString)
      else gen.writeNumber(v)
    case DoubleType =>
      val v = g.getDouble(i)
      if (java.lang.Double.isNaN(v) || java.lang.Double.isInfinite(v))
        gen.writeString(v.toString)
      else gen.writeNumber(v)
    case d: DecimalType =>
      gen.writeNumber(
        g.getDecimal(i, d.precision, d.scale).toJavaBigDecimal.toPlainString)
    case StringType => gen.writeString(g.getUTF8String(i).toString)
    case BinaryType =>
      val bytes = g.getBinary(i)
      val sb = new java.lang.StringBuilder(bytes.length * 2)
      var j = 0
      while (j < bytes.length) {
        val b = bytes(j) & 0xff
        sb.append(Character.forDigit(b >> 4, 16))
        sb.append(Character.forDigit(b & 0xf, 16))
        j += 1
      }
      gen.writeString(sb.toString)
    case DateType =>
      gen.writeString(LocalDate.ofEpochDay(g.getInt(i).toLong).toString)
    case TimestampType =>
      // wall time in the JVM default zone: parseTimestamp reads the
      // rendered text via Timestamp.valueOf (default-zone wall time,
      // zone suffix ignored — the reference pattern has no zone
      // field), so this is the rendering that round-trips the
      // instant whenever the wall time is unambiguous. DOCUMENTED
      // DIVERGENCE: in a DST fall-back overlap hour the later
      // offset's instants have NO wall-time text Timestamp.valueOf
      // maps back to them (it resolves ambiguity to the earlier
      // offset), so those rows read back one hour off under a
      // DST-observing JVM zone; run pipelines in UTC (this engine's
      // own sessions do) for exact round-trips
      val inst = org.apache.spark.sql.catalyst.util.DateTimeUtils
        .microsToInstant(g.getLong(i))
      gen.writeString(tsFmt.format(
        LocalDateTime.ofInstant(inst, ZoneId.systemDefault())))
    case TimestampNTZType =>
      val micros = g.getLong(i)
      val secs = Math.floorDiv(micros, 1000000L)
      gen.writeString(tsFmt.format(
        LocalDateTime.ofEpochSecond(secs, 0, ZoneOffset.UTC)))
    case ArrayType(et, _) =>
      val arr = g.getArray(i)
      gen.writeStartArray()
      var j = 0
      while (j < arr.numElements()) {
        if (arr.isNullAt(j)) gen.writeNull()
        else writeValue(gen, arr, j, et)
        j += 1
      }
      gen.writeEndArray()
    case st: StructType =>
      writeObject(gen, g.getStruct(i, st.length), st)
    case MapType(kt, vt, _) =>
      val m = g.getMap(i)
      val ks = m.keyArray()
      val vs = m.valueArray()
      gen.writeStartObject()
      var j = 0
      while (j < m.numElements()) {
        gen.writeFieldName(keyText(ks, j, kt))
        if (vs.isNullAt(j)) gen.writeNull()
        else writeValue(gen, vs, j, vt)
        j += 1
      }
      gen.writeEndObject()
    case other =>
      throw new UnsupportedOperationException(
        s"graftjson: cannot render ${other.simpleString}")
  }

  private def keyText(ks: org.apache.spark.sql.catalyst.util.ArrayData,
                      j: Int, kt: DataType): String = kt match {
    case StringType => ks.getUTF8String(j).toString
    case ByteType => ks.getByte(j).toString
    case ShortType => ks.getShort(j).toString
    case IntegerType => ks.getInt(j).toString
    case LongType => ks.getLong(j).toString
    case BooleanType => ks.getBoolean(j).toString
    case other =>
      throw new UnsupportedOperationException(
        s"graftjson: map key type ${other.simpleString}")
  }
}
