package graft.sources

import graft.infer.{InferSchema, Materialize}
import graft.types.{HNull, HType}
import org.apache.spark.sql.SparkSession
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.GenericRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.Row

import java.util
import scala.jdk.CollectionConverters._

/** `spark.read.format("graftjson")` — the reference's schema-inference
  * semantics packaged as a native DataSource V2 table, the missing
  * end-user surface of the infer → materialize loop (reference
  * `JsonSchemaFinder` discovers the shape offline and PRINTS it; here
  * the discovered shape IS the table schema and the documents
  * materialize as typed rows, union fields included — `from_json`
  * cannot do that, SURVEY §1.4).
  *
  * Planning: one distributed inference pass over the files (the CLI's
  * [[graft.infer.InferSchemaCountAgg]] aggregation — tiny partial
  * schemas, one combine; the HType result is KBs and rides into every
  * read task). Execution: plain Hadoop reads (`.gz` via the codec
  * factory) feeding [[graft.infer.Materialize.docToRow]] — the SAME
  * conversion the materialize operator runs, so source and operator
  * cannot drift.
  *
  * Partitioning: NDJSON files SPLIT by byte range (the standard
  * text-source rule — a split whose start is mid-line skips forward to
  * the next line boundary, and every split reads one line past its
  * end, so each line lands in exactly one split), sized by
  * `spark.sql.files.maxPartitionBytes` or the `maxSplitBytes` option —
  * a single 100 GB NDJSON file fans out across the cluster instead of
  * serializing through one core. `.gz` (stream-codec, not seekable)
  * and `whole=true` (the file IS the record) are inherently
  * unsplittable and stay one partition per file.
  *
  * Column pruning is REAL pushdown ([[SupportsPushDownRequiredColumns]]):
  * a pruned scan converts only the requested top-level fields and
  * ships exactly the pruned row width (the parser still walks each
  * document once — the format is row-major text; skipping bytes
  * within a doc is a storage-format property JSON does not have).
  *
  * Options: `whole=true` reads each FILE as one document unit (the
  * CLI's `--whole` parity mode — the file's Reader streams straight
  * into Jackson, so memory is bounded by the parsed document tree,
  * not the file's text length); `maxSplitBytes=N` overrides the
  * session's split size; `refresh=true` bypasses the planning-time
  * inference cache for this load (same-length same-mtime rewrites are
  * invisible to the fingerprint on coarse-mtime filesystems);
  * `zonemaps=true` piggybacks per-file min/max/presence statistics of
  * the top-level fields on the SAME planning job, letting the scan
  * skip whole files whose zone provably excludes a pushed predicate
  * ([[ZoneStats]] — parquet's row-group-stats idea at file
  * granularity; off by default because the stats walk re-parses each
  * unit and holds O(files × fields) state).
  *
  * Caveat shared with every self-describing text source (CSV/JSON
  * with inferSchema): planning runs a Spark job over the data. Reuse
  * the table handle rather than re-`load`ing per query, or persist
  * the materialized frame. */
class JsonDocSource extends TableProvider with DataSourceRegister {

  override def shortName(): String = "graftjson"

  // accepted so a caller can round-trip .schema(df.schema) — but the
  // table build still verifies it IS the inferred schema (getTable)
  override def supportsExternalMetadata(): Boolean = true

  private def paths(options: CaseInsensitiveStringMap): Seq[String] = {
    val multi = Option(options.get("paths")).map { js =>
      // DataFrameReader.load(paths: _*) encodes the list as a JSON
      // array of strings
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      mapper.readTree(js).elements().asScala.map(_.asText()).toSeq
    }.getOrElse(Seq.empty)
    val single = Option(options.get("path")).toSeq
    val all = (multi ++ single).distinct
    require(all.nonEmpty, "graftjson: no path given (use .load(path))")
    all
  }

  // per-PROVIDER memo: DataFrameReader.load instantiates one provider
  // and calls inferSchema then getTable on it — without this, a
  // refresh=true load would re-run the inference job once per call
  // (refresh bypasses the JVM-wide cache by design); with it, refresh
  // means exactly ONE fresh inference per .load()
  private var memo: Option[(Seq[String], Boolean, Boolean, Option[String],
    (HType, Option[ZoneStats.ZoneMap], Seq[(String, Long, Long)]))] = None

  private def asOfOf(options: CaseInsensitiveStringMap): Option[Long] =
    Option(options.get("asOfSave")).map(_.toLong)

  private def sinceOf(options: CaseInsensitiveStringMap): Option[Long] =
    Option(options.get("sinceSave")).map(_.toLong)

  /** `cdcDeletes=true` (streaming change feed, r16): widen the output
    * with explicit `_file` + `_change_type` DATA columns so per-save
    * file REMOVALS can ride the stream as retraction rows. Explicit
    * columns, not metadata columns: the micro-batch path appends the
    * single offered metadata column unconditionally (it never sees
    * pruneColumns), a trick that is only positionally sound for ONE
    * column — two optional trailing fields would let a plan referencing
    * just `_change_type` silently bind `_file`'s values. */
  private def cdcDeletesOf(options: CaseInsensitiveStringMap): Boolean =
    options.getBoolean("cdcDeletes", false)

  /** `dirPartitions=true` (r17): read the table as a Hive-style
    * single-level partition tree — `<col>=<value>/` child directories
    * carry a derived partition column, and predicates on it prune the
    * LISTING before any file is statted ([[DirPartitions]]). */
  private def dirPartitionsOf(options: CaseInsensitiveStringMap): Boolean =
    options.getBoolean("dirPartitions", false)

  // one listStatus per .load(), like the inference memo
  private var partMemo: Option[(String, DirPartitions.Spec)] = None
  private def partSpecOf(options: CaseInsensitiveStringMap)
      : Option[DirPartitions.Spec] =
    if (!dirPartitionsOf(options)) None
    else {
      val ps = paths(options)
      require(ps.size == 1,
        "graftjson: dirPartitions needs exactly one table directory")
      require(!options.getBoolean("whole", false),
        "graftjson: dirPartitions does not support whole=true")
      require(snapshotOf(options).isEmpty,
        "graftjson: dirPartitions is incompatible with asOfSave/" +
          "sinceSave — time travel resolves a flat durable listing")
      require(!cdcDeletesOf(options),
        "graftjson: dirPartitions is incompatible with cdcDeletes")
      partMemo match {
        case Some((d, s)) if d == ps.head => Some(s)
        case _ =>
          val s = DirPartitions.derive(SparkSession.active, ps.head)
          partMemo = Some((ps.head, s))
          Some(s)
      }
    }

  /** The PINNED-snapshot label when either history option is set —
    * drives the read-only/unstreamable guards and the scan reading its
    * resolved population instead of the live listing. */
  private def snapshotOf(options: CaseInsensitiveStringMap): Option[String] =
    (asOfOf(options), sinceOf(options)) match {
      case (Some(_), Some(_)) => throw new IllegalArgumentException(
        "graftjson: asOfSave and sinceSave are mutually exclusive")
      case (Some(a), None) => Some(s"asOfSave $a")
      case (None, Some(sv)) => Some(s"sinceSave $sv")
      case _ => None
    }

  private def inferBoth(options: CaseInsensitiveStringMap)
      : (HType, Option[ZoneStats.ZoneMap], Seq[(String, Long, Long)]) = {
    val ps = paths(options)
    val whole = options.getBoolean("whole", false)
    val zonemaps = options.getBoolean("zonemaps", false)
    val snap = snapshotOf(options)
    // TIME TRAVEL / CHANGE FEED: the listing comes from the meta
    // manifest's history fold, not the live directory
    // ([[JsonMeta.asOfListing]]/[[JsonMeta.sinceListing]] — fail
    // loudly when the save is compacted away or its bytes are gone)
    snap.foreach { _ =>
      require(!whole, "graftjson: asOfSave/sinceSave do not support " +
        "whole=true (durable planning metadata covers NDJSON tables only)")
      require(ps.size == 1,
        "graftjson: asOfSave/sinceSave need exactly one table directory")
    }
    memo match {
      case Some((mp, mw, mz, ma, r)) if mp == ps && mw == whole &&
        mz == zonemaps && ma == snap =>
        r
      case _ =>
        val pre = asOfOf(options).map(n =>
            JsonMeta.asOfListing(SparkSession.active, ps.head, n))
          .orElse(sinceOf(options).map(n =>
            JsonMeta.sinceListing(SparkSession.active, ps.head, n)))
        val r = JsonDocSource.inferCached(ps, whole,
          options.getBoolean("refresh", false), zonemaps, preListed = pre)
        memo = Some((ps, whole, zonemaps, snap, r))
        r
    }
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    // the option-combination guards in partSpecOf fire FIRST — their
    // named messages beat whatever inference would trip over
    val partSpec = partSpecOf(options)
    val s0 = JsonDocSource.sparkSchemaOf(inferBoth(options)._1)
    val s = partSpec match {
      case Some(spec) =>
        JsonDocSource.requirePartColFree(s0, spec)
        StructType(s0.fields :+ spec.field)
      case None => s0
    }
    if (cdcDeletesOf(options)) JsonDocSource.widenCdc(s, options) else s
  }

  override def getTable(schema: StructType,
                        partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = {
    val options = new CaseInsensitiveStringMap(properties)
    val whole = options.getBoolean("whole", false)
    val ps = paths(options)
    // WRITE flow: DataFrameWriter/DataStreamWriter hand external-
    // metadata providers the WRITE QUERY's schema directly (no
    // inferSchema call), possibly against a directory that does not
    // exist yet — inference failing with not-found, or the given
    // schema differing from the inferred one, yields a WRITE-ONLY
    // table (NDJSON is schema-on-read: appended rows render under the
    // writer's schema; the next load re-infers). Reads keep their
    // strictness: a scan on a mismatched table throws the same
    // message the old require raised.
    val inferredOpt =
      try {
        // combination guards first (see inferSchema)
        val partSpec = partSpecOf(options)
        Some((inferBoth(options), partSpec))
      }
      catch { case _: java.io.FileNotFoundException => None }
    val cdc = cdcDeletesOf(options)
    inferredOpt match {
      case Some(((t, zones, fingerprint), partSpec)) =>
        val inferred0 = JsonDocSource.sparkSchemaOf(t)
        partSpec.foreach(JsonDocSource.requirePartColFree(inferred0, _))
        val inferred1 = partSpec.fold(inferred0)(s =>
          StructType(inferred0.fields :+ s.field))
        val inferred =
          if (cdc) JsonDocSource.widenCdc(inferred1, options) else inferred1
        if (schema == inferred)
          new JsonDocTable(ps, whole, t, inferred, zones, fingerprint,
            readError = None, snapshot = snapshotOf(options),
            cdcDeletes = cdc, dirPart = partSpec)
        else
          // a user-supplied READ schema must BE the inferred one: the
          // reader converts through the HType tree (unions and all),
          // and a StructType cannot be mapped back to an HType
          // unambiguously
          new JsonDocTable(ps, whole, t, schema, zones, fingerprint,
            readError = Some(
              s"graftjson: user schema must match the inferred schema\n" +
                s"  given:    ${schema.simpleString}\n" +
                s"  inferred: ${inferred.simpleString}"),
            snapshot = snapshotOf(options), cdcDeletes = cdc,
            dirPart = partSpec)
      case None =>
        // a dirPartitions READ of a missing tree must fail loudly here
        // (the write-only fallback below exists for the write flow,
        // and dirPartitions tables reject writes)
        require(!dirPartitionsOf(options),
          s"graftjson: path not found: ${ps.mkString(", ")} " +
            "(dirPartitions is read-side only — the partition tree " +
            "must already exist)")
        new JsonDocTable(ps, whole, HNull, schema, None, Seq.empty,
          readError = Some(
            s"graftjson: path not found: ${ps.mkString(", ")}"),
          snapshot = snapshotOf(options), cdcDeletes = cdc)
    }
  }
}

private[graft] object JsonDocSource {

  /** PER-FILE planning cache: (path, length, mtime, whole) → this
    * file's merged HType, doc count, and (when walked) zone. The file
    * grain makes planning INCREMENTAL — a load over N files re-reads
    * only the files whose fingerprint changed since any previous
    * load, because the schema lattice assembles from per-file results
    * exactly as from a monolithic fold (associative + commutative
    * join, canonical union order applied at the end — the same
    * property that makes the distributed aggregation correct).
    * Appending one file to a 100k-file table costs one file's read,
    * not a corpus pass. Bounded LRU (4096 files, KBs each); the
    * staleness contract is unchanged: the fingerprint is as sharp as
    * the store's mtime granularity, `refresh=true` re-walks
    * everything. */
  private[sources] case class FileKey(path: String, len: Long, mtime: Long,
                                      whole: Boolean)
  private[sources] case class FileResult(t: HType, docs: Long,
                                         zone: Option[ZoneStats.FileZone])
  private val fileCache =
    new java.util.LinkedHashMap[FileKey, FileResult](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[FileKey, FileResult]): Boolean =
        size() > 4096
    }
  /** Test-visible count of actual inference JOBS run (not cache hits). */
  private[graft] val inferenceRuns = new java.util.concurrent.atomic.AtomicLong
  /** Test-visible count of FILES actually walked by inference jobs. */
  private[graft] val filesWalked = new java.util.concurrent.atomic.AtomicLong
  /** Test-visible count of files excluded by zone-map skipping. */
  private[sources] val zoneSkippedFiles = new java.util.concurrent.atomic.AtomicLong
  /** Test-visible count of [[listFiles]] walks (pins the one-listing-
    * per-maintenance-cycle contract of compact(refreshMeta=true)). */
  private[sources] val listingRuns = new java.util.concurrent.atomic.AtomicLong

  /** Drop every cached inference result (test hook + the JVM-lifetime
    * remedy for fingerprint-invisible rewrites). */
  def clearInferCache(): Unit = fileCache.synchronized { fileCache.clear() }

  /** Insert a WRITE-TIME planning capture ([[graft.sources
    * .JsonDocWrite]] refreshMeta commits): the writer folded the same
    * walkers over the exact lines it rendered, so the entry is
    * byte-identical to what a read-back walk would compute BELOW the
    * per-file path cap (past [[ZoneStats.MaxPathsPerFile]] the kept
    * path SUBSET depends on fold order — the sequential capture and a
    * split walk's buffer merges may retain different sound subsets;
    * both decline proofs on whatever they dropped, so answers never
    * differ) — the post-write meta refresh (and any same-JVM load)
    * then plans the new files without re-reading them. */
  private[sources] def seedFileCache(k: FileKey, r: FileResult): Unit =
    fileCache.synchronized { fileCache.put(k, r) }

  private[sources] def inferCached(ps: Seq[String], whole: Boolean,
                                   refresh: Boolean = false,
                                   zonemaps: Boolean = false,
                                   preListed: Option[Seq[(String, Long, Long)]] = None)
      : (HType, Option[ZoneStats.ZoneMap], Seq[(String, Long, Long)]) = {
    val (all, files) = inferPerFile(ps, whole, refresh, zonemaps, preListed)
    val t = all.foldLeft(HNull: HType) { case (acc, (_, r)) =>
      HType.merge(acc, r.t) }.canonical
    val zoneMap =
      if (!zonemaps) None
      else Some(all.flatMap { case (k, r) => r.zone.map(k.path -> _) }.toMap)
    (t, zoneMap, files)
  }

  /** The per-file planning core [[inferCached]] merges and
    * [[JsonMeta.save]] persists: every file's (fingerprint → HType,
    * doc count, zone) through the three cache layers (memory, durable
    * meta, walk). */
  private[sources] def inferPerFile(ps: Seq[String], whole: Boolean,
                                    refresh: Boolean = false,
                                    zonemaps: Boolean = false,
                                    preListed: Option[Seq[(String, Long, Long)]] = None)
      : (Seq[(FileKey, FileResult)], Seq[(String, Long, Long)]) = {
    val spark = SparkSession.active
    // listFiles already returns the (path, len, mtime) statuses — one
    // listing round-trip serves expansion AND the cache fingerprint.
    // A maintenance caller that just produced an equivalent listing
    // (compaction knows the post-swap population exactly) passes it
    // in, so one listing serves the whole maintenance cycle.
    val files = preListed.getOrElse(listFiles(spark, ps))
    val keys = files.map { case (p, l, m) => FileKey(p, l, m, whole) }
    // a cached entry serves a plain load; a zonemaps load needs the
    // zone too (HType-only entries re-walk — the walk carries both)
    val hits: Map[FileKey, FileResult] =
      if (refresh) Map.empty
      else fileCache.synchronized {
        keys.flatMap(k => Option(fileCache.get(k))
          .filter(r => !zonemaps || r.zone.isDefined)
          .map(k -> _)).toMap
      }
    val memMiss = keys.filterNot(hits.contains)
    // durable planning metadata (JsonMeta.save): per-file entries
    // fingerprinted exactly like the in-memory cache, so a FRESH JVM
    // pays only the diff since the last save — the catalog idea.
    // Saved entries always carry zones, so they serve both load
    // shapes; refresh=true bypasses this layer like the others.
    val durable: Map[FileKey, FileResult] =
      if (refresh || memMiss.isEmpty) Map.empty
      else JsonMeta.lookup(spark, ps, memMiss)
    val missKeys = memMiss.filterNot(durable.contains)
    val fresh: Map[FileKey, FileResult] =
      if (missKeys.isEmpty) Map.empty
      else {
        // the job reads ONLY the missing files — planning cost is
        // proportional to the DIFF since the last load, not the
        // table. The scan itself still partitions the full listing.
        val docs = graft.cli.CliSession.readDocs(
          spark, missKeys.map(_.path), whole,
          announceTo = new java.io.PrintStream(
            java.io.OutputStream.nullOutputStream()))
        import spark.implicits._
        val pairs = docs
          .withColumn("_f", org.apache.spark.sql.functions.input_file_name())
          .select(org.apache.spark.sql.functions.col("_f"),
            org.apache.spark.sql.functions.col("value"))
          .as[(String, String)]
        // per-file inference always; the zone walk rides the same job
        // only when asked (it re-parses each unit — the inference
        // walker is a golden-pinned parity surface, composing stats
        // into it would risk drift). SHARDED BY FILE: groupByKey plans
        // a partial+final aggregation whose buffers are per-file, so
        // no task holds more than its own files' planning state and
        // the driver collects one small row per file (the previous
        // whole-corpus map buffer + head() capped zonemaps at ~10^5
        // files). Keys are the RAW input_file_name rendering (zero
        // per-row work); normalization to the listing's rendering
        // happens once per collected row below.
        val (perFile, zm) =
          if (zonemaps) {
            val rows = perFileAggDs(pairs).collect()
            val pf = scala.collection.mutable.HashMap
              .empty[String, (HType, Long)]
            val z = scala.collection.mutable.HashMap
              .empty[String, ZoneStats.FileZone]
            rows.foreach { case (raw, (t, n), fz) =>
              val f = ZoneStats.normalizeFileName(raw)
              // two raw renderings of one file (defensive) merge like
              // the lattice everywhere else
              pf.get(f) match {
                case Some((t0, n0)) => pf(f) = (HType.merge(t0, t), n0 + n)
                case None => pf(f) = (t, n)
              }
              z.get(f) match {
                // defensive dual-rendering merge: re-trim so the
                // per-file set budget holds after the union too
                case Some(z0) => z(f) = ZoneStats.trimFile(z0.merge(fz))
                case None => z(f) = fz
              }
            }
            (pf.toMap, Some(z.toMap))
          } else {
            val rows = pairs.groupByKey(_._1)
              .agg(new InferFileAgg().toColumn).collect()
            val pf = scala.collection.mutable.HashMap
              .empty[String, (HType, Long)]
            rows.foreach { case (raw, (t, n)) =>
              val f = ZoneStats.normalizeFileName(raw)
              pf.get(f) match {
                case Some((t0, n0)) => pf(f) = (HType.merge(t0, t), n0 + n)
                case None => pf(f) = (t, n)
              }
            }
            (pf.toMap, None)
          }
        inferenceRuns.incrementAndGet()
        filesWalked.addAndGet(missKeys.size.toLong)
        // drift guard: every per-file key the job returned must be a
        // file we asked for. A key outside the request set means the
        // aggregators' file-name rendering diverged from the
        // listing's — in which case "absent ⇒ empty" below would
        // silently erase real files from the schema. Fail loudly.
        val asked = missKeys.map(_.path).toSet
        val strays = perFile.keySet.filterNot(asked)
        if (strays.nonEmpty) throw new IllegalStateException(
          s"graftjson: inference returned file names outside the " +
            s"requested set (rendering drift?): ${strays.take(3).mkString(", ")}")
        missKeys.map { k =>
          // a file the job produced no rows for is EMPTY (zero units)
          val (t, n) = perFile.getOrElse(k.path, (HNull: HType, 0L))
          k -> FileResult(t, n,
            zm.map(_.getOrElse(k.path, ZoneStats.emptyFile)))
        }.toMap
      }
    fileCache.synchronized {
      durable.foreach { case (k, r) => fileCache.put(k, r) }
      fresh.foreach { case (k, r) => fileCache.put(k, r) }
    }
    val all = keys.map(k =>
      k -> hits.getOrElse(k, durable.getOrElse(k, fresh(k))))
    (all, files)
  }

  /** The sharded planning aggregation (test-visible so its job shape
    * can be plan-pinned): group by raw file name, fold each group
    * through SINGLE-FILE buffers — partial aggregation map-side,
    * per-file buffers on the shuffle, one small output row per file. */
  private[sources] def perFileAggDs(
      pairs: org.apache.spark.sql.Dataset[(String, String)])
      : org.apache.spark.sql.Dataset[(String, (HType, Long), ZoneStats.FileZone)] =
    pairs.groupByKey(_._1)(org.apache.spark.sql.Encoders.STRING)
      .agg(new InferFileAgg().toColumn, new ZoneFileAgg().toColumn)

  def sparkSchemaOf(t: HType): StructType =
    Materialize.toMaterializableSparkType(t) match {
      case s: StructType => s
      case other => StructType(Seq(
        org.apache.spark.sql.types.StructField("value", other, nullable = true)))
    }

  /** The `_file` metadata column ([[JsonDocTable.metadataColumns]]). */
  private[sources] val FileColName = "_file"
  /** `cdcDeletes=true` companion column: "insert" on data rows,
    * "delete" on file-retraction rows (the Delta CDF name). */
  private[sources] val ChangeTypeColName = "_change_type"
  /** The two explicit CDC columns appended by `cdcDeletes=true`. */
  private[sources] def cdcFields: Seq[org.apache.spark.sql.types.StructField] =
    Seq(
      org.apache.spark.sql.types.StructField(FileColName,
        org.apache.spark.sql.types.StringType, nullable = false),
      org.apache.spark.sql.types.StructField(ChangeTypeColName,
        org.apache.spark.sql.types.StringType, nullable = false))
  /** Widen a data schema with the CDC columns, validating the option
    * combination loudly at planning time. */
  private[sources] def widenCdc(
      s: StructType,
      options: org.apache.spark.sql.util.CaseInsensitiveStringMap)
      : StructType = {
    require(!options.getBoolean("whole", false),
      "graftjson: cdcDeletes does not support whole=true (the change " +
        "feed resolves through NDJSON planning metadata)")
    cdcFields.foreach(f => require(!s.fieldNames.contains(f.name),
      s"graftjson: cdcDeletes needs the column name '${f.name}' free, " +
        "but the table's data carries a field of that name"))
    StructType(s.fields ++ cdcFields)
  }
  /** A derived partition column must not collide with a data field —
    * named like widenCdc's guard. */
  private[sources] def requirePartColFree(s: StructType,
                                          spec: DirPartitions.Spec): Unit =
    require(!s.fieldNames.contains(spec.col),
      s"graftjson: dirPartitions derives the column '${spec.col}' from " +
        "the directory names, but the table's data carries a field of " +
        "that name")

  private[sources] object FileMetadataColumn
      extends org.apache.spark.sql.connector.catalog.MetadataColumn {
    override def name(): String = FileColName
    override def dataType(): org.apache.spark.sql.types.DataType =
      org.apache.spark.sql.types.StringType
    override def isNullable: Boolean = false
    override def comment(): String =
      "absolute path of the file this row was read from"
  }

  /** Expand dirs (recursively) and globs to concrete data files
    * (non-hidden) as (path, length, mtime) — the statuses come free
    * with the listing, so the inference-cache fingerprint costs no
    * second FS pass. Nested directories are walked rather than
    * silently dropped: the scan reads whatever this returns, and
    * inference reads the same list (inferCached). */
  def listFiles(spark: SparkSession,
                ps: Seq[String]): Seq[(String, Long, Long)] = {
    listingRuns.incrementAndGet()
    val conf = spark.sparkContext.hadoopConfiguration
    def walk(fs: org.apache.hadoop.fs.FileSystem,
             st: org.apache.hadoop.fs.FileStatus,
             root: Boolean): Seq[org.apache.hadoop.fs.FileStatus] =
      if (st.isDirectory) {
        // hidden dirs (_temporary, .staging) pruned whole DURING the
        // recursion, like FileIndex — but never the directory the user
        // NAMED (a load("/data/_exports") must read its data, not
        // silently plan an empty table; review r11)
        val name = st.getPath.getName
        if (!root && (name.startsWith("_") || name.startsWith(".")))
          Seq.empty
        else {
          // reader-vs-maintenance concurrency: the children listing and
          // the marker read are not atomic, so a compact() cycle
          // progressing in between can leave a listing of already-
          // swapped originals. Snapshot the maintenance state (marker
          // content + staging-dir presence) BEFORE and AFTER the
          // listing; any difference means maintenance moved underneath
          // us — re-list once (single-writer maintenance: at most one
          // cycle can interleave, and a full cycle runs a Spark job, so
          // it cannot also fit inside the retry's microsecond gap). The
          // crash-point protocol needs no retry — only live concurrent
          // maintenance does.
          def maintState(): (Option[JsonCompact.Marker], Boolean) = (
            JsonCompact.readMarker(fs, st.getPath),
            fs.exists(new org.apache.hadoop.fs.Path(
              st.getPath, JsonCompact.MarkerDirName)))
          def listOnce(): (Seq[org.apache.hadoop.fs.FileStatus],
            (Option[JsonCompact.Marker], Boolean)) = {
            val before = maintState()
            val ch = fs.listStatus(st.getPath).toSeq
            val after = maintState()
            (ch, if (before == after) after else null)
          }
          val first = listOnce()
          val (children, marker) =
            if (first._2 != null) (first._1, first._2._1)
            else { val second = listOnce(); (second._1,
              if (second._2 != null) second._2._1
              else JsonCompact.readMarker(fs, st.getPath)) }
          val walked = children.flatMap(walk(fs, _, root = false))
          // a pending compaction marker commits a file swap the
          // maintenance call has not yet physically applied: hide the
          // replaced originals (immediate children only — nested dirs
          // have their own markers) and surface the staged merged
          // files so any crash point shows each row exactly once
          marker match {
            case None => walked
            case Some(m) =>
              val gone = m.removes.toSet
              val stage = new org.apache.hadoop.fs.Path(
                st.getPath, JsonCompact.MarkerDirName)
              val kept = walked.filterNot(s =>
                s.getPath.getParent == st.getPath && gone(s.getPath.getName))
              val staged = m.adds.flatMap { case (stagedName, fin) =>
                // after roll-forward's rename the final name is an
                // ordinary child (already in `walked`); before it,
                // read the staged bytes
                if (children.exists(_.getPath.getName == fin)) None
                else try Some(fs.getFileStatus(
                  new org.apache.hadoop.fs.Path(stage, stagedName)))
                catch {
                  // roll-forward renamed it between our listing and
                  // this stat — the final name holds the same bytes
                  case _: java.io.FileNotFoundException =>
                    Some(fs.getFileStatus(
                      new org.apache.hadoop.fs.Path(st.getPath, fin)))
                }
              }
              kept ++ staged
          }
        }
      } else Seq(st)
    ps.flatMap { p =>
      val path = new org.apache.hadoop.fs.Path(p)
      val fs = path.getFileSystem(conf)
      val matched = Option(fs.globStatus(path)).map(_.toSeq).getOrElse(Seq.empty)
      val expanded = if (matched.nonEmpty) matched else Seq(fs.getFileStatus(path))
      expanded.flatMap(walk(fs, _, root = true))
    }.filterNot { st =>
      val name = st.getPath.getName
      name.startsWith("_") || name.startsWith(".")
    }.map(st => (st.getPath.toString, st.getLen, st.getModificationTime))
      .sortBy(_._1)
  }
}

private class JsonDocTable(ps: Seq[String], whole: Boolean, t: HType,
                           schema: StructType,
                           zones: Option[ZoneStats.ZoneMap],
                           fingerprint: Seq[(String, Long, Long)],
                           readError: Option[String],
                           snapshot: Option[String] = None,
                           cdcDeletes: Boolean = false,
                           dirPart: Option[DirPartitions.Spec] = None)
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns {
  override def name(): String = s"graftjson(${ps.mkString(",")})"
  /** Row provenance (`_file`, r15): the absolute path of the NDJSON
    * file (or whole-mode document) each row was read from — the
    * lineage primitive a CDC/curation consumer joins epochs and
    * compaction outputs on. Shadowed defensively when the corpus
    * itself carries a `_file` field (schema-on-read may produce one):
    * the DATA column wins and the metadata column is not offered. */
  override def metadataColumns()
      : Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    if (schema.fieldNames.contains(JsonDocSource.FileColName))
      Array.empty
    else Array(JsonDocSource.FileMetadataColumn)
  /** Metadata-only DELETE ([[JsonDocDelete]]): pre-flight decision —
    * Spark fails the statement loudly when false; the execution path
    * re-decides under the lease. */
  override def canDeleteWhere(
      filters: Array[org.apache.spark.sql.sources.Filter]): Boolean =
    !whole && snapshot.isEmpty && dirPart.isEmpty && ps.size == 1 &&
      readError.isEmpty &&
      JsonDocDelete.decide(SparkSession.active, ps.head,
        filters.toIndexedSeq).isDefined
  override def deleteWhere(
      filters: Array[org.apache.spark.sql.sources.Filter]): Unit = {
    require(!whole, "graftjson: DELETE on a whole=true table is " +
      "unsupported — whole mode is one-file-one-document, owned by " +
      "whoever places the files")
    require(snapshot.isEmpty,
      "graftjson: a pinned-snapshot (asOfSave/sinceSave) table is read-only")
    require(dirPart.isEmpty,
      "graftjson: DELETE on a dirPartitions table is unsupported — " +
        "run the metadata-only DELETE per partition directory")
    require(ps.size == 1,
      s"graftjson: DELETE needs exactly one table directory, got: " +
        ps.mkString(", "))
    JsonDocDelete.delete(SparkSession.active, ps.head, filters.toIndexedSeq)
    ()
  }
  override def schema(): StructType = schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE,
      TableCapability.STREAMING_WRITE)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    // reads require the schema to BE the inferred one (the reader
    // converts through the HType tree); a write-only table (schema
    // mismatch or not-yet-created dir) fails loudly here
    readError.foreach(msg => throw new IllegalArgumentException(msg))
    // cdcDeletes resolves at TABLE load (it widens the schema) — a
    // scan-time option on a table built without it (the catalog
    // identifier path: loadTable never sees read options) must fail
    // LOUDLY, never silently drop the retraction rows
    require(cdcDeletes || !options.getBoolean("cdcDeletes", false),
      "graftjson: cdcDeletes resolves when the table loads and is not " +
        "available through a catalog identifier — use " +
        "readStream.format(\"graftjson\").option(\"cdcDeletes\", true)" +
        ".option(\"startingSave\", k).load(dir)")
    // dirPartitions resolves at TABLE load too (it widens the schema
    // and derives the spec) — same loud guard as cdcDeletes above
    require(dirPart.isDefined || !options.getBoolean("dirPartitions", false),
      "graftjson: dirPartitions resolves when the table loads — use " +
        "spark.read.format(\"graftjson\").option(\"dirPartitions\", " +
        "true).load(dir)")
    // the scan plans over the DATA schema; the CDC columns are
    // appended by the stream's reader, never materialized from JSON —
    // and the derived partition column by the batch reader, from the
    // file's directory
    val dataSchema0 =
      if (cdcDeletes) StructType(schema.fields.dropRight(2)) else schema
    val dataSchema =
      if (dirPart.isDefined) StructType(dataSchema0.fields.dropRight(1))
      else dataSchema0
    new JsonDocScanBuilder(ps, whole, t, dataSchema,
      Option(options.get("maxSplitBytes")).map(_.toLong), zones, fingerprint,
      Option(options.get("maxFilesPerTrigger")).map(_.toInt),
      Option(options.get("maxBytesPerTrigger")).map(_.toLong),
      snapshot = snapshot,
      startingSave = Option(options.get("startingSave")).map(_.toLong),
      cdcDeletes = cdcDeletes, dirPart = dirPart)
  }
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    require(snapshot.isEmpty,
      "graftjson: a pinned-snapshot (asOfSave/sinceSave) table is read-only")
    require(!cdcDeletes,
      "graftjson: a cdcDeletes change-feed table is read-only (its " +
        "schema carries the synthetic _file/_change_type columns)")
    require(dirPart.isEmpty,
      "graftjson: dirPartitions is read-side only — write each " +
        "partition's files into its <column>=<value> directory " +
        "directly (the plain path writer per partition)")
    require(ps.size == 1,
      s"graftjson: writes need exactly one target directory, got: " +
        ps.mkString(", "))
    new JsonDocWriteBuilder(ps.head, whole, info)
  }
}

private class JsonDocScanBuilder(ps: Seq[String], whole: Boolean, t: HType,
                                 full: StructType,
                                 maxSplitBytes: Option[Long],
                                 zones: Option[ZoneStats.ZoneMap],
                                 fingerprint: Seq[(String, Long, Long)],
                                 maxFilesPerTrigger: Option[Int] = None,
                                 maxBytesPerTrigger: Option[Long] = None,
                                 snapshot: Option[String] = None,
                                 startingSave: Option[Long] = None,
                                 cdcDeletes: Boolean = false,
                                 dirPart: Option[DirPartitions.Spec] = None)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates
    with org.apache.spark.sql.connector.read.SupportsPushDownTopN
    with org.apache.spark.sql.connector.read.SupportsPushDownLimit {
  private var required: StructType = full
  private var pushed: Array[org.apache.spark.sql.sources.Filter] = Array.empty
  // EVERY offered filter, ungated: zone-map reasoning is total and
  // conservative (an unsupported shape simply never proves), and
  // nested-attribute filters — which the row-level reader gate
  // rejects — are exactly what nested zones prune on
  private var offered: Array[org.apache.spark.sql.sources.Filter] = Array.empty
  private var pushedMeta: Option[(StructType, Seq[Seq[Any]])] = None
  // dirPartitions (r17): partition-directory names surviving the
  // CONSUMED partition predicates (None = no pruning). The metadata-
  // answering pushes below run over the SCOPED listing (the kept
  // directories' files — every row in them satisfies the consumed
  // conjunction at directory grain, so the remaining data filters see
  // exactly the scan's population); an UNDECIDED partition predicate
  // (residual shape) declines them instead — zone proofs cannot see a
  // column that lives in directory names, so answering over the full
  // listing would be wrong, not just stale.
  private var partKept: Option[Seq[String]] = None
  private var partUndecided: Boolean = false
  private var partConsumed: Array[org.apache.spark.sql.sources.Filter] =
    Array.empty

  /** The listing a metadata ANSWER may fold over: the live listing
    * must equal the load-time fingerprint (byte-identical files), and
    * consumed partition predicates scope it to the kept directories.
    * None = decline. A directory created after load would change the
    * fingerprint (its files are new), so load-time kept names resolve
    * the same set the scan's live re-list would. */
  private def answeringListing: Option[Seq[(String, Long, Long)]] = {
    val current = freshListing
    if (current != fingerprint) None
    else (dirPart, partKept) match {
      case (Some(s), Some(kept)) =>
        val pfx = kept.map(n => s.dirPath(n) + "/")
        Some(current.filter { case (p, _, _) => pfx.exists(p.startsWith) })
      case _ => Some(current)
    }
  }

  /** COUNT(*) / MIN / MAX with no grouping, no filters, answered from
    * zone-map metadata — the `count(*), min(ts), max(ts)` corpus
    * probe for free, zero data read. `units` counts exactly the rows
    * the scan emits (one per NDJSON line — blank and corrupt lines
    * included — or one per whole-mode file); min/max fold the
    * walker's exact bounds, so they are offered ONLY for columns
    * whose materialized value IS the recorded bound (integral /
    * decimal / plain string — the ZoneSkip eligibility), only when NO
    * file is dirty (a partially-walked doc folds values that never
    * materialize, making bounds a superset: sound for skipping, wrong
    * for answering), and with SQL null semantics (all-null → null).
    * SOUND only if the files are byte-identical to the ones the stats
    * walked, so the push re-lists and requires the (path, length,
    * mtime) fingerprint to match the load-time listing — any drift,
    * any filter, any other aggregate declines the push and the
    * ordinary scan+aggregate runs (self-healing, never wrong). */
  // supportCompletePushDown and pushAggregation arrive back to back
  // with the SAME Aggregation instance — memoize by identity so the
  // kept-set partition proof and grouped fold run once per plan, not
  // twice (a different instance just recomputes; never wrong)
  private var metaMemo: Option[(AnyRef, Option[(StructType, Seq[Seq[Any]])])] =
    None
  private def metaFromZonesCached(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Option[(StructType, Seq[Seq[Any]])] =
    // a BATCH plan carrying the streaming-only startingSave option
    // must reach JsonDocScan.toBatch's loud rejection — a completed
    // aggregate pushdown would short-circuit into a JsonDocMetaScan
    // that silently answers from LIVE zone metadata (self-review r15).
    // An UNDECIDED partition predicate declines too (consumed ones
    // scope the answering listing instead — metaFromZones)
    if (startingSave.isDefined || partUndecided) None
    else metaMemo match {
      case Some((a, r)) if a eq agg => r
      case _ =>
        val r = metaFromZones(agg)
        metaMemo = Some((agg, r))
        r
    }

  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Boolean = metaFromZonesCached(agg).isDefined

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Boolean = {
    pushedMeta = metaFromZonesCached(agg)
    pushedMeta.isDefined
  }

  // one listing serves supportCompletePushDown AND pushAggregation
  // (Spark calls both in one planning instant; a third walk for the
  // same answer would be pure namenode load on a 100k-file table).
  // A time-travel scan's population IS its resolved fingerprint —
  // the live directory is a different (later) version of the table
  private lazy val freshListing: Seq[(String, Long, Long)] =
    if (snapshot.isDefined) fingerprint
    else JsonDocSource.listFiles(SparkSession.active, ps)

  // files PROVABLY not needed for a pushed TopN/Limit, keyed with the
  // (length, mtime) the decision was made against — the scan drops a
  // file only when it still matches (the zoneSkips stale-guard shape)
  private var topExcluded: Map[String, (Long, Long)] = Map.empty

  /** Bare LIMIT n (no sort): ANY n rows satisfy it, so the scan keeps
    * only a minimal listing-prefix of files whose exact zone unit
    * counts cover the limit — `LIMIT 10` over a million-file corpus
    * reads one file. Partial push: the engine keeps its own
    * GlobalLimit over our rows. A FULLY-pushed exact conjunction
    * participates like pushTopN's: only provably all-match files
    * advance the surviving-row guarantee (undecided prefix files are
    * kept but count nothing); declines when the guarantee cannot be
    * met or a file is un-zoned. */
  override def pushLimit(limit: Int): Boolean = {
    if (limit <= 0 || zones.isEmpty) return false
    // an undecided (residual) partition predicate sits in `offered`
    // and declines here like any unpushed filter; CONSUMED ones scope
    // the listing below instead — the prefix guarantee then counts
    // exactly the files the pruned scan reads
    if (offered.exists(f => !pushed.contains(f))) return false
    val current = answeringListing.getOrElse(return false)
    val zm = zones.get
    val withZones = current.map { case (p, l, m) => (p, l, m, zm.get(p)) }
    if (withZones.exists(_._4.isEmpty)) return false
    var acc = 0L
    val keep = withZones.takeWhile { case (_, _, _, z) =>
      val need = acc < limit
      val zz = z.get
      // surviving-row guarantee: exact units for all-match files,
      // nothing for undecided ones (kept in the prefix, never counted)
      acc +=
        (if (pushed.isEmpty) zz.units
        else if (!zz.dirty &&
          pushed.forall(ZoneSkip.provablyAllMatch(_, zz, zonePaths)))
          zz.units
        else 0L)
      need
    }.map(_._1).toSet
    if (acc < limit || keep.size == withZones.size) return false
    topExcluded = current.filterNot(f => keep(f._1))
      .map { case (p, l, m) => p -> ((l, m)) }.toMap
    true
  }

  /** ORDER BY key [ASC|DESC] LIMIT k: keep only files that can hold a
    * top-k row. Sound superset rule on the FIRST sort key (secondary
    * keys only reorder within ties — the k smallest lexicographic
    * rows all sit among the k smallest first-key values): pick the
    * smallest threshold t such that CLEAN files alone guarantee ≥ k
    * rows ordering ≤ t (a file guarantees its `present` values when
    * its far bound is ≤ t, plus its null rows when nulls sort first),
    * then exclude exactly the clean files whose near bound is > t
    * (and, when nulls sort first, that hold no nulls). Loosened
    * bounds (strInexact / multiDoc / dupKey supersets) stay sound for
    * BOTH sides — a looser far bound only weakens the guarantee, a
    * looser near bound only weakens exclusion — but multiDoc/dupKey
    * inflate `present`, so those files (and dirty ones, whose bounds
    * may MISS values) are never excluded and never guarantee.
    * A FULLY-pushed exact filter conjunction participates (r12):
    * only provably ALL-MATCH files feed the guarantee (their whole
    * counts survive), while exclusion keeps working for every clean
    * file because bounds cover all rows, surviving ones included;
    * runtime (join-derived) filters still cancel the exclusion at the
    * scan. Partial push: the engine re-sorts and limits our rows, so
    * the only obligation is that excluded rows provably rank past
    * k among the surviving rows. */
  override def pushTopN(
      orders: Array[org.apache.spark.sql.connector.expressions.SortOrder],
      limit: Int): Boolean = {
    import org.apache.spark.sql.connector.expressions.{NamedReference, NullOrdering, SortDirection}
    import org.apache.spark.sql.types._
    if (limit <= 0 || orders.isEmpty || zones.isEmpty)
      return false
    // filters participate ONLY as a fully-pushed exact conjunction
    // (no residual — Spark does not offer TopN across a residual
    // Filter anyway; guard regardless): an ALL-MATCH file's rows all
    // survive, so its counts feed the guarantee unchanged, and
    // bound-based exclusion stays sound for EVERY file because a
    // file's bounds cover all its rows, surviving ones included —
    // `WHERE lang = 'en' ORDER BY key LIMIT k` prunes like the
    // unfiltered probe over the lang-matching files. CONSUMED
    // partition predicates scope the listing below (the guarantee
    // then counts exactly the pruned scan's files); an undecided one
    // sits in `offered` and declines here.
    if (offered.exists(f => !pushed.contains(f))) return false
    val current = answeringListing.getOrElse(return false)
    val so = orders.head
    val name = so.expression() match {
      case nr: NamedReference => nr.fieldNames().mkString(".")
      case _ => return false
    }
    val dt = zonePaths.get(name) match {
      case Some(d @ (ByteType | ShortType | IntegerType | LongType |
                     StringType)) => d
      case Some(d: DecimalType) => d
      case _ => return false
    }
    val isStr = dt == StringType
    val asc = so.direction() == SortDirection.ASCENDING
    val nullsFirst = so.nullOrdering() == NullOrdering.NULLS_FIRST
    def cmpV(a: Any, b: Any): Int =
      if (isStr) ZoneStats.cpCompare(a.asInstanceOf[String],
        b.asInstanceOf[String])
      else a.asInstanceOf[java.math.BigDecimal]
        .compareTo(b.asInstanceOf[java.math.BigDecimal])
    // direction-adjusted comparison: the algorithm below always works
    // in the "ascending effective domain"
    def cmpDir(a: Any, b: Any): Int = if (asc) cmpV(a, b) else -cmpV(a, b)
    val zm = zones.get
    // (path, len, mtime, units, nulls, present, near, far, clean,
    //  allMatch — every row provably survives the pushed conjunction)
    case class F(path: String, len: Long, mtime: Long, units: Long,
                 nulls: Long, present: Long, near: Any, far: Any,
                 clean: Boolean, allMatch: Boolean)
    val files = current.map { case (p, l, m) =>
      zm.get(p) match {
        case None => F(p, l, m, 0L, 0L, 0L, null, null, clean = false,
          allMatch = false)
        case Some(z) =>
          val fz = z.fields.get(name)
          val statsSound = !z.dirty && !z.multiDoc && !z.dupKey &&
            !(z.overflow && fz.isEmpty) && fz.forall(_.others == 0)
          // dirty walks may have MISSED values — never all-match
          val matched = pushed.isEmpty || (!z.dirty &&
            pushed.forall(ZoneSkip.provablyAllMatch(_, z, zonePaths)))
          val present = fz.fold(0L)(_.present)
          val bounds = fz.fold[(Any, Any)]((null, null))(f =>
            if (isStr) (f.strMin, f.strMax) else (f.numMin, f.numMax))
          F(p, l, m, z.units, z.units - present, present,
            near = if (asc) bounds._1 else bounds._2,
            far = if (asc) bounds._2 else bounds._1,
            clean = statsSound, allMatch = matched)
      }
    }
    // smallest threshold (a clean ALL-MATCH file's far bound) whose
    // guaranteed surviving-row count reaches the limit; None = nulls
    // alone cover it. Undecided files guarantee nothing (their
    // surviving counts are unknown) but still exclude by bounds.
    val nullGuarantee =
      if (nullsFirst)
        files.filter(f => f.clean && f.allMatch).map(_.nulls).sum
      else 0L
    val threshold: Option[Any] =
      if (nullGuarantee >= limit) None
      else {
        val cand = files
          .filter(f => f.clean && f.allMatch && f.present > 0)
          .sortWith((a, b) => cmpDir(a.far, b.far) < 0)
        var acc = nullGuarantee
        var t: Option[Any] = null
        val it = cand.iterator
        while (t == null && it.hasNext) {
          val f = it.next()
          acc += f.present
          if (acc >= limit) t = Some(f.far)
        }
        if (t == null) return false // corpus cannot guarantee k rows
        t
      }
    val excluded = files.filter { f =>
      f.clean && (!nullsFirst || f.nulls == 0) && (threshold match {
        case None => f.present > 0 || !nullsFirst
        case Some(t) => f.present > 0 && cmpDir(f.near, t) > 0
      })
    }
    if (excluded.isEmpty) return false
    topExcluded = excluded.map(f => f.path -> ((f.len, f.mtime))).toMap
    true
  }

  /** Partial always: the engine keeps its Sort/Limit over our rows —
    * the source only shrinks the file set. */
  override def isPartiallyPushed(): Boolean = true

  // dotted path → materialized type (nested chains included), the
  // same consultation gate the scan's file skipping uses
  private lazy val zonePaths = ZoneSkip.eligiblePaths(t)

  private def metaFromZones(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Option[(StructType, Seq[Seq[Any]])] = {
    import org.apache.spark.sql.connector.expressions.NamedReference
    import org.apache.spark.sql.connector.expressions.aggregate.{Avg, Count, CountStar, Max, Min, Sum}
    import org.apache.spark.sql.types._
    // empty aggregates WITH group columns is SELECT DISTINCT — the
    // grouped path below answers it as keys-only rows; empty both is
    // nothing to push
    if (zones.isEmpty || (agg.aggregateExpressions().isEmpty &&
      agg.groupByExpressions().isEmpty)) return None
    // the answering population: live == load-time fingerprint, scoped
    // to the kept directories under consumed partition predicates
    // (their rows ALL satisfy the consumed conjunction, so the data
    // filters below see exactly the scan's population)
    val current = answeringListing.getOrElse(return None)
    val zm = zones.get
    val fileZones = current.flatMap { case (p, _, _) => zm.get(p) }
    // every listed file must carry a zone — an answer must account
    // for every row the scan would emit
    if (fileZones.size != current.size) return None
    // FILTERS: Spark only attempts aggregate pushdown when no
    // residual Filter remains, so a non-empty pushed set here is the
    // query's ENTIRE conjunction and every member was exact (fully
    // pushed). The zones must DECIDE each file: all-match (every row
    // satisfies every conjunct — the file's rows ALL survive, so its
    // unit count, bounds, sums and presence counts describe exactly
    // the surviving rows) or provably-empty (contributes nothing);
    // ONE undecidable file declines the push and the ordinary scan
    // runs. The kept set is that partition's surviving side; with no
    // filters it is simply every file.
    val kept: Seq[ZoneStats.FileZone] =
      if (pushed.isEmpty) fileZones
      else {
        // all-match proofs lean on complete sighting counts — a dirty
        // walk may have missed values, so any dirty file declines the
        // whole partition argument
        if (fileZones.exists(_.dirty)) return None
        val perFile = fileZones.map { z =>
          if (pushed.forall(ZoneSkip.provablyAllMatch(_, z, zonePaths)))
            Some(Some(z))
          else if (pushed.exists(ZoneSkip.provablyEmpty(_, z, zonePaths)))
            Some(None)
          else None
        }
        if (perFile.exists(_.isEmpty)) return None
        perFile.flatten.flatten
      }
    // a line carrying several concatenated docs folds values the scan
    // never materializes (the reader takes the line's FIRST doc):
    // superset bounds/sums are sound for skipping but WRONG for
    // answering — the walker flags the condition PER LINE (a per-file
    // docs-vs-units comparison would be masked by blank lines
    // balancing the totals; review r11 #2). Duplicate top-level keys
    // break answering the same way: the walker folds EVERY occurrence
    // while Jackson's readTree materializes only the LAST —
    // {"a":1,"a":999} has engine-min 999 but zone-min 1 (and a sum
    // over both). Gates evaluate over the KEPT files — the ones the
    // answer actually reads from.
    val valuesAnswerable = !kept.exists(z =>
      z.multiDoc || z.dupKey || z.dirty)
    def topCol(
        e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[String] = e match {
      // nested references resolve through the dotted-path map: the
      // joined rendering is exactly the walker's zone key, and only
      // structs-only chains (within the depth cap, collision-free)
      // are present in it
      case nr: NamedReference =>
        Some(nr.fieldNames().mkString(".")).filter(zonePaths.contains)
      case _ => None
    }
    def eligible(dt: DataType): Boolean = dt match {
      case ByteType | ShortType | IntegerType | LongType | StringType => true
      case _: DecimalType => true
      case _ => false
    }
    // the merged per-path zone over a file subset, under the shared
    // value-answering gates; None = decline
    def mergedField(name: String,
                    over: Seq[ZoneStats.FileZone]): Option[ZoneStats.FieldZone] = {
      if (!valuesAnswerable) None
      // an overflowed file that never recorded this path may still
      // hold values for it — its merged stats would undercount
      else if (over.exists(z => z.overflow && !z.fields.contains(name))) None
      else {
        val merged = over
          .flatMap(_.fields.get(name))
          .foldLeft(ZoneStats.emptyField)(_ merge _)
        // others ≠ 0 means boolean/nested sightings under a scalar-
        // typed path — defensive, the type gate should exclude it
        if (merged.others != 0) None else Some(merged)
      }
    }
    def bound(name: String, wantMax: Boolean,
              over: Seq[ZoneStats.FileZone]): Option[(DataType, Any)] = {
      val dt = zonePaths.get(name).filter(eligible)
      dt.flatMap { d =>
        mergedField(name, over).flatMap { merged =>
          if (d == StringType && merged.strInexact) None // loosened bounds
          else if (merged.present == 0) Some((d, null)) // SQL null
          else try {
            val v: Any = d match {
              case LongType => java.lang.Long.valueOf(
                (if (wantMax) merged.numMax else merged.numMin).longValueExact)
              case IntegerType => java.lang.Integer.valueOf(
                (if (wantMax) merged.numMax else merged.numMin).intValueExact)
              case ShortType => java.lang.Short.valueOf(
                (if (wantMax) merged.numMax else merged.numMin).shortValueExact)
              case ByteType => java.lang.Byte.valueOf(
                (if (wantMax) merged.numMax else merged.numMin).byteValueExact)
              case dec: DecimalType =>
                // column scale ≥ every value's scale (inference), so
                // setScale only pads — exact; anything else throws and
                // declines below
                (if (wantMax) merged.numMax else merged.numMin)
                  .setScale(dec.scale)
              case StringType => if (wantMax) merged.strMax else merged.strMin
              case _ => return None
            }
            Some((d, v))
          } catch { case _: ArithmeticException => None }
        }
      }
    }
    /** SUM(col) from the walker's exact per-file decimal sums: every
      * materialized non-null value of an integral/decimal path IS its
      * raw literal (the bounds argument), so the exact running sum is
      * the engine's sum — answered only when the result is
      * representable in the engine's own result type (integral sums
      * that overflow Long, or decimal sums past the widened precision,
      * decline rather than reproduce overflow semantics). */
    def sumOf(name: String,
              over: Seq[ZoneStats.FileZone]): Option[(DataType, Any)] = {
      zonePaths.get(name).flatMap {
        case d @ (ByteType | ShortType | IntegerType | LongType) =>
          mergedField(name, over).flatMap { merged =>
            if (merged.present == 0) Some((LongType, null)) // SQL null sum
            else if (merged.numSum == null) None // legacy/inconsistent zone
            else try Some((LongType,
              java.lang.Long.valueOf(merged.numSum.longValueExact)))
            catch { case _: ArithmeticException => None }
          }
        case dec: DecimalType =>
          // Spark's Sum result type for decimal input
          val rt = DecimalType(math.min(38, dec.precision + 10), dec.scale)
          mergedField(name, over).flatMap { merged =>
            if (merged.present == 0) Some((rt, null))
            else if (merged.numSum == null) None
            else {
              val v = merged.numSum.setScale(dec.scale) // pads only
              if (v.precision > rt.precision) None // engine overflows
              else Some((rt, v))
            }
          }
        case _ => None
      }
    }
    /** COUNT(col) = the walker's non-null sighting count: for the
      * eligible types every sighted value materializes non-null
      * (numeric literals always parse; plain strings pass through;
      * decimal setScale only pads), so `present` IS the engine's
      * count. Timestamp/binary string-kinds are NOT eligible — an
      * unparseable timestamp-shaped string materializes null while
      * the walker counted it. */
    def countOf(name: String,
                over: Seq[ZoneStats.FileZone]): Option[(DataType, Any)] =
      zonePaths.get(name).filter(eligible).flatMap(d =>
        mergedField(name, over).map(merged =>
          (LongType, java.lang.Long.valueOf(merged.present))))
    /** AVG(col) for INTEGRAL paths only, and only while the exact sum
      * and count stay ≤ 2^53: the engine accumulates integral
      * averages in a DOUBLE sum, which is exact (partition-order-
      * independent) precisely while every partial is an integer
      * within double's exact range — inside that window
      * exactSum/count reproduces the engine's one IEEE division bit
      * for bit; outside it the engine's own answer is layout-
      * dependent and we decline. Decimal averages decline outright
      * (Spark's decimal divide semantics are not worth reproducing
      * from metadata). */
    def avgOf(name: String,
              over: Seq[ZoneStats.FileZone]): Option[(DataType, Any)] =
      zonePaths.get(name).flatMap {
        case ByteType | ShortType | IntegerType | LongType =>
          mergedField(name, over).flatMap { merged =>
            if (merged.present == 0) Some((DoubleType, null))
            else if (merged.numSum == null ||
              merged.numMin == null || merged.numMax == null) None
            else {
              // bound every INTERMEDIATE partial, not just the final
              // sum: mixed signs can push a running double sum past
              // 2^53 and back ([2^53, 3, -2^53] final-sums to 3 but
              // rounds mid-flight), so the window is Σ|v| ≤
              // present·max|v| ≤ 2^53 — every partial is then an
              // integer double represents exactly, in any
              // accumulation order
              val exactWindow = java.math.BigDecimal.valueOf(1L << 53)
              val maxAbs = merged.numMin.abs.max(merged.numMax.abs)
              if (merged.present > (1L << 53) ||
                maxAbs.multiply(
                  java.math.BigDecimal.valueOf(merged.present))
                  .compareTo(exactWindow) > 0) None
              else Some((DoubleType, java.lang.Double.valueOf(
                merged.numSum.doubleValue / merged.present.toDouble)))
            }
          }
        case _ => None
      }
    // one output row's aggregate cells over a file subset
    def resolveAggs(over: Seq[ZoneStats.FileZone])
        : Option[Seq[(StructField, Any)]] = {
      val resolved = agg.aggregateExpressions().toSeq.map {
        case _: CountStar =>
          Some((StructField("count", LongType, nullable = false),
            java.lang.Long.valueOf(over.iterator.map(_.units).sum): Any))
        case m: Min => topCol(m.column()).flatMap(n =>
          bound(n, wantMax = false, over).map { case (d, v) =>
            (StructField(s"min_$n", d, nullable = true), v) })
        case m: Max => topCol(m.column()).flatMap(n =>
          bound(n, wantMax = true, over).map { case (d, v) =>
            (StructField(s"max_$n", d, nullable = true), v) })
        case s: Sum if !s.isDistinct => topCol(s.column()).flatMap(n =>
          sumOf(n, over).map { case (d, v) =>
            (StructField(s"sum_$n", d, nullable = true), v) })
        case c: Count if !c.isDistinct => topCol(c.column()).flatMap(n =>
          countOf(n, over).map { case (d, v) =>
            (StructField(s"countcol_$n", d, nullable = false), v) })
        case a: Avg if !a.isDistinct => topCol(a.column()).flatMap(n =>
          avgOf(n, over).map { case (d, v) =>
            (StructField(s"avg_$n", d, nullable = true), v) })
        case _ => None
      }
      if (resolved.exists(_.isEmpty)) None else Some(resolved.flatten)
    }
    val groupNames: Seq[String] = agg.groupByExpressions().toSeq.map { e =>
      topCol(e) match {
        case Some(n) if eligible(zonePaths(n)) => n
        case _ => return None
      }
    }
    if (groupNames.isEmpty) {
      resolveAggs(kept).map { rs =>
        (StructType(rs.map(_._1)), Seq(rs.map(_._2)))
      }
    } else {
      // GROUP BY answered from metadata when the physical layout
      // PARTITIONS the key — each kept file single-valued in every
      // group column (the exact distinct sets prove it) with a value
      // in every row (sightings == units, so no null-group rows whose
      // aggregate share the per-file stats could not apportion).
      // That is precisely the layout recluster() produces for its
      // cluster key and per-label exports produce for their label:
      // the group's aggregates then fold from its files' stats alone.
      // Any file with several key values, an overflowed set, a null,
      // or a too-long string declines the whole push.
      if (!valuesAnswerable) return None
      def groupKey(z: ZoneStats.FileZone): Option[Seq[Any]] = {
        val vs = groupNames.map { g =>
          if (z.overflow && !z.fields.contains(g)) return None
          val fz = z.fields.getOrElse(g, ZoneStats.emptyField)
          if (fz.others != 0 || fz.present != z.units) return None
          zonePaths(g) match {
            case StringType =>
              if (fz.strSet == null || fz.strSet.size != 1) return None
              fz.strSet.head
            case d =>
              if (fz.numSet == null || fz.numSet.size != 1) return None
              val n = fz.numSet.head
              try d match {
                case LongType => java.lang.Long.valueOf(n.longValueExact)
                case IntegerType => java.lang.Integer.valueOf(n.intValueExact)
                case ShortType => java.lang.Short.valueOf(n.shortValueExact)
                case ByteType => java.lang.Byte.valueOf(n.byteValueExact)
                case dec: DecimalType => n.setScale(dec.scale)
                case _ => return None
              } catch { case _: ArithmeticException => return None }
          }
        }
        Some(vs)
      }
      val nonEmpty = kept.filter(_.units > 0)
      val keyed = nonEmpty.map(z => groupKey(z) match {
        case Some(k) => k -> z
        case None => return None
      })
      val groupFields = groupNames.map(g =>
        StructField(g, zonePaths(g), nullable = false))
      val grouped = keyed.groupBy(_._1).toSeq
        .sortBy(_._1.map(String.valueOf(_)).mkString("\u0000"))
      val rows = grouped.map { case (key, members) =>
        resolveAggs(members.map(_._2)) match {
          case Some(rs) => (rs.map(_._1), key ++ rs.map(_._2))
          case None => return None
        }
      }
      val aggFields = rows.headOption.map(_._1).getOrElse(
        resolveAggs(Seq.empty).getOrElse(return None).map(_._1))
      Some((StructType(groupFields ++ aggFields), rows.map(_._2)))
    }
  }
  // the requested `_file` METADATA field, verbatim as Spark passed it
  // (its StructField metadata marks it a metadata column — readSchema
  // must echo the exact field or the output attributes mismatch);
  // only honored when the table actually OFFERED the column (a data
  // field named _file shadows it)
  private var fileFieldRaw: Option[org.apache.spark.sql.types.StructField] =
    None
  // the requested derived partition column (dirPartitions), verbatim
  private var partFieldRaw: Option[org.apache.spark.sql.types.StructField] =
    None
  override def pruneColumns(requiredSchema: StructType): Unit = {
    // NESTED pruning accepted: Spark's SchemaPruning may hand nested-
    // pruned struct types (e.g. `meta.date` of a wide struct, or just
    // `score.u0` of a union field) and the reader materializes
    // EXACTLY this shape ([[graft.infer.Materialize.convertPruned]]
    // masks conversion by field name), so a wide struct column pays
    // conversion only for its requested subtree. Spark rewrote its
    // GetStructField ordinals for the pruned schema, and the scan's
    // readSchema IS that schema — they stay in agreement. Defensive:
    // only fields of the inferred schema are accepted.
    fileFieldRaw = requiredSchema.fields.find(f =>
      f.name == JsonDocSource.FileColName &&
        !full.fieldNames.contains(JsonDocSource.FileColName))
    // the derived partition column is a DATA column of the widened
    // table schema but not of `full` (the reader appends it from the
    // file's directory, never materializes it from JSON) — capture
    // whether the plan wants it, like the metadata column above
    partFieldRaw = dirPart.flatMap(s =>
      requiredSchema.fields.find(_.name == s.col))
    required = StructType(requiredSchema.fields.filter(f =>
      full.fieldNames.contains(f.name)))
  }
  /** Two-tier pushdown. EXACT filters ([[JsonDocFilters.exact]] —
    * keeps ⟺ the engine's own TRUE) are FULLY pushed: the reader's
    * evaluation is the correctness path and no residual Filter
    * remains, which is what lets Spark attempt COUNT(*) aggregate
    * pushdown under a WHERE clause. Everything else keeps the
    * parquet row-group-stats contract: best-effort early skipping
    * with the filter ALSO returned as residual, so Spark's Filter
    * node owns correctness and the source only reduces row volume. */
  override def pushFilters(filters: Array[org.apache.spark.sql.sources.Filter])
      : Array[org.apache.spark.sql.sources.Filter] = {
    // dirPartitions (r17): predicates on the derived partition column
    // split off first. A filter referencing the column ALONE whose
    // every node evaluates exactly under 3VL is CONSUMED — accepted
    // with no residual, and the kept-directory set shrinks to the
    // values it admits (rows in kept dirs all satisfy it, by
    // construction). Anything else on the column — mixed references,
    // unsupported shapes — stays a residual Spark Filter over the
    // materialized column and prunes nothing. Consumed predicates
    // SCOPE the metadata-answering pushes above (answeringListing);
    // an undecided one sets partUndecided, which declines them.
    val (partFs, dataFs) = dirPart match {
      case Some(s) => filters.partition(_.references.contains(s.col))
      case None =>
        (Array.empty[org.apache.spark.sql.sources.Filter], filters)
    }
    val (consumed, partResidual) = dirPart match {
      case Some(s) =>
        partFs.partition(DirPartitions.consumable(_, s.col, s.isLong))
      case None => (partFs, partFs.filter(_ => false)) // partFs is empty
    }
    partUndecided = partResidual.nonEmpty
    partConsumed = consumed
    if (consumed.nonEmpty)
      partKept = dirPart.map(_.keptUnder(consumed.toSeq))
    // the residual may drop a filter ONLY when the reader actually
    // evaluates it — exact(full) alone is not enough, because the
    // evaluated set is gated on zonePaths and the two schemas can
    // disagree: a UNION-ROOT table materializes as struct<tag,u0,…>
    // whose fields are atomic in `full` yet absent from the dotted-
    // path map (eligibleRoutes only walks HStruct roots), so an
    // exact-looking filter there would vanish from the residual
    // while nothing evaluates it — silently unfiltered rows
    pushed = dataFs.filter(JsonDocFilters.supportsPath(_, zonePaths))
    offered = dataFs ++ partResidual
    dataFs.filterNot(f => JsonDocFilters.exact(f, full) &&
      JsonDocFilters.supportsPath(f, zonePaths)) ++ partResidual
  }
  override def pushedFilters(): Array[org.apache.spark.sql.sources.Filter] =
    pushed
  override def build(): Scan = pushedMeta match {
    case Some((schema, values)) => new JsonDocMetaScan(ps, schema, values)
    case None =>
      new JsonDocScan(ps, whole, t, full, required, pushed, offered,
        maxSplitBytes, zones, fingerprint,
        maxFilesPerTrigger, maxBytesPerTrigger, topExcluded, snapshot,
        startingSave, fileFieldRaw, cdcDeletes,
        dirPart, partKept, partFieldRaw, partConsumed)
  }
}

/** Completed aggregate pushdown: one partition holding the metadata-
  * derived rows — ONE row for a global aggregate, one PER GROUP for a
  * layout-decided GROUP BY (fingerprint-verified in the builder).
  * External values ride to the reader and convert through the same
  * generic converter as data rows ([[JsonDocReader]]). */
private class JsonDocMetaScan(ps: Seq[String], schema: StructType,
                              rows: Seq[Seq[Any]])
    extends Scan with Batch
    with org.apache.spark.sql.connector.read.SupportsReportStatistics {
  override def readSchema(): StructType = schema
  override def toBatch: Batch = this
  override def description(): String =
    s"graftjson ${ps.mkString(",")} PushedAggregation: " +
      (rows match {
        case Seq(one) => schema.fieldNames.zip(one)
          .map { case (f, v) => s"$f=$v" }.mkString("[", ", ", "]")
        case many => s"[${schema.fieldNames.mkString(", ")}] " +
          s"(${many.size} groups)"
      }) + " (zone maps)"
  // a completed aggregate pushdown IS its rows, width known
  override def estimateStatistics()
      : org.apache.spark.sql.connector.read.Statistics =
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(
          math.max(1, schema.defaultSize.toLong * math.max(1, rows.size)))
      override def numRows(): java.util.OptionalLong =
        java.util.OptionalLong.of(rows.size.toLong)
    }
  override def planInputPartitions(): Array[InputPartition] =
    Array(JsonDocMetaPartition(schema, rows))
  override def createReaderFactory(): PartitionReaderFactory =
    JsonDocMetaReaderFactory()
}

private case class JsonDocMetaPartition(schema: StructType,
                                        rows: Seq[Seq[Any]])
    extends InputPartition

private case class JsonDocMetaReaderFactory() extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private val mp = p.asInstanceOf[JsonDocMetaPartition]
      private val toInternal =
        CatalystTypeConverters.createToCatalystConverter(mp.schema)
      private val it = mp.rows.iterator
      private var current: InternalRow = _
      override def next(): Boolean =
        if (it.hasNext) {
          current = toInternal(Row.fromSeq(it.next())).asInstanceOf[InternalRow]
          true
        } else false
      override def get(): InternalRow = current
      override def close(): Unit = ()
    }
}

private class JsonDocScan(ps: Seq[String], whole: Boolean, t: HType,
                          full: StructType, required: StructType,
                          pushed: Array[org.apache.spark.sql.sources.Filter],
                          offered: Array[org.apache.spark.sql.sources.Filter],
                          maxSplitBytes: Option[Long],
                          zones: Option[ZoneStats.ZoneMap],
                          fingerprint: Seq[(String, Long, Long)],
                          maxFilesPerTrigger: Option[Int] = None,
                          maxBytesPerTrigger: Option[Long] = None,
                          topExcluded: Map[String, (Long, Long)] = Map.empty,
                          snapshot: Option[String] = None,
                          startingSave: Option[Long] = None,
                          fileField: Option[org.apache.spark.sql.types.StructField] = None,
                          cdcDeletes: Boolean = false,
                          dirPart: Option[DirPartitions.Spec] = None,
                          partKept: Option[Seq[String]] = None,
                          partField: Option[org.apache.spark.sql.types.StructField] = None,
                          partConsumed: Array[org.apache.spark.sql.sources.Filter] =
                            Array.empty)
    extends Scan with Batch with SupportsRuntimeFiltering
    with org.apache.spark.sql.connector.read.SupportsReportStatistics {
  // load-time (path → (length, mtime)) for the stale-zone guard below
  private val fpMap: Map[String, (Long, Long)] =
    fingerprint.map { case (p, l, m) => p -> ((l, m)) }.toMap
  // dirPartitions: the paths the scan actually walks — pruned to the
  // kept partition directories so excluded subtrees are never even
  // LISTED, let alone statted (the whole point of the layout). The
  // kept set resolves against the LIVE directory listing at plan
  // time, not the load-time spec (self-review r17: a partition dir
  // added after load must be as visible to a pruned scan as it is to
  // the unfiltered scan's live listing — and drift that breaks the
  // derived contract fails loudly in liveDirs). Runtime (join-
  // derived, DPP) filters on the partition column participate when
  // consumable — the star-join shape this layout exists for; an
  // unsupported runtime shape is simply ignored (the join re-verifies
  // every row, the best-effort runtime contract).
  private def liveScanPaths(spark: SparkSession): Seq[String] =
    dirPart match {
      case Some(spec) =>
        // ALWAYS re-list and validate, filters or not: a foreign-key
        // or type-breaking directory landed after load must be loud
        // on every scan, not only the pruned ones
        val live = DirPartitions.liveDirs(spark, spec)
        val rt = runtimeOffered.filter(
          DirPartitions.consumable(_, spec.col, spec.isLong))
        val effective = partConsumed ++ rt
        if (effective.isEmpty) ps
        else DirPartitions.keptOf(live,
          effective.toIndexedSeq, spec.isLong).map(spec.dirPath)
      case None => ps
    }
  // prefix filter for the load-time fingerprint (statistics only —
  // estimates never need the live re-list)
  private lazy val partKeptPrefixes: Option[Seq[String]] =
    (dirPart, partKept) match {
      case (Some(s), Some(kept)) => Some(kept.map(n => s.dirPath(n) + "/"))
      case _ => None
    }
  // dotted path → materialized type, the zone-consultation gate
  // (nested chains included) — one walk of the KB-sized HType
  private lazy val zonePaths = ZoneSkip.eligiblePaths(t)
  /** Runtime (join-derived) filters, merged into the readers' pushed
    * set under the same best-effort contract: a runtime filter comes
    * from the JOIN's build side (dynamic pruning), so the join itself
    * re-verifies every surviving row — early-skipping provably
    * non-matching rows here saves their conversion + shuffle, and
    * ignoring an unsupported shape is always safe. */
  private var runtimePushed: Array[org.apache.spark.sql.sources.Filter] =
    Array.empty
  // ungated twin for zone reasoning, like `offered` vs `pushed`
  private var runtimeOffered: Array[org.apache.spark.sql.sources.Filter] =
    Array.empty
  // the PRUNED schema, not `full`: Spark resolves these references
  // against the scan relation's output (PartitionPruning
  // .getFilterableTableScan), so advertising a pruned-away column is
  // an AnalysisException at planning — and a runtime filter's key is
  // a join key, which is necessarily in the output anyway
  override def filterAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    (required.fields ++ partField).map(f =>
      org.apache.spark.sql.connector.expressions.Expressions.column(f.name))
  // TopN/Limit exclusions, defensively cancelled if a runtime filter
  // ever reaches this scan: the exclusion guarantee counted UNfiltered
  // rows, and a row-reducing filter below the engine's Sort/Limit
  // could promote an excluded file's row into the top-k
  private var topExcludedActive: Map[String, (Long, Long)] = topExcluded
  override def filter(
      filters: Array[org.apache.spark.sql.sources.Filter]): Unit = {
    runtimePushed = filters.filter(JsonDocFilters.supportsPath(_, zonePaths))
    runtimeOffered = filters
    if (filters.nonEmpty) topExcludedActive = Map.empty
  }
  // the metadata column rides LAST, echoing the exact field Spark
  // requested (its field-metadata marks it a metadata attribute);
  // with cdcDeletes the two EXPLICIT cdc columns ride last instead
  // (they are data columns of the widened table schema — fileField is
  // never set there, the widened schema shadows the metadata column)
  override def readSchema(): StructType =
    if (cdcDeletes)
      StructType(required.fields ++ JsonDocSource.cdcFields)
    else {
      // the derived partition column is the LAST data column of the
      // widened table schema, so a projection that wants it always
      // orders it after the other data fields — and the metadata
      // `_file` column always rides last of all
      val withPart =
        partField.fold(required)(f => StructType(required.fields :+ f))
      fileField.fold(withPart)(f => StructType(withPart.fields :+ f))
    }
  override def toBatch: Batch = {
    require(startingSave.isEmpty,
      "graftjson: startingSave is a streaming option (readStream) — " +
        "batch history reads use asOfSave/sinceSave")
    require(!cdcDeletes,
      "graftjson: cdcDeletes is a streaming option (readStream with " +
        "startingSave) — batch change-feed reads use sinceSave, and " +
        "CALL graft.changes(dir, since) lists per-save adds/removes")
    this
  }
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    require(dirPart.isEmpty,
      "graftjson: dirPartitions is a batch read option — tail each " +
        "partition directory as its own stream")
    require(snapshot.isEmpty,
      "graftjson: a pinned-snapshot (asOfSave/sinceSave) table cannot " +
        "be streamed — tail the live table instead (startingSave replays " +
        "committed history as CDC before tailing)")
    require(!cdcDeletes || startingSave.isDefined,
      "graftjson: cdcDeletes replays committed history — it needs " +
        "startingSave (the live tail is append-only and never emits " +
        "deletes)")
    new JsonDocMicroBatchStream(SparkSession.active, checkpointLocation,
      ps, whole, t, full, required, pushed, maxSplitBytes,
      maxFilesPerTrigger, maxBytesPerTrigger, startingSave,
      // streaming plans resolve `_file` through the relation's
      // metadata output but never call pruneColumns (no
      // V2ScanRelationPushDown for micro-batch), so the stream cannot
      // know whether the column was referenced. Whenever the table
      // OFFERS it (not shadowed by a data field), the stream appends
      // the trailing field unconditionally: the analyzer appends the
      // metadata attribute LAST, so a referencing plan binds it
      // exactly, and a non-referencing plan's ordinal-bound
      // projection never reads the extra trailing field — one
      // zero-copy JoinedRow constant per partition either way
      appendFilePath = !cdcDeletes &&
        !full.fieldNames.contains(JsonDocSource.FileColName),
      cdcDeletes = cdcDeletes)
  }
  override def description(): String =
    s"graftjson ${ps.mkString(",")} ReadSchema: ${required.simpleString} " +
      s"PushedFilters: [${pushed.mkString(", ")}]" +
      (if (zones.isDefined) s" ZoneMaps: ${zones.get.size} files" else "") +
      (if (topExcludedActive.nonEmpty)
        s" TopNExcluded: ${topExcludedActive.size} files" else "") +
      dirPart.fold("")(s => s" DirPartitions: ${s.col} kept " +
        s"${partKept.map(_.size).getOrElse(s.dirs.size)}/${s.dirs.size} dirs") +
      snapshot.fold("")(n => s" Snapshot: $n")

  /** Planning-time statistics from state already in hand — the
    * LOAD-TIME listing (no namenode round-trip per plan) and the zone
    * map. Without this Spark prices a DSv2 scan at the default
    * `Long.Max`-ish size, so a KB-sized graftjson dimension is NEVER
    * chosen for an up-front broadcast (AQE can only rescue the join
    * after the full shuffle map stage has materialized); with it the
    * optimizer's broadcast decision sees the real footprint.
    *
    *  - sizeInBytes: bytes of the files a planning-time zone skip
    *    would keep (same provably-empty reasoning the partition
    *    planner applies — estimating from data the scan will not read
    *    would overprice every pruned query), scaled by the
    *    required-to-full default row width: column pruning ships
    *    narrower rows than the NDJSON bytes that encode them.
    *  - numRows: the zone maps' exact per-file unit counts, offered
    *    only when every kept file carries one and no filter is in
    *    play (a filtered scan emits fewer rows; an overstated exact
    *    count would mislead the join-side estimates the other way).
    *
    * Estimates, not answers: staleness here can only mis-price a
    * plan, never change a result, so no fingerprint re-verification
    * is needed (the aggregate-pushdown path, which ANSWERS queries
    * from zones, keeps its re-listing gate). */
  override def estimateStatistics()
      : org.apache.spark.sql.connector.read.Statistics = {
    val skippable = offered ++ runtimeOffered
    // dirPartitions: price only the kept directories' files — the
    // scan will never read the pruned subtrees, and a partition-
    // pruned dimension should look exactly as broadcast-small as it is
    val population = partKeptPrefixes.fold(fingerprint)(pfx =>
      fingerprint.filter { case (p, _, _) => pfx.exists(p.startsWith) })
    val kept = population.filterNot { case (p, l, m) =>
      // TopN/Limit exclusions shrink the scan exactly like zone skips
      // do — counting excluded files would overstate the "exact" row
      // count against this method's own never-overstate rule
      topExcludedActive.get(p).contains((l, m)) ||
        zones.exists(zm =>
          skippable.nonEmpty &&
            zm.get(p).exists(z =>
              !z.dirty &&
                skippable.exists(ZoneSkip.provablyEmpty(_, z, zonePaths))))
    }
    val bytes = kept.iterator.map(_._2).sum
    val fullW = full.defaultSize
    val ratio =
      if (fullW <= 0) 1.0
      else math.min(1.0, required.defaultSize.toDouble / fullW)
    val size =
      if (bytes == 0) 0L else math.max(1L, (bytes * ratio).toLong)
    val rows: Option[Long] =
      if (skippable.isEmpty && pushed.isEmpty) zones.flatMap { zm =>
        val counted = kept.flatMap { case (p, _, _) => zm.get(p) }
        if (counted.size == kept.size)
          Some(counted.iterator.map(_.units).sum)
        else None
      } else None
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(size)
      override def numRows(): java.util.OptionalLong =
        rows.fold(java.util.OptionalLong.empty())(java.util.OptionalLong.of)
    }
  }
  override def planInputPartitions(): Array[InputPartition] = {
    val spark = SparkSession.active
    val conf = spark.sparkContext.hadoopConfiguration
    val codecs =
      new org.apache.hadoop.io.compress.CompressionCodecFactory(conf)
    // session split size unless the option overrides; clamped ≥1 MB so
    // a mis-set option cannot plan thousands of splits per small file
    val target = math.max(1L << 20,
      maxSplitBytes.getOrElse(
        spark.sessionState.conf.filesMaxPartitionBytes))
    // zone-map file skipping: the pushed set is a CONJUNCTION (Spark
    // splits the query's filters into top-level conjuncts), so one
    // conjunct provably empty over a file's zone excludes the whole
    // file. Runtime (join-derived) filters take part too — Spark
    // re-plans partitions after filter(). Dirty files (parse
    // anomalies during the stats walk) are never skipped, nor are
    // files absent from the zone map (written after inference ran),
    // nor — the stale guard — files whose CURRENT (length, mtime)
    // differs from the load-time fingerprint the zone was built for:
    // a post-load append would otherwise be pruned by bounds that
    // never saw its rows (review r11)
    val skippable = offered ++ runtimeOffered
    def zoneSkips(p: String, len: Long, mtime: Long): Boolean =
      zones.exists(zm =>
        skippable.nonEmpty &&
          fpMap.get(p).contains((len, mtime)) &&
          zm.get(p).exists(z =>
            !z.dirty && skippable.exists(ZoneSkip.provablyEmpty(_, z, zonePaths))))
    // a time-travel scan reads its resolved snapshot, never the live
    // listing (which is a later version of the table); a partition-
    // pruned scan LISTS ONLY the kept directories (scanPaths) — the
    // excluded subtrees are never listed or statted
    val population =
      if (snapshot.isDefined) fingerprint
      else JsonDocSource.listFiles(spark, liveScanPaths(spark))
    population.flatMap { case (p, len, mtime) =>
      if (topExcludedActive.get(p).contains((len, mtime)) ||
        zoneSkips(p, len, mtime)) {
        JsonDocSource.zoneSkippedFiles.incrementAndGet()
        Seq.empty[InputPartition]
      } else {
        val splittable = !whole &&
          codecs.getCodec(new org.apache.hadoop.fs.Path(p)) == null
        if (!splittable || len <= target)
          Seq(JsonDocPartition(p, 0L, len): InputPartition)
        else (0L until len by target).map(s =>
          JsonDocPartition(p, s, math.min(target, len - s)): InputPartition)
      }
    }.toArray
  }
  override def createReaderFactory(): PartitionReaderFactory = {
    // ship the SESSION's Hadoop conf to the readers, one broadcast per
    // job: a fresh executor Configuration would drop every
    // spark.hadoop.* setting (S3 credentials/endpoints, codec config)
    // that planning used
    val base = JsonDocReaderFactory(whole, t, full, required,
      pushed ++ runtimePushed,
      graft.ops.Fs.broadcastConf(SparkSession.active))
    val withPart: PartitionReaderFactory = (dirPart, partField) match {
      case (Some(s), Some(_)) =>
        PartAppendingReaderFactory(base, s.rootQualified, s.col, s.isLong)
      case _ => base
    }
    if (fileField.isEmpty) withPart
    else FileAppendingReaderFactory(withPart)
  }
}

/** Appends the derived partition-directory value (dirPartitions) —
  * one constant per partition, decoded from the file's directory
  * component, joined onto every data row with zero copy (the
  * [[FileAppendingReaderFactory]] mechanics). */
private case class PartAppendingReaderFactory(inner: PartitionReaderFactory,
                                              rootQualified: String,
                                              col: String,
                                              isLong: Boolean)
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val r = inner.createReader(p)
    val suffix = InternalRow(DirPartitions.valueOf(rootQualified, col,
      isLong, p.asInstanceOf[JsonDocPartition].path) match {
      case null => null
      case l: java.lang.Long => l.longValue()
      case s: String => org.apache.spark.unsafe.types.UTF8String.fromString(s)
    })
    new PartitionReader[InternalRow] {
      private val joined =
        new org.apache.spark.sql.catalyst.expressions.JoinedRow
      override def next(): Boolean = r.next()
      override def get(): InternalRow = joined(r.get(), suffix)
      override def close(): Unit = r.close()
    }
  }
}

/** Appends the `_file` metadata value — one constant per partition,
  * joined onto every data row with zero copy ([[JoinedRow]]); the
  * data reader is untouched, so every pruning/pushdown/materialize
  * contract holds verbatim. */
private case class FileAppendingReaderFactory(inner: PartitionReaderFactory)
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val r = inner.createReader(p)
    val suffix = InternalRow(
      org.apache.spark.unsafe.types.UTF8String.fromString(
        p.asInstanceOf[JsonDocPartition].path))
    new PartitionReader[InternalRow] {
      private val joined =
        new org.apache.spark.sql.catalyst.expressions.JoinedRow
      override def next(): Boolean = r.next()
      override def get(): InternalRow = joined(r.get(), suffix)
      override def close(): Unit = r.close()
    }
  }
}

private case class JsonDocPartition(path: String, start: Long, length: Long)
    extends InputPartition

/** A file-level RETRACTION in a `cdcDeletes` change feed: the named
  * file's previous form died at its save. No bytes are read — the
  * reader emits ONE all-null row carrying (`_file`=path,
  * `_change_type`='delete'). */
private case class CdcRemovePartition(path: String) extends InputPartition

/** `cdcDeletes=true` reader: data partitions ride as `insert` rows
  * with the (file, change_type) pair joined on zero-copy (the
  * [[FileAppendingReaderFactory]] mechanics); [[CdcRemovePartition]]s
  * emit one synthetic `delete` row whose data columns are all null. */
private case class CdcAppendingReaderFactory(inner: JsonDocReaderFactory,
                                             dataWidth: Int)
    extends PartitionReaderFactory {
  private def utf8(s: String) =
    org.apache.spark.unsafe.types.UTF8String.fromString(s)
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    p match {
      case CdcRemovePartition(path) =>
        val row = new org.apache.spark.sql.catalyst.expressions
          .GenericInternalRow(dataWidth + 2)
        row.update(dataWidth, utf8(path))
        row.update(dataWidth + 1, utf8("delete"))
        new PartitionReader[InternalRow] {
          private var emitted = false
          override def next(): Boolean =
            if (emitted) false else { emitted = true; true }
          override def get(): InternalRow = row
          override def close(): Unit = ()
        }
      case part: JsonDocPartition =>
        val r = inner.createReader(part)
        val suffix = InternalRow(utf8(part.path), utf8("insert"))
        new PartitionReader[InternalRow] {
          private val joined =
            new org.apache.spark.sql.catalyst.expressions.JoinedRow
          override def next(): Boolean = r.next()
          override def get(): InternalRow = joined(r.get(), suffix)
          override def close(): Unit = r.close()
        }
    }
}

private case class JsonDocReaderFactory(whole: Boolean, t: HType,
                                        full: StructType,
                                        required: StructType,
                                        pushed: Array[org.apache.spark.sql.sources.Filter],
                                        conf: Broadcast[graft.ops.Fs.SerializableConf])
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val part = p.asInstanceOf[JsonDocPartition]
    new JsonDocReader(part, whole, t, full, required, pushed, conf.value.value)
  }
}

/** Early-skip evaluation of simple source filters against the
  * materialized EXTERNAL row (pre-Catalyst). Supported: null probes,
  * comparisons and IN on top-level atomic columns — types whose
  * external class is Comparable and whose filter literal Catalyst
  * hands over as the SAME class (the `supports` gate) — plus the
  * string prefix/suffix/contains probes on string columns. Everything
  * else stays residual. Comparison failing on an unexpected class
  * keeps the row (the residual Filter decides) — best-effort can drop
  * only rows it PROVES non-matching. */
private object JsonDocFilters {
  import org.apache.spark.sql.sources._
  import org.apache.spark.sql.types._

  private def atomicT(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | FloatType |
         DoubleType | StringType | BooleanType | TimestampType => true
    case _: DecimalType => true
    case _ => false
  }

  private def atomic(schema: StructType, name: String): Boolean =
    schema.fields.exists(f => f.name == name && atomicT(f.dataType))

  private def stringCol(schema: StructType, name: String): Boolean =
    schema.fields.exists(f => f.name == name && f.dataType == StringType)

  /** [[supports]] over the dotted-PATH map ([[ZoneSkip.eligiblePaths]]
    * — top-level names plus structs-only nested chains, collision- and
    * depth-gated): the early-skip gate for the reader, which resolves
    * a nested attribute to its materialized LEAF value
    * ([[graft.infer.Materialize.convertAtPath]] — by construction the
    * same value the engine's GetStructField chain extracts from the
    * shipped row, so dropping on it is sound under the best-effort
    * contract). */
  def supportsPath(f: Filter, types: Map[String, DataType]): Boolean = {
    def ok(name: String): Boolean = types.get(name).exists(atomicT)
    def str(name: String): Boolean = types.get(name).contains(StringType)
    f match {
      case EqualTo(a, _) => ok(a)
      case GreaterThan(a, _) => ok(a)
      case GreaterThanOrEqual(a, _) => ok(a)
      case LessThan(a, _) => ok(a)
      case LessThanOrEqual(a, _) => ok(a)
      case IsNull(a) => ok(a)
      case IsNotNull(a) => ok(a)
      case In(a, _) => ok(a)
      case EqualNullSafe(a, _) => ok(a)
      case StringStartsWith(a, _) => str(a)
      case StringEndsWith(a, _) => str(a)
      case StringContains(a, _) => str(a)
      case Or(l, r) => supportsPath(l, types) && supportsPath(r, types)
      case And(l, r) => supportsPath(l, types) && supportsPath(r, types)
      case _ => false
    }
  }

  /** The EXACT subset of [[supports]]: filters whose [[keeps]]
    * evaluation provably coincides with the engine's own (keeps ⟺ the
    * predicate evaluates TRUE), so the source may claim them FULLY
    * pushed — no residual Filter — which is what lets Spark attempt
    * aggregate pushdown under a WHERE clause. Exactness holds when
    * the literal's runtime class matches the column's external class
    * bit-for-bit in comparison semantics:
    *   - integral columns (byte/short/int/long) with same-class
    *     literals — Comparable.compareTo IS the engine's ordering;
    *   - string columns — [[keeps]] compares UTF-8-sanitized
    *     code-points, exactly UTF8String's binary order, and UTF-8's
    *     self-synchronization makes char-level prefix/suffix/contains
    *     coincide with the engine's byte-level probes;
    *   - boolean columns with Boolean literals;
    *   - IsNull/IsNotNull on any atomic column (only null-ness
    *     matters);
    *   - In with every element null-or-matching-class (a null element
    *     yields SQL null for non-matching rows — dropped either way);
    *   - And/Or of exact legs (keeps ⟺ TRUE composes through both).
    * Deliberately excluded: float/double (NaN: compareTo says equal,
    * SQL says not), decimal and timestamp (literal class varies by
    * plan shape), and every nested attribute (keeps indexes top-level
    * columns only). */
  def exact(f: Filter, schema: StructType): Boolean = {
    // plain top-level names only: an UNQUOTED dotted attribute is a
    // nested chain (never exact), and resolving it against a
    // literal-dot field name would evaluate the wrong column with no
    // residual to correct it; quoted names never match field names
    def plain(name: String): Boolean =
      !name.contains('.') && !name.contains('`')
    def cls(name: String, v: Any): Boolean = v != null && plain(name) &&
      schema.fields.find(_.name == name).exists(fd => (fd.dataType, v) match {
        case (ByteType, _: java.lang.Byte) => true
        case (ShortType, _: java.lang.Short) => true
        case (IntegerType, _: java.lang.Integer) => true
        case (LongType, _: java.lang.Long) => true
        case (StringType, _: String) => true
        case (BooleanType, _: java.lang.Boolean) => true
        case _ => false
      })
    def exactCol(name: String): Boolean =
      plain(name) &&
        schema.fields.exists(fd => fd.name == name && (fd.dataType match {
          case ByteType | ShortType | IntegerType | LongType | StringType |
               BooleanType => true
          case _ => false
        }))
    f match {
      case IsNull(a) => plain(a) && atomic(schema, a)
      case IsNotNull(a) => plain(a) && atomic(schema, a)
      case EqualTo(a, v) => cls(a, v)
      case EqualNullSafe(a, v) =>
        (v == null && plain(a) && atomic(schema, a)) || cls(a, v)
      case GreaterThan(a, v) => cls(a, v)
      case GreaterThanOrEqual(a, v) => cls(a, v)
      case LessThan(a, v) => cls(a, v)
      case LessThanOrEqual(a, v) => cls(a, v)
      case In(a, vs) => exactCol(a) && vs.forall(v => v == null || cls(a, v))
      case StringStartsWith(a, _) => plain(a) && stringCol(schema, a)
      case StringEndsWith(a, _) => plain(a) && stringCol(schema, a)
      case StringContains(a, _) => plain(a) && stringCol(schema, a)
      case Or(l, r) => exact(l, schema) && exact(r, schema)
      case And(l, r) => exact(l, schema) && exact(r, schema)
      case _ => false
    }
  }

  def supports(f: Filter, schema: StructType): Boolean = f match {
    case EqualTo(a, _) => atomic(schema, a)
    case GreaterThan(a, _) => atomic(schema, a)
    case GreaterThanOrEqual(a, _) => atomic(schema, a)
    case LessThan(a, _) => atomic(schema, a)
    case LessThanOrEqual(a, _) => atomic(schema, a)
    case IsNull(a) => atomic(schema, a)
    case IsNotNull(a) => atomic(schema, a)
    case In(a, _) => atomic(schema, a)
    case EqualNullSafe(a, _) => atomic(schema, a)
    case StringStartsWith(a, _) => stringCol(schema, a)
    case StringEndsWith(a, _) => stringCol(schema, a)
    case StringContains(a, _) => stringCol(schema, a)
    // composites of supported leaves are sound: a row provably fails
    // an Or only when it provably fails BOTH sides, an And when
    // EITHER side provably fails. Not is deliberately absent —
    // keeps() means "may match", and negating "may match" does not
    // give "provably fails".
    case Or(l, r) => supports(l, schema) && supports(r, schema)
    case And(l, r) => supports(l, schema) && supports(r, schema)
    case _ => false
  }

  private def cmp(x: Any, v: Any): Option[Int] = (x, v) match {
    case (a: java.math.BigDecimal, b: java.math.BigDecimal) =>
      Some(a.compareTo(b)) // scale-insensitive, unlike equals
    // strings must compare the way the RESIDUAL filter will: Spark
    // materializes through UTF8String (UTF-8 bytes — code-POINT
    // order, unpaired surrogates replaced with '?'), while Java
    // compareTo is UTF-16 code-UNIT order — they disagree for emoji
    // vs [U+E000, U+FFFF] and for ill-formed input, and an early skip
    // decided in the wrong order DROPS rows the engine would keep
    // (review r11)
    case (a: String, b: String) =>
      Some(ZoneStats.cpCompare(ZoneStats.utf8Sanitize(a),
        ZoneStats.utf8Sanitize(b)))
    // float/double must compare the way the ENGINE does (nan-safe:
    // NaN == NaN, NaN greater than everything, and -0.0 == 0.0).
    // Boxed compareTo orders -0.0 BELOW 0.0, so an early skip decided
    // on it would drop rows the engine's `-0.0 = 0.0 → TRUE` keeps —
    // and the residual never sees a dropped row. Adding +0.0
    // canonicalizes the zero sign (NaN stays NaN) before the
    // primitive compare, whose NaN ordering already matches Spark's.
    case (a: java.lang.Double, b: java.lang.Double) =>
      Some(java.lang.Double.compare(
        a.doubleValue + 0.0d, b.doubleValue + 0.0d))
    case (a: java.lang.Float, b: java.lang.Float) =>
      Some(java.lang.Float.compare(
        a.floatValue + 0.0f, b.floatValue + 0.0f))
    case (a: Comparable[_], b) if a.getClass == b.getClass =>
      Some(a.asInstanceOf[Comparable[Any]].compareTo(b))
    case _ => None
  }

  /** true = the row may match (ship it); false = provably filtered.
    * Null cell semantics mirror SQL's: a null comparison/IN/LIKE is
    * `null`, which a Filter drops — so dropping on null IS provable. */
  def keeps(f: Filter, row: org.apache.spark.sql.Row,
            idx: Map[String, Int]): Boolean = f match {
    case IsNull(a) => row.get(idx(a)) == null
    case IsNotNull(a) => row.get(idx(a)) != null
    case EqualTo(a, v) =>
      val x = row.get(idx(a)); x != null && cmp(x, v).forall(_ == 0)
    case EqualNullSafe(a, v) =>
      // <=> never yields SQL null: null literal matches exactly the
      // null cells; non-null literal behaves like EqualTo
      val x = row.get(idx(a))
      if (v == null) x == null
      else x != null && cmp(x, v).forall(_ == 0)
    case GreaterThan(a, v) =>
      val x = row.get(idx(a)); x != null && cmp(x, v).forall(_ > 0)
    case GreaterThanOrEqual(a, v) =>
      val x = row.get(idx(a)); x != null && cmp(x, v).forall(_ >= 0)
    case LessThan(a, v) =>
      val x = row.get(idx(a)); x != null && cmp(x, v).forall(_ < 0)
    case LessThanOrEqual(a, v) =>
      val x = row.get(idx(a)); x != null && cmp(x, v).forall(_ <= 0)
    case In(a, vs) =>
      // empty IN-list is provably false; an unknown-class element
      // makes cmp None → counted as a possible match (keep)
      val x = row.get(idx(a))
      x != null && vs.exists(v => v != null && cmp(x, v).forall(_ == 0))
    case StringStartsWith(a, p) => row.get(idx(a)) match {
      case null => false
      // probe in the materialized (UTF-8-sanitized) domain — see cmp
      case s: String => ZoneStats.utf8Sanitize(s)
        .startsWith(ZoneStats.utf8Sanitize(p))
      case _ => true // not provably non-matching — residual decides
    }
    case StringEndsWith(a, p) => row.get(idx(a)) match {
      case null => false
      // probe in the materialized (UTF-8-sanitized) domain — see cmp
      case s: String => ZoneStats.utf8Sanitize(s)
        .endsWith(ZoneStats.utf8Sanitize(p))
      case _ => true
    }
    case StringContains(a, p) => row.get(idx(a)) match {
      case null => false
      // probe in the materialized (UTF-8-sanitized) domain — see cmp
      case s: String => ZoneStats.utf8Sanitize(s)
        .contains(ZoneStats.utf8Sanitize(p))
      case _ => true
    }
    case Or(l, r) => keeps(l, row, idx) || keeps(r, row, idx)
    case And(l, r) => keeps(l, row, idx) && keeps(r, row, idx)
    case _ => true
  }
}

/** Per-split reader. Three shapes:
  *   - `whole`: the file's Reader streams into Jackson — ONE document,
  *     memory bounded by the parsed tree, not the text length;
  *   - compressed NDJSON: line reader over the codec stream, whole
  *     file (stream codecs are not seekable → plan, above, never
  *     splits them);
  *   - plain NDJSON byte-range split: seek to `start`, a non-zero
  *     start discards the first (possibly partial) line, then lines
  *     are consumed while the line's STARTING offset is ≤ the split
  *     end — the terminal line may read past `end` (its tail bytes
  *     belong to this split; the next split discards them). Exactly
  *     the Hadoop text-input contract, so every line lands in
  *     precisely one split.
  * Rows flow through ONE Jackson parse ([[Materialize.parseDoc]] —
  * the operator's own rule) and a MASKED conversion
  * ([[Materialize.convertPruned]]) of exactly the pruned required
  * schema plus full-typed cells for pushed-filter columns outside
  * it, then early-skip filter evaluation, projection to the required
  * width, and conversion to a generic `InternalRow` through
  * `CatalystTypeConverters` — no per-reader code generation. The rows
  * are not unsafe: `DataSourceV2Strategy` puts a `Project` above every
  * row-based scan (`ProjectExec` over `BatchScan` in `explain`), and
  * its unsafe projection is the one conversion to `UnsafeRow` (the
  * `_file`, partition-column and CDC factories' `JoinedRow`s rely on
  * it too). A fully-pruned scan (count(*)) skips the parse entirely —
  * a row per line is the whole contract. */
private class JsonDocReader(part: JsonDocPartition, whole: Boolean, t: HType,
                            full: StructType, required: StructType,
                            pushed: Array[org.apache.spark.sql.sources.Filter],
                            conf: org.apache.hadoop.conf.Configuration)
    extends PartitionReader[InternalRow] {

  private val hPath = new org.apache.hadoop.fs.Path(part.path)
  private val fs = hPath.getFileSystem(conf)
  private val codec =
    new org.apache.hadoop.io.compress.CompressionCodecFactory(conf)
      .getCodec(hPath)
  private val rawIn = fs.open(hPath)

  // split-range state (plain NDJSON only; MaxValue end = read-to-EOF)
  private val splitEnd: Long =
    if (whole || codec != null) Long.MaxValue else part.start + part.length
  private var pos: Long = part.start
  private val lineText = new org.apache.hadoop.io.Text()
  // whole-file stream, built EAGERLY so close() can release it: a
  // codec stream checked out inside next() and never closed leaked a
  // pooled native decompressor per file (review r11) — closing the
  // CompressionInputStream is what returns it to the CodecPool
  private val wholeIn: java.io.InputStream =
    if (!whole) null
    else if (codec == null) rawIn
    else codec.createInputStream(rawIn)
  private val lines: org.apache.hadoop.util.LineReader =
    if (whole) null
    else if (codec != null)
      new org.apache.hadoop.util.LineReader(codec.createInputStream(rawIn), conf)
    else {
      rawIn.seek(part.start)
      val lr = new org.apache.hadoop.util.LineReader(rawIn, conf)
      // a non-zero start is mid-someone-else's-line (or exactly at a
      // boundary the previous split already consumed past): discard
      // through the first newline
      if (part.start != 0) pos += lr.readLine(lineText)
      lr
    }

  /** next line, or null at end-of-split/EOF; a line beginning at
    * `pos == splitEnd` still belongs to this split (the next split's
    * skip-first discards it) — the `<=` of the Hadoop rule. */
  private def nextLine(): String = {
    if (pos > splitEnd) return null
    val consumed = lines.readLine(lineText)
    if (consumed == 0) null
    else { pos += consumed; lineText.toString }
  }

  private val rowShaped =
    Materialize.toMaterializableSparkType(t)
      .isInstanceOf[StructType]
  // the row this reader MATERIALIZES: the (possibly nested-pruned)
  // required schema, plus cells for pushed-filter columns outside it —
  // top-level refs as FULL-typed extra fields (pruned and full types
  // agree for atomic columns), NESTED refs as their materialized LEAF
  // values resolved by route (never by re-splitting the dotted
  // rendering, which a literal-dot field name would make ambiguous)
  private val extraRefs: Array[String] =
    pushed.flatMap(_.references).distinct
      .filterNot(required.fieldNames.contains)
  private val extraTop: Array[org.apache.spark.sql.types.StructField] =
    extraRefs.flatMap(n => full.fields.find(_.name == n))
  private val extraNested: Array[(String, List[String], HType)] = {
    lazy val routes = ZoneSkip.eligibleRoutes(t)
    extraRefs.filterNot(n => full.fields.exists(_.name == n))
      .flatMap(n => routes.get(n).map { case (segs, ht) => (n, segs, ht) })
  }
  private val baseWide = StructType(required.fields ++ extraTop)
  private val wide = StructType(baseWide.fields ++ extraNested.map {
    case (n, _, ht) =>
      org.apache.spark.sql.types.StructField(n,
        Materialize.toMaterializableSparkType(ht), nullable = true)
  })
  // keeps() indexes filter attributes in the materialized row
  private val wideIdx: Map[String, Int] = wide.fieldNames.zipWithIndex.toMap
  private val outWidth = required.length
  private val identityProjection = extraTop.isEmpty && extraNested.isEmpty
  // a fully-pruned, unfiltered scan (count(*)) needs no parse at all:
  // one row per input unit IS the contract
  private val needParse = wide.nonEmpty
  private val allNullBase: Row = Row.fromSeq(Seq.fill(baseWide.length)(null))
  // reused across rows: the converter copies the values into a fresh
  // InternalRow before next() is called again — so one Array[Any] (not
  // a fresh Seq + Row per row) serves every pruned projection this
  // task emits
  private val projBuf = new Array[Any](outWidth)
  private val toInternal =
    CatalystTypeConverters.createToCatalystConverter(required)

  /** One parsed unit → the wide external row (required ∪ filter
    * columns, nested filter leaves appended last). Struct-
    * materializing roots (plain structs AND the union struct<tag,u0,…>
    * encoding) convert through the masked walk; primitive/list roots
    * wrap in the single `value` cell. */
  private def unitToRow(node: com.fasterxml.jackson.databind.JsonNode): Row = {
    val base: Row =
      if (baseWide.isEmpty) allNullBase
      else if (rowShaped)
        Materialize.convertPruned(node, t, baseWide) match {
          case r: Row => r
          case _ => allNullBase // corrupt / non-object doc
        }
      else new GenericRow(baseWide.fields.map(wf =>
        Materialize.convertPruned(node, t, wf.dataType)): Array[Any])
    if (extraNested.isEmpty) base
    else {
      val cells = new Array[Any](wide.length)
      var i = 0
      while (i < baseWide.length) { cells(i) = base.get(i); i += 1 }
      var j = 0
      while (j < extraNested.length) {
        cells(i + j) = Materialize.convertAtPath(node, t, extraNested(j)._2)
        j += 1
      }
      new GenericRow(cells)
    }
  }

  private var current: InternalRow = _
  private var wholeDone = false

  @annotation.tailrec
  final override def next(): Boolean = {
    val row: Row =
      if (whole) {
        if (wholeDone) null
        else {
          wholeDone = true
          if (!needParse) allNullBase
          else {
            val reader = new java.io.BufferedReader(new java.io.InputStreamReader(
              wholeIn, java.nio.charset.StandardCharsets.UTF_8))
            unitToRow(Materialize.parseDoc(reader))
          }
        }
      } else {
        val doc = nextLine()
        if (doc == null) null // end of split — distinct from corrupt
        else if (!needParse) allNullBase
        else unitToRow(Materialize.parseDoc(doc))
      }
    if (row == null) { current = null; false }
    else if (!pushed.forall(JsonDocFilters.keeps(_, row, wideIdx))) next()
    else {
      val pruned =
        if (identityProjection) row
        else {
          var i = 0
          while (i < outWidth) {
            projBuf(i) = row.get(i)
            i += 1
          }
          new GenericRow(projBuf)
        }
      current = toInternal(pruned).asInstanceOf[InternalRow]
      true
    }
  }

  override def get(): InternalRow = current
  override def close(): Unit =
    // LineReader.close() and CompressionInputStream.close() both close
    // the wrapped rawIn (the codec stream additionally returns its
    // pooled decompressor); plain-whole falls through to rawIn itself
    if (lines != null) lines.close()
    else if (wholeIn != null) wholeIn.close()
    else rawIn.close()
}
