package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

import java.nio.charset.StandardCharsets

/** Small-file compaction for graftjson NDJSON tables — the
  * streaming-ingest layout (one file per epoch) and the many-small-
  * exports layout both accrete thousands of KB-sized files, and at
  * scale the per-file costs (listing RPCs, open/seek, one inference
  * walk and zone entry each, a minimum of one scan task each when
  * below split size) dominate the actual byte throughput. Compaction
  * concatenates small sibling files into ~targetBytes plain-NDJSON
  * files that the scan then byte-range SPLITS, so parallelism is
  * preserved while file counts drop by orders of magnitude.
  *
  * Byte-level concatenation preserves the scan's row semantics
  * exactly: the Hadoop line rule sees the same line sequence, with a
  * '\n' inserted between adjacent files whenever the earlier one does
  * not already end in '\n' (this also keeps a trailing bare-'\r'
  * terminator from swallowing a following empty line — spec-pinned).
  * Blank and corrupt lines ride along untouched; already-large files,
  * `.gz` files (codec selection is by extension and members would
  * stop splitting anyway), and hidden files are never rewritten
  * (mtime-pinned). NDJSON ONLY: a directory read with `whole=true`
  * treats each FILE as one row — compacting it would merge rows; the
  * table owner calls this, and owns that contract.
  *
  * Crash safety follows the store-wide marker discipline (cf.
  * `graft.ops.StoreTxn`, `InvertedIndex.compactSegments`), in its own
  * file-rename shape:
  *   1. merged files are staged under the hidden `_compaction/` dir —
  *      invisible to [[JsonDocSource.listFiles]] until committed;
  *   2. ONE marker file (`_compaction/commit`, written to a tmp name
  *      and atomically renamed) is the commit point: it names every
  *      staged file, its final name, and every original to remove;
  *   3. readers consult the marker per directory: originals named
  *      `rm` are hidden, staged files are surfaced (at the staged
  *      path until roll-forward renames them) — so ANY crash point
  *      yields exactly-once row visibility: before the marker the
  *      originals are read, after it the merged bytes are;
  *   4. maintenance (the next [[compact]] call) rolls the marker
  *      forward idempotently: rename staged → final, delete
  *      originals, drop the marker. Readers never write.
  * Single-writer maintenance is assumed, like every other store in
  * this repo. */
object JsonCompact {

  private[sources] val MarkerDirName = "_compaction"
  private[sources] val MarkerFileName = "commit"

  /** adds: (staged name under `_compaction/`, final name in the table
    * dir); removes: original file names in the table dir. */
  private[sources] final case class Marker(adds: Seq[(String, String)],
                                           removes: Seq[String])

  private[sources] def markerPath(dir: Path): Path =
    new Path(new Path(dir, MarkerDirName), MarkerFileName)

  /** Order-preserving DOUBLE proxy of a clusterable key leaf, for the
    * Z-order quantization: numbers by value (rounding past 2^53 costs
    * layout resolution only), strings by their first 8 UTF-8 bytes as
    * a big-endian integer — the same code-point prefix order the
    * engine's string comparisons use, so clustered files hold
    * contiguous raw-string ranges. Null for null/absent keys. */
  private[sources] def orderProxy(v: Any): java.lang.Double = v match {
    case null => null
    case n: java.lang.Byte => n.doubleValue
    case n: java.lang.Short => n.doubleValue
    case n: java.lang.Integer => n.doubleValue
    case n: java.lang.Long => n.doubleValue
    case n: java.math.BigDecimal => n.doubleValue
    case s: String =>
      val bytes = s.getBytes(StandardCharsets.UTF_8)
      var acc = 0L
      var i = 0
      while (i < 8) {
        acc = (acc << 8) | (if (i < bytes.length) bytes(i) & 0xffL else 0L)
        i += 1
      }
      // unsigned 64-bit → double (acc can wrap negative past 0x80…)
      java.lang.Double.valueOf(
        if (acc >= 0) acc.toDouble else acc.toDouble + 1.8446744073709552e19)
    case _ => null
  }

  /** Parse the commit marker, or None when the directory has none.
    * The marker only ever exists fully-written (tmp + atomic rename),
    * so a parse failure is corruption worth failing loudly on, not
    * guessing around. */
  private[sources] def readMarker(fs: FileSystem, dir: Path): Option[Marker] = {
    val mp = markerPath(dir)
    if (!fs.exists(mp)) return None
    val text =
      try graft.ops.Fs.readFullyUtf8(fs, mp)
      catch {
        // the marker's writer rolled it forward between our exists()
        // and this read (suite-context race find, r14): the raw
        // listing a caller took BEFORE the marker check is then a pure
        // PRE-commit snapshot — staged adds invisible under
        // `_compaction/`, removes still live — so answering "no
        // marker" serves the consistent old table; the next listing
        // sees the new one. Old or new, never a mix.
        case _: java.io.FileNotFoundException => return None
      }
    val (adds, removes) =
      text.split("\n").filter(_.nonEmpty).foldLeft(
        (Vector.empty[(String, String)], Vector.empty[String])) {
        case ((a, r), line) => line.split("\t", -1) match {
          case Array("add", staged, fin) => (a :+ (staged -> fin), r)
          case Array("rm", name) => (a, r :+ name)
          case other => throw new IllegalStateException(
            s"corrupt compaction marker line in $mp: '${other.mkString("\t")}'")
        }
      }
    Some(Marker(adds, removes))
  }

  private[sources] def writeMarker(fs: FileSystem, dir: Path, m: Marker): Unit = {
    val mp = markerPath(dir)
    val tmp = new Path(mp.getParent, MarkerFileName + ".tmp")
    val out = fs.create(tmp, true)
    try {
      val sb = new StringBuilder
      m.adds.foreach { case (s, f) => sb.append(s"add\t$s\t$f\n") }
      m.removes.foreach(n => sb.append(s"rm\t$n\n"))
      out.write(sb.toString.getBytes(StandardCharsets.UTF_8))
    } finally out.close()
    // rename IS the commit: a crash before it leaves only invisible
    // staging; after it, readers see the post-compaction rows
    if (!fs.rename(tmp, mp))
      throw new IllegalStateException(s"could not commit marker $mp")
  }

  /** Roll a pending marker forward: staged → final name, originals
    * deleted, marker dropped. Every step tolerates having already
    * happened, so replay after any crash converges. Returns true if
    * there was a marker. */
  def rollForward(spark: SparkSession, dir: String): Boolean = {
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    readMarker(fs, root) match {
      case None => false
      case Some(m) =>
        val stage = new Path(root, MarkerDirName)
        m.adds.foreach { case (staged, fin) =>
          val sp = new Path(stage, staged)
          if (fs.exists(sp)) {
            if (!fs.rename(sp, new Path(root, fin)))
              throw new IllegalStateException(s"could not publish $sp")
          } // else: already renamed by an earlier, interrupted replay
        }
        m.removes.foreach { n =>
          val p = new Path(root, n)
          if (fs.exists(p)) fs.delete(p, false)
        }
        fs.delete(markerPath(root), false)
        // drop the staging dir only if empty (a concurrent writer is
        // out of contract, but never destroy bytes on principle)
        if (Option(fs.listStatus(stage)).forall(_.isEmpty))
          fs.delete(stage, false)
        true
    }
  }

  final case class Report(mergedFiles: Int, mergedInto: Int,
                          untouched: Int, rolledForward: Boolean)

  final case class ReclusterReport(rewrittenFiles: Int, writtenFiles: Int,
                                   rolledForward: Boolean)

  /** Delete staging leftovers that no marker references — the debris
    * of a run that crashed BEFORE its commit point. Sound under the
    * single-writer maintenance contract: with no marker present,
    * nothing in `_compaction/` is reachable by any reader.
    *
    * One staging population is NOT lease-covered debris: the streaming
    * sink's epoch files (`stream-*`). The sink stages them DURING the
    * epoch and only takes the lease at commit, so a compact that wins
    * the lease between/inside epochs could otherwise sweep a LIVE
    * epoch's staging out from under its upcoming commit (VERDICT r13
    * #1). FRESH `stream-*` staging (younger than the lease TTL) is
    * therefore treated as live: maintenance fails LOUDLY instead of
    * sweeping — stop the stream (or outwait the TTL after a stream
    * crash) before compacting a tailed-into table. Stale `stream-*`
    * files are a dead stream's debris and sweep like everything else;
    * every other population is lease-covered for its whole write, so
    * by the time anyone else can acquire, it is ≥TTL old. */
  private def clearStaleStage(fs: FileSystem, root: Path): Unit = {
    val stage = new Path(root, MarkerDirName)
    if (readMarker(fs, root).isEmpty && fs.exists(stage)) {
      val entries = Option(fs.listStatus(stage)).getOrElse(Array.empty)
        // the writer lease is live coordination state, not debris —
        // and under the lease the debris claim is now ENFORCED, not
        // assumed: only the lease holder reaches this sweep
        .filterNot(_.getPath.getName == JsonLease.LeaseFileName)
      val now = System.currentTimeMillis()
      val liveEpoch = entries.filter(st =>
        st.getPath.getName.startsWith("stream-") &&
          now - st.getModificationTime < JsonLease.DefaultTtlMs)
      if (liveEpoch.nonEmpty) throw new IllegalStateException(
        s"graftjson: a streaming epoch appears to be staging into $root " +
          s"right now (${liveEpoch.length} fresh stream-* staged " +
          "file(s), e.g. " + liveEpoch.head.getPath.getName + ") — " +
          "maintenance must not sweep live epoch staging; stop the " +
          "stream before maintaining, or retry after the lease TTL if " +
          "it crashed")
      entries.foreach(st => fs.delete(st.getPath, false))
    }
  }

  /** Executor-side merge of one bin into one staged file: byte
    * concatenation with a '\n' inserted between adjacent files
    * whenever the earlier one does not already end in one (the rule
    * the scaladoc contracts). Runs inside a Spark task — the driver
    * never opens a data file. */
  private def mergeBin(conf: org.apache.hadoop.conf.Configuration,
                       stageDir: String, name: String,
                       files: Seq[(String, Long)]): Unit = {
    val sp = new Path(stageDir, name)
    val fs = sp.getFileSystem(conf)
    val out = fs.create(sp, true)
    try {
      val buf = new Array[Byte](1 << 20)
      var pendingSep = false
      files.foreach { case (path, len) =>
        if (len > 0) {
          if (pendingSep) out.write('\n')
          val in = fs.open(new Path(path))
          var last: Byte = '\n'
          try {
            var n = in.read(buf)
            while (n > 0) {
              out.write(buf, 0, n)
              last = buf(n - 1)
              n = in.read(buf)
            }
          } finally in.close()
          pendingSep = last != '\n'
        }
      }
    } finally out.close()
  }

  /** Compact this directory's immediate small plain files into
    * ~targetBytes merged NDJSON files. Non-recursive: nested dirs are
    * separate zones with their own markers — compact them separately.
    *
    * `refreshMeta=true` refreshes the durable planning metadata
    * ([[JsonMeta.save]]) in the SAME maintenance cycle, handing it the
    * post-swap file population this call already knows — the merged
    * finals plus the untouched survivors — so the whole cycle costs
    * ONE directory listing (spec-pinned) and the meta diff walks only
    * the merged files. Falls back to the meta's own listing when a
    * nested directory is present (this call is non-recursive and must
    * not feed the meta a partial population). */
  /** The post-swap file population for a maintenance-cycle meta
    * refresh, from the listing already in hand: every non-hidden data
    * file (gz included — the meta covers them) minus the names the
    * cycle removed, plus the files it added. Hidden dirs
    * (_graftjson_meta, _compaction) are pruned by every listing; a
    * real nested DATA dir returns None so JsonMeta falls back to its
    * own recursive listing. ONE shared copy — compact() and
    * recluster() must not drift on the one-listing contract. */
  private def postSwapListing(fs: FileSystem, root: Path,
                              children: Seq[org.apache.hadoop.fs.FileStatus],
                              goneNames: Set[String],
                              addedNames: Seq[String])
      : Option[Seq[(String, Long, Long)]] =
    if (children.exists(st => st.isDirectory && {
      val n = st.getPath.getName
      !n.startsWith("_") && !n.startsWith(".")
    })) None
    else Some((children.filter(st => st.isFile && {
      val n = st.getPath.getName
      !n.startsWith("_") && !n.startsWith(".") && !goneNames(n)
    }) ++ addedNames.map(n => fs.getFileStatus(new Path(root, n))))
      .map(st => (st.getPath.toString, st.getLen, st.getModificationTime))
      .sortBy(_._1))

  def compact(spark: SparkSession, dir: String,
              targetBytes: Long = 64L << 20,
              refreshMeta: Boolean = false): Report = {
    require(targetBytes > 0, "targetBytes must be positive")
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the writer lease makes the single-writer contract ENFORCED: a
    // concurrent write/compact/recluster/ingest fails loudly here
    // instead of corrupting the shared marker slot silently (r13)
    val lease = JsonLease.acquire(fs, root, "compact")
    try {
    val rolled = rollForward(spark, dir)
    // pre-commit staging debris from a CRASHED write/recluster/compact
    // (no marker exists — rollForward above consumed any committed one)
    // would otherwise persist forever on a compact-only table; safe
    // under the lease — only its holder reaches this sweep
    clearStaleStage(fs, root)

    val children = Option(fs.listStatus(root)).map(_.toSeq).getOrElse(Seq.empty)
    def metaListing(goneNames: Set[String], addedNames: Seq[String])
        : Option[Seq[(String, Long, Long)]] =
      postSwapListing(fs, root, children, goneNames, addedNames)
    val files = children.filter(st => st.isFile && {
      val n = st.getPath.getName
      !n.startsWith("_") && !n.startsWith(".") && !n.endsWith(".gz")
    })
    val (small, big) = files.partition(_.getLen < targetBytes)
    // sequential greedy packing in name order — stable, keeps
    // neighboring epochs adjacent, O(n) over a 100k-file listing
    val bins = {
      val out = Vector.newBuilder[Vector[org.apache.hadoop.fs.FileStatus]]
      var curr = Vector.empty[org.apache.hadoop.fs.FileStatus]
      var sum = 0L
      small.sortBy(_.getPath.getName).foreach { st =>
        if (curr.nonEmpty && sum + st.getLen > targetBytes) {
          out += curr; curr = Vector.empty; sum = 0L
        }
        curr :+= st; sum += st.getLen
      }
      if (curr.nonEmpty) out += curr
      out.result().filter(_.size >= 2)
    }
    if (bins.isEmpty) {
      if (refreshMeta)
        JsonMeta.saveWith(spark, dir,
          metaListing(Set.empty, Seq.empty), lease)
      return Report(0, 0, files.size, rolled)
    }

    val stage = new Path(root, MarkerDirName)
    fs.mkdirs(stage)
    // DISTRIBUTED merge: one Spark task per bin writes its staged
    // merged file — the byte throughput scales with the cluster, not
    // the driver's NIC (a driver-side copy loop was the one component
    // here whose execution would not survive a 100× file population).
    // The driver keeps only listing, packing, and marker I/O; it never
    // opens a data file. Lengths ship from the driver's listing so the
    // tasks stat nothing.
    val binSpecs = bins.map { bin =>
      val name = s"compact-${java.util.UUID.randomUUID().toString.take(12)}.json"
      (name, bin.map(st => (st.getPath.toString, st.getLen)))
    }
    val conf = graft.ops.Fs.broadcastConf(spark)
    val stageStr = stage.toString
    // tasks stage under ATTEMPT-unique names (taskAttemptId suffix):
    // a speculative or zombie attempt writing the same staged path as
    // the winner would interleave bytes on non-atomic-create stores
    // and the marker would commit a corrupt file (the JsonDocWrite
    // taskId-in-the-name invariant; review r12). collect() returns
    // the WINNING attempts' staged names; losers are unreferenced
    // debris the next clearStaleStage sweeps.
    val stagedNames: Map[String, String] = spark.sparkContext
      .parallelize(binSpecs, binSpecs.size)
      .map { case (name, files) =>
        val attempt = Option(org.apache.spark.TaskContext.get())
          .map(_.taskAttemptId()).getOrElse(0L)
        val staged = s"$name.a$attempt"
        mergeBin(conf.value.value, stageStr, staged, files)
        name -> staged
      }.collect().toMap
    // heartbeat after the (possibly long) merge job, then verify the
    // lease still carries our token before the commit point — a
    // post-TTL usurper makes us abort instead of double-publishing
    lease.touch()
    lease.verifyHeld()
    writeMarker(fs, root,
      Marker(binSpecs.map(s => stagedNames(s._1) -> s._1),
        bins.flatten.map(_.getPath.getName)))
    rollForward(spark, dir)
    if (refreshMeta)
      JsonMeta.saveWith(spark, dir, metaListing(
        bins.flatten.map(_.getPath.getName).toSet, binSpecs.map(_._1)),
        lease)
    Report(bins.map(_.size).sum, bins.size,
      files.size - bins.map(_.size).sum, rolled)
    } finally lease.release()
  }

  /** Recluster this directory's plain NDJSON files by a key path, so
    * the per-file zone maps become SELECTIVE: zone skipping can only
    * prune what the physical layout separates, and an ingest-ordered
    * corpus interleaves every key range through every file (each
    * file's bounds span the domain — nothing is provably empty
    * anywhere). A range-partitioned, within-partition-sorted rewrite
    * gives each output file a tight, non-overlapping key range; a
    * later `WHERE k = v` / range / IN then skips all but the files
    * whose range covers it. This is the Z-order/OPTIMIZE idea of the
    * lakehouse engines, re-expressed for NDJSON in one dimension.
    *
    * `byPath` is a dotted path from the zone vocabulary
    * ([[ZoneSkip.eligiblePaths]] — top-level or structs-only nested
    * chain, collision-free, within the depth cap) whose leaf is a
    * type zones can prune on (integral / decimal / plain string);
    * anything else fails fast with the eligible paths in the message.
    * Key extraction matches the engine exactly — one Jackson parse
    * per line, [[graft.infer.Materialize.convertAtPath]] — so a
    * corrupt or blank line (null key) survives the rewrite and sorts
    * into the null region, preserving the scan's unit multiset
    * verbatim. Already-big plain files are rewritten too (clustering
    * is global); `.gz` files are NOT (their bytes never rewrite —
    * compact-them-elsewhere contract), so a directory with `.gz`
    * epochs is only partially clustered. NDJSON only: whole-mode
    * directories treat one FILE as one row — reclustering would merge
    * rows; the table owner calls this and owns that contract.
    *
    * Crash safety is the compaction marker protocol unchanged: staged
    * writes under `_compaction/`, ONE atomic marker as the commit
    * point, reader-side marker application, idempotent roll-forward.
    * The rewrite itself is one Spark job — range exchange + per-
    * partition sort + one staged file per partition; the driver never
    * opens a data file. */
  def recluster(spark: SparkSession, dir: String, byPath: String,
                targetBytes: Long = 64L << 20,
                refreshMeta: Boolean = false): ReclusterReport =
    reclusterImpl(spark, dir, byPath, None, targetBytes, refreshMeta)

  /** TWO-dimensional cluster rewrite (Z-order / Morton interleave) —
    * the multi-key [[recluster]]: each line's two key leaves quantize
    * into a 16-bit rank space (double-space quantization against the
    * corpus min/max, the [[graft.ops.Sharding.zorderWrite]] rule —
    * layout-only, overflow-free) and bit-interleave into one Morton
    * value the range exchange clusters on. Every output file then
    * covers a tight RECTANGLE in (pathA, pathB) space, so point and
    * range probes on EITHER key zone-prune to a small file subset —
    * where the lexicographic two-key sort prunes only the first
    * (PlanQualitySpec's zorder demonstration, now for NDJSON).
    *
    * String keys order by their first-8-UTF-8-bytes proxy — exactly
    * the code-point prefix order of the engine's own comparisons, so
    * files hold contiguous string ranges and raw-string zone bounds
    * stay selective (ties beyond 8 bytes cost clustering resolution,
    * never correctness: z drives LAYOUT only). Null keys (missing
    * field, corrupt/blank line) get a null z and cluster together at
    * the range's head, preserving the unit multiset verbatim. Same
    * marker protocol, lease, and meta refresh as [[recluster]]. */
  def zorderRecluster(spark: SparkSession, dir: String,
                      pathA: String, pathB: String,
                      targetBytes: Long = 64L << 20,
                      refreshMeta: Boolean = false): ReclusterReport = {
    require(pathA != pathB, "zorderRecluster needs two distinct paths")
    reclusterImpl(spark, dir, pathA, Some(pathB), targetBytes, refreshMeta)
  }

  private def reclusterImpl(spark: SparkSession, dir: String, byPath: String,
                            andPath: Option[String],
                            targetBytes: Long,
                            refreshMeta: Boolean): ReclusterReport = {
    require(targetBytes > 0, "targetBytes must be positive")
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // enforced single-writer, like compact()
    val lease = JsonLease.acquire(fs, root, "recluster")
    try {
    val rolled = rollForward(spark, dir)
    clearStaleStage(fs, root)

    // resolve the key through the same route map zone consultation
    // uses — never by re-splitting the dotted rendering
    val (t, _, _) = JsonDocSource.inferCached(Seq(dir), whole = false)
    val routes = ZoneSkip.eligibleRoutes(t)
    def resolve(p: String): (List[String],
        org.apache.spark.sql.types.DataType) = {
      val (segs, leaf) = routes.getOrElse(p,
        throw new IllegalArgumentException(
          s"'$p' is not a clusterable path (need a collision-free " +
            s"structs-only chain); eligible: " +
            routes.keys.toSeq.sorted.mkString(", ")))
      val leafDt = graft.infer.Materialize.toMaterializableSparkType(leaf)
      val clusterable = leafDt match {
        case org.apache.spark.sql.types.ByteType |
             org.apache.spark.sql.types.ShortType |
             org.apache.spark.sql.types.IntegerType |
             org.apache.spark.sql.types.LongType |
             org.apache.spark.sql.types.StringType => true
        case _: org.apache.spark.sql.types.DecimalType => true
        case _ => false
      }
      require(clusterable,
        s"'$p' materializes as $leafDt — zones cannot prune it " +
          "(integral / decimal / plain string only)")
      (segs, leafDt)
    }
    val (segs, leafDt) = resolve(byPath)

    val children = Option(fs.listStatus(root)).map(_.toSeq).getOrElse(Seq.empty)
    val files = children.filter(st => st.isFile && {
      val n = st.getPath.getName
      !n.startsWith("_") && !n.startsWith(".") && !n.endsWith(".gz")
    })
    if (files.isEmpty) {
      if (refreshMeta) JsonMeta.saveWith(spark, dir, None, lease)
      return ReclusterReport(0, 0, rolled)
    }
    val totalBytes = files.iterator.map(_.getLen).sum
    val parts = math.max(1,
      math.ceil(totalBytes.toDouble / targetBytes).toInt)
    val stage = new Path(root, MarkerDirName)
    fs.mkdirs(stage)

    import org.apache.spark.sql.functions.{broadcast, col, floor, greatest, least, lit, max, min}
    val lines = spark.read.textFile(files.map(_.getPath.toString): _*)
    val tCap = t
    val segsCap = segs
    val keyUdf = org.apache.spark.sql.functions.udf(
      new org.apache.spark.sql.api.java.UDF1[String, Any] {
        override def call(line: String): Any =
          graft.infer.Materialize.convertAtPath(
            graft.infer.Materialize.parseDoc(line), tCap, segsCap)
      }, leafDt)
    // range exchange → per-partition sort: globally clustered output,
    // ~targetBytes per file; nulls (corrupt/blank lines) sort first
    val (arranged, releaseKeyed) = andPath match {
      case None =>
        (lines.toDF("line")
          .withColumn("_k", keyUdf(col("line")))
          .repartitionByRange(parts, col("_k"))
          .sortWithinPartitions("_k")
          .select("line"), () => ())
      case Some(p2) =>
        // Z-order: each key leaf → an order-preserving DOUBLE proxy
        // (numbers by value; strings by their first-8-UTF-8-bytes
        // integer — the engine's own code-point prefix order), corpus
        // min/max per dim via ONE tiny agg broadcast back, 16-bit
        // double-space quantization (the zorderWrite rule), Morton
        // interleave, then the same range exchange + sort on _z
        val (segs2, leafDt2) = resolve(p2)
        def proxyUdf(sg: List[String]) =
          org.apache.spark.sql.functions.udf(
            new org.apache.spark.sql.api.java.UDF1[String, java.lang.Double] {
              override def call(line: String): java.lang.Double =
                JsonCompact.orderProxy(graft.infer.Materialize.convertAtPath(
                  graft.infer.Materialize.parseDoc(line), tCap, sg))
            }, org.apache.spark.sql.types.DoubleType)
        val _ = leafDt2 // gate ran; the proxy handles both families
        // persist: the stats agg AND the shuffle both consume the
        // keyed frame, and each proxy column costs a full Jackson
        // parse per line — without the cache the rewrite pays the
        // dominant parse cost twice (review r13). Non-iterative
        // reuse ⇒ MEMORY_AND_DISK per the r10 cache discipline;
        // released below before the marker commit.
        val keyed = lines.toDF("line")
          .withColumn("_ka", proxyUdf(segsCap)(col("line")))
          .withColumn("_kb", proxyUdf(segs2)(col("line")))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val stats = keyed.agg(
          min(col("_ka")).as("alo"), max(col("_ka")).as("ahi"),
          min(col("_kb")).as("blo"), max(col("_kb")).as("bhi"))
        def quant(v: org.apache.spark.sql.Column,
                  lo: org.apache.spark.sql.Column,
                  hi: org.apache.spark.sql.Column) =
          least(floor((v - lo) * 65535.0d / greatest(hi - lo, lit(1.0d))),
            lit(65535.0d)).cast("long")
        (keyed.crossJoin(broadcast(stats))
          .withColumn("_z", graft.ops.Sharding.morton(
            quant(col("_ka"), col("alo"), col("ahi")),
            quant(col("_kb"), col("blo"), col("bhi"))))
          .repartitionByRange(parts, col("_z"))
          .sortWithinPartitions("_z")
          .select("line"),
          () => { keyed.unpersist(blocking = false); () })
    }
    val run = java.util.UUID.randomUUID().toString.take(12)
    val conf = graft.ops.Fs.broadcastConf(spark)
    val stageStr = stage.toString
    import spark.implicits._
    // staged names are ATTEMPT-unique (same rule as compact's bin
    // merges and JsonDocWrite): collect() returns the winning
    // attempts' names; losers are unreferenced stage debris
    val written = arranged.as[String].rdd
      .mapPartitionsWithIndex { (pid, it) =>
        if (it.isEmpty) Iterator.empty
        else {
          val name = f"recluster-$run-$pid%05d.json"
          val attempt = Option(org.apache.spark.TaskContext.get())
            .map(_.taskAttemptId()).getOrElse(0L)
          val staged = s"$name.a$attempt"
          val p = new Path(stageStr, staged)
          val ofs = p.getFileSystem(conf.value.value)
          val out = ofs.create(p, true)
          try it.foreach { l =>
            out.write(l.getBytes(StandardCharsets.UTF_8)); out.write('\n')
          } finally out.close()
          Iterator.single((name, staged))
        }
      }.collect().sortBy(_._1)
    releaseKeyed() // the staged bytes are durable; the cache is done
    // heartbeat + held check before the commit point (compact's rule)
    lease.touch()
    lease.verifyHeld()
    writeMarker(fs, root,
      Marker(written.map { case (n, s) => s -> n }.toSeq,
        files.map(_.getPath.getName)))
    rollForward(spark, dir)
    if (refreshMeta)
      // the post-swap population from state in hand — same one-listing
      // contract as compact(refreshMeta=true)
      JsonMeta.saveWith(spark, dir, postSwapListing(fs, root, children,
        files.map(_.getPath.getName).toSet, written.map(_._1).toSeq),
        lease)
    ReclusterReport(files.size, written.length, rolled)
    } finally lease.release()
  }
}
