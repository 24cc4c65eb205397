package graft.sources

import graft.SparkTestBase
import org.apache.spark.sql.functions._

import java.util.concurrent.{ConcurrentLinkedQueue, CyclicBarrier}
import java.util.concurrent.atomic.AtomicLong
import scala.util.Random

/** REAL-THREAD reader-vs-maintenance race harness (VERDICT r14 #1 —
  * the writer path has [[JsonLeaseRaceSpec]]; this is its reader
  * twin, the 32d611a marker-TOCTOU class on demand): barrier-started
  * READER threads — batch scans, zonemap/metadata-answered
  * aggregates, `asOfSave` and `sinceSave` history reads, and a
  * streaming-tail plan+read — race live writers, ingest epochs,
  * compactions, and vacuums against ONE table for 100 randomized
  * rounds. The contract under test:
  *
  *   - every read observes OLD-OR-NEW, NEVER A MIX: every write op
  *     lands exactly 3 ids (base, base+1, base+2) in one committed
  *     file, so any snapshot a reader returns must contain each batch
  *     ALL-OR-NOTHING, duplicate-free, with only registered ids —
  *     a torn listing, a half-applied marker, or a double-served
  *     compact output all surface as a partial or duplicated batch;
  *   - a reader that cannot get a consistent view fails LOUDLY with
  *     one of the NAMED error classes (mid-scan bytes reclaimed by
  *     maintenance, vacuumed/squashed history, drifted change-feed
  *     fingerprints) — any other failure class fails the spec;
  *   - metadata-answered aggregates obey the same snapshot algebra
  *     (every valid snapshot has count ≡ 0 and sum ≡ 0 mod 3 — the
  *     uniform-batch congruence that catches a single torn batch
  *     without knowing which subset of batches was visible).
  *
  * Ops are tiny on purpose (interleaving coverage, not volume), and
  * writer-side rejections reuse the lease spec's benign classes. */
class JsonReadRaceSpec extends SparkTestBase {

  /** Writer-side benign rejections — the lease contract's own
    * (JsonLeaseRaceSpec's list, same trades). */
  private val writerBenign = Seq(
    "locked by a concurrent", "lost the lease race",
    "lost the writer lease", "streaming epoch",
    "planning-metadata manifest", "could not publish")

  /** Reader-side NAMED loud classes — each one a documented
    * reader-vs-maintenance trade, never a wrong-rows path:
    * maintenance reclaims replaced bytes eagerly (mid-scan reads fail
    * loudly, retry converges); history below the vacuum horizon /
    * squashed by compaction / not yet minted; change-feed files
    * physically removed or fingerprint-drifted; a manifest not yet
    * written when the reader resolved. */
  private val readerBenign = Seq(
    "vacuum retention", "no longer reconstructible",
    "has no save", "cannot be reconstructed",
    "whose bytes were physically removed", "gone, not wrong",
    "was reused after the historical bytes", "drifted from its save-time",
    "cannot be resolved", // cdcResolve on a mid-squash segment
    // a multi-trigger tail whose consumed file was swapped by a racing
    // compact: the append-only contract's own named error ("run
    // maintenance on directories not being tailed") — in this harness
    // maintenance deliberately races the tail, so loud IS correct
    "must not run on a tailed directory", "append-only",
    "planning-metadata manifest", "empty manifest")

  /** Broad I/O substrings count as benign ONLY when the same message
    * names a path under the raced table (ADVICE r15 — an unscoped
    * "does not exist" would classify a novel wrong-rows failure
    * anywhere in the stack as a listing race): a scan can hit a file
    * maintenance just reclaimed, and a tailed listing can race a
    * file's delete between list and stat. */
  private val ioScoped = Seq(
    "FAILED_READ_FILE", "does not exist", "No such file")

  private def chain(t: Throwable): Seq[String] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .map(x => Option(x.getMessage).getOrElse("")).toSeq

  private def isBenign(msgs: Seq[String], base: Seq[String],
                       dirToken: String): Boolean =
    msgs.exists(m => base.exists(m.contains) ||
      ioScoped.exists(s => m.contains(s) && m.contains(dirToken)))

  test("100 randomized rounds of readers racing writers/compact/vacuum: old-or-new-never-a-mix, or a named loud error") {
    val dir = graft.TempRoots.path("read_race")
    val dirToken = new java.io.File(dir).getName
    new java.io.File(dir).mkdirs()
    // uniform 3-row batches make snapshot validity CHECKABLE: seed is
    // batch base 0 (ids 0,1,2), every writer claims the next base
    spark.range(3).select(col("id"), lit("seed").as("s"))
      .write.format("graftjson").mode("overwrite")
      .option("refreshMeta", "true").save(dir)
    val registered = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    registered.add(0L)
    val committed = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    Seq(0L, 1L, 2L).foreach(committed.add)
    // every draw comes from a Random of its own, seeded from (seed,
    // round, role): the main thread's op and reader picks, the writer
    // thread's options and each reader thread's save picks never
    // share a generator, so a round's draws replay from its seed
    val seed = 20260816L
    def roundSeed(round: Int): Long = seed * 1000L + round
    def rng(round: Int, role: String): Random =
      new Random(roundSeed(round) * 31L + role.hashCode)
    val nextBase = new AtomicLong(3L)
    val nextBatch = new AtomicLong(0L)
    val readerRuns = new AtomicLong(0L)
    val readerLoud = new AtomicLong(0L)
    val violations = new ConcurrentLinkedQueue[String]()

    /** The mix detector: a returned snapshot is valid iff its ids are
      * duplicate-free, all registered, and complete per 3-id batch. */
    def checkIds(ids: Seq[Long], ctx: String,
                 requireSeed: Boolean): Unit = {
      if (ids.distinct.size != ids.size)
        violations.add(s"$ctx: duplicated ids " +
          ids.groupBy(identity).filter(_._2.size > 1).keys.take(3).toSeq)
      val unknown = ids.filterNot(id => registered.contains((id / 3) * 3))
      if (unknown.nonEmpty)
        violations.add(s"$ctx: unregistered ids ${unknown.take(3)}")
      val partial = ids.groupBy(id => (id / 3) * 3)
        .filter(_._2.toSet.size != 3)
      if (partial.nonEmpty)
        violations.add(s"$ctx: TORN batches ${partial.keys.take(3).toSeq}")
      if (requireSeed && !ids.contains(0L))
        violations.add(s"$ctx: pre-committed seed batch missing")
    }

    def longs(rows: Array[org.apache.spark.sql.Row]): Seq[Long] =
      rows.map(_.getAs[Number](0).longValue).toSeq

    // ---- reader ops (each returns unit; violations go to the queue) --
    def batchScan(): Unit = {
      try {
        val ids = longs(spark.read.format("graftjson").load(dir)
          .select(col("id")).collect())
        checkIds(ids, "batchScan", requireSeed = true)
      } catch {
        case e: org.apache.spark.sql.AnalysisException
            if e.getMessage.contains("UNRESOLVED_COLUMN") =>
          // the LIVE table always holds the seed batch, so an id-less
          // inferred schema here means the reader's listing came up
          // empty or torn — a violation, reported with forensics (the
          // history readers' empty-change-feed convention does NOT
          // apply to a live load)
          val lf = JsonDocSource.listFiles(spark, Seq(dir))
          val root = new org.apache.hadoop.fs.Path(dir)
          val fs0 = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
          val raw = Option(fs0.listStatus(root)).getOrElse(Array.empty)
            .map(s => s"${s.getPath.getName}:${s.getLen}").toSeq
          violations.add(s"batchScan EMPTY-SCHEMA: post-hoc listing=" +
            s"${lf.map(x => x._1.split('/').last + ":" + x._2)} raw=$raw " +
            s"marker=${JsonCompact.readMarker(fs0, root)}")
      }
    }
    def metaAgg(): Unit = {
      // zonemaps=true offers the metadata COUNT/SUM pushdown when the
      // fingerprint holds and self-heals to a scan when it drifted —
      // either path must satisfy the snapshot congruence
      val r = spark.read.format("graftjson").option("zonemaps", "true")
        .load(dir)
        .agg(count(lit(1)).as("n"), sum(col("id")).as("s")).collect()(0)
      val (n, s0) = (r.getAs[Long]("n"), r.getAs[Number]("s").longValue)
      if (n % 3 != 0 || s0 % 3 != 0)
        violations.add(s"metaAgg: snapshot congruence broken n=$n sum=$s0")
    }
    /** History reads land on the empty-change-feed convention when
      * nothing changed (or an all-deleted save): schema-on-read gives
      * an id-less empty frame — a CONSISTENT view, asserted empty;
      * an id-less frame WITH rows is a violation. */
    def idsOrEmpty(df: org.apache.spark.sql.DataFrame,
                   ctx: String): Option[Seq[Long]] =
      if (df.schema.fieldNames.contains("id"))
        Some(longs(df.select(col("id")).collect()))
      else {
        if (df.count() != 0L)
          violations.add(s"$ctx: id-less schema with rows")
        None
      }
    def asOfRead(rnd: Random): Unit = {
      val saves = JsonMeta.saves(spark, dir)
      if (saves.nonEmpty) {
        val pick = saves(rnd.nextInt(saves.size))
        idsOrEmpty(spark.read.format("graftjson")
          .option("asOfSave", pick.toString).load(dir), s"asOfSave $pick")
          .foreach(checkIds(_, s"asOfSave $pick", requireSeed = false))
      }
    }
    def sinceRead(rnd: Random): Unit = {
      val saves = JsonMeta.saves(spark, dir)
      if (saves.nonEmpty) {
        val pick = saves(rnd.nextInt(saves.size))
        idsOrEmpty(spark.read.format("graftjson")
          .option("sinceSave", pick.toString).load(dir), s"sinceSave $pick")
          .foreach(checkIds(_, s"sinceSave $pick", requireSeed = false))
      }
    }
    def tailRead(): Unit = {
      // a FRESH tail (fresh checkpoint): list-admit-plan-read in one
      // trigger — the exact surface the 32d611a TOCTOU hit (a marker
      // vanishing between the listing's exists() and its read)
      val ckpt = graft.TempRoots.path(
        s"read_race_tail_${Thread.currentThread().getId}_" +
          s"${readerRuns.get()}")
      val (t, _, _) = JsonDocSource.inferCached(Seq(dir), whole = false)
      val sch = JsonDocSource.sparkSchemaOf(t)
      val st = new JsonDocMicroBatchStream(spark, ckpt, Seq(dir),
        whole = false, t, sch, sch, Array.empty, None, None, None)
      val off = st.latestOffset(st.initialOffset(),
        org.apache.spark.sql.connector.read.streaming.ReadLimit
          .allAvailable())
      val parts = st.planInputPartitions(st.initialOffset(), off)
      val factory = st.createReaderFactory()
      val idIdx = sch.fieldIndex("id")
      val idType = sch(idIdx).dataType
      val ids = Seq.newBuilder[Long]
      parts.foreach { p =>
        val r = factory.createReader(p)
        try while (r.next()) {
          val v = r.get().get(idIdx, idType)
          if (v != null) ids += v.asInstanceOf[Number].longValue
        } finally r.close()
      }
      checkIds(ids.result(), "streamTail", requireSeed = true)
    }

    def cdcRead(rnd: Random): Unit = {
      // a change-feed stream from a random save: catch-up batches plus
      // the live tail's first admission, read end to end — the reader
      // that races BOTH history resolution and the live listing
      val saves = JsonMeta.saves(spark, dir)
      if (saves.nonEmpty) {
        val pick = saves(rnd.nextInt(saves.size))
        val ckpt = graft.TempRoots.path(
          s"read_race_cdc_${Thread.currentThread().getId}_" +
            s"${readerRuns.get()}")
        val (t, _, _) = JsonDocSource.inferCached(Seq(dir), whole = false)
        val sch = JsonDocSource.sparkSchemaOf(t)
        val st = new JsonDocMicroBatchStream(spark, ckpt, Seq(dir),
          whole = false, t, sch, sch, Array.empty, None, None, None,
          Some(pick))
        val all = org.apache.spark.sql.connector.read.streaming.ReadLimit
          .allAvailable()
        // drain: one catch-up save per trigger, then the tail's first
        // admission; bounded by the save count plus one
        var off = st.latestOffset(st.initialOffset(), all)
        var prev = ""
        var spins = 0
        while (off.json != prev && spins < 20) {
          prev = off.json; off = st.latestOffset(off, all); spins += 1
        }
        val parts = st.planInputPartitions(st.initialOffset(), off)
        val factory = st.createReaderFactory()
        val idIdx = sch.fieldIndex("id")
        val idType = sch(idIdx).dataType
        val ids = Seq.newBuilder[Long]
        parts.foreach { p =>
          val r = factory.createReader(p)
          try while (r.next()) {
            val v = r.get().get(idIdx, idType)
            if (v != null) ids += v.asInstanceOf[Number].longValue
          } finally r.close()
        }
        // the baseline is swallowed, so the seed batch may be absent;
        // whatever IS emitted must still be whole committed batches
        checkIds(ids.result(), s"cdcStream from $pick",
          requireSeed = false)
      }
    }

    def mirrorApply(rnd: Random): Unit = {
      // the one real CONSUMER shape (VERDICT r16 #7): a fresh
      // CdcMirror — init at a committed save, one AvailableNow
      // foreachBatch drain of the cdcDeletes feed into the parquet
      // apply — racing live writers, compactions, and vacuums. The
      // mirror's own state is private per call; what races is every
      // read the feed makes of the shared table. A clean drain's
      // mirror must hold whole committed batches only (each source
      // file carries exactly one 3-id batch, and apply moves whole
      // partitions); a failed drain may leave the mirror PARTIAL
      // (whole batches missing — the next catch-up would heal it) but
      // never torn or duplicated.
      val saves = JsonMeta.saves(spark, dir)
      if (saves.nonEmpty) {
        val pick = saves(rnd.nextInt(saves.size))
        val tag = s"${Thread.currentThread().getId}_${readerRuns.get()}"
        val mirror = graft.TempRoots.path(s"read_race_mirror_$tag")
        val ckpt = graft.TempRoots.path(s"read_race_mckpt_$tag")
        graft.ops.CdcMirror.init(spark, dir, mirror, pick)
        val q = graft.ops.CdcMirror.writer(spark, dir, mirror, ckpt, pick)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        try q.awaitTermination()
        finally { try q.stop() catch { case _: Throwable => () } }
        idsOrEmpty(graft.ops.CdcMirror.read(spark, mirror),
          s"cdcMirror from $pick")
          .foreach(checkIds(_, s"cdcMirror from $pick",
            requireSeed = false))
      }
    }

    val readers: Vector[Random => Unit] =
      Vector(_ => batchScan(), _ => metaAgg(), asOfRead, sinceRead,
        _ => tailRead(), cdcRead, mirrorApply)

    // ---- writer ops (the lease spec's shapes, uniform 3-row batches) --
    def writerOp(pick: Random, rnd: Random): (Seq[Long], () => Seq[Long]) =
      pick.nextInt(5) match {
        case 0 | 1 =>
          val base = nextBase.getAndAdd(3L)
          registered.add(base)
          (Seq(base, base + 1, base + 2), () => {
            spark.range(3).select((col("id") + base).as("id"),
                lit("w").as("s"))
              .write.format("graftjson").mode("append")
              .option("refreshMeta", rnd.nextBoolean().toString).save(dir)
            Seq(base, base + 1, base + 2)
          })
        case 2 =>
          val base = nextBase.getAndAdd(3L)
          registered.add(base)
          val bid = nextBatch.getAndIncrement()
          (Seq(base, base + 1, base + 2), () => {
            graft.streaming.EventStreams.ingestEpoch(
              spark.range(3).select((col("id") + base).as("id"),
                lit("e").as("s")),
              dir, batchId = bid, opId = s"readrace$bid")
            Seq(base, base + 1, base + 2)
          })
        case 3 =>
          (Seq.empty[Long],
            () => { JsonCompact.compact(spark, dir, targetBytes = 1L << 20)
              Seq.empty })
        case 4 =>
          (Seq.empty[Long],
            () => { JsonMeta.vacuum(spark, dir, retainSaves = 2)
              Seq.empty })
      }

    val hardFailures = new ConcurrentLinkedQueue[Throwable]()
    // publish-then-lease-loss groups: all-or-nothing maybes (the lease
    // spec's at-least-once treatment — the data commit can land before
    // the auxiliary meta verify loses the lease)
    val maybeGroups = new ConcurrentLinkedQueue[Seq[Long]]()
    (1 to 100).foreach { round =>
      val main = rng(round, "main")
      val (writerIds, writer) = writerOp(main, rng(round, "writer"))
      val rs = Seq.fill(2)(readers(main.nextInt(readers.size)))
      val barrier = new CyclicBarrier(1 + rs.size)
      val results = new ConcurrentLinkedQueue[Seq[Long]]()
      val wt = new Thread(() => {
        barrier.await()
        try results.add(writer())
        catch {
          case t: Throwable =>
            if (!isBenign(chain(t), writerBenign, dirToken))
              hardFailures.add(t)
            else if (chain(t).exists(_.contains("lost the writer lease"))
              && writerIds.nonEmpty)
              maybeGroups.add(writerIds)
        }
      })
      val rts = rs.zipWithIndex.map { case (r, i) =>
        val rnd = rng(round, s"reader$i")
        new Thread(() => {
          barrier.await()
          readerRuns.incrementAndGet()
          try r(rnd)
          catch {
            case t: Throwable =>
              if (isBenign(chain(t), readerBenign, dirToken))
                readerLoud.incrementAndGet()
              else hardFailures.add(t)
          }
        })
      }
      (wt +: rts).foreach(_.start())
      (wt +: rts).foreach(_.join(120000))
      val at = s"round $round (round seed ${roundSeed(round)})"
      assert((wt +: rts).forall(!_.isAlive), s"$at: a racer hung")
      assert(hardFailures.isEmpty,
        s"$at: unexpected failure class: ${hardFailures.peek()}")
      assert(violations.isEmpty,
        s"$at: consistency violation: ${violations.peek()}")
      results.forEach(ids => ids.foreach(committed.add(_)))
    }
    // the harness actually read (not everything rejected or skipped)
    assert(readerRuns.get() >= 150, s"only ${readerRuns.get()} reader runs")
    // final fold == sequential replay of the committed writer ops —
    // the writer-side half of the contract, same as the lease spec
    // (incl. its all-or-nothing maybe treatment)
    import scala.jdk.CollectionConverters._
    val got = spark.read.format("graftjson").option("refresh", "true")
      .load(dir).select(col("id")).collect()
      .map(_.getAs[Number](0).longValue).toSet
    val acked = committed.asScala.toSet
    val maybes = maybeGroups.asScala.toSeq
    assert((acked -- got).isEmpty,
      s"acknowledged rows missing: ${(acked -- got).take(5)}")
    assert((got -- (acked ++ maybes.flatten)).isEmpty,
      s"rows from no acknowledged or maybe op: " +
        s"${(got -- (acked ++ maybes.flatten)).take(5)}")
    maybes.foreach { g =>
      val present = g.count(got.contains)
      assert(present == 0 || present == g.size,
        s"a publish-then-lease-loss op is TORN: $g, present $present")
    }
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(JsonLease.leasePath(root)), "a lease survived")
    assert(JsonCompact.readMarker(fs, root).isEmpty, "a marker survived")
  }
}
