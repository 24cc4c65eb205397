package graft.sources

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Durable planning metadata ([[JsonMeta]]): a fresh "JVM" (caches
  * cleared) plans a saved table with ZERO files walked, stale entries
  * re-walk exactly the diff, zones ride the meta (file skipping works
  * without any walk), corruption degrades to a full walk, and
  * compaction interacts by fingerprint. */
class JsonMetaSpec extends SparkTestBase {

  private def mkTable(name: String, n: Int): java.io.File = {
    val dir = new java.io.File(graft.TempRoots.path(name))
    dir.mkdirs()
    (1 to n).foreach { i =>
      val w = new java.io.PrintWriter(new java.io.File(dir, f"p$i%02d.json"))
      w.println(s"""{"id": ${i * 10}, "src": "s${i % 3}"}""")
      w.close()
    }
    dir
  }

  private def freshJvm(): Unit = {
    JsonDocSource.clearInferCache()
    JsonMeta.clearParsed()
  }

  private def walked[A](body: => A): (A, Long) = {
    val before = JsonDocSource.filesWalked.get()
    val r = body
    (r, JsonDocSource.filesWalked.get() - before)
  }

  /** Overwrite the meta manifest's TEXT through the Hadoop fs, keeping
    * data and checksum sidecar consistent — for simulating foreign
    * versions / corrupt content rather than torn local reads. */
  private def writeManifestText(dir: java.io.File, text: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(
      new java.io.File(new java.io.File(dir, "_graftjson_meta"),
        "manifest").toString)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(text.getBytes("UTF-8")) finally out.close()
  }

  test("a saved table plans walk-free in a fresh JVM; rows and schema intact") {
    val dir = mkTable("jm_basic", 6)
    val rep = JsonMeta.save(spark, dir.toString)
    assert(rep.total == 6 && rep.written == 6 && rep.segments == 1)
    freshJvm()
    val (rows, w) = walked {
      spark.read.format("graftjson").load(dir.toString)
        .select(col("id")).collect().map(_.getAs[Number](0).longValue).sorted
    }
    assert(w == 0L, s"saved table still walked $w files")
    assert(rows.toSeq == (1 to 6).map(_ * 10L))
  }

  test("zones ride the meta: zonemaps load skips files without any walk") {
    val dir = mkTable("jm_zones", 5)
    JsonMeta.save(spark, dir.toString)
    freshJvm()
    val (got, w) = walked {
      spark.read.format("graftjson").option("zonemaps", "true")
        .load(dir.toString)
        .where(col("id") === 30).select(col("src")).collect()
    }
    assert(w == 0L, s"zonemaps load walked $w files despite saved zones")
    assert(got.map(_.getString(0)).toSeq == Seq("s0"))
    // the equality filter plans a single split: the other files were
    // zone-pruned from metadata that never touched the data
    val q = spark.read.format("graftjson").option("zonemaps", "true")
      .load(dir.toString).where(col("id") === 30)
    assert(PlannedScan.splits(q) == 1)
  }

  test("stale entries re-walk exactly the diff; a re-save refreshes them") {
    val dir = mkTable("jm_stale", 4)
    JsonMeta.save(spark, dir.toString)
    // rewrite one file with different length (fingerprint-visible)
    val w1 = new java.io.PrintWriter(new java.io.File(dir, "p02.json"))
    w1.println("""{"id": 99999, "src": "rewritten"}"""); w1.close()
    freshJvm()
    val (rows, w) = walked {
      spark.read.format("graftjson").load(dir.toString)
        .select(col("id")).collect().map(_.getAs[Number](0).longValue).sorted
    }
    assert(w == 1L, s"expected only the rewritten file to walk, got $w")
    assert(rows.toSeq == Seq(10L, 30L, 40L, 99999L))
    // re-save: now walk-free again in another fresh JVM
    JsonMeta.save(spark, dir.toString)
    freshJvm()
    val (_, w2) = walked {
      spark.read.format("graftjson").load(dir.toString).count()
    }
    assert(w2 == 0L)
  }

  test("a corrupt manifest or segment degrades to a full walk, never a failure") {
    val dir = mkTable("jm_corrupt", 3)
    JsonMeta.save(spark, dir.toString)
    val metaDir = new java.io.File(dir, "_graftjson_meta")
    // corrupt every segment: lookup misses, planning walks
    metaDir.listFiles().filter(_.getName.startsWith("seg-")).foreach { f =>
      val w0 = new java.io.FileOutputStream(f)
      w0.write("not a java object stream".getBytes("UTF-8")); w0.close()
    }
    freshJvm()
    val (rows, w) = walked {
      spark.read.format("graftjson").load(dir.toString)
        .select(col("id")).collect().map(_.getAs[Number](0).longValue).sorted
    }
    assert(w == 3L, "corrupt segments should force a full walk")
    assert(rows.toSeq == Seq(10L, 20L, 30L))
    // corrupt manifest too: same degradation
    val mp = new java.io.File(metaDir, "manifest")
    val w1 = new java.io.FileOutputStream(mp)
    w1.write("{not json".getBytes("UTF-8")); w1.close()
    freshJvm()
    val (_, w2) = walked {
      spark.read.format("graftjson").load(dir.toString).count()
    }
    assert(w2 == 3L, "corrupt manifest should force a full walk")
  }

  test("save cost is proportional to the diff: one appended file writes one entry") {
    val dir = mkTable("jm_diff", 6)
    assert(JsonMeta.save(spark, dir.toString).written == 6)
    // no change → nothing serialized, no new segment
    val again = JsonMeta.save(spark, dir.toString)
    assert(again.written == 0 && again.segments == 1)
    // one appended file → exactly one entry in one new segment
    val w = new java.io.PrintWriter(new java.io.File(dir, "p99.json"))
    w.println("""{"id": 990, "src": "s9"}"""); w.close()
    val rep = JsonMeta.save(spark, dir.toString)
    assert(rep.total == 7 && rep.written == 1 && rep.segments == 2,
      s"expected a 1-entry diff segment, got $rep")
    // the segmented meta still serves the whole table walk-free
    freshJvm()
    val (cnt, walkedN) = walked {
      spark.read.format("graftjson").load(dir.toString).count()
    }
    assert(cnt == 7L && walkedN == 0L)
  }

  test("segments compact past the cap; deleted files' entries drop; old readers degrade") {
    val dir = mkTable("jm_compactseg", 2)
    JsonMeta.save(spark, dir.toString)
    // accrete diff segments past MaxSegments; the save that sees the
    // cap reached folds everything back into ONE segment
    val reports = (1 to JsonMeta.MaxSegments + 2).map { i =>
      val w = new java.io.PrintWriter(new java.io.File(dir, f"x$i%02d.json"))
      w.println(s"""{"id": ${1000 + i}, "src": "sx"}"""); w.close()
      JsonMeta.save(spark, dir.toString)
    }
    assert(reports.exists(_.compacted), s"cap never triggered: $reports")
    assert(reports.forall(_.segments <= JsonMeta.MaxSegments))
    // diff segments between compactions carry exactly one entry
    assert(reports.filterNot(_.compacted).forall(_.written == 1))
    // the compacting save rewrote the live table and deleted the
    // unreferenced segment files
    val afterCompact = reports.zipWithIndex.find(_._1.compacted).get
    assert(afterCompact._1.written == afterCompact._1.total)
    // delete a file: its stale entry lingers harmlessly (fingerprint
    // misses) until the next compaction drops it
    assert(new java.io.File(dir, "p01.json").delete())
    val live = 1 + JsonMeta.MaxSegments + 2
    freshJvm()
    val (cnt, w0) = walked {
      spark.read.format("graftjson").load(dir.toString).count()
    }
    assert(cnt == live.toLong && w0 == 0L,
      s"stale deleted-file entry must not resurrect rows (count $cnt, walked $w0)")
    // force the next compaction: the merged segment holds ONLY live files
    (1 to JsonMeta.MaxSegments).foreach { i =>
      val w = new java.io.PrintWriter(new java.io.File(dir, f"y$i%02d.json"))
      w.println(s"""{"id": ${2000 + i}, "src": "sy"}"""); w.close()
      JsonMeta.save(spark, dir.toString)
    }
    val repC = JsonMeta.save(spark, dir.toString)
    assert(repC.total == live + JsonMeta.MaxSegments)
    val segFiles = new java.io.File(dir, "_graftjson_meta")
      .listFiles().filter(_.getName.startsWith("seg-"))
    assert(segFiles.length == repC.segments,
      s"unreferenced segments must be deleted: ${segFiles.length} files vs ${repC.segments} refs")
  }

  test("an orphan segment (crash between segment write and manifest commit) is swept at compaction") {
    val dir = mkTable("jm_orphan", 2)
    JsonMeta.save(spark, dir.toString)
    val metaDir = new java.io.File(dir, "_graftjson_meta")
    // a crashed save's segment no manifest ever referenced — a
    // refs-only sweep would keep it forever
    val orphan = new java.io.File(metaDir, "seg-orphan00000.bin")
    val w = new java.io.FileOutputStream(orphan)
    w.write(Array.fill[Byte](64)(7)); w.close()
    // drive saves to the compaction point
    (1 to JsonMeta.MaxSegments + 1).foreach { i =>
      val pw = new java.io.PrintWriter(new java.io.File(dir, f"o$i%02d.json"))
      pw.println(s"""{"id": ${3000 + i}, "src": "so"}"""); pw.close()
      JsonMeta.save(spark, dir.toString)
    }
    assert(!orphan.exists, "compaction must sweep orphan segments")
    // planning still healthy after the sweep
    freshJvm()
    val (cnt, w0) = walked {
      spark.read.format("graftjson").load(dir.toString).count()
    }
    assert(cnt == (2 + JsonMeta.MaxSegments + 1).toLong && w0 == 0L)
  }

  test("a CORRUPT manifest fails mutators loudly (history preserved); readers still degrade to a walk") {
    // review r14: the version-bump sweep must fire only on DECIDABLE
    // causes — a transient/corrupt manifest read during save() would
    // otherwise silently reset save ids AND physically delete every
    // referenced segment
    val dir = mkTable("jm_corrupt_manifest", 3)
    JsonMeta.save(spark, dir.toString)
    val metaDir = new java.io.File(dir, "_graftjson_meta")
    val segsBefore = metaDir.listFiles().filter(_.getName.startsWith("seg-"))
      .map(_.getName).toSet
    // corrupt CONTENT written through the Hadoop fs (data + checksum
    // sidecar stay consistent — the corruption is the JSON, not a
    // test-harness crc artifact)
    writeManifestText(dir, "{not json at all")
    freshJvm()
    // mutators refuse
    val e = intercept[IllegalStateException](JsonMeta.save(spark, dir.toString))
    assert(e.getMessage.contains("refusing to reset"), e.getMessage)
    intercept[IllegalStateException](
      JsonMeta.vacuum(spark, dir.toString, retainSaves = 1))
    // the history segments survived the refusal
    val segsAfter = metaDir.listFiles().filter(_.getName.startsWith("seg-"))
      .map(_.getName).toSet
    assert(segsAfter == segsBefore, "a refused mutator touched segments")
    // readers degrade: full walk, correct rows, no failure (fresh JVM
    // again — the refused save above already walked the files while
    // assembling its diff, which is correct behavior, just warm)
    freshJvm()
    val (cnt, w) = walked {
      spark.read.format("graftjson").load(dir.toString).count()
    }
    assert(cnt == 3L && w == 3L)
  }

  test("a format-version bump sweeps the superseded old-version segments at the first new save") {
    // ADVICE r13: an old-version manifest reads as absent, the next
    // save rewrites fresh — the old segment files must not orphan in
    // _meta forever
    val dir = mkTable("jm_migrate", 3)
    JsonMeta.save(spark, dir.toString)
    val metaDir = new java.io.File(dir, "_graftjson_meta")
    val oldSegs = metaDir.listFiles().filter(_.getName.startsWith("seg-"))
    assert(oldSegs.nonEmpty)
    // simulate the pre-bump layout: a manifest whose version this code
    // no longer reads, referencing the (now old-format) segments —
    // rewritten THROUGH the Hadoop fs so the checksum sidecar stays
    // consistent (the difference must be the version, not a torn read)
    val manifest = new java.io.File(metaDir, "manifest")
    val text = scala.io.Source.fromFile(manifest).mkString
    writeManifestText(dir,
      text.replaceFirst("\"version\":\\d+", "\"version\":2"))
    freshJvm()
    assert(JsonMeta.saves(spark, dir.toString).isEmpty,
      "old-version manifest must read as absent")
    val rep = JsonMeta.save(spark, dir.toString)
    assert(rep.total == 3 && rep.written == 3 && rep.segments == 1)
    // the superseded segments are gone; exactly the new one remains
    val after = metaDir.listFiles().filter(_.getName.startsWith("seg-"))
    assert(after.length == 1, after.map(_.getName).mkString(", "))
    assert(oldSegs.forall(f => !f.exists()),
      "old-version segments orphaned after the format upgrade")
    // planning healthy on the rewritten meta
    freshJvm()
    val (cnt, w0) = walked {
      spark.read.format("graftjson").load(dir.toString).count()
    }
    assert(cnt == 3L && w0 == 0L)
  }

  test("deserialization allowlist: a planted meta of a disallowed class is rejected, not executed") {
    val dir = mkTable("jm_hostile", 2)
    JsonMeta.save(spark, dir.toString)
    val metaDir = new java.io.File(dir, "_graftjson_meta")
    val seg = metaDir.listFiles().filter(_.getName.startsWith("seg-")).head
    // plant a serialized object OUTSIDE the allowlist (a well-formed
    // java stream, so only the resolveClass gate can reject it)
    val bos = new java.io.ByteArrayOutputStream()
    val oos = new java.io.ObjectOutputStream(bos)
    oos.writeObject(new java.io.File("/tmp/gadget")) // java.io.* not allowed
    oos.close()
    val w = new java.io.FileOutputStream(seg)
    w.write(bos.toByteArray); w.close()
    freshJvm()
    // the planted stream is treated as a corrupt segment: full walk,
    // correct rows, no deserialization of the planted class
    val (cnt, walkedN) = walked {
      spark.read.format("graftjson").load(dir.toString).count()
    }
    assert(cnt == 2L && walkedN == 2L)
  }

  test("compact(refreshMeta=true): meta rides the compaction's listing; walk-free after") {
    val dir = mkTable("jm_unified", 4)
    JsonMeta.save(spark, dir.toString)
    val listingsBefore = JsonDocSource.listingRuns.get()
    val (rep, w0) = walked {
      JsonCompact.compact(spark, dir.toString, targetBytes = 1L << 20,
        refreshMeta = true)
    }
    assert(rep.mergedInto == 1)
    assert(JsonDocSource.listingRuns.get() == listingsBefore,
      "the meta refresh must ride the compaction's own listing — one listing per maintenance cycle")
    assert(w0 == 1L, s"the meta diff should walk only the merged file, walked $w0")
    // the refreshed meta serves a fresh JVM walk-free
    freshJvm()
    val (cnt, w1) = walked {
      spark.read.format("graftjson").load(dir.toString).count()
    }
    assert(cnt == 4L && w1 == 0L,
      s"post-compaction load should plan from the refreshed meta (walked $w1)")
  }

  test("compaction then save: merged file is the only walk; whole-mode never hits meta") {
    val dir = mkTable("jm_compact", 4)
    JsonMeta.save(spark, dir.toString)
    JsonCompact.compact(spark, dir.toString, targetBytes = 1L << 20)
    freshJvm()
    val (cnt, w) = walked {
      spark.read.format("graftjson").load(dir.toString).count()
    }
    assert(cnt == 4L)
    assert(w == 1L, s"only the merged file should walk, got $w")
    // whole-mode keys never match NDJSON-walked entries
    JsonMeta.save(spark, dir.toString)
    freshJvm()
    val (_, ww) = walked {
      spark.read.format("graftjson").option("whole", "true")
        .load(dir.toString).count()
    }
    assert(ww >= 1L, "whole-mode load must not be served by NDJSON meta")
  }

  test("time travel: asOfSave reads each historical population; tombstones replay deletions") {
    val dir = new java.io.File(graft.TempRoots.path("jm_timetravel"))
    dir.mkdirs()
    def put(name: String, ids: Seq[Int]): Unit = {
      val w = new java.io.PrintWriter(new java.io.File(dir, name))
      ids.foreach(i => w.println(s"""{"id": $i}"""))
      w.close()
    }
    put("a.json", Seq(1, 2))
    val s1 = JsonMeta.save(spark, dir.toString).saveId
    put("b.json", Seq(3, 4))
    val s2 = JsonMeta.save(spark, dir.toString).saveId
    // deletion-only change MUST mint a save (the tombstone rule)
    new java.io.File(dir, "a.json").delete()
    val s3 = JsonMeta.save(spark, dir.toString).saveId
    assert(s3 > 0, "a deletion-only save must mint a segment")
    put("c.json", Seq(5))
    val s4 = JsonMeta.save(spark, dir.toString).saveId
    assert(JsonMeta.saves(spark, dir.toString) == Seq(s1, s2, s3, s4))
    def idsAsOf(n: Long): Seq[Long] =
      spark.read.format("graftjson").option("asOfSave", n.toString)
        .load(dir.toString)
        .select(col("id")).collect().map(_.getAs[Number](0).longValue)
        .sorted.toSeq
    // b.json still exists bit-identical, so save 2 reconstructs even
    // though a.json is gone from saves 3-4... no: save 1/2 include
    // a.json whose bytes are GONE — they must fail loudly, not lie
    val e1 = intercept[IllegalStateException](idsAsOf(s1))
    assert(e1.getMessage.contains("physically removed"), e1.getMessage)
    val e2 = intercept[IllegalStateException](idsAsOf(s2))
    assert(e2.getMessage.contains("physically removed"), e2.getMessage)
    // save 3 (post-delete) and save 4 reconstruct exactly
    assert(idsAsOf(s3) == Seq(3L, 4L))
    assert(idsAsOf(s4) == Seq(3L, 4L, 5L))
    // the live read sees the latest, time travel never mutates it
    assert(spark.read.format("graftjson").option("refresh", "true")
      .load(dir.toString).count() == 3)
    // zone maps ride the meta for as-of scans too
    val z = spark.read.format("graftjson")
      .option("asOfSave", s4.toString).option("zonemaps", "true")
      .load(dir.toString)
    assert(z.where(col("id") === 5).count() == 1L)
    // out-of-range ids fail with the documented messages
    val eFuture = intercept[Exception](idsAsOf(s4 + 10))
    assert(eFuture.getMessage.contains("no save"), eFuture.getMessage)
    // a time-travel table is read-only and unstreamable
    val eWrite = intercept[Exception] {
      spark.range(1).selectExpr("id")
        .write.format("graftjson").option("asOfSave", s4.toString)
        .mode("append").save(dir.toString)
    }
    def chain(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(x => Option(x.getMessage).getOrElse("")).toSeq
    assert(chain(eWrite).exists(_.contains("read-only")),
      chain(eWrite).mkString(" | "))
  }

  test("time travel: append-only history reconstructs every save; compaction past MaxSegments degrades to the documented error") {
    val dir = new java.io.File(graft.TempRoots.path("jm_tt_compact"))
    dir.mkdirs()
    // append-only epochs: no file is ever deleted, so EVERY save stays
    // byte-reconstructible while its segment lives
    val ids = scala.collection.mutable.ArrayBuffer.empty[Long]
    val saves = (1 to JsonMeta.MaxSegments + 2).map { e =>
      val w = new java.io.PrintWriter(new java.io.File(dir, f"e$e%02d.json"))
      w.println(s"""{"id": $e}"""); w.close()
      ids += e.toLong
      (e, JsonMeta.save(spark, dir.toString).saveId)
    }
    def idsAsOf(n: Long): Seq[Long] =
      spark.read.format("graftjson").option("asOfSave", n.toString)
        .load(dir.toString)
        .select(col("id")).collect().map(_.getAs[Number](0).longValue)
        .sorted.toSeq
    val live = JsonMeta.saves(spark, dir.toString)
    // compaction happened at least once past MaxSegments — history
    // squashed into single saves; the LATEST save always reconstructs
    assert(live.nonEmpty && live.size <= JsonMeta.MaxSegments + 1)
    assert(idsAsOf(live.last) == (1 to JsonMeta.MaxSegments + 2).map(_.toLong))
    // every still-live save reconstructs its prefix exactly
    live.foreach { sv =>
      val got = idsAsOf(sv)
      assert(got == got.sorted && got.last <= JsonMeta.MaxSegments + 2)
    }
    // a squashed-away early save fails with the documented VACUUM error
    val gone = saves.map(_._2).filterNot(live.contains)
    assert(gone.nonEmpty, "expected compaction to squash early saves")
    val e = intercept[IllegalStateException](idsAsOf(gone.min))
    assert(e.getMessage.contains("no longer reconstructible"), e.getMessage)
  }

  test("a mixed segment's tombstone outside its entry range still stops lookup (no resurrection)") {
    // review r13: a segment with entries {zz} and tombstone {aa} has
    // SegRef range [zz, zz]; a lookup of aa must STILL read it (the
    // removed count forces the open) — falling through would serve an
    // OLDER segment's entry for the deleted name, which a recreated
    // file with colliding (len, mtime) would then wear
    val dir = new java.io.File(graft.TempRoots.path("jm_tomb_range"))
    dir.mkdirs()
    def put(name: String, ids: Seq[Int]): Unit = {
      val w = new java.io.PrintWriter(new java.io.File(dir, name))
      ids.foreach(i => w.println(s"""{"id": $i}"""))
      w.close()
    }
    put("aa.json", Seq(1))
    JsonMeta.save(spark, dir.toString) // segment 1 holds aa's entry
    val aa = new java.io.File(dir, "aa.json")
    val (len, mtime) = (aa.length(), aa.lastModified())
    aa.delete()
    put("zz.json", Seq(2))
    JsonMeta.save(spark, dir.toString) // mixed: entry zz + tombstone aa
    // recreate aa with DIFFERENT bytes but a COLLIDING fingerprint
    put("aa.json", Seq(9))
    val aa2 = new java.io.File(dir, "aa.json")
    assert(aa2.length() == len, "fixture must collide on length")
    aa2.setLastModified(mtime)
    freshJvm()
    // the PLANNING must WALK aa.json (the tombstone ends the meta
    // search): a resurrected stale entry would carry id∈[1,1] zone
    // bounds for a file whose bytes now hold 9 — and a zone-consulting
    // probe for 9 would then UNSOUNDLY SKIP the file
    val z = spark.read.format("graftjson").option("zonemaps", "true")
      .load(dir.toString)
    val got = z.where(col("id") === 9).select(col("id"))
      .collect().map(_.getAs[Number](0).longValue).toSeq
    assert(got == Seq(9L),
      s"got $got — a resurrected stale zone skipped the recreated file")
    val ids = z.select(col("id")).collect()
      .map(_.getAs[Number](0).longValue).sorted.toSeq
    assert(ids == Seq(2L, 9L), s"got $ids")
  }

  test("vacuum: retains the newest k saves, prunes older history with a NAMED retention error, reclaims segments") {
    val dir = mkTable("jm_vacuum", 2)
    def addFile(name: String, id: Int): Unit = {
      val w = new java.io.PrintWriter(new java.io.File(dir, name))
      w.println(s"""{"id": $id, "src": "sv"}"""); w.close()
    }
    def idsAsOf(k: Long): Seq[Long] = spark.read.format("graftjson")
      .option("asOfSave", k.toString).load(dir.toString)
      .select(col("id")).collect().map(_.getAs[Number](0).longValue)
      .sorted.toSeq
    JsonMeta.save(spark, dir.toString) // save 1: p01 p02
    addFile("v1.json", 100)
    JsonMeta.save(spark, dir.toString) // save 2: +v1
    assert(idsAsOf(2L) == Seq(10L, 20L, 100L))
    // the deletion makes saves 1-2 physically unreconstructible (the
    // store reclaims bytes eagerly — documented); after the vacuum
    // they must fail with the RETENTION message instead, which fires
    // before any byte resolution
    assert(new java.io.File(dir, "p01.json").delete())
    addFile("v2.json", 200)
    JsonMeta.save(spark, dir.toString) // save 3: +v2, -p01 (tombstone)
    addFile("v3.json", 300)
    JsonMeta.save(spark, dir.toString) // save 4: +v3
    assert(JsonMeta.saves(spark, dir.toString) == Seq(1L, 2L, 3L, 4L))
    val rep = JsonMeta.vacuum(spark, dir.toString, retainSaves = 2)
    assert(rep.horizon == 3L && rep.squashed == 3 &&
      rep.retainedSaves == Seq(3L, 4L), rep.toString)
    assert(rep.segmentsDeleted >= 3, rep.toString)
    assert(JsonMeta.saves(spark, dir.toString) == Seq(3L, 4L))
    // physical reclamation: exactly the base + the save-4 diff remain
    val segFiles = new java.io.File(dir, "_graftjson_meta").listFiles()
      .filter(_.getName.startsWith("seg-"))
    assert(segFiles.length == 2, segFiles.map(_.getName).mkString(", "))
    // the retained horizon save and the newest both reconstruct,
    // including the pre-horizon tombstone of p01
    assert(idsAsOf(3L) == Seq(20L, 100L, 200L))
    assert(idsAsOf(4L) == Seq(20L, 100L, 200L, 300L))
    // the pruned side fails with the NAMED retention message on both
    // resolvers — distinguishable from the auto-squash trade
    val e1 = intercept[IllegalStateException](idsAsOf(2L))
    assert(e1.getMessage.contains("vacuum retention"), e1.getMessage)
    val e2 = intercept[IllegalStateException](
      JsonMeta.sinceListing(spark, dir.toString, 1L))
    assert(e2.getMessage.contains("vacuum retention"), e2.getMessage)
    // the feed above the horizon still works
    assert(JsonMeta.sinceListing(spark, dir.toString, 3L)
      .map(t => new org.apache.hadoop.fs.Path(t._1).getName) == Seq("v3.json"))
    // retaining more than exists is a no-op
    val rep2 = JsonMeta.vacuum(spark, dir.toString, retainSaves = 5)
    assert(rep2.squashed == 0 && rep2.horizon == 3L)
    // the horizon SURVIVES later saves (retention is durable)
    addFile("v4.json", 400)
    JsonMeta.save(spark, dir.toString)
    val e3 = intercept[IllegalStateException](idsAsOf(2L))
    assert(e3.getMessage.contains("vacuum retention"), e3.getMessage)
    // vacuum is lease-held: a live concurrent writer rejects it
    val root = new org.apache.hadoop.fs.Path(dir.toString)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val h = JsonLease.acquire(fs, root, "writer")
    val e4 = intercept[IllegalStateException](
      JsonMeta.vacuum(spark, dir.toString, retainSaves = 1))
    assert(e4.getMessage.contains("locked by a concurrent"), e4.getMessage)
    h.release()
  }

  test("change feed: sinceSave reads exactly the files added/rewritten after the save") {
    val dir = new java.io.File(graft.TempRoots.path("jm_changefeed"))
    dir.mkdirs()
    def put(name: String, ids: Seq[Int]): Unit = {
      val w = new java.io.PrintWriter(new java.io.File(dir, name))
      ids.foreach(i => w.println(s"""{"id": $i}"""))
      w.close()
    }
    put("e1.json", Seq(1, 2))
    val s1 = JsonMeta.save(spark, dir.toString).saveId
    put("e2.json", Seq(3))
    val s2 = JsonMeta.save(spark, dir.toString).saveId
    put("e3.json", Seq(4, 5))
    val s3 = JsonMeta.save(spark, dir.toString).saveId
    def idsSince(n: Long): Seq[Long] =
      spark.read.format("graftjson").option("sinceSave", n.toString)
        .load(dir.toString)
        .select(col("id")).collect().map(_.getAs[Number](0).longValue)
        .sorted.toSeq
    assert(idsSince(s1) == Seq(3L, 4L, 5L))
    assert(idsSince(s2) == Seq(4L, 5L))
    // nothing changed since the latest save → an empty feed
    assert(spark.read.format("graftjson")
      .option("sinceSave", s3.toString).load(dir.toString).count() == 0L)
    // the two history options are mutually exclusive; the snapshot is
    // read-only (the shared pinned-snapshot guard)
    intercept[Exception](spark.read.format("graftjson")
      .option("sinceSave", s1.toString).option("asOfSave", s2.toString)
      .load(dir.toString).count())
    def chain(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(x => Option(x.getMessage).getOrElse("")).toSeq
    val eW = intercept[Exception] {
      spark.range(1).write.format("graftjson")
        .option("sinceSave", s1.toString).mode("append").save(dir.toString)
    }
    assert(chain(eW).exists(_.contains("read-only")), chain(eW).mkString(" | "))
    // a rewrite (compaction) re-surfaces the rewritten files' contents:
    // coarser, never wrong
    JsonCompact.compact(spark, dir.toString, targetBytes = 1L << 20)
    val s4 = JsonMeta.save(spark, dir.toString).saveId
    assert(idsSince(s3) == Seq(1L, 2L, 3L, 4L, 5L),
      "the compacted file holds every row and was written after s3")
    assert(spark.read.format("graftjson")
      .option("sinceSave", s4.toString).load(dir.toString).count() == 0L)
  }

  test("squash on a fully-emptied table keeps ONE empty as-of point — never zero refs (fuzzer find)") {
    val dir = new java.io.File(graft.TempRoots.path("meta_empty_squash"))
    dir.mkdirs()
    var clock = System.currentTimeMillis() - 7200L * 1000L
    def put(name: String, id: Int): Unit = {
      val f = new java.io.File(dir, name)
      val w = new java.io.PrintWriter(f, "UTF-8")
      w.println(s"""{"id": $id}"""); w.close()
      clock += 1000; assert(f.setLastModified(clock))
    }
    // reach the segment cap so the NEXT save squashes
    (1 to 8).foreach { i =>
      put(s"f$i.json", i); JsonMeta.save(spark, dir.toString)
    }
    assert(JsonMeta.saves(spark, dir.toString).size == 8)
    // empty the table entirely, then save: the squash must mint a
    // READABLE (empty) save — zero manifest refs would claim the
    // minted saveId while erasing the whole history
    (1 to 8).foreach { i =>
      assert(new java.io.File(dir, s"f$i.json").delete())
      new java.io.File(dir, s".f$i.json.crc").delete()
    }
    val rep = JsonMeta.save(spark, dir.toString)
    assert(rep.saveId > 0 && rep.compacted, rep.toString)
    assert(JsonMeta.saves(spark, dir.toString) == Seq(rep.saveId))
    assert(spark.read.format("graftjson")
      .option("asOfSave", rep.saveId.toString).load(dir.toString)
      .count() == 0L)
    // and the empty save is stable: a repeat save is a no-op
    assert(JsonMeta.save(spark, dir.toString).saveId == -1L)
  }

  test("an all-deleted save reads as an EMPTY frame via asOfSave — the empty-change-feed convention") {
    val dir = new java.io.File(graft.TempRoots.path("meta_empty_save"))
    dir.mkdirs()
    val w = new java.io.PrintWriter(new java.io.File(dir, "a.json"), "UTF-8")
    Seq(1, 2).foreach(i => w.println(s"""{"id": $i}"""))
    w.close()
    val s1 = JsonMeta.save(spark, dir.toString).saveId
    // metadata-only DELETE of everything, decidable: id <= 2 removes
    // the only file WHOLE and mints the tombstone save
    val n = JsonDocDelete.delete(spark, dir.toString,
      Seq(org.apache.spark.sql.sources.LessThanOrEqual("id", 2)))
    assert(n == 1)
    val s2 = JsonMeta.saves(spark, dir.toString).last
    assert(s2 > s1)
    // the emptied save resolves to zero files and reads as an empty
    // (schema-less) frame — exactly the empty-change-feed convention
    // above: count 0, never an error, never rows (the JsonMetaFuzzSpec
    // deleteWhere op probes this corner under random histories)
    assert(spark.read.format("graftjson")
      .option("asOfSave", s2.toString).load(dir.toString).count() == 0L)
    // while the pre-delete save fails loudly (bytes gone) — never
    // wrong rows
    val e = intercept[IllegalStateException](spark.read.format("graftjson")
      .option("asOfSave", s1.toString).load(dir.toString).count())
    assert(e.getMessage.contains("physically removed"), e.getMessage)
  }

  test("save under a usurped lease aborts LOUDLY before the manifest commit (r16 judge-run race find)") {
    val dir = mkTable("jm_usurp", 3)
    val first = JsonMeta.save(spark, dir.toString).saveId
    val root0 = new org.apache.hadoop.fs.Path(dir.toString)
    val fs0 = root0.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val qroot = fs0.makeQualified(root0)
    val h = JsonLease.acquire(fs0, qroot, "writerA")
    // a change, so the save reaches its commit point (a no-op save
    // returns before writing anything and needs no verification)
    val w = new java.io.PrintWriter(new java.io.File(dir, "p99.json"))
    w.println("""{"id": 990, "src": "late"}"""); w.close()
    // simulate the post-TTL takeover: another writer's token replaces
    // ours (raw fs, the lease file's own I/O convention)
    val rfs = JsonLease.rawFs(fs0)
    val lp = JsonLease.leasePath(qroot)
    rfs.delete(lp, false)
    val out = rfs.create(lp, true)
    try out.write("usurper@elsewhere:deadbeef".getBytes("UTF-8"))
    finally out.close()
    val e = intercept[IllegalStateException](
      JsonMeta.saveWith(spark, dir.toString, None, h))
    assert(e.getMessage.contains("lost the writer lease"), e.getMessage)
    // nothing was committed: the history still ends at the first save
    assert(JsonMeta.saves(spark, dir.toString) == Seq(first))
    rfs.delete(lp, false) // clean up the planted token
  }

  test("manifest publish leaves no tmp or checksum-sidecar debris; a pre-raw `.crc` sidecar is swept on the next commit") {
    val dir = mkTable("jm_debris", 3)
    JsonMeta.save(spark, dir.toString)
    val metaDir = new java.io.File(dir, "_graftjson_meta")
    // segments keep their checksummed sidecars (their reads stay on
    // the session fs); only MANIFEST tmps/sidecars are debris
    def ok(n: String) = n == "manifest" ||
      n.startsWith("seg-") || n.startsWith(".seg-")
    def names() = metaDir.listFiles().map(_.getName).toSeq.sorted
    assert(names().forall(ok), s"debris after save: ${names()}")
    // a pre-r16 checksummed write left a `.manifest.crc` sidecar that
    // no longer describes the raw-published bytes — the next commit
    // sweeps it (and any crashed attempt's unique tmp)
    val crc = new java.io.FileOutputStream(
      new java.io.File(metaDir, ".manifest.crc"))
    crc.write(Array[Byte](1, 2, 3)); crc.close()
    val tmp0 = new java.io.FileOutputStream(
      new java.io.File(metaDir, "manifest.tmp.deadcafe0123"))
    tmp0.write("torn".getBytes("UTF-8")); tmp0.close()
    val w = new java.io.PrintWriter(new java.io.File(dir, "p77.json"))
    w.println("""{"id": 770, "src": "x"}"""); w.close()
    JsonMeta.save(spark, dir.toString)
    assert(names().forall(ok), s"debris survived the commit: ${names()}")
    // and the table still plans walk-free — the swept sidecar never
    // participated in a raw read
    freshJvm()
    val (n, walkedFiles) = walked {
      spark.read.format("graftjson").load(dir.toString).count()
    }
    assert(n == 4L && walkedFiles == 0L)
  }

  test("manifest publishes through a checksummed LocalFileSystem raise no ChecksumException and leave no manifest sidecar") {
    // the session's file:// becomes a fresh (uncached) checksummed
    // LocalFileSystem for the duration: what a default Hadoop client
    // gets, and the hazard writeManifest's raw I/O exists to bypass
    val conf = spark.sparkContext.hadoopConfiguration
    val saved = Seq("fs.file.impl", "fs.file.impl.disable.cache")
      .map(k => k -> Option(conf.get(k)))
    conf.set("fs.file.impl", classOf[org.apache.hadoop.fs.LocalFileSystem].getName)
    conf.setBoolean("fs.file.impl.disable.cache", true)
    try {
      val dir = mkTable("jm_checksummed", 3)
      val mp = new org.apache.hadoop.fs.Path(
        new java.io.File(new java.io.File(dir, "_graftjson_meta"), "manifest").toString)
      val fs = mp.getFileSystem(conf)
      assert(fs.isInstanceOf[org.apache.hadoop.fs.LocalFileSystem])
      val metaDir = new java.io.File(dir, "_graftjson_meta")
      def manifestDebris() = metaDir.list().toSeq
        .filter(n => n.startsWith(".manifest") || n.startsWith("manifest."))
      val first = JsonMeta.save(spark, dir.toString)
      assert(manifestDebris().isEmpty, manifestDebris())
      // the second publish REPLACES the manifest: the racy step
      val w = new java.io.PrintWriter(new java.io.File(dir, "p88.json"))
      w.println("""{"id": 880, "src": "y"}"""); w.close()
      JsonMeta.save(spark, dir.toString)
      assert(manifestDebris().isEmpty, manifestDebris())
      // read back through the CHECKSUMMED fs: a stale sidecar would
      // throw ChecksumException here
      assert(graft.ops.Fs.readFullyUtf8(fs, mp).contains("segments"))
      JsonMeta.clearParsed()
      assert(JsonMeta.saves(spark, dir.toString).size == 2 && first.total == 3)
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("standalone save() takes the writer lease: loud conflict while held, no lease left behind") {
    val dir = mkTable("jm_savelease", 2)
    val root0 = new org.apache.hadoop.fs.Path(dir.toString)
    val fs0 = root0.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val qroot = fs0.makeQualified(root0)
    val h = JsonLease.acquire(fs0, qroot, "compact")
    val e = intercept[IllegalStateException](
      JsonMeta.save(spark, dir.toString))
    assert(e.getMessage.contains("locked by a concurrent"), e.getMessage)
    h.release()
    val rep = JsonMeta.save(spark, dir.toString)
    assert(rep.total == 2)
    assert(!fs0.exists(JsonLease.leasePath(qroot)), "save leaked its lease")
    assert(!new java.io.File(dir, "_compaction").exists(),
      "save left an empty staging dir behind")
  }
}
