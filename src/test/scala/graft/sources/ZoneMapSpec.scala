package graft.sources

import graft.SparkTestBase
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._

import java.math.{BigDecimal => JBD}

/** Zone-map file skipping on the graftjson source (`zonemaps=true`):
  * provable skips happen (counter-verified), results NEVER change
  * (with/without-zonemaps parity on every query), and every soundness
  * guard holds — float columns never skip, dirty files never skip,
  * timestamp-classified strings never skip, all-null columns skip
  * comparisons and IsNotNull. */
class ZoneMapSpec extends SparkTestBase {

  private def writeRanged(name: String): String = {
    val dir = new java.io.File(graft.TempRoots.path(name))
    dir.mkdirs()
    def put(file: String, lines: String*): Unit = {
      val w = new java.io.PrintWriter(new java.io.File(dir, file))
      lines.foreach(w.println); w.close()
    }
    // disjoint id ranges + disjoint sources, one file each
    put("f1.json",
      """{"id": 1, "src": "alpha", "score": 0.5}""",
      """{"id": 9, "src": "alpha", "score": 1.5}""")
    put("f2.json",
      """{"id": 100, "src": "beta", "score": 2.5}""",
      """{"id": 190, "src": "beta", "score": 0.25}""")
    put("f3.json",
      """{"id": 1000, "src": "gamma", "score": 9.5}""",
      """{"id": 1900, "src": "gamma", "score": 0.125}""")
    dir.toString
  }

  private def skipsDuring[A](body: => A): (A, Long) = {
    val before = JsonDocSource.zoneSkippedFiles.get()
    val r = body
    (r, JsonDocSource.zoneSkippedFiles.get() - before)
  }

  test("numeric range filter skips provably-excluded files; rows identical to no-zonemaps") {
    val dir = writeRanged("zm_ranged")
    val zdf = spark.read.format("graftjson").option("zonemaps", "true").load(dir)
    val plain = spark.read.format("graftjson").load(dir)
      .where(col("id") < 50).select(col("id")).collect().map(_.getAs[Number](0).longValue).sorted
    val q = zdf.where(col("id") < 50).select(col("id"))
    val (parts, skipped) = skipsDuring(PlannedScan.splits(q))
    assert(parts == 1, s"expected only f1 planned, got $parts splits")
    assert(skipped >= 2, s"skip counter did not move: $skipped")
    val got = q.collect().map(_.getAs[Number](0).longValue).sorted
    assert(got.toSeq == plain.toSeq && got.toSeq == Seq(1L, 9L))
  }

  test("string equality and prefix filters skip by string bounds") {
    val dir = writeRanged("zm_str")
    val zdf = spark.read.format("graftjson").option("zonemaps", "true").load(dir)
    val q1 = zdf.where(col("src") === "beta").select(col("id"))
    assert(PlannedScan.splits(q1) == 1)
    assert(q1.collect().map(_.getAs[Number](0).longValue).sorted.toSeq ==
      Seq(100L, 190L))
    val q2 = zdf.where(col("src").startsWith("gam")).select(col("id"))
    assert(PlannedScan.splits(q2) == 1)
    assert(q2.collect().map(_.getAs[Number](0).longValue).sorted.toSeq ==
      Seq(1000L, 1900L))
  }

  test("float/double columns NEVER zone-skip (binary-rounding soundness)") {
    // sci-notation literals classify as FLOAT (plain decimals become
    // exact DECIMAL columns, which ARE eligible)
    val dir = new java.io.File(graft.TempRoots.path("zm_float2"))
    dir.mkdirs()
    def put(file: String, lines: String*): Unit = {
      val w = new java.io.PrintWriter(new java.io.File(dir, file))
      lines.foreach(w.println); w.close()
    }
    put("f1.json", """{"id": 1, "fscore": 5.0e-1}""")
    put("f2.json", """{"id": 1000, "fscore": 9.5e0}""")
    val zdf = spark.read.format("graftjson").option("zonemaps", "true")
      .load(dir.toString)
    assert(zdf.schema("fscore").dataType ==
      org.apache.spark.sql.types.FloatType)
    // the literal numerically excludes f1, but a float column's
    // binary rounding can disagree with the decimal text at a
    // boundary — the guard must keep every file
    val (rows, skipped) = skipsDuring {
      zdf.where(col("fscore") > lit(5.0f)).select(col("id")).collect()
        .map(_.getAs[Number](0).longValue)
    }
    assert(rows.toSeq == Seq(1000L) && skipped == 0)
    // and a decimal-typed score with a FLOAT literal also never skips
    // (inexact literal class)
    val dir2 = writeRanged("zm_float_lit")
    val zdf2 = spark.read.format("graftjson").option("zonemaps", "true")
      .load(dir2)
    val (rows2, skipped2) = skipsDuring {
      zdf2.where(col("score") > lit(5.0f)).select(col("id")).collect()
        .map(_.getAs[Number](0).longValue)
    }
    assert(rows2.toSeq == Seq(1000L) && skipped2 == 0)
  }

  test("dirty files (parse anomalies) are never skipped") {
    val dir = new java.io.File(graft.TempRoots.path("zm_dirty"))
    dir.mkdirs()
    val w = new java.io.PrintWriter(new java.io.File(dir, "d.json"))
    w.println("""{"id": 5}""")
    w.println("""{"id": 6""") // truncated — walker marks file dirty
    w.close()
    val zdf = spark.read.format("graftjson").option("zonemaps", "true")
      .load(dir.toString)
    val (rows, skipped) = skipsDuring {
      zdf.where(col("id") > 100).collect()
    }
    // the corrupt line materializes an all-null row; id>100 matches
    // nothing — but the file must still be READ, not zone-skipped
    assert(rows.isEmpty && skipped == 0)
  }

  test("inference cache: a zone-mapped entry answers a later plain load") {
    val dir = writeRanged("zm_cache")
    JsonDocSource.clearInferCache()
    val before = JsonDocSource.inferenceRuns.get()
    spark.read.format("graftjson").option("zonemaps", "true").load(dir).schema
    assert(JsonDocSource.inferenceRuns.get() == before + 1)
    spark.read.format("graftjson").load(dir).schema
    assert(JsonDocSource.inferenceRuns.get() == before + 1,
      "plain load should reuse the zone-mapped cache entry")
  }

  test("q221: the source filter plans strictly fewer partitions than export files") {
    val out = graft.queries.JsonQueries.q221Export(spark, sfDir)
    val files = JsonDocSource.listFiles(spark, Seq(out)).size
    assert(files > 1, s"export produced only $files file(s)")
    val q = graft.SparkEntry.queries("q221_zonemap_prune")(spark, sfDir)
    val parts = PlannedScan.splits(q)
    assert(parts < files,
      s"zone maps pruned nothing: $parts splits over $files files")
  }

  test("count(*) pushdown: answered from zone metadata, one partition, no data read") {
    val dir = new java.io.File(graft.TempRoots.path("zm_count"))
    dir.mkdirs()
    val w = new java.io.PrintWriter(new java.io.File(dir, "c1.json"))
    w.println("""{"id": 1}""")
    w.println("") // blank line still materializes a row
    w.println("""{"id": 3""") // corrupt line still materializes a row
    w.print("""{"id": 4}""") // no trailing newline
    w.close()
    val w2 = new java.io.PrintWriter(new java.io.File(dir, "c2.json"))
    w2.println("""{"id": 9}""")
    w2.close()
    val zdf = spark.read.format("graftjson").option("zonemaps", "true")
      .load(dir.toString)
    val plain = spark.read.format("graftjson").load(dir.toString).count()
    val counted = zdf.count()
    assert(counted == plain && counted == 5L,
      s"pushed count $counted vs scan count $plain")
    // the pushed plan reads ONE metadata partition, not the files
    val q = zdf.groupBy().count()
    assert(PlannedScan.splits(q) == 1)
    assert(q.queryExecution.executedPlan.toString.contains("PushedAggregation"),
      q.queryExecution.executedPlan.toString)
  }

  test("count(*) pushdown declines on filters, on stale files, and without zonemaps") {
    val dir = new java.io.File(graft.TempRoots.path("zm_count_decline"))
    dir.mkdirs()
    val f = new java.io.File(dir, "d1.json")
    val w = new java.io.PrintWriter(f)
    w.println("""{"id": 1}"""); w.println("""{"id": 50}"""); w.close()
    val zdf = spark.read.format("graftjson").option("zonemaps", "true")
      .load(dir.toString)
    // filtered count runs the real scan and filters correctly
    assert(zdf.where(col("id") > 10).count() == 1L)
    // whole-mode: one row per FILE
    val wdf = spark.read.format("graftjson")
      .option("zonemaps", "true").option("whole", "true").load(dir.toString)
    assert(wdf.count() == 1L)
    // stale file (append after load) → fingerprint mismatch → the
    // push declines and the REAL count of the new content returns
    val a = new java.io.FileWriter(f, true)
    a.write("{\"id\": 7}\n"); a.close()
    assert(zdf.count() == 3L, "stale zone count served after file change")
    // no zonemaps → no pushdown path at all, plain count works
    assert(spark.read.format("graftjson").load(dir.toString).count() == 3L)
  }

  test("min/max pushdown: integral, decimal-free string, and null answers from metadata") {
    val dir = new java.io.File(graft.TempRoots.path("zm_minmax"))
    dir.mkdirs()
    val w = new java.io.PrintWriter(new java.io.File(dir, "m1.json"))
    // sci-notation → FLOAT column; plain decimals would be DECIMAL
    w.println("""{"id": 5, "name": "delta", "score": 1.5e0, "dec": 2.75}""")
    w.println("""{"id": 90, "name": "alpha", "score": 5.0e-1, "dec": 0.25}""")
    w.close()
    val w2 = new java.io.PrintWriter(new java.io.File(dir, "m2.json"))
    w2.println("""{"id": 40, "name": "omega", "dec": 9.50}""")
    w2.close()
    val zdf = spark.read.format("graftjson").option("zonemaps", "true")
      .load(dir.toString)
    val q = zdf.agg(count(lit(1)).as("n"), min(col("id")), max(col("id")),
      min(col("name")), max(col("name")), min(col("dec")), max(col("dec")))
    val r = q.collect()(0)
    assert(r.getLong(0) == 3L)
    assert(r.getAs[Number](1).longValue == 5L && r.getAs[Number](2).longValue == 90L)
    assert(r.getString(3) == "alpha" && r.getString(4) == "omega")
    assert(r.getDecimal(5).compareTo(new JBD("0.25")) == 0 &&
      r.getDecimal(6).compareTo(new JBD("9.50")) == 0)
    assert(PlannedScan.splits(q) == 1, "min/max did not come from metadata")
    assert(q.queryExecution.executedPlan.toString.contains("PushedAggregation"))
    // float column in the mix → whole push declines, real scan answers
    assert(zdf.schema("score").dataType ==
      org.apache.spark.sql.types.FloatType)
    val qf = zdf.agg(min(col("id")), min(col("score")))
    val rf = qf.collect()(0)
    assert(rf.getAs[Number](0).longValue == 5L)
    assert(!qf.queryExecution.executedPlan.toString.contains("PushedAggregation"),
      "float min must not be answered from zone bounds")
    // all-null column: min is SQL null, still from metadata when alone
    val w3 = new java.io.PrintWriter(new java.io.File(dir, "m3.json"))
    w3.println("""{"id": 7, "extra": null}"""); w3.close()
    val zdf2 = spark.read.format("graftjson").option("zonemaps", "true")
      .load(dir.toString)
    val q2 = zdf2.agg(min(col("extra")))
    assert(q2.collect()(0).isNullAt(0))
    assert(PlannedScan.splits(q2) == 1)
  }

  test("min/max pushdown declines when any file is dirty; count alone still pushes") {
    val dir = new java.io.File(graft.TempRoots.path("zm_minmax_dirty"))
    dir.mkdirs()
    val w = new java.io.PrintWriter(new java.io.File(dir, "d.json"))
    w.println("""{"id": 5}""")
    w.println("""{"id": 999, "k": """) // corrupt: 999 folded, never materializes
    w.close()
    val zdf = spark.read.format("graftjson").option("zonemaps", "true")
      .load(dir.toString)
    val q = zdf.agg(max(col("id")))
    // the walker folded 999 before the parse died; the materialized
    // max is 5 — a zone answer would be WRONG, so it must decline
    assert(q.collect()(0).getAs[Number](0).longValue == 5L)
    assert(!q.queryExecution.executedPlan.toString.contains("PushedAggregation"))
    // count(*) is parse-independent (units) — still metadata-answered
    val qc = zdf.groupBy().count()
    assert(qc.collect()(0).getLong(0) == 2L)
    assert(qc.queryExecution.executedPlan.toString.contains("PushedAggregation"))
  }

  test("stale-zone guard: a file modified after load is never pruned by its old bounds") {
    val dir = new java.io.File(graft.TempRoots.path("zm_stale_skip"))
    dir.mkdirs()
    def put(file: String, lines: String*): Unit = {
      val w = new java.io.PrintWriter(new java.io.File(dir, file))
      lines.foreach(w.println); w.close()
    }
    put("s1.json", """{"id": 1}""", """{"id": 9}""")
    put("s2.json", """{"id": 100}""", """{"id": 190}""")
    val zdf = spark.read.format("graftjson").option("zonemaps", "true")
      .load(dir.toString)
    zdf.count() // zones active for the load-time state
    // post-load append puts an out-of-range row into s1, whose stale
    // zone [1, 9] would "prove" id > 400 empty
    val a = new java.io.FileWriter(new java.io.File(dir, "s1.json"), true)
    a.write("{\"id\": 500}\n"); a.close()
    val got = zdf.where(col("id") > 400).select(col("id")).collect()
      .map(_.getAs[Number](0).longValue)
    assert(got.toSeq == Seq(500L),
      s"stale zone pruned a modified file: ${got.mkString(",")}")
  }

  test("min/max pushdown declines on concatenated-doc lines (bounds exceed materialized rows)") {
    val dir = new java.io.File(graft.TempRoots.path("zm_concat_minmax"))
    dir.mkdirs()
    val w = new java.io.PrintWriter(new java.io.File(dir, "c.json"))
    // ONE line, TWO docs: the reader materializes only the first
    w.println("""{"ts": 1}{"ts": 999}""")
    w.close()
    val zdf = spark.read.format("graftjson").option("zonemaps", "true")
      .load(dir.toString)
    val q = zdf.agg(max(col("ts")))
    // a zone answer would say 999; the real scan says 1
    assert(q.collect()(0).getAs[Number](0).longValue == 1L)
    assert(!q.queryExecution.executedPlan.toString.contains("PushedAggregation"),
      "min/max answered from superset bounds over concatenated docs")
    // count(*) is units-based (lines), indifferent to doc folding
    val qc = zdf.groupBy().count()
    assert(qc.collect()(0).getLong(0) == 1L)
    assert(qc.queryExecution.executedPlan.toString.contains("PushedAggregation"))
  }

  test("min/max pushdown declines on concat lines even when blank lines balance docs==units") {
    val dir = new java.io.File(graft.TempRoots.path("zm_concat_masked"))
    dir.mkdirs()
    val w = new java.io.PrintWriter(new java.io.File(dir, "m.json"))
    w.println("""{"ts": 1}{"ts": 999}""") // 2 docs, 1 unit
    w.println("") // 0 docs, 1 unit → per-FILE docs == units == 2
    w.close()
    val zdf = spark.read.format("graftjson").option("zonemaps", "true")
      .load(dir.toString)
    val q = zdf.agg(max(col("ts")))
    assert(q.collect()(0).getAs[Number](0).longValue == 1L)
    assert(!q.queryExecution.executedPlan.toString.contains("PushedAggregation"),
      "per-file docs/units comparison was masked by the blank line")
  }

  test("unpaired surrogates sanitize to '?' before bounds and literal tests (Spark's UTF-8 encoding)") {
    // Jackson decodes \uD800 to a lone surrogate; Spark materializes
    // it as '?' (0x3F). Bounds must live in the sanitized domain or
    // s < "A" would be 'provably' empty while the real row matches.
    assert(ZoneStats.utf8Sanitize("a\uD800b") == "a?b")
    assert(ZoneStats.utf8Sanitize("ok😀ok") == "ok😀ok") // real pair intact
    val z = ZoneStats.emptyField.addStr("\uD800")
    assert(z.strMin == "?" && z.strMax == "?")
    val fz = zone("s" -> z)
    assert(!ZoneSkip.provablyEmpty(LessThan("s", "A"), fz, schema),
      "raw-UTF-16 bound ordered the lone surrogate above 'A'")
    // and end to end: the doc's materialized '?' row survives a < 'A'
    // filter on a zone-mapped read
    val dir = new java.io.File(graft.TempRoots.path("zm_surrogate"))
    dir.mkdirs()
    val wtr = new java.io.OutputStreamWriter(
      new java.io.FileOutputStream(new java.io.File(dir, "s.json")),
      java.nio.charset.StandardCharsets.UTF_8)
    wtr.write("{\"s\": \"\\ud800\"}\n"); wtr.close() // ESCAPED in the JSON text
    val rows = spark.read.format("graftjson").option("zonemaps", "true")
      .load(dir.toString).where(col("s") < "A").collect()
    assert(rows.length == 1, "surrogate row was zone-skipped")
  }

  test("string bounds use CODE-POINT order (emoji above U+E000, as Spark compares)") {
    // Java UTF-16 order ranks the surrogate-pair emoji BELOW U+E000;
    // Spark's binary UTF8String order ranks it above
    assert(ZoneStats.cpCompare("\uE000", "😀") < 0)
    val z = ZoneStats.emptyField.addStr("\uE000").addStr("😀")
    assert(z.strMax == "😀",
      s"strMax '${z.strMax}' recorded in UTF-16 order")
    // with UTF-16 bounds (strMax = U+E000), s > U+F000 would have
    // been 'provably' empty and the emoji row silently dropped
    val fz = zone("s" -> z)
    assert(!ZoneSkip.provablyEmpty(GreaterThan("s", "\uF000"), fz, schema))
    // the genuinely-empty direction still proves
    assert(ZoneSkip.provablyEmpty(GreaterThan("s", "😀"), fz, schema))
  }

  // ---- ZoneSkip decision table (unit level) ----

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("s", StringType),
    StructField("f", DoubleType), StructField("ts", TimestampType)))

  private def zone(fields: (String, ZoneStats.FieldZone)*): ZoneStats.FileZone =
    ZoneStats.FileZone(10L, 10L, dirty = false, multiDoc = false,
      dupKey = false, overflow = false, fields.toMap)

  // bound-only zones: sets deliberately OVERFLOWED (null) so these
  // pins exercise the min/max tests in isolation
  private def numZone(lo: Long, hi: Long) = ZoneStats.FieldZone(
    10L, 0L, JBD.valueOf(lo), JBD.valueOf(hi), null, null, null, null,
    strInexact = false, numSum = null)
  private def strZone(lo: String, hi: String) = ZoneStats.FieldZone(
    10L, 0L, null, null, lo, hi, null, null, strInexact = false,
    numSum = null)

  test("ZoneSkip: suffix/substring prune and all-match through the exact set") {
    def strSetZone(present: Long, vs: String*) = ZoneStats.FieldZone(
      present, 0L, null, null, vs.min, vs.max, null, vs.toSet,
      strInexact = false, numSum = null)
    // bounds are useless for suffix/substring — only the set proves
    val z = zone("s" -> strSetZone(2L, "alpha.txt", "beta.txt"))
    assert(ZoneSkip.provablyEmpty(StringEndsWith("s", ".json"), z, schema))
    assert(!ZoneSkip.provablyEmpty(StringEndsWith("s", ".txt"), z, schema))
    assert(ZoneSkip.provablyEmpty(StringContains("s", "gamma"), z, schema))
    assert(!ZoneSkip.provablyEmpty(StringContains("s", "pha."), z, schema))
    // overflowed set declines both
    val over = zone("s" -> strSetZone(2L, "alpha.txt").copy(strSet = null))
    assert(!ZoneSkip.provablyEmpty(StringEndsWith("s", ".json"), over, schema))
    assert(!ZoneSkip.provablyEmpty(StringContains("s", "zzz"), over, schema))
    // all-null column: every row's test is null ⟹ provably empty
    val nul = zone("s" -> ZoneStats.emptyField)
    assert(ZoneSkip.provablyEmpty(StringEndsWith("s", "x"), nul, schema))
    assert(ZoneSkip.provablyEmpty(StringContains("s", "x"), nul, schema))
    // all-match needs FULL presence (present == units) on top of the
    // set proof — the types map variant exercises provablyAllMatch
    val types = ZoneSkip.topLevelPaths(schema)
    val full = zone("s" -> strSetZone(10L, "alpha.txt", "beta.txt"))
    assert(ZoneSkip.provablyAllMatch(StringEndsWith("s", ".txt"), full, types))
    assert(!ZoneSkip.provablyAllMatch(StringEndsWith("s", "ta.txt"), full, types))
    assert(ZoneSkip.provablyAllMatch(StringContains("s", ".tx"), full, types))
    assert(!ZoneSkip.provablyAllMatch(StringContains("s", "alp"), full, types))
    // partial presence (nulls in some rows) declines all-match
    assert(!ZoneSkip.provablyAllMatch(StringEndsWith("s", ".txt"), z, types))
    // non-string columns never prove
    assert(!ZoneSkip.provablyEmpty(StringEndsWith("id", "9"),
      zone("id" -> numZone(100, 200)), schema))
  }

  test("ZoneSkip: numeric comparisons against exact bounds") {
    val z = zone("id" -> numZone(100, 200))
    assert(ZoneSkip.provablyEmpty(LessThan("id", 100L), z, schema))
    assert(!ZoneSkip.provablyEmpty(LessThan("id", 101L), z, schema))
    assert(ZoneSkip.provablyEmpty(GreaterThan("id", 200L), z, schema))
    assert(!ZoneSkip.provablyEmpty(GreaterThanOrEqual("id", 200L), z, schema))
    assert(ZoneSkip.provablyEmpty(EqualTo("id", 99L), z, schema))
    assert(!ZoneSkip.provablyEmpty(EqualTo("id", 150L), z, schema))
    assert(ZoneSkip.provablyEmpty(In("id", Array(1L, 99L, 300L)), z, schema))
    assert(!ZoneSkip.provablyEmpty(In("id", Array(1L, 150L)), z, schema))
    // double literals never prove, even when numerically out of range
    assert(!ZoneSkip.provablyEmpty(LessThan("id", 50.0d), z, schema))
  }

  test("ZoneSkip: And needs one empty conjunct, Or needs both") {
    val z = zone("id" -> numZone(100, 200))
    val empty = LessThan("id", 100L)
    val maybe = GreaterThan("id", 150L)
    assert(ZoneSkip.provablyEmpty(And(empty, maybe), z, schema))
    assert(ZoneSkip.provablyEmpty(And(maybe, empty), z, schema))
    assert(!ZoneSkip.provablyEmpty(Or(empty, maybe), z, schema))
    assert(ZoneSkip.provablyEmpty(Or(empty, empty), z, schema))
  }

  test("ZoneSkip: string bounds, prefix successor, all-U+FFFF prefix") {
    val z = zone("s" -> strZone("mm", "pp"))
    assert(ZoneSkip.provablyEmpty(EqualTo("s", "aa"), z, schema))
    assert(!ZoneSkip.provablyEmpty(EqualTo("s", "nn"), z, schema))
    assert(ZoneSkip.provablyEmpty(StringStartsWith("s", "z"), z, schema))
    assert(ZoneSkip.provablyEmpty(StringStartsWith("s", "a"), z, schema))
    assert(!ZoneSkip.provablyEmpty(StringStartsWith("s", "n"), z, schema))
    // prefix that IS within range never skips
    assert(!ZoneSkip.provablyEmpty(StringStartsWith("s", "mm"), z, schema))
    // an all-￿ prefix has no successor: only the upper-bound
    // test may prove
    val hi = zone("s" -> strZone("￿￿a", "￿￿z"))
    assert(!ZoneSkip.provablyEmpty(
      StringStartsWith("s", "￿￿"), hi, schema))
  }

  test("ZoneSkip: exact distinct sets prune equality INSIDE the bounds; overflow declines") {
    def strSetZone(vs: String*) = ZoneStats.FieldZone(
      vs.size.toLong, 0L, null, null, vs.min, vs.max, null, vs.toSet,
      strInexact = false, numSum = null)
    val z = zone("s" -> strSetZone("ant", "zebra"))
    // 'cat' sits inside [ant, zebra] — only the set can prove
    assert(ZoneSkip.provablyEmpty(EqualTo("s", "cat"), z, schema))
    assert(!ZoneSkip.provablyEmpty(EqualTo("s", "ant"), z, schema))
    assert(ZoneSkip.provablyEmpty(In("s", Array[Any]("cat", "dog")), z, schema))
    assert(!ZoneSkip.provablyEmpty(In("s", Array[Any]("cat", "zebra")), z, schema))
    // StartsWith via the set: no member carries the prefix
    assert(ZoneSkip.provablyEmpty(StringStartsWith("s", "az"), z, schema))
    assert(!ZoneSkip.provablyEmpty(StringStartsWith("s", "zeb"), z, schema))
    // overflowed set (null): only bounds reasoning remains
    val over = zone("s" -> strSetZone("ant", "zebra").copy(strSet = null))
    assert(!ZoneSkip.provablyEmpty(EqualTo("s", "cat"), over, schema))
    // numeric: canonical forms make 2.0-in-file match a long-2 probe
    val nz = zone("id" -> ZoneStats.emptyField
      .addNum(new JBD("2.0")).addNum(new JBD("20")))
    assert(!ZoneSkip.provablyEmpty(EqualTo("id", 2L), nz, schema))
    assert(ZoneSkip.provablyEmpty(EqualTo("id", 7L), nz, schema), "inside [2,20]")
    // a boolean/nested sighting blocks set reasoning like bound reasoning
    val tainted = zone("s" -> strSetZone("ant", "zebra").copy(others = 1L))
    assert(!ZoneSkip.provablyEmpty(EqualTo("s", "cat"), tainted, schema))
  }

  test("distinct sets overflow at the cutoff and on long values; walker stays sound") {
    // 65 distinct values overflow SetCutoff=64
    val many = (1 to 65).foldLeft(ZoneStats.emptyField)(
      (z, i) => z.addNum(JBD.valueOf(i.toLong)))
    assert(many.numSet == null && many.numMin.longValueExact == 1L)
    val atCut = (1 to 64).foldLeft(ZoneStats.emptyField)(
      (z, i) => z.addNum(JBD.valueOf(i.toLong)))
    assert(atCut.numSet != null && atCut.numSet.size == 64)
    // merge across "files" overflows too
    assert(atCut.merge(ZoneStats.emptyField.addNum(JBD.valueOf(999L)))
      .numSet == null)
    // a value longer than SetMaxStrLen poisons the set, not the bounds
    val long = ZoneStats.emptyField.addStr("x" * 200).addStr("aa")
    assert(long.strSet == null && long.strMin == "aa")
    // duplicate values do not advance the cutoff
    val dup = (1 to 200).foldLeft(ZoneStats.emptyField)(
      (z, _) => z.addStr("same"))
    assert(dup.strSet == Set("same") && dup.present == 200L)
  }

  test("filtered COUNT(*) answers from zones when every file is decided; declines otherwise") {
    val dir = new java.io.File(graft.TempRoots.path("zm_filtered_count"))
    dir.mkdirs()
    def put(file: String, lines: String*): Unit = {
      val w = new java.io.PrintWriter(new java.io.File(dir, file))
      lines.foreach(w.println); w.close()
    }
    // single-source files: every file is all-match or provably empty
    put("fa.json", """{"src": "a", "n": 1}""", """{"src": "a", "n": 2}""")
    put("fb.json", """{"src": "b", "n": 3}""")
    put("fc.json", """{"src": "c", "n": 4}""", """{"src": "c", "n": 5}""",
      """{"src": "c", "n": 6}""")
    val zdf = spark.read.format("graftjson").option("zonemaps", "true")
      .load(dir.toString)
    val q = zdf.where(col("src") === "c").agg(count(lit(1)).as("n"))
    assert(q.collect()(0).getLong(0) == 3L)
    assert(q.queryExecution.executedPlan.toString.contains("PushedAggregation"),
      "single-source files decide every file: the count must answer from metadata\n" +
        q.queryExecution.executedPlan.toString)
    // range predicate: bounds decide every file (n fully present)
    val r = zdf.where(col("n") >= 3L).agg(count(lit(1)).as("n"))
    assert(r.collect()(0).getLong(0) == 4L)
    assert(r.queryExecution.executedPlan.toString.contains("PushedAggregation"))
    // provably-empty everywhere: zero, still metadata-answered
    val z0 = zdf.where(col("src") === "zzz").agg(count(lit(1)).as("n"))
    assert(z0.collect()(0).getLong(0) == 0L)
    assert(z0.queryExecution.executedPlan.toString.contains("PushedAggregation"))
    // DECLINE: a mixed file (both 'a' and 'b') is neither all-match
    // nor empty for src='a' — the ordinary scan runs, result correct
    put("fmix.json", """{"src": "a", "n": 7}""", """{"src": "b", "n": 8}""")
    val zdf2 = spark.read.format("graftjson").option("zonemaps", "true")
      .load(dir.toString)
    val d = zdf2.where(col("src") === "a").agg(count(lit(1)).as("n"))
    assert(d.collect()(0).getLong(0) == 3L)
    assert(!d.queryExecution.executedPlan.toString.contains("PushedAggregation"),
      "an undecidable file must decline the filtered count push")
    // min/max under a filter answer ONLY from the kept-set partition:
    // here every file is decided (single-source + the mixed file's
    // distinct set excludes 'c'), so fc's unfiltered bounds ARE the
    // filtered bounds (r12 strengthening — the old rule declined all
    // filtered min/max; the partition argument makes this exact)
    val mm = zdf2.where(col("src") === "c").agg(min(col("n")).as("lo"))
    assert(mm.collect()(0).getAs[Number](0).longValue == 4L)
    assert(mm.queryExecution.executedPlan.toString.contains("PushedAggregation"),
      "every file decided → filtered MIN answers from the kept files' bounds")
    // DECLINE: an undecided file poisons filtered min/max exactly like
    // the filtered count (src='a' leaves fmix neither all-match nor
    // empty)
    val mmUndec = zdf2.where(col("src") === "a").agg(min(col("n")).as("lo"))
    assert(mmUndec.collect()(0).getAs[Number](0).longValue == 1L)
    assert(!mmUndec.queryExecution.executedPlan.toString
      .contains("PushedAggregation"))
    // DECLINE: a null-bearing file cannot prove all-match (null row
    // fails the equality), and IS-NULL rows count correctly
    val dir2 = new java.io.File(graft.TempRoots.path("zm_fc_nulls"))
    dir2.mkdirs()
    def put2(file: String, lines: String*): Unit = {
      val w = new java.io.PrintWriter(new java.io.File(dir2, file))
      lines.foreach(w.println); w.close()
    }
    put2("g1.json", """{"src": "a", "n": 1}""", """{"src": null, "n": 2}""")
    val z3 = spark.read.format("graftjson").option("zonemaps", "true")
      .load(dir2.toString)
    val dn = z3.where(col("src") === "a").agg(count(lit(1)).as("n"))
    assert(dn.collect()(0).getLong(0) == 1L)
    assert(!dn.queryExecution.executedPlan.toString.contains("PushedAggregation"))
    // IsNotNull all-match / IsNull proofs
    val inn = z3.where(col("n").isNotNull).agg(count(lit(1)).as("n"))
    assert(inn.collect()(0).getLong(0) == 2L)
    assert(inn.queryExecution.executedPlan.toString.contains("PushedAggregation"),
      "n is present in every row: IsNotNull is all-match")
  }

  test("SUM/COUNT(col) answer from zone sums and presence counts; gates decline") {
    val dir = new java.io.File(graft.TempRoots.path("zm_sum_push"))
    dir.mkdirs()
    def put(file: String, lines: String*): Unit = {
      val w = new java.io.PrintWriter(new java.io.File(dir, file))
      lines.foreach(w.println); w.close()
    }
    put("fa.json", """{"src": "a", "n": 10, "d": 1.25}""",
      """{"src": "a", "n": 20, "d": 2.50}""")
    put("fb.json", """{"src": "b", "n": 5, "e": 3}""",
      """{"src": "b", "d": 0.25}""")
    def zdf = spark.read.format("graftjson").option("zonemaps", "true")
      .load(dir.toString)
    def plan(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.executedPlan.toString

    // unfiltered: sum + count(col) + count(*) + min + max in ONE push
    val q = zdf.agg(sum(col("n")).as("s"), count(col("n")).as("cn"),
      count(lit(1)).as("c"), min(col("n")).as("lo"), max(col("n")).as("hi"),
      sum(col("d")).as("sd"))
    val row = q.collect()(0)
    assert(plan(q).contains("PushedAggregation"), plan(q))
    assert(row.getLong(0) == 35L && row.getLong(1) == 3L &&
      row.getLong(2) == 4L)
    assert(row.getAs[Number](3).longValue == 5L &&
      row.getAs[Number](4).longValue == 20L)
    assert(row.getDecimal(5).compareTo(new JBD("4.00")) == 0)
    // the metadata answer equals the engine's own scan+aggregate
    val noZones = spark.read.format("graftjson").load(dir.toString)
      .agg(sum(col("n")), count(col("n")), count(lit(1)), min(col("n")),
        max(col("n")), sum(col("d"))).collect()(0)
    assert((0 until 6).forall(i => row.get(i) == noZones.get(i)),
      s"$row vs $noZones")

    // filtered sum: every file decided by the src distinct sets
    val f = zdf.where(col("src") === "a").agg(sum(col("n")).as("s"))
    assert(f.collect()(0).getLong(0) == 30L)
    assert(plan(f).contains("PushedAggregation"), plan(f))
    // filtered sum whose kept files never saw the column: SQL null,
    // still metadata-answered ('e' lives only in the excluded fb)
    val fn = zdf.where(col("src") === "a").agg(sum(col("e")).as("s"))
    assert(fn.collect()(0).isNullAt(0))
    assert(plan(fn).contains("PushedAggregation"), plan(fn))

    // DECLINE: duplicate keys fold both occurrences into the walker's
    // sum while the reader materializes only the LAST
    put("fdup.json", """{"src": "z", "n": 1, "n": 999}""")
    val qd = zdf.agg(sum(col("n")).as("s"))
    assert(!plan(qd).contains("PushedAggregation"), plan(qd))
    assert(qd.collect()(0).getLong(0) == 35L + 999L) // readTree last-wins
    // count(*) cares only about units — still metadata-answered
    val qc = zdf.agg(count(lit(1)).as("c"))
    assert(plan(qc).contains("PushedAggregation"), plan(qc))
    assert(qc.collect()(0).getLong(0) == 5L)
    new java.io.File(dir, "fdup.json").delete()

    // DECLINE: a multi-doc line folds values the reader never emits
    put("fmulti.json", """{"src": "m", "n": 7} {"src": "m", "n": 8}""")
    val qm = zdf.agg(sum(col("n")).as("s"))
    assert(!plan(qm).contains("PushedAggregation"), plan(qm))
    assert(qm.collect()(0).getLong(0) == 42L) // reader takes the first doc
    new java.io.File(dir, "fmulti.json").delete()

    // DECLINE: a Long-overflowing exact sum never answers (the engine
    // wraps; we refuse to reproduce overflow semantics)
    val dir2 = new java.io.File(graft.TempRoots.path("zm_sum_over"))
    dir2.mkdirs()
    val w2 = new java.io.PrintWriter(new java.io.File(dir2, "big.json"))
    w2.println("""{"n": 9000000000000000000}""")
    w2.println("""{"n": 9000000000000000000}""")
    w2.close()
    val qo = spark.read.format("graftjson").option("zonemaps", "true")
      .load(dir2.toString).agg(sum(col("n")).as("s"))
    assert(!plan(qo).contains("PushedAggregation"), plan(qo))

    // DECLINE: float/double columns never answer (binary rounding);
    // timestamp-kind strings never answer count(col) (an unparseable
    // timestamp-shaped string materializes null while the walker
    // counted it)
    val dir3 = new java.io.File(graft.TempRoots.path("zm_sum_float"))
    dir3.mkdirs()
    val w3 = new java.io.PrintWriter(new java.io.File(dir3, "f.json"))
    w3.println("""{"x": 1.5e0, "ts": "2024-01-01 10:00:00"}""")
    w3.close()
    val df3 = spark.read.format("graftjson").option("zonemaps", "true")
      .load(dir3.toString)
    val qf = df3.agg(sum(col("x")).as("s"))
    assert(!plan(qf).contains("PushedAggregation"), plan(qf))
    val qt = df3.agg(count(col("ts")).as("c"))
    assert(!plan(qt).contains("PushedAggregation"), plan(qt))
  }

  test("GROUP BY answers from metadata when the layout partitions the key") {
    val dir = new java.io.File(graft.TempRoots.path("zm_groupby"))
    dir.mkdirs()
    def put(file: String, lines: String*): Unit = {
      val w = new java.io.PrintWriter(new java.io.File(dir, file))
      lines.foreach(w.println); w.close()
    }
    // per-key files: each file single-valued in `src` — the recluster
    // / per-label-export layout
    put("a1.json", """{"src": "a", "n": 1}""", """{"src": "a", "n": 2}""")
    put("a2.json", """{"src": "a", "n": 10}""")
    put("b1.json", """{"src": "b", "n": 5}""", """{"src": "b", "n": 6}""")
    def zdf = spark.read.format("graftjson").option("zonemaps", "true")
      .load(dir.toString)
    def plan(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.executedPlan.toString

    val q = zdf.groupBy(col("src")).agg(count(lit(1)).as("c"),
      sum(col("n")).as("s"), min(col("n")).as("lo"), max(col("n")).as("hi"))
      .orderBy(col("src"))
    assert(plan(q).contains("PushedAggregation"), plan(q))
    val rows = q.collect().map(r => (r.getString(0), r.getLong(1),
      r.getLong(2), r.getAs[Number](3).longValue, r.getAs[Number](4).longValue))
    assert(rows.toSeq == Seq(("a", 3L, 13L, 1L, 10L), ("b", 2L, 11L, 5L, 6L)))
    // identical to the engine's own scan+aggregate
    val noZ = spark.read.format("graftjson").load(dir.toString)
      .groupBy(col("src")).agg(count(lit(1)), sum(col("n")), min(col("n")),
        max(col("n"))).orderBy(col("src")).collect()
    assert(noZ.map(r => (r.getString(0), r.getLong(1), r.getLong(2),
      r.getAs[Number](3).longValue, r.getAs[Number](4).longValue))
      .toSeq == rows.toSeq)

    // filtered GROUP BY composes with the kept-set partition
    val f = zdf.where(col("src") === "a").groupBy(col("src"))
      .agg(sum(col("n")).as("s"))
    assert(plan(f).contains("PushedAggregation"), plan(f))
    assert(f.collect().map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("a", 13L)))

    // DECLINE: a file carrying BOTH keys cannot apportion its stats
    put("mix.json", """{"src": "a", "n": 100}""", """{"src": "b", "n": 200}""")
    val qm = zdf.groupBy(col("src")).agg(sum(col("n")).as("s"))
    assert(!plan(qm).contains("PushedAggregation"), plan(qm))
    assert(qm.orderBy(col("src")).collect().map(_.getLong(1)).toSeq ==
      Seq(113L, 211L))
    new java.io.File(dir, "mix.json").delete()

    // DECLINE: a null in the group column (present < units) — the
    // null-group rows' aggregates cannot be split out of file stats
    put("nulls.json", """{"src": "c", "n": 7}""", """{"n": 8}""")
    val qn = zdf.groupBy(col("src")).agg(count(lit(1)).as("c"))
    assert(!plan(qn).contains("PushedAggregation"), plan(qn))
    assert(qn.collect().length == 4) // a, b, c, null — engine answers
    new java.io.File(dir, "nulls.json").delete()
  }

  test("ORDER BY + LIMIT prunes to the boundary files; bare LIMIT to a minimal prefix") {
    val dir = new java.io.File(graft.TempRoots.path("zm_topn"))
    dir.mkdirs()
    def put(file: String, lines: String*): Unit = {
      val w = new java.io.PrintWriter(new java.io.File(dir, file))
      lines.foreach(w.println); w.close()
    }
    // clustered layout: non-overlapping id ranges per file
    put("f1.json", (1 to 10).map(i => s"""{"id": $i, "s": "v$i"}"""): _*)
    put("f2.json", (11 to 20).map(i => s"""{"id": $i, "s": "v$i"}"""): _*)
    put("f3.json", (21 to 30).map(i => s"""{"id": $i, "s": "v$i"}"""): _*)
    def zdf = spark.read.format("graftjson").option("zonemaps", "true")
      .load(dir.toString)
    def plan(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.executedPlan.toString

    // ascending top-5: only f1 can hold them
    val a = zdf.orderBy(col("id")).limit(5)
    assert(plan(a).contains("TopNExcluded: 2 files"), plan(a))
    assert(a.collect().map(_.getAs[Number](0).intValue).toSeq == (1 to 5))
    // descending: only f3
    val d = zdf.orderBy(col("id").desc).limit(3)
    assert(plan(d).contains("TopNExcluded: 2 files"), plan(d))
    assert(d.collect().map(_.getAs[Number](0).intValue).toSeq ==
      Seq(30, 29, 28))
    // bare LIMIT: any rows do — a minimal file prefix
    val l = zdf.limit(5)
    assert(plan(l).contains("TopNExcluded: 2 files"), plan(l))
    assert(l.count() == 5L)
    // secondary sort keys ride along (pruning on the first key only)
    val s2 = zdf.orderBy(col("id"), col("s")).limit(5)
    assert(plan(s2).contains("TopNExcluded: 2 files"), plan(s2))
    assert(s2.collect().map(_.getAs[Number](0).intValue).toSeq == (1 to 5))

    // nulls first (asc default): the null-bearing file must survive
    // and can satisfy the limit alone
    put("fn.json", """{"s": "nokey1"}""", """{"s": "nokey2"}""")
    val n = zdf.orderBy(col("id")).limit(2)
    assert(plan(n).contains("TopNExcluded: 3 files"), plan(n))
    assert(n.collect().forall(_.isNullAt(0)))
    // nulls LAST ascending: null rows rank past a satisfied guarantee
    val nl = zdf.orderBy(col("id").asc_nulls_last).limit(5)
    assert(plan(nl).contains("TopNExcluded"), plan(nl))
    assert(nl.collect().map(_.getAs[Number](0).intValue).toSeq == (1 to 5))
    new java.io.File(dir, "fn.json").delete()

    // overlapping ranges exclude only provably-past files: the
    // tightest guarantee wins (limit 5: f1 alone covers it at t=10,
    // so both g1's straddle and f2/f3 resolve against t=10)
    put("g1.json", """{"id": 3, "s": "o1"}""", """{"id": 12, "s": "o2"}""")
    val o = zdf.orderBy(col("id")).limit(5)
    assert(plan(o).contains("TopNExcluded: 2 files"), plan(o))
    assert(o.collect().map(_.getAs[Number](0).intValue).toSeq ==
      Seq(1, 2, 3, 3, 4))
    // limit 12 needs g1's rows too → t=12, and f2 (min 11 ≤ 12) must
    // now survive: only f3 is provably past
    val o12 = zdf.orderBy(col("id")).limit(12)
    assert(plan(o12).contains("TopNExcluded: 1 files"), plan(o12))
    assert(o12.collect().map(_.getAs[Number](0).intValue).toSeq ==
      Seq(1, 2, 3, 3, 4, 5, 6, 7, 8, 9, 10, 11))
    new java.io.File(dir, "g1.json").delete()

    // DECLINE: a filter keeps every file (per-file surviving-row
    // counts are unknowable from zones)
    val f = zdf.where(col("s") =!= "v1").orderBy(col("id")).limit(5)
    assert(!plan(f).contains("TopNExcluded"), plan(f))
    assert(f.collect().map(_.getAs[Number](0).intValue).toSeq == (2 to 6))
  }

  test("filtered TopN/Limit: all-match files guarantee, bounds exclude, undecided never guarantee") {
    val dir = new java.io.File(graft.TempRoots.path("zm_topn_filtered"))
    dir.mkdirs()
    def put(file: String, lines: String*): Unit = {
      val w = new java.io.PrintWriter(new java.io.File(dir, file))
      lines.foreach(w.println); w.close()
    }
    // clustered id ranges; src constant per file except the straddle
    put("f1.json", (1 to 10).map(i => s"""{"id": $i, "src": "a"}"""): _*)
    put("f2.json", (11 to 20).map(i => s"""{"id": $i, "src": "b"}"""): _*)
    put("f3.json", (21 to 30).map(i => s"""{"id": $i, "src": "b"}"""): _*)
    def zdf = spark.read.format("graftjson").option("zonemaps", "true")
      .load(dir.toString)
    def plan(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.executedPlan.toString
    // WHERE src='b' ORDER BY id LIMIT 5: f1 is provably empty
    // (zone-skipped), f2 all-match guarantees 10 >= 5 rows at t=20,
    // f3 (min 21 > 20) is TopN-excluded
    val q = zdf.where(col("src") === "b").orderBy(col("id")).limit(5)
    assert(plan(q).contains("TopNExcluded: 1 files"), plan(q))
    assert(q.collect().map(_.getAs[Number](0).intValue).toSeq == (11 to 15))
    // an UNDECIDED straddle file (both srcs): guarantees nothing, but
    // its bounds keep it in (near 2 <= t) and its surviving row wins
    put("g.json", """{"id": 2, "src": "b"}""", """{"id": 5, "src": "a"}""")
    val q2 = zdf.where(col("src") === "b").orderBy(col("id")).limit(5)
    assert(plan(q2).contains("TopNExcluded: 1 files"), plan(q2))
    assert(q2.collect().map(_.getAs[Number](0).intValue).toSeq ==
      Seq(2, 11, 12, 13, 14))
    new java.io.File(dir, "g.json").delete()
    // filtered bare LIMIT: the prefix counts only all-match units —
    // f1 contributes nothing, f2's 10 rows cover the limit, f3 drops
    val l = zdf.where(col("src") === "b").limit(5)
    assert(plan(l).contains("TopNExcluded"), plan(l))
    assert(l.count() == 5L)
    // guarantee unreachable (filter matches no all-match file rows
    // beyond the limit) -> decline, correctness via the exact reader
    val hard = zdf.where(col("src") === "a").orderBy(col("id")).limit(50)
    assert(!plan(hard).contains("TopNExcluded"), plan(hard))
    assert(hard.count() == 10L)
  }

  test("q238 plans a file-pruned top-k on the clustered table") {
    val df = graft.SparkEntry.queries("q238_topk_pruned")(
      spark, "/root/testdata/sf0.001")
    val rows = df.collect()
    assert(rows.length == 20)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TopNExcluded"), plan)
    assert(plan.contains("TakeOrderedAndProject"),
      s"the engine must keep its own top-k over the surviving files:\n$plan")
  }

  test("q240 plans a FILTERED file-pruned top-k on real data") {
    val df = graft.SparkEntry.queries("q240_filtered_topk")(
      spark, "/root/testdata/sf0.001")
    val rows = df.collect()
    assert(rows.length == 15)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TopNExcluded"),
      s"the fully-pushed band filter must not cancel TopN pruning:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("q235 plans both sides as metadata-answered aggregates on real data") {
    val df = graft.SparkEntry.queries("q235_meta_stats")(
      spark, "/root/testdata/sf0.001")
    val row = df.collect()(0)
    assert(row.getLong(0) > 0L && !row.isNullAt(7))
    val plan = df.queryExecution.executedPlan.toString
    // both the unfiltered statistics probe AND the filtered sum must
    // be metadata scans — no BatchScan of data files anywhere
    assert(plan.split("PushedAggregation").length >= 3,
      s"expected two metadata-answered aggregates:\n$plan")
    assert(!plan.contains("ReadSchema:"),
      s"no data scan may survive:\n$plan")
  }

  test("AVG pushes for integral columns inside the exact double window; DISTINCT pushes as keys-only") {
    val dir = new java.io.File(graft.TempRoots.path("zm_avg"))
    dir.mkdirs()
    def put(file: String, lines: String*): Unit = {
      val w = new java.io.PrintWriter(new java.io.File(dir, file))
      lines.foreach(w.println); w.close()
    }
    put("a.json", """{"src": "a", "n": 1}""", """{"src": "a", "n": 2}""")
    put("b.json", """{"src": "b", "n": 6}""")
    def zdf = spark.read.format("graftjson").option("zonemaps", "true")
      .load(dir.toString)
    def plan(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.executedPlan.toString

    // inside the exact window the direct Avg push answers (avg_n in
    // the pushed schema — no sum/count decomposition)
    val a = zdf.agg(avg(col("n")).as("a"))
    assert(plan(a).contains("avg_n"), plan(a))
    assert(a.collect()(0).getDouble(0) == 3.0)
    // identical to the engine's own computation
    assert(spark.read.format("graftjson").load(dir.toString)
      .agg(avg(col("n"))).collect()(0).getDouble(0) == 3.0)
    // grouped avg rides the grouped path
    val g = zdf.groupBy(col("src")).agg(avg(col("n")).as("a"))
      .orderBy(col("src"))
    assert(plan(g).contains("PushedAggregation"), plan(g))
    assert(g.collect().map(_.getDouble(1)).toSeq == Seq(1.5, 6.0))

    // outside double's exact integer window (2^53) the DIRECT Avg push
    // declines; Spark then rewrites avg → sum/count, both of which
    // push exactly, and divides on top — its own authorized
    // decomposition, value-checked against the plain load
    val dir2 = new java.io.File(graft.TempRoots.path("zm_avg_big"))
    dir2.mkdirs()
    val w2 = new java.io.PrintWriter(new java.io.File(dir2, "big.json"))
    w2.println("""{"n": 9007199254740993}""") // 2^53 + 1
    w2.close()
    val qb = spark.read.format("graftjson").option("zonemaps", "true")
      .load(dir2.toString).agg(avg(col("n")).as("a"))
    assert(!plan(qb).contains("avg_n"), plan(qb))
    assert(plan(qb).contains("sum_n"), plan(qb))
    assert(qb.collect()(0).getDouble(0) ==
      spark.read.format("graftjson").load(dir2.toString)
        .agg(avg(col("n"))).collect()(0).getDouble(0))

    // SELECT DISTINCT on a layout-partitioned key: keys-only metadata
    val d = zdf.select(col("src")).distinct().orderBy(col("src"))
    val dPlan = plan(d)
    val dRows = d.collect().map(_.getString(0)).toSeq
    assert(dRows == Seq("a", "b"))
    if (dPlan.contains("PushedAggregation"))
      assert(!dPlan.contains("ReadSchema:"), dPlan)
  }

  test("q236 plans the whole grouped aggregate as metadata on real data") {
    val df = graft.SparkEntry.queries("q236_meta_groupby")(
      spark, "/root/testdata/sf0.001")
    val rows = df.collect()
    assert(rows.length > 1 && rows.forall(_.getLong(1) > 0L))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedAggregation"), plan)
    assert(!plan.contains("ReadSchema:"), s"no data scan may survive:\n$plan")
  }

  test("q229 plans as a metadata-answered filtered count on real data") {
    val df = graft.SparkEntry.queries("q229_filtered_count")(
      spark, "/root/testdata/sf0.001")
    assert(df.collect()(0).getLong(0) > 0L)
    assert(df.queryExecution.executedPlan.toString.contains("PushedAggregation"),
      "per-lang files must let the filtered count answer from metadata:\n" +
        df.queryExecution.executedPlan.toString)
  }

  test("exact filters are fully pushed (no residual Filter); best-effort ones keep theirs") {
    val dir = new java.io.File(graft.TempRoots.path("zm_exact_push"))
    dir.mkdirs()
    val w = new java.io.PrintWriter(new java.io.File(dir, "f.json"))
    w.println("""{"s": "alpha", "d": 1.5}""")
    w.println("""{"s": "beta", "d": 2.5}""")
    w.close()
    val df = spark.read.format("graftjson").load(dir.toString)
    // string equality is exact → no Filter node survives
    val qe = df.where(col("s") === "alpha").select(col("s"))
    val planE = qe.queryExecution.executedPlan.toString
    assert(!planE.contains("Filter ("),
      s"exact string equality should be fully pushed:\n$planE")
    assert(qe.collect().map(_.getString(0)).toSeq == Seq("alpha"))
    // decimal comparison is NOT exact (literal class varies) → residual
    val qd = df.where(col("d") > 2.0).select(col("s"))
    val planD = qd.queryExecution.executedPlan.toString
    assert(planD.contains("Filter"),
      s"decimal comparisons must keep their residual Filter:\n$planD")
    assert(qd.collect().map(_.getString(0)).toSeq == Seq("beta"))
  }

  test("nested-field zones: a nested predicate skips whole files; results exact") {
    val dir = new java.io.File(graft.TempRoots.path("zm_nested_e2e"))
    dir.mkdirs()
    def put(file: String, lines: String*): Unit = {
      val w = new java.io.PrintWriter(new java.io.File(dir, file))
      lines.foreach(w.println); w.close()
    }
    put("f1.json", """{"id": 1, "meta": {"src": "a", "n": 10}}""",
      """{"id": 2, "meta": {"src": "a", "n": 20}}""")
    put("f2.json", """{"id": 3, "meta": {"src": "b", "n": 30}}""")
    put("f3.json", """{"id": 4, "meta": {"src": "c", "n": 40}}""")
    val zdf = spark.read.format("graftjson").option("zonemaps", "true")
      .load(dir.toString)
    val q = zdf.where(col("meta.src") === "b").select(col("id"))
    assert(q.collect().map(_.getAs[Number](0).longValue).toSeq == Seq(3L))
    // only f2 was scanned: the nested equality pruned the other files
    assert(PlannedScan.splits(q) == 1,
      "nested predicate should zone-prune to the single matching file")
    // nested range predicate prunes by the nested numeric bounds
    val r = zdf.where(col("meta.n") > 35).select(col("id"))
    assert(r.collect().map(_.getAs[Number](0).longValue).toSeq == Seq(4L))
    assert(PlannedScan.splits(r) == 1)
  }

  test("nested MIN/MAX and IsNull answer from zones; union chains and deep paths never do") {
    val dir = new java.io.File(graft.TempRoots.path("zm_nested_meta"))
    dir.mkdirs()
    val w = new java.io.PrintWriter(new java.io.File(dir, "f.json"))
    w.println("""{"id": 1, "meta": {"src": "a", "n": 10}}""")
    w.println("""{"id": 2, "meta": {"src": "z", "n": 42}}""")
    w.close()
    val zdf = spark.read.format("graftjson").option("zonemaps", "true")
      .load(dir.toString)
    val m = zdf.agg(min(col("meta.n")).as("lo"), max(col("meta.n")).as("hi"),
      max(col("meta.src")).as("s"))
    val row = m.collect()(0)
    assert(row.getAs[Number](0).longValue == 10L &&
      row.getAs[Number](1).longValue == 42L && row.getString(2) == "z")
    assert(m.queryExecution.executedPlan.toString.contains("PushedAggregation"),
      "nested min/max must answer from zone metadata")
    // IsNotNull on the intermediate struct path prunes an all-null file
    val dir2 = new java.io.File(graft.TempRoots.path("zm_nested_null"))
    dir2.mkdirs()
    def put(file: String, lines: String*): Unit = {
      val p = new java.io.PrintWriter(new java.io.File(dir2, file))
      lines.foreach(p.println); p.close()
    }
    put("has.json", """{"id": 1, "meta": {"src": "a"}}""")
    put("not.json", """{"id": 2}""")
    val z2 = spark.read.format("graftjson").option("zonemaps", "true")
      .load(dir2.toString)
    val before = JsonDocSource.zoneSkippedFiles.get()
    val got = z2.where(col("meta").isNotNull).select(col("id")).collect()
    assert(got.map(_.getAs[Number](0).longValue).toSeq == Seq(1L))
    assert(JsonDocSource.zoneSkippedFiles.get() > before,
      "IsNotNull(meta) should zone-skip the file where meta never appears")
  }

  test("IsNull/IsNotNull sighting proofs exclude timestamp and binary columns") {
    // a timestamp-SHAPED string can fail Timestamp.valueOf (month 13)
    // and materialize SQL NULL — a sighting is NOT a non-null row, so
    // neither the IsNull file skip nor the IsNotNull all-match proof
    // may fire on timestamp (or, defensively, binary) columns
    val types = ZoneSkip.topLevelPaths(schema) // has ts: timestamp
    val tz = zone("ts" -> strZone("2024-01-01 00:00:00",
      "2024-13-01 10:00:00"))
    assert(!ZoneSkip.provablyEmpty(IsNull("ts"), tz, schema))
    assert(!ZoneSkip.provablyAllMatch(IsNotNull("ts"), tz, types))
    // plain-string sibling with identical sighting counts still proves
    val sz = zone("s" -> strZone("a", "b"))
    assert(ZoneSkip.provablyEmpty(IsNull("s"), sz, schema))
    assert(ZoneSkip.provablyAllMatch(IsNotNull("s"), sz, types))
    // the absence-based directions stay sound for ANY type: zero
    // sightings ⟹ all null regardless of parseability
    val none = zone()
    assert(ZoneSkip.provablyEmpty(IsNotNull("ts"), none, schema))
    assert(ZoneSkip.provablyAllMatch(IsNull("ts"), none, types))
  }

  test("filtered count declines on IS NOT NULL over unparseable-timestamp values") {
    val dir = new java.io.File(graft.TempRoots.path("zm_ts_notnull"))
    dir.mkdirs()
    val w = new java.io.PrintWriter(new java.io.File(dir, "t.json"))
    w.println("""{"ts": "2024-01-01 00:00:00"}""")
    w.println("""{"ts": "2024-13-01 10:00:00"}""") // shape-valid, month 13
    w.close()
    val zdf = spark.read.format("graftjson").option("zonemaps", "true")
      .load(dir.toString)
    assert(zdf.schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampType)
    // the engine materializes ONE null ts; a metadata answer from
    // sighting counts would say 2 — the push must decline
    val q = zdf.where(col("ts").isNotNull).groupBy().count()
    assert(q.collect()(0).getLong(0) == 1L,
      "IS NOT NULL count over an unparseable timestamp must be 1")
    assert(!q.queryExecution.executedPlan.toString.contains("PushedAggregation"),
      q.queryExecution.executedPlan.toString)
  }

  test("avg pushdown declines when intermediate partials can leave the exact window") {
    val dir = new java.io.File(graft.TempRoots.path("zm_avg_window"))
    dir.mkdirs()
    val w = new java.io.PrintWriter(new java.io.File(dir, "v.json"))
    w.println("""{"v": 9007199254740992}""") // 2^53
    w.println("""{"v": 3}""")
    w.println("""{"v": -9007199254740992}""")
    w.close()
    val zdf = spark.read.format("graftjson").option("zonemaps", "true")
      .load(dir.toString)
    // exact sum is 3 (inside 2^53) but the running double sum rounds
    // mid-flight — the DIRECT Avg answer must decline (the engine's
    // double accumulation is layout-dependent and irreproducible from
    // metadata); Spark then applies its own authorized avg→sum/count
    // decomposition, whose LONG-exact arithmetic gives the true mean
    val q = zdf.agg(avg(col("v")))
    assert(q.collect()(0).getDouble(0) == 1.0,
      "decomposed avg must be the exact 3/3")
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("avg_v"), s"direct AVG must have declined:\n$plan")
    assert(plan.contains("sum_v") && plan.contains("countcol_v"),
      s"expected the sum/count decomposition:\n$plan")
  }

  test("partial-buffer merge drops paths one side's cap refused; re-caps unions") {
    // buffer A hit the path cap and REFUSED 'key'; buffer B (another
    // split of the SAME file) recorded it — merged stats for 'key'
    // would be B-only (incomplete), so the path must drop entirely
    // and the absence+overflow gates decline every proof on it
    val a = ZoneStats.FileZone(5L, 5L, dirty = false, multiDoc = false,
      dupKey = false, overflow = true,
      Map("other" -> ZoneStats.emptyField.addNum(new JBD("1"))))
    val b = ZoneStats.FileZone(3L, 3L, dirty = false, multiDoc = false,
      dupKey = false, overflow = false,
      Map("key" -> ZoneStats.emptyField.addNum(new JBD("100")),
        "other" -> ZoneStats.emptyField.addNum(new JBD("2"))))
    for (m <- Seq(a.merge(b), b.merge(a))) {
      assert(!m.fields.contains("key"),
        s"one-side-refused path must not survive the merge: $m")
      assert(m.fields.contains("other")) // recorded by BOTH sides
      assert(m.overflow)
      // and the proofs decline on the dropped path
      val types = Map[String, org.apache.spark.sql.types.DataType](
        "key" -> LongType)
      assert(!ZoneSkip.provablyEmpty(EqualTo("key", 5L), m, types))
      assert(!ZoneSkip.provablyEmpty(IsNotNull("key"), m, types))
    }
    // two no-overflow buffers whose union exceeds the cap re-cap
    def wide(offset: Int) = ZoneStats.FileZone(1L, 1L, dirty = false,
      multiDoc = false, dupKey = false, overflow = false,
      (0 until ZoneStats.MaxPathsPerFile).map(i =>
        f"p${offset + i}%05d" -> ZoneStats.emptyField.addNum(new JBD("1"))).toMap)
    val u = wide(0).merge(wide(ZoneStats.MaxPathsPerFile / 2))
    assert(u.fields.size == ZoneStats.MaxPathsPerFile, u.fields.size)
    assert(u.overflow, "a re-capped union must flip overflow")
  }

  test("a numeric literal past BigDecimal range folds as dirty, never a crash") {
    // 1e2147483648 is valid JSON the plain load reads as an infinite
    // double; BigDecimal throws on the exponent — the walk must
    // survive and poison the file instead of killing the planning job
    val z = ZoneStats.walkUnit("""{"a": 1e2147483648, "b": 2}""",
      ZoneStats.emptyFile.copy(units = 1))
    assert(z.dirty, "unfoldable numeric must mark the file dirty")
    assert(z.fields.get("b").exists(_.present == 1), "siblings still fold")
    // end to end: the zonemaps load plans and reads the file
    val dir = new java.io.File(graft.TempRoots.path("zm_bignum"))
    dir.mkdirs()
    val w = new java.io.PrintWriter(new java.io.File(dir, "n.json"))
    w.println("""{"a": 1e2147483648}"""); w.println("""{"a": 1.5e0}""")
    w.close()
    val zdf = spark.read.format("graftjson").option("zonemaps", "true")
      .load(dir.toString)
    assert(zdf.count() == 2L)
  }

  test("per-file set-byte budget: largest sets drop to null, bounds survive, deterministic") {
    // many paths, each with a full-width distinct set — a map-shaped
    // file's pathological zone state
    val wide = "w" * (ZoneStats.SetMaxStrLen - 8) // inside the per-value cap
    val fat = (1 to 3000).map { i =>
      f"p$i%04d" -> ZoneStats.emptyField
        .addStr(wide + f"$i%04d".takeRight(4))
        .addStr(wide + f"${i + 7}%04d".takeRight(4) + "z")
    }.toMap
    val z = ZoneStats.FileZone(3000L, 3000L, dirty = false,
      multiDoc = false, dupKey = false, overflow = false, fat)
    val trimmed = ZoneStats.trimFile(z)
    def setBytes(f: ZoneStats.FieldZone): Long =
      (if (f.strSet == null) 0L else f.strSet.iterator.map(_.length.toLong).sum) +
        (if (f.numSet == null) 0L else f.numSet.iterator.map(_.toString.length.toLong).sum)
    val total = trimmed.fields.valuesIterator.map(setBytes).sum
    assert(total <= ZoneStats.SetBytesPerFileBudget,
      s"budget not enforced: $total bytes retained")
    // bounds survive on every path — range pruning never degrades
    assert(trimmed.fields.valuesIterator.forall(f =>
      f.strMin != null && f.strMax != null))
    // dropped sets read as the established overflow rendering (null)
    assert(trimmed.fields.valuesIterator.exists(_.strSet == null))
    assert(trimmed.fields.valuesIterator.exists(_.strSet != null),
      "the budget should keep sets it can afford")
    // deterministic: same input → same output
    assert(ZoneStats.trimFile(z) == trimmed)
    // a small zone passes through untouched (reference equality even)
    val small = ZoneStats.FileZone(1L, 1L, dirty = false, multiDoc = false,
      dupKey = false, overflow = false,
      Map("a" -> ZoneStats.emptyField.addStr("x")))
    assert(ZoneStats.trimFile(small) eq small)
  }

  test("eligiblePaths drops decimal leaves the 38-digit cap would round") {
    import graft.infer.JsonInfer
    import graft.types.HType
    def infer(docs: String*): HType =
      docs.map(JsonInfer.inferDoc).reduce(HType.merge(_, _)).canonical
    // a single literal past 38 digits classifies FLOAT (lexical
    // buckets), but MERGE widening reaches capped decimals: max-int ⊔
    // max-scale = decimal(30,9), precision 39 > 38 — the engine then
    // materializes ROUNDED values, so no zone proof may consult it
    val t = infer(s"""{"d": ${"9" * 30}, "ok": 2.75}""",
      """{"d": 0.123456789, "ok": 1.5}""")
    assert(t.toString.contains("decimal") ||
      graft.infer.Materialize.toMaterializableSparkType(t)
        .asInstanceOf[StructType]("d").dataType.isInstanceOf[DecimalType])
    val paths = ZoneSkip.eligiblePaths(t)
    assert(!paths.contains("d"),
      s"capped decimal path must not be consultable: $paths")
    assert(paths.get("ok").exists(_.isInstanceOf[DecimalType]))
  }

  test("eligiblePaths: collision drop, depth cap, union stop, value wrap") {
    import graft.infer.JsonInfer
    import graft.types.HType
    def infer(docs: String*): HType =
      docs.map(JsonInfer.inferDoc).reduce(HType.merge(_, _)).canonical
    // literal-dot field collides with the nested chain: BOTH drop
    val coll = ZoneSkip.eligiblePaths(infer(
      """{"a.b": 1}""", """{"a": {"b": 2}}"""))
    assert(!coll.contains("a.b"))
    assert(coll.contains("a"), "the unambiguous parent survives")
    // depth cap matches the walker: segments beyond MaxPathDepth absent
    val deepDoc = (1 to ZoneStats.MaxPathDepth + 2)
      .foldRight("""1""")((i, acc) => s"""{"d$i": $acc}""")
    val deep = ZoneSkip.eligiblePaths(infer(deepDoc))
    val within = (1 to ZoneStats.MaxPathDepth).map(i =>
      (1 to i).map(j => s"d$j").mkString("."))
    within.foreach(p => assert(deep.contains(p), s"missing $p"))
    assert(!deep.keys.exists(_.count(_ == '.') >= ZoneStats.MaxPathDepth),
      "paths beyond the walker's depth cap must not be offered")
    // a union-typed field stops the chain (its children are u0/u1
    // branches, not JSON paths)
    val uni = ZoneSkip.eligiblePaths(infer(
      """{"u": {"x": 1}}""", """{"u": 5}"""))
    assert(uni.contains("u") && !uni.keys.exists(_.startsWith("u.")))
    // non-object roots register the wrapping `value` column
    val wrap = ZoneSkip.eligiblePaths(infer("42"))
    assert(wrap.keySet == Set("value"))
  }

  test("per-file path cap: map-shaped JSON overflows soundly, absence proves nothing") {
    // a dictionary-shaped object with more distinct keys than the cap
    val keys = (1 to ZoneStats.MaxPathsPerFile + 50)
    val doc = keys.map(i => s""""k$i": $i""").mkString("{", ", ", "}")
    val z = ZoneStats.walkUnit(doc, ZoneStats.emptyFile.copy(units = 1))
    assert(z.overflow, "past-cap paths must flip the overflow flag")
    assert(z.fields.size == ZoneStats.MaxPathsPerFile,
      s"state must stay capped, got ${z.fields.size}")
    // recorded paths stay fully provable
    val types = Map[String, org.apache.spark.sql.types.DataType](
      "k1" -> ByteType, s"k${keys.last}" -> ByteType)
    assert(ZoneSkip.provablyEmpty(EqualTo("k1", 99.toByte), z, types))
    // an UNRECORDED path (dropped by the cap) proves NOTHING — its
    // values exist in the file even though the zone never saw them
    val dropped = s"k${keys.last}"
    assert(!z.fields.contains(dropped))
    assert(!ZoneSkip.provablyEmpty(IsNotNull(dropped), z, types),
      "absence under overflow must not prove all-null")
    assert(!ZoneSkip.provablyEmpty(EqualTo(dropped, 99.toByte), z, types))
    assert(!ZoneSkip.provablyAllMatch(IsNull(dropped), z, types))
    // without overflow, the same absences DO prove (the r11 behavior)
    val small = ZoneStats.walkUnit("""{"a": 1}""",
      ZoneStats.emptyFile.copy(units = 1))
    assert(ZoneSkip.provablyEmpty(IsNotNull("missing"), small,
      Map("missing" -> ByteType)))
    // overflow survives merge in both directions
    assert(z.merge(small).overflow && small.merge(z).overflow)
  }

  test("walkUnit nested: dotted paths, parent sightings, nested dup keys, array opacity") {
    val z = ZoneStats.walkUnit(
      """{"meta": {"src": "a", "n": 7, "deep": {"k": 1}}, "tags": [1, 2]}""",
      ZoneStats.emptyFile.copy(units = 1))
    assert(z.fields("meta.src").strMin == "a")
    assert(z.fields("meta.n").numMin.longValueExact == 7L)
    assert(z.fields("meta.deep.k").numMin.longValueExact == 1L)
    // the nested objects record non-null sightings at their own paths
    assert(z.fields("meta").others == 1L && z.fields("meta.deep").others == 1L)
    // arrays are opaque: a sighting at the array's path, no children
    assert(z.fields("tags").others == 1L)
    assert(!z.fields.keys.exists(_.startsWith("tags.")))
    // duplicate keys at nested depth set the file flag
    val dup = ZoneStats.walkUnit(
      """{"m": {"x": 1, "x": 2}}""", ZoneStats.emptyFile.copy(units = 1))
    assert(dup.dupKey, "nested duplicate keys must poison count-based proofs")
    // deep nesting beyond the cap is opaque at the cap boundary
    val deepDoc = (1 to ZoneStats.MaxPathDepth + 2)
      .foldRight("""1""")((i, acc) => s"""{"d$i": $acc}""")
    val deep = ZoneStats.walkUnit(deepDoc, ZoneStats.emptyFile.copy(units = 1))
    val capPath = (1 to ZoneStats.MaxPathDepth).map(i => s"d$i").mkString(".")
    assert(deep.fields.contains(capPath))
    assert(!deep.fields.keys.exists(_.count(_ == '.') >= ZoneStats.MaxPathDepth),
      "the walker must not record past its depth cap")
  }

  test("planning aggregation is sharded by file: grouped partial+final, per-file buffers") {
    import org.apache.spark.sql.Encoders
    val pairs = spark.createDataset(Seq(
      ("f1", """{"a": 1, "s": "x"}"""),
      ("f1", """{"a": 9, "s": "y"}"""),
      ("f2", """{"a": 5}"""),
      ("f3", "")))(
      Encoders.tuple(Encoders.STRING, Encoders.STRING))
    val ds = JsonDocSource.perFileAggDs(pairs)
    // job shape: a GROUPED aggregation (partial on the map side, final
    // after a hash shuffle on the file key) — never a global single-
    // buffer aggregate. Two aggregate nodes, both with non-empty keys,
    // is exactly that plan; a whole-corpus map buffer would plan a
    // keyless (global) aggregate instead.
    val plan = ds.queryExecution.executedPlan.toString
    val aggNodes = plan.linesIterator.filter(_.contains("Aggregate")).toSeq
    assert(aggNodes.size >= 2, s"expected partial+final aggregate:\n$plan")
    assert(aggNodes.forall(_.contains("keys=[value")),
      s"aggregation must be keyed by file, not global:\n$plan")
    // per-file results match a direct single-file fold
    val rows = ds.collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(rows.keySet == Set("f1", "f2", "f3"))
    val (t1, n1) = rows("f1")._1
    assert(n1 == 2L && t1.isInstanceOf[graft.types.HStruct])
    val z1 = rows("f1")._2
    assert(z1.units == 2L && z1.docs == 2L &&
      z1.fields("a").numMin.longValueExact == 1L &&
      z1.fields("a").numMax.longValueExact == 9L)
    // the empty unit counts as a unit (one scan row) but no doc
    val z3 = rows("f3")._2
    assert(z3.units == 1L && z3.docs == 0L)
  }

  test("string bounds are length-capped: loosened, inexact-flagged, still sound") {
    val cap = ZoneStats.BoundMaxStrLen
    val longLow = "b" + ("a" * (cap + 100)) // sorts low, exceeds cap
    val longHigh = "y" + ("z" * (cap + 100)) // sorts high, exceeds cap
    val z = ZoneStats.emptyField.addStr(longLow).addStr("mm").addStr(longHigh)
    // bounds hold no more than cap+? chars (successor may not extend)
    assert(z.strMin.length <= cap && z.strMax.length <= cap)
    assert(z.strInexact)
    // loosened bounds stay correct: min ≤ every value ≤ max
    for (v <- Seq(longLow, "mm", longHigh)) {
      assert(ZoneStats.cpCompare(z.strMin, v) <= 0)
      assert(ZoneStats.cpCompare(v, z.strMax) <= 0)
    }
    // skipping with loosened bounds: clearly-outside probes still prove
    val fz = zone("s" -> z.copy(strSet = null))
    assert(ZoneSkip.provablyEmpty(EqualTo("s", "a"), fz, schema),
      "'a' orders below the truncated min prefix")
    assert(ZoneSkip.provablyEmpty(GreaterThan("s", "z"), fz, schema),
      "everything is below the successor-raised max")
    // values inside the loosened range never prove (conservative)
    assert(!ZoneSkip.provablyEmpty(EqualTo("s", longLow), fz, schema))
    // a short-only zone stays exact
    val exact = ZoneStats.emptyField.addStr("aa").addStr("zz")
    assert(!exact.strInexact && exact.strMin == "aa" && exact.strMax == "zz")
    // inexact survives merge in both directions
    assert(exact.merge(z).strInexact && z.merge(exact).strInexact)
    // truncation never splits a surrogate pair: a pair straddling the
    // cap is dropped whole, and the bound stays well-formed
    val emoji = ("x" * (cap - 1)) + "😀" + ("y" * 200)
    val ez = ZoneStats.emptyField.addStr(emoji)
    assert(ez.strMin.length == cap - 1 && !ez.strMin.exists(Character.isSurrogate))
  }

  test("MIN/MAX metadata pushdown declines on inexact (length-capped) string bounds") {
    val dir = new java.io.File(graft.TempRoots.path("zm_inexact_meta"))
    dir.mkdirs()
    val big = "m" * (ZoneStats.BoundMaxStrLen + 50)
    val w = new java.io.PrintWriter(new java.io.File(dir, "f.json"))
    w.println(s"""{"s": "aa", "n": 1}""")
    w.println(s"""{"s": "$big", "n": 2}""")
    w.close()
    val zdf = spark.read.format("graftjson").option("zonemaps", "true")
      .load(dir.toString)
    // min/max over the capped column must NOT answer from metadata —
    // the recorded max is a loosened successor, not a real value —
    // and the scan fallback must produce the true values
    val q = zdf.agg(min(col("s")).as("lo"), max(col("s")).as("hi"))
    val r = q.collect()(0)
    assert(r.getString(0) == "aa" && r.getString(1) == big)
    assert(!q.queryExecution.executedPlan.toString.contains("PushedAggregation"))
    // the numeric column in the same table still answers from metadata
    val qn = zdf.agg(min(col("n")).as("lo"), max(col("n")).as("hi"))
    assert(qn.collect()(0).getAs[Number](0).longValue == 1L)
    assert(qn.queryExecution.executedPlan.toString.contains("PushedAggregation"))
  }

  test("set skipping end to end: equality inside every file's bounds prunes by set") {
    val dir = new java.io.File(graft.TempRoots.path("zm_set_e2e"))
    dir.mkdirs()
    def put(file: String, lines: String*): Unit = {
      val w = new java.io.PrintWriter(new java.io.File(dir, file))
      lines.foreach(w.println); w.close()
    }
    // 'yak' lies inside f1's [ant, zebra] bounds — min/max cannot
    // prune f1; the distinct set can
    put("f1.json", """{"k": "ant", "n": 1}""", """{"k": "zebra", "n": 2}""")
    put("f2.json", """{"k": "bee", "n": 3}""", """{"k": "yak", "n": 4}""")
    val zdf = spark.read.format("graftjson").option("zonemaps", "true")
      .load(dir.toString)
    val q = zdf.where(col("k") === "yak").select(col("n"))
    val (parts, skipped) = skipsDuring(PlannedScan.splits(q))
    assert(parts == 1, s"expected f1 set-pruned, got $parts splits")
    assert(skipped >= 1, s"skip counter did not move: $skipped")
    assert(q.collect().map(_.getAs[Number](0).longValue).toSeq == Seq(4L))
    // parity: same rows without zonemaps
    val plain = spark.read.format("graftjson").load(dir.toString)
      .where(col("k") === "yak").select(col("n"))
      .collect().map(_.getAs[Number](0).longValue).toSeq
    assert(plain == Seq(4L))
  }

  test("ZoneSkip: IsNull proves only when sightings cover every unit, sans multiDoc/dupKey") {
    def dense(n: Long) = ZoneStats.emptyField.copy(present = n)
    val z = zone("id" -> dense(10L)) // zone() has docs=10, units=10
    assert(ZoneSkip.provablyEmpty(IsNull("id"), z, schema))
    // works for ANY column type — float too (null-ness is type-blind)
    assert(ZoneSkip.provablyEmpty(IsNull("f"),
      zone("f" -> dense(10L)), schema))
    // one sighting short (a blank line, a missing field, an explicit
    // null): a null row exists
    assert(!ZoneSkip.provablyEmpty(IsNull("id"), zone("id" -> dense(9L)), schema))
    // others count as non-null sightings (bool/nested materialize)
    assert(ZoneSkip.provablyEmpty(IsNull("id"),
      zone("id" -> dense(7L).copy(others = 3L)), schema))
    // concatenated lines / duplicate keys overcount sightings
    assert(!ZoneSkip.provablyEmpty(IsNull("id"),
      z.copy(multiDoc = true), schema))
    assert(!ZoneSkip.provablyEmpty(IsNull("id"),
      z.copy(dupKey = true), schema))
    // a field NEVER seen: present 0 != units — IsNull correctly keeps
    assert(!ZoneSkip.provablyEmpty(IsNull("nope"), z, schema))
    // EqualNullSafe: null literal rides the IsNull proof, non-null
    // literal rides EqualTo's
    assert(ZoneSkip.provablyEmpty(EqualNullSafe("id", null), z, schema))
    assert(!ZoneSkip.provablyEmpty(
      EqualNullSafe("id", null), zone("id" -> dense(9L)), schema))
    assert(ZoneSkip.provablyEmpty(
      EqualNullSafe("id", 5L), zone("id" -> numZone(100, 200)), schema))
  }

  test("IsNull end to end: fully-populated files are skipped, sparse files read") {
    val dir = new java.io.File(graft.TempRoots.path("zm_isnull_e2e"))
    dir.mkdirs()
    def put(file: String, lines: String*): Unit = {
      val w = new java.io.PrintWriter(new java.io.File(dir, file))
      lines.foreach(w.println); w.close()
    }
    put("full.json", """{"k": "a", "n": 1}""", """{"k": "b", "n": 2}""")
    put("sparse.json", """{"k": "c", "n": 3}""", """{"n": 4}""")
    val zdf = spark.read.format("graftjson").option("zonemaps", "true")
      .load(dir.toString)
    val q = zdf.where(col("k").isNull).select(col("n"))
    val (parts, skipped) = skipsDuring(PlannedScan.splits(q))
    assert(parts == 1, s"expected full.json skipped, got $parts splits")
    assert(skipped >= 1)
    assert(q.collect().map(_.getAs[Number](0).longValue).toSeq == Seq(4L))
  }

  test("duplicate top-level keys decline min/max answering (readTree is last-wins)") {
    val dir = new java.io.File(graft.TempRoots.path("zm_dupkey"))
    dir.mkdirs()
    val w = new java.io.PrintWriter(new java.io.File(dir, "d.json"))
    w.println("""{"a": 999, "a": 1}"""); w.println("""{"a": 50}"""); w.close()
    val zdf = spark.read.format("graftjson").option("zonemaps", "true")
      .load(dir.toString)
    val q = zdf.agg(min(col("a")), max(col("a")))
    val r = q.collect()(0)
    // the engine materializes the LAST duplicate (1); zone bounds
    // folded both occurrences [1, 999] — answering from them would
    // report max 999
    assert(r.getAs[Number](0).longValue == 1L &&
      r.getAs[Number](1).longValue == 50L)
    assert(!q.queryExecution.executedPlan.toString.contains("PushedAggregation"),
      "dup-key superset bounds were pushed as answers")
  }

  test("ZoneSkip: all-null column proves comparisons and IsNotNull; others block") {
    val allNull = zone("id" -> ZoneStats.emptyField)
    assert(ZoneSkip.provablyEmpty(IsNotNull("id"), allNull, schema))
    assert(ZoneSkip.provablyEmpty(EqualTo("id", 5L), allNull, schema))
    assert(ZoneSkip.provablyEmpty(LessThan("id", 5L), allNull, schema))
    // a field seen with nested/boolean values is NOT all-null
    val withOther = zone("id" -> ZoneStats.emptyField.copy(others = 3L))
    assert(!ZoneSkip.provablyEmpty(IsNotNull("id"), withOther, schema))
    assert(!ZoneSkip.provablyEmpty(EqualTo("id", 5L), withOther, schema))
  }

  test("ZoneSkip: float and timestamp columns never prove") {
    val z = zone("f" -> numZone(1, 2), "ts" -> strZone("2020-01-01", "2020-12-31"))
    assert(!ZoneSkip.provablyEmpty(GreaterThan("f", 100L), z, schema))
    assert(!ZoneSkip.provablyEmpty(EqualTo("ts", "2025-01-01"), z, schema))
  }

  test("PROPERTY: walker bounds always contain what Materialize emits; units == rows") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    import graft.infer.{JsonInfer, Materialize}
    // random flat docs over a fixed field pool: ints, decimals,
    // strings, bools, nulls, missing fields, nested values, the
    // occasional corrupt tail and blank line
    val genValue: Gen[String] = Gen.oneOf(
      Gen.choose(-100000L, 100000L).map(_.toString),
      Gen.choose(-999999L, 999999L).map(v => s"${v / 100}.${math.abs(v % 100)}"),
      Gen.alphaNumStr.map(s => "\"" + s.take(12) + "\""),
      Gen.oneOf("true", "false", "null"),
      Gen.const("[1, 2]"), Gen.const("""{"x": 1}"""))
    val genDoc: Gen[String] = for {
      ks <- Gen.someOf(Seq("a", "b", "c", "d"))
      vs <- Gen.listOfN(ks.size, genValue)
    } yield ks.zip(vs).map { case (k, v) => s""""$k": $v""" }
      .mkString("{", ", ", "}")
    val genLine: Gen[String] = Gen.frequency(
      8 -> genDoc, 1 -> Gen.const(""), 1 -> Gen.const("{\"a\": "),
      // duplicate keys: readTree keeps the LAST occurrence, the walker
      // folds every one — dupKey must block IsNull proofs and min/max
      // answering while bounds stay a sound superset
      1 -> Gen.const("""{"a": 7, "a": null}"""),
      1 -> Gen.const("""{"b": "dup", "b": "kept"}"""))
    for (seed <- 1 to 30) {
      val lines = Gen.listOfN(25, genLine)
        .apply(Gen.Parameters.default, Seed(seed.toLong)).get
      // zone over the whole "file"
      var z = ZoneStats.emptyFile
      lines.foreach { l => z = ZoneStats.walkUnit(l,
        z.copy(units = z.units + 1)) }
      assert(z.units == lines.length)
      // materialize exactly as the scan does
      val t = JsonInfer.inferAll(lines).canonical
      val schema = JsonDocSource.sparkSchemaOf(t)
      val rowShaped = Materialize
        .toMaterializableSparkType(t)
        .isInstanceOf[org.apache.spark.sql.types.StructType]
      val rows = lines.map(Materialize.docToRow(_, t, rowShaped,
        schema.length))
      assert(rows.length == z.units.toInt)
      // soundness: for eligible columns, every materialized non-null
      // value sits inside the walker's bounds (dirty files exempt —
      // the scan never consults their zones)
      if (!z.dirty) schema.fields.zipWithIndex.foreach { case (f, i) =>
        val fz = z.fields.getOrElse(f.name, ZoneStats.emptyField)
        f.dataType match {
          case org.apache.spark.sql.types.LongType |
               org.apache.spark.sql.types.IntegerType |
               org.apache.spark.sql.types.ShortType |
               org.apache.spark.sql.types.ByteType =>
            rows.flatMap(r => Option(r.get(i))).foreach { v =>
              val bd = new JBD(v.toString)
              assert(fz.numMin != null && bd.compareTo(fz.numMin) >= 0 &&
                bd.compareTo(fz.numMax) <= 0,
                s"seed=$seed ${f.name}: $v outside [${fz.numMin}, ${fz.numMax}]")
              assert(fz.numSet == null ||
                fz.numSet.contains(bd.stripTrailingZeros),
                s"seed=$seed ${f.name}: $v absent from complete numSet")
            }
          case _: org.apache.spark.sql.types.DecimalType =>
            rows.flatMap(r => Option(r.get(i))).foreach { v =>
              val bd = new JBD(v.toString)
              assert(fz.numMin != null && bd.compareTo(fz.numMin) >= 0 &&
                bd.compareTo(fz.numMax) <= 0, s"seed=$seed ${f.name}: $v")
              assert(fz.numSet == null ||
                fz.numSet.contains(bd.stripTrailingZeros),
                s"seed=$seed ${f.name}: $v absent from complete numSet")
            }
          case org.apache.spark.sql.types.StringType =>
            rows.flatMap(r => Option(r.get(i))).foreach { v =>
              val s = v.toString
              assert(fz.strMin != null && s >= fz.strMin && s <= fz.strMax,
                s"seed=$seed ${f.name}: '$s' outside ['${fz.strMin}', '${fz.strMax}']")
              assert(fz.strSet == null || fz.strSet.contains(s),
                s"seed=$seed ${f.name}: '$s' absent from complete strSet")
            }
          case _ => // float/timestamp/nested: never zone-consulted
        }
        // IsNull soundness: a proven-empty IsNull means NO emitted row
        // may materialize null for this column (any type)
        if (ZoneSkip.provablyEmpty(IsNull(f.name), z, schema))
          assert(rows.forall(_.get(i) != null),
            s"seed=$seed ${f.name}: IsNull proven empty but a null row exists")
        // null accounting: a materialized non-null for a field the
        // walker saw as all-null would break IsNotNull skipping
        val nonNull = rows.count(r => r.get(i) != null)
        if (fz.present == 0 && fz.others == 0)
          assert(nonNull == 0, s"seed=$seed ${f.name}: " +
            s"$nonNull non-null rows but walker saw none")
      }
    }
  }

  test("union-branch IsNotNull never skips: `u.u1` is not a walker path (fuzzer r13)") {
    // a union column materializes as struct<tag,u0,u1>; Spark derives
    // an IsNotNull(u.u1) constraint from any predicate on the branch.
    // The walker records sightings at the RENDERED path `u` only, so
    // `u.u1`'s zone is vacuously empty — treating that absence as
    // all-null proved IsNotNull empty and skipped files whose string
    // branch was populated (ZoneFuzzSpec corpus 1 probe 27)
    val dir = new java.io.File(graft.TempRoots.path("zm_union_branch"))
    dir.mkdirs()
    def put(file: String, lines: String*): Unit = {
      val w = new java.io.PrintWriter(new java.io.File(dir, file), "UTF-8")
      lines.foreach(w.println); w.close()
    }
    put("f1.json", """{"id": 1, "u": 5}""", """{"id": 2, "u": "ab"}""")
    put("f2.json", """{"id": 3, "u": "zzz"}""", """{"id": 4, "u": 7}""")
    val zdf = spark.read.format("graftjson").option("zonemaps", "true")
      .load(dir.toString)
    val q = zdf.where(col("u.u1") < "m").select(col("id"))
    val (got, skipped) = skipsDuring(
      q.collect().map(_.getAs[Number](0).longValue).sorted.toSeq)
    assert(skipped == 0, s"union-branch probe skipped $skipped files")
    assert(got == Seq(2L), s"got $got")
    // the proof itself: an un-walked rendering never proves, in either
    // direction
    val t = JsonDocSource.inferCached(
      Seq(dir.toString), whole = false, refresh = false, zonemaps = true)
    val paths = ZoneSkip.eligiblePaths(t._1)
    t._2.get.values.foreach { z =>
      assert(!ZoneSkip.provablyEmpty(
        org.apache.spark.sql.sources.IsNotNull("u.u1"), z, paths))
      assert(!ZoneSkip.provablyAllMatch(
        org.apache.spark.sql.sources.IsNull("u.u1"), z, paths))
    }
  }

  test("decimals past double precision materialize EXACTLY; metadata SUM equals the engine (fuzzer r13)") {
    // Jackson's default parse put non-integer numbers through DOUBLES,
    // rounding a p22 literal thousands off its written value before
    // conversion ever saw the text — the zone walker folds the exact
    // raw literal, so the metadata-answered SUM disagreed with the
    // engine's scan sum (ZoneFuzzSpec corpus 11 probe 13). The exact-
    // decimal mapper fixes value fidelity and the proof premise both.
    val dir = new java.io.File(graft.TempRoots.path("zm_bigdec"))
    dir.mkdirs()
    def put(file: String, lines: String*): Unit = {
      val w = new java.io.PrintWriter(new java.io.File(dir, file))
      lines.foreach(w.println); w.close()
    }
    put("f1.json",
      """{"id": 1, "amt": 12345678901234567890.12}""",
      """{"id": 2, "amt": -0.0042}""")
    put("f2.json",
      """{"id": 3, "amt": 12345678901234567890.12}""")
    val z = spark.read.format("graftjson").option("zonemaps", "true")
      .load(dir.toString)
    // value fidelity: the materialized decimal IS the literal
    val vals = z.select(col("amt").cast("string")).collect()
      .map(_.getString(0)).sorted.toSeq
    assert(vals == Seq("-0.0042", "12345678901234567890.1200",
      "12345678901234567890.1200"), vals)
    // metadata-answered SUM == the engine's own aggregation
    val meta = z.agg(sum(col("amt")).as("s"))
    assert(meta.queryExecution.executedPlan.toString
      .contains("PushedAggregation"), "expected a metadata answer")
    val got = meta.collect()(0).getDecimal(0)
    val want = spark.read.format("graftjson").load(dir.toString)
      .withColumn("g", lit(1)).groupBy(col("g"))
      .agg(sum(col("amt")).as("s")).collect()(0).getDecimal(1)
    assert(got.compareTo(want) == 0, s"$got vs $want")
    assert(got.compareTo(new JBD("24691357802469135780.2358")) == 0, got)
  }

  test("walkUnit: concatenated docs, non-object roots, corrupt tails") {
    val z0 = ZoneStats.emptyFile
    val z1 = ZoneStats.walkUnit("""{"a": 3}{"a": 7, "b": "x"}""", z0)
    assert(z1.docs == 2 && !z1.dirty)
    assert(z1.fields("a").numMin == JBD.valueOf(3) &&
      z1.fields("a").numMax == JBD.valueOf(7))
    assert(z1.fields("b").strMin == "x" && z1.fields("b").present == 1)
    val z2 = ZoneStats.walkUnit("42", z0)
    assert(z2.fields("value").numMin == JBD.valueOf(42))
    val z3 = ZoneStats.walkUnit("""{"a": 1} {"a": """, z0)
    assert(z3.dirty && z3.fields("a").present == 1)
    val z4 = ZoneStats.walkUnit("  ", z0)
    assert(z4.docs == 0 && !z4.dirty)
  }
}
