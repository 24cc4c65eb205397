package graft.sources

import graft.SparkTestBase
import graft.infer.{InferSchemaCountAgg, Materialize}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._

/** The graftjson DSv2 source: schema == distributed inference,
  * rows == Materialize (shared conversion), real column pruning into
  * the scan, .gz + whole-file modes, and the user-schema contract. */
class JsonDocSourceSpec extends SparkTestBase {

  private def writeFixture(name: String): String = {
    val dir = new java.io.File(graft.TempRoots.path(name))
    dir.mkdirs()
    val a = new java.io.PrintWriter(new java.io.File(dir, "a.json"))
    a.println("""{"id": 1, "name": "alpha", "score": 3.5}""")
    a.println("""{"id": 2, "name": "beta", "tags": ["x", "y"]}""")
    a.close()
    val b = new java.io.PrintWriter(new java.io.File(dir, "b.json"))
    // widen id, make score a union (double vs string), null name
    b.println("""{"id": 40000, "name": null, "score": "high"}""")
    b.close()
    dir.toString
  }

  test("SQL surfaces: SELECT from graftjson.`dir` and a temp view USING graftjson") {
    val dir = writeFixture("jds_sql")
    // path-qualified SQL-on-file resolution
    val viaPath = spark.sql(s"SELECT id, name FROM graftjson.`$dir`")
    assert(viaPath.collect().map(_.getAs[Number](0).longValue)
      .sorted.toSeq == Seq(1L, 2L, 40000L))
    // catalog-style temp view over the provider
    spark.sql("CREATE OR REPLACE TEMPORARY VIEW gj_sql_view " +
      s"USING graftjson OPTIONS (path '$dir')")
    assert(spark.sql("SELECT count(*) FROM gj_sql_view")
      .collect()(0).getLong(0) == 3L)
    spark.sql("DROP VIEW gj_sql_view")
  }

  test("float/double early skip is nan-safe and zero-sign-blind, like the engine") {
    // -0.0e0 classifies DOUBLE (the Float.MIN_VALUE quirk: zero and
    // negative sci-notation literals fall past the float window);
    // Spark's comparison says -0.0 = 0.0 is TRUE, while boxed
    // Double.compareTo orders -0.0 below 0.0 — an early skip decided
    // on the boxed order would drop the row before the residual
    val dir = new java.io.File(graft.TempRoots.path("jds_negzero"))
    dir.mkdirs()
    val w = new java.io.PrintWriter(new java.io.File(dir, "z.json"))
    w.println("""{"a": -0.0e0, "tag": "neg"}""")
    w.println("""{"a": 1.5e0, "tag": "pos"}""")
    w.close()
    val df = spark.read.format("graftjson").load(dir.toString)
    assert(df.schema("a").dataType ==
      org.apache.spark.sql.types.DoubleType, df.schema.treeString)
    assert(df.where(col("a") === 0.0d).count() == 1L,
      "-0.0 must match an = 0.0 probe (engine semantics)")
    assert(df.where(col("a") >= 0.0d).count() == 2L)
    assert(df.where(col("a") <= -0.0d).count() == 1L)
  }

  test("union-root filters stay in the residual and filter correctly") {
    // a corpus mixing object and scalar roots infers a UNION root,
    // which materializes as struct<tag,u0,…> — those fields are
    // atomic in the table schema but ABSENT from the dotted-path map
    // (eligibleRoutes walks struct roots only), so the reader never
    // evaluates filters on them; the residual must therefore keep
    // them (review r12: exact(full) alone dropped them — silently
    // unfiltered rows)
    val dir = new java.io.File(graft.TempRoots.path("jds_union_root"))
    dir.mkdirs()
    val w = new java.io.PrintWriter(new java.io.File(dir, "u.json"))
    w.println("""{"id": 1}""")
    w.println("""7""")
    w.println("""{"id": 2}""")
    w.close()
    val df = spark.read.format("graftjson").load(dir.toString)
    assert(df.schema.fieldNames.contains("tag"), df.schema.treeString)
    assert(df.count() == 3L)
    val tagged = df.where(col("tag") === 0.toByte)
    assert(tagged.count() == 2L,
      s"union-root tag filter returned ${tagged.count()} rows")
    // the filter must survive as a Filter node (not silently dropped
    // as 'fully pushed' when nothing evaluates it)
    val hasFilter = tagged.queryExecution.executedPlan.toString
      .contains("Filter")
    assert(hasFilter, tagged.queryExecution.executedPlan.toString)
  }

  test("schema is the CLI inference's materializable schema; rows equal Materialize") {
    import spark.implicits._
    val dir = writeFixture("graftjson_basic")
    val df = spark.read.format("graftjson").load(dir)
    val docs = spark.read.textFile(s"$dir/*.json")
    val (inferred, n) = docs.select(new InferSchemaCountAgg().toColumn).head()
    assert(df.schema ==
      JsonDocSource.sparkSchemaOf(inferred.canonical))
    val viaSource = df.collect().map(_.toString).sorted.toSeq
    val viaOperator = Materialize.materialize(docs, inferred.canonical)
      .collect().map(_.toString).sorted.toSeq
    assert(viaSource == viaOperator)
    assert(viaSource.length == n.toInt && n == 3L)

    // the values the reader's generic row conversion has to get right,
    // under dirPartitions (one `p=<n>/` level) so the partition and
    // `_file` columns ride along: decimals at scale, timestamps, hex
    // binary, union cells, arrays of structs, nested structs
    val tree = new java.io.File(graft.TempRoots.path("graftjson_shapes"))
    Seq("p=1" -> Seq(
      """{"id": 1, "amt": 12.345, "ts": "2024-01-02T03:04:05Z", "blob": "0aff", "u": 7, "items": [{"k": "a", "n": 1}, {"k": "b", "n": 2}], "meta": {"src": "s1", "extra": {"x": 1}}}""",
      """{"id": 2, "amt": 1.5, "ts": "2024-02-03 04:05:06", "blob": "1234", "u": "seven", "items": [], "meta": {"src": "s2", "extra": {"x": 2}}}"""),
      "p=2" -> Seq(
      """{"id": 3, "amt": -99.999, "ts": null, "blob": "deadBEEF", "u": {"z": 1}, "items": [{"k": "c", "n": 300}], "meta": {"src": "s3"}}""",
      """{"id": 4, "amt": 0.001, "ts": "2024-03-04T05:06:07", "u": null, "meta": null}""")
    ).foreach { case (sub, lines) =>
      val d = new java.io.File(tree, sub)
      d.mkdirs()
      val w = new java.io.PrintWriter(new java.io.File(d, "part-0.json"))
      lines.foreach(w.println)
      w.close()
    }
    val root = tree.toString
    def open(zonemaps: Boolean) = spark.read.format("graftjson")
      .option("dirPartitions", "true")
      .option("zonemaps", zonemaps.toString).load(root)
    val tdf = open(zonemaps = false)
    val tDocs = spark.read.textFile(s"$root/*/*.json")
    val (tInferred, _) = tDocs.select(new InferSchemaCountAgg().toColumn).head()
    def operator(sub: String) = Materialize.materialize(
      spark.read.textFile(s"$root/$sub/*.json"), tInferred.canonical)
    val ops = operator("p=1").withColumn("p", lit(1L))
      .unionByName(operator("p=2").withColumn("p", lit(2L)))
    assert(tdf.schema.map(f => f.name -> f.dataType) ==
      ops.schema.map(f => f.name -> f.dataType), tdf.schema.treeString)
    Seq("amt" -> "DecimalType", "ts" -> "TimestampType",
      "blob" -> "BinaryType", "u" -> "StructType", "items" -> "ArrayType")
      .foreach { case (c, k) =>
        assert(tdf.schema(c).dataType.getClass.getSimpleName.startsWith(k),
          s"$c: ${tdf.schema(c).dataType}")
      }
    assert(tdf.schema("amt").dataType ==
      org.apache.spark.sql.types.DecimalType(5, 3))
    // Row.toString prints byte arrays by identity: compare bytes
    def norm(v: Any): Any = v match {
      case r: org.apache.spark.sql.Row => r.toSeq.map(norm)
      case b: Array[Byte] => b.toSeq
      case s: scala.collection.Seq[_] => s.map(norm)
      case o => o
    }
    def rowsOf(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(r => norm(r).toString).sorted.toSeq
    // the unprojected scan: its only row conversion is the unsafe
    // Project Spark adds above a row-based scan
    val scanProjects = tdf.queryExecution.executedPlan.collect {
      case pr: org.apache.spark.sql.execution.ProjectExec
          if pr.child.exists(_.isInstanceOf[BatchScanExec]) => pr
    }
    assert(scanProjects.nonEmpty, tdf.queryExecution.executedPlan.toString)
    assert(rowsOf(tdf) == rowsOf(ops))
    assert(rowsOf(tdf).exists(_.contains("12.345")) &&
      rowsOf(tdf).exists(_.contains("1.500")), rowsOf(tdf).mkString("\n"))
    assert(tdf.rdd.count() == 4L)
    assert(tdf.rdd.map(r => norm(r).toString).collect().sorted.toSeq ==
      rowsOf(ops))
    // nested-pruned projection, the union's cells, an array of structs
    val nested = Seq(col("id"), col("meta.src"), col("meta.extra.x"),
      col("u.tag"), col("u"), col("items.n"), col("ts"), col("blob"))
    val pruned = tdf.select(nested: _*)
    val prunedRead = pruned.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b.scan.readSchema()
    }.head
    assert(prunedRead("meta").dataType.asInstanceOf[
      org.apache.spark.sql.types.StructType].fieldNames.toSeq ==
      Seq("extra", "src"), prunedRead.treeString)
    assert(prunedRead("meta").dataType.asInstanceOf[
      org.apache.spark.sql.types.StructType]("extra").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType].fieldNames.toSeq ==
      Seq("x"), prunedRead.treeString)
    assert(rowsOf(pruned) == rowsOf(ops.select(nested: _*)))
    // a pushed filter, with the partition and `_file` columns
    val filtered = tdf.where(col("id") > 1)
      .select(col("id"), col("amt"), col("p"), col("_file"))
    assert(filtered.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b.scan.description()
    }.mkString.contains("GreaterThan(id,1)"))
    val got = filtered.collect().map(r =>
      (r.getAs[Number](0).longValue, r.getDecimal(1), r.getLong(2),
        r.getString(3))).sortBy(_._1).toSeq
    assert(got.map(g => (g._1, g._2.toPlainString, g._3)) == Seq(
      (2L, "1.500", 1L), (3L, "-99.999", 2L), (4L, "0.001", 2L)), got)
    assert(got.forall { case (_, _, p, f) =>
      f.contains(s"p=$p/part-0.json") }, got)
    // a metadata-answered aggregate: JsonDocMetaScan's rows take the
    // same converter
    val zdf = open(zonemaps = true)
    val aggs = Seq(count(lit(1)).as("c"), min(col("amt")).as("lo"),
      max(col("amt")).as("hi"), sum(col("id")).as("s"))
    val viaMeta = zdf.agg(aggs.head, aggs.tail: _*)
    assert(viaMeta.queryExecution.executedPlan.toString
      .contains("PushedAggregation"), viaMeta.queryExecution.executedPlan.toString)
    assert(viaMeta.collect().map(norm(_).toString).toSeq ==
      tdf.agg(aggs.head, aggs.tail: _*).collect().map(norm(_).toString).toSeq)
  }

  test("the reader factory ships a conf handle, not the conf: small, and one Configuration per JVM") {
    val dir = writeFixture("graftjson_factory")
    val scan = spark.read.format("graftjson").load(dir).queryExecution
      .executedPlan.collectFirst { case b: BatchScanExec => b }.get
    val factory = scan.scan.toBatch.createReaderFactory()
    def bytesOf(o: AnyRef): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val out = new java.io.ObjectOutputStream(bos)
      try out.writeObject(o) finally out.close()
      bos.toByteArray
    }
    // the serialized session conf alone: tens of KB
    val confBytes = bytesOf(new graft.ops.Fs.SerializableConf(
      spark.sparkContext.hadoopConfiguration)).length
    val shipped = bytesOf(factory)
    assert(confBytes > 16384, s"conf serializes to $confBytes bytes")
    assert(shipped.length < confBytes / 4,
      s"factory ${shipped.length} bytes vs conf $confBytes bytes")
    def reread(): JsonDocReaderFactory = {
      val in = new java.io.ObjectInputStream(
        new java.io.ByteArrayInputStream(shipped))
      try in.readObject().asInstanceOf[JsonDocReaderFactory]
      finally in.close()
    }
    // what two tasks' readers receive: the same Configuration instance
    assert(reread().conf.value.value eq reread().conf.value.value)
  }

  test("column pruning reaches the scan: readSchema is exactly the projection") {
    val dir = writeFixture("graftjson_prune")
    val df = spark.read.format("graftjson").load(dir).select(col("name"))
    val scans = df.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b.scan.readSchema()
    }
    assert(scans.nonEmpty)
    assert(scans.head.fieldNames.toSeq == Seq("name"),
      s"scan did not prune: ${scans.head.simpleString}")
    assert(df.collect().map(_.getString(0)).toSet == Set("alpha", "beta", null))
  }

  test("gz files decode transparently; whole mode reads one doc per file") {
    val dir = new java.io.File(graft.TempRoots.path("graftjson_gz"))
    dir.mkdirs()
    val gz = new java.io.PrintWriter(new java.util.zip.GZIPOutputStream(
      new java.io.FileOutputStream(new java.io.File(dir, "c.json.gz"))))
    gz.println("""{"id": 7, "name": "zip"}""")
    gz.println("""{"id": 8, "name": "zap"}""")
    gz.close()
    val df = spark.read.format("graftjson").load(dir.toString)
    assert(df.count() == 2L)
    assert(df.select(col("name")).collect().map(_.getString(0)).toSet ==
      Set("zip", "zap"))

    // whole mode: a single pretty-printed doc spanning lines is ONE row
    val wdir = new java.io.File(graft.TempRoots.path("graftjson_whole"))
    wdir.mkdirs()
    val w = new java.io.PrintWriter(new java.io.File(wdir, "d.json"))
    w.println("{"); w.println("""  "id": 9,"""); w.println("""  "name": "multi"""")
    w.println("}")
    w.close()
    val wdf = spark.read.format("graftjson").option("whole", "true")
      .load(wdir.toString)
    assert(wdf.count() == 1L)
    assert(wdf.select(col("name")).head().getString(0) == "multi")
  }

  test("filter pushdown: supported predicates reach the scan and skip rows; results match a full scan") {
    val dir = writeFixture("graftjson_filters")
    val df = spark.read.format("graftjson").load(dir)
      .where(col("id") > 1 && col("name").isNotNull)
    // best-effort contract: the scan reports the pushed predicates AND
    // Spark keeps its own Filter (correctness never rides the source)
    val desc = df.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b.scan.description()
    }.mkString
    assert(desc.contains("GreaterThan(id,1)"), desc)
    assert(desc.contains("IsNotNull(name)"), desc)
    assert(df.queryExecution.executedPlan.toString.contains("Filter"))
    // id > 1 drops doc 1; name IS NOT NULL drops the null-name doc
    assert(df.collect().map(_.getAs[Number]("id").longValue()).toSeq == Seq(2L))
    // nested references stay residual-only; the scan ships the full
    // top-level value and Spark extracts above it
    assert(spark.read.format("graftjson").load(dir)
      .where(col("score.u0").isNotNull).count() >= 1)
  }

  test("nested-path pruning: the scan ships and converts only the requested subtree") {
    val dir = new java.io.File(graft.TempRoots.path("graftjson_nestprune"))
    dir.mkdirs()
    val w = new java.io.PrintWriter(new java.io.File(dir, "d.json"))
    (1 to 50).foreach { i =>
      w.println(s"""{"id": $i, "meta": {"date": "2024-01-0${i % 9 + 1}", """ +
        s""""src": "s$i", "author": "a$i", "extra": {"x": $i, "y": $i}}}""")
    }
    w.close()
    val base = spark.read.format("graftjson").load(dir.toString)
    val q = base.select(col("meta.date").as("d"))
    // the scan's readSchema carries ONLY the requested leaf
    val desc = q.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b.scan.readSchema().simpleString
    }.mkString
    assert(desc.contains("struct<date:string>") && !desc.contains("author"),
      s"scan must read the pruned nested type, got $desc")
    // values byte-identical to an unpruned read
    val full = base.collect().map(
      _.getAs[org.apache.spark.sql.Row]("meta").getAs[String]("date"))
    assert(q.collect().map(_.getString(0)).toSeq == full.toSeq)
    // conversion work measurably drops: count converted cells
    def cells(body: => Unit): Long = {
      graft.infer.Materialize.cellsConverted.set(0)
      graft.infer.Materialize.countCells.set(true)
      try { body; graft.infer.Materialize.cellsConverted.get }
      finally graft.infer.Materialize.countCells.set(false)
    }
    val cFull = cells(base.select(col("id"), col("meta")).collect())
    val cPruned = cells(q.collect())
    assert(cPruned < cFull / 2,
      s"pruned conversion should do a fraction of the work: $cPruned vs $cFull")
    // union-branch pruning: score is string-or-number across docs
    val udir = new java.io.File(graft.TempRoots.path("graftjson_uprune"))
    udir.mkdirs()
    val uw = new java.io.PrintWriter(new java.io.File(udir, "u.json"))
    uw.println("""{"id": 1, "score": 5}""")
    uw.println("""{"id": 2, "score": "high"}""")
    uw.close()
    val u = spark.read.format("graftjson").load(udir.toString)
    val us = u.select(col("score.u0").as("n")).where(col("n").isNotNull)
    assert(us.collect().map(_.getAs[Number](0).longValue).toSeq == Seq(5L))
    // filters on columns OUTSIDE the projection still evaluate (the
    // reader materializes filter cells beside the pruned output)
    val f = base.where(col("id") === 7).select(col("meta.src").as("s"))
    assert(f.collect().map(_.getString(0)).toSeq == Seq("s7"))
  }

  test("nested-filter early skip: pushed to the reader, values exact, ambiguity declines") {
    val dir = new java.io.File(graft.TempRoots.path("graftjson_nestskip"))
    dir.mkdirs()
    val w = new java.io.PrintWriter(new java.io.File(dir, "m.json"))
    (1 to 30).foreach { i =>
      val src = if (i % 3 == 0) "b" else "a"
      w.println(s"""{"id": $i, "meta": {"src": "$src", "n": $i}}""")
    }
    w.println("""{"id": 99}""") // meta missing → nested leaf null
    w.close()
    val base = spark.read.format("graftjson").load(dir.toString)
    val q = base.where(col("meta.src") === "b").select(col("id"))
    // the nested predicate reaches the reader's pushed set (best
    // effort — the residual Filter stays, correctness never rides it)
    val desc = q.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b.scan.description()
    }.mkString
    assert(desc.contains("EqualTo(meta.src,b)"), desc)
    assert(q.queryExecution.executedPlan.toString.contains("Filter"))
    assert(q.collect().map(_.getAs[Number](0).longValue).sorted.toSeq ==
      (1 to 30).filter(_ % 3 == 0).map(_.toLong))
    // range + null probes on nested leaves
    assert(base.where(col("meta.n") > 27).count() == 3L)
    assert(base.where(col("meta.src").isNull).count() == 1L)
    // AMBIGUITY: a literal-dot field name colliding with a real nested
    // chain — the dotted rendering resolves to neither (collision-
    // dropped), so nothing early-skips and the residual owns it
    val dir2 = new java.io.File(graft.TempRoots.path("graftjson_nestamb"))
    dir2.mkdirs()
    val w2 = new java.io.PrintWriter(new java.io.File(dir2, "a.json"))
    w2.println("""{"a": {"b": 1}, "k": 1}""")
    w2.println("""{"a.b": 2, "k": 2}""")
    w2.close()
    val amb = spark.read.format("graftjson").load(dir2.toString)
    val nested = amb.where(col("a.b") === 1).select(col("k"))
    val ambDesc = nested.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b.scan.description()
    }.mkString
    assert(!ambDesc.contains("EqualTo(a.b"),
      s"ambiguous dotted rendering must not early-skip: $ambDesc")
    assert(nested.collect().map(_.getAs[Number](0).longValue).toSeq == Seq(1L))
  }

  test("inference runs once per unchanged fileset across separate load() calls; a changed file re-infers") {
    val dir = writeFixture("graftjson_cache")
    val before = JsonDocSource.inferenceRuns.get()
    spark.read.format("graftjson").load(dir).count()
    val afterFirst = JsonDocSource.inferenceRuns.get()
    assert(afterFirst >= before + 1)
    // second independent load of the same (unchanged) files: no new job
    spark.read.format("graftjson").load(dir).count()
    assert(JsonDocSource.inferenceRuns.get() == afterFirst)
    // touching the data invalidates the fingerprint
    val extra = new java.io.PrintWriter(new java.io.File(dir, "c.json"))
    extra.println("""{"id": 3, "name": "gamma", "fresh": true}""")
    extra.close()
    val df = spark.read.format("graftjson").load(dir)
    assert(JsonDocSource.inferenceRuns.get() == afterFirst + 1)
    assert(df.schema.fieldNames.contains("fresh"))
  }

  test("byte-range splits: one multi-MB NDJSON file reads through >1 partition, rows identical to a single-partition read") {
    val dir = new java.io.File(graft.TempRoots.path("graftjson_splits"))
    dir.mkdirs()
    val f = new java.io.File(dir, "big.json")
    val w = new java.io.PrintWriter(f)
    // ~4.4 MB, variable-length lines so split boundaries land mid-line
    (1 to 60000).foreach { i =>
      w.println(s"""{"id": $i, "name": "row-$i-${"x" * (i % 37)}"}""")
    }
    w.close()
    assert(f.length() > (2L << 20))
    val split = spark.read.format("graftjson")
      .option("maxSplitBytes", (1L << 20).toString).load(f.toString)
    val parts = split.rdd.getNumPartitions
    assert(parts > 1, s"expected multiple byte-range splits, got $parts")
    val whole = spark.read.format("graftjson").load(f.toString)
    assert(whole.rdd.getNumPartitions == 1)
    // identical multiset of rows either way — every line in exactly
    // one split (skip-first-partial / read-past-end rule)
    assert(split.count() == 60000L && whole.count() == 60000L)
    assert(split.collect().map(_.toString).sorted.toSeq ==
      whole.collect().map(_.toString).sorted.toSeq)
  }

  test("byte-range splits: no trailing newline, CRLF line ends, and a boundary at EOF all read exactly once") {
    val dir = new java.io.File(graft.TempRoots.path("graftjson_split_edges"))
    dir.mkdirs()
    val f = new java.io.File(dir, "edges.json")
    val out = new java.io.FileOutputStream(f)
    // CRLF terminators and NO newline after the final record
    val lines = (1 to 40000).map(i => s"""{"id": $i}""")
    out.write(lines.mkString("\r\n").getBytes("UTF-8"))
    out.close()
    val df = spark.read.format("graftjson")
      // tiny splits (floor-clamped to 1 MB) over a ~0.6 MB file keep
      // it one split; force multiple with the exact byte honesty:
      // file is ~0.62 MB so use two reads — split by 1 MB (single)
      // and by the session default — then a larger file for real
      // multi-split coverage below
      .option("maxSplitBytes", (1L << 20).toString).load(f.toString)
    assert(df.count() == 40000L)
    // bigger file: multi-split with CRLF + no trailing newline
    val g = new java.io.File(dir, "edges_big.json")
    val out2 = new java.io.FileOutputStream(g)
    val lines2 = (1 to 120000).map(i =>
      s"""{"id": $i, "pad": "${"y" * (i % 23)}"}""")
    out2.write(lines2.mkString("\r\n").getBytes("UTF-8"))
    out2.close()
    assert(g.length() > (2L << 20))
    val split = spark.read.format("graftjson")
      .option("maxSplitBytes", (1L << 20).toString).load(g.toString)
    assert(split.rdd.getNumPartitions > 1)
    assert(split.count() == 120000L)
    assert(split.agg(sum(col("id"))).head().getLong(0) ==
      (1L to 120000L).sum)
  }

  test("pushdown supports In and string prefix/suffix/contains; rows match the unfiltered scan") {
    val dir = writeFixture("graftjson_filters2")
    val base = spark.read.format("graftjson").load(dir)
    val df = base.where(col("id").isin(1, 40000) && col("name").startsWith("al"))
    val desc = df.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.scan.description()
    }.mkString
    assert(desc.contains("In(id"), desc)
    assert(desc.contains("StringStartsWith(name,al)"), desc)
    assert(df.collect().map(_.getAs[Number]("id").longValue()).toSeq == Seq(1L))
    assert(base.where(col("name").endsWith("eta")).count() == 1L)
    assert(base.where(col("name").contains("lph")).count() == 1L)
    // empty IN-list and null-name rows are provably droppable, but the
    // residual Filter owns correctness — results equal a collect+filter
    val all = base.collect().map(_.getAs[String]("name")).filter(_ != null)
    assert(base.where(col("name").startsWith("zzz")).count() ==
      all.count(_.startsWith("zzz")))
    // EqualNullSafe pushes for both literal shapes; results match the
    // engine's <=> semantics (null literal selects exactly null cells)
    val nsafe = base.where(col("name") <=> "alpha")
    val nsDesc = nsafe.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.scan.description()
    }.mkString
    assert(nsDesc.contains("EqualNullSafe(name,alpha)"), nsDesc)
    assert(nsafe.count() == 1L)
    val nullRows = base.collect().count(_.getAs[String]("name") == null)
    assert(base.where(col("name") <=> lit(null)).count() == nullRows.toLong)
  }

  test("Or/And composites of supported leaves push down; Not never does") {
    val dir = writeFixture("graftjson_orand")
    val base = spark.read.format("graftjson").load(dir)
    val df = base.where(col("id") === 1 || col("name").endsWith("eta"))
    val desc = df.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.scan.description()
    }.mkString
    assert(desc.contains("Or("), desc)
    assert(df.collect().map(_.getAs[Number]("id").longValue()).sorted.toSeq ==
      Seq(1L, 2L))
    // a NOT never reaches the pushed set (negating "may match" is not
    // "provably fails"); the residual Filter still applies it
    val notDf = base.where(!(col("name") === "alpha"))
    val notDesc = notDf.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.scan.description()
    }.mkString
    assert(!notDesc.contains("Not("), notDesc)
    // NOT semantics on nulls: null name is dropped by SQL, and the
    // residual owns that — values still correct end to end
    assert(notDf.collect().map(_.getAs[Number]("id").longValue()).toSeq ==
      Seq(2L))
  }

  test("refresh=true bypasses the inference cache; nested directories are walked consistently") {
    val dir = writeFixture("graftjson_refresh")
    spark.read.format("graftjson").load(dir).count()
    val runs = JsonDocSource.inferenceRuns.get()
    // unchanged fileset: cached
    spark.read.format("graftjson").load(dir).count()
    assert(JsonDocSource.inferenceRuns.get() == runs)
    // refresh forces a re-inference over the same fingerprint
    spark.read.format("graftjson").option("refresh", "true").load(dir).count()
    assert(JsonDocSource.inferenceRuns.get() == runs + 1)

    // a file in a NESTED subdirectory is seen by BOTH inference and
    // the scan (one listing feeds both) — the schema includes its
    // field and the row count includes its docs
    val sub = new java.io.File(dir, "nested/deeper")
    sub.mkdirs()
    val n = new java.io.PrintWriter(new java.io.File(sub, "n.json"))
    n.println("""{"id": 5, "name": "nested", "deep": true}""")
    n.close()
    val df = spark.read.format("graftjson").load(dir)
    assert(df.schema.fieldNames.contains("deep"))
    assert(df.count() == 4L)
    assert(df.where(col("deep")).select(col("name")).head().getString(0)
      == "nested")
  }

  test("an explicitly-named hidden directory is readable; hidden SUBdirectories are still pruned") {
    val root = new java.io.File(graft.TempRoots.path("graftjson_hidden"))
    val named = new java.io.File(root, "_exports")
    named.mkdirs()
    val a = new java.io.PrintWriter(new java.io.File(named, "a.json"))
    a.println("""{"id": 1}"""); a.close()
    // a hidden SUBdir inside the named root stays invisible (the
    // _staging/_temporary convention)
    val tmp = new java.io.File(named, "_tmp")
    tmp.mkdirs()
    val junk = new java.io.PrintWriter(new java.io.File(tmp, "junk.json"))
    junk.println("""{"id": 999}"""); junk.close()
    val df = spark.read.format("graftjson").load(named.toString)
    assert(df.collect().map(_.getAs[Number]("id").longValue()).toSeq ==
      Seq(1L))
  }

  test("runtime filters merge into the readers' pushed set (SupportsRuntimeFiltering)") {
    import org.apache.spark.sql.connector.read.SupportsRuntimeFiltering
    import org.apache.spark.sql.sources.In
    val dir = writeFixture("graftjson_runtime")
    val df = spark.read.format("graftjson").load(dir)
    val scan = df.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.scan
    }.head
    val rf = scan.asInstanceOf[SupportsRuntimeFiltering]
    // every top-level column is advertised as filterable; the join-
    // derived In is accepted and the reader set shrinks the output —
    // the unit-level pin of the mechanism (DPP injection itself is a
    // planner heuristic, exercised end to end by Spark's own suites)
    assert(rf.filterAttributes().map(_.fieldNames.mkString).toSet ==
      df.schema.fieldNames.toSet)
    rf.filter(Array[org.apache.spark.sql.sources.Filter](
      In("id", Array(1, 2))))
    val batch = scan.toBatch
    val parts = batch.planInputPartitions()
    val reader = batch.createReaderFactory()
    val rows = parts.flatMap { p =>
      val r = reader.createReader(p)
      val idOrd = df.schema.fieldIndex("id")
      val buf = scala.collection.mutable.ArrayBuffer[Long]()
      while (r.next()) buf += r.get().getInt(idOrd).toLong // id infers INT
      r.close(); buf
    }
    // doc with id 40000 was provably skipped at the source; 1 and 2
    // survive (the join above would re-verify them anyway)
    assert(rows.sorted.toSeq == Seq(1L, 2L), rows.mkString(","))
  }

  test("incremental planning: a new file re-walks ONE file; schema widens; parity with full re-infer") {
    import org.apache.spark.sql.functions.col
    val dir = new java.io.File(graft.TempRoots.path("graftjson_incr"))
    dir.mkdirs()
    def put(file: String, lines: String*): Unit = {
      val w = new java.io.PrintWriter(new java.io.File(dir, file))
      lines.foreach(w.println); w.close()
    }
    put("i1.json", """{"id": 1, "name": "a"}""")
    put("i2.json", """{"id": 2, "name": "b"}""")
    JsonDocSource.clearInferCache()
    val s1 = spark.read.format("graftjson").load(dir.toString).schema
    val walkedFull = JsonDocSource.filesWalked.get()
    // third file introduces a brand-new field
    put("i3.json", """{"id": 3, "name": "c", "extra": 7}""")
    val df2 = spark.read.format("graftjson").load(dir.toString)
    assert(JsonDocSource.filesWalked.get() == walkedFull + 1,
      "appending one file must re-walk exactly one file")
    assert(df2.schema.fieldNames.contains("extra") &&
      !s1.fieldNames.contains("extra"))
    // the incrementally assembled schema is byte-identical to a cold
    // full inference (lattice merge is order-independent after
    // canonicalization)
    JsonDocSource.clearInferCache()
    val cold = spark.read.format("graftjson").load(dir.toString).schema
    assert(df2.schema == cold)
    // rewriting ONE file re-walks only it
    Thread.sleep(1100) // ensure the mtime tick moves on coarse filesystems
    put("i1.json", """{"id": 10, "name": "z"}""")
    val walkedBefore = JsonDocSource.filesWalked.get()
    val df3 = spark.read.format("graftjson").load(dir.toString)
    assert(JsonDocSource.filesWalked.get() == walkedBefore + 1)
    assert(df3.where(col("id") === 10).count() == 1L)
    // zonemaps over the same files: the zone walk re-reads (HType-only
    // entries lack zones), and afterwards a plain load is free again
    val wz = JsonDocSource.filesWalked.get()
    spark.read.format("graftjson").option("zonemaps", "true")
      .load(dir.toString).count()
    assert(JsonDocSource.filesWalked.get() == wz + 3)
    val wp = JsonDocSource.filesWalked.get()
    spark.read.format("graftjson").load(dir.toString).schema
    assert(JsonDocSource.filesWalked.get() == wp,
      "zone-walked entries must answer plain loads for free")
  }

  test("scan reports statistics: listing-derived size, zone-exact rows; a small table broadcasts unhinted") {
    val dir = new java.io.File(graft.TempRoots.path("graftjson_stats"))
    dir.mkdirs()
    val w = new java.io.PrintWriter(new java.io.File(dir, "d.json"))
    (1 to 40).foreach(i => w.println(s"""{"k": ${i % 8}, "pad": "x$i"}"""))
    w.close()
    val bytes = new java.io.File(dir, "d.json").length()

    def v2Stats(df: org.apache.spark.sql.DataFrame)
        : org.apache.spark.sql.connector.read.Statistics = {
      import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
      // optimizedPlan: pushdown has run, the Scan is built
      val rel = df.queryExecution.optimizedPlan.collectFirst {
        case r: DataSourceV2ScanRelation => r
      }.get
      rel.scan
        .asInstanceOf[org.apache.spark.sql.connector.read.SupportsReportStatistics]
        .estimateStatistics()
    }
    val zdf = spark.read.format("graftjson").option("zonemaps", "true")
      .load(dir.toString)
    val st = v2Stats(zdf)
    assert(st.sizeInBytes.getAsLong == bytes)
    assert(st.numRows.getAsLong == 40L)
    // column pruning scales the size estimate down
    assert(v2Stats(zdf.select("k")).sizeInBytes.getAsLong < bytes)
    // a filter withdraws the exact row count (the scan emits fewer
    // rows; an overstated "exact" count would mislead the planner)
    assert(!v2Stats(zdf.where(col("k") === 1)).numRows.isPresent)
    // no zones: size still prices from the listing, rows are unknown
    val plain = v2Stats(spark.read.format("graftjson").load(dir.toString))
    assert(plain.sizeInBytes.getAsLong == bytes && !plain.numRows.isPresent)

    // the decision that matters: joined to a too-big-to-broadcast
    // side, the KB-sized graftjson table is chosen for an UP-FRONT
    // broadcast with no hint — without reported statistics a DSv2
    // scan prices at the default (effectively infinite) size and
    // Catalyst plans a full sort-merge join instead
    val bigDir = graft.TempRoots.path("graftjson_stats_big")
    spark.range(100000)
      .selectExpr("id % 8 as k", "md5(cast(id as string)) as payload")
      .write.mode("overwrite").parquet(bigDir)
    val big = spark.read.parquet(bigDir)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", (256 * 1024).toString)
      val joined = big.join(zdf, "k")
      assert(joined.queryExecution.sparkPlan.toString
        .contains("BroadcastHashJoin"),
        joined.queryExecution.sparkPlan.toString)
      assert(joined.count() == 100000L * 5) // 40 rows over 8 keys
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("a user-supplied schema must match the inferred one (unions are not reconstructible)") {
    val dir = writeFixture("graftjson_uschema")
    val inferredSchema = spark.read.format("graftjson").load(dir).schema
    // the exact inferred schema is accepted...
    assert(spark.read.format("graftjson").schema(inferredSchema)
      .load(dir).count() == 3L)
    // ...anything else fails fast with both schemas in the message
    val err = intercept[IllegalArgumentException] {
      spark.read.format("graftjson")
        .schema(org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("id",
            org.apache.spark.sql.types.LongType))))
        .load(dir).collect()
    }
    assert(err.getMessage.contains("inferred"))
  }
}
