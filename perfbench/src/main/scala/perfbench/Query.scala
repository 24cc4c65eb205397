package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import java.nio.file.Files

/** The read side of `sources`: a read-only, zone-mapped graftjson table
  * of id-clustered files, hit by point lookups (each re-opening the
  * table, as a user would), selective id-range scans and full-scan
  * aggregates over a nested field; plus short read-only inventory
  * queries. No commits. */
final class Query(val rows: Long, files: Int, lookups: Int, ranges: Int,
                  rangeRows: Long, slice: QuerySlice) extends Workload {
  val roundMix = Seq("sources.lookup" -> lookups, "sources.range" -> ranges,
    "sources.scan" -> 1) ++ slice.roundMix
  override def querySlice: Option[QuerySlice] = Some(slice)

  private var table = ""
  private var qtySum = 0L
  private var nestedSum = 0L
  private var opNo = 0L

  /** The table is written by the generator: `files` NDJSON files of
    * contiguous id ranges, the layout an id-clustered writer leaves. */
  def generate(run: Run): Unit = {
    val dir = run.root.resolve("query").resolve("table")
    Files.createDirectories(dir)
    table = dir.toString
    var q, n = 0L
    val per = (rows + files - 1) / files
    (0 until files).foreach { f =>
      val lo = f * per
      val hi = math.min(rows, lo + per)
      val w = Files.newBufferedWriter(dir.resolve(f"part-$f%05d.json"))
      try (lo until hi).foreach { i =>
        val r = Gen.row(run.seed, i)
        q += r.qty; n += r.nestedQty
        w.write(Gen.rowJson(r)); w.write('\n')
      } finally w.close()
    }
    qtySum = q; nestedSum = n
  }

  private def open(run: Run): DataFrame = run.tracer.span("sources.plan")(
    run.spark.read.format("graftjson").option("zonemaps", "true").load(table))

  private def pick(run: Run, salt: Long, n: Long): Long = {
    opNo += 1
    java.lang.Math.floorMod(Gen.mix(run.seed ^ salt, opNo), n)
  }

  private def lookup(run: Run): Unit = {
    val id = pick(run, 0x10L, rows)
    run.op("sources.lookup") {
      open(run).where(col("id") === id).collect()
    } { got =>
      require(got.length == 1, s"lookup $id returned ${got.length} rows")
      val r = got.head
      val want = Gen.row(run.seed, id)
      val nested = r.getStruct(r.fieldIndex("nested"))
      val tags = Option(r.getSeq[String](r.fieldIndex("tags"))).getOrElse(Nil)
      require(r.getAs[Number]("id").longValue == id &&
        r.getAs[String]("user") == want.user && r.getAs[String]("kind") == want.kind &&
        r.getAs[Number]("qty").longValue == want.qty &&
        math.abs(r.getAs[Number]("price").doubleValue - want.price) < 1e-9 &&
        r.getAs[Any]("ts").toString.startsWith(want.ts.take(10)) &&
        tags == want.tags &&
        nested.getAs[Number]("qty").longValue == want.nestedQty &&
        nested.getAs[String]("note") == want.nestedNote,
        s"lookup $id returned $r, generated $want")
    }
  }

  private def range(run: Run): Unit = {
    val lo = pick(run, 0x20L, rows - rangeRows)
    val hi = lo + rangeRows
    run.op("sources.range") {
      open(run).where(col("id") >= lo && col("id") < hi)
        .agg(count(lit(1)), sum(col("qty"))).head()
    } { r =>
      val want = (lo until hi).map(i => Gen.row(run.seed, i).qty).sum
      require(r.getLong(0) == rangeRows && r.getAs[Number](1).longValue == want,
        s"range [$lo,$hi) gave $r, expected $rangeRows rows, qty $want")
    }
  }

  private def scan(run: Run): Unit =
    run.op("sources.scan") {
      val df = open(run)
      run.tracer.span("infer.materialize")(df.agg(count(lit(1)), sum(col("qty")),
        sum(col("nested.qty")), countDistinct(col("kind"))).head())
    } { r =>
      require(r.getLong(0) == rows && r.getAs[Number](1).longValue == qtySum &&
        r.getAs[Number](2).longValue == nestedSum && r.getLong(3) == Gen.Kinds.size,
        s"scan gave $r, expected $rows rows, qty $qtySum, nested $nestedSum")
      run.note("infer.materialize.rows", r.getLong(0).toDouble)
    }

  def setup(run: Run): Unit = {
    // the first zone-mapped open plans the table and its zone stats
    lookup(run); range(run); scan(run)
    slice.setup(run)
  }

  def round(run: Run): Unit = {
    (0 until lookups).foreach(_ => lookup(run))
    (0 until ranges).foreach(_ => range(run))
    scan(run)
    slice.round(run)
  }

  override def finish(run: Run): Unit = {
    slice.finish(run)
    run.note("sources.live_files", Recs.dataFiles(table).size.toDouble)
  }

  override def docSample(run: Run): Seq[String] =
    (0L until 50000L).map(i => Gen.rowJson(Gen.row(run.seed, i)))
}
