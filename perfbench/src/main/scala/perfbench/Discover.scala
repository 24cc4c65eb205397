package perfbench

import graft.infer.{InferSchemaCountAgg, JsonInfer}
import graft.shred.Shredder
import graft.types.{HStruct, HType}
import org.apache.spark.sql.functions._

import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** The reference tool's own job on a wide, heterogeneous event corpus:
  * the distributed inference pass, the shredder, and a graftjson load
  * materialized by a typed full-row aggregate. Loads `infer`, `types`
  * and `shred`; `sources` reads but commits nothing. */
final class Discover(corpusBytes: Long) extends Workload {
  val roundMix = Seq("infer.pass" -> 1, "shred" -> 1, "discover.load" -> 1)

  private var corpus = ""
  private var warm = ""
  private var stats: Gen.CorpusStats = _
  private var shredNo = 0

  def generate(run: Run): Unit = {
    val dir = run.root.resolve("discover")
    Files.createDirectories(dir.resolve("corpus"))
    Files.createDirectories(dir.resolve("warm"))
    val c = dir.resolve("corpus").resolve("events.json")
    val w = dir.resolve("warm").resolve("events.json")
    stats = Gen.writeCorpus(run.seed, c, corpusBytes)
    Gen.writeCorpus(run.seed + 1, w, 1L << 20)
    corpus = c.getParent.toString
    warm = w.getParent.toString
  }

  private def inferPass(run: Run, path: String): (HType, Long) =
    run.spark.read.textFile(path).select(new InferSchemaCountAgg().toColumn).head()

  private def shred(run: Run, path: String): String = {
    shredNo += 1
    val out = run.root.resolve("discover").resolve(s"shred-$shredNo").toString
    Shredder.writeShredded(run.spark.read.textFile(path), out)
    out
  }

  /** load() to a table handle, then one typed aggregate over every
    * top-level column, which materializes each document in full. */
  private def load(run: Run, path: String): (Long, Long, Long, Long) = {
    val df = run.tracer.span("sources.plan")(
      run.spark.read.format("graftjson").load(path))
    run.tracer.span("infer.materialize") {
      val r = df.agg(count(lit(1)), sum(col("actor.id")), sum(col("repo.id")),
        count(col("payload")), count(col("created_at")), count(col("type")),
        count(col("public")), count(col("id"))).head()
      (r.getLong(0), r.getAs[Number](1).longValue, r.getAs[Number](2).longValue,
        r.getLong(3))
    }
  }

  def setup(run: Run): Unit = {
    // warm each code path once; the load also plans the measured corpus,
    // so every measured load starts from a planned table
    inferPass(run, corpus)
    delete(run, shred(run, warm))
    load(run, corpus)
  }

  private def delete(run: Run, dir: String): Unit =
    graft.TempRoots.deleteRecursively(java.nio.file.Paths.get(dir))

  def round(run: Run): Unit = {
    run.op("infer.pass")(inferPass(run, corpus)) { case (t, n) =>
      require(n == stats.docs, s"infer counted $n docs, generated ${stats.docs}")
      require(t.isInstanceOf[HStruct], s"top type is $t")
      if (schema == null) schema = t
      else require(t == schema, "infer pass result differs between passes")
    }
    run.op("shred")(shred(run, corpus)) { out =>
      val (files, cells, bytes) = Shape.shredded(out)
      require(cells == stats.cells && bytes == stats.cellBytes,
        s"shred wrote $cells cells ($bytes bytes), generated ${stats.cells} (${stats.cellBytes})")
      run.note("shred.cells", cells.toDouble)
      run.note("shred.files_written", files.toDouble)
      delete(run, out)
    }
    run.op("discover.load")(load(run, corpus)) { case (n, a, r, p) =>
      require(n == stats.docs && p == stats.docs,
        s"load saw $n docs ($p payloads), generated ${stats.docs}")
      require(a == stats.actorIdSum && r == stats.repoIdSum,
        s"load sums $a/$r, generated ${stats.actorIdSum}/${stats.repoIdSum}")
      run.note("infer.materialize.rows", n.toDouble)
    }
  }

  private var schema: HType = _

  override def finish(run: Run): Unit = {
    // the distributed DDL must equal the single-threaded reference fold
    val src = scala.io.Source.fromFile(corpus + "/events.json", "UTF-8")
    val ref = try JsonInfer.inferAll(src.getLines()).canonical finally src.close()
    run.op("discover.ddl_check")(()) { _ =>
      require(schema != null, "no infer pass completed")
      val got = HType.renderDDL(schema.asInstanceOf[HStruct])
      val want = HType.renderDDL(ref.asInstanceOf[HStruct])
      require(got == want, "distributed DDL differs from JsonInfer.inferAll")
    }
    run.note("types.schema_leaf_paths", Shape.leafPaths(ref).toDouble)
    run.note("types.union_paths", Shape.unionPaths(ref).toDouble)
  }

  override def docSample(run: Run): Seq[String] = {
    val src = scala.io.Source.fromFile(corpus + "/events.json", "UTF-8")
    try src.getLines().take(50000).toVector finally src.close()
  }

  def corpusMb: Double = stats.bytes / 1e6
}

/** Shape counts of an inferred schema and of a shredder's output. */
object Shape {
  /** (data files, lines, bytes) under a shredder output directory. */
  def shredded(dir: String): (Int, Long, Long) = {
    val files = Files.walk(java.nio.file.Paths.get(dir)).iterator().asScala
      .filter { p =>
        val n = p.getFileName.toString
        Files.isRegularFile(p) && !n.startsWith("_") && !n.startsWith(".")
      }.toVector
    val bytes = files.map(Files.readAllBytes)
    (files.size, bytes.map(_.count(_ == '\n').toLong).sum, bytes.map(_.length.toLong).sum)
  }

  def leafPaths(t: HType): Int = t.renderFlat("root").linesIterator.count(_.nonEmpty)

  def unionPaths(t: HType): Int = t match {
    case graft.types.HStruct(fs) => fs.values.map(unionPaths).sum
    case graft.types.HList(e)    => unionPaths(e)
    case graft.types.HUnion(cs)  => 1 + cs.map(unionPaths).sum
    case _                       => 0
  }
}
