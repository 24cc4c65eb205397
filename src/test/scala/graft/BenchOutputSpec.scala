package graft

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** A naive reader of `Bench`'s output — one `readTree` per stdout line,
  * chunks merged — must rebuild the full per-query map, and the record
  * file must agree with it pass for pass. */
class BenchOutputSpec extends AnyFunSuite {
  import Bench.Pass

  private val mapper = new ObjectMapper()

  /** 258 queries at three passes each: `q7_*` is a qNN-prefix
    * collision (both keep their full names), `q13_*` fails every pass,
    * `q21_*` fails one. */
  private val results: Seq[(String, Seq[Pass])] = {
    val rnd = new scala.util.Random(5)
    val names = (1 to 257).map(i => s"q${i}_synthetic_query_$i") :+ "q7_collision"
    names.map { name =>
      name -> (1 to Bench.Passes).map { p =>
        val ok = !name.startsWith("q13_") && !(name.startsWith("q21_") && p == 2)
        Pass(ok, 0.05 + rnd.nextDouble() * 4, 0L, rnd.nextInt(40).toLong)
      }
    }
  }
  private val env = Bench.Env(procs = 4, cpus = 4, heapMB = 8192, taskConcurrency = 3.9)
  private val out = Bench.render(results, "/data/sf0.1", env, "BENCH_QUERIES_4C.json")
  private val lines = out.lines.map(mapper.readTree)
  private val record = mapper.readTree(out.record)

  private def fields(n: JsonNode): Map[String, JsonNode] =
    n.properties().asScala.map(e => e.getKey -> e.getValue).toMap

  test("every stdout line is one short JSON object") {
    out.lines.foreach { l =>
      assert(l.length < 1500, l.take(80))
      assert(mapper.readTree(l).isObject, l.take(80))
    }
  }

  test("merging the queries_iofN chunks rebuilds the record's queries map") {
    val chunks = lines.filter(_.get("metric").asText.startsWith("queries_"))
    assert(chunks.size > 1)
    chunks.zipWithIndex.foreach { case (c, i) =>
      assert(c.get("metric").asText == s"queries_${i + 1}of${chunks.size}")
    }
    val merged = chunks.flatMap(c => fields(c.get("queries")))
    assert(merged.map(_._1).distinct.size == merged.size, "a key in two chunks")
    val recorded = fields(record.get("queries"))
    assert(merged.toMap == recorded)
    assert(recorded.size == 258)
    assert(recorded.contains("q7_collision") && recorded.contains("q7_synthetic_query_7"))
    assert(!recorded.contains("q7") && recorded.contains("q8"))
    assert(recorded("q13").asDouble == -1.0)
  }

  test("the last line is the total line") {
    val total = lines.last
    assert(total.get("metric").asText == "total")
    assert(total.get("n_queries").asInt == 258)
    assert(total.get("n_failed").asInt == 1)
    assert(total.get("queries_file").asText == "BENCH_QUERIES_4C.json")
    assert(total.get("env").get("task_concurrency").asDouble == 3.9)
    val ok = fields(record.get("queries")).values.map(_.asDouble).filter(_ >= 0)
    assert(math.abs(total.get("value").asDouble - ok.sum) < 0.001 * ok.size)
    assert(record.get("n_failed").asInt == 1)
  }

  test("each record entry has every pass, their min and their median") {
    val passes = fields(record.get("passes"))
    val medians = fields(record.get("median"))
    val storage = fields(record.get("storage_mb"))
    fields(record.get("queries")).foreach { case (k, min) =>
      val ps = passes(k).elements().asScala.map(_.asDouble).toSeq
      assert(ps.size == Bench.Passes, k)
      assert(storage(k).size == Bench.Passes, k)
      val good = ps.filter(_ >= 0).sorted
      assert(min.asDouble == good.headOption.getOrElse(-1.0), k)
      val med =
        if (good.isEmpty) -1.0
        else (good((good.size - 1) / 2) + good(good.size / 2)) / 2
      assert(math.abs(medians(k).asDouble - med) <= 0.0015, k)
    }
    assert(passes("q21").elements().asScala.count(_.asDouble < 0) == 1)
  }

  test("best and median take only the successful passes") {
    val ps = Seq(Pass(true, 3.0, 0, 0), Pass(false, 0.1, 0, 0),
      Pass(true, 1.0, 0, 0), Pass(true, 2.0, 0, 0))
    assert(Bench.best(ps) == 1.0)
    assert(Bench.median(ps) == 2.0)
    assert(Bench.median(ps.take(3)) == 2.0)
    assert(Bench.best(Seq(Pass(false, 0.1, 0, 0))) == -1.0)
    assert(Bench.median(Seq(Pass(false, 0.1, 0, 0))) == -1.0)
  }
}
