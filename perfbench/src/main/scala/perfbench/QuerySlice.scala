package perfbench

import graft.SparkEntry
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import java.nio.file.Files
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** A fixed, named slice of the `SparkEntry.queries` inventory over the
  * generated star-schema tables, run once per round inside a workload.
  * Loads `queries` and the `ops` and `functions` code they call.
  *
  * Each query runs as the program's own bench runs it (`count()` on the
  * returned frame). Set-up's warm-up pass writes every result to
  * parquet; the runner compares those with the DuckDB oracle, and each
  * measured count with the oracle's row count.
  *
  * With `rebuild`, each measured run of a query first deletes the
  * stored table the program builds for it once per JVM (under
  * `graft.TempRoots`, named `graftjson_<query>_…`), untimed, so the
  * query's writes run inside the timed operation. */
final class QuerySlice(tablesDir: String, val group: String, val queries: Seq[String],
                       rebuild: Boolean = false) {
  def roundMix: Seq[(String, Int)] = queries.map(q => s"q:$q" -> 1)

  private var outDir = ""
  private val counts = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Long]]

  /** Catalyst phase times of every query execution, summed until
    * drained: (analysis, optimization, planning) in ms. */
  private val phaseNames = Seq("analysis", "optimization", "planning")
  private val phases = Array(0L, 0L, 0L)
  private val phaseListener = new QueryExecutionListener {
    private def add(qe: QueryExecution): Unit = phases.synchronized {
      val p = qe.tracker.phases
      phaseNames.zipWithIndex.foreach { case (k, i) =>
        p.get(k).foreach(s => phases(i) += s.durationMs)
      }
    }
    def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = add(qe)
    def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = add(qe)
  }

  private def fullName(q: String): String = {
    val hits = SparkEntry.queries.keys.filter(k => k.takeWhile(_ != '_') == q).toSeq
    require(hits.size == 1, s"query $q matches ${hits.size} inventory entries")
    hits.head
  }

  def setup(run: Run): Unit = {
    outDir = run.root.resolve("query-results").toString
    Files.createDirectories(run.root.resolve("query-results"))
    // warm-up pass: each query once, its result kept for the oracle
    queries.map(fullName).foreach { n =>
      SparkEntry.queries(n)(run.spark, tablesDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$n")
      run.spark.catalog.clearCache()
    }
    if (run.tracer.enabled) run.spark.listenerManager.register(phaseListener)
  }

  def round(run: Run): Unit = queries.foreach { q =>
    val n = fullName(q)
    if (rebuild) dropStore(q)
    run.op(s"q:$q", span = "queries.run") {
      SparkEntry.queries(n)(run.spark, tablesDir).count()
    } { c => counts.getOrElseUpdate(n, mutable.ArrayBuffer.empty) += c }
    // the same teardown as the program's bench between queries
    run.spark.catalog.clearCache()
    // the op's fence has delivered its executions' phase events
    phases.synchronized {
      if (run.tracer.on) phaseNames.zipWithIndex.foreach { case (k, i) =>
        run.note(s"queries.${k}_s", phases(i) / 1000.0)
      }
      phases.indices.foreach(phases(_) = 0L)
    }
  }

  private def dropStore(q: String): Unit = {
    val root = graft.TempRoots.root
    val stores = Files.list(root)
    val built = try stores.iterator.asScala.filter(
      _.getFileName.toString.startsWith(s"graftjson_${q}_")).toList
    finally stores.close()
    require(built.nonEmpty, s"no stored table of $q under $root to rebuild")
    built.foreach(graft.TempRoots.deleteRecursively)
  }

  /** Sum of the per-query median walls. */
  def medianSumS(run: Run): Double =
    queries.map(q => Stats.median(run.wallsOf(s"q:$q"))).sum

  def finish(run: Run): Unit = {
    // the oracle SQL of the slice and every measured count, for the
    // runner's DuckDB comparison
    val sql = SparkEntry.oracleSql
    val entries = queries.map(fullName).flatMap(n => sql.get(n).map(n -> _))
    Files.writeString(run.root.resolve("query-results").resolve("oracle_sql.json"),
      Json.obj(entries.map { case (k, v) => k -> Json.str(v) }))
    Files.writeString(run.root.resolve("query-results").resolve("counts.json"),
      Json.obj(counts.toSeq.map { case (k, v) => k -> v.mkString("[", ",", "]") }))
  }

  def resultsDir: String = outDir
}

object QuerySlice {
  /** Store-lifecycle query: graftjson overwrites and an append through
    * the commit-marker protocol (run with `rebuild`, so each run writes
    * its table). */
  val lifecycle: Seq[String] = Seq("q233")
  /** Short read-only queries, where per-query overhead dominates. */
  val short: Seq[String] = Seq("q06", "q42", "q59", "q229", "q236")
}
