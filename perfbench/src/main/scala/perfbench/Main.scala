package perfbench

import graft.GraftExtensions
import graft.infer.JsonInfer
import graft.types.HType
import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

/** One benchmark run in a fresh JVM:
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                --root <scratch dir> --out <result file> [--tables <dir>]
  * }}}
  *
  * Builds the session, generates the inputs (untimed), sets the
  * workload up (timed as `setup_s`), then repeats the workload's round
  * until `--seconds` have passed. Writes one JSON object with the
  * operation counts, every metric, and the host context to `--out`;
  * a traced run also writes its spans next to it. */
object Main {

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val root = Paths.get(opts("root"))
    val out = Paths.get(opts("out"))
    val procs = Runtime.getRuntime.availableProcessors
    // two task threads: on a shared host the run then competes less
    // with other tenants for cores, which keeps its timings steadier
    val cpus = math.min(2, procs)

    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .withExtensions(new GraftExtensions)
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // the program's own bench runs on the raw local FS; a traced run
      // uses a subclass that also counts file operations
      .config("spark.hadoop.fs.file.impl",
        if (traced) classOf[CountingLocalFileSystem].getName
        else "org.apache.hadoop.fs.RawLocalFileSystem")
      .config("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
      .config("spark.local.dir", root.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", root.resolve("warehouse").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.nanoTime() - t0) / 1e9

    val context = hostContext(procs, cpus)
    val tracer = new Tracer(spark.sparkContext, traced)
    val run = new Run(spark, tracer, root, seed)
    val w: Workload = workload match {
      case "discover"  => new Discover(corpusBytes = 6L << 20)
      case "ingest"    => new Ingest(appendRows = 2500, baseRows = 5000,
        storeDocs = 4000, cdcBatch = 200,
        new QuerySlice(opts("tables"), "lifecycle", QuerySlice.lifecycle,
          rebuild = true))
      case "query"     => new Query(rows = 32000, files = 32, lookups = 6,
        ranges = 3, rangeRows = 1000,
        new QuerySlice(opts("tables"), "short", QuerySlice.short))
      case other       => throw new IllegalArgumentException(s"unknown workload $other")
    }

    val g0 = System.nanoTime()
    w.generate(run)
    phase("generate", g0)
    tracer.on = false
    val s0 = System.nanoTime()
    w.setup(run)
    val setupS = sessionS + (System.nanoTime() - s0) / 1e9
    phase("setup", s0)
    run.resetSamples()

    // closed loop: whole rounds until the time is spent
    tracer.on = traced
    val steal0 = hostTicks()
    val l0 = System.nanoTime()
    def elapsed = (System.nanoTime() - l0) / 1e9
    while (elapsed < seconds || run.round < 3) {
      run.round += 1
      w.round(run)
    }
    phase(s"loop (${run.round} rounds)", l0)
    val stealShare = (steal0 zip hostTicks()).map { case ((s0, t0), (s1, t1)) =>
      if (t1 > t0) (s1 - s0).toDouble / (t1 - t0) else 0.0 }
    tracer.on = false
    val f0 = System.nanoTime()
    w.finish(run)
    if (traced) micro(run, w)
    phase("finish", f0)

    val metrics = Metrics.all(run, w, setupS, traced)
    val result = Json.obj(Seq(
      "correct" -> (run.failed == 0).toString,
      "attempted" -> run.attempted.toString,
      "failed" -> run.failed.toString,
      "metrics" -> Json.obj(metrics.map { case (k, (v, u)) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      }),
      "context" -> Json.obj(context ++ Seq(
        "workload" -> Json.str(workload), "seed" -> seed.toString,
        "rounds" -> run.round.toString, "session_s" -> Json.num(sessionS),
        // share of the host's CPU time the hypervisor stole during the loop
        "steal_share" -> stealShare.map(Json.num).getOrElse("null"),
        // per operation kind: samples, median wall, CPU and JIT seconds
        "ops" -> Json.obj(run.walls.toSeq.map { case (k, v) =>
          k -> Seq(v.toSeq, run.cpusOf(k), run.jitsOf(k))
            .map(x => Json.num(Stats.median(x))).mkString(s"[${v.size},", ",", "]") }))),
      "failures" -> run.failures.map(Json.str).mkString("[", ",", "]"),
    ) ++ w.querySlice.map(q => "query_results" -> Json.str(q.resultsDir)))
    if (traced) Files.writeString(Paths.get(out.toString + ".spans"), Tracer.dump(tracer.all))
    Files.writeString(out, result)
    tracer.close()
    spark.stop()
  }

  private def phase(what: String, t0: Long): Unit =
    System.err.println(f"[perfbench] $what%s: ${(System.nanoTime() - t0) / 1e9}%.2f s")

  /** (steal, total) CPU ticks of the host since boot, where the kernel
    * reports them. */
  private def hostTicks(): Option[(Long, Long)] = try {
    val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").drop(1)
      .map(_.toLong)
    Some((if (f.length > 7) f(7) else 0L, f.take(8).sum))
  } catch { case _: Exception => None }

  /** Host context: core count, local parallelism, heap, and the CPU the
    * host actually delivers to `cpus` busy threads (thread CPU / wall;
    * near `cpus` on an idle host, lower when it is starved). */
  private def hostContext(procs: Int, cpus: Int): Seq[(String, String)] = {
    val bean = ManagementFactory.getThreadMXBean
    val cpuNs = new java.util.concurrent.atomic.AtomicLong()
    val w0 = System.nanoTime()
    val threads = (0 until cpus).map { _ =>
      new Thread(() => {
        val c0 = bean.getCurrentThreadCpuTime
        var acc = 0L
        var i = 0
        while (i < 100000000) { acc = acc * 6364136223846793005L + i; i += 1 }
        if (acc == 42) print("")
        cpuNs.addAndGet(bean.getCurrentThreadCpuTime - c0)
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    val wall = (System.nanoTime() - w0) / 1e9
    Seq("nproc" -> procs.toString, "local_n" -> cpus.toString,
      "max_heap_mb" -> (Runtime.getRuntime.maxMemory >> 20).toString,
      "delivered_cpus" -> Json.num(cpuNs.get / 1e9 / wall))
  }

  /** Single-thread parse and merge cost on the workload's doc sample. */
  private def micro(run: Run, w: Workload): Unit = {
    val docs = w.docSample(run)
    if (docs.nonEmpty) {
      def timeNs(f: => Unit): Double = { val t = System.nanoTime(); f; (System.nanoTime() - t).toDouble }
      var types: Seq[HType] = Nil
      val parse = (0 until 3).map(_ => timeNs { types = docs.map(JsonInfer.inferDoc) })
      val merge = (0 until 3).map(_ => timeNs {
        types.foldLeft(null: HType)((a, t) => HType.merge(a, t))
      })
      run.note("infer.parse_ns_per_doc", Stats.median(parse) / docs.size)
      run.note("types.merge_ns_per_doc", Stats.median(merge) / docs.size)
      if (!run.notes.contains("types.schema_leaf_paths")) {
        val t = types.foldLeft(null: HType)((a, x) => HType.merge(a, x)).canonical
        run.note("types.schema_leaf_paths", Shape.leafPaths(t).toDouble)
        run.note("types.union_paths", Shape.unionPaths(t).toDouble)
      }
    }
  }
}

/** Minimal JSON rendering: values arrive pre-rendered. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.lang.Double.toString(d)
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
