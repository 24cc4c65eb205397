package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
/** The one dev harness over [[SparkEntry.queries]], on the
  * `SPARK_GRAFT_SF_DIR` tables at `SPARK_GRAFT_CPUS` threads:
  *   - no arguments: the timed suite (JSON lines on stdout, the full
  *     record in `BENCH_QUERIES_<cpus>C.json`);
  *   - `qNN [passes]`: one query timed in isolation;
  *   - `--plan <outDir> [qNN ...]`: formatted plans, one file per query;
  *   - `--jobs <qNN> [passes]`: per-job and per-stage wall times.
  * Timing has one rule: every query runs [[Passes]] cold passes and
  * reports the min of its successful ones (-1 when none succeeded). */
object Bench {

  /** Cold passes per query, suite and isolated mode alike. */
  val Passes = 3

  /** One timed pass: success, wall seconds, and the storage memory (MB)
    * occupied just before and just after the timed region. */
  final case class Pass(ok: Boolean, secs: Double, preMB: Long, postMB: Long)

  /** What the JVM and scheduler delivered: processors, the requested
    * core count, max heap, and the measured task concurrency. */
  final case class Env(procs: Int, cpus: Int, heapMB: Long,
                       taskConcurrency: Double)

  /** The persisted record (one JSON line) and the stdout lines. */
  final case class Rendered(record: String, lines: Seq[String])

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.envCpus
    val spark = GraftSession.local(cpus, "graft-bench")
    try args.headOption match {
      case Some("--plan") =>
        require(args.length >= 2, "usage: Bench --plan <outDir> [qNN ...]")
        dumpPlans(spark, sfDir, java.nio.file.Paths.get(args(1)),
          args.drop(2).toSeq)
      case Some("--jobs") =>
        require(args.length >= 2, "usage: Bench --jobs <qNN> [passes]")
        profileJobs(spark, sfDir, args(1),
          if (args.length > 2) args(2).toInt else Passes)
      case Some(want) =>
        val (name, fn) = SparkEntry.resolve(want)
        val ps = new Timer(spark, sfDir)
          .measure(name, fn, if (args.length > 1) args(1).toInt else Passes)
        println(s"""{"metric":"$name","value":${fmt(best(ps))},"median":${fmt(median(ps))},"unit":"sec","passes":${passVector(ps)},"sf":"$sfDir"}""")
      case None => suite(spark, sfDir, cpus)
    } finally spark.stop()
  }

  /** `--plan <outDir> [qNN ...]`: `explain("formatted")` of each named
    * query (every query when none is named) into `<outDir>/<name>.txt`,
    * so plan claims are checkable without running Spark. A query whose
    * construction throws records the error text instead of aborting
    * the dump. */
  private def dumpPlans(spark: SparkSession, sfDir: String,
                        outDir: java.nio.file.Path, wanted: Seq[String]): Unit = {
    java.nio.file.Files.createDirectories(outDir)
    val qs =
      if (wanted.isEmpty) SparkEntry.queries.toSeq.sortBy(_._1)
      else wanted.map(SparkEntry.resolve)
    qs.foreach { case (name, fn) =>
      val text =
        try fn(spark, sfDir).queryExecution
          .explainString(org.apache.spark.sql.execution.ExplainMode
            .fromString("formatted"))
        catch { case t: Throwable =>
          s"EXPLAIN FAILED: ${t.getClass.getName}: ${t.getMessage}"
        }
      java.nio.file.Files.write(outDir.resolve(s"$name.txt"),
        text.getBytes("UTF-8"))
      // lifecycle queries persist/checkpoint during construction —
      // keep dumps independent, like the bench's cold passes
      GraftSession.dropCaches(spark)
      println(s"dumped $name")
    }
  }

  /** `--jobs <qNN> [passes]`: runs one query `passes` times and prints
    * per-job and per-stage wall times of the last pass from a
    * SparkListener, so a multi-job lifecycle query's cost attributes to
    * its actual passes (build / write / probe). Each stage line also
    * sums its tasks' deserialization CPU and run CPU
    * (`executorDeserializeCpuTime`, `executorCpuTime`): task setup
    * shipped with every task (a closure, a factory) shows in the first,
    * which per-span task CPU elsewhere leaves out. */
  private def profileJobs(spark: SparkSession, sfDir: String, want: String,
                          passes: Int): Unit = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
    import scala.jdk.CollectionConverters._
    val (name, fn) = SparkEntry.resolve(want)
    final case class Stage(id: Int, desc: String, ms: Long, tasks: Int,
                           deserCpuNs: Long, cpuNs: Long)
    final class Job(val id: Int, val desc: String, val start: Long) {
      var end = 0L
      var stages = List.empty[Stage]
    }
    val fenceKey = "graft.bench.fence"
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
    val stageToJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    val fenceJobs = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    val fencesSeen = new java.util.concurrent.LinkedBlockingQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val props = Option(js.properties)
        props.flatMap(p => Option(p.getProperty(fenceKey))) match {
          case Some(key) => fenceJobs.put(js.jobId, key)
          case None =>
            jobs.put(js.jobId, new Job(js.jobId, props
              .flatMap(p => Option(p.getProperty("spark.job.description")))
              .getOrElse(""), js.time))
            js.stageIds.foreach(sid => stageToJob.put(sid, js.jobId))
        }
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        Option(fenceJobs.remove(je.jobId)).foreach(fencesSeen.put)
        Option(jobs.get(je.jobId)).foreach(_.end = je.time)
      }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        Option(jobs.get(stageToJob.getOrDefault(si.stageId, -1))).foreach { j =>
          val tm = Option(si.taskMetrics)
          j.stages ::= Stage(si.stageId,
            (si.name.takeWhile(_ != '\n') + " | " +
              si.details.linesIterator.take(4).mkString(" <- ")).take(220),
            si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L),
            si.numTasks, tm.fold(0L)(_.executorDeserializeCpuTime),
            tm.fold(0L)(_.executorCpuTime))
        }
      }
    }
    // Block until the listener has processed every event posted so far:
    // a job's end event is posted before its action returns and the bus
    // delivers in order, so once a fresh one-task job's end arrives, all
    // earlier events have too. The queue hand-off is also the
    // happens-before edge for reading the Job vars the bus thread wrote.
    def fence(p: Int): Unit = {
      val sc = spark.sparkContext
      sc.setLocalProperty(fenceKey, s"fence-$p")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty(fenceKey, null)
      require(fencesSeen.poll(60, java.util.concurrent.TimeUnit.SECONDS) ==
        s"fence-$p", "job listener did not catch up within 60 s")
    }
    spark.sparkContext.addSparkListener(listener)
    for (p <- 1 to passes) {
      val stores = tempEntries()
      val t0 = System.nanoTime()
      fn(spark, sfDir).count()
      val total = (System.nanoTime() - t0) / 1e9
      fence(p)
      resetPass(spark, stores)
      println(f"== pass $p: $name total=$total%.3fs jobs=${jobs.size}")
      if (p == passes) {
        jobs.values.asScala.toSeq.sortBy(_.id).foreach { j =>
          println(f"  job ${j.id}%3d ${(j.end - j.start) / 1e3}%7.3fs  ${j.desc.take(70)}")
          j.stages.sortBy(_.id).foreach { st =>
            println(f"    stage ${st.id}%4d ${st.ms / 1e3}%7.3fs tasks=${st.tasks}%-3d " +
              f"deser_cpu=${st.deserCpuNs / 1e6}%.1fms cpu=${st.cpuNs / 1e6}%.1fms\n      ${st.desc}")
          }
        }
      }
      jobs.clear(); stageToJob.clear()
      System.gc()
    }
  }

  /** The entries under [[TempRoots]] right now. */
  private def tempEntries(): Set[java.nio.file.Path] = {
    val ls = java.nio.file.Files.list(TempRoots.root)
    try { import scala.jdk.CollectionConverters._; ls.iterator.asScala.toSet }
    finally ls.close()
  }

  /** Untimed, after a pass: drop its caches and delete the
    * [[TempRoots]] stores it created (`before` is the listing taken
    * just before it), so the next pass starts cold on storage too.
    * A build-once store (q173's inverted index, the `graftjson_qNNN`
    * tables) is built only while absent; kept, it would leave its
    * build, delete and compaction steps out of every later pass. */
  private def resetPass(spark: SparkSession,
                        before: Set[java.nio.file.Path]): Unit = {
    GraftSession.dropCaches(spark)
    (tempEntries() -- before).foreach(TempRoots.deleteRecursively)
  }

  /** The timed suite: every query through [[Timer.measure]], then the
    * stdout lines and the record file from [[render]]. The file is the
    * only full record, so failing to write it fails the run — after
    * the stdout lines are out. */
  private def suite(spark: SparkSession, sfDir: String, cpus: Int): Unit = {
    val env = probeEnv(spark, cpus)
    val timer = new Timer(spark, sfDir)
    val results = SparkEntry.queries.toSeq.map { case (name, fn) =>
      val ps = timer.measure(name, fn, Passes)
      // the ContextCleaner frees dropped blocks (and broadcast state)
      // only after a DRIVER GC notices them; without this nudge ~150
      // queries of dead blocks pile up and the late queries pay for
      // them. Once per query, outside the timed region.
      System.gc()
      name -> ps
    }
    val queriesFile = s"BENCH_QUERIES_${cpus}C.json"
    val out = render(results, sfDir, env, queriesFile)
    out.lines.foreach(println)
    java.nio.file.Files.write(java.nio.file.Paths.get(queriesFile),
      (out.record + "\n").getBytes("UTF-8"))
  }

  /** Measured, not declared, parallelism (an artifact once read 32
    * cpus on a host delivering ~8): 2×procs Spark tasks of fixed
    * arithmetic, each timing its own thread CPU; Σ task CPU / wall is
    * the width the host delivered, whether the thief is a hypervisor
    * cap, steal time or co-tenant load (a wall-deadline spin would
    * read ~procs on exactly such a host). Run twice: the first Spark
    * job pays classloading and scheduler warm-up. -1 if the probe
    * cannot run. */
  private def probeEnv(spark: SparkSession, cpus: Int): Env = {
    val procs = Runtime.getRuntime.availableProcessors
    val taskConc: Double = try {
      def probe(): Double = {
        val n = 2 * procs
        val t0 = System.nanoTime()
        val cpuNs = spark.sparkContext.parallelize(1 to n, n).map { _ =>
          val bean = java.lang.management.ManagementFactory.getThreadMXBean
          require(bean.isCurrentThreadCpuTimeSupported)
          val c0 = bean.getCurrentThreadCpuTime
          var acc = 0L
          var i = 0
          while (i < 100000000) { acc = acc * 6364136223846793005L + i; i += 1 }
          if (acc == 42) print("") // defeat dead-code elimination
          bean.getCurrentThreadCpuTime - c0
        }.sum()
        val wall = (System.nanoTime() - t0) / 1e9
        math.min(procs.toDouble, (cpuNs / 1e9) / wall)
      }
      probe(); probe()
    } catch { case _: Throwable => -1.0 }
    Env(procs, cpus, Runtime.getRuntime.maxMemory / (1L << 20), taskConc)
  }

  /** THE one timing path, suite and isolated alike: warm-ups once, then
    * cold passes through [[timedCold]]. */
  private final class Timer(spark: SparkSession, sfDir: String) {
    // steady-state warm-up: session init, codegen, parquet reader paths,
    // and the per-table file indexes (one-row-group touch per table)
    for (t <- Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")) {
      try graft.queries.Tables(spark, sfDir, t).limit(1).count()
      catch { case _: Throwable => }
    }
    // javax.imageio warm-up (q121's decoder): the first ImageIO use
    // pays a plugin-registry scan + zlib JIT that made pass 1 ~2×
    // steady state; local mode shares the JVM, so one driver-side
    // write+read warms the executor-thread path too
    try {
      val img = new java.awt.image.BufferedImage(
        2, 2, java.awt.image.BufferedImage.TYPE_INT_RGB)
      val buf = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", buf)
      javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(buf.toByteArray))
    } catch { case _: Throwable => }

    private def usedStorageMB(): Long =
      spark.sparkContext.getExecutorMemoryStatus.values
        .map { case (max, rem) => max - rem }.sum / (1L << 20)

    /** Every pass starts on drained storage. The floor is per query: the
      * first pass drains to 0, so no predecessor's blocks are resident
      * when it starts, and a later pass drains only to the residual an
      * earlier pass of the SAME query left behind. */
    def measure(name: String, fn: (SparkSession, String) => DataFrame,
                passes: Int): Seq[Pass] = {
      var floorMB = 0L
      (1 to passes).map { p =>
        floorMB = drain(floorMB, name, p)
        timedCold(name, p, fn)
      }
    }

    /** Broadcast pieces (and any block whose drop the block manager
      * processed asynchronously) are reclaimed by the ContextCleaner
      * only after a driver GC notices the dead references. Wait for
      * storage to fall to `floorMB` with a bounded budget (4 s, one GC
      * nudge). If the budget expires, say so rather than silently
      * recording a nonzero pre, naming the cached RDDs and the other
      * blocks (broadcast pieces, ...) still resident in memory, and
      * return the residual as the floor for this query's later
      * passes, so they do not re-pay the full budget chasing the same
      * megabytes. */
    private def drain(floorMB: Long, name: String, pass: Int): Long = {
      var drainedMs = 0
      while (usedStorageMB() > floorMB && drainedMs < 4000) {
        if (drainedMs == 200) System.gc()
        Thread.sleep(50); drainedMs += 50
      }
      val residualMB = usedStorageMB()
      if (residualMB <= floorMB) floorMB
      else {
        val cached = spark.sparkContext.getRDDStorageInfo.filter(_.isCached)
          .map(r => f"rdd ${r.id} '${r.name}' ${r.memSize / 1048576.0}%.2fMB")
        // local mode: the driver's block manager is the only executor's
        val bm = org.apache.spark.SparkEnv.get.blockManager
        val blocks = bm.getMatchingBlockIds(!_.isRDD).sortBy(_.name)
          .flatMap(id => bm.getStatus(id).filter(_.memSize > 0).map(st =>
            f"${id.name} ${st.memSize / 1024.0}%.1fKB"))
        System.err.println(
          s"[bench-teardown] ${residualMB}MB storage residual before " +
            s"$name pass $pass (drain budget expired): " +
            (if (cached.isEmpty) "no cached RDD" else cached.mkString(", ")) +
            "; other blocks: " +
            (if (blocks.isEmpty) "none" else blocks.mkString(", ")))
        residualMB
      }
    }

    /** Time one pass, then reset it ([[resetPass]]) so the next pass
      * is cold (clearing per pass, not per query: a warm second pass
      * once reported 5× off on q161). A failed pass says so on stderr. The
      * storage occupancy before and after the timed region persists as
      * `storage_mb`: a first pass has pre == 0 unless a
      * `[bench-teardown]` line names it (see [[measure]]). */
    private def timedCold(name: String, pass: Int,
                          fn: (SparkSession, String) => DataFrame): Pass = {
      val stores = tempEntries()
      val pre = usedStorageMB()
      val t0 = System.nanoTime()
      val ok = try { fn(spark, sfDir).count(); true }
      catch { case t: Throwable =>
        System.err.println(s"[bench-fail] $name pass $pass: " +
          s"${t.getClass.getName}: ${t.getMessage}")
        false
      }
      val secs = (System.nanoTime() - t0) / 1e9
      val post = usedStorageMB()
      resetPass(spark, stores)
      Pass(ok, secs, pre, post)
    }
  }

  /** Min of the successful passes, -1 when none succeeded. */
  def best(ps: Seq[Pass]): Double =
    ps.collect { case p if p.ok => p.secs }.minOption.getOrElse(-1.0)

  /** Median of the successful passes, -1 when none succeeded. */
  def median(ps: Seq[Pass]): Double = {
    val s = ps.collect { case p if p.ok => p.secs }.sorted
    if (s.isEmpty) -1.0 else (s((s.size - 1) / 2) + s(s.size / 2)) / 2
  }

  private def fmt(v: Double): String = BigDecimal(v)
    .setScale(3, BigDecimal.RoundingMode.HALF_UP).toString

  /** Pass seconds in run order; a failed pass reads -1. */
  private def passVector(ps: Seq[Pass]): String =
    ps.map(p => fmt(if (p.ok) p.secs else -1.0)).mkString("[", ",", "]")

  private def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")

  /** Results → the persisted record and the stdout lines. Keys are the
    * unique qNN prefixes (the full name where two names share one), so
    * the per-query map stays ~3 KB. Stdout carries that map in
    * `queries_iofN` chunks of under 1500 chars each — any tail window
    * of the output keeps the chunks it holds whole, and merging every
    * chunk rebuilds the map — then a short total line, LAST. The
    * record adds the medians, the pass vectors and `storage_mb`. */
  def render(results: Seq[(String, Seq[Pass])], sfDir: String, env: Env,
             queriesFile: String): Rendered = {
    val byPrefix = results.map(_._1).groupBy(_.takeWhile(_ != '_'))
    def key(name: String): String = {
      val p = name.takeWhile(_ != '_')
      if (byPrefix(p).size == 1) p else name
    }
    def perQuery(f: Seq[Pass] => String): Seq[(String, String)] =
      results.map { case (name, ps) => key(name) -> f(ps) }
    val mins = results.map(r => best(r._2))
    val total = mins.filter(_ >= 0).sum
    val nFailed = mins.count(_ < 0)
    val queries = perQuery(ps => fmt(best(ps)))
    val envJson = obj(Seq("procs" -> env.procs.toString,
      "cpus_env" -> s""""${env.cpus}"""", "heap_mb" -> env.heapMB.toString,
      "task_concurrency" -> fmt(env.taskConcurrency)))
    val head = Seq("metric" -> "\"total\"", "value" -> fmt(total),
      "unit" -> "\"sec\"", "n_queries" -> results.size.toString,
      "n_failed" -> nFailed.toString)
    val tail = Seq("sf" -> s""""$sfDir"""", "env" -> envJson)
    val record = obj(head ++ Seq(
      "queries" -> obj(queries),
      "median" -> obj(perQuery(ps => fmt(median(ps)))),
      "passes" -> obj(perQuery(passVector)),
      "storage_mb" -> obj(perQuery(_.map(p => s"[${p.preMB},${p.postMB}]")
        .mkString("[", ",", "]")))) ++ tail)
    val chunks = queries.map { case (k, v) => s""""$k":$v""" }.foldLeft(Vector.empty[String]) { (acc, e) =>
      if (acc.nonEmpty && acc.last.length + e.length + 1 <= 1300)
        acc.init :+ (acc.last + "," + e)
      else acc :+ e
    }
    val chunkLines = chunks.zipWithIndex.map { case (c, i) =>
      s"""{"metric":"queries_${i + 1}of${chunks.size}","value":${i + 1},"unit":"chunk","queries":{$c},"sf":"$sfDir"}"""
    }
    Rendered(record, chunkLines :+
      obj(head ++ Seq("queries_file" -> s""""$queriesFile"""") ++ tail))
  }
}
