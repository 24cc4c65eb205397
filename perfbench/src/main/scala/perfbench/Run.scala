package perfbench

import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import java.nio.file.Path
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** State of one benchmark run: the closed loop's operation log, the
  * counts noted by the workloads, and the tracer.
  *
  * The loop is single-client and closed: the driver thread issues each
  * operation after the previous one returned and was checked. Only the
  * operation body is timed; its check and the tracer's fence run
  * outside the timed region. */
final class Run(val spark: SparkSession, val tracer: Tracer,
                val root: Path, val seed: Long) {

  /** Wall seconds of each successful operation, by kind. */
  val walls = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  /** CPU seconds of each successful operation, by kind: the CPU time of
    * the JVM's Java threads (driver, tasks, listener bus) plus the
    * garbage collectors' collection time (see [[Run.gcMs]]). */
  val cpus = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  /** JIT compiler seconds during each successful operation, by kind. */
  val jits = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  /** Values the workloads note for per-layer metrics, by name. */
  val notes = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  var round = 0

  /** Forget the samples and notes of set-up's warm-up operations. */
  def resetSamples(): Unit = { walls.clear(); cpus.clear(); jits.clear(); notes.clear() }

  def note(name: String, v: Double): Unit =
    notes.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v

  /** Run one operation: time `body` inside a span (named `kind` unless
    * `span` is given), then run `check` on its result untimed. An
    * exception in either counts the operation as failed and drops its
    * timing. */
  def op[T](kind: String, span: String = null)(body: => T)(check: T => Unit): Option[T] = {
    attempted += 1
    tracer.nextOp()
    val c0 = Run.threadCpuNs()
    val g0 = Run.gcMs()
    val j0 = Run.jitMs()
    val t0 = System.nanoTime()
    val res =
      try {
        val r = tracer.span(Option(span).getOrElse(kind))(body)
        val wall = (System.nanoTime() - t0) / 1e9
        val cpu = Run.threadCpuNs(c0) / 1e9 + (Run.gcMs() - g0) / 1e3
        val jit = (Run.jitMs() - j0) / 1e3
        check(r)
        walls.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += wall
        cpus.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += cpu
        jits.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += jit
        Some(r)
      } catch {
        case e: Throwable =>
          failed += 1
          if (failures.size < 20) failures += s"$kind: ${e.toString.take(300)}"
          None
      }
    tracer.fence()
    res
  }

  def wallsOf(kind: String): Seq[Double] = walls.getOrElse(kind, Nil).toSeq
  def cpusOf(kind: String): Seq[Double] = cpus.getOrElse(kind, Nil).toSeq
  def jitsOf(kind: String): Seq[Double] = jits.getOrElse(kind, Nil).toSeq
}

object Run {
  private val threads = ManagementFactory.getThreadMXBean
  private val collectors = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private val compiler = ManagementFactory.getCompilationMXBean

  /** CPU time of every live Java thread, by thread id. */
  def threadCpuNs(): Map[Long, Long] =
    threads.getAllThreadIds.iterator.map(id => id -> threads.getThreadCpuTime(id))
      .filter(_._2 >= 0).toMap

  /** CPU time the Java threads spent since `before` was taken; a thread
    * started since counts from zero. */
  def threadCpuNs(before: Map[Long, Long]): Long =
    threadCpuNs().iterator.map { case (id, ns) => ns - before.getOrElse(id, 0L) }.sum

  /** Collection time of all garbage collectors, in ms: the GC's
    * stop-the-world pauses, in which the Java threads accrue no CPU
    * time. The GC worker threads are not Java threads. */
  def gcMs(): Long = collectors.iterator.map(_.getCollectionTime).sum

  /** Time the JIT compiler threads spent compiling, in ms. */
  def jitMs(): Long = compiler.getTotalCompilationTime
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Nearest-rank percentile. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(p / 100.0 * s.size).toInt - 1)))
    }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

/** A workload: set-up (timed as `setup_s`), a fixed round of
  * operations repeated until the run's time is spent, and the
  * composition of one round, by operation kind and count. */
trait Workload {
  /** Operation kinds of one round and how many of each it issues. */
  def roundMix: Seq[(String, Int)]
  /** Generate the inputs from the seed; not timed. */
  def generate(run: Run): Unit
  /** Seed the workload's state through the program's write path and
    * warm every measured code path once; timed as part of `setup_s`. */
  def setup(run: Run): Unit
  def round(run: Run): Unit
  /** Untimed checks and notes after the loop. */
  def finish(run: Run): Unit = ()
  /** Doc sample for the single-thread parse/merge micro-measurements. */
  def docSample(run: Run): Seq[String] = Nil
  /** The inventory queries this workload runs each round, if any. */
  def querySlice: Option[QuerySlice] = None
}
