package perfbench

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Hadoop `FileSystem` statistics of the `file` scheme, summed over
  * every instance in the JVM (local mode runs the executors in this
  * JVM too, so task I/O is included). */
final case class FsStats(bytesRead: Long, bytesWritten: Long,
                         readOps: Long, writeOps: Long) {
  def -(o: FsStats): FsStats = FsStats(bytesRead - o.bytesRead,
    bytesWritten - o.bytesWritten, readOps - o.readOps, writeOps - o.writeOps)
}

object FsStats {
  // per-class statistics: the scheme-keyed storage statistics would
  // keep only the first `file` implementation the JVM instantiated
  @annotation.nowarn("cat=deprecation")
  def now(): FsStats = {
    val all = FileSystem.getAllStatistics.asScala.filter(_.getScheme == "file")
    FsStats(all.map(_.getBytesRead).sum, all.map(_.getBytesWritten).sum,
      all.map(s => s.getReadOps.toLong + s.getLargeReadOps).sum,
      all.map(_.getWriteOps.toLong).sum)
  }
}

/** Counts the listener accumulates for one span's own Spark jobs. */
final class JobCounts {
  var jobs = 0
  var tasks = 0L
  var taskCpuNs = 0L
  var gcMs = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  /** (start, end) in epoch ms of each job; end is -1 while running. */
  val intervals = mutable.ArrayBuffer.empty[Array[Long]]
}

/** One traced call into a module. Times are epoch ms for Spark-event
  * alignment plus a nanoTime pair for the duration. */
final class Span(val id: Int, val name: String, val parent: Int,
                 val op: Long, val startMs: Long, val startNs: Long) {
  var endMs = 0L
  var endNs = 0L
  var fs: FsStats = FsStats(0, 0, 0, 0)
  val counts = new JobCounts
  def wallS: Double = (endNs - startNs) / 1e9
}

/** The benchmark's own tracer: spans around each module call, and a
  * listener that attributes Spark jobs to the innermost open span.
  *
  * Attribution: before each call the span id goes into the local
  * property [[Tracer.SpanKey]], which Spark copies into every job the
  * call submits (SQL execution threads inherit it), so `onJobStart`
  * sees it. When tracing is off the tracer records nothing and no
  * listener is registered. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  import Tracer.SpanKey

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val byId = mutable.Map.empty[Int, Span]
  private var stack: List[Span] = Nil
  private var opId = 0L

  // listener-side state, touched by the listener-bus thread
  private val stageSpan = mutable.Map.empty[Int, Span]
  private val jobSpan = mutable.Map.empty[Int, Array[Long]]
  private val fenceJobs = mutable.Map.empty[Int, String]
  private val fencesSeen = mutable.Set.empty[String]
  private var fenceNo = 0

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val key = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
      key.filter(_.startsWith("fence-")).foreach(fenceJobs(e.jobId) = _)
      key.flatMap(k => k.toIntOption).flatMap(byId.get).foreach { s =>
        s.counts.jobs += 1
        val iv = Array(e.time, -1L)
        s.counts.intervals += iv
        jobSpan(e.jobId) = iv
        e.stageIds.foreach(stageSpan(_) = s)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobSpan.remove(e.jobId).foreach(_(1) = e.time)
      fenceJobs.remove(e.jobId).foreach(fencesSeen += _)
      Tracer.this.notifyAll()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val m = e.taskMetrics
      stageSpan.get(e.stageId).filter(_ => m != null).foreach { s =>
        val c = s.counts
        c.tasks += 1
        c.taskCpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  if (enabled) sc.addSparkListener(listener)

  /** Spans are recorded only while this is on (set-up runs with it off). */
  var on: Boolean = enabled

  /** Start a new top-level operation; spans opened until the next call
    * share its id. */
  def nextOp(): Long = { opId += 1; opId }

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val s = synchronized {
        val parent = stack.headOption.map(_.id).getOrElse(-1)
        val sp = new Span(spans.size, name, parent, opId,
          System.currentTimeMillis(), System.nanoTime())
        spans += sp; byId(sp.id) = sp; stack = sp :: stack
        sp
      }
      val prevKey = sc.getLocalProperty(SpanKey)
      sc.setLocalProperty(SpanKey, s.id.toString)
      val fs0 = FsStats.now()
      try body
      finally {
        s.fs = FsStats.now() - fs0
        s.endNs = System.nanoTime(); s.endMs = System.currentTimeMillis()
        sc.setLocalProperty(SpanKey, prevKey)
        synchronized { stack = stack.tail }
      }
    }

  /** Block until the listener has processed every event posted so far.
    * A job's end event is posted before its action returns, and the bus
    * delivers in order, so once the end of a fresh one-task job arrives
    * all earlier events have too. Runs outside every span. */
  def fence(): Unit = if (on) {
    val key = synchronized { fenceNo += 1; s"fence-$fenceNo" }
    val prev = sc.getLocalProperty(SpanKey)
    sc.setLocalProperty(SpanKey, key)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(SpanKey, prev)
    val deadline = System.nanoTime() + 60L * 1000000000L
    synchronized {
      while (!fencesSeen(key) && System.nanoTime() < deadline) wait(50)
      require(fencesSeen.remove(key), "listener did not catch up within 60 s")
    }
  }

  def all: Seq[Span] = synchronized(spans.toSeq)

  def close(): Unit = if (enabled) sc.removeSparkListener(listener)
}

object Tracer {
  val SpanKey = "perfbench.span"

  /** Total length of the union of closed intervals. */
  def unionMs(iv: Seq[(Long, Long)]): Long = {
    val sorted = iv.filter(x => x._2 >= x._1).sortBy(_._1)
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    sorted.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Wall time of `s` not covered by any of its own Spark jobs. */
  def driverGapS(s: Span): Double = {
    val iv = s.counts.intervals.toSeq.map(a => (a(0), if (a(1) < 0) s.endMs else a(1)))
    math.max(0.0, s.wallS - unionMs(iv) / 1000.0)
  }

  /** Span duration minus the part its direct children cover. */
  def selfS(s: Span, children: Seq[Span]): Double = {
    val iv = children.map(c => (c.startNs / 1000L, c.endNs / 1000L))
    math.max(0.0, s.wallS - unionMs(iv) / 1e6)
  }

  private def q(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  /** The span dump: one JSON object per line. */
  def dump(spans: Seq[Span]): String = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val c = s.counts
      s"""{"id":${s.id},"name":${q(s.name)},"parent":${s.parent},"op":${s.op},""" +
        s""""start_ms":${s.startMs},"end_ms":${s.endMs},"wall_s":${s.wallS},""" +
        s""""self_s":${selfS(s, kids.getOrElse(s.id, Nil))},"jobs":${c.jobs},""" +
        s""""tasks":${c.tasks},"task_cpu_s":${c.taskCpuNs / 1e9},""" +
        s""""driver_gap_s":${driverGapS(s)},"fs_bytes_read":${s.fs.bytesRead},""" +
        s""""fs_bytes_written":${s.fs.bytesWritten},"fs_read_ops":${s.fs.readOps},""" +
        s""""fs_write_ops":${s.fs.writeOps}}"""
    }.mkString("\n")
  }
}
