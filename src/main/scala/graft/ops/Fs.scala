package graft.ops

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession

/** The ONE copy of the Hadoop-filesystem helpers every store-path
  * touches (index roots may live on HDFS/S3 — `java.io.File` probes
  * and fresh `new Configuration()` instances silently misbehave
  * there: wrong auth, wrong defaults, hidden tombstones). All entry
  * points source the SESSION's Hadoop configuration so
  * `spark.hadoop.*` settings apply. */
private[graft] object Fs {

  def exists(spark: SparkSession, dir: String): Boolean = {
    val p = new Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  def delete(spark: SparkSession, dir: String): Unit = {
    val p = new Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }

  /** Create (or truncate) an empty marker file — the durable
    * "operation in flight" flag store protocols leave before a
    * multi-step overwrite and remove after it commits. */
  def touch(spark: SparkSession, path: String): Unit = {
    val p = new Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .create(p, true).close()
  }

  /** Atomically publish a small control file (tmp + rename): the
    * content is either fully there or the file does not exist — the
    * property marker/ledger protocols lean on. */
  def writeUtf8Atomic(spark: SparkSession, path: String,
                      text: String): Unit = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new Path(path + ".tmp")
    val out = fs.create(tmp, true)
    try out.write(text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    fs.delete(p, false)
    if (!fs.rename(tmp, p))
      throw new IllegalStateException(s"could not publish $path")
  }

  /** Small control file as UTF-8 text, None when absent. */
  def readUtf8IfExists(spark: SparkSession, path: String): Option[String] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None else Some(readFullyUtf8(fs, p))
  }

  /** Read a small driver-side control file (manifest, diff log) fully
    * as UTF-8 text through an already-resolved filesystem — the ONE
    * copy of the read-stream-fully loop the store protocols share. */
  def readFullyUtf8(fs: org.apache.hadoop.fs.FileSystem, p: Path): String = {
    val in = fs.open(p)
    try {
      val bos = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n > 0) { bos.write(buf, 0, n); n = in.read(buf) }
      new String(bos.toByteArray, java.nio.charset.StandardCharsets.UTF_8)
    } finally in.close()
  }

  /** Streaming byte-compare of two (epoch-sized — micro-batch) files,
    * called by the ingest/sink replay paths only after their lengths
    * already matched: a content-identical replay must KEEP the
    * published file (an overwrite bumps its mtime, drifting it out of
    * every historical save's fingerprint — r14). The pages were just
    * written, so this is a memory-speed scan. */
  def sameBytes(fs: org.apache.hadoop.fs.FileSystem,
                a: Path, b: Path): Boolean = {
    val ia = fs.open(a); val ib = fs.open(b)
    try {
      val ba = new Array[Byte](1 << 16)
      val bb = new Array[Byte](1 << 16)
      var same = true
      var done = false
      while (same && !done) {
        val na = ia.read(ba)
        if (na < 0) done = true
        else {
          // fill exactly na bytes from b to mirror a's read
          var off = 0
          while (same && off < na) {
            val nb = ib.read(bb, 0, na - off)
            if (nb <= 0) same = false
            else {
              var i = 0
              while (same && i < nb) {
                if (ba(off + i) != bb(i)) same = false
                i += 1
              }
              off += nb
            }
          }
        }
      }
      same && ib.read(bb, 0, 1) < 0
    } finally { ia.close(); ib.close() }
  }

  /** The session's Hadoop conf for task code, as ONE broadcast per
    * job: an executor deserializes it once, not once per task (the
    * full conf is ~34 KB; shipped inside each task, every task of a
    * many-file scan would decode its own copy). Tasks read
    * `conf.value.value`. The broadcast holds a copy: local-mode tasks
    * read the driver's broadcast value itself, so without the copy a
    * later driver-side `set` would reach a job already planned. Spark's
    * own file scans ship their conf the same way. */
  def broadcastConf(spark: SparkSession): Broadcast[SerializableConf] =
    spark.sparkContext.broadcast(new SerializableConf(
      new Configuration(spark.sparkContext.hadoopConfiguration)))

  /** Hadoop `Configuration` is not java-serializable; this wrapper
    * ships it into task code via its own write/readFields (the same
    * shape as Spark's internal SerializableConfiguration, which is
    * `private[spark]`). Constructed only by [[broadcastConf]]. */
  class SerializableConf(@transient var value: Configuration)
      extends Serializable {
    private def writeObject(out: java.io.ObjectOutputStream): Unit = {
      out.defaultWriteObject()
      value.write(out)
    }
    private def readObject(in: java.io.ObjectInputStream): Unit = {
      in.defaultReadObject()
      value = new Configuration(false)
      value.readFields(in)
    }
  }
}
