package graft

import org.apache.spark.sql.SparkSession

/** The ONE SparkSession builder: Bench, Verify, the CLIs and the test
  * base all start from it, so the correctness gate, the specs and the
  * bench run the same engine on the same I/O stack. */
object GraftSession {

  /** Task threads for the mains and CLIs: `SPARK_GRAFT_CPUS`, default 4
    * (the test base pins its own 4 and ignores the variable). */
  def envCpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** `local[cpus]` session (or `master`, the CLIs' `SPARK_MASTER`
    * deployment override) with:
    *   - [[GraftExtensions]] (native expressions, `graft.` SQL);
    *   - shuffle partitions = cpus;
    *   - UTC: the events NTZ->timestamp normalization in Tables is
    *     zone-relabeling only under UTC, so results match the rows the
    *     correctness gate verified on any host timezone;
    *   - `parquet.nanosAsLong`: events' TIMESTAMP(NANOS) mapping, set at
    *     bootstrap (TablesSpec asserts events is the ONLY table that
    *     needs it);
    *   - the local FS WITHOUT client-side CRC sidecars. Hadoop's default
    *     local FS is a ChecksumFileSystem: every write also writes a
    *     `.crc` sidecar and every read re-verifies it, doubling the
    *     per-file I/O of the store lifecycles' many tiny commits (q128
    *     2.73 -> 1.88 s isolated). Production file systems carry their
    *     own integrity checks, and the lease/manifest code bypasses the
    *     emulation for its own I/O anyway (JsonLease.rawFs);
    *   - UI off, WARN logging.
    * The AQE coalescing floor is NOT set here: each query entry pins its
    * own, 64k for [[QueryDef.dense]] queries (SparkEntry.withCoalesceFloor). */
  def local(cpus: Int, appName: String,
            master: Option[String] = None): SparkSession = {
    val spark = SparkSession.builder()
      .withExtensions(new GraftExtensions)
      .appName(appName)
      .master(master.getOrElse(s"local[$cpus]"))
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.hadoop.fs.file.impl",
        classOf[org.apache.hadoop.fs.RawLocalFileSystem].getName)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Drop every cached plan and RDD block so the next query starts
    * cold. clearCache FIRST: persist()-based query caches register in
    * the CacheManager, which a bare RDD unpersist does not deregister,
    * and a still-registered cache plan-matches the next query's freshly
    * built plan (the r10 warm-crediting bug). BLOCKING unpersist (r13):
    * an asynchronous one lets the next query start while storage
    * memory is still held by its predecessors' dying blocks (the
    * suspect for r12's q161 suite spikes, 3 of 4 passes ~4× isolated);
    * blocking costs milliseconds per query. */
  def dropCaches(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
  }
}
