package graft

import org.apache.hadoop.fs.{ChecksumFileSystem, Path, RawLocalFileSystem}

/** The shared test session IS the mains' session: the specs exercise
  * the bench's engine and I/O stack, not a look-alike. */
class GraftSessionSpec extends SparkTestBase {

  private val floorKey = "spark.sql.adaptive.coalescePartitions.minPartitionSize"

  test("the test session has the bench's stack: raw local FS, UTC, nanosAsLong, GraftExtensions") {
    val fs = new Path("file:///").getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.isInstanceOf[RawLocalFileSystem] && !fs.isInstanceOf[ChecksumFileSystem],
      s"file:// resolves to ${fs.getClass.getName}")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(spark.catalog.functionExists("graft_dot"))
    assert(spark.sparkContext.master == "local[4]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
  }

  test("a parquet write through the session leaves no checksum sidecars") {
    val dir = TempRoots.path("session_raw_fs")
    spark.range(10).write.mode("overwrite").parquet(dir)
    val files = new java.io.File(dir).listFiles().map(_.getName).toSeq
    assert(files.exists(_.endsWith(".parquet")), files)
    assert(!files.exists(_.endsWith(".crc")), s"sidecars written: $files")
  }

  test("dropCaches deregisters cached plans and frees persisted RDDs") {
    val df = spark.range(100).selectExpr("id * 2 AS x").cache()
    df.count()
    spark.sparkContext.parallelize(1 to 10).cache().count()
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty)
    GraftSession.dropCaches(spark)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
    assert(df.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
  }

  test("SparkEntry.resolve takes a full name or its unique qNN prefix and fails loudly otherwise") {
    assert(SparkEntry.resolve("q06")._1 == "q06_window_distribution")
    assert(SparkEntry.resolve("q06_window_distribution")._1 == "q06_window_distribution")
    val e = intercept[IllegalArgumentException](SparkEntry.resolve("q999"))
    assert(e.getMessage.contains("matches 0 entries"), e.getMessage)
  }

  test("a non-dense entry leaves the coalescing floor at the session's starting value") {
    val starting = spark.newSession().conf.get(floorKey)
    SparkEntry.queries("q42_math_fns")(spark, sfDir)
    assert(spark.conf.get(floorKey) == "64k", "dense entry did not pin 64k")
    SparkEntry.queries("q01_pricing_summary")(spark, sfDir)
    assert(spark.conf.get(floorKey) == starting)
  }
}
