package perfbench

import graft.ops.Sharding
import graft.sources.JsonCompact
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** A narrow record of the ingest and query tables. */
final case class Nested(qty: Long, note: String)
final case class Rec(id: Long, user: String, kind: String, qty: Long,
                     price: Double, ts: String, tags: Seq[String], nested: Nested)
/** A row of the CDC document store and a change to it. */
final case class Doc(doc_id: Long, text: String, ver: Long)
final case class Change(doc_id: Long, text: String, ver: Long, op: String)

object Recs {
  def of(r: Gen.Row): Rec = Rec(r.id, r.user, r.kind, r.qty, r.price, r.ts,
    r.tags, Nested(r.nestedQty, r.nestedNote))

  def frame(spark: SparkSession, seed: Long, lo: Long, hi: Long): DataFrame =
    spark.createDataFrame((lo until hi).map(i => of(Gen.row(seed, i))))

  /** Bytes of the rows' NDJSON rendering: the user data in a table. */
  def userBytes(seed: Long, lo: Long, hi: Long): Long =
    (lo until hi).map(i => Gen.rowJson(Gen.row(seed, i)).length + 1L).sum

  /** Data files of a graftjson table (hidden `_`/`.` entries excluded). */
  def dataFiles(dir: String): Seq[Path] = {
    val s = Files.list(java.nio.file.Paths.get(dir))
    try s.iterator().asScala.filter { p =>
      val n = p.getFileName.toString
      Files.isRegularFile(p) && !n.startsWith("_") && !n.startsWith(".")
    }.toVector finally s.close()
  }
}

/** The write side of `sources` and `ops`: a narrow graftjson table fed
  * by a closed loop of small appends, whole-file range DELETEs and
  * compactions, a bucketed document store taking CDC batches, and the
  * inventory's store-lifecycle queries. Inference and merge work is
  * tiny (eight top-level fields). */
final class Ingest(val appendRows: Int, baseRows: Int, storeDocs: Int,
                   cdcBatch: Int, slice: QuerySlice) extends Workload {
  val roundMix = Seq("sources.append" -> 2, "sources.delete" -> 1,
    "sources.compact" -> 1, "ops.cdc_merge" -> 1) ++ slice.roundMix
  override def querySlice: Option[QuerySlice] = Some(slice)
  private val buckets = 8

  private var table = ""
  private var store = ""
  private var nextId = 0L
  /** Live id ranges [lo, hi) of the table, for the exact-survivor check. */
  private val live = mutable.ArrayBuffer.empty[(Long, Long)]
  /** Expected store content: doc_id -> ver. */
  private val expected = mutable.Map.empty[Long, Long]
  private var cdcNo = 0L
  private var userBytesLive = 0L

  def generate(run: Run): Unit = {
    val dir = run.root.resolve("ingest")
    Files.createDirectories(dir)
    table = dir.resolve("table").toString
    store = dir.resolve("store").toString
  }

  private def append(run: Run): Unit = {
    val lo = nextId
    val hi = lo + appendRows
    val df = Recs.frame(run.spark, run.seed, lo, hi)
    val ub = Recs.userBytes(run.seed, lo, hi)
    val t0 = FsStats.now()
    run.op("sources.append")(df.write.format("graftjson").mode("append").save(table)) { _ =>
      live += ((lo, hi)); nextId = hi; userBytesLive += ub
      run.note("sources.append.bytes_written_per_user_byte",
        (FsStats.now() - t0).bytesWritten.toDouble / ub)
    }
  }

  /** Remove the newest append's id range: always whole, uncompacted
    * files, so the metadata-only DELETE can decide every file. */
  private def deleteNewest(run: Run): Unit = {
    val (lo, hi) = live.last
    run.op("sources.delete")(run.spark.sql(
      s"DELETE FROM graft.`$table` WHERE id >= $lo AND id < $hi").collect()) { _ =>
      live.remove(live.size - 1)
      userBytesLive -= Recs.userBytes(run.seed, lo, hi)
      checkTable(run)
    }
  }

  private def compact(run: Run): Unit = {
    val before = Recs.dataFiles(table).size
    run.op("sources.compact")(JsonCompact.compact(run.spark, table)) { rep =>
      val after = Recs.dataFiles(table).size
      require(after == before - rep.mergedFiles + rep.mergedInto,
        s"compact report $rep does not match $before -> $after files")
      run.note("sources.compact.files_before", before.toDouble)
      run.note("sources.compact.files_after", after.toDouble)
    }
  }

  private def cdc(run: Run): Unit = {
    cdcNo += 1
    val ver = cdcNo
    val h = Gen.mix(run.seed ^ 0x77L, ver)
    // upserts: half updates of live docs, half new ids; deletes: live docs
    val ids = expected.keys.toVector.sorted
    val ups = (0 until cdcBatch).map { j =>
      if (j % 2 == 0) ids(java.lang.Math.floorMod(h + j * 7919L, ids.size.toLong).toInt)
      else storeDocs + ver * cdcBatch + j
    }.distinct
    val dels = (0 until cdcBatch / 4).map(j =>
      ids(java.lang.Math.floorMod((h >>> 7) + j * 104729L, ids.size.toLong).toInt))
      .filterNot(ups.contains).distinct
    val changes = ups.map(i => Change(i, s"doc $i v$ver", ver, "upsert")) ++
      dels.map(i => Change(i, "", ver, "delete"))
    val df = run.spark.createDataFrame(changes)
    run.op("ops.cdc_merge")(Sharding.mergeCdc(run.spark, store, df, buckets)) { audit =>
      require(audit.n_upserts == ups.size && audit.n_deletes == dels.size,
        s"cdc audit $audit, sent ${ups.size} upserts ${dels.size} deletes")
      ups.foreach(expected(_) = ver)
      dels.foreach(expected.remove)
      checkStore(run)
    }
  }

  private def checkTable(run: Run): Unit = {
    val r = run.spark.read.format("graftjson").load(table)
      .agg(count(lit(1)), sum(col("id"))).head()
    val n = r.getLong(0)
    val s = if (r.isNullAt(1)) 0L else r.getAs[Number](1).longValue
    val wantN = live.map { case (lo, hi) => hi - lo }.sum
    val wantS = live.map { case (lo, hi) => (lo until hi).sum }.sum
    require(n == wantN && s == wantS, s"table holds $n rows (id sum $s), expected $wantN ($wantS)")
  }

  private def checkStore(run: Run): Unit = {
    val got = run.spark.read.parquet(store).select(col("doc_id"), col("ver"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    require(got == expected.toMap, s"store holds ${got.size} docs, expected ${expected.size}")
  }

  def setup(run: Run): Unit = {
    val spark = run.spark
    Recs.frame(spark, run.seed, 0, baseRows).write.format("graftjson")
      .mode("overwrite").save(table)
    live += ((0L, baseRows.toLong)); nextId = baseRows
    userBytesLive = Recs.userBytes(run.seed, 0, baseRows)
    val docs = (0L until storeDocs).map(i => Doc(i, s"doc $i v0", 0L))
    Sharding.initDocStore(spark.createDataFrame(docs), store, buckets)
    docs.foreach(d => expected(d.doc_id) = 0L)
    // warm the append, delete, merge and compact paths before timing
    append(run); deleteNewest(run); cdc(run); compact(run)
    slice.setup(run)
  }

  def round(run: Run): Unit = {
    append(run); append(run)
    deleteNewest(run)
    cdc(run)
    compact(run)
    slice.round(run)
  }

  override def finish(run: Run): Unit = {
    slice.finish(run)
    val files = Recs.dataFiles(table)
    run.note("sources.live_files", files.size.toDouble)
    run.note("ingest.stored_bytes_per_user_byte",
      files.map(Files.size).sum.toDouble / userBytesLive)
  }

  override def docSample(run: Run): Seq[String] =
    (0L until 50000L).map(i => Gen.rowJson(Gen.row(run.seed, i)))
}
