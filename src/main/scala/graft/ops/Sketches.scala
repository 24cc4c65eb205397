package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Mergeable-sketch store — "keep the sketch, drop the data", the
  * pattern that makes corpus-wide distinct statistics affordable at
  * 100 TB. Raw events are sketched ONCE, shard by shard, into a
  * parquet store of DataSketches HLL blobs (Spark 3.5+ `hll_*`
  * built-ins — codegen'd Tungsten aggregates, no UDF, no UDAF); every
  * later "how many distinct X per group?" question is answered from
  * the store alone in milliseconds, because HLL register merge is the
  * whole query. New data appends as its own shard partition (cost ∝
  * batch, dynamic overwrite, replay-idempotent — the LSM discipline
  * of [[InvertedIndex]] applied to statistics), and the merged
  * estimate is register-max over shards, which is mathematically
  * order- and partition-independent: sketch-of-union ==
  * union-of-sketches, pinned in SketchesSpec.
  *
  * The store is ~lgK KB per (shard, group) row regardless of row
  * count — at 100 TB the sketches of a trillion-row table fit in one
  * executor, while the exact distinct would be a trillion-row
  * shuffle. */
object Sketches {

  /** Backfill crash-window marker: Spark's dynamic partition
    * overwrite commits per partition as delete-then-rename, so a
    * crash mid-commit can leave a shard's sketches GONE — and the
    * store's whole premise is "keep the sketch, drop the data", so
    * the partition may be unrebuildable and every merged estimate
    * silently under-counts. The marker is up for the write's
    * duration ([[StoreTxn.Guard]]); readers FAIL FAST on it (loud
    * beats a wrong estimate) and re-running the same backfill — the
    * replay contract — clears it (review r12). An UNRELATED later
    * backfill must not absorb a crashed one's marker (its success
    * would unblock readers while the crashed shard's sketches are
    * still gone): it refuses unless the caller states it IS the
    * recovery rerun (`allowPending`). */
  private def backfill(dir: String): StoreTxn.Guard = {
    val marker = "_backfill_pending"
    StoreTxn.Guard(s"$dir/$marker",
      crashed = s"sketch store $dir: a shard backfill crashed mid-commit " +
        s"($marker) — re-run the same backfill to converge " +
        "before reading estimates",
      refusal = s"sketch store $dir: a previous backfill crashed " +
        s"mid-commit ($marker) — re-run THAT backfill with " +
        "allowPending=true before any other write")
  }

  /** Sketch one shard batch (or a whole table of shards) into the
    * store: one hash-aggregate pass over the rows, one (shard, group)
    * HLL blob + exact row count out, written under `shard=` partition
    * dirs. Dynamic overwrite means re-running a shard (replay,
    * backfill) rewrites exactly that shard's partitions to identical
    * content and never touches the rest. */
  def writeHllShards(df: DataFrame, dir: String, shard: Column,
                     group: Column, id: Column, lgK: Int = 12,
                     allowPending: Boolean = false): Unit = {
    backfill(dir).write(df.sparkSession, "writeHllShards",
        recovery = allowPending) {
      df.groupBy(shard.as("shard"), group.as("grp"))
        .agg(hll_sketch_agg(id, lit(lgK)).as("sketch"),
          count(lit(1)).as("n_rows"))
        .repartition(col("shard"))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("shard")
        .parquet(dir)
    }
  }

  /** Per-group distinct-count estimate from the STORED sketches alone
    * — the raw table is never rescanned. Register-max union across
    * shards, then the estimator; `n_rows` sums exactly alongside so
    * the consumer sees both scales. */
  def mergedDistinct(spark: SparkSession, dir: String): DataFrame = {
    backfill(dir).failIfPending(spark)
    spark.read.parquet(dir)
      .groupBy(col("grp"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sketch")))
          .as("n_distinct_est"),
        sum(col("n_rows")).as("n_rows"))
  }

  /** Pairwise distinct-overlap estimates between group sketches, from
    * the store alone: HLL has no native intersection, but
    * inclusion–exclusion over the union sketch gives
    * |A∩B| ≈ est(A) + est(B) − est(A∪B) (clamped at 0), and with it a
    * Jaccard estimate — the "how much do these two sources/shards
    * share?" question answered in milliseconds without touching raw
    * data. Error compounds across the three estimates (≈ √3× a single
    * sketch's relative error against the UNION size, so small
    * overlaps of large sets drown first — SketchesSpec pins the
    * envelope); groups are few by construction, so the pair self-join
    * is a broadcast over a group-count-sized table. */
  def overlapEstimate(spark: SparkSession, dir: String): DataFrame = {
    backfill(dir).failIfPending(spark)
    val g = spark.read.parquet(dir)
      .groupBy(col("grp"))
      .agg(hll_union_agg(col("sketch")).as("sk"))
    val pairs = g.select(col("grp").as("grp_a"), col("sk").as("sk_a"))
      .join(broadcast(g.select(col("grp").as("grp_b"),
        col("sk").as("sk_b"))), col("grp_a") < col("grp_b"))
    pairs.select(col("grp_a"), col("grp_b"),
        hll_sketch_estimate(col("sk_a")).as("est_a"),
        hll_sketch_estimate(col("sk_b")).as("est_b"),
        hll_sketch_estimate(hll_union(col("sk_a"), col("sk_b")))
          .as("est_union"))
      // estimates are bigint (the hll_sketch_estimate return type, as
      // in mergedDistinct); the overlap stays in exact integer
      // arithmetic, only the Jaccard ratio is floating
      .withColumn("est_overlap",
        greatest(col("est_a") + col("est_b") - col("est_union"), lit(0L)))
      .withColumn("jaccard_est",
        round(col("est_overlap").cast("double") / col("est_union"), 4))
  }

  /** Expression-level count-min table of a key column: `depth`
    * independent hash rows (xxhash64 salted by the row index) of
    * `width` buckets, materialized as a (j, b, c) DataFrame of at
    * most depth×width rows — the optimizer-statistics form of the
    * sketch, built in one explode + one keyed aggregate at any table
    * size. Deterministic (fixed hash family, exact counts), so every
    * derived estimate is layout-independent. */
  def cmsTable(rows: DataFrame, key: Column, depth: Int = 4,
               width: Int = 1024): DataFrame = {
    require(depth >= 1 && width >= 1)
    rows.select(key.as("k"))
      .select(explode(array((0 until depth).map(j =>
        struct(lit(j).as("j"),
          pmod(xxhash64(col("k"), lit(j)), lit(width.toLong)).as("b"))): _*))
        .as("jb"))
      .groupBy(col("jb.j").as("j"), col("jb.b").as("b"))
      .agg(count(lit(1)).as("c"))
  }

  /** Equi-join cardinality estimate from two count-min tables built
    * with the SAME (depth, width): |A ⋈ B| = Σ_k a_k·b_k is estimated
    * by min_j Σ_b A[j,b]·B[j,b] (the classic CM inner product) — a
    * never-underestimating join-size oracle computed from two
    * depth×width tables, no matter how large the joined relations
    * are. Products are decimal (row counts at 100 TB overflow a
    * 64-bit product); the result is exact integer arithmetic over the
    * sketch, so it is deterministic and layout-independent. */
  def cmsJoinSize(a: DataFrame, b: DataFrame): DataFrame =
    a.join(b.select(col("j"), col("b"), col("c").as("c2")), Seq("j", "b"))
      .groupBy(col("j"))
      .agg(sum(col("c").cast("decimal(18,0)") *
        col("c2").cast("decimal(18,0)")).as("ip"))
      .agg(min(col("ip")).cast("decimal(38,0)").as("est"))

  /** Mergeable fixed-bin histogram shards — the quantile member of
    * the sketch-store family ([[writeHllShards]] answers distinct,
    * [[cmsTable]] answers frequency, this answers distribution).
    * `[lo, hi)` is cut into `nBins` equal-width bins; each shard
    * contributes one exact (bin → count) table, clamped at the edge
    * bins so out-of-range values are counted, never dropped. Bin
    * counts merge by ADDITION (unlike HLL's register max), so the
    * merged histogram over any shard subset is exact for that subset
    * — order- and partition-independent by commutativity.
    *
    * Scale: one column-pruned pass per shard batch, shuffling at most
    * shards×nBins aggregate rows; the store is nBins rows per shard
    * no matter how many raw rows were scanned. Deterministic (integer
    * counts, one fixed double `(v−lo)/w` per row), so estimates off
    * the store are layout-independent and SQL-reproducible — q190
    * carries a full DuckDB oracle, unusual for the sketch family. */
  def writeHistShards(df: DataFrame, dir: String, value: Column,
                      shard: Column, lo: Double, hi: Double,
                      nBins: Int, allowPending: Boolean = false): Unit = {
    require(nBins >= 2 && hi > lo, s"need nBins>=2 and hi>lo, got $nBins, [$lo,$hi]")
    val w = (hi - lo) / nBins
    backfill(dir).write(df.sparkSession, "writeHistShards",
        recovery = allowPending) {
      // NaN is dropped with NULL: under a non-ANSI cast floor(NaN)
      // lands in bin 0 and silently skews every low-end quantile
      df.select(shard.as("shard"), value.cast("double").as("v"))
        .where(col("v").isNotNull && !isnan(col("v")))
        // clamp on the LONG floor result BEFORE narrowing: a far
        // out-of-frame value (corrupt input under a fixed design-time
        // frame) otherwise wraps through the int cast into
        // an arbitrary interior bin instead of the edge bin
        .withColumn("bin",
          least(lit(nBins - 1L), greatest(lit(0L),
            floor((col("v") - lit(lo)) / lit(w)))).cast("int"))
        .groupBy(col("shard"), col("bin"))
        .agg(count(lit(1)).as("c"))
        .repartition(col("shard"))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("shard").parquet(dir)
    }
  }

  /** Interpolated quantile estimates from the stored histogram ALONE
    * (raw data never rescanned): merge bin counts across shards,
    * cumulate, and for each requested p return the first bin whose
    * cumulative count reaches p·N plus a linear interpolation inside
    * it — error bounded by one bin width. The window/cross-join run
    * over ≤ nBins rows (a driver-screen-sized frame), so the
    * single-partition window is bounded by construction, not by
    * data size. */
  def histQuantiles(spark: SparkSession, dir: String, lo: Double,
                    hi: Double, nBins: Int,
                    ps: Seq[Double]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(ps.nonEmpty && ps.forall(p => p > 0 && p <= 1))
    backfill(dir).failIfPending(spark)
    val w = (hi - lo) / nBins
    val cum = spark.read.parquet(dir)
      .groupBy(col("bin")).agg(sum(col("c")).as("c"))
      .withColumn("cum", sum(col("c")).over(Window.orderBy(col("bin"))))
      .withColumn("tot", sum(col("c")).over(
        Window.rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)))
    cum
      .select(col("bin"), col("c"), col("cum"), col("tot"),
        explode(array(ps.map(lit): _*)).as("p"))
      .where(col("cum") >= col("p") * col("tot"))
      .groupBy(col("p"))
      .agg(min_by(struct(col("bin"), col("c"), col("cum")), col("bin"))
        .as("h"),
        max(col("tot")).as("tot"))
      .select(col("p"), col("h.bin").cast("bigint").as("bin"),
        col("h.cum").as("n_le"),
        round(lit(lo) + lit(w) * (col("h.bin") +
          (col("p") * col("tot") - (col("h.cum") - col("h.c"))) /
            col("h.c")), 4).as("est"))
      .orderBy(col("p"))
  }
}
