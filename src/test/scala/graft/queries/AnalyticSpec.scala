package graft.queries

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Invariants for the round-4 analytic operators that the DuckDB gate
  * can't express: exact-percentile algebra against a local oracle,
  * salted == unsalted equivalence, and CSV round-trip losslessness. */
class AnalyticSpec extends SparkTestBase {

  private def q(name: String) = SparkEntryRef.queries(name)(spark, sfDir)

  test("exact percentiles match a locally computed sorted-multiset oracle") {
    val rows = q("q76_exact_percentiles").collect()
      .map(r => r.getString(0) -> r).toMap
    val data = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select(col("l_returnflag"), col("l_extendedprice"))
      .collect().map(r => (r.getString(0), BigDecimal(r.getDouble(1)).setScale(2, BigDecimal.RoundingMode.HALF_UP)))
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).sorted }
    for ((flag, sorted) <- data) {
      val n = sorted.size
      def pct(k: Int): Double = {
        val lo = ((n - 1).toLong * k / 4).toInt
        val rem = ((n - 1).toLong * k % 4).toInt
        val a = sorted(lo)
        val b = if (lo + 1 < n) sorted(lo + 1) else a
        (a + (b - a) * rem * BigDecimal("0.25")).toDouble
      }
      val r = rows(flag)
      assert(r.getAs[Long]("n_rows") == n.toLong)
      assert(r.getAs[Double]("p25") == pct(1), s"p25 of $flag")
      assert(r.getAs[Double]("p50") == pct(2), s"p50 of $flag")
      assert(r.getAs[Double]("p75") == pct(3), s"p75 of $flag")
    }
  }

  test("approx percentiles stay within sketch error of the exact quartiles") {
    // q92 (oracled since r13) carries the check in-query: the exact
    // sort-free `percentile` quartiles of l_quantity ride the output
    // and the sketch's deviation from them is pinned by the
    // approx_in_envelope boolean the DuckDB oracle asserts as TRUE.
    // Here: the boolean holds per group, and the groups agree with
    // q76's windowed exact path on membership and sizes.
    val exact = q("q76_exact_percentiles").collect()
      .map(r => r.getString(0) -> r).toMap
    val approx = q("q92_approx_percentiles").collect()
      .map(r => r.getString(0) -> r).toMap
    assert(exact.keySet == approx.keySet)
    for ((flag, a) <- approx) {
      assert(a.getAs[Boolean]("approx_in_envelope"),
        s"sketch outside its envelope for flag $flag")
      assert(a.getAs[Long]("n_rows") ==
        exact(flag).getAs[Long]("n_rows"))
      // quantity quartiles are quarter-exact doubles in [1, 50]
      for (p <- Seq("p25", "p50", "p75")) {
        val v = a.getAs[Double](p)
        assert(v >= 1.0 && v <= 50.0 && (v * 4).isWhole, s"$p = $v")
      }
    }
  }

  test("HLL distinct estimate stays within 3 sigma of the exact count") {
    // q21 (oracled since r13, the q92 promotion pattern) carries the
    // check in-query: approx_count_distinct's deviation from the exact
    // countDistinct computed in the same pass is pinned by the
    // hll_in_envelope boolean the DuckDB oracle asserts as TRUE
    val exact = q("q20_distinct_agg").collect()
      .map(r => r.getString(0) -> r.getAs[Long]("n_parts")).toMap
    val approx = q("q21_hll_distinct").collect()
      .map(r => r.getString(0) -> r).toMap
    assert(exact.keySet == approx.keySet)
    for ((flag, ev) <- exact; a = approx(flag)) {
      assert(a.getAs[Boolean]("hll_in_envelope"),
        s"flag $flag: HLL outside its 3*rsd envelope")
      assert(a.getAs[Long]("n_parts") == ev)
    }
  }

  test("salted aggregation is bit-identical to the direct group-by") {
    val salted = q("q89_salted_agg").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSeq
    val direct = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .groupBy(col("l_linestatus"))
      .agg(sum(col("l_quantity").cast("decimal(12,2)")).cast("double").as("sum_qty"),
        count(lit(1)).as("n_rows"))
      .orderBy(col("l_linestatus")).collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSeq
    assert(salted == direct)
  }

  test("CSV round-trip preserves doubles exactly") {
    val viaCsv = q("q83_csv_roundtrip").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    val direct = spark.read.parquet(s"$sfDir/orders.parquet")
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("ym"), col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast("decimal(14,2)")).cast("double").as("total"))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_months"), sum(col("n")).as("n_orders"),
        sum(col("total").cast("decimal(18,2)")).cast("double").as("total_price"))
      .orderBy(col("o_orderstatus")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(viaCsv == direct)
  }

  test("count-min estimates respect the CMS bound and ignore layout") {
    val rows = q("q147_countmin_audit").collect()
    assert(rows.length == 20)
    // within_bound encodes the whole CMS guarantee in-query
    // (est >= exact AND est - exact <= ceil(eps*N)); the DuckDB
    // oracle asserts it as the literal 1 since the r13 promotion
    for (r <- rows)
      assert(r.getAs[Long]("within_bound") == 1L,
        s"CMS outside its guarantee on ${r.getAs[String]("w")}")
    // cell-wise-additive counters ⇒ the merged sketch (and so every
    // estimate) is identical under any partitioning of the stream
    val one = spark.read.parquet(s"$sfDir/documents.parquet").coalesce(1)
      .select(explode(split(coalesce(col("text"), lit("")), " ")).as("w"))
      .agg(call_function("count_min_sketch",
        col("w"), lit(0.0005), lit(0.99), lit(42)).as("sk"))
      .head().getAs[Array[Byte]]("sk")
    val many = spark.read.parquet(s"$sfDir/documents.parquet").repartition(13)
      .select(explode(split(coalesce(col("text"), lit("")), " ")).as("w"))
      .agg(call_function("count_min_sketch",
        col("w"), lit(0.0005), lit(0.99), lit(42)).as("sk"))
      .head().getAs[Array[Byte]]("sk")
    assert(java.util.Arrays.equals(one, many),
      "sketch bytes differ across layouts")
  }

  test("hourly anomalies: only the varying type emits, and only its spike flags") {
    import spark.implicits._
    val baseMs = java.sql.Timestamp.valueOf("2024-03-01 00:00:00").getTime
    def at(hour: Int, i: Int) =
      new java.sql.Timestamp(baseMs + hour * 3600L * 1000L + i * 1000L)
    // deterministic hourly counts with a spike at hour 27
    def clickCount(h: Int): Int = if (h == 27) 200 else 5 + (h * 7) % 13
    val clicks = for (h <- 0 until 30; i <- 0 until clickCount(h))
      yield (at(h, i), "click")
    // constant-rate type: sigma == 0 -> suppressed
    val views = for (h <- 0 until 30; i <- 0 until 4) yield (at(h, i), "view")
    val rows = graft.streaming.EventStreams
      .hourlyAnomalies((clicks ++ views).toDF("ts", "event_type"))
      .collect()
      .map(r => (r.getAs[String]("event_type"),
        r.getAs[java.sql.Timestamp]("hr"), r.getAs[Long]("is_anomaly")))
    assert(rows.map(_._1).distinct.toSeq == Seq("click"),
      "flat type must be variance-suppressed")
    // hours 24..29 have 24 predecessors; 27 is the spike
    assert(rows.length == 6)
    assert(rows.filter(_._3 == 1L).map(_._2).toSeq == Seq(at(27, 0)),
      "only the spike flags")
  }

  test("q180 transition counts cover every event but each user's last, and normalize per from-type") {
    val events = Tables(spark, sfDir, "events")
    val nPairs = events.count() - events.select(col("user_id")).distinct().count()
    val rows = q("q180_markov_transitions").collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getAs[Long]("n")).sum == nPairs)
    for ((from, rs) <- rows.groupBy(_.getAs[String]("from_type")))
      assert(math.abs(rs.map(_.getAs[Double]("p")).sum - 1.0) <= 0.0005 * rs.length,
        s"p of $from does not sum to 1")
  }
}

/** Indirection so the spec reads like the driver does (SparkEntry is
  * in the parent package). */
private object SparkEntryRef {
  def queries = graft.SparkEntry.queries
}

/** Invariants for the time-grid fill and Pareto-frontier operators
  * beyond what the DuckDB gate proves: grid density/bounds and
  * fill semantics on q162; frontier == brute-force dominance scan
  * (including the equal-point tie rule) on q163. */
class GridAndSkylineSpec extends SparkTestBase {

  private def q(name: String) = SparkEntryRef.queries(name)(spark, sfDir)

  test("the hourly grid is dense and bounded by each user's observed span") {
    val rows = q("q162_time_grid_fill")
      .select(col("user_id"), col("h"), col("n_events"), col("is_observed"))
      .collect()
    val byUser = rows.groupBy(_.getAs[Long]("user_id"))
    assert(byUser.nonEmpty)
    for ((_, rs) <- byUser) {
      val hs = rs.map(_.getAs[java.sql.Timestamp]("h").getTime).sorted
      // dense: consecutive grid hours are exactly 1h apart, ends observed
      assert(hs.zip(hs.tail).forall { case (a, b) => b - a == 3600000L })
      val sorted = rs.sortBy(_.getAs[java.sql.Timestamp]("h").getTime)
      assert(sorted.head.getAs[Long]("is_observed") == 1L)
      assert(sorted.last.getAs[Long]("is_observed") == 1L)
    }
  }

  test("gap hours carry the last observed close forward with true staleness") {
    val rows = q("q162_time_grid_fill").collect()
    val byUser = rows.groupBy(_.getAs[Long]("user_id"))
    var sawGap = false
    for ((_, rs) <- byUser) {
      val sorted = rs.sortBy(_.getAs[java.sql.Timestamp]("h").getTime)
      var lastClose = Option.empty[Double]
      var stale = 0L
      for (r <- sorted) {
        if (r.getAs[Long]("is_observed") == 1L) {
          lastClose = Some(r.getAs[Double]("filled_close"))
          stale = 0L
        } else {
          sawGap = true
          stale += 1L
          assert(r.getAs[Long]("n_events") == 0L)
          assert(Some(r.getAs[Double]("filled_close")) == lastClose,
            "gap hour must carry the previous close")
        }
        assert(r.getAs[Long]("hours_stale") == stale)
      }
    }
    assert(sawGap, "precondition: the corpus has gap hours to fill")
  }

  test("linear interpolation lies on the segment between surrounding closes") {
    val q162r = q("q162_time_grid_fill")
      .select(col("user_id"), col("h"), col("is_observed"),
        col("filled_close")).collect()
      .map(r => (r.getLong(0), r.getAs[java.sql.Timestamp]("h").getTime) ->
        (r.getAs[Long]("is_observed"), r.getAs[Double]("filled_close")))
      .toMap
    val rows = q("q165_linear_interp").collect()
    var checkedGap = false
    val byUser = rows.groupBy(_.getAs[Long]("user_id"))
    for ((_, rs) <- byUser) {
      val sorted = rs.sortBy(_.getAs[java.sql.Timestamp]("h").getTime)
      // walk gaps: value must sit strictly between (or at) the
      // surrounding observed closes and progress monotonically toward
      // the next observation
      var i = 0
      while (i < sorted.length) {
        val r = sorted(i)
        val key = (r.getAs[Long]("user_id"),
          r.getAs[java.sql.Timestamp]("h").getTime)
        val (obs, filled) = q162r(key)
        assert(r.getAs[Long]("is_observed") == obs)
        if (obs == 1L)
          assert(r.getAs[Double]("interp_close") == filled,
            "observed hours pass the close through unchanged")
        else {
          checkedGap = true
          // find surrounding observed values
          val prev = (i - 1 to 0 by -1)
            .find(j => sorted(j).getAs[Long]("is_observed") == 1L).get
          val next = (i + 1 until sorted.length)
            .find(j => sorted(j).getAs[Long]("is_observed") == 1L).get
          val pv = sorted(prev).getAs[Double]("interp_close")
          val nv = sorted(next).getAs[Double]("interp_close")
          val w = (i - prev).toDouble / (next - prev).toDouble
          val want = pv + (nv - pv) * w
          assert(r.getAs[Double]("interp_close") == want,
            s"gap interp at $key: got ${r.getAs[Double]("interp_close")}, want $want")
        }
        i += 1
      }
    }
    assert(checkedGap, "precondition: the corpus has gap hours")
  }

  test("pareto frontier equals the brute-force dominance scan, ties survive") {
    val a = spark.read.parquet(s"$sfDir/orders.parquet")
      .groupBy(col("o_custkey").as("c_custkey"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice").cast("decimal(14,2)"))
          .cast("double"), 4).as("total_spend"))
      .collect()
      .map(r => (r.getAs[Long]("c_custkey"), r.getAs[Long]("n_orders"),
        r.getAs[Double]("total_spend")))
    val want = a.filter { case (_, x, y) =>
      !a.exists { case (_, x2, y2) =>
        (x2 >= x && y2 > y) || (x2 > x && y2 >= y)
      }
    }.map(t => (t._1, t._2, t._3)).toSet
    val got = q("q163_pareto_frontier").collect()
      .map(r => (r.getAs[Long]("c_custkey"), r.getAs[Long]("n_orders"),
        r.getAs[Double]("total_spend"))).toSet
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("equal points on both axes both survive (synthetic tie)") {
    import graft.ops.{GraphOps => _}
    val d = spark.createDataFrame(Seq(
      (1L, 5L, 10.0), (2L, 5L, 10.0),   // tied frontier pair
      (3L, 5L, 9.0),                    // dominated within x
      (4L, 6L, 8.0),                    // frontier (higher x)
      (5L, 4L, 10.0)                    // dominated by 1/2 (same y, lower x)
    )).toDF("id", "x", "y")
    val bmax = d.groupBy(col("x")).agg(max(col("y")).as("my"))
    val hi = bmax.withColumn("hi",
      max(col("my")).over(org.apache.spark.sql.expressions.Window
        .orderBy(col("x").desc)
        .rowsBetween(org.apache.spark.sql.expressions.Window
          .unboundedPreceding, -1)))
    val got = d.join(broadcast(hi), "x")
      .where(col("y") === col("my") &&
        (col("hi").isNull || col("y") > col("hi")))
      .select(col("id")).collect().map(_.getLong(0)).toSet
    assert(got == Set(1L, 2L, 4L))
  }
}
