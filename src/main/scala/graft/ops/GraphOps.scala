package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Iterative graph analytics over edge lists — the GraphX execution
  * shape (edges partitioned ONCE by source and cached; each iteration
  * ships only (dst, contribution) pairs through one keyed shuffle)
  * without the GraphX dependency, and with the repo's determinism
  * discipline: per-iteration contributions are exactly summed, so the
  * rank vector is bit-identical on any partitioning.
  *
  * [[TextOps]] already holds the connected-components loop (q64);
  * this is its weighted-propagation sibling. */
object GraphOps {

  /** Release a superseded localCheckpoint's storage. `Dataset
    * .unpersist` only consults the CacheManager (plans registered via
    * `persist()`), so on a checkpoint-backed frame it frees NOTHING —
    * the blocks live on the underlying RDD. Walking to the LogicalRDD
    * leaf and unpersisting ITS rdd is what actually drops them. Only
    * ever called on frames that are fully superseded: a truncated-
    * lineage RDD cannot be recomputed after this. */
  private def freeCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** The ONE copy of the driver-fast-path gate: persist the (src,
    * dst) projection, materialize it ONCE with a count, and either
    * hand the driver the edge list as two primitive long arrays
    * (Left — cache already released) or hand the distributed path the
    * CACHED projection (Right — caller must unpersist once its own
    * derived caches are live). A limit-probe here would leave
    * partially consumed partitions uncached and re-evaluate the whole
    * edge lineage — joins, shuffles and all — on the distributed path
    * (the nearDupGroups lesson); the price is one extra count job
    * over the cached projection on the fast path. Every spec-pinned
    * path-parity contract in this file flows through here, so
    * probe-discipline fixes apply everywhere at once.
    *
    * DRIVER-HEAP COST (ADVICE r9): the fast path's steady state is
    * 16·n bytes (two long arrays — ~32 MB at the default 2²¹ limit);
    * the transient collect holds specialized (Long, Long) tuples,
    * ~48·n bytes (~100 MB at the default) — a typed collect, not
    * boxed Rows, which cost ~3× more. A caller raising
    * driverPairLimit buys that transient linearly and should size
    * driver memory accordingly; there is no guard beyond
    * Int.MaxValue. */
  private def probeOrCache(edges: DataFrame, driverPairLimit: Long)
      : Either[(Array[Long], Array[Long]), DataFrame] = {
    val e = edges.select(col("src"), col("dst"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val n = e.count()
    if (n <= math.min(driverPairLimit, Int.MaxValue - 2L)) {
      import e.sparkSession.implicits._
      val rows = e.as[(Long, Long)].collect()
      e.unpersist(blocking = false)
      val srcA = new Array[Long](rows.length)
      val dstA = new Array[Long](rows.length)
      var i = 0
      while (i < rows.length) {
        srcA(i) = rows(i)._1; dstA(i) = rows(i)._2; i += 1
      }
      Left((srcA, dstA))
    } else Right(e)
  }

  /** The ONE copy of the 1e-12 micro-unit quantizer (driver side) —
    * the exact sequence of the distributed
    * `round(s * 1e12).cast("long")`. */
  private def microQuantize(x: Double): Long =
    java.math.BigDecimal.valueOf(x * 1e12)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValueExact()

  /** Dense id index for the driver fast paths (r17 optimization —
    * guide §1.2 "per-task work"): the LongMap-per-edge-per-iteration
    * loops spent most of their wall time in hash probing and box/
    * rehash churn (~1–2 s per graph query at 1.2M edges × 5 iters).
    * Mapping ids to dense ints ONCE and iterating over primitive
    * arrays is the same arithmetic in the same order — long sums are
    * exact and associative, argmaxes are integer — so every spec-
    * pinned bit-parity contract is preserved while iterations become
    * straight array passes. */
  private final class DenseIds {
    private val m = new collection.mutable.LongMap[Int]()
    private val idsB = new scala.collection.mutable.ArrayBuffer[Long]()
    def index(id: Long): Int =
      m.getOrElseUpdate(id, { idsB += id; idsB.length - 1 })
    def get(id: Long): Int = m.getOrElse(id, -1)
    def size: Int = idsB.length
    def ids: Array[Long] = idsB.toArray
  }

  /** (src indices, dst indices, index) for a collected edge list —
    * sources registered first, then destinations. */
  private def denseEdges(srcA: Array[Long], dstA: Array[Long])
      : (Array[Int], Array[Int], DenseIds) = {
    val ix = new DenseIds
    val n = srcA.length
    val srcI = new Array[Int](n)
    val dstI = new Array[Int](n)
    var j = 0
    while (j < n) { srcI(j) = ix.index(srcA(j)); j += 1 }
    j = 0
    while (j < n) { dstI(j) = ix.index(dstA(j)); j += 1 }
    (srcI, dstI, ix)
  }

  /** Deterministic PageRank. `edges` carries (src, dst) long columns;
    * CONTRACT: every node appears as a src AND as a dst (symmetrize a
    * one-directional relation — that also removes dangling nodes,
    * whose leaked mass would otherwise need the redistribute-to-all
    * correction, and it is what makes the iteration below total: the
    * contribution aggregate then covers every node, so no per-
    * iteration reconciliation join against a node list is needed).
    *
    * Per iteration: one equi-join of the cached, src-partitioned
    * (src, dst, deg) edge list with the rank vector (edges never
    * re-shuffle — only the narrow rank rows move), then one
    * (dst, contrib) aggregation — contribution = rank/outdeg in
    * double, quantized to 1e-12 micro-units and EXACTLY long-summed
    * (layout-independent),
    * then r' = (1−d)/N + d·Σ in double. Each iteration's rank vector
    * is MATERIALIZED (eager localCheckpoint, previous iteration's
    * blocks freed) — the [[TextOps]] CC-loop convention. Lazy
    * composition is wrong here: the in-loop broadcast build would
    * re-execute the whole prior chain once per iteration (O(iters²)
    * recomputation) and hand the consumer one iters-deep nested plan
    * to codegen; materializing keeps every iteration's plan two
    * shuffles deep and the rank rows are a few longs+doubles per
    * node. (Compute-loop checkpoint, not durable-state staging — a
    * lost executor fails one query job, nothing durable is mid-
    * overwrite, so the StoreTxn.stage discipline does not apply.)
    *
    * At 100 TB the cost is iters × (rank shuffle + contribution
    * shuffle): linear per iteration, no all-pairs anything; hot dst
    * keys (celebrity nodes) are exactly the AQE skew-split case. */
  def pageRank(edges: DataFrame, iters: Int = 8,
               damping: Double = 0.85,
               broadcastNodeLimit: Long = 1000000L,
               driverPairLimit: Long = 1L << 21): DataFrame = {
    val sparkSess = edges.sparkSession
    // DRIVER fast path (the [[probeOrCache]] discipline): the edge
    // lineage materializes ONCE; if the whole list fit, iterate over
    // primitive arrays with the IDENTICAL arithmetic — micro(rank/
    // deg) per edge (memoized per src), exact long sums, base +
    // d·(Σ/1e12) — so the fast path is bit-identical to the
    // distributed one (spec-pinned against the same local reference).
    val eProj = probeOrCache(edges, driverPairLimit)
    eProj.left.foreach { case (srcA, dstA) =>
      if (srcA.isEmpty)
        return sparkSess.emptyDataFrame
          .withColumn("node", lit(0L)).withColumn("rank", lit(0.0))
      import sparkSess.implicits._
      // dense-index arrays (see DenseIds): same quantize/exact-long-
      // sum/divide sequence as the LongMap form it replaces — long
      // sums are associative, so values are bit-identical
      val n = srcA.length
      val (srcI, dstI, ix) = denseEdges(srcA, dstA)
      val m = ix.size
      val deg = new Array[Long](m)
      var j = 0
      while (j < n) { deg(srcI(j)) += 1L; j += 1 }
      var srcCount = 0
      j = 0
      while (j < m) { if (deg(j) > 0L) srcCount += 1; j += 1 }
      val nNodes = srcCount.toDouble
      val base = (1.0 - damping) / nNodes
      var rank = new Array[Double](m)
      var hasRank = new Array[Boolean](m)
      j = 0
      while (j < m) {
        if (deg(j) > 0L) { rank(j) = 1.0 / nNodes; hasRank(j) = true }
        j += 1
      }
      val ms = new Array[Long](m)
      val msDef = new Array[Boolean](m)
      for (_ <- 0 until iters) {
        // OUT-OF-CONTRACT tolerance matching the distributed join: a
        // src whose rank vanished (never appears as dst on a
        // non-symmetrized input) contributes nothing, exactly as the
        // e ⋈ rank equi-join drops its edges — no crash, same output
        j = 0
        while (j < m) {
          msDef(j) = deg(j) > 0L && hasRank(j)
          if (msDef(j)) ms(j) = microQuantize(rank(j) / deg(j).toDouble)
          j += 1
        }
        val sums = new Array[Long](m)
        val hasSum = new Array[Boolean](m)
        j = 0
        while (j < n) {
          val s = srcI(j)
          if (msDef(s)) {
            val d = dstI(j)
            sums(d) += ms(s); hasSum(d) = true
          }
          j += 1
        }
        val next = new Array[Double](m)
        j = 0
        while (j < m) {
          if (hasSum(j)) next(j) = base + damping * (sums(j).toDouble / 1e12)
          j += 1
        }
        rank = next; hasRank = hasSum
      }
      val ids = ix.ids
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Double)]
      j = 0
      while (j < m) { if (hasRank(j)) out += ((ids(j), rank(j))); j += 1 }
      return out.toSeq.toDF("node", "r")
        .select(col("node"), round(col("r"), 6).as("rank"))
    }

    // distributed path: build everything from the CACHED projection
    // (materialized once by the gate), released after the loop
    val eCached = eProj.toOption.get
    // by the symmetry contract every node appears as a src, so outdeg
    // IS the node list — its count replaces a distinct over the edge
    // list, and the deg join broadcasts whenever the rank join would
    val outdeg = eCached.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val n = outdeg.count().toDouble
    val nodes = outdeg.select(col("src").as("node"))
    val base = (1.0 - damping) / n
    // two-path rank-side join (the ANN driverProbeLimit discipline):
    // a bounded node set broadcasts — the cached edges never move and
    // each iteration is a single map+aggregate stage; a larger graph
    // falls back to the shuffle join. The ARITHMETIC is identical on
    // both paths (join strategy never touches values).
    val bcast = n <= broadcastNodeLimit.toDouble
    // src-partitioning only pays on the shuffle-join path (the cached
    // layout then co-locates with every iteration's rank exchange); on
    // the broadcast path the rank side ships whole, so the extra full
    // shuffle of the edge list would buy nothing
    val eJoined = eCached
      .join(if (bcast) broadcast(outdeg) else outdeg, "src")
    val e = (if (bcast) eJoined else eJoined.repartition(col("src")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var ranks = nodes.select(col("node"), lit(1.0 / n).as("rank"))
    for (i <- 0 until iters) {
      val r = ranks.withColumnRenamed("node", "src")
      val next = e
        .join(if (bcast) broadcast(r) else r, "src")
        // micro-unit (1e-12) INTEGER contributions: same 12-decimal
        // HALF_UP quantization as a decimal(_,12) cast, but the sum
        // is a codegen'd long add instead of per-row BigDecimal
        // allocation — the cast was ~40% of each iteration's wall
        // time. Still exactly associative ⇒ layout-independent.
        // Bounds: |c| ≤ 1e12 and Σc ≤ 1e12·mass(=1) ≪ 2^63.
        .select(col("dst").as("node"),
          round((col("rank") / col("deg")) * lit(1e12))
            .cast("long").as("c"))
        .groupBy(col("node"))
        .agg((lit(base) + lit(damping) *
          (sum(col("c")).cast("double") / lit(1e12))).as("rank"))
        // localCheckpoint REQUIRED (iterative fixpoint): without
        // truncation iteration i's plan nests i chained join+agg
        // stages — analysis cost and recompute depth blow up
        // linearly. Executor loss fails the query; job retry re-runs
        // it (pure read path, nothing durable at risk).
        .localCheckpoint(true)
      // checkpoint-backed: route through freeCheckpoint — a plain
      // Dataset.unpersist only consults the CacheManager and would
      // leave every iteration's blocks pinned
      if (i > 0) freeCheckpoint(ranks)
      ranks = next
    }
    // outdeg is folded into the cached e by now (the loop materialized
    // every iteration), so release it; if an evicted e partition ever
    // recomputes, the lineage rebuilds outdeg from edges — correct,
    // just slower. e itself stays cached for the consumer's single
    // action; Verify/Bench unpersist all persistent RDDs between
    // queries, and any caller can unpersist after consuming.
    outdeg.unpersist(blocking = false)
    // the loop materialized e (checkpointed iterations force it), so
    // the gate's projection cache has served its purpose
    eCached.unpersist(blocking = false)
    ranks.select(col("node"), round(col("rank"), 6).as("rank"))
  }

  /** Deterministic synchronous label propagation (Raghavan et al.,
    * "Near linear time algorithm to detect community structures in
    * large-scale networks", 2007) — community detection as the fourth
    * member of the graph family (PageRank here, connected components
    * in [[TextOps]], triangles in q161). Same edge contract as
    * [[pageRank]]: (src, dst) longs, symmetric.
    *
    * Derandomized against the paper's two nondeterminism sources: the
    * update is SYNCHRONOUS (no visit order) and ties break on the
    * SMALLEST label — so the assignment is identical on any cluster
    * layout. Each node votes its own current label once alongside its
    * neighbors' (the hold-back variant), which damps the 2-cycle
    * label oscillation synchronous LPA exhibits on bipartite-ish
    * graphs. Init: label = node id.
    *
    * Per iteration: one keyed join shipping only (node, label) rows
    * onto the cached edge list, one (dst, label) count, one per-node
    * argmax — all linear in edges; labels are materialized eagerly
    * (the CC-loop convention), so the plan never nests across
    * iterations. Hot communities are hot KEYS only in the (dst,
    * label) count, whose partial aggregation absorbs them. */
  /** Multi-source BFS hop distances, frontier style: level i joins
    * ONLY the newly discovered frontier against the cached edge list,
    * anti-joins out already-settled nodes, and settles the rest at
    * distance i — every node is joined exactly once per discovery,
    * never re-expanded (the delta-iteration shape), so total work is
    * O(edges · levels) worst case and typically far less. Frontier
    * and settled sets are materialized per level (the CC-loop
    * convention). Deterministic: BFS level sets are unique regardless
    * of partitioning. Unreachable-within-`maxHops` nodes are absent
    * from the output.
    *
    * The one iterative graph operator here with a FULL SQL oracle: a
    * bounded-depth recursive CTE (UNION-deduped) computes the same
    * min-hop map, so q175 is oracle-checked where pageRank/LPA can
    * only be spec-pinned. */
  def shortestHops(edges: DataFrame, seeds: DataFrame,
                   maxHops: Int = 4,
                   driverPairLimit: Long = 1L << 21): DataFrame = {
    // DRIVER fast path (the [[probeOrCache]] discipline): BFS levels
    // are pure set algebra, the local mirror is exact by construction.
    // The SEED set gates first with its own bounded probe (cheap -
    // distinct+limit): the result is seeds-sized, so an unbounded
    // seed table must stay distributed, and gating seeds before
    // touching the edge lineage means an oversized seed set never
    // pays the edge materialization twice.
    val lim = math.min(driverPairLimit, Int.MaxValue - 2L)
    val seedProbe = seeds.select(col("node")).distinct()
      .limit(lim.toInt + 1).collect()
    val gate: Either[(Array[Long], Array[Long]), DataFrame] =
      if (seedProbe.length <= lim) probeOrCache(edges, driverPairLimit)
      else Right(edges.select(col("src"), col("dst"))
        .persist(StorageLevel.MEMORY_AND_DISK))

    gate match {
      case Left((srcA, dstA)) =>
        val spark = edges.sparkSession
        import spark.implicits._
        // dense-index arrays (see DenseIds): pure set algebra, exact
        // by construction on any representation
        val n = srcA.length
        val (srcI, dstI, ix) = denseEdges(srcA, dstA)
        // seeds may lie outside the edge node set — index them too
        val seedIdx = seedProbe.map(r => ix.index(r.getLong(0)))
        val m = ix.size
        val dist = new Array[Long](m)
        val settled = new Array[Boolean](m)
        val inF = new Array[Boolean](m)
        seedIdx.foreach { i => settled(i) = true; inF(i) = true }
        for (hop <- 1 to maxHops) {
          val nextF = new Array[Boolean](m)
          var j = 0
          while (j < n) {
            if (inF(srcI(j)) && !settled(dstI(j))) nextF(dstI(j)) = true
            j += 1
          }
          var v = 0
          while (v < m) {
            if (nextF(v)) { settled(v) = true; dist(v) = hop.toLong }
            v += 1
          }
          System.arraycopy(nextF, 0, inF, 0, m)
        }
        val ids = ix.ids
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
        var v = 0
        while (v < m) { if (settled(v)) out += ((ids(v), dist(v))); v += 1 }
        out.toSeq.toDF("node", "dist")

      case Right(e) =>
        // localCheckpoint REQUIRED throughout this loop (iterative
        // fixpoint): dist/fresh/grown chain one join + anti-join per
        // hop, so untruncated lineage deepens linearly and the
        // superseded iterations' blocks could never be freed.
        // Executor loss fails the query; retry re-runs it (pure read
        // path).
        var dist = seeds.select(col("node")).distinct()
          .withColumn("dist", lit(0L)).localCheckpoint(true)
        var frontier = dist.select(col("node"))
        for (i <- 1 to maxHops) {
          val nbrs = e.join(frontier.withColumnRenamed("node", "src"), "src")
            .select(col("dst").as("node")).distinct()
          val fresh = nbrs.join(dist, Seq("node"), "left_anti")
            .withColumn("dist", lit(i.toLong)).localCheckpoint(true)
          val grown = dist.unionByName(fresh).localCheckpoint(true)
          // the next frontier reads from GROWN's blocks (not fresh's),
          // so both superseded checkpoints can be dropped immediately
          frontier = grown.where(col("dist") === i).select(col("node"))
          freeCheckpoint(dist)
          freeCheckpoint(fresh)
          dist = grown
        }
        e.unpersist(blocking = false)
        dist
    }
  }

  def labelPropagation(edges: DataFrame, iters: Int = 5,
                       broadcastNodeLimit: Long = 1000000L,
                       driverPairLimit: Long = 1L << 21): DataFrame = {
    // DRIVER fast path (the [[probeOrCache]] discipline) — pure
    // integer semantics (counts + (count desc, label asc) argmax), so
    // the local mirror is exact by construction, not just
    // bit-compatible. An EMPTY Left falls through: the distributed
    // path owns the typed-empty-result shape.
    val gate = probeOrCache(edges, driverPairLimit)
    gate.left.foreach { case (srcA, dstA) =>
      if (srcA.nonEmpty) {
      val spark = edges.sparkSession
      import spark.implicits._
      // dense-index + CSR-by-dst rewrite (see DenseIds): per node,
      // incoming labels gather into one scratch array and sort — a run
      // scan realizes the identical (count desc, label asc) argmax the
      // nested LongMap tally computed, without per-node map churn
      val n = srcA.length
      val (srcI, dstI, ix) = denseEdges(srcA, dstA)
      val m = ix.size
      val ids = ix.ids
      // CSR: for each node, the src indices of its incoming edges
      val indeg = new Array[Int](m)
      var j = 0
      while (j < n) { indeg(dstI(j)) += 1; j += 1 }
      val off = new Array[Int](m + 1)
      j = 0
      while (j < m) { off(j + 1) = off(j) + indeg(j); j += 1 }
      val inSrc = new Array[Int](n)
      val fill = java.util.Arrays.copyOf(off, m)
      j = 0
      while (j < n) {
        val d = dstI(j); inSrc(fill(d)) = srcI(j); fill(d) += 1; j += 1
      }
      var labels = new Array[Long](m)
      var hasLabel = new Array[Boolean](m)
      j = 0
      while (j < n) { // init: every SRC labels itself (the map form)
        val s = srcI(j)
        if (!hasLabel(s)) { labels(s) = ids(s); hasLabel(s) = true }
        j += 1
      }
      var maxIn = 0
      j = 0
      while (j < m) { if (indeg(j) > maxIn) maxIn = indeg(j); j += 1 }
      val scratch = new Array[Long](maxIn + 1)
      for (_ <- 0 until iters) {
        val next = new Array[Long](m)
        val hasNext = new Array[Boolean](m)
        var v = 0
        while (v < m) {
          var k = 0
          var p = off(v)
          val end = off(v + 1)
          while (p < end) {
            val s = inSrc(p)
            if (hasLabel(s)) { scratch(k) = labels(s); k += 1 }
            p += 1
          }
          if (hasLabel(v)) { scratch(k) = labels(v); k += 1 } // self-vote
          if (k > 0) {
            java.util.Arrays.sort(scratch, 0, k)
            var bc = 0L; var bl = 0L
            var i = 0
            while (i < k) {
              var r = i + 1
              while (r < k && scratch(r) == scratch(i)) r += 1
              val c = (r - i).toLong
              if (c > bc) { bc = c; bl = scratch(i) } // asc scan ⇒ min label on ties
              i = r
            }
            next(v) = bl; hasNext(v) = true
          }
          v += 1
        }
        labels = next; hasLabel = hasNext
      }
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      j = 0
      while (j < m) { if (hasLabel(j)) out += ((ids(j), labels(j))); j += 1 }
      return out.toSeq.toDF("node", "label")
      }
    }

    // distributed path: reuse the gate's cached projection when the
    // graph was too big; rebuild (trivially) only on the empty-Left
    // fallthrough
    val e = gate.toOption.getOrElse(
      edges.select(col("src"), col("dst"))
        .persist(StorageLevel.MEMORY_AND_DISK))
    val nodes = e.select(col("src").as("node")).distinct()
    val n = nodes.count()
    if (n == 0) {
      e.unpersist(blocking = false)
      return nodes.select(col("node"), lit(0L).as("label"))
    }
    val bcast = n <= broadcastNodeLimit
    var labels = nodes.select(col("node"), col("node").as("label"))
    for (i <- 0 until iters) {
      val l = labels.withColumnRenamed("node", "src")
      val arriving = e
        .join(if (bcast) broadcast(l) else l, "src")
        .select(col("dst").as("node"), col("label"))
        .unionByName(labels) // the hold-back self-vote
      val next = arriving
        .groupBy(col("node"), col("label"))
        .agg(count(lit(1)).as("c"))
        // argmax by (count desc, label asc): labels are non-negative
        // node ids, so max over (c, −label) realizes the tiebreak
        .groupBy(col("node"))
        .agg(max(struct(col("c"), (-col("label")).as("nl"))).as("m"))
        .select(col("node"), (-col("m.nl")).as("label"))
        // localCheckpoint REQUIRED (iterative fixpoint — the
        // pageRank-loop justification applies verbatim)
        .localCheckpoint(true)
      // free the superseded iteration's checkpointed blocks (the
      // pageRank-loop convention; i=0's labels is an unmaterialized
      // plan, nothing to release)
      if (i > 0) freeCheckpoint(labels)
      labels = next
    }
    e.unpersist(blocking = false)
    labels
  }

  /** Deterministic HITS (Kleinberg, "Authoritative sources in a
    * hyperlinked environment", JACM 1999) over a DIRECTED hub →
    * authority edge list — the query-dependent ranking complement to
    * [[pageRank]]'s global stationary mass: hubs score by the
    * authorities they point AT, authorities by the hubs that point at
    * THEM. Edge multiplicity is respected (a hub citing an authority
    * k times endorses it k times); the graph may be bipartite (ids
    * must then be disjoint across the two sides, as in q193's
    * even/odd encoding).
    *
    * The textbook normalization (divide by an L2 norm each sweep) is
    * engine-hostile: a parallel float sum of squares is
    * order-dependent. Here every sweep quantizes scores to 1e-12
    * micro-units, sums them as EXACT longs (associative ⇒
    * layout-independent, the [[pageRank]] convention), and
    * L1-normalizes by the exact long total — same fixpoint
    * direction, deterministic on any partitioning. Each sweep is one
    * edge⋈score join + one keyed aggregate per side, every iterate
    * materialized (eager localCheckpoint, prior blocks freed), so the
    * plan stays two shuffles deep at any iteration count.
    *
    * At 100 TB: cost is iters × 2 × (score shuffle) — edges are
    * cached src-partitioned and never move on the hub sweep; hot
    * authorities are the AQE skew-split case, never a cross product. */
  def hits(edges: DataFrame, iters: Int = 6,
           broadcastNodeLimit: Long = 1000000L,
           driverPairLimit: Long = 1L << 21): DataFrame = {
    // iters = 0 has no authority side at all — every path would
    // return a different shape (or crash); make the contract explicit
    require(iters > 0, s"hits needs iters > 0, got $iters")
    val spark = edges.sparkSession

    // DRIVER fast path, smallest graphs (the [[probeOrCache]]
    // discipline): the edge lineage materializes ONCE; if everything
    // fit (~32 MB of longs at the default limit), the probe IS the
    // edge list: iterate the fixpoint over primitive arrays on the
    // driver - the same micro-quantize / exact-long-sum /
    // double-divide sequence as the distributed sweeps, so all paths
    // are bit-identical (spec-pinned).
    val gated = probeOrCache(edges, driverPairLimit)
    if (gated.left.exists(_._1.isEmpty))
      return spark.emptyDataFrame
        .withColumn("kind", lit("hub"))
        .withColumn("id", lit(0L))
        .withColumn("score", lit(0.0))

    gated.left.foreach { case (srcA, dstA) =>
      import spark.implicits._
      // dense-index arrays (see DenseIds): quantize once per NODE
      // (BigDecimal — the same microQuantize), per-edge loop is pure
      // long-array arithmetic; exact long sums are associative, so
      // scores are bit-identical to the LongMap form this replaces
      val n = srcA.length
      val (srcI, dstI, ix) = denseEdges(srcA, dstA)
      val m = ix.size
      final case class Scores(v: Array[Double], has: Array[Boolean])
      def sweepDriver(scores: Scores, fwd: Boolean): Scores = {
        val ms = new Array[Long](m)
        var i = 0
        while (i < m) {
          if (scores.has(i)) ms(i) = microQuantize(scores.v(i))
          i += 1
        }
        val raw = new Array[Long](m)
        val hasRaw = new Array[Boolean](m)
        var j = 0
        while (j < n) {
          val k = if (fwd) srcI(j) else dstI(j)
          val o = if (fwd) dstI(j) else srcI(j)
          raw(o) += ms(k); hasRaw(o) = true
          j += 1
        }
        var t = 0L
        i = 0
        while (i < m) { if (hasRaw(i)) t += raw(i); i += 1 }
        val out = new Array[Double](m)
        i = 0
        while (i < m) {
          if (hasRaw(i)) out(i) = raw(i).toDouble / t.toDouble
          i += 1
        }
        Scores(out, hasRaw)
      }
      val isSrc = new Array[Boolean](m)
      var j = 0
      var nSrc = 0
      while (j < n) {
        if (!isSrc(srcI(j))) { isSrc(srcI(j)) = true; nSrc += 1 }
        j += 1
      }
      val h0 = new Array[Double](m)
      j = 0
      while (j < m) { if (isSrc(j)) h0(j) = 1.0 / nSrc; j += 1 }
      var h = Scores(h0, isSrc)
      var a = Scores(new Array[Double](m), new Array[Boolean](m))
      for (_ <- 0 until iters) {
        a = sweepDriver(h, fwd = true)
        h = sweepDriver(a, fwd = false)
      }
      val ids = ix.ids
      val out = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Double)]
      j = 0
      while (j < m) { if (h.has(j)) out += (("hub", ids(j), h.v(j))); j += 1 }
      j = 0
      while (j < m) {
        if (a.has(j)) out += (("authority", ids(j), a.v(j))); j += 1
      }
      return out.toSeq.toDF("kind", "id", "s")
        .select(col("kind"), col("id"), round(col("s"), 6).as("score"))
    }

    // DISTRIBUTED paths: multiplicity pre-aggregated ONCE - k
    // parallel edges endorse kx, and wt*micro(s) == sum_k micro(s)
    // exactly (long arithmetic), so the collapse is bit-invisible;
    // the sweeps then move (src, dst, wt) pairs. Two-path score-side
    // join (the pageRank discipline): bounded node sets broadcast -
    // the cached pair list never moves; larger graphs fall back to
    // shuffle joins against DIRECTION-ALIGNED cached copies, so only
    // the narrow score rows move per sweep. Arithmetic is identical
    // on every path.
    val eCached = gated.toOption.get
    val w = eCached.groupBy(col("src"), col("dst"))
      .agg(count(lit(1)).as("wt"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val wCount = w.count()
    // w is materialized — the gate's raw projection can go
    eCached.unpersist(blocking = false)
    // OVERFLOW guard on the exact-long L1 total: unlike pageRank
    // (contribution = rank/deg, Σc ≤ 1e12·mass), a HITS sweep sums
    // wt·micro(s) with no degree division, so t ≤ maxOutWeight·1e12 —
    // a single hub with ≳9.2e6 out-weight would wrap the long total
    // silently and poison every score. Fail loudly with the remedy
    // instead; the check is one aggregate over the cached pair list.
    val maxOut = w.groupBy(col("src")).agg(sum(col("wt")).as("ow"))
      .agg(max(col("ow"))).head().getLong(0)
    require(maxOut < Long.MaxValue / 1000000000000L,
      s"hits: max hub out-weight $maxOut would overflow the 1e-12 " +
        "micro-unit L1 total (bound ~9.2e6); split or pre-aggregate " +
        "the hub's endorsements before ranking")
    var nHShuffle = -1L
    val bcast = wCount <= broadcastNodeLimit || {
      val nn = w.agg(countDistinct(col("src")).as("nh"),
        countDistinct(col("dst")).as("na")).head()
      nHShuffle = nn.getLong(0)
      math.max(nn.getLong(0), nn.getLong(1)) <= broadcastNodeLimit
    }

    if (bcast) {
      // DRIVER-RESIDENT score vector: a bounded node set is exactly
      // what broadcast() would collect to the driver anyway, so hold
      // it there between sweeps — each sweep is then ONE distributed
      // job (pair-list join + keyed exact-long aggregate + bounded
      // collect), no per-sweep checkpoint, no normalizer round-trip.
      // Same arithmetic as the shuffle path: micro-quantize, exact
      // long sums (the distributed agg), exact long total (driver),
      // c/t as double-of-longs division.
      import spark.implicits._
      def sweepLocal(scores: Seq[(Long, Double)], joinKey: String,
                     outKey: String): Seq[(Long, Double)] = {
        val sdf = scores.toDF("id", "s").withColumnRenamed("id", joinKey)
        val raw = w.join(broadcast(sdf), joinKey)
          .select(col(outKey).as("id"),
            (col("wt") * round(col("s") * lit(1e12)).cast("long")).as("c"))
          .groupBy(col("id")).agg(sum(col("c")).as("c"))
          .collect()
        var t = 0L
        raw.foreach(r => t += r.getLong(1))
        raw.map(r => r.getLong(0) -> r.getLong(1).toDouble / t.toDouble)
          .toSeq
      }
      val srcs = w.select(col("src")).distinct()
        .collect().map(_.getLong(0))
      var h: Seq[(Long, Double)] = srcs.map(_ -> 1.0 / srcs.length).toSeq
      var a: Seq[(Long, Double)] = Seq.empty
      for (_ <- 0 until iters) {
        a = sweepLocal(h, "src", "dst")
        h = sweepLocal(a, "dst", "src")
      }
      return (h.map { case (id, s) => ("hub", id, s) } ++
        a.map { case (id, s) => ("authority", id, s) })
        .toDF("kind", "id", "s")
        .select(col("kind"), col("id"), round(col("s"), 6).as("score"))
    }

    // shuffle path: direction-aligned cached copies so only the
    // narrow score rows move per sweep
    val wSrc = w.repartition(col("src")).persist(StorageLevel.MEMORY_AND_DISK)
    val wDst = w.repartition(col("dst")).persist(StorageLevel.MEMORY_AND_DISK)

    // one sweep: raw = Σ_in wt·micro(s), checkpointed BEFORE the
    // total so the L1 normalizer is a trivial re-aggregate of ≤ nodes
    // checkpointed rows (never a second evaluation of the join), and
    // the normalized view is a lazy projection the next sweep folds in
    def sweep(scores: DataFrame, joinKey: String, outKey: String,
              pairs: DataFrame): DataFrame = {
      val keyed = scores.withColumnRenamed("id", joinKey)
      val raw = pairs.join(keyed, joinKey)
        .select(col(outKey).as("id"),
          (col("wt") * round(col("s") * lit(1e12)).cast("long")).as("c"))
        .groupBy(col("id")).agg(sum(col("c")).as("c"))
        // localCheckpoint REQUIRED (iterative fixpoint): each sweep
        // feeds the next; see the pageRank-loop justification
        .localCheckpoint(true)
      val tot = raw.agg(sum(col("c")).as("t"))
      raw.crossJoin(broadcast(tot))
        .select(col("id"), (col("c") / col("t")).as("s"))
    }

    if (nHShuffle < 0)
      nHShuffle = w.select(col("src")).distinct().count()
    var h = w.select(col("src").as("id")).distinct()
      // checkpointed so freeCheckpoint (the loop's block-release
      // protocol) applies uniformly to every iterate incl. h₀
      .select(col("id"), lit(1.0 / nHShuffle).as("s")).localCheckpoint(true)
    var a: DataFrame = null
    for (_ <- 0 until iters) {
      val aNext = sweep(h, "src", "dst", wSrc)
      if (a != null) freeCheckpoint(a)
      a = aNext
      val hNext = sweep(a, "dst", "src", wDst)
      freeCheckpoint(h)
      h = hNext
    }
    // direction-aligned copies carry the loop on the shuffle path;
    // with h/a eagerly checkpointed above, nothing depends on them
    // (or on the base pair list) any more — release all three
    // (recompute, if a consumer ever forced one, = edges scan)
    w.unpersist(blocking = false)
    wSrc.unpersist(blocking = false)
    wDst.unpersist(blocking = false)
    h.select(lit("hub").as("kind"), col("id"), round(col("s"), 6).as("score"))
      .unionAll(a.select(lit("authority").as("kind"), col("id"),
        round(col("s"), 6).as("score")))
  }
}
