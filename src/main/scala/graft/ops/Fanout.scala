package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** Scale-adaptive parallelism floor for CPU-heavy per-row stages
  * (optimization guide §2.5 "input skew" / §2.2).
  *
  * The driver's testdata ships every table as ONE parquet row group, so
  * a scan is one split and everything fused above it — shingling,
  * explode-based tokenization, MinHash lanes, image decode — runs on a
  * single core no matter how many the session has. At 100 TB the same
  * scan has thousands of splits and needs nothing. This helper is that
  * dichotomy made explicit: when the physical scan already carries at
  * least the session's default parallelism it is a NO-OP (zero plan
  * change, zero shuffle — the production path); only when the input
  * fans out narrower than the core count does it insert one round-robin
  * repartition of the (projected, pre-explosion) rows, so the heavy
  * per-row stage above runs on every core.
  *
  * Call it on the NARROW scan-level projection that feeds the expensive
  * work — after column pruning, before the explode/expression — so the
  * one shuffle it may insert moves only the bytes the stage actually
  * needs (guide §2.3 "project before the exchange"). Round-robin (not
  * keyed): perfectly balanced, deterministic under retry (Spark's
  * sort-before-repartition), no key skew of its own.
  *
  * Results are unaffected: every aggregation downstream of a fanned-out
  * stage in this repo is either exact integer/decimal arithmetic or a
  * pinned-order fold (the cross-engine double rule), so partition
  * layout cannot change any query's output. */
object Fanout {

  /** `df` repartitioned to the session's default parallelism when its
    * file scan currently produces fewer splits; `df` itself (zero plan
    * change) otherwise. The probe walks the planned (never executed)
    * physical tree and asks the scan node for its split count — plan
    * cost only, no codegen compile, no job. Frames without a v1 file
    * scan leaf (DSv2 sources, pure in-memory frames) return unchanged:
    * this helper is for the parquet-table entry points. Batch frames
    * only: a streaming frame fails the plan probe loudly. */
  def apply(df: DataFrame): DataFrame = {
    // Memory-bounded target (r18 — VERDICT r17 #1a, guide §5): the
    // stages this helper fans out are explode + partial hash
    // aggregation, whose per-task state must fit its share of the
    // unified execution memory (~0.6×heap across all concurrent
    // tasks). r17 validated the full-parallelism target at ~8
    // effective cores; at a real 32 the same 8 GB heap leaves each of
    // 32 concurrent aggregate tasks ~⅛ the memory and the driver
    // measured q178 at 4.6s vs 0.8s (spill + GC, §5). Cap the fan-out
    // at one heavy task per 512 MB of heap — 16 on the 8 GB bench
    // JVM, measured indistinguishable from 32 on an uncontended host
    // and immune to the memory cliff. The tasks run in the driver JVM
    // only in local mode; on a cluster the heap is the executor's
    // (`spark.executor.memory`, Spark's 1g default). At production
    // scale executor heaps are sized to their cores (guide §9), the
    // cap is ≥ the core count, and the multi-split no-op path
    // short-circuits first anyway — this bounds only the local rescue.
    val sc = df.sparkSession.sparkContext
    val heap =
      if (sc.isLocal) Runtime.getRuntime.maxMemory
      else sc.getConf.getSizeAsBytes("spark.executor.memory", "1g")
    val maxByMem = math.max(2, (heap / (512L << 20)).toInt)
    val target = math.min(sc.defaultParallelism, maxByMem)
    val plan = df.queryExecution.executedPlan match {
      // the AQE wrapper's children are built lazily by EXECUTING query
      // stages — probe its initial plan instead (identical scan leaves)
      case a: AdaptiveSparkPlanExec => a.inputPlan
      case p => p
    }
    val splits = plan.collectLeaves().collect {
      case f: FileSourceScanExec => f.inputRDD.getNumPartitions
    }
    // EXACTLY one file-scan leaf (ADVICE r17): every call site is a
    // single-table projection, and the min over several leaves would
    // let a future narrow broadcast-side dim scan force a round-robin
    // of a whole fact-dim join — a multi-scan frame is out of this
    // helper's contract and passes through untouched.
    if (splits.length != 1 || splits.head >= target) df
    else df.repartition(target)
  }
}
