package graft

import graft.queries.{Analytic, Curation, JsonQueries, LlmQueries, Pipeline, Relational}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The query inventory and its oracle contract — see SURVEY.md §7.
  *
  * The query inventory is one registry of [[QueryDef]]s, assembled from
  * six families:
  *   - [[graft.queries.Relational]] — the relational surface (SURVEY
  *     §2.2): scan/filter/project, joins (broadcast/shuffle/semi/anti/
  *     range), aggregation (hash, distinct, HLL, rollup/cube), window
  *     functions, top-k, set ops, scalar function families;
  *   - [[graft.queries.Analytic]] — exact percentiles, subqueries,
  *     salted skew shapes, graph and event analytics;
  *   - [[graft.queries.JsonQueries]] — the reference's own capability
  *     re-expressed (distributed schema inference, shredding,
  *     infer-then-apply), JSON scalars, event-time windows and the
  *     graftjson table lifecycle;
  *   - [[graft.queries.LlmQueries]] — training-data-pipeline operators
  *     (dedup exact/MinHash/SimHash/Jaccard, similarity search,
  *     text stats, language ID, multimodal metadata);
  *   - [[graft.queries.Curation]] — contamination screens, quantization
  *     audits and sampling;
  *   - [[graft.queries.Pipeline]] — multi-step curation pipelines and
  *     the stored indexes, sketches and CDC stores they maintain.
  */
object SparkEntry {

  /** Flagship query on the sf0.001 testdata; its smoke check wants rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q01_pricing_summary")(spark, "/root/testdata/sf0.001")

  private val coalesceFloorKey =
    "spark.sql.adaptive.coalescePartitions.minPartitionSize"

  /** Checks that no two defs share a name and returns them unchanged.
    * A repeated name fails loudly, naming every repeat: as map keys the
    * later entry would silently replace the earlier one. */
  private[graft] def registry(all: Seq[QueryDef]): Seq[QueryDef] = {
    val repeated = all.groupBy(_.name).filter(_._2.size > 1).keys.toSeq.sorted
    require(repeated.isEmpty, s"repeated query names: ${repeated.mkString(", ")}")
    all
  }

  private lazy val defs: Seq[QueryDef] = registry(
    Relational.defs ++ Analytic.defs ++ JsonQueries.defs ++
      LlmQueries.defs ++ Curation.defs ++ Pipeline.defs)

  /** Every query entry pins its own coalescing floor at build time —
    * dense queries the 64k rescue, everything else the session's
    * starting value (the SparkContext conf's, else Spark's default) —
    * so the choice travels with the queries map into Bench, Verify,
    * the driver, and the test sessions alike (ADVICE r17: the specs
    * used to validate plans under a different floor than the bench
    * ran). Explicit set on BOTH branches: a runtime conf leaks across
    * queries in a shared session, so each entry must state its floor
    * rather than inherit its predecessor's. Results are unaffected by
    * partition layout (repo discipline; the oracle re-proves it).
    *
    * CONTRACT (build-time set, execution-time read): AQE reads the
    * conf when the returned frame EXECUTES, so a caller that builds
    * several entries' frames before executing any runs them all under
    * the last-built floor. Bench/Verify/the driver/the specs all
    * build-then-execute one entry at a time on a session; keep that
    * pattern (or re-invoke the entry) — the floor is a perf knob
    * only, results are floor-independent either way. */
  private def withCoalesceFloor(d: QueryDef)
      : (SparkSession, String) => DataFrame = { (s, dir) =>
    if (d.dense)
      s.conf.set(coalesceFloorKey, "64k")
    else s.sparkContext.getConf.getOption(coalesceFloorKey) match {
      // the session's starting value: a deployment-set floor, else
      // Spark's own default (unset)
      case Some(v) => s.conf.set(coalesceFloorKey, v)
      case None => s.conf.unset(coalesceFloorKey)
    }
    d.build(s, dir)
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    defs.map(d => d.name -> withCoalesceFloor(d)).toMap

  /** The one query-name lookup of the dev harnesses: a full entry name
    * or its unique `qNN` prefix. Fails loudly on zero or several hits. */
  def resolve(want: String): (String, (SparkSession, String) => DataFrame) = {
    val hits = queries.keys
      .filter(k => k == want || k.takeWhile(_ != '_') == want).toSeq
    require(hits.size == 1,
      s"query '$want' matches ${hits.size} entries: ${hits.sorted.mkString(", ")}")
    hits.head -> queries(hits.head)
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables: every query carries one. */
  lazy val oracleSql: Map[String, String] =
    defs.map(d => d.name -> d.oracle).toMap
}
