package graft.queries

import graft.QueryDef
import graft.ops.{InvertedIndex, Sharding, Sketches, TextOps, VectorOps}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-6 pipeline operators: n-gram decontamination, deterministic
  * shard export, context-window packing, and the quality-filter
  * funnel. Same determinism conventions as [[LlmQueries]] (bigint
  * counts, total ORDER BY with unique tiebreaks, raw-ratio flags). */
object Pipeline {

  /** N-gram decontamination: train docs (outside src0) sharing any
    * word 5-gram with the held-out src0 slice — the substring-level
    * sibling of the whole-document fingerprint check q70. Runs with
    * the df-32 stop-gram cap (boilerplate grams shared by more than 32
    * train docs are skipped); the oracle models the cap, so the gate
    * stays exact at every SF even if a gram ever crosses it. */
  private def q96(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    TextOps.ngramContamination(
      docs.where(col("source") =!= "src0"),
      docs.where(col("source") === "src0"),
      maxTrainDf = Some(32))
      .orderBy(col("doc_id"))
  }

  private val q96Sql =
    """WITH w AS (SELECT doc_id, source,
      |    string_split(coalesce(text, ''), ' ') AS ws FROM documents),
      |g AS (SELECT DISTINCT doc_id, source,
      |        array_to_string(ws[i : i + 4], ' ') AS g
      |      FROM w, unnest(range(1, greatest(len(ws) - 4, 0) + 1)) AS t(i)),
      |e AS (SELECT DISTINCT g FROM g WHERE source = 'src0'),
      |hot AS (SELECT g.g FROM g JOIN e USING (g) WHERE g.source <> 'src0'
      |        GROUP BY g.g HAVING count(*) > 32),
      |e2 AS (SELECT g FROM e WHERE g NOT IN (SELECT g FROM hot))
      |SELECT g.doc_id, count(*) AS n_shared_grams, min(g.g) AS first_gram
      |FROM g JOIN e2 USING (g) WHERE g.source <> 'src0'
      |GROUP BY g.doc_id ORDER BY g.doc_id""".stripMargin

  /** Deterministic shard export round-trip: write 8 shards, read the
    * partitioned sink back, audit per-shard counts — the oracle
    * recomputes the same Lehmer shard function from the raw table, so
    * a green row proves rows landed in exactly the right shard dirs
    * and none were lost or duplicated by the write. */
  private def q97(s: SparkSession, dir: String): DataFrame = {
    val out = graft.TempRoots.path(
      s"shards_${Integer.toHexString(dir.hashCode)}")
    Sharding.writeShards(Tables(s, dir, "documents"), out, 8,
      maxRecordsPerFile = 10000L)
    s.read.parquet(out)
      .groupBy(col("shard").cast("bigint").as("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(split(coalesce(col("text"), lit("")), " ")).cast("bigint"))
          .as("n_words"),
        min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
      .orderBy(col("shard"))
  }

  private val q97Sql =
    """WITH s AS (SELECT *,
      |    CAST(((doc_id * 48271) % 2147483647) % 8 AS BIGINT) AS shard
      |  FROM documents)
      |SELECT shard, count(*) AS n_docs,
      |  CAST(sum(len(string_split(coalesce(text, ''), ' '))) AS BIGINT)
      |    AS n_words,
      |  min(doc_id) AS min_doc, max(doc_id) AS max_doc
      |FROM s GROUP BY shard ORDER BY shard""".stripMargin

  /** Context-window packing audit: per (source, window) doc and word
    * counts for the concatenation-packed token stream. */
  private def q98(s: SparkSession, dir: String): DataFrame =
    TextOps.contextPacking(Tables(s, dir, "documents"))
      .orderBy(col("source"), col("window_id"))

  private val q98Sql =
    """WITH d AS (SELECT source, doc_id,
      |    CAST(len(string_split(coalesce(text, ''), ' ')) AS BIGINT) AS nw
      |  FROM documents),
      |o AS (SELECT *, CAST(sum(nw) OVER (PARTITION BY source ORDER BY doc_id
      |        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS e FROM d),
      |x AS (SELECT source, doc_id, nw, e - nw AS s, e FROM o),
      |win AS (SELECT source, doc_id, s, e,
      |    unnest(range(s // 256, (e - 1) // 256 + 1)) AS window_id FROM x)
      |SELECT source, window_id, count(*) AS n_docs,
      |  CAST(sum(least(e, (window_id + 1) * 256)
      |         - greatest(s, window_id * 256)) AS BIGINT) AS n_words
      |FROM win GROUP BY source, window_id
      |ORDER BY source, window_id""".stripMargin

  /** Quality-filter funnel: per-source rejection counts per rule. */
  private def q99(s: SparkSession, dir: String): DataFrame =
    TextOps.filterFunnel(Tables(s, dir, "documents"))
      .orderBy(col("source"))

  private val q99Sql =
    """WITH f AS (SELECT source,
      |    len(string_split(text, ' ')) AS nw,
      |    len(list_filter(string_split(text, ' '),
      |        w -> w IN ('the','a','of','and','in','to','is')))::DOUBLE
      |      / len(string_split(text, ' ')) AS stop_ratio,
      |    length(replace(text, ' ', ''))::DOUBLE
      |      / len(string_split(text, ' ')) AS mwl,
      |    1.0 - len(list_distinct(string_split(text, ' ')))::DOUBLE
      |      / len(string_split(text, ' ')) AS dup_ratio
      |  FROM documents)
      |SELECT source, count(*) AS n_docs,
      |  CAST(sum(CASE WHEN nw < 8 THEN 1 ELSE 0 END) AS BIGINT) AS n_short,
      |  CAST(sum(CASE WHEN stop_ratio < 0.02 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_low_stopword,
      |  CAST(sum(CASE WHEN NOT (mwl BETWEEN 2.0 AND 12.0) THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_bad_wordlen,
      |  CAST(sum(CASE WHEN dup_ratio > 0.5 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_repetitive,
      |  CAST(sum(CASE WHEN nw >= 8 AND stop_ratio >= 0.02
      |      AND mwl BETWEEN 2.0 AND 12.0 AND dup_ratio <= 0.5
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_survivors
      |FROM f GROUP BY source ORDER BY source""".stripMargin

  /** Embedding near-dup with LEARNED blocking cells (IVF coarse
    * quantizer + multi-assignment) — the production form of q62's
    * label blocking. Oracled since r14 over the planted-neighbors
    * fixture: the cells come from k-means, which no SQL oracle can
    * recompute, but a planted near-duplicate lands in its center's
    * cell (multi-assignment covers the boundary cases), so the
    * operator must REPORT most planted (member, family) pairs — the
    * capture floor boolean over the DuckDB-pinnable planted count.
    * Exhaustive == brute force stays pinned in VectorOpsSpec. */
  private def q100(s: SparkSession, dir: String): DataFrame = {
    val (corpus, _) = graft.queries.LlmQueries.plantedAnn(s, dir)
    val pairs = VectorOps.embeddingNearDupIvf(corpus, 0.9, nCells = 16)
    import graft.queries.LlmQueries.familyOf
    // a planted member is captured when it appears in ANY reported
    // pair with its center or a family sibling
    val captured = pairs.select(
        when(familyOf(col("vec_a")) === col("vec_b") ||
          familyOf(col("vec_a")) === familyOf(col("vec_b")),
          col("vec_a")).as("m1"),
        when(familyOf(col("vec_b")) === col("vec_a") ||
          familyOf(col("vec_a")) === familyOf(col("vec_b")),
          col("vec_b")).as("m2"))
      .select(explode(array(col("m1"), col("m2"))).as("member"))
      .where(col("member").isNotNull && col("member") >= 10000000L)
      .agg(countDistinct(col("member")).as("n_captured"))
    corpus.where(col("vec_id") >= 10000000L)
      .agg(count(lit(1)).as("n_planted"))
      .crossJoin(captured)
      .select(col("n_planted"),
        (col("n_captured").cast("double") /
          greatest(col("n_planted"), lit(1L)) >= 0.7).as("capture_ok"))
  }

  private val q100Sql =
    """SELECT CAST(count(*) * 10 AS BIGINT) AS n_planted, TRUE AS capture_ok
      |FROM embeddings WHERE vec_id % 50 = 0 AND vec_id < 2500""".stripMargin

  /** Batch twin of the streaming per-window schema inference
    * ([[graft.streaming.EventStreams.schemaOverTime]]): hourly
    * windows over events, each folding its props docs through the
    * schema-merge lattice. The oracle CAN check this one (unlike the
    * corpus-wide q46): the props stream is flat single-key JSON, so
    * the expected flat rendering derives from the windowed value
    * range by the same numeric-class rules `pickType` applies. */
  private def q101(s: SparkSession, dir: String): DataFrame =
    // the STREAM transform itself (withWatermark is a documented no-op
    // on batch data), so twin and stream cannot silently diverge
    graft.streaming.EventStreams.schemaOverTime(Tables(s, dir, "events"))
      .orderBy(col("window_start"))

  private val q101Sql =
    """WITH e AS (SELECT
      |    CAST(to_timestamp(floor(epoch(ts) / 3600) * 3600) AS TIMESTAMP)
      |      AS window_start,
      |    CAST(json_extract_string(props, '$.k') AS BIGINT) AS v
      |  FROM events)
      |SELECT window_start, count(*) AS n_events,
      |  'root.k: ' || (CASE WHEN max(v) <= 127 THEN 'tinyint'
      |                      WHEN max(v) <= 32767 THEN 'smallint'
      |                      WHEN max(v) <= 2147483647 THEN 'int'
      |                      ELSE 'bigint' END) || chr(10) AS schema_flat
      |FROM e GROUP BY window_start ORDER BY window_start""".stripMargin

  /** End-to-end curation capstone — the composed pipeline a training
    * run actually executes: exact dedup (keep min-id per token-set
    * fingerprint) → quality gate (qualityScore's quality_ok) →
    * decontamination (drop non-src0 docs whose fingerprint collides
    * with the src0 eval slice) → per-source yield audit. Exercises
    * operator COMPOSITION under one oracle: each stage is a
    * semi/anti join against a keyed or broadcast side, so the corpus
    * is never shuffled except on its own keys — the staged shape a
    * 100 TB curation run ships. */
  private def q102(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    val survivors = TextOps.dedupedDocs(docs)
    // the quality gate is a pure row predicate — a semi-join against a
    // qualityScore projection would replant the whole dedup subtree on
    // the build side and double the corpus scans
    val kept = survivors.where(TextOps.qualityOk)
    // decontamination as ONE broadcast left join + row filter (src0
    // rows pass unconditionally, train rows pass iff no eval-fp hit)
    // rather than union(src0-slice, anti-join(train-slice)): the union
    // form duplicates the whole dedup+quality subtree per branch, so
    // documents would be scanned twice as often. (A 100 TB run
    // additionally persists each stage's output between stages; the
    // oracle checks the composed semantics.)
    val evalFps = docs.where(col("source") === "src0")
      .select(TextOps.tokenSetFingerprint(col("text")).as("fp")).distinct()
      .withColumn("eval_hit", lit(true))
    kept
      .withColumn("fp", TextOps.tokenSetFingerprint(col("text")))
      .join(broadcast(evalFps), Seq("fp"), "left")
      .where(col("source") === "src0" || col("eval_hit").isNull)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(split(col("text"), " ")).cast("bigint")).as("n_words"))
      .orderBy(col("source"))
  }

  private val q102Sql =
    """WITH f AS (SELECT doc_id, source, text,
      |    md5(array_to_string(list_sort(list_distinct(
      |      string_split(coalesce(text, ''), ' '))), ' ')) AS fp
      |  FROM documents),
      |ded AS (SELECT * FROM f WHERE doc_id IN (
      |    SELECT min(doc_id) FROM f GROUP BY fp)),
      |q AS (SELECT * FROM ded WHERE
      |    len(string_split(text, ' ')) >= 8
      |    AND len(list_filter(string_split(text, ' '),
      |        w -> w IN ('the','a','of','and','in','to','is')))::DOUBLE
      |      / len(string_split(text, ' ')) >= 0.02
      |    AND length(replace(text, ' ', ''))::DOUBLE
      |      / len(string_split(text, ' ')) BETWEEN 2.0 AND 12.0),
      |clean AS (SELECT * FROM q WHERE source = 'src0'
      |    OR fp NOT IN (SELECT fp FROM f WHERE source = 'src0'))
      |SELECT source, count(*) AS n_docs,
      |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_words
      |FROM clean GROUP BY source ORDER BY source""".stripMargin

  /** Dedup with a quality-aware survivor policy (argmax score per
    * fingerprint group, vs q57's min-id policy). */
  private def q103(s: SparkSession, dir: String): DataFrame =
    TextOps.dedupBestQuality(Tables(s, dir, "documents"))
      .select(col("doc_id"), col("lang"), col("source"), col("quality_score"))
      .orderBy(col("doc_id"))

  private val q103Sql =
    """WITH t AS (SELECT doc_id, lang, source,
      |    md5(array_to_string(list_sort(list_distinct(
      |      string_split(coalesce(text, ''), ' '))), ' ')) AS fp,
      |    len(list_filter(string_split(text, ' '),
      |        x -> list_contains(['the','a','of','and','in','to','is'], x)))::DOUBLE
      |      / len(string_split(text, ' ')) AS stop_ratio,
      |    length(replace(text, ' ', ''))::DOUBLE
      |      / len(string_split(text, ' ')) AS mean_word_len
      |  FROM documents),
      |s AS (SELECT doc_id, lang, source, fp,
      |    round(least(stop_ratio * 5.0, 1.0) * 0.6 +
      |      CASE WHEN mean_word_len BETWEEN 2.0 AND 12.0
      |           THEN 0.4 ELSE 0.0 END, 4) AS quality_score FROM t),
      |r AS (SELECT *, row_number() OVER (PARTITION BY fp
      |        ORDER BY quality_score DESC, doc_id) AS rn FROM s)
      |SELECT doc_id, lang, source, quality_score
      |FROM r WHERE rn = 1 ORDER BY doc_id""".stripMargin

  /** Incremental dedup: the src1 slice arrives as the NEW batch and is
    * flagged against the rest of the corpus — exact fingerprint hits
    * plus prefix-filter near-dups with exact Jaccard verification
    * (batch ⋈ corpus keyed joins; no corpus self-join anywhere). The
    * oracle brute-forces batch × corpus in DuckDB — sound because the
    * prefix filter is 100%-recall and the verify is exact. */
  private def q104(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    TextOps.incrementalDedup(
      docs.where(col("source") === "src1"),
      docs.where(col("source") =!= "src1"), 0.9)
      .orderBy(col("doc_id"))
  }

  private val q104Sql =
    """WITH w AS (SELECT doc_id, source,
      |    list_distinct(string_split(text, ' ')) AS ws FROM documents),
      |b AS (SELECT doc_id, ws FROM w WHERE source = 'src1'),
      |c AS (SELECT doc_id, ws FROM w WHERE source <> 'src1'),
      |p AS (SELECT b.doc_id,
      |    round(len(list_intersect(c.ws, b.ws))::DOUBLE /
      |          len(list_distinct(list_concat(c.ws, b.ws))), 4) AS jac
      |  FROM b JOIN c ON len(list_intersect(c.ws, b.ws))::DOUBLE /
      |          len(list_distinct(list_concat(c.ws, b.ws))) >= 0.9),
      |n AS (SELECT doc_id, count(*) AS n_near, max(jac) AS max_jac
      |      FROM p GROUP BY doc_id),
      |f AS (SELECT doc_id, source,
      |    md5(array_to_string(list_sort(list_distinct(
      |      string_split(coalesce(text, ''), ' '))), ' ')) AS fp
      |  FROM documents),
      |cf AS (SELECT DISTINCT fp FROM f WHERE source <> 'src1'),
      |bf AS (SELECT doc_id, fp FROM f WHERE source = 'src1')
      |SELECT bf.doc_id,
      |  CAST(CASE WHEN cf.fp IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
      |    AS is_exact_dup,
      |  CAST(coalesce(n.n_near, 0) AS BIGINT) AS n_near,
      |  CAST(n.max_jac AS DOUBLE) AS max_jac
      |FROM bf LEFT JOIN cf ON bf.fp = cf.fp
      |LEFT JOIN n ON bf.doc_id = n.doc_id
      |ORDER BY bf.doc_id""".stripMargin

  /** Corpus data card: one ROLLUP aggregation over one corpus scan. */
  private def q105(s: SparkSession, dir: String): DataFrame =
    TextOps.dataCard(Tables(s, dir, "documents"))
      .orderBy(col("source"), col("lang"))

  private val q105Sql =
    """WITH d AS (SELECT source, lang,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS nw,
      |    CASE WHEN len(string_split(text, ' ')) >= 8
      |      AND len(list_filter(string_split(text, ' '),
      |          w -> w IN ('the','a','of','and','in','to','is')))::DOUBLE
      |        / len(string_split(text, ' ')) >= 0.02
      |      AND length(replace(text, ' ', ''))::DOUBLE
      |        / len(string_split(text, ' ')) BETWEEN 2.0 AND 12.0
      |      THEN 1 ELSE 0 END AS ok,
      |    md5(array_to_string(list_sort(list_distinct(
      |      string_split(coalesce(text, ''), ' '))), ' ')) AS fp,
      |    CAST(round(round(least(len(list_filter(string_split(text, ' '),
      |          w -> w IN ('the','a','of','and','in','to','is')))::DOUBLE
      |          / len(string_split(text, ' ')) * 5.0, 1.0) * 0.6 +
      |        CASE WHEN length(replace(text, ' ', ''))::DOUBLE
      |            / len(string_split(text, ' ')) BETWEEN 2.0 AND 12.0
      |          THEN 0.4 ELSE 0.0 END, 4) * 10000, 0) AS BIGINT) AS qs
      |  FROM (SELECT source, lang, coalesce(text, '') AS text
      |        FROM documents))
      |SELECT coalesce(source, 'ALL') AS source,
      |  coalesce(lang, 'ALL') AS lang,
      |  count(*) AS n_docs,
      |  CAST(sum(nw) AS BIGINT) AS n_words,
      |  CAST(sum(ok) AS BIGINT) AS n_quality_ok,
      |  CAST(count(*) - count(DISTINCT fp) AS BIGINT) AS n_exact_dups,
      |  CAST((2 * sum(qs) + count(*)) // (2 * count(*)) AS DOUBLE) / 10000.0
      |    AS avg_quality
      |FROM d GROUP BY ROLLUP(source, lang)
      |ORDER BY coalesce(source, 'ALL'), coalesce(lang, 'ALL')""".stripMargin

  /** Cluster-balanced diversity sample over embeddings. ORACLED since
    * r14 (invariant envelope, the q142 pattern): the sampled ids live
    * on k-means cells no SQL can recompute, but the sample's DEFINING
    * law is checkable in-query — against the full cell assignment
    * (the same deterministic quantizer, quota-unbounded), every cell
    * must contribute EXACTLY min(quota, population) rows with dense
    * ranks 1..n. DuckDB pins the corpus count and the law as TRUE; a
    * skipped cell, a blown quota, or a non-deterministic rank flips a
    * column. Layout independence stays pinned in VectorOpsSpec. */
  private def q106(s: SparkSession, dir: String): DataFrame = {
    val e = Tables(s, dir, "embeddings")
    val samp = VectorOps.diversitySample(e, 8, nCells = 16)
    // full corpus assignment under the same deterministic quantizer:
    // the audit's ground truth (no ranking window — populations only)
    val pop = VectorOps.cellAssignments(e, nCells = 16)
      .groupBy(col("cell")).agg(count(lit(1)).as("n_pop"))
    val perCell = samp.groupBy(col("cell"))
      .agg(count(lit(1)).as("n_samp"), max(col("sample_rank")).as("max_rank"))
    val lawHolds = pop.join(perCell, Seq("cell"), "left")
      .select(when(coalesce(col("n_samp"), lit(0L)) ===
          least(lit(8L), col("n_pop")) &&
          coalesce(col("max_rank"), lit(0L)) ===
          coalesce(col("n_samp"), lit(0L)), 1L).otherwise(0L).as("ok"))
      .agg(coalesce(min(col("ok")), lit(0L)).as("mn"))
    e.agg(count(lit(1)).cast("bigint").as("n_corpus"))
      .crossJoin(lawHolds)
      // an empty corpus satisfies the law vacuously (the oracle's
      // unconditional TRUE) — never conflate it with a violation
      .select(col("n_corpus"),
        (col("mn") === 1L || col("n_corpus") === 0L).as("quota_law_ok"))
  }

  private val q106Sql =
    """SELECT count(*) AS n_corpus, TRUE AS quota_law_ok
      |FROM embeddings""".stripMargin

  /** Token-budget mixture draw: per-source budgets from a formulaic
    * three-tier weighting (1000/2000/3000 words by source index mod 3)
    * so the oracle recomputes them from the source name alone. */
  private def q107(s: SparkSession, dir: String): DataFrame =
    TextOps.mixtureSample(Tables(s, dir, "documents"),
      lit(1000L) * (lit(1L) + pmod(substring(col("source"), 4, 10).cast("bigint"), lit(3L))))
      .orderBy(col("doc_id"))

  private val q107Sql =
    """WITH d AS (SELECT doc_id, source,
      |    CAST(len(string_split(coalesce(text, ''), ' ')) AS BIGINT) AS n_words
      |  FROM documents),
      |o AS (SELECT *, sum(n_words) OVER (PARTITION BY source
      |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
      |    ROWS UNBOUNDED PRECEDING) AS cum_words FROM d)
      |SELECT doc_id, source, n_words, CAST(cum_words AS BIGINT) AS cum_words
      |FROM o
      |WHERE cum_words <= 1000 * (1 + CAST(substr(source, 4) AS BIGINT) % 3)
      |ORDER BY doc_id""".stripMargin

  /** Schema-evolution-tolerant scan: the corpus is re-written as two
    * parquet EPOCHS — epoch 1 under the original schema, epoch 2 with
    * a quality_ok column added later — and read back through ONE
    * merged-footer scan (`mergeSchema` + partition discovery), legacy
    * rows surfacing NULL for the post-evolution column. The
    * storage-layer twin of the q101 streaming schema drift: a 100 TB
    * lake accretes schema revisions over years and the engine must
    * scan across them without a rewrite. The oracle recomputes the
    * merged result from the raw table (epoch membership is doc_id
    * parity), so a green row proves the merge semantics, not just the
    * plumbing. */
  private def q109(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    // session-scoped root: concurrent sessions cannot race a shared
    // stable path, and repeated calls overwrite one pair of epoch dirs
    // instead of stranding a fresh corpus copy per invocation
    val out = graft.TempRoots.path(
      s"evo_${Integer.toHexString(dir.hashCode)}")
    docs.where(col("doc_id") % 2 === 0)
      .select(col("doc_id"), col("source"), col("n_chars"))
      .write.mode("overwrite").parquet(s"$out/epoch=1")
    docs.where(col("doc_id") % 2 =!= 0)
      .select(col("doc_id"), col("source"), col("n_chars"),
        // coalesce: a NULL-text doc has NULL qualityOk (3-valued
        // logic); the oracle's CASE gives it 0, and n_legacy must
        // count only epoch-1 rows, never unscorable epoch-2 rows
        coalesce(TextOps.qualityOk, lit(false)).as("quality_ok"))
      .write.mode("overwrite").parquet(s"$out/epoch=2")
    s.read.option("mergeSchema", "true").parquet(out)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars").cast("bigint")).as("sum_chars"),
        sum(when(col("quality_ok"), 1L).otherwise(0L)).as("n_quality_ok"),
        sum(when(col("quality_ok").isNull, 1L).otherwise(0L)).as("n_legacy"))
      .orderBy(col("source"))
  }

  private val q109Sql =
    """WITH m AS (SELECT source, n_chars,
      |    CASE WHEN doc_id % 2 = 0 THEN NULL
      |      WHEN len(string_split(text, ' ')) >= 8
      |        AND len(list_filter(string_split(text, ' '),
      |            w -> w IN ('the','a','of','and','in','to','is')))::DOUBLE
      |          / len(string_split(text, ' ')) >= 0.02
      |        AND length(replace(text, ' ', ''))::DOUBLE
      |          / len(string_split(text, ' ')) BETWEEN 2.0 AND 12.0
      |      THEN 1 ELSE 0 END AS q
      |  FROM documents)
      |SELECT source, count(*) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
      |  CAST(sum(CASE WHEN q = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_quality_ok,
      |  CAST(sum(CASE WHEN q IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_legacy
      |FROM m GROUP BY source ORDER BY source""".stripMargin

  /** Adaptive quality calibration audit: per-source drop/keep counts
    * and the realized cutoff (lowest kept score). */
  private def q110(s: SparkSession, dir: String): DataFrame = {
    val gated = TextOps.adaptiveQualityGate(Tables(s, dir, "documents"))
    gated.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(!col("kept"), 1L).otherwise(0L)).as("n_dropped"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        min(when(col("kept"), col("q"))).as("cutoff_score"))
      .orderBy(col("source"))
  }

  private val q110Sql =
    """WITH s AS (SELECT doc_id, source,
      |    coalesce(round(least(len(list_filter(string_split(text, ' '),
      |          w -> w IN ('the','a','of','and','in','to','is')))::DOUBLE
      |          / len(string_split(text, ' ')) * 5.0, 1.0) * 0.6 +
      |        CASE WHEN length(replace(text, ' ', ''))::DOUBLE
      |            / len(string_split(text, ' ')) BETWEEN 2.0 AND 12.0
      |          THEN 0.4 ELSE 0.0 END, 4), -1.0) AS q
      |  FROM documents),
      |r AS (SELECT *,
      |    row_number() OVER (PARTITION BY source ORDER BY q, doc_id) AS rn,
      |    count(*) OVER (PARTITION BY source) AS n FROM s)
      |SELECT source, count(*) AS n_docs,
      |  CAST(sum(CASE WHEN rn <= n // 4 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_dropped,
      |  CAST(sum(CASE WHEN rn > n // 4 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_kept,
      |  CAST(min(CASE WHEN rn > n // 4 THEN q END) AS DOUBLE) AS cutoff_score
      |FROM r GROUP BY source ORDER BY source""".stripMargin

  /** Boilerplate span removal: strip every word 8-gram shared by ≥ 2
    * documents, audit per doc (the remove-action of q94's measure). */
  private def q111(s: SparkSession, dir: String): DataFrame =
    TextOps.stripBoilerplate(Tables(s, dir, "documents"))
      .orderBy(col("doc_id"))

  private val q111Sql =
    """WITH b AS (SELECT doc_id, string_split(text, ' ') AS ws,
      |    len(string_split(text, ' ')) AS nw FROM documents),
      |pw AS (SELECT doc_id, i - 1 AS pos, ws[i] AS word
      |  FROM b, unnest(range(1, nw + 1)) AS t(i)),
      |g AS (SELECT doc_id, i - 1 AS pos,
      |    array_to_string(ws[i : i + 7], ' ') AS gram
      |  FROM b, unnest(range(1, nw - 8 + 2)) AS t(i) WHERE nw >= 8),
      |hot AS (SELECT gram FROM g GROUP BY gram
      |  HAVING count(DISTINCT doc_id) >= 2),
      |cov AS (SELECT DISTINCT g.doc_id, p.pos
      |  FROM g JOIN hot USING (gram), unnest(range(g.pos, g.pos + 8)) AS p(pos)),
      |kept AS (SELECT pw.* FROM pw LEFT JOIN cov
      |    ON pw.doc_id = cov.doc_id AND pw.pos = cov.pos
      |  WHERE cov.pos IS NULL),
      |reb AS (SELECT doc_id, count(*) AS n_kept,
      |    string_agg(word, ' ' ORDER BY pos) AS cleaned
      |  FROM kept GROUP BY doc_id)
      |SELECT b.doc_id, CAST(nw AS BIGINT) AS n_words,
      |  CAST(nw - coalesce(n_kept, 0) AS BIGINT) AS n_removed,
      |  md5(coalesce(cleaned, '')) AS cleaned_fp
      |FROM b LEFT JOIN reb USING (doc_id) ORDER BY b.doc_id""".stripMargin

  /** Incremental embedding index: build the IVF index once over the
    * corpus slice (vec_id % 4 != 0), persist centroids + cell-coded
    * vectors to parquet, then flag the NEW batch (vec_id % 4 == 0)
    * against the STORED index — no retrain, no corpus re-encode,
    * batch ⋈ corpus joins only. The vector twin of q104's nightly
    * ingest shape. FULLY ORACLED since r14 the q206/q211 way: the
    * query probes exhaustively (nAssign == nCells ⇒ every (batch,
    * corpus) pair is examined exactly once — recall 1, spec-pinned),
    * and reported cosines are exact, so the flagged pairs must
    * hash-match DuckDB's brute-force batch × corpus threshold join; a
    * vector lost by the index write or mis-assigned by the stored
    * quantizer flips a row. The pruned-probe (nAssign=4) recall floor
    * stays pinned in IvfIndexSpec and oracled over the planted
    * fixture as q100. */
  private def q112(s: SparkSession, dir: String): DataFrame = {
    val e = Tables(s, dir, "embeddings")
    val idx = graft.TempRoots.path("ivf_index_q112")
    // explicit nCells: pins the r8 cell count so driver rows stay
    // stable under the auto-√n default
    VectorOps.buildIvfIndex(e.where(col("vec_id") % 4 =!= 0), idx, nCells = 16)
    VectorOps.incrementalNearDupIvf(s, idx,
        e.where(col("vec_id") % 4 === 0), 0.4, nAssign = 16)
      .orderBy(col("batch_id"), col("corpus_id"))
  }

  private val q112Sql =
    """WITH c AS (SELECT vec_id AS corpus_id, embedding::DOUBLE[] AS cv
      |  FROM embeddings WHERE vec_id % 4 <> 0),
      |b AS (SELECT vec_id AS batch_id, embedding::DOUBLE[] AS bv
      |  FROM embeddings WHERE vec_id % 4 = 0)
      |SELECT batch_id, corpus_id,
      |  round(list_cosine_similarity(bv, cv), 4) AS cos
      |FROM b CROSS JOIN c
      |WHERE list_cosine_similarity(bv, cv) >= 0.4
      |ORDER BY batch_id, corpus_id""".stripMargin

  /** Near-dup suppression ([[graft.ops.TextOps.nearDupSuppress]]): per
    * doc, how many of its MinHash LSH bands were already claimed by an
    * earlier doc, and whether it survives the all-bands-new gate. Oracled
    * since r14 over the planted-document fixture: band keys stay
    * MinHash-derived (not SQL-recomputable), but a planted
    * 4-char-truncated copy shares its base's band keys with high
    * probability and carries the LATER id, so the suppression gate
    * must drop most planted mutants — the floor boolean — while the
    * doc count is exact conservation DuckDB computes independently. */
  private def q113(s: SparkSession, dir: String): DataFrame = {
    val sup = TextOps.nearDupSuppress(
      graft.queries.LlmQueries.plantedDocs(s, dir)
        .where(col("text").isNotNull))
    sup.agg(count(lit(1)).as("n_docs"),
        sum(when(col("doc_id") >= 10000000L && col("is_kept") === 0L, 1L)
          .otherwise(0L)).as("n_planted_suppressed"),
        sum(when(col("doc_id") >= 10000000L, 1L).otherwise(0L))
          .as("n_planted"))
      .select(col("n_docs").cast("bigint").as("n_docs"),
        col("n_planted").cast("bigint").as("n_planted"),
        (col("n_planted_suppressed").cast("double") /
          greatest(col("n_planted"), lit(1L)) >= 0.7)
          .as("suppressed_ok"))
  }

  private val q113Sql =
    """SELECT CAST((SELECT count(*) FROM documents WHERE text IS NOT NULL)
      |     + (SELECT count(*) FROM documents
      |        WHERE doc_id % 50 = 0 AND length(text) >= 200) AS BIGINT)
      |    AS n_docs,
      |  CAST((SELECT count(*) FROM documents
      |        WHERE doc_id % 50 = 0 AND length(text) >= 200) AS BIGINT)
      |    AS n_planted,
      |  TRUE AS suppressed_ok""".stripMargin

  /** Per-doc curation lineage: the FIRST stage of the q102 pipeline
    * that drops each document (dedup → quality → contamination, in
    * q102's stage order), or 'kept'. One scan + one fingerprint
    * window + the same broadcast eval-fingerprint join q102 uses — a
    * case expression over the existing stage predicates, no
    * per-stage subtree duplication. The audit a curation run ships
    * alongside its funnel totals: q102 says HOW MANY survived, this
    * says WHY each casualty fell. Fully SQL-expressible → full
    * oracle; PipelineOpsSpec reconciles its per-source 'kept' totals
    * with q102's n_docs. */
  private def q114(s: SparkSession, dir: String): DataFrame =
    // the one copy of the stage logic: state projection + verdict
    // (q119 reuses both incrementally over a snapshot diff)
    TextOps.curationVerdict(
        TextOps.curationState(Tables(s, dir, "documents")))
      .select(col("doc_id"), col("source"), col("first_drop_stage"))
      .orderBy(col("doc_id"))

  private val q114Sql =
    """WITH f AS (SELECT doc_id, source, text,
      |    md5(array_to_string(list_sort(list_distinct(
      |      string_split(coalesce(text, ''), ' '))), ' ')) AS fp
      |  FROM documents),
      |k AS (SELECT doc_id, source, text, fp,
      |    min(doc_id) OVER (PARTITION BY fp) AS keep_id FROM f),
      |e AS (SELECT DISTINCT fp FROM f WHERE source = 'src0')
      |SELECT doc_id, source,
      |  CASE WHEN doc_id <> keep_id THEN 'dedup'
      |       WHEN NOT coalesce(len(string_split(text, ' ')) >= 8
      |         AND len(list_filter(string_split(text, ' '),
      |             w -> w IN ('the','a','of','and','in','to','is')))::DOUBLE
      |           / len(string_split(text, ' ')) >= 0.02
      |         AND length(replace(text, ' ', ''))::DOUBLE
      |           / len(string_split(text, ' ')) BETWEEN 2.0 AND 12.0, FALSE)
      |         THEN 'quality'
      |       WHEN source <> 'src0' AND fp IN (SELECT fp FROM e)
      |         THEN 'contamination'
      |       ELSE 'kept' END AS first_drop_stage
      |FROM k ORDER BY doc_id""".stripMargin

  /** Full index lifecycle (q112's serving-side completion): build the
    * IVF index on the corpus slice, APPEND a nightly batch under the
    * stored quantizer (dynamic overwrite of only the touched cell
    * partitions — write cost ∝ batch, not index), then answer a
    * cosine top-k query batch against the grown index with no
    * training step at all. FULLY ORACLED since r14 the q206/q211 way:
    * exhaustive probing (nProbe == nCells ⇒ recall 1) with exact
    * cosines means the served top-k must hash-match DuckDB's
    * brute-force cosine top-k over built ∪ appended — a row lost or
    * duplicated by the append, or served from a stale cell partition,
    * flips the hash. The pruned-probe serving economics stay pinned
    * in IvfIndexSpec and oracled over the planted fixture as q63. */
  private def q116(s: SparkSession, dir: String): DataFrame = {
    val e = Tables(s, dir, "embeddings")
    val idx = graft.TempRoots.path("ivf_index_q116")
    VectorOps.buildIvfIndex(e.where(col("vec_id") % 4 =!= 0), idx, nCells = 16)
    VectorOps.appendToIvfIndex(s, idx,
      e.where(col("vec_id") % 8 === 0))
    VectorOps.storedIndexTopK(s, idx,
        e.where(col("vec_id") % 8 === 4), k = 3, nProbe = 16)
      .orderBy(col("query_id"), col("rank"))
  }

  private val q116Sql =
    """WITH ns AS (SELECT vec_id, embedding::DOUBLE[] AS v
      |  FROM embeddings WHERE vec_id % 4 <> 0 OR vec_id % 8 = 0),
      |q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
      |  FROM embeddings WHERE vec_id % 8 = 4),
      |sc AS (SELECT query_id, ns.vec_id,
      |    round(list_cosine_similarity(qv, v), 4) AS cos
      |  FROM q CROSS JOIN ns),
      |r AS (SELECT query_id, vec_id, cos,
      |    CAST(row_number() OVER (PARTITION BY query_id
      |      ORDER BY cos DESC, vec_id) AS INT) AS rank
      |  FROM sc)
      |SELECT query_id, vec_id, cos, rank FROM r
      |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin

  /** Corpus snapshot diff: the 'old crawl' drops every doc_id % 5 == 4
    * and the 'new crawl' drops % 7 == 6 and rewrites the text of
    * % 11 == 0 — so all four statuses occur and the oracle recomputes
    * the same derivation arithmetically. One co-partitioned full outer
    * join on doc_id; fully SQL-expressible. */
  private def q117(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    val oldSnap = docs.where(col("doc_id") % 5 =!= 4)
    val newSnap = docs.where(col("doc_id") % 7 =!= 6)
      .withColumn("text",
        when(col("doc_id") % 11 === 0,
          concat(coalesce(col("text"), lit("")), lit(" updated")))
          .otherwise(col("text")))
    TextOps.snapshotDiff(oldSnap, newSnap).orderBy(col("doc_id"))
  }

  private val q117Sql =
    """WITH o AS (SELECT doc_id,
      |    md5(regexp_replace(lower(coalesce(text, '')), '[^a-z0-9 ]', '', 'g')) AS fp
      |  FROM documents WHERE doc_id % 5 <> 4),
      |n AS (SELECT doc_id,
      |    md5(regexp_replace(lower(coalesce(
      |      CASE WHEN doc_id % 11 = 0 THEN coalesce(text, '') || ' updated'
      |           ELSE text END, '')), '[^a-z0-9 ]', '', 'g')) AS fp
      |  FROM documents WHERE doc_id % 7 <> 6)
      |SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
      |  CASE WHEN o.fp IS NULL THEN 'added'
      |       WHEN n.fp IS NULL THEN 'removed'
      |       WHEN o.fp <> n.fp THEN 'changed'
      |       ELSE 'unchanged' END AS status
      |FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
      |ORDER BY doc_id""".stripMargin

  /** Deterministic train/val/test split (~5%/~5%/~90% via md5 hex
    * thresholds on doc_id): layout-independent, growth-stable (a doc
    * never changes split), externally reproducible — fully oracled. */
  private def q118(s: SparkSession, dir: String): DataFrame =
    TextOps.trainValTestSplit(Tables(s, dir, "documents"))
      .orderBy(col("doc_id"))

  private val q118Sql =
    """SELECT doc_id, source,
      |  CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '0d'
      |         THEN 'val'
      |       WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '1a'
      |         THEN 'test'
      |       ELSE 'train' END AS split
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Incremental curation over the q117 snapshot diff — q112's
    * never-reprocess-the-corpus shape for the TEXT pipeline: the old
    * snapshot's per-doc curation state carries forward for unchanged
    * docs, only added/changed docs re-run the text-wide expressions,
    * and the corpus-level verdict re-issues over the stitched state.
    * Fully SQL-expressible: the oracle recomputes the verdict FROM
    * SCRATCH on the new snapshot, so a green row proves the
    * incremental path loses nothing. Same snapshot slices as q117. */
  private def q119(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    val oldSnap = docs.where(col("doc_id") % 5 =!= 4)
    val newSnap = docs.where(col("doc_id") % 7 =!= 6)
      .withColumn("text",
        when(col("doc_id") % 11 === 0,
          concat(coalesce(col("text"), lit("")), lit(" updated")))
          .otherwise(col("text")))
    val oldState = TextOps.curationState(oldSnap)
    val diff = TextOps.snapshotDiff(oldSnap, newSnap)
    TextOps.incrementalCuration(oldState, newSnap, diff)
      .orderBy(col("doc_id"))
  }

  private val q119Sql =
    """WITH o AS (SELECT doc_id,
      |    md5(regexp_replace(lower(coalesce(text, '')), '[^a-z0-9 ]', '', 'g')) AS fp
      |  FROM documents WHERE doc_id % 5 <> 4),
      |n0 AS (SELECT doc_id, source,
      |    CASE WHEN doc_id % 11 = 0 THEN coalesce(text, '') || ' updated'
      |         ELSE text END AS text
      |  FROM documents WHERE doc_id % 7 <> 6),
      |n AS (SELECT doc_id, source, text,
      |    md5(regexp_replace(lower(coalesce(text, '')), '[^a-z0-9 ]', '', 'g')) AS cfp
      |  FROM n0),
      |st AS (SELECT n.doc_id,
      |    CASE WHEN o.fp IS NULL THEN 'added'
      |         WHEN o.fp <> n.cfp THEN 'changed'
      |         ELSE 'unchanged' END AS status
      |  FROM n LEFT JOIN o ON o.doc_id = n.doc_id),
      |f AS (SELECT doc_id, source, text,
      |    md5(array_to_string(list_sort(list_distinct(
      |      string_split(coalesce(text, ''), ' '))), ' ')) AS fp
      |  FROM n),
      |k AS (SELECT doc_id, source, text, fp,
      |    min(doc_id) OVER (PARTITION BY fp) AS keep_id FROM f),
      |e AS (SELECT DISTINCT fp FROM f WHERE source = 'src0')
      |SELECT k.doc_id, k.source, st.status,
      |  CASE WHEN k.doc_id <> k.keep_id THEN 'dedup'
      |       WHEN NOT coalesce(len(string_split(k.text, ' ')) >= 8
      |         AND len(list_filter(string_split(k.text, ' '),
      |             w -> w IN ('the','a','of','and','in','to','is')))::DOUBLE
      |           / len(string_split(k.text, ' ')) >= 0.02
      |         AND length(replace(k.text, ' ', ''))::DOUBLE
      |           / len(string_split(k.text, ' ')) BETWEEN 2.0 AND 12.0, FALSE)
      |         THEN 'quality'
      |       WHEN k.source <> 'src0' AND k.fp IN (SELECT fp FROM e)
      |         THEN 'contamination'
      |       ELSE 'kept' END AS first_drop_stage
      |FROM k JOIN st ON k.doc_id = st.doc_id ORDER BY k.doc_id""".stripMargin

  /** Stored-index drift audit (the rebuild trigger q116's lifecycle
    * was missing): build on the corpus slice, append a synthetically
    * DRIFTED nightly batch (+0.5 on every dimension), then read the
    * per-cell built-vs-appended mean distance-to-centroid off the
    * stored index alone. ORACLED since r14 (invariant envelope, the
    * q142 pattern): per-cell means live on k-means cells no SQL can
    * recompute, but the audit's POPULATIONS are exact (every built and
    * every appended row must appear in the store exactly once — DuckDB
    * recomputes both counts from the slice predicates) and its VERDICT
    * on a +0.5-per-dimension synthetic drift is determined (every
    * mixed cell's ratio > 1): a row lost by the append, double-counted
    * by the scan, or a broken distance kernel flips a column. Per-cell
    * detail stays in IvfIndexSpec (ratio>1 drifted, null metrics on
    * built-only cells). */
  private def q120(s: SparkSession, dir: String): DataFrame = {
    val e = Tables(s, dir, "embeddings")
    val idx = graft.TempRoots.path("ivf_index_q120")
    VectorOps.buildIvfIndex(e.where(col("vec_id") % 4 =!= 0), idx, nCells = 16)
    VectorOps.appendToIvfIndex(s, idx,
      e.where(col("vec_id") % 4 === 0).select(col("vec_id"),
        transform(col("embedding"), x => x + lit(0.5f)).as("embedding")))
    driftVerdict(VectorOps.indexDrift(s, idx))
  }

  /** Collapse an [[graft.ops.VectorOps.indexDrift]] report to its
    * oracle-checkable envelope: exact store populations + the
    * drift-detected verdict (ratio > 1 in EVERY cell holding both
    * generations — the synthetic drift is gross by construction). */
  private def driftVerdict(report: DataFrame): DataFrame =
    report.agg(
      sum(col("n_built")).cast("bigint").as("n_built"),
      sum(col("n_appended")).cast("bigint").as("n_appended"),
      coalesce(min(when(col("drift_ratio").isNotNull,
          when(col("drift_ratio") > 1.0, 1L).otherwise(0L))),
        lit(0L)).as("mn"))
      .select(col("n_built"), col("n_appended"),
        (col("mn") === 1L).as("drift_detected"))

  private val driftVerdictSql =
    """SELECT (SELECT count(*) FROM embeddings WHERE vec_id % 4 <> 0)
      |    AS n_built,
      |  (SELECT count(*) FROM embeddings WHERE vec_id % 4 = 0)
      |    AS n_appended,
      |  TRUE AS drift_detected""".stripMargin

  /** q120's audit on the CODES-ONLY layout — the store you'd actually
    * run at 100 TB for footprint: build an IVF+PQ index on the corpus
    * slice, append the same synthetically drifted batch, and read the
    * per-cell built-vs-appended report computed entirely from stored
    * codes + codebooks + coarse centroids (PQ-reconstruction distance
    * — no raw vector is ever touched). ORACLED since r14 via the q120
    * [[driftVerdict]] envelope: exact populations (DuckDB recomputes
    * the slice counts) + the determined drift verdict; per-cell
    * ratio>1 drifted / ≈1 in-distribution stays in IvfIndexSpec. */
  private def q203(s: SparkSession, dir: String): DataFrame = {
    val e = Tables(s, dir, "embeddings")
    val idx = graft.TempRoots.path(
      s"ivfpq_index_q203_${Integer.toHexString(dir.hashCode)}")
    // build-once guard (the q173/q204/q206 serving-store convention):
    // the lifecycle is deterministic, so a repeat call audits the
    // SAME store instead of paying the build+append again
    if (!graft.ops.Fs.exists(s, s"$idx/centroids")) {
      VectorOps.buildIvfPqIndex(e.where(col("vec_id") % 4 =!= 0), idx,
        nCells = 16)
      VectorOps.appendToIvfPqIndex(s, idx,
        e.where(col("vec_id") % 4 === 0).select(col("vec_id"),
          transform(col("embedding"), x => x + lit(0.5f)).as("embedding")))
    }
    driftVerdict(VectorOps.indexDrift(s, idx))
  }

  /** Diff-driven ANN-index maintenance
    * ([[graft.ops.VectorOps.maintainIvfIndex]]) — q204's vector twin:
    * the [[graft.ops.VectorOps.vectorSnapshotDiff]] between an old
    * and a new embedding snapshot drives delete (removed ∪ changed) +
    * append (added ∪ changed), so the index follows the corpus
    * touching only diff-sized inputs. FULLY ORACLED despite the
    * k-means cells: the query probes exhaustively (nProbe == nCells ⇒
    * recall 1, spec-pinned) and reported cosines are exact, so top-k
    * over the maintained index must hash-match DuckDB's brute-force
    * cosine top-k over the new snapshot — any resurrected, lost or
    * stale vector flips a row. Queries are the vec_ids the new
    * snapshot dropped (disjoint from the corpus by construction);
    * changed vectors perturb in DOUBLE on both engines (a float-side
    * add would diverge bitwise). */
  private def q206(s: SparkSession, dir: String): DataFrame = {
    val e = Tables(s, dir, "embeddings")
    val idx = graft.TempRoots.path(
      s"diffivf_${Integer.toHexString(dir.hashCode)}")
    val newSnap = e.where(col("vec_id") % 7 =!= 6)
      .select(col("vec_id"),
        when(col("vec_id") % 11 === 0,
          transform(col("embedding").cast("array<double>"), x => x + lit(0.25d)))
          .otherwise(col("embedding").cast("array<double>")).as("embedding"))
    if (!graft.ops.Fs.exists(s, s"$idx/centroids")) {
      val oldSnap = e.where(col("vec_id") % 5 =!= 4)
      VectorOps.buildIvfIndex(oldSnap, idx, nCells = 16)
      val diff = VectorOps.vectorSnapshotDiff(oldSnap, newSnap)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      VectorOps.maintainIvfIndex(s, idx, newSnap, diff)
      diff.unpersist(blocking = false)
    }
    VectorOps.storedIndexTopK(s, idx,
        e.where(col("vec_id") % 7 === 6), k = 3, nProbe = 16)
      .orderBy(col("query_id"), col("rank"))
  }

  private val q206Sql =
    """WITH ns AS (SELECT vec_id,
      |    CASE WHEN vec_id % 11 = 0
      |         THEN list_transform(embedding::DOUBLE[], x -> x + 0.25)
      |         ELSE embedding::DOUBLE[] END AS v
      |  FROM embeddings WHERE vec_id % 7 <> 6),
      |q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
      |  FROM embeddings WHERE vec_id % 7 = 6),
      |sc AS (SELECT query_id, ns.vec_id,
      |    round(list_cosine_similarity(qv, v), 4) AS cos
      |  FROM q CROSS JOIN ns),
      |r AS (SELECT query_id, vec_id, cos,
      |    CAST(row_number() OVER (PARTITION BY query_id
      |      ORDER BY cos DESC, vec_id) AS INT) AS rank
      |  FROM sc)
      |SELECT query_id, vec_id, cos, rank FROM r
      |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin

  /** IVF cell-file compaction end to end
    * ([[graft.ops.VectorOps.compactCells]], the vector-store twin of
    * q173's inverted-index compaction): build over 3/4 of the
    * embeddings, grow the index with three deliberately fragmenting
    * appends (each batch pre-split across 8 tasks, so every touched
    * cell accumulates several small files — the shape a nightly
    * streaming ingest leaves), compact every cell to a single file,
    * then serve exhaustive-probe top-k. FULLY ORACLED the q206 way:
    * nProbe == nCells ⇒ recall 1 and exact cosines, so the result
    * must hash-match DuckDB's brute-force cosine top-k over ALL
    * embeddings — a row lost, duplicated or altered by the compaction
    * rewrite flips the hash. File-count / mtime / marker pins live in
    * IvfIndexSpec. */
  private def q211(s: SparkSession, dir: String): DataFrame = {
    val e = Tables(s, dir, "embeddings")
    val idx = graft.TempRoots.path(
      s"compactivf_${Integer.toHexString(dir.hashCode)}")
    if (!graft.ops.Fs.exists(s, s"$idx/centroids")) {
      VectorOps.buildIvfIndex(e.where(col("vec_id") % 4 =!= 0), idx,
        nCells = 16)
      for (r <- 0 to 2)
        VectorOps.appendToIvfIndex(s, idx,
          e.where(col("vec_id") % 4 === 0 && col("vec_id") % 3 === r)
            .repartition(8))
      VectorOps.compactCells(s, idx)
    }
    VectorOps.storedIndexTopK(s, idx,
        e.where(col("vec_id") % 31 === 1), k = 3, nProbe = 16)
      .orderBy(col("query_id"), col("rank"))
  }

  private val q211Sql =
    """WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
      |  FROM embeddings WHERE vec_id % 31 = 1),
      |sc AS (SELECT query_id, c.vec_id,
      |    round(list_cosine_similarity(qv, v), 4) AS cos
      |  FROM q CROSS JOIN c WHERE c.vec_id <> query_id),
      |r AS (SELECT query_id, vec_id, cos,
      |    CAST(row_number() OVER (PARTITION BY query_id
      |      ORDER BY cos DESC, vec_id) AS INT) AS rank
      |  FROM sc)
      |SELECT query_id, vec_id, cos, rank FROM r
      |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin

  /** Full-replacement maintenance ([[VectorOps.maintainIvfIndex]]'s
    * rebuild fallback, ADVICE r10): the index is built over the even
    * vec_ids, then the WHOLE corpus re-embeds (x → 0.9·x + 0.05, in
    * DOUBLE on both engines) and the odd ids arrive as adds — the
    * snapshot diff marks every stored vector dead, the case the
    * delete's refuse-to-empty guard rejects mid-maintenance.
    * maintainIvfIndex detects it and rebuilds over the new snapshot
    * instead of throwing. FULLY ORACLED: exhaustive probe of the
    * maintained store must hash-match DuckDB brute force over the
    * re-embedded corpus — a stale (pre-transform) vector surviving
    * anywhere flips its cosine. */
  private def q213(s: SparkSession, dir: String): DataFrame = {
    val e = Tables(s, dir, "embeddings")
    val idx = graft.TempRoots.path(
      s"fullupsert_${Integer.toHexString(dir.hashCode)}")
    val newSnap = e.select(col("vec_id"),
      transform(col("embedding").cast("array<double>"),
        x => x * lit(0.9d) + lit(0.05d)).as("embedding"))
    if (!graft.ops.Fs.exists(s, s"$idx/centroids")) {
      val oldSnap = e.where(col("vec_id") % 2 === 0)
      VectorOps.buildIvfIndex(oldSnap, idx, nCells = 16)
      val diff = VectorOps.vectorSnapshotDiff(oldSnap, newSnap)
      VectorOps.maintainIvfIndex(s, idx, newSnap, diff)
    }
    VectorOps.storedIndexTopK(s, idx,
        newSnap.where(col("vec_id") % 53 === 3), k = 3, nProbe = 16)
      .orderBy(col("query_id"), col("rank"))
  }

  private val q213Sql =
    """WITH ns AS (SELECT vec_id,
      |    list_transform(embedding::DOUBLE[], x -> x * 0.9 + 0.05) AS v
      |  FROM embeddings),
      |q AS (SELECT vec_id AS query_id, v AS qv FROM ns
      |  WHERE vec_id % 53 = 3),
      |sc AS (SELECT query_id, ns.vec_id,
      |    round(list_cosine_similarity(qv, v), 4) AS cos
      |  FROM q CROSS JOIN ns WHERE ns.vec_id <> query_id),
      |r AS (SELECT query_id, vec_id, cos,
      |    CAST(row_number() OVER (PARTITION BY query_id
      |      ORDER BY cos DESC, vec_id) AS INT) AS rank
      |  FROM sc)
      |SELECT query_id, vec_id, cos, rank FROM r
      |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin

  /** Small-file compaction round-trip: fragment the documents table
    * into 64 tiny parquet files (the shape a streaming ingest leaves
    * behind), compact to range-clustered files
    * ([[graft.ops.Sharding.compact]]), and read the compacted dataset
    * back. The oracle is a plain SELECT over the source table, so a
    * green row proves the rewrite was lossless — no dropped, altered
    * or duplicated rows; file-count and clustering pins live in
    * ShardingSpec. */
  private def q124(s: SparkSession, dir: String): DataFrame = {
    val frag = graft.TempRoots.path(
      s"frag_${Integer.toHexString(dir.hashCode)}")
    val compacted = graft.TempRoots.path(
      s"compacted_${Integer.toHexString(dir.hashCode)}")
    Tables(s, dir, "documents").repartition(64)
      .write.mode("overwrite").parquet(frag)
    Sharding.compact(s, frag, compacted, "doc_id", targetRecords = 100000L)
    s.read.parquet(compacted)
      .select(col("doc_id"), md5(coalesce(col("text"), lit("")).cast("binary"))
          .as("text_md5"),
        col("source"), col("lang"))
      .orderBy(col("doc_id"))
  }

  private val q124Sql =
    """SELECT doc_id, md5(coalesce(text, '')) AS text_md5, source, lang
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Z-order layout round-trip: rewrite orders clustered on the
    * (customer, order-day) Z-curve ([[graft.ops.Sharding.zorderWrite]])
    * and read the clustered dataset back. The oracle is a plain SELECT
    * over the source table — the green row proves the layout rewrite
    * is lossless; the data-skipping property (every file covers a
    * tight rectangle of customer × day, vs full-range second dim under
    * a lexicographic sort) is pinned in PipelineOpsSpec. */
  private def q125(s: SparkSession, dir: String): DataFrame = {
    val out = graft.TempRoots.path(
      s"zorder_${Integer.toHexString(dir.hashCode)}")
    Sharding.zorderWrite(Tables(s, dir, "orders"), out,
      col("o_custkey"),
      datediff(col("o_orderdate").cast("date"),
        lit("1970-01-01").cast("date")),
      targetRecords = 2000L)
    s.read.parquet(out)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
        col("o_totalprice"))
      .orderBy(col("o_orderkey"))
  }

  private val q125Sql =
    """SELECT o_orderkey, o_custkey, o_orderdate, o_totalprice
      |FROM orders ORDER BY o_orderkey""".stripMargin

  /** ORC round-trip (columnar-sink coverage beside parquet/CSV/JSONL):
    * write a typed lineitem projection to zlib ORC, read it back, and
    * aggregate every column class — counts, decimal-exact sums of the
    * doubles, timestamp min/max, and a key checksum —
    * so the oracle (same aggregate over the parquet source) proves the
    * sink/scan preserves longs, ints, doubles, strings, and
    * timestamps. One parallel write + one parallel scan; the ORC
    * reader is vectorized and the aggregate pushes through it the
    * same as parquet. */
  private def q146(s: SparkSession, dir: String): DataFrame = {
    val out = graft.TempRoots.path(
      s"orc_${Integer.toHexString(dir.hashCode)}")
    Tables(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
        col("l_linestatus"), col("l_quantity"), col("l_extendedprice"),
        col("l_shipdate"), col("l_discount"))
      .repartition(8)
      .write.mode("overwrite").option("compression", "zlib").orc(out)
    s.read.orc(out)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("l_quantity").cast("decimal(14,2)")).cast("double")
          .as("sum_qty"),
        sum(col("l_extendedprice").cast("decimal(14,2)")).cast("double")
          .as("sum_price"),
        min(col("l_shipdate")).as("min_ship"),
        max(col("l_shipdate")).as("max_ship"),
        sum(col("l_discount").cast("decimal(14,4)")).cast("double")
          .as("sum_disc"),
        sum(col("l_orderkey") * lit(7L) + col("l_linenumber"))
          .as("key_check"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  private val q146Sql =
    """SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(14,2))) AS DOUBLE) AS sum_qty,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(14,2))) AS DOUBLE)
      |    AS sum_price,
      |  min(l_shipdate) AS min_ship, max(l_shipdate) AS max_ship,
      |  CAST(sum(CAST(l_discount AS DECIMAL(14,4))) AS DOUBLE) AS sum_disc,
      |  CAST(sum(l_orderkey * 7 + l_linenumber) AS BIGINT) AS key_check
      |FROM lineitem GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** XML sink + source round-trip (q192): Spark 4's built-in XML
    * datasource (SPARK-44265, the spark-xml merge), q146's ORC twin
    * for the remaining interchange format — write the customer slice
    * as `<cust>` row elements, read it back under an explicit schema,
    * and prove the payload with the same checksum-style aggregate
    * family (a key-weighted sum catches row loss AND field swaps;
    * doubles survive because the writer emits Java's shortest
    * round-trip rendering). The oracle aggregates the PARQUET
    * original, so green proves write→escape→parse fidelity, not just
    * self-consistency.
    *
    * Scale: format choice doesn't change the plan — the read is a
    * distributed file scan (one task per split), the aggregate is the
    * usual partial/final hash agg. XML pays a row-parse CPU cost vs
    * ORC/parquet and has no column pruning; it's the interchange
    * format, not the analytics store — exactly how the reference
    * treats its JSON inputs (JsonSchemaFinder.java:239-245, scan to
    * load, not to serve). */
  private def q192(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val out = graft.TempRoots.path(
      s"xml_${Integer.toHexString(dir.hashCode)}")
    Tables(s, dir, "customer")
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
        col("c_acctbal"), col("c_mktsegment"))
      .repartition(4)
      .write.mode("overwrite").format("xml")
      .option("rowTag", "cust").option("rootTag", "customers").save(out)
    val schema = StructType(Seq(
      StructField("c_custkey", LongType),
      StructField("c_name", StringType),
      StructField("c_nationkey", LongType),
      StructField("c_acctbal", DoubleType),
      StructField("c_mktsegment", StringType)))
    s.read.format("xml").option("rowTag", "cust").schema(schema).load(out)
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("c_acctbal").cast("decimal(14,2)")).cast("double")
          .as("sum_bal"),
        sum(col("c_custkey") * lit(7L) + col("c_nationkey"))
          .as("key_check"),
        min(col("c_name")).as("min_name"),
        max(col("c_name")).as("max_name"))
      .orderBy(col("c_mktsegment"))
  }

  private val q192Sql =
    """SELECT c_mktsegment, count(*) AS n_rows,
      |  CAST(sum(CAST(c_acctbal AS DECIMAL(14,2))) AS DOUBLE) AS sum_bal,
      |  CAST(sum(c_custkey * 7 + c_nationkey) AS BIGINT) AS key_check,
      |  min(c_name) AS min_name, max(c_name) AS max_name
      |FROM customer GROUP BY c_mktsegment
      |ORDER BY c_mktsegment""".stripMargin

  /** Histogram-sketch quantile store (q190,
    * [[graft.ops.Sketches.writeHistShards]]): shard l_extendedprice
    * into a mergeable 64-bin histogram store (8 shards by order-key
    * mod), then answer p50/p90/p99 from the STORE alone with
    * within-bin linear interpolation — the distribution member of the
    * sketch-store family (q138 = distinct, q147/q188 = frequency).
    * Unlike the HLL/CMS members, the fixed-bin histogram is exactly
    * SQL-reproducible (integer counts + one deterministic double bin
    * expression), so this store query carries a full DuckDB oracle;
    * SketchesSpec additionally pins |est − exact quantile| ≤ one bin
    * width. The (lo, hi) frame is a one-row driver collect off a
    * column-pruned min/max pass — the same bounded-collect budget as
    * ANN's trainSample.
    *
    * Scale: pass 1 is a min/max agg, pass 2 shuffles ≤ shards×nBins
    * rows; every later quantile question costs a ≤ nBins-row read.
    * New shards append without touching old ones (dynamic
    * overwrite), and merged counts are exact by additivity. */
  private def q190(s: SparkSession, dir: String): DataFrame = {
    val out = graft.TempRoots.path(
      s"hist_${Integer.toHexString(dir.hashCode)}")
    val li = Tables(s, dir, "lineitem")
    val mm = li.agg(min(col("l_extendedprice")).as("lo"),
      max(col("l_extendedprice")).as("hi")).head()
    require(!mm.isNullAt(0),
      "q190: empty lineitem — no frame to build a histogram store on")
    val lo = mm.getDouble(0)
    // degenerate frame (constant column or a single row): widen hi by
    // one ulp instead of tripping writeHistShards' hi>lo contract —
    // everything lands in bin 0 and every quantile reads back ≈ lo
    // (ADVICE r9)
    val hi = if (mm.getDouble(1) > lo) mm.getDouble(1) else Math.nextUp(lo)
    Sketches.writeHistShards(li, out, col("l_extendedprice"),
      pmod(col("l_orderkey"), lit(8L)), lo, hi, nBins = 64)
    Sketches.histQuantiles(s, out, lo, hi, nBins = 64,
      ps = Seq(0.5, 0.9, 0.99))
  }

  private val q190Sql =
    """WITH mm AS (
      |  SELECT min(l_extendedprice) AS lo, max(l_extendedprice) AS hi,
      |    (max(l_extendedprice) - min(l_extendedprice)) / 64 AS w
      |  FROM lineitem
      |), bins AS (
      |  SELECT CAST(least(63, greatest(0,
      |      floor((l_extendedprice - mm.lo) / mm.w))) AS INT) AS bin,
      |    count(*) AS c
      |  FROM lineitem, mm GROUP BY 1
      |), cum AS (
      |  SELECT bin, c, sum(c) OVER (ORDER BY bin) AS cum,
      |    sum(c) OVER () AS tot
      |  FROM bins
      |), ps(p) AS (
      |  VALUES (CAST(0.5 AS DOUBLE)), (CAST(0.9 AS DOUBLE)),
      |         (CAST(0.99 AS DOUBLE))
      |), hit AS (
      |  SELECT p, min(bin) AS bin
      |  FROM cum, ps WHERE cum >= p * tot GROUP BY p
      |)
      |SELECT h.p AS p, CAST(h.bin AS BIGINT) AS bin,
      |  CAST(u.cum AS BIGINT) AS n_le,
      |  round(mm.lo + mm.w *
      |    (h.bin + (h.p * u.tot - (u.cum - u.c)) / u.c), 4) AS est
      |FROM hit h JOIN cum u ON h.bin = u.bin, mm
      |ORDER BY p""".stripMargin

  /** SCD2 history apply ([[graft.ops.Sharding.scd2Apply]]): version
    * the customer dimension — a real segment change for custkey%10=3,
    * a NO-OP change (identical attributes) for custkey%20=7 that must
    * produce zero version churn. The oracle recomputes close+open
    * relationally, so green proves the differ check, the close-only-
    * the-open-row rule, and history preservation end to end. */
  private def q154(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables(s, dir, "customer")
    val dim = cust.select(col("c_custkey"), col("c_mktsegment"),
        col("c_nationkey").cast("bigint").as("c_nationkey"))
      .withColumn("valid_from", lit("2024-01-01 00:00:00").cast("timestamp"))
      .withColumn("valid_to", lit(null).cast("timestamp"))
    val changes = cust.where(col("c_custkey") % 10 === 3)
      .select(col("c_custkey"),
        concat(lit("SEG-"), col("c_nationkey").cast("string"))
          .as("c_mktsegment"),
        col("c_nationkey").cast("bigint").as("c_nationkey"))
      .unionByName(cust.where(col("c_custkey") % 20 === 7)
        .select(col("c_custkey"), col("c_mktsegment"),
          col("c_nationkey").cast("bigint").as("c_nationkey")))
    Sharding.scd2Apply(dim, changes, "c_custkey",
        Seq("c_mktsegment", "c_nationkey"),
        lit("2024-06-01 00:00:00").cast("timestamp"))
      .withColumn("is_current",
        col("valid_to").isNull.cast("int").cast("bigint"))
      .orderBy(col("c_custkey"), col("valid_from"))
  }

  private val q154Sql =
    """WITH dim AS (SELECT c_custkey, c_mktsegment,
      |    CAST(c_nationkey AS BIGINT) AS c_nationkey,
      |    TIMESTAMP '2024-01-01 00:00:00' AS valid_from,
      |    CAST(NULL AS TIMESTAMP) AS valid_to FROM customer),
      |ch AS (SELECT c_custkey, 'SEG-' || c_nationkey AS c_mktsegment,
      |    CAST(c_nationkey AS BIGINT) AS c_nationkey
      |  FROM customer WHERE c_custkey % 10 = 3
      |  UNION ALL
      |  SELECT c_custkey, c_mktsegment, CAST(c_nationkey AS BIGINT)
      |  FROM customer WHERE c_custkey % 20 = 7),
      |chg AS (SELECT ch.c_custkey, ch.c_mktsegment, ch.c_nationkey
      |  FROM ch JOIN dim ON ch.c_custkey = dim.c_custkey
      |  WHERE dim.valid_to IS NULL AND
      |    (ch.c_mktsegment IS DISTINCT FROM dim.c_mktsegment OR
      |     ch.c_nationkey IS DISTINCT FROM dim.c_nationkey)),
      |hist AS (SELECT d.c_custkey, d.c_mktsegment, d.c_nationkey,
      |    d.valid_from,
      |    CASE WHEN r.c_custkey IS NOT NULL AND d.valid_to IS NULL
      |         THEN TIMESTAMP '2024-06-01 00:00:00'
      |         ELSE d.valid_to END AS valid_to
      |  FROM dim d LEFT JOIN chg r ON d.c_custkey = r.c_custkey),
      |op AS (SELECT c_custkey, c_mktsegment, c_nationkey,
      |    TIMESTAMP '2024-06-01 00:00:00' AS valid_from,
      |    CAST(NULL AS TIMESTAMP) AS valid_to FROM chg)
      |SELECT c_custkey, c_mktsegment, c_nationkey, valid_from, valid_to,
      |  CAST(CASE WHEN valid_to IS NULL THEN 1 ELSE 0 END AS BIGINT)
      |    AS is_current
      |FROM (SELECT * FROM hist UNION ALL SELECT * FROM op)
      |ORDER BY c_custkey, valid_from""".stripMargin

  /** Point-in-time (temporal) join over the SCD2 history q154
    * produces: every order is attributed to the dimension version
    * valid AT ITS ORDER DATE (`valid_from <= ts < valid_to`), so
    * pre-1998 orders of re-segmented customers land in the historical
    * segment and later orders in the new one — the as-of semantics
    * that make SCD2 histories queryable. Plan: equi-join on the key
    * with the validity range as a residual condition (one keyed
    * shuffle; versions-per-key is tiny, so the residual prunes
    * locally). Fully oracled. */
  private def q156(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables(s, dir, "customer")
    val dim = cust.select(col("c_custkey"), col("c_mktsegment"))
      .withColumn("valid_from", lit("1990-01-01 00:00:00").cast("timestamp"))
      .withColumn("valid_to", lit(null).cast("timestamp"))
    val changes = cust.where(col("c_custkey") % 10 === 3)
      .select(col("c_custkey"),
        concat(lit("SEG-"), col("c_nationkey").cast("string"))
          .as("c_mktsegment"))
    val hist = Sharding.scd2Apply(dim, changes, "c_custkey",
      Seq("c_mktsegment"), lit("1998-01-01 00:00:00").cast("timestamp"))
    Tables(s, dir, "orders")
      .join(hist, col("o_custkey") === col("c_custkey") &&
        col("o_orderdate") >= col("valid_from") &&
        (col("valid_to").isNull || col("o_orderdate") < col("valid_to")))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
          .as("sum_price"))
      .orderBy(col("c_mktsegment"))
  }

  private val q156Sql =
    """WITH dim AS (SELECT c_custkey, c_mktsegment,
      |    TIMESTAMP '1990-01-01 00:00:00' AS valid_from,
      |    CAST(NULL AS TIMESTAMP) AS valid_to FROM customer),
      |chg AS (SELECT c.c_custkey,
      |    'SEG-' || c.c_nationkey AS c_mktsegment
      |  FROM customer c JOIN dim ON c.c_custkey = dim.c_custkey
      |  WHERE c.c_custkey % 10 = 3 AND dim.valid_to IS NULL
      |    AND 'SEG-' || c.c_nationkey IS DISTINCT FROM dim.c_mktsegment),
      |hist AS (SELECT d.c_custkey, d.c_mktsegment, d.valid_from,
      |    CASE WHEN r.c_custkey IS NOT NULL AND d.valid_to IS NULL
      |         THEN TIMESTAMP '1998-01-01 00:00:00'
      |         ELSE d.valid_to END AS valid_to
      |  FROM dim d LEFT JOIN chg r ON d.c_custkey = r.c_custkey
      |  UNION ALL
      |  SELECT c_custkey, c_mktsegment,
      |    TIMESTAMP '1998-01-01 00:00:00', CAST(NULL AS TIMESTAMP)
      |  FROM chg)
      |SELECT h.c_mktsegment, count(*) AS n_orders,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
      |    AS sum_price
      |FROM orders o JOIN hist h ON o.o_custkey = h.c_custkey
      |  AND o.o_orderdate >= h.valid_from
      |  AND (h.valid_to IS NULL OR o.o_orderdate < h.valid_to)
      |GROUP BY h.c_mktsegment ORDER BY h.c_mktsegment""".stripMargin

  /** Declarative data-quality expectations (the dbt-test /
    * expectations-suite shape): each table's checks fold into ONE
    * conditional-aggregation pass — key uniqueness, null rate,
    * derived-column consistency, domain membership, value ranges —
    * and the single-row summaries unpivot into a (table, check,
    * violations, pass) report. Violation COUNTS, not samples, so the
    * report is O(checks) regardless of corpus size; a 100 TB run
    * costs one scan per table. Fully oracled. */
  private def q158(s: SparkSession, dir: String): DataFrame = {
    val b = (c: Column) => c.cast("int").cast("bigint")
    val docs = Tables(s, dir, "documents").agg(
      count(lit(1)).as("n_rows"),
      (count(lit(1)) - countDistinct(col("doc_id"))).as("dup_keys"),
      sum(b(col("text").isNull)).as("null_text"),
      sum(b(length(coalesce(col("text"), lit(""))) =!= col("n_chars")))
        .as("bad_nchars"),
      sum(b(!col("lang").isin("en", "de", "fr", "es", "zh")))
        .as("bad_lang"))
    val ords = Tables(s, dir, "orders").agg(
      count(lit(1)).as("n_rows"),
      (count(lit(1)) - countDistinct(col("o_orderkey"))).as("dup_keys"),
      sum(b(col("o_totalprice") <= 0)).as("bad_price"),
      sum(b(col("o_orderdate") < lit("1990-01-01").cast("timestamp") ||
        col("o_orderdate") >= lit("2005-01-01").cast("timestamp")))
        .as("bad_date"))
    def report(agg: DataFrame, tbl: String, checks: (String, String)*) =
      agg.select(explode(array(checks.map { case (name, colName) =>
        struct(lit(tbl).as("tbl"), lit(name).as("chk"),
          col(colName).as("violations"), col("n_rows"))
      }: _*)).as("r")).select(col("r.tbl"), col("r.chk"),
        col("r.violations"), col("r.n_rows"),
        (col("r.violations") === 0L).cast("int").cast("bigint").as("pass"))
    report(docs, "documents",
      "unique_key" -> "dup_keys", "no_null_text" -> "null_text",
      "n_chars_consistent" -> "bad_nchars", "lang_in_domain" -> "bad_lang")
      .unionByName(report(ords, "orders",
        "unique_key" -> "dup_keys", "price_positive" -> "bad_price",
        "date_in_range" -> "bad_date"))
      .orderBy(col("tbl"), col("chk"))
  }

  private val q158Sql =
    """WITH d AS (SELECT count(*) AS n_rows,
      |    count(*) - count(DISTINCT doc_id) AS dup_keys,
      |    CAST(count(*) FILTER (text IS NULL) AS BIGINT) AS null_text,
      |    CAST(count(*) FILTER (length(coalesce(text, '')) <> n_chars)
      |      AS BIGINT) AS bad_nchars,
      |    CAST(count(*) FILTER (lang NOT IN ('en','de','fr','es','zh'))
      |      AS BIGINT) AS bad_lang
      |  FROM documents),
      |o AS (SELECT count(*) AS n_rows,
      |    count(*) - count(DISTINCT o_orderkey) AS dup_keys,
      |    CAST(count(*) FILTER (o_totalprice <= 0) AS BIGINT) AS bad_price,
      |    CAST(count(*) FILTER (o_orderdate < TIMESTAMP '1990-01-01' OR
      |      o_orderdate >= TIMESTAMP '2005-01-01') AS BIGINT) AS bad_date
      |  FROM orders),
      |r AS (
      |  SELECT 'documents' AS tbl, 'unique_key' AS chk,
      |    CAST(dup_keys AS BIGINT) AS violations, n_rows FROM d
      |  UNION ALL SELECT 'documents', 'no_null_text', null_text, n_rows FROM d
      |  UNION ALL SELECT 'documents', 'n_chars_consistent', bad_nchars, n_rows FROM d
      |  UNION ALL SELECT 'documents', 'lang_in_domain', bad_lang, n_rows FROM d
      |  UNION ALL SELECT 'orders', 'unique_key',
      |    CAST(dup_keys AS BIGINT), n_rows FROM o
      |  UNION ALL SELECT 'orders', 'price_positive', bad_price, n_rows FROM o
      |  UNION ALL SELECT 'orders', 'date_in_range', bad_date, n_rows FROM o)
      |SELECT tbl, chk, violations, n_rows,
      |  CAST(CASE WHEN violations = 0 THEN 1 ELSE 0 END AS BIGINT) AS pass
      |FROM r ORDER BY tbl, chk""".stripMargin

  /** CDC merge into a bucketed document store
    * ([[graft.ops.Sharding.mergeCdc]]): init the store from the
    * corpus, apply a deterministic change batch (updates, inserts,
    * deletes), read the merged store back. The oracle recomputes the
    * merge relationally, so a green row proves upsert/delete/bucket
    * semantics end to end; the only-touched-buckets-rewrite and
    * replay-idempotence pins live in PipelineOpsSpec. */
  private def q128(s: SparkSession, dir: String): DataFrame = {
    val store = graft.TempRoots.path(
      s"docstore_${Integer.toHexString(dir.hashCode)}")
    val docs = Tables(s, dir, "documents")
    Sharding.initDocStore(docs, store, 8)
    def withLen(text: Column) = Seq(
      text.as("text"), col("lang"), col("source"),
      length(text).cast("bigint").as("n_chars"))
    val up = docs.where(col("doc_id") % 7 === 0)
      .select(col("doc_id") +: withLen(
        concat(coalesce(col("text"), lit("")), lit(" v2"))) :+
        lit("upsert").as("op"): _*)
    val ins = docs.where(col("doc_id") % 31 === 5)
      .select((col("doc_id") + 1000000L).as("doc_id") +: withLen(
        concat(lit("new "), coalesce(col("text"), lit("")))) :+
        lit("upsert").as("op"): _*)
    val del = docs.where(col("doc_id") % 13 === 3 && col("doc_id") % 7 =!= 0)
      .select(col("doc_id") +: withLen(lit(null).cast("string")) :+
        lit("delete").as("op"): _*)
    Sharding.mergeCdc(s, store, up.unionByName(ins).unionByName(del), 8)
    s.read.parquet(store)
      .select(col("doc_id"),
        md5(coalesce(col("text"), lit("")).cast("binary")).as("text_md5"),
        col("source"), col("n_chars"),
        col("bucket").cast("bigint").as("bucket"))
      .orderBy(col("doc_id"))
  }

  private val q128Sql =
    """WITH up AS (SELECT doc_id, coalesce(text, '') || ' v2' AS text,
      |    source, length(coalesce(text, '') || ' v2') AS n_chars
      |  FROM documents WHERE doc_id % 7 = 0),
      |ins AS (SELECT doc_id + 1000000 AS doc_id,
      |    'new ' || coalesce(text, '') AS text, source,
      |    length('new ' || coalesce(text, '')) AS n_chars
      |  FROM documents WHERE doc_id % 31 = 5),
      |del AS (SELECT doc_id FROM documents
      |  WHERE doc_id % 13 = 3 AND doc_id % 7 <> 0),
      |changed AS (SELECT doc_id FROM up UNION ALL SELECT doc_id FROM ins
      |  UNION ALL SELECT doc_id FROM del),
      |kept AS (SELECT doc_id, text, source, n_chars FROM documents
      |  WHERE doc_id NOT IN (SELECT doc_id FROM changed)),
      |merged AS (SELECT * FROM kept UNION ALL SELECT * FROM up
      |  UNION ALL SELECT * FROM ins)
      |SELECT doc_id, md5(coalesce(text, '')) AS text_md5, source,
      |  CAST(n_chars AS BIGINT) AS n_chars,
      |  CAST(((doc_id * 48271) % 2147483647) % 8 AS BIGINT) AS bucket
      |FROM merged ORDER BY doc_id""".stripMargin

  /** SQL-only CDC lifecycle ([[graft.sources.GraftProcedures]]
    * `init_doc_store`/`merge_cdc`, r15 — VERDICT r14 #2, closing the
    * gap where the SQL mutation surface stopped at DELETE): the q128
    * lifecycle with every mutation addressed FROM SQL — the corpus and
    * the change batch (upserts, inserts, deletes) are temp views, the
    * store is created by `CALL graft.init_doc_store` and merged by
    * `CALL graft.merge_cdc` (the same staged-commit
    * [[graft.ops.Sharding.mergeCdc]] op, pure addressing), and the
    * merged store is read back through SQL's `parquet.` path syntax.
    * The oracle recomputes the merge relationally (q128's twin), so a
    * green row proves the CALL surface routes upsert/delete/bucket
    * semantics end to end; the report-row audit (n_upserts/n_deletes
    * exactly the batch's SQL-recomputable counts) rides as requires.
    * Conflicting-batch and store-mismatch loudness is spec-pinned in
    * SqlOnlyLifecycleSpec. */
  private def q251(s: SparkSession, dir: String): DataFrame = {
    val store = graft.TempRoots.path(
      s"sqlcdc_${Integer.toHexString(dir.hashCode)}")
    s.conf.set("spark.sql.catalog.graft",
      classOf[graft.sources.GraftCatalog].getName)
    Tables(s, dir, "documents")
      .select(col("doc_id"), col("text"), col("lang"), col("source"),
        col("n_chars"))
      .createOrReplaceTempView("q251_docs")
    s.sql(
      """CREATE OR REPLACE TEMP VIEW q251_changes AS
        |SELECT doc_id, concat(coalesce(text, ''), ' v2') AS text, lang,
        |  source,
        |  CAST(length(concat(coalesce(text, ''), ' v2')) AS BIGINT)
        |    AS n_chars,
        |  'upsert' AS op
        |FROM q251_docs WHERE doc_id % 7 = 0
        |UNION ALL
        |SELECT doc_id + 1000000, concat('new ', coalesce(text, '')),
        |  lang, source,
        |  CAST(length(concat('new ', coalesce(text, ''))) AS BIGINT),
        |  'upsert'
        |FROM q251_docs WHERE doc_id % 31 = 5
        |UNION ALL
        |SELECT doc_id, CAST(NULL AS STRING), lang, source,
        |  CAST(NULL AS BIGINT), 'delete'
        |FROM q251_docs WHERE doc_id % 13 = 3 AND doc_id % 7 <> 0"""
        .stripMargin)
    val init = s.sql(
      s"CALL graft.init_doc_store('$store', 'q251_docs', 8)").collect()(0)
    require(init.getAs[Int]("n_buckets") == 8 && init.getAs[Long]("n_rows") > 0,
      s"init_doc_store report unexpected: $init")
    val rep = s.sql(
      s"CALL graft.merge_cdc('$store', 'q251_changes', 8)").collect()(0)
    // the report audits against the batch's own SQL-recomputable
    // counts — a report that disagrees with the batch is a routing bug
    // even when the merged rows come out right
    val counts = s.sql(
      """SELECT sum(CASE WHEN op = 'upsert' THEN 1 ELSE 0 END) AS u,
        |  sum(CASE WHEN op = 'delete' THEN 1 ELSE 0 END) AS d
        |FROM q251_changes""".stripMargin).collect()(0)
    require(rep.getAs[Long]("n_upserts") == counts.getAs[Long]("u") &&
      rep.getAs[Long]("n_deletes") == counts.getAs[Long]("d"),
      s"merge_cdc report $rep disagrees with the batch $counts")
    s.sql(
      s"""SELECT doc_id,
         |  md5(CAST(coalesce(text, '') AS BINARY)) AS text_md5,
         |  source, n_chars, CAST(bucket AS BIGINT) AS bucket
         |FROM parquet.`$store` ORDER BY doc_id""".stripMargin)
  }

  // the merged store content is q128's by construction — same batch,
  // same store semantics, different (SQL) addressing
  private val q251Sql =
    """WITH up AS (SELECT doc_id, coalesce(text, '') || ' v2' AS text,
      |    source, length(coalesce(text, '') || ' v2') AS n_chars
      |  FROM documents WHERE doc_id % 7 = 0),
      |ins AS (SELECT doc_id + 1000000 AS doc_id,
      |    'new ' || coalesce(text, '') AS text, source,
      |    length('new ' || coalesce(text, '')) AS n_chars
      |  FROM documents WHERE doc_id % 31 = 5),
      |del AS (SELECT doc_id FROM documents
      |  WHERE doc_id % 13 = 3 AND doc_id % 7 <> 0),
      |changed AS (SELECT doc_id FROM up UNION ALL SELECT doc_id FROM ins
      |  UNION ALL SELECT doc_id FROM del),
      |kept AS (SELECT doc_id, text, source, n_chars FROM documents
      |  WHERE doc_id NOT IN (SELECT doc_id FROM changed)),
      |merged AS (SELECT * FROM kept UNION ALL SELECT * FROM up
      |  UNION ALL SELECT * FROM ins)
      |SELECT doc_id, md5(coalesce(text, '')) AS text_md5, source,
      |  CAST(n_chars AS BIGINT) AS n_chars,
      |  CAST(((doc_id * 48271) % 2147483647) % 8 AS BIGINT) AS bucket
      |FROM merged ORDER BY doc_id""".stripMargin

  /** The stored inverted index the SEARCH queries (q129/q130/q132)
    * probe: built once per corpus and reused — the serving split every
    * index store has (a production index exists before queries arrive;
    * building it per query would triple-charge the build). Index
    * MAINTENANCE is priced separately and deliberately: q131 times
    * build + segment append end to end, exactly like q116 prices the
    * ANN lifecycle next to q63's search. */
  private val invIndexLock = new Object
  private def sharedInvIndex(s: SparkSession, dir: String): String =
    invIndexLock.synchronized {
      val idx = graft.TempRoots.path(
        s"invidx_shared_${Integer.toHexString(dir.hashCode)}")
      if (!graft.ops.Fs.exists(s, s"$idx/meta"))
        InvertedIndex.build(Tables(s, dir, "documents"), idx, nBuckets = 64)
      idx
    }

  /** The stored character-trigram index q164 probes — same
    * build-once serving split as [[sharedInvIndex]]. */
  private val trigramIndexLock = new Object
  private def sharedTrigramIndex(s: SparkSession, dir: String): String =
    trigramIndexLock.synchronized {
      val idx = graft.TempRoots.path(
        s"trgidx_shared_${Integer.toHexString(dir.hashCode)}")
      if (!graft.ops.Fs.exists(s, s"$idx/meta"))
        InvertedIndex.buildTrigramIndex(
          Tables(s, dir, "documents"), idx, nBuckets = 64)
      idx
    }

  /** The chunk-level BM25 index q170 probes — the RAG serving store:
    * documents chunked with overlap ([[graft.ops.TextOps.chunkDocs]]),
    * each chunk indexed as its own retrieval unit under the composite
    * key doc_id·4096 + chunk_idx (chunk counts are far below 4096 by
    * construction: chunks advance `stride` words per step). Build-once
    * like [[sharedInvIndex]]. */
  private val chunkIndexLock = new Object
  private def sharedChunkIndex(s: SparkSession, dir: String): String =
    chunkIndexLock.synchronized {
      val idx = graft.TempRoots.path(
        s"chunkidx_shared_${Integer.toHexString(dir.hashCode)}")
      if (!graft.ops.Fs.exists(s, s"$idx/meta")) {
        val chunks = TextOps.chunkDocs(Tables(s, dir, "documents"))
          .select((col("doc_id") * 4096 + col("chunk_idx")).as("doc_id"),
            col("chunk").as("text"))
        InvertedIndex.build(chunks, idx, nBuckets = 64)
      }
      idx
    }

  /** Retrieval capstone — the RAG query path end to end: BM25 top-k
    * over the CHUNKED corpus from the stored chunk index, results
    * decomposed back to (source doc, chunk) coordinates. Chunk-level
    * retrieval is what an LLM context builder actually consumes
    * (passage granularity + overlap so no boundary-spanning hit is
    * lost); the index answers from postings alone — the corpus is
    * never rescanned at query time. The oracle recomputes chunking
    * AND ranking relationally from raw text, so a green row proves
    * the whole pipeline (chunker → index → ranker), not just the
    * ranker. */
  private def q170(s: SparkSession, dir: String): DataFrame =
    InvertedIndex.searchBm25(s, sharedChunkIndex(s, dir),
        Seq("merge", "slow"), 20)
      .select((col("doc_id") / 4096).cast("bigint").as("src_doc_id"),
        pmod(col("doc_id"), lit(4096L)).as("chunk_idx"), col("score"))
      // re-assert the total order at top level: the projection above
      // sits over the TakeOrdered cut, and the driver-contract
      // invariant wants the ORDER BY outermost on both sides
      .orderBy(col("score").desc, col("src_doc_id"), col("chunk_idx"))

  private val q170Sql =
    """WITH w AS (SELECT doc_id,
      |    string_split(coalesce(text, ''), ' ') AS ws FROM documents),
      |c AS (SELECT doc_id * 4096 + (gs - 1) // 40 AS cid,
      |    ws[gs : gs + 49] AS cw
      |  FROM w, unnest(range(1, greatest(len(ws), 1) + 1, 40)) AS t(gs)),
      |t AS (SELECT cid, len(cw) AS dl, unnest(cw) AS w FROM c),
      |tf AS (SELECT cid, dl, w, count(*) AS tf FROM t
      |  WHERE w IN ('merge', 'slow') GROUP BY cid, dl, w),
      |df AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
      |n AS (SELECT count(*) AS nd,
      |    CAST(sum(len(cw)) AS DOUBLE) AS ntok FROM c),
      |s AS (SELECT cid,
      |    round(CAST(sum(CAST(round(
      |      ln(1 + (CAST(nd AS DOUBLE) - df + 0.5) / (df + 0.5))
      |        * (tf * 2.5)
      |        / (tf + 1.5 * (0.25 + (0.75 * dl) / (ntok / nd))), 8)
      |      AS DECIMAL(18,8))) AS DOUBLE), 4) AS score
      |  FROM tf JOIN df USING (w) CROSS JOIN n
      |  GROUP BY cid ORDER BY score DESC, cid LIMIT 20)
      |SELECT cid // 4096 AS src_doc_id, cid % 4096 AS chunk_idx, score
      |FROM s ORDER BY score DESC, src_doc_id, chunk_idx""".stripMargin

  /** Substring (grep-style) search over the stored trigram index
    * ([[graft.ops.InvertedIndex.searchSubstring]]): the pattern spans
    * a word boundary, so no word-term index can answer it — the
    * trigram AND produces a candidate superset from the probed gram
    * buckets alone and one `contains` pass over the candidates
    * removes coincidental gram co-occurrence. The oracle recomputes
    * the match by scanning the raw text — a green row proves the
    * index-pruned search misses nothing the scan finds. */
  private def q164(s: SparkSession, dir: String): DataFrame =
    InvertedIndex.searchSubstring(Tables(s, dir, "documents"),
        sharedTrigramIndex(s, dir), "slow merge")
      .orderBy(col("doc_id"))

  private val q164Sql =
    """SELECT doc_id,
      |  CAST(position('slow merge' IN text) AS BIGINT) AS first_pos,
      |  CAST((len(text) - len(replace(text, 'slow merge', ''))) // 10
      |    AS BIGINT) AS n_hits
      |FROM documents WHERE contains(text, 'slow merge')
      |ORDER BY doc_id""".stripMargin

  /** Boolean AND search over the stored inverted index
    * ([[graft.ops.InvertedIndex]]): probe three terms reading ONLY
    * their bucket partitions, return docs containing all three. The
    * oracle recomputes the match by scanning the raw text — a green
    * row proves the index agrees with the corpus. */
  private def q129(s: SparkSession, dir: String): DataFrame =
    InvertedIndex.searchAll(s, sharedInvIndex(s, dir),
        Seq("window", "scan", "join"))
      .orderBy(col("doc_id"))

  private val q129Sql =
    """WITH t AS (SELECT doc_id,
      |    unnest(string_split(coalesce(text, ''), ' ')) AS w
      |  FROM documents),
      |tf AS (SELECT doc_id, w, count(*) AS tf FROM t
      |  WHERE w IN ('window', 'scan', 'join') GROUP BY doc_id, w)
      |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS total_tf
      |FROM tf GROUP BY doc_id HAVING count(*) = 3
      |ORDER BY doc_id""".stripMargin

  /** TF-IDF-ranked top-k over the same stored index: df and tf come
    * from the probed postings alone (the corpus is never rescanned),
    * decimal-summed contributions, rounded score + doc_id tiebreak.
    * Fully oracled against a raw-text recomputation. */
  private def q130(s: SparkSession, dir: String): DataFrame =
    InvertedIndex.searchRanked(s, sharedInvIndex(s, dir),
      Seq("spark", "merge"), 20)

  private val q130Sql =
    """WITH t AS (SELECT doc_id,
      |    unnest(string_split(coalesce(text, ''), ' ')) AS w
      |  FROM documents),
      |tf AS (SELECT doc_id, w, count(*) AS tf FROM t
      |  WHERE w IN ('spark', 'merge') GROUP BY doc_id, w),
      |df AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
      |n AS (SELECT count(*) AS nd FROM documents)
      |SELECT doc_id,
      |  round(CAST(sum(CAST(round(tf * ln((nd + 1) / (df + 1)::DOUBLE), 8)
      |    AS DECIMAL(18,8))) AS DOUBLE), 4) AS score
      |FROM tf JOIN df USING (w) CROSS JOIN n
      |GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT 20""".stripMargin

  /** Incremental index growth: build the inverted index on ⅔ of the
    * corpus, append the remaining ⅓ as an LSM segment (never touching
    * segment 0), search across both. The oracle recomputes the match
    * over the FULL corpus — a green row proves the appended index
    * equals a from-scratch build. */
  private def q131(s: SparkSession, dir: String): DataFrame = {
    val idx = graft.TempRoots.path(
      s"invidx_inc_${Integer.toHexString(dir.hashCode)}")
    val docs = Tables(s, dir, "documents")
    InvertedIndex.build(docs.where(col("doc_id") % 3 =!= 0), idx,
      nBuckets = 64)
    InvertedIndex.appendSegment(docs.where(col("doc_id") % 3 === 0), idx,
      segId = 1)
    InvertedIndex.searchAll(s, idx, Seq("merge", "spark"))
      .orderBy(col("doc_id"))
  }

  private val q131Sql =
    """WITH t AS (SELECT doc_id,
      |    unnest(string_split(coalesce(text, ''), ' ')) AS w
      |  FROM documents),
      |tf AS (SELECT doc_id, w, count(*) AS tf FROM t
      |  WHERE w IN ('merge', 'spark') GROUP BY doc_id, w)
      |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS total_tf
      |FROM tf GROUP BY doc_id HAVING count(*) = 2
      |ORDER BY doc_id""".stripMargin

  /** Hybrid retrieval — reciprocal-rank fusion (Cormack et al., RRF,
    * SIGIR 2009) of the two retrieval modalities the engine serves:
    * the BM25 term shortlist from the stored inverted index and the
    * exact cosine shortlist against a query embedding
    * (doc_id ≡ vec_id, the shipped 1:1 key space). RRF needs only
    * RANKS, so the fused score 1/(60+r_text) + 1/(60+r_vec) is a sum
    * of exact integer reciprocals — identical IEEE on both engines,
    * no score-scale calibration between modalities (the reason RRF is
    * the production default for hybrid search). Docs on one list only
    * contribute that list's term. Both shortlists are top-50 with the
    * (score desc, id) unique tiebreak; fusion is one full-outer join
    * of two 50-row frames — the heavy lifting stays in the index
    * probe and the broadcast cosine scan. */
  private def q172(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bm = InvertedIndex.searchBm25(s, sharedInvIndex(s, dir),
        Seq("merge", "slow"), 50)
      // re-rank the 50-row shortlist (same order the TakeOrdered cut
      // used); the partitionless window is over 50 rows by contract
      .withColumn("rank_text", row_number().over(
        Window.orderBy(col("score").desc, col("doc_id"))))
      .select(col("doc_id"), col("rank_text"))
    val e = Tables(s, dir, "embeddings")
    val cos = VectorOps.cosineTopK(e, e.where(col("vec_id") === 0), 50)
      .select(col("vec_id").as("doc_id"), col("rank").as("rank_vec"))
    bm.join(cos, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        coalesce(col("rank_text").cast("bigint"), lit(0L)).as("rank_text"),
        coalesce(col("rank_vec").cast("bigint"), lit(0L)).as("rank_vec"),
        (coalesce(lit(1.0) / (lit(60) + col("rank_text")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(60) + col("rank_vec")), lit(0.0)))
          .as("rrf"))
      .orderBy(col("rrf").desc, col("doc_id"))
      .limit(20)
  }

  private val q172Sql =
    """WITH d AS (SELECT doc_id,
      |    string_split(coalesce(text, ''), ' ') AS ws FROM documents),
      |t AS (SELECT doc_id, len(ws) AS dl, unnest(ws) AS w FROM d),
      |tf AS (SELECT doc_id, dl, w, count(*) AS tf FROM t
      |  WHERE w IN ('merge', 'slow') GROUP BY doc_id, dl, w),
      |df AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
      |n AS (SELECT count(*) AS nd,
      |    CAST((SELECT sum(len(string_split(coalesce(text, ''), ' ')))
      |      FROM documents) AS DOUBLE) AS ntok
      |  FROM documents),
      |sc AS (SELECT doc_id,
      |    round(CAST(sum(CAST(round(
      |      ln(1 + (CAST(nd AS DOUBLE) - df + 0.5) / (df + 0.5))
      |        * (tf * 2.5)
      |        / (tf + 1.5 * (0.25 + (0.75 * dl) / (ntok / nd))), 8)
      |      AS DECIMAL(18,8))) AS DOUBLE), 4) AS score
      |  FROM tf JOIN df USING (w) CROSS JOIN n
      |  GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT 50),
      |bm AS (SELECT doc_id,
      |    row_number() OVER (ORDER BY score DESC, doc_id) AS rank_text
      |  FROM sc),
      |q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings
      |  WHERE vec_id = 0),
      |cs AS (SELECT e.vec_id AS doc_id,
      |    round(list_cosine_similarity(e.embedding::DOUBLE[], q.qe), 4)
      |      AS cos
      |  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> 0),
      |cosr AS (SELECT doc_id, rank_vec FROM (
      |    SELECT doc_id, cos,
      |      row_number() OVER (ORDER BY cos DESC, doc_id) AS rank_vec
      |    FROM cs) WHERE rank_vec <= 50),
      |f AS (SELECT coalesce(bm.doc_id, cosr.doc_id) AS doc_id,
      |    coalesce(bm.rank_text, 0) AS rt,
      |    coalesce(cosr.rank_vec, 0) AS rv,
      |    coalesce(CAST(1 AS DOUBLE) / (60 + bm.rank_text), 0) +
      |    coalesce(CAST(1 AS DOUBLE) / (60 + cosr.rank_vec), 0) AS rrf
      |  FROM bm FULL JOIN cosr ON bm.doc_id = cosr.doc_id)
      |SELECT doc_id, CAST(rt AS BIGINT) AS rank_text,
      |  CAST(rv AS BIGINT) AS rank_vec, rrf
      |FROM f ORDER BY rrf DESC, doc_id LIMIT 20""".stripMargin

  /** The stored IVF index the hybrid-retrieval query (q252) probes —
    * the vector twin of [[sharedInvIndex]]: built once over the full
    * embeddings table and reused (a production ANN index exists before
    * queries arrive); IVF MAINTENANCE is priced separately by
    * q116/q206/q211. */
  private val ivfIndexLock = new Object
  private val ivfSharedCells = 16
  private def sharedIvfIndex(s: SparkSession, dir: String): String =
    ivfIndexLock.synchronized {
      val idx = graft.TempRoots.path(
        s"ivfidx_shared_${Integer.toHexString(dir.hashCode)}")
      // built ⇔ the LAST artifact exists AND no rebuild marker: the
      // centroids land first, so probing them would wedge the session
      // after a failed first build (rebuild marker up, never healed —
      // self-review r15); buildIvfIndex's rerun IS the heal path
      if (!graft.ops.Fs.exists(s, s"$idx/corpus") ||
          VectorOps.rebuildPending(s, idx))
        VectorOps.buildIvfIndex(Tables(s, dir, "embeddings"), idx,
          nCells = ivfSharedCells)
      idx
    }

  /** Hybrid retrieval from the TWO stored serving indexes
    * ([[graft.ops.Retrieval.hybridTopK]], r15 — VERDICT r14 #4): q172
    * fused the BM25 store with a brute-force cosine scan; this is the
    * full serving shape — BOTH legs answer from their stored index
    * (postings buckets + IVF cell partitions; the corpus and the
    * embeddings table are never rescanned at query time), fused by
    * reciprocal-rank fusion. Probing is EXHAUSTIVE on purpose
    * (nProbe == nCells ⇒ the vector list IS brute-force cosine, the
    * q112/q116 oracle pattern), so the fused ranks are exact
    * deterministic arithmetic over two exact lists and DuckDB
    * recomputes the whole fusion brute-force — q172's twin oracle.
    * Pruned-probe serving economics (the 100 TB path) are pinned in
    * RetrievalSpec. */
  private def q252(s: SparkSession, dir: String): DataFrame = {
    val e = Tables(s, dir, "embeddings")
    graft.ops.Retrieval.hybridTopK(s,
      sharedInvIndex(s, dir), sharedIvfIndex(s, dir),
      Seq("merge", "slow"), e.where(col("vec_id") === 0),
      k = 20, pool = 50, nProbe = ivfSharedCells)
  }

  // the exhaustive-probe vector list equals q172's brute-force leg, so
  // the fused result shares q172's oracle verbatim
  private val q252Sql = q172Sql

  /** BATCHED hybrid retrieval (r16 — VERDICT r15 #4,
    * [[graft.ops.Retrieval.hybridTopKBatch]]): q252 served ONE query;
    * this serves a REQUEST FRAME of 8 queries — 8 term pairs + the
    * matching 8 query embeddings — in one postings probe and one IVF
    * cell-probe scan, per-query ranks by window, RRF-fused top-10 per
    * query. Probing stays exhaustive on purpose (the q112/q116 oracle
    * pattern) so DuckDB recomputes all 8 fusions brute-force from a
    * VALUES-table of the same (query_id, term) pairs. Pruned floors
    * and the batch == per-query-loop parity are pinned in
    * RetrievalSpec. */
  private val q256Pairs: Seq[(Long, Seq[String])] = Seq(
    0L -> Seq("merge", "slow"), 1L -> Seq("hash", "join"),
    2L -> Seq("scan", "filter"), 3L -> Seq("sort", "window"),
    4L -> Seq("stream", "batch"), 5L -> Seq("vector", "query"),
    6L -> Seq("group", "agg"), 7L -> Seq("fast", "small"))
  private def q256(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Tables(s, dir, "embeddings")
    val qt = q256Pairs
      .flatMap { case (q, ts) => ts.map(t => (q, t)) }
      .toDF("query_id", "term")
    graft.ops.Retrieval.hybridTopKBatch(s,
      sharedInvIndex(s, dir), sharedIvfIndex(s, dir),
      qt, e.where(col("vec_id") < 8),
      k = 10, pool = 50, nProbe = ivfSharedCells)
  }

  private val q256Sql = {
    val values = q256Pairs
      .flatMap { case (q, ts) => ts.map(t => s"($q, '$t')") }
      .mkString(", ")
    s"""WITH qt(query_id, w) AS (VALUES $values),
      |d AS (SELECT doc_id,
      |    string_split(coalesce(text, ''), ' ') AS ws FROM documents),
      |t AS (SELECT doc_id, len(ws) AS dl, unnest(ws) AS w FROM d),
      |tf0 AS (SELECT doc_id, dl, w, count(*) AS tf FROM t
      |  WHERE w IN (SELECT DISTINCT w FROM qt) GROUP BY doc_id, dl, w),
      |df AS (SELECT w, count(*) AS df FROM tf0 GROUP BY w),
      |n AS (SELECT count(*) AS nd,
      |    CAST((SELECT sum(len(string_split(coalesce(text, ''), ' ')))
      |      FROM documents) AS DOUBLE) AS ntok
      |  FROM documents),
      |sc AS (SELECT query_id, doc_id,
      |    round(CAST(sum(CAST(round(
      |      ln(1 + (CAST(nd AS DOUBLE) - df + 0.5) / (df + 0.5))
      |        * (tf * 2.5)
      |        / (tf + 1.5 * (0.25 + (0.75 * dl) / (ntok / nd))), 8)
      |      AS DECIMAL(18,8))) AS DOUBLE), 4) AS score
      |  FROM tf0 JOIN df USING (w) JOIN qt USING (w) CROSS JOIN n
      |  GROUP BY query_id, doc_id),
      |bm AS (SELECT query_id, doc_id, rank_text FROM (
      |    SELECT query_id, doc_id, row_number() OVER (
      |        PARTITION BY query_id ORDER BY score DESC, doc_id)
      |      AS rank_text
      |    FROM sc) WHERE rank_text <= 50),
      |q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qe
      |  FROM embeddings WHERE vec_id < 8),
      |cs AS (SELECT q.query_id, e.vec_id AS doc_id,
      |    round(list_cosine_similarity(e.embedding::DOUBLE[], q.qe), 4)
      |      AS cos
      |  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.query_id),
      |cosr AS (SELECT query_id, doc_id, rank_vec FROM (
      |    SELECT query_id, doc_id, cos, row_number() OVER (
      |        PARTITION BY query_id ORDER BY cos DESC, doc_id)
      |      AS rank_vec
      |    FROM cs) WHERE rank_vec <= 50),
      |f AS (SELECT coalesce(bm.query_id, cosr.query_id) AS query_id,
      |    coalesce(bm.doc_id, cosr.doc_id) AS doc_id,
      |    coalesce(bm.rank_text, 0) AS rt,
      |    coalesce(cosr.rank_vec, 0) AS rv,
      |    coalesce(CAST(1 AS DOUBLE) / (60 + bm.rank_text), 0) +
      |    coalesce(CAST(1 AS DOUBLE) / (60 + cosr.rank_vec), 0) AS rrf
      |  FROM bm FULL JOIN cosr
      |    ON bm.query_id = cosr.query_id AND bm.doc_id = cosr.doc_id),
      |r AS (SELECT query_id, doc_id, rt, rv, rrf, row_number() OVER (
      |      PARTITION BY query_id ORDER BY rrf DESC, doc_id) AS rnk
      |  FROM f)
      |SELECT CAST(query_id AS BIGINT) AS query_id, doc_id,
      |  CAST(rt AS BIGINT) AS rank_text, CAST(rv AS BIGINT) AS rank_vec,
      |  rrf, CAST(rnk AS BIGINT) AS rank
      |FROM r WHERE rnk <= 10 ORDER BY query_id, rank""".stripMargin
  }

  /** Retrieval-quality evaluation — the IR-eval harness (the text
    * sibling of q74's ANN recall eval): precision@5/@20, recall@20
    * and MRR of the stored-index BM25 list against an exact relevance
    * set (docs containing BOTH query terms as tokens). Metrics are
    * ratios of exact integer counts (unrounded doubles — identical
    * IEEE division), MRR from the first relevant rank with the
    * (score, doc_id) unique tiebreak. One index probe + one broadcast
    * membership join; the truth set is one scan with pushable token
    * predicates. */
  private def q174(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    val ws = split(coalesce(col("text"), lit("")), " ")
    val truth = docs
      .where(array_contains(ws, "merge") && array_contains(ws, "slow"))
      .select(col("doc_id"), lit(1L).as("rel"))
    val ranked = InvertedIndex.searchBm25(s, sharedInvIndex(s, dir),
        Seq("merge", "slow"), 20)
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("score").desc, col("doc_id"))))
    val nRel = truth.agg(count(lit(1)).as("n_relevant"))
    ranked.join(broadcast(truth), Seq("doc_id"), "left")
      .crossJoin(broadcast(nRel))
      .agg(max(col("n_relevant")).as("n_relevant"),
        sum(when(col("rel") === 1L && col("rank") <= 5, 1L)
          .otherwise(0L)).as("hits_at_5"),
        sum(when(col("rel") === 1L, 1L).otherwise(0L)).as("hits_at_20"),
        min(when(col("rel") === 1L, col("rank"))).as("first_rel_rank"))
      .select(col("n_relevant"), col("hits_at_5"), col("hits_at_20"),
        (col("hits_at_5").cast("double") / lit(5.0)).as("p_at_5"),
        (col("hits_at_20").cast("double") / lit(20.0)).as("p_at_20"),
        (col("hits_at_20").cast("double") /
          col("n_relevant").cast("double")).as("recall_at_20"),
        coalesce(lit(1.0) / col("first_rel_rank").cast("double"),
          lit(0.0)).as("mrr"))
  }

  private val q174Sql =
    """WITH d AS (SELECT doc_id,
      |    string_split(coalesce(text, ''), ' ') AS ws FROM documents),
      |truth AS (SELECT doc_id FROM d
      |  WHERE list_contains(ws, 'merge') AND list_contains(ws, 'slow')),
      |t AS (SELECT doc_id, len(ws) AS dl, unnest(ws) AS w FROM d),
      |tf AS (SELECT doc_id, dl, w, count(*) AS tf FROM t
      |  WHERE w IN ('merge', 'slow') GROUP BY doc_id, dl, w),
      |df AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
      |n AS (SELECT count(*) AS nd,
      |    CAST((SELECT sum(len(string_split(coalesce(text, ''), ' ')))
      |      FROM documents) AS DOUBLE) AS ntok
      |  FROM documents),
      |sc AS (SELECT doc_id,
      |    round(CAST(sum(CAST(round(
      |      ln(1 + (CAST(nd AS DOUBLE) - df + 0.5) / (df + 0.5))
      |        * (tf * 2.5)
      |        / (tf + 1.5 * (0.25 + (0.75 * dl) / (ntok / nd))), 8)
      |      AS DECIMAL(18,8))) AS DOUBLE), 4) AS score
      |  FROM tf JOIN df USING (w) CROSS JOIN n
      |  GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT 20),
      |rk AS (SELECT doc_id,
      |    row_number() OVER (ORDER BY score DESC, doc_id) AS rank
      |  FROM sc),
      |nr AS (SELECT count(*) AS n_relevant FROM truth),
      |j AS (SELECT rk.rank,
      |    CASE WHEN truth.doc_id IS NOT NULL THEN 1 ELSE 0 END AS rel
      |  FROM rk LEFT JOIN truth ON rk.doc_id = truth.doc_id)
      |SELECT max(nr.n_relevant) AS n_relevant,
      |  CAST(sum(CASE WHEN rel = 1 AND rank <= 5 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS hits_at_5,
      |  CAST(sum(rel) AS BIGINT) AS hits_at_20,
      |  CAST(sum(CASE WHEN rel = 1 AND rank <= 5 THEN 1 ELSE 0 END)
      |    AS DOUBLE) / 5.0 AS p_at_5,
      |  CAST(sum(rel) AS DOUBLE) / 20.0 AS p_at_20,
      |  CAST(sum(rel) AS DOUBLE) / max(nr.n_relevant) AS recall_at_20,
      |  coalesce(CAST(1 AS DOUBLE) /
      |    min(CASE WHEN rel = 1 THEN rank END), 0.0) AS mrr
      |FROM j CROSS JOIN nr""".stripMargin

  /** Tombstone-delete lifecycle over the inverted index
    * ([[graft.ops.InvertedIndex.deleteDocs]]) — build, tombstone a
    * batch (ids ≡ 2 mod 7), search: the right-to-be-forgotten path
    * priced end to end like q131 prices append. Segments are never
    * rewritten; the probe anti-joins the broadcast tombstone set. The
    * oracle recomputes the match over the corpus MINUS the deleted
    * ids — a green row proves deletes are exact at query time. */
  private def q171(s: SparkSession, dir: String): DataFrame = {
    val idx = graft.TempRoots.path(
      s"invidx_del_${Integer.toHexString(dir.hashCode)}")
    val docs = Tables(s, dir, "documents")
    if (!graft.ops.Fs.exists(s, s"$idx/meta"))
      InvertedIndex.build(docs, idx, nBuckets = 64)
    InvertedIndex.deleteDocs(s, idx,
      docs.where(col("doc_id") % 7 === 2).select(col("doc_id")),
      batchId = 1)
    InvertedIndex.searchAll(s, idx, Seq("merge", "spark"))
      .orderBy(col("doc_id"))
  }

  private val q171Sql =
    """WITH t AS (SELECT doc_id,
      |    unnest(string_split(coalesce(text, ''), ' ')) AS w
      |  FROM documents WHERE doc_id % 7 <> 2),
      |tf AS (SELECT doc_id, w, count(*) AS tf FROM t
      |  WHERE w IN ('merge', 'spark') GROUP BY doc_id, w)
      |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS total_tf
      |FROM tf GROUP BY doc_id HAVING count(*) = 2
      |ORDER BY doc_id""".stripMargin

  /** Delete-then-compact lifecycle ([[graft.ops.InvertedIndex
    * .compactSegments]]): tombstone a batch, merge the index, then
    * BM25-rank — the strongest possible oracle for the whole delete
    * story, because BM25 depends on the COLLECTION statistics (N,
    * avgdl, df) that only the compaction refreshes: the DuckDB twin
    * recomputes ranking over the corpus minus the deleted ids, so a
    * green row proves tombstones were dropped AND the stats were
    * rebuilt (q171's searchAll oracle cannot see stats). */
  private def q173(s: SparkSession, dir: String): DataFrame = {
    val idx = graft.TempRoots.path(
      s"invidx_compact_${Integer.toHexString(dir.hashCode)}")
    val docs = Tables(s, dir, "documents")
    if (!graft.ops.Fs.exists(s, s"$idx/meta")) {
      InvertedIndex.build(docs, idx, nBuckets = 64)
      InvertedIndex.deleteDocs(s, idx,
        docs.where(col("doc_id") % 7 === 2).select(col("doc_id")),
        batchId = 1)
      InvertedIndex.compactSegments(s, idx)
    }
    InvertedIndex.searchBm25(s, idx, Seq("merge", "spark"), 20)
  }

  private val q173Sql =
    """WITH live AS (SELECT doc_id, text FROM documents
      |  WHERE doc_id % 7 <> 2),
      |d AS (SELECT doc_id,
      |    string_split(coalesce(text, ''), ' ') AS ws FROM live),
      |t AS (SELECT doc_id, len(ws) AS dl, unnest(ws) AS w FROM d),
      |tf AS (SELECT doc_id, dl, w, count(*) AS tf FROM t
      |  WHERE w IN ('merge', 'spark') GROUP BY doc_id, dl, w),
      |df AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
      |n AS (SELECT count(*) AS nd,
      |    CAST((SELECT sum(len(string_split(coalesce(text, ''), ' ')))
      |      FROM live) AS DOUBLE) AS ntok
      |  FROM live)
      |SELECT doc_id,
      |  round(CAST(sum(CAST(round(
      |    ln(1 + (CAST(nd AS DOUBLE) - df + 0.5) / (df + 0.5))
      |      * (tf * 2.5)
      |      / (tf + 1.5 * (0.25 + (0.75 * dl) / (ntok / nd))), 8)
      |    AS DECIMAL(18,8))) AS DOUBLE), 4) AS score
      |FROM tf JOIN df USING (w) CROSS JOIN n
      |GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT 20""".stripMargin

  /** Diff-driven inverted-index maintenance (VERDICT r9 #4) — the
    * never-reindex-the-corpus path a 100 TB text index actually runs:
    * the q117 snapshot diff drives the index lifecycle, so only
    * DIFF-SIZED text is ever re-tokenized. Steps, in the order the
    * tombstone semantics force (tombstones kill a doc_id across ALL
    * segments, so a changed doc's new version must land AFTER its old
    * id is physically gone):
    *   1. [[graft.ops.InvertedIndex.deleteDocs]] tombstones
    *      removed ∪ changed old ids (cost ∝ diff);
    *   2. [[graft.ops.InvertedIndex.compactSegments]] folds the
    *      tombstones in and refreshes collection stats — the one
    *      index-wide step, but it rewrites already-indexed POSTINGS
    *      (no text ever re-tokenizes) and is the same schedulable LSM
    *      merge q173 pins;
    *   3. [[graft.ops.InvertedIndex.appendSegment]] indexes the
    *      added ∪ changed NEW versions as their own segment
    *      (cost ∝ diff).
    * The oracle recomputes BM25 over the new snapshot FROM SCRATCH —
    * a green row proves diff-maintained == rebuilt, including the
    * refreshed N/avgdl statistics. Query term 'updated' hits exactly
    * the text the changed docs gained, so a stale old version or a
    * lost new version would flip the scores. */
  private def q204(s: SparkSession, dir: String): DataFrame = {
    val idx = graft.TempRoots.path(
      s"diffidx_${Integer.toHexString(dir.hashCode)}")
    if (!graft.ops.Fs.exists(s, s"$idx/meta")) {
      val docs = Tables(s, dir, "documents")
      val oldSnap = docs.where(col("doc_id") % 5 =!= 4)
      val newSnap = docs.where(col("doc_id") % 7 =!= 6)
        .withColumn("text",
          when(col("doc_id") % 11 === 0,
            concat(coalesce(col("text"), lit("")), lit(" updated")))
            .otherwise(col("text")))
      InvertedIndex.build(oldSnap, idx, nBuckets = 64)
      // diff feeds two consumers (dead ids, upsert ids) — persist the
      // tiny (doc_id, status) table rather than re-running the
      // full-outer fingerprint join per consumer
      val diff = TextOps.snapshotDiff(oldSnap, newSnap)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      InvertedIndex.deleteDocs(s, idx,
        diff.where(col("status").isin("removed", "changed"))
          .select(col("doc_id")), batchId = 1)
      InvertedIndex.compactSegments(s, idx)
      InvertedIndex.appendSegment(
        newSnap.join(diff.where(col("status").isin("added", "changed"))
          .select(col("doc_id")), Seq("doc_id")),
        idx, segId = 1)
      diff.unpersist(blocking = false)
    }
    InvertedIndex.searchBm25(s, idx, Seq("merge", "updated"), 20)
  }

  private val q204Sql =
    """WITH live AS (SELECT doc_id,
      |    CASE WHEN doc_id % 11 = 0 THEN coalesce(text, '') || ' updated'
      |         ELSE text END AS text
      |  FROM documents WHERE doc_id % 7 <> 6),
      |d AS (SELECT doc_id,
      |    string_split(coalesce(text, ''), ' ') AS ws FROM live),
      |t AS (SELECT doc_id, len(ws) AS dl, unnest(ws) AS w FROM d),
      |tf AS (SELECT doc_id, dl, w, count(*) AS tf FROM t
      |  WHERE w IN ('merge', 'updated') GROUP BY doc_id, dl, w),
      |df AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
      |n AS (SELECT count(*) AS nd,
      |    CAST((SELECT sum(len(string_split(coalesce(text, ''), ' ')))
      |      FROM live) AS DOUBLE) AS ntok
      |  FROM live)
      |SELECT doc_id,
      |  round(CAST(sum(CAST(round(
      |    ln(1 + (CAST(nd AS DOUBLE) - df + 0.5) / (df + 0.5))
      |      * (tf * 2.5)
      |      / (tf + 1.5 * (0.25 + (0.75 * dl) / (ntok / nd))), 8)
      |    AS DECIMAL(18,8))) AS DOUBLE), 4) AS score
      |FROM tf JOIN df USING (w) CROSS JOIN n
      |GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT 20""".stripMargin

  /** Phrase search over the positional inverted index
    * ([[graft.ops.InvertedIndex.searchPhrase]]): per-doc occurrence
    * counts of an exact word sequence, answered from shifted position
    * intersections — never a text rescan. The oracle recomputes
    * occurrences by zipping the split text with ordinals. */
  private def q132(s: SparkSession, dir: String): DataFrame =
    InvertedIndex.searchPhrase(s, sharedInvIndex(s, dir),
        Seq("spark", "merge"))
      .orderBy(col("doc_id"))

  private val q132Sql =
    """WITH d AS (SELECT doc_id,
      |    string_split(coalesce(text, ''), ' ') AS ws FROM documents),
      |p0 AS (SELECT doc_id,
      |    unnest(list_zip(ws, range(1, len(ws) + 1))) AS z FROM d),
      |p AS (SELECT doc_id, z[1] AS w, z[2] AS pos FROM p0)
      |SELECT p1.doc_id AS doc_id,
      |  CAST(count(*) AS BIGINT) AS n_occurrences
      |FROM p p1 JOIN p p2
      |  ON p1.doc_id = p2.doc_id AND p2.pos = p1.pos + 1
      |WHERE p1.w = 'spark' AND p2.w = 'merge'
      |GROUP BY p1.doc_id ORDER BY p1.doc_id""".stripMargin

  /** BM25-ranked top-k over the stored inverted index
    * ([[graft.ops.InvertedIndex.searchBm25]]): the length-normalized
    * ranking every text-retrieval stack serves. df, tf, dl, N and
    * avgdl ALL come from the store (dl rides each posting as the
    * denormalized Lucene-style norm; N and token totals sum across
    * segment meta rows) — no doc-table join, no corpus rescan. The
    * oracle recomputes the full formula from raw text. */
  private def q134(s: SparkSession, dir: String): DataFrame =
    InvertedIndex.searchBm25(s, sharedInvIndex(s, dir),
      Seq("window", "scan", "join"), 20)

  private val q134Sql =
    """WITH d AS (SELECT doc_id,
      |    string_split(coalesce(text, ''), ' ') AS ws FROM documents),
      |t AS (SELECT doc_id, len(ws) AS dl, unnest(ws) AS w FROM d),
      |tf AS (SELECT doc_id, dl, w, count(*) AS tf FROM t
      |  WHERE w IN ('window', 'scan', 'join') GROUP BY doc_id, dl, w),
      |df AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
      |n AS (SELECT count(*) AS nd,
      |    CAST((SELECT sum(len(string_split(coalesce(text, ''), ' ')))
      |      FROM documents) AS DOUBLE) AS ntok
      |  FROM documents)
      |SELECT doc_id,
      |  round(CAST(sum(CAST(round(
      |    ln(1 + (CAST(nd AS DOUBLE) - df + 0.5) / (df + 0.5))
      |      * (tf * 2.5)
      |      / (tf + 1.5 * (0.25 + (0.75 * dl) / (ntok / nd))), 8)
      |    AS DECIMAL(18,8))) AS DOUBLE), 4) AS score
      |FROM tf JOIN df USING (w) CROSS JOIN n
      |GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT 20""".stripMargin

  /** Zone-map file skipping ([[graft.ops.Sharding.zoneMapIndex]] /
    * `zoneMapScan`): range-cluster the corpus ([[graft.ops.Sharding
    * .compact]], 8 files), harvest one (file, min, max, rows) index
    * row per file, then answer a doc_id range query reading ONLY the
    * files the index admits. The oracle is the same filter over the
    * raw table — a green row proves the pruned scan is exact; the
    * actually-skips-files pin lives in PipelineOpsSpec. */
  private def q135(s: SparkSession, dir: String): DataFrame = {
    val clustered = graft.TempRoots.path(
      s"zonemap_data_${Integer.toHexString(dir.hashCode)}")
    val idx = graft.TempRoots.path(
      s"zonemap_idx_${Integer.toHexString(dir.hashCode)}")
    Sharding.compact(s, s"$dir/documents.parquet", clustered, "doc_id",
      targetRecords = 64L)
    Sharding.zoneMapIndex(s, clustered, "doc_id", idx)
    Sharding.zoneMapScan(s, clustered, idx, "doc_id", 100L, 180L)
      .select(col("doc_id"), col("source"), col("n_chars"))
      .orderBy(col("doc_id"))
  }

  private val q135Sql =
    """SELECT doc_id, source, n_chars FROM documents
      |WHERE doc_id BETWEEN 100 AND 180 ORDER BY doc_id""".stripMargin

  /** Mergeable HLL sketch store ([[graft.ops.Sketches]]): sketch the
    * orders table once into per-month shard partitions (priority ×
    * month HLL blobs of the distinct customers), then answer the
    * per-priority distinct-customer question from the STORE alone —
    * the raw table is never rescanned, and sketch-of-union ==
    * union-of-sketches makes the merge exact w.r.t. a single global
    * sketch. ORACLED since r14 (the q21 envelope pattern): the
    * estimate itself is sketch-implementation-specific, so the OUTPUT
    * carries the exact per-priority distinct (computed alongside) plus
    * a boolean pinning the store-merged estimate inside a 7% envelope
    * of it (lgK=12 ⇒ rsd ≈ 1.6%, so 7% ≈ 4.3σ — real headroom over
    * the proven 3σ ≈ 4.9% bound, ADVICE r14: an envelope at the bound
    * itself is data-dependent and a different corpus or scale factor
    * could flip it with a perfectly healthy sketch; measured slack at
    * sf0.01/sf0.1 is under 2%) — a broken shard write, lossy merge or
    * estimator regression flips the boolean while the estimate never
    * has to match across engines. SketchesSpec keeps merge exactness,
    * incremental shard append, and replay idempotence. */
  private def q138(s: SparkSession, dir: String): DataFrame = {
    val store = graft.TempRoots.path(
      s"hll_store_${Integer.toHexString(dir.hashCode)}")
    val orders = Tables(s, dir, "orders")
    Sketches.writeHllShards(orders, store,
      date_format(col("o_orderdate").cast("date"), "yyyy-MM"),
      col("o_orderpriority"), col("o_custkey"))
    val exact = orders.groupBy(col("o_orderpriority").as("grp"))
      .agg(countDistinct(col("o_custkey")).as("n_exact"))
    Sketches.mergedDistinct(s, store)
      .join(exact, Seq("grp"))
      .select(col("grp"), col("n_rows"), col("n_exact"),
        (abs(col("n_distinct_est").cast("double") -
          col("n_exact").cast("double")) <=
          greatest(lit(4.0), col("n_exact").cast("double") * 0.07))
          .as("est_in_envelope"))
      .orderBy(col("grp"))
  }

  private val q138Sql =
    """SELECT o_orderpriority AS grp, count(*) AS n_rows,
      |  count(DISTINCT o_custkey) AS n_exact, TRUE AS est_in_envelope
      |FROM orders GROUP BY grp ORDER BY grp""".stripMargin

  /** Pairwise distinct-customer overlap between order priorities, from
    * the stored HLL sketches alone ([[graft.ops.Sketches
    * .overlapEstimate]]): inclusion–exclusion over the union sketch —
    * the cross-segment audience-overlap question, answered without
    * rescanning raw data. ORACLED since r14 (the q138 envelope): the
    * output carries the exact pairwise overlap (recomputed from the
    * distinct (priority, custkey) pairs — DuckDB joins the same sets)
    * plus a boolean pinning the sketch overlap inside the compounded
    * envelope SketchesSpec proves (≈√3·3σ of the UNION size at lgK=12
    * ⇒ ~8.5%; the query allows 12% ≈ 4σ — headroom over the proven
    * bound, ADVICE r14) — small overlaps of large sets drown first,
    * exactly the inclusion–exclusion failure mode the envelope
    * watches. Pairs ride the FULL grp×grp universe (left joins from
    * it, overlap and estimate coalesced to 0), so a disjoint pair is
    * asserted too instead of silently dropping (ADVICE r14). */
  /** Build-once serving store for q167's probe (the [[sharedInvIndex]]
    * split: q138 prices sketch-store CONSTRUCTION each run; the
    * overlap probe answers from an existing store). */
  private val hllStoreLock = new Object
  private def sharedHllStore(s: SparkSession, dir: String): String =
    hllStoreLock.synchronized {
      val store = graft.TempRoots.path(
        s"hll_shared_${Integer.toHexString(dir.hashCode)}")
      if (!graft.ops.Fs.exists(s, store))
        Sketches.writeHllShards(Tables(s, dir, "orders"), store,
          date_format(col("o_orderdate").cast("date"), "yyyy-MM"),
          col("o_orderpriority"), col("o_custkey"))
      store
    }

  private def q167(s: SparkSession, dir: String): DataFrame = {
    // one distinct pass feeds both self-join sides AND the size
    // aggregate (three consumers — without the persist each rescans
    // and re-distincts orders)
    val gc = Tables(s, dir, "orders")
      .select(col("o_orderpriority").as("grp"), col("o_custkey").as("c"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sizes = gc.groupBy(col("grp")).agg(count(lit(1)).as("n"))
    // the FULL pair universe (ADVICE r14: an inner join on the
    // overlap frame silently dropped any pair with ZERO exact common
    // customers, so a sketch spuriously reporting overlap for
    // disjoint sets was never envelope-checked) — a crossJoin of the
    // per-group size aggregate with itself: #priorities² rows, the
    // scalar-envelope grain
    val pairs = sizes.select(col("grp").as("grp_a"), col("n").as("na"))
      .crossJoin(sizes.select(col("grp").as("grp_b"), col("n").as("nb")))
      .where(col("grp_a") < col("grp_b"))
    val overlaps = gc.select(col("grp").as("grp_a"), col("c"))
      .join(gc.select(col("grp").as("grp_b"), col("c")), Seq("c"))
      .where(col("grp_a") < col("grp_b"))
      .groupBy(col("grp_a"), col("grp_b"))
      .agg(count(lit(1)).as("n_overlap0"))
    val exact = pairs.join(overlaps, Seq("grp_a", "grp_b"), "left")
      .withColumn("n_exact_overlap",
        coalesce(col("n_overlap0"), lit(0L)))
      .withColumn("n_exact_union",
        col("na") + col("nb") - col("n_exact_overlap"))
    // 12% ≈ 4σ of the compounded bound (√3·rsd at lgK=12 ⇒ σ ≈ 2.8%
    // of the union; the proven 3σ is ≈8.5%) — headroom over the bound
    // per ADVICE r14, so a healthy sketch on a different corpus/scale
    // cannot flip the boolean; a pair MISSING from the estimate frame
    // reads as estimate 0 and is still asserted
    exact.join(Sketches.overlapEstimate(s, sharedHllStore(s, dir)),
        Seq("grp_a", "grp_b"), "left")
      .select(col("grp_a"), col("grp_b"), col("n_exact_overlap"),
        (abs(coalesce(col("est_overlap"), lit(0L)).cast("double") -
          col("n_exact_overlap").cast("double")) <=
          greatest(lit(8.0), col("n_exact_union").cast("double") * 0.12))
          .as("overlap_in_envelope"))
      .orderBy(col("grp_a"), col("grp_b"))
  }

  private val q167Sql =
    """WITH gc AS (SELECT DISTINCT o_orderpriority AS grp, o_custkey AS c
      |  FROM orders),
      |grps AS (SELECT DISTINCT grp FROM gc),
      |ov AS (SELECT a.grp AS grp_a, b.grp AS grp_b, count(*) AS n
      |  FROM gc a JOIN gc b ON a.c = b.c AND a.grp < b.grp GROUP BY 1, 2)
      |SELECT p.grp_a, p.grp_b,
      |  CAST(COALESCE(ov.n, 0) AS BIGINT) AS n_exact_overlap,
      |  TRUE AS overlap_in_envelope
      |FROM (SELECT x.grp AS grp_a, y.grp AS grp_b
      |  FROM grps x, grps y WHERE x.grp < y.grp) p
      |LEFT JOIN ov ON p.grp_a = ov.grp_a AND p.grp_b = ov.grp_b
      |ORDER BY p.grp_a, p.grp_b""".stripMargin

  /** Incremental materialized-view maintenance ([[graft.ops.Sharding
    * .maintainStats]]): the per-source rollup is kept current under
    * the SAME CDC batch q128 merges, by delta application against only
    * the touched buckets' old rows — the corpus is never rescanned.
    * The oracle recomputes the rollup from the relationally-merged
    * corpus, so a green row proves maintained == recomputed. */
  private def q140(s: SparkSession, dir: String): DataFrame = {
    val store = graft.TempRoots.path(
      s"statstore_${Integer.toHexString(dir.hashCode)}")
    val stats = graft.TempRoots.path(
      s"statsview_${Integer.toHexString(dir.hashCode)}")
    val docs = Tables(s, dir, "documents")
    Sharding.initDocStore(docs, store, 8)
    Sharding.initStatsStore(docs, stats)
    def withLen(text: Column) = Seq(
      text.as("text"), col("lang"), col("source"),
      length(text).cast("bigint").as("n_chars"))
    val up = docs.where(col("doc_id") % 7 === 0)
      .select(col("doc_id") +: withLen(
        concat(coalesce(col("text"), lit("")), lit(" v2"))) :+
        lit("upsert").as("op"): _*)
    val ins = docs.where(col("doc_id") % 31 === 5)
      .select((col("doc_id") + 1000000L).as("doc_id") +: withLen(
        concat(lit("new "), coalesce(col("text"), lit("")))) :+
        lit("upsert").as("op"): _*)
    val del = docs.where(col("doc_id") % 13 === 3 && col("doc_id") % 7 =!= 0)
      .select(col("doc_id") +: withLen(lit(null).cast("string")) :+
        lit("delete").as("op"): _*)
    Sharding.maintainStats(s, store, stats,
        up.unionByName(ins).unionByName(del), 8)
      .orderBy(col("source"))
  }

  private val q140Sql =
    """WITH up AS (SELECT doc_id, source,
      |    length(coalesce(text, '') || ' v2') AS n_chars
      |  FROM documents WHERE doc_id % 7 = 0),
      |ins AS (SELECT doc_id + 1000000 AS doc_id, source,
      |    length('new ' || coalesce(text, '')) AS n_chars
      |  FROM documents WHERE doc_id % 31 = 5),
      |del AS (SELECT doc_id FROM documents
      |  WHERE doc_id % 13 = 3 AND doc_id % 7 <> 0),
      |changed AS (SELECT doc_id FROM up UNION ALL SELECT doc_id FROM ins
      |  UNION ALL SELECT doc_id FROM del),
      |kept AS (SELECT doc_id, source, n_chars FROM documents
      |  WHERE doc_id NOT IN (SELECT doc_id FROM changed)),
      |merged AS (SELECT * FROM kept UNION ALL SELECT * FROM up
      |  UNION ALL SELECT * FROM ins)
      |SELECT source, count(*) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS total_chars
      |FROM merged GROUP BY source ORDER BY source""".stripMargin

  /** ANALYZE-style table statistics ([[graft.ops.Sharding
    * .analyzeColumns]]): per-column row/null/exact-distinct counts and
    * string-rendered min/max over the documents table — the stats
    * collection pass every optimizer feeds on. Fully oracled (exact
    * aggregates, binary-collation string rendering on both engines). */
  private def q143(s: SparkSession, dir: String): DataFrame =
    Sharding.analyzeColumns(Tables(s, dir, "documents"),
        Seq("doc_id", "lang", "source", "n_chars"))
      .orderBy(col("col_name"))

  private val q143Sql =
    """SELECT 'doc_id' AS col_name, count(*) AS n_rows,
      |  count(*) - count(doc_id) AS n_nulls,
      |  count(DISTINCT doc_id) AS n_distinct,
      |  CAST(min(doc_id) AS VARCHAR) AS min_val,
      |  CAST(max(doc_id) AS VARCHAR) AS max_val FROM documents
      |UNION ALL
      |SELECT 'lang', count(*), count(*) - count(lang),
      |  count(DISTINCT lang), CAST(min(lang) AS VARCHAR),
      |  CAST(max(lang) AS VARCHAR) FROM documents
      |UNION ALL
      |SELECT 'source', count(*), count(*) - count(source),
      |  count(DISTINCT source), CAST(min(source) AS VARCHAR),
      |  CAST(max(source) AS VARCHAR) FROM documents
      |UNION ALL
      |SELECT 'n_chars', count(*), count(*) - count(n_chars),
      |  count(DISTINCT n_chars), CAST(min(n_chars) AS VARCHAR),
      |  CAST(max(n_chars) AS VARCHAR) FROM documents
      |ORDER BY col_name""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q96_ngram_contamination", q96, q96Sql),
    QueryDef("q97_shard_export", q97, q97Sql, dense = true),
    QueryDef("q98_context_packing", q98, q98Sql),
    QueryDef("q99_filter_funnel", q99, q99Sql),
    QueryDef("q100_embedding_neardup_ivf", q100, q100Sql, dense = true),
    QueryDef("q101_stream_schema", q101, q101Sql),
    QueryDef("q102_curation_e2e", q102, q102Sql, dense = true),
    QueryDef("q103_dedup_best_quality", q103, q103Sql, dense = true),
    QueryDef("q104_incremental_dedup", q104, q104Sql),
    QueryDef("q105_data_card", q105, q105Sql, dense = true),
    QueryDef("q106_diversity_sample", q106, q106Sql),
    QueryDef("q107_token_budget_mix", q107, q107Sql),
    QueryDef("q109_schema_evolution", q109, q109Sql),
    QueryDef("q110_adaptive_quality", q110, q110Sql),
    QueryDef("q111_strip_boilerplate", q111, q111Sql),
    QueryDef("q112_incremental_ivf_index", q112, q112Sql),
    QueryDef("q113_neardup_suppress", q113, q113Sql),
    QueryDef("q114_curation_lineage", q114, q114Sql),
    QueryDef("q116_index_lifecycle", q116, q116Sql),
    QueryDef("q117_snapshot_diff", q117, q117Sql),
    QueryDef("q118_train_val_test", q118, q118Sql),
    QueryDef("q119_incremental_curation", q119, q119Sql),
    QueryDef("q120_index_drift", q120, driftVerdictSql),
    QueryDef("q124_compaction", q124, q124Sql, dense = true),
    QueryDef("q125_zorder_layout", q125, q125Sql, dense = true),
    QueryDef("q128_cdc_merge", q128, q128Sql),
    QueryDef("q129_index_search", q129, q129Sql),
    QueryDef("q130_index_ranked", q130, q130Sql),
    QueryDef("q131_index_append", q131, q131Sql, dense = true),
    QueryDef("q132_phrase_search", q132, q132Sql),
    QueryDef("q134_bm25_search", q134, q134Sql),
    QueryDef("q135_zone_map_scan", q135, q135Sql),
    QueryDef("q138_hll_sketch_store", q138, q138Sql, dense = true),
    QueryDef("q140_incremental_rollup", q140, q140Sql),
    QueryDef("q143_table_stats", q143, q143Sql),
    QueryDef("q146_orc_roundtrip", q146, q146Sql, dense = true),
    QueryDef("q154_scd2_history", q154, q154Sql, dense = true),
    QueryDef("q156_pointintime_join", q156, q156Sql),
    QueryDef("q158_data_expectations", q158, q158Sql),
    QueryDef("q164_trigram_search", q164, q164Sql),
    QueryDef("q170_chunk_retrieval", q170, q170Sql),
    QueryDef("q171_index_delete", q171, q171Sql),
    QueryDef("q172_hybrid_retrieval", q172, q172Sql),
    QueryDef("q173_index_compaction", q173, q173Sql),
    QueryDef("q174_retrieval_eval", q174, q174Sql),
    QueryDef("q167_hll_overlap", q167, q167Sql, dense = true),
    QueryDef("q192_xml_roundtrip", q192, q192Sql),
    QueryDef("q190_hist_quantiles", q190, q190Sql),
    QueryDef("q203_pq_index_drift", q203, driftVerdictSql),
    QueryDef("q204_diff_index_maintenance", q204, q204Sql),
    QueryDef("q206_diff_ivf_maintenance", q206, q206Sql),
    QueryDef("q211_ivf_compaction", q211, q211Sql),
    QueryDef("q213_full_upsert_maintenance", q213, q213Sql),
    QueryDef("q251_sql_merge_cdc", q251, q251Sql, dense = true),
    QueryDef("q252_hybrid_stored_rrf", q252, q252Sql),
    QueryDef("q256_hybrid_batch_rrf", q256, q256Sql))
}
