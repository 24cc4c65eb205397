package graft.queries

import graft.QueryDef
import graft.ops.{TextOps, VectorOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-4 curation operators: Bloom-filter contamination screening,
  * int8 embedding quantization audit, Zipf/head token statistics, and
  * quota-based stratified sampling. Same determinism conventions as
  * [[LlmQueries]]. */
object Curation {

  /** Bloom-filter contamination screen. ORACLED since r13 (previously
    * rows-only — the raw flag set includes hash-family-specific false
    * positives): the screen still runs, but the output is the EXACT
    * contaminated set (the q70 fingerprint semantics, DuckDB-
    * recomputable) with each row carrying whether the bloom flagged it
    * — false would be a false NEGATIVE, impossible by the bloom
    * guarantee, so the oracle asserts the column as literal TRUE and a
    * probe regression flips the hash
    * ([[TextOps.bloomContaminationAudit]]). */
  private def q85(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    TextOps.bloomContaminationAudit(
      docs.where(col("source") =!= "src0"),
      docs.where(col("source") === "src0"))
      .orderBy(col("doc_id"))
  }

  private val q85Sql =
    """WITH fp AS (SELECT doc_id, source,
      |    md5(array_to_string(list_sort(list_distinct(string_split(coalesce(text, ''), ' '))), ' ')) AS fp
      |  FROM documents)
      |SELECT fp, doc_id, TRUE AS bloom_flagged FROM fp
      |WHERE source <> 'src0'
      |  AND fp IN (SELECT fp FROM fp WHERE source = 'src0')
      |ORDER BY doc_id""".stripMargin

  /** Int8 quantization audit: per-dimension scale + exact
    * reconstruction-error aggregates. */
  private def q86(s: SparkSession, dir: String): DataFrame =
    VectorOps.quantizeEmbeddings(Tables(s, dir, "embeddings"))

  private val q86Sql =
    """WITH e AS (SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
      |             CAST(unnest(embedding) AS DOUBLE) AS v FROM embeddings),
      |s AS (SELECT pos, max(abs(v)) AS max_abs, max(abs(v)) / 127.0 AS scale
      |      FROM e GROUP BY pos HAVING max(abs(v)) > 0),
      |j AS (SELECT e.pos, v, scale, max_abs, round(v / scale, 0) AS q
      |      FROM e JOIN s ON e.pos = s.pos),
      |c AS (SELECT pos, max_abs,
      |        CASE WHEN q < -127 OR q > 127 THEN 1 ELSE 0 END AS clipped,
      |        CAST(abs(least(greatest(q, -127), 127) * scale - v) AS DECIMAL(20,12)) AS abs_err
      |      FROM j)
      |SELECT CAST(pos AS BIGINT) AS pos, count(*) AS n_values,
      |  CAST(sum(clipped) AS BIGINT) AS n_clipped,
      |  CAST(round(max(max_abs), 4) AS DOUBLE) AS max_abs,
      |  CAST(round(sum(abs_err), 6) AS DOUBLE) AS sum_abs_err,
      |  CAST(round(max(abs_err), 6) AS DOUBLE) AS max_abs_err
      |FROM c GROUP BY pos ORDER BY pos""".stripMargin

  /** Zipf/head token statistics per document. */
  private def q87(s: SparkSession, dir: String): DataFrame =
    TextOps.zipfStats(Tables(s, dir, "documents"))
      .orderBy(col("doc_id"))

  private val q87Sql =
    """WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
      |           FROM documents),
      |c AS (SELECT doc_id, word, count(*) AS c FROM w GROUP BY doc_id, word),
      |m AS (SELECT *, max(c) OVER (PARTITION BY doc_id) AS top_n FROM c)
      |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_words, count(*) AS n_distinct,
      |  CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
      |  max(c) AS top_count,
      |  min(CASE WHEN c = top_n THEN word END) AS top_word,
      |  round(max(c)::DOUBLE / sum(c), 4) AS top_ratio
      |FROM m GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Quota-based stratified sample: 20 docs per source by md5 order. */
  private def q88(s: SparkSession, dir: String): DataFrame =
    TextOps.stratifiedSample(Tables(s, dir, "documents"), 20)
      .withColumn("sample_rank", col("sample_rank").cast("bigint"))
      .orderBy(col("source"), col("doc_id"))

  private val q88Sql =
    """WITH r AS (SELECT doc_id, source,
      |    row_number() OVER (PARTITION BY source
      |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS sample_rank
      |  FROM documents)
      |SELECT doc_id, source, CAST(sample_rank AS BIGINT) AS sample_rank
      |FROM r WHERE sample_rank <= 20 ORDER BY source, doc_id""".stripMargin

  /** k-anonymity audit — the privacy gate a training-data release
    * runs before shipping records with quasi-identifiers (Sweeney
    * 2002): group customers by the QI tuple (nation, market segment,
    * account-balance bucket) and report, for each standard threshold
    * k ∈ {2,5,10,20}, how many equivalence classes and how many ROWS
    * sit in groups smaller than k — the rows re-identifiable at that
    * anonymity level. One corpus scan + one QI-keyed aggregation
    * (map-side combined); the per-threshold report folds out of the
    * tiny group table, so the shape is identical at 100 TB. Bucketing
    * the continuous QI is the standard generalization step —
    * floor(bal/500) in DOUBLE on both engines. */
  private def q216(s: SparkSession, dir: String): DataFrame = {
    val groups = Tables(s, dir, "customer")
      .select(col("c_nationkey"), col("c_mktsegment"),
        floor(col("c_acctbal") / 500).cast("bigint").as("bal_bucket"))
      .groupBy(col("c_nationkey"), col("c_mktsegment"), col("bal_bucket"))
      .agg(count(lit(1)).as("k"))
    def below(t: Int, what: org.apache.spark.sql.Column) =
      sum(when(col("k") < t, what).otherwise(lit(0L))).cast("bigint")
    groups.agg(
        sum(col("k")).as("n"),
        below(2, lit(1L)).as("g2"), below(2, col("k")).as("r2"),
        below(5, lit(1L)).as("g5"), below(5, col("k")).as("r5"),
        below(10, lit(1L)).as("g10"), below(10, col("k")).as("r10"),
        below(20, lit(1L)).as("g20"), below(20, col("k")).as("r20"))
      .select(expr(
        """stack(4,
          |  CAST(2 AS BIGINT), g2, r2, round(CAST(r2 AS DOUBLE) / n, 4),
          |  CAST(5 AS BIGINT), g5, r5, round(CAST(r5 AS DOUBLE) / n, 4),
          |  CAST(10 AS BIGINT), g10, r10, round(CAST(r10 AS DOUBLE) / n, 4),
          |  CAST(20 AS BIGINT), g20, r20, round(CAST(r20 AS DOUBLE) / n, 4))
          |AS (k_threshold, n_groups_below, n_rows_below, frac_rows_below)
          |""".stripMargin))
      .orderBy(col("k_threshold"))
  }

  private val q216Sql =
    """WITH q AS (SELECT c_nationkey, c_mktsegment,
      |    CAST(floor(c_acctbal / 500) AS BIGINT) AS bal_bucket
      |  FROM customer),
      |g AS (SELECT c_nationkey, c_mktsegment, bal_bucket, count(*) AS k
      |  FROM q GROUP BY 1, 2, 3),
      |s AS (SELECT CAST(sum(k) AS BIGINT) AS n,
      |  CAST(sum(CASE WHEN k < 2 THEN 1 ELSE 0 END) AS BIGINT) AS g2,
      |  CAST(sum(CASE WHEN k < 2 THEN k ELSE 0 END) AS BIGINT) AS r2,
      |  CAST(sum(CASE WHEN k < 5 THEN 1 ELSE 0 END) AS BIGINT) AS g5,
      |  CAST(sum(CASE WHEN k < 5 THEN k ELSE 0 END) AS BIGINT) AS r5,
      |  CAST(sum(CASE WHEN k < 10 THEN 1 ELSE 0 END) AS BIGINT) AS g10,
      |  CAST(sum(CASE WHEN k < 10 THEN k ELSE 0 END) AS BIGINT) AS r10,
      |  CAST(sum(CASE WHEN k < 20 THEN 1 ELSE 0 END) AS BIGINT) AS g20,
      |  CAST(sum(CASE WHEN k < 20 THEN k ELSE 0 END) AS BIGINT) AS r20
      |  FROM g)
      |SELECT k_threshold, n_groups_below, n_rows_below, frac_rows_below
      |FROM (
      |  SELECT CAST(2 AS BIGINT) AS k_threshold, g2 AS n_groups_below,
      |    r2 AS n_rows_below,
      |    round(CAST(r2 AS DOUBLE) / n, 4) AS frac_rows_below FROM s
      |  UNION ALL SELECT 5, g5, r5, round(CAST(r5 AS DOUBLE) / n, 4) FROM s
      |  UNION ALL SELECT 10, g10, r10,
      |    round(CAST(r10 AS DOUBLE) / n, 4) FROM s
      |  UNION ALL SELECT 20, g20, r20,
      |    round(CAST(r20 AS DOUBLE) / n, 4) FROM s)
      |ORDER BY k_threshold""".stripMargin

  /** Matryoshka truncation audit (Kusupati et al. 2022): how much
    * retrieval quality survives keeping only the first L dimensions of
    * every embedding — the measurement behind shipping d=8/16/32
    * prefixes of a d=64 model to cut index bytes 8×. For each prefix
    * length, recall@3 of truncated-cosine top-3 against full-dim
    * top-3, with the L=64 row pinned at recall 1 as the self-check.
    * Cosines follow the engine convention exactly (sequential-fold
    * dot/norms, round 4 BEFORE ranking, vec_id tiebreak), and the
    * recall mean is computed from integer hit counts (sum of ints /
    * 3n) — a double `avg` would be partial-aggregation-order
    * dependent and could flip the 4th decimal against the oracle.
    * Scale shape: queries broadcast (tiny), corpus scanned once per
    * prefix via one exploded literal array — at 100 TB this is the
    * brute-force calibration run over a SAMPLE; the production path
    * the audit calibrates is the IVF/PQ stores. */
  private def q218(s: SparkSession, dir: String): DataFrame = {
    val e = Tables(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val q = e.where(col("vec_id") % 101 === 5)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    def dot = Tables.dotFold _
    val sc = e.crossJoin(broadcast(q))
      .withColumn("L", explode(lit(Array(8, 16, 32, 64))))
      .withColumn("qs", slice(col("qv"), lit(1), col("L")))
      .withColumn("vs", slice(col("v"), lit(1), col("L")))
      .withColumn("cos", round(dot(col("qs"), col("vs")) /
        (sqrt(dot(col("qs"), col("qs"))) * sqrt(dot(col("vs"), col("vs")))), 4))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("L"), col("query_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    val top = sc.withColumn("rk", row_number().over(w)).where(col("rk") <= 3)
      .select(col("L"), col("query_id"), col("vec_id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val full = top.where(col("L") === 64)
      .select(col("query_id"), col("vec_id"))
    top.join(full, Seq("query_id", "vec_id"), "left_semi")
      .groupBy(col("L").cast("bigint").as("trunc_dim"))
      .agg(count(lit(1)).as("n_hits"))
      .join(top.groupBy(col("L").cast("bigint").as("trunc_dim"))
        .agg((count(lit(1)) / 3).cast("bigint").as("n_queries")), "trunc_dim")
      .select(col("trunc_dim"), col("n_queries"),
        round(col("n_hits").cast("double") / (col("n_queries") * 3), 4)
          .as("mean_recall3"))
      .orderBy(col("trunc_dim"))
  }

  private val q218Sql =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |q AS (SELECT vec_id AS query_id, v AS qv FROM e
      |  WHERE vec_id % 101 = 5),
      |l AS (SELECT unnest([8, 16, 32, 64]) AS L),
      |sc AS (SELECT L, query_id, e.vec_id,
      |    round(list_cosine_similarity(qv[1:L], v[1:L]), 4) AS cos
      |  FROM q CROSS JOIN e CROSS JOIN l),
      |r AS (SELECT L, query_id, vec_id, row_number() OVER (
      |    PARTITION BY L, query_id ORDER BY cos DESC, vec_id) AS rk
      |  FROM sc),
      |t AS (SELECT L, query_id, vec_id FROM r WHERE rk <= 3),
      |f AS (SELECT query_id, vec_id FROM t WHERE L = 64),
      |h AS (SELECT t.L, count(*) AS n_hits FROM t
      |  JOIN f ON t.query_id = f.query_id AND t.vec_id = f.vec_id
      |  GROUP BY t.L),
      |n AS (SELECT L, CAST(count(*) / 3 AS BIGINT) AS n_queries
      |  FROM t GROUP BY L)
      |SELECT CAST(n.L AS BIGINT) AS trunc_dim, n_queries,
      |  round(CAST(n_hits AS DOUBLE) / (n_queries * 3), 4) AS mean_recall3
      |FROM n JOIN h ON n.L = h.L ORDER BY trunc_dim""".stripMargin

  /** Exact n-gram decontamination audit (the GPT-3 appendix-C /
    * benchmark-overlap shape): treat `doc_id % 7 = 3` as the held-out
    * benchmark set, extract word n-grams for n ∈ {2,3,5}, and report
    * per n how many corpus docs share at least one n-gram with the
    * benchmark, how many distinct grams match in total, and the
    * micro-averaged contamination rate (matched grams / all grams of
    * the contaminated docs — two integer sums then ONE division, so no
    * partial-aggregation-order dependence; a per-doc-ratio `avg`
    * would sum doubles in shuffle order). Complements q85's Bloom
    * screen with an exactly-oracled precision pass at three n.
    * Grams shuffle and join as xxhash64 of the rendered n-gram — the
    * q51/q205 equivalence: the oracle joins raw strings, and the
    * aggregates agree unless 64-bit hashes collide within the gram
    * set (~1e-9 at sf0.1; the oracle compare would flag exactly
    * that). 8-byte keys shrink the distinct+join shuffle ~4× versus
    * rendered strings — at sf0.1 the query is compute-bound (measured
    * 2.44s string vs 2.47s hashed, noise-equal) but the width is what
    * survives a 1000-executor shuffle.
    *
    * Scale shape: the benchmark gram set is DISTINCT-folded then
    * broadcast (real benchmarks are MBs against a 100 TB corpus); the
    * corpus side is one scan → explode → keyed distinct/aggregate —
    * no all-pairs, per-key state bounded by doc length × 3. */
  private def q219(s: SparkSession, dir: String): DataFrame = {
    val ns = Array(2, 3, 5)
    def grams(df: DataFrame): DataFrame = graft.ops.Fanout(df)
      .select(col("doc_id"), split(coalesce(col("text"), lit("")), " ").as("ws"))
      .withColumn("n", explode(lit(ns)))
      // sequence(0, negative) would DESCEND in Spark; guard short docs
      .where(size(col("ws")) >= col("n"))
      .select(col("doc_id"), col("n"), explode(transform(
        sequence(lit(0), size(col("ws")) - col("n")),
        i => xxhash64(concat_ws(" ", slice(col("ws"), i + lit(1), col("n"))))))
        .as("g"))
    val docs = Tables(s, dir, "documents").select(col("doc_id"), col("text"))
    val bench = grams(docs.where(col("doc_id") % 7 === 3))
      .select(col("n"), col("g")).distinct()
    val corpus = grams(docs.where(col("doc_id") % 7 =!= 3))
      .distinct() // (n, doc_id, g): matched grams count once per doc
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val perDoc = corpus.groupBy(col("n"), col("doc_id"))
      .agg(count(lit(1)).as("tot"))
    val hits = corpus.join(broadcast(bench), Seq("n", "g"))
      .groupBy(col("n"), col("doc_id")).agg(count(lit(1)).as("h"))
    hits.join(perDoc, Seq("n", "doc_id"))
      .groupBy(col("n").cast("bigint").as("ngram_n"))
      .agg(count(lit(1)).as("contaminated_docs"),
        sum(col("h")).as("total_hits"),
        round(sum(col("h")).cast("double") / sum(col("tot")), 4)
          .as("contam_rate"))
      .orderBy(col("ngram_n"))
  }

  private val q219Sql =
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
      |  FROM documents),
      |l AS (SELECT unnest([2, 3, 5]) AS n),
      |grams AS (SELECT n, doc_id, array_to_string(t[i : i+n-1], ' ') AS g
      |  FROM toks CROSS JOIN l,
      |    LATERAL unnest(range(1, len(t)-n+2)) AS s(i)),
      |bench AS (SELECT DISTINCT n, g FROM grams WHERE doc_id % 7 = 3),
      |corpus AS (SELECT DISTINCT n, doc_id, g FROM grams
      |  WHERE doc_id % 7 <> 3),
      |hits AS (SELECT n, doc_id, count(*) AS h
      |  FROM corpus JOIN bench USING (n, g) GROUP BY 1, 2),
      |totals AS (SELECT n, doc_id, count(*) AS tot FROM corpus
      |  GROUP BY 1, 2)
      |SELECT CAST(n AS BIGINT) AS ngram_n, count(*) AS contaminated_docs,
      |  CAST(sum(h) AS BIGINT) AS total_hits,
      |  round(CAST(sum(h) AS DOUBLE) / sum(tot), 4) AS contam_rate
      |FROM hits JOIN totals USING (n, doc_id)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Temperature-scaled source mixture (the multilingual-sampling
    * rule of mC4/PaLM: p_i ∝ n_i^α): per-source token counts →
    * sampling weight and boost (weight / natural share — >1 means
    * the source is up-sampled). α = 0.5 deliberately, so the power
    * is `sqrt` — correctly rounded by IEEE in BOTH engines, where a
    * live `pow(x, 0.3)` would diverge in ulps (the q199 libm
    * lesson). The denominator Σ√n_i is a SEQUENTIAL fold in source
    * order on both sides (Spark `aggregate` over a sorted
    * collect_list, DuckDB `list_reduce` over `list(... ORDER BY)`) —
    * bit-identical, unlike an unordered double `sum()`. Counts are
    * exact bigints; every division happens once, at the end.
    * Scale shape: one scan → per-source aggregate (map-side
    * combined, |sources| rows) → broadcast of the 1-row denominator. */
  private def q222(s: SparkSession, dir: String): DataFrame = {
    val tok = Tables(s, dir, "documents")
      .select(col("source"),
        size(split(coalesce(col("text"), lit("")), " "))
          .cast("bigint").as("t"))
      .groupBy(col("source")).agg(sum(col("t")).as("n_tokens"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val denom = tok.agg(
      aggregate(
        array_sort(collect_list(struct(col("source"), sqrt(col("n_tokens"))
          .as("pw")))),
        lit(0.0d), (acc, x) => acc + x.getField("pw")).as("denom"),
      sum(col("n_tokens")).as("total"))
    tok.crossJoin(broadcast(denom))
      .select(col("source"), col("n_tokens"),
        round(sqrt(col("n_tokens")) / col("denom"), 4).as("weight"),
        round((sqrt(col("n_tokens")) / col("denom")) /
          (col("n_tokens").cast("double") / col("total")), 4).as("boost"))
      .orderBy(col("source"))
  }

  private val q222Sql =
    """WITH tok AS (SELECT source,
      |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      |  FROM documents GROUP BY source),
      |d AS (SELECT
      |    list_reduce(list(sqrt(n_tokens) ORDER BY source),
      |      (a, b) -> a + b) AS denom,
      |    CAST(sum(n_tokens) AS BIGINT) AS total FROM tok)
      |SELECT source, n_tokens,
      |  round(sqrt(n_tokens) / denom, 4) AS weight,
      |  round((sqrt(n_tokens) / denom) /
      |        (CAST(n_tokens AS DOUBLE) / total), 4) AS boost
      |FROM tok CROSS JOIN d ORDER BY source""".stripMargin

  /** Rare-character-trigram fraction — the language-model-free
    * gibberish detector (a KenLM-perplexity stand-in computable
    * without a model): per document, the share of character-trigram
    * OCCURRENCES whose whole-corpus frequency is ≤ 2. Natural text
    * re-uses the corpus's common trigrams; mojibake, base64 blobs,
    * and shuffled text land in the long tail. Every output derives
    * from integer counts (occurrence counts, per-doc totals) with ONE
    * division at the end — no cross-engine double-sum surface.
    * Scale shape: one explode → corpus-keyed count (the rare SET is
    * the long tail, so at 100 TB the semi-join against it shuffles by
    * trigram rather than broadcasting; common-trigram skew never
    * enters — the rare side is by construction the unskewed tail). */
  private def q223(s: SparkSession, dir: String): DataFrame = {
    val grams = Tables(s, dir, "documents")
      .where(length(col("text")) >= 3)
      .select(col("doc_id"), explode(transform(
        sequence(lit(1), length(col("text")) - 2),
        i => col("text").substr(i, lit(3)))).as("g"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val rare = grams.groupBy(col("g")).agg(count(lit(1)).as("c"))
      .where(col("c") <= 2).select(col("g"))
    val rareHits = grams.join(rare, Seq("g"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_rare"))
    Tables(s, dir, "documents")
      .where(length(col("text")) >= 3)
      .select(col("doc_id"),
        (length(col("text")) - 2).cast("bigint").as("n_tri"))
      .join(rareHits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tri"),
        coalesce(col("n_rare"), lit(0L)).as("n_rare"),
        round(coalesce(col("n_rare"), lit(0L)).cast("double") /
          col("n_tri"), 4).as("rare_frac"))
      .orderBy(col("doc_id"))
  }

  private val q223Sql =
    """WITH g AS (SELECT doc_id, substr(text, i, 3) AS g
      |  FROM documents, LATERAL unnest(range(1, len(text) - 1)) AS s(i)
      |  WHERE len(text) >= 3),
      |rare AS (SELECT g FROM (SELECT g, count(*) AS c FROM g GROUP BY g)
      |  WHERE c <= 2),
      |hits AS (SELECT doc_id, count(*) AS n_rare
      |  FROM g JOIN rare USING (g) GROUP BY doc_id)
      |SELECT d.doc_id, CAST(len(text) - 2 AS BIGINT) AS n_tri,
      |  CAST(coalesce(n_rare, 0) AS BIGINT) AS n_rare,
      |  round(CAST(coalesce(n_rare, 0) AS DOUBLE) / (len(text) - 2), 4)
      |    AS rare_frac
      |FROM documents d LEFT JOIN hits ON d.doc_id = hits.doc_id
      |WHERE len(text) >= 3 ORDER BY d.doc_id""".stripMargin

  /** Token-distribution drift between two corpus cohorts (the χ²
    * monitor a pipeline runs between snapshot halves / ingest days):
    * per-token chi-square contributions for the 50 globally most
    * frequent tokens, cohorts A = even doc_id, B = odd. Every row's
    * arithmetic derives from exact bigint counts with an IDENTICAL
    * operation order on both engines (expected = double(total_t)·n_A
    * / (n_A+n_B); squares as x·x) — per-row determinism, no
    * cross-engine Σ-of-doubles at all because the STATISTIC is
    * reported per token, the way a drift dashboard actually plots it.
    * Top-50 selection is total-ordered (count desc, token asc).
    * Scale shape: one scan → token-keyed aggregate with BOTH cohort
    * counts as conditional sums in one pass (no self-join), top-k via
    * TakeOrderedAndProject, totals broadcast as one row. */
  private def q224(s: SparkSession, dir: String): DataFrame = {
    val words = Tables(s, dir, "documents")
      .select((col("doc_id") % 2).as("grp"),
        explode(split(coalesce(col("text"), lit("")), " ")).as("w"))
    val counts = words.groupBy(col("w"))
      .agg(sum(when(col("grp") === 0, 1L).otherwise(0L)).as("count_a"),
        sum(when(col("grp") =!= 0, 1L).otherwise(0L)).as("count_b"))
      .orderBy((col("count_a") + col("count_b")).desc, col("w"))
      .limit(50)
    val totals = words.groupBy().agg(
      sum(when(col("grp") === 0, 1L).otherwise(0L)).as("na"),
      sum(when(col("grp") =!= 0, 1L).otherwise(0L)).as("nb"))
    val ea = (col("count_a") + col("count_b")).cast("double") *
      col("na") / (col("na") + col("nb"))
    val eb = (col("count_a") + col("count_b")).cast("double") *
      col("nb") / (col("na") + col("nb"))
    counts.crossJoin(broadcast(totals))
      .select(col("w").as("token"), col("count_a"), col("count_b"),
        round((col("count_a") - ea) * (col("count_a") - ea) / ea +
          (col("count_b") - eb) * (col("count_b") - eb) / eb, 4)
          .as("chisq_contrib"))
      .orderBy((col("count_a") + col("count_b")).desc, col("token"))
  }

  private val q224Sql =
    """WITH w AS (SELECT doc_id % 2 AS grp,
      |    unnest(string_split(text, ' ')) AS w FROM documents),
      |c AS (SELECT w,
      |    CAST(sum(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS count_a,
      |    CAST(sum(CASE WHEN grp <> 0 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS count_b
      |  FROM w GROUP BY w ORDER BY count_a + count_b DESC, w LIMIT 50),
      |t AS (SELECT
      |    CAST(sum(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS BIGINT) AS na,
      |    CAST(sum(CASE WHEN grp <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS nb
      |  FROM w)
      |SELECT w AS token, count_a, count_b,
      |  round((count_a - CAST(count_a + count_b AS DOUBLE) * na / (na + nb))
      |      * (count_a - CAST(count_a + count_b AS DOUBLE) * na / (na + nb))
      |      / (CAST(count_a + count_b AS DOUBLE) * na / (na + nb))
      |    + (count_b - CAST(count_a + count_b AS DOUBLE) * nb / (na + nb))
      |      * (count_b - CAST(count_a + count_b AS DOUBLE) * nb / (na + nb))
      |      / (CAST(count_a + count_b AS DOUBLE) * nb / (na + nb)), 4)
      |    AS chisq_contrib
      |FROM c CROSS JOIN t
      |ORDER BY count_a + count_b DESC, token""".stripMargin

  /** RAG chunking audit (q225): fixed 200-char windows on a 150-char
    * stride (25% overlap — the retrieval-chunking default shape),
    * plus cross-corpus boilerplate detection: a chunk whose md5
    * appears under more than one (doc, start) is repeated text that
    * would flood a retrieval index with near-identical hits. Chunk
    * boundaries are pure arithmetic (`sequence(1, len, 150)` ↔
    * DuckDB `range`), fingerprints are md5 (byte-stable in both
    * engines), and every reported number is an integer count or one
    * final division. Scale shape: one scan → explode (bounded ×len/
    * stride) → one md5-keyed aggregate for the duplicate set, one
    * doc-keyed aggregate for the report; the dup set joins back by
    * hash, never by chunk text. */
  private def q225(s: SparkSession, dir: String): DataFrame = {
    val chunks = Tables(s, dir, "documents")
      // empty docs have no chunks — and the 3-arg sequence(1, 0, 150)
      // THROWS on illegal boundaries (unlike the 2-arg form's
      // auto-direction), so the guard is load-bearing, not cosmetic;
      // the oracle's range(1, len+1, 150) yields empty and its WHERE
      // mirrors this filter exactly
      .where(length(col("text")) >= 1)
      .select(col("doc_id"), explode(transform(
        sequence(lit(1), length(col("text")), lit(150)),
        st => md5(col("text").substr(st, lit(200))))).as("fp"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dup = chunks.groupBy(col("fp")).agg(count(lit(1)).as("c"))
      .where(col("c") >= 2).select(col("fp"))
    val perDoc = chunks.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"))
    val dupPerDoc = chunks.join(dup, Seq("fp"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_dup"))
    perDoc.join(dupPerDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_chunks"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup_chunks"),
        round(coalesce(col("n_dup"), lit(0L)).cast("double") /
          col("n_chunks"), 4).as("dup_frac"))
      .orderBy(col("doc_id"))
  }

  private val q225Sql =
    """WITH ch AS (SELECT doc_id, md5(substr(text, i, 200)) AS fp
      |  FROM documents, LATERAL unnest(range(1, len(text) + 1, 150))
      |    AS s(i) WHERE len(text) >= 1),
      |dup AS (SELECT fp FROM (SELECT fp, count(*) AS c FROM ch
      |  GROUP BY fp) WHERE c >= 2),
      |pd AS (SELECT doc_id, count(*) AS n_chunks FROM ch GROUP BY doc_id),
      |dd AS (SELECT doc_id, count(*) AS n_dup FROM ch JOIN dup USING (fp)
      |  GROUP BY doc_id)
      |SELECT pd.doc_id, n_chunks,
      |  CAST(coalesce(n_dup, 0) AS BIGINT) AS n_dup_chunks,
      |  round(CAST(coalesce(n_dup, 0) AS DOUBLE) / n_chunks, 4)
      |    AS dup_frac
      |FROM pd LEFT JOIN dd ON pd.doc_id = dd.doc_id
      |ORDER BY pd.doc_id""".stripMargin

  /** Semantic decontamination (q226) — the embedding-space complement
    * of q219's exact n-gram pass (the SemDeDup/benchmark-leakage
    * screen): for every corpus vector, its MAXIMUM cosine to the
    * held-out benchmark set (`vec_id % 89 = 7`), rolled up per label
    * as flagged-count and rate at τ = 0.3. τ calibrates per embedding
    * model — on the synthetic vectors the cross-set max tops out
    * ≈0.49, so 0.3 exercises the mechanics non-degenerately; a real
    * deployment sets it from a held-out duplicate curve. Cosines
    * follow the engine convention (sequential-fold dot/norms, round 4
    * before comparison); flags and totals are integer counts, the
    * rate is one division.
    * Scale shape: the benchmark set broadcasts (tiny vs corpus), one
    * corpus scan, per-vector max then a label-keyed rollup — at
    * 100 TB the production path is the stored IVF index (q112's
    * incremental screen); this is its exact calibration twin. */
  private def q226(s: SparkSession, dir: String): DataFrame = {
    val e = Tables(s, dir, "embeddings")
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("v"))
    def dot = Tables.dotFold _
    // norms hoisted OUT of the cross product (loop-invariant — unlike
    // q218, where they depend on the per-pair prefix slice): one fold
    // per row instead of three per pair, numerically identical (same
    // sequential fold over the same array)
    val bench = e.where(col("vec_id") % 89 === 7)
      .select(col("v").as("bv"), sqrt(dot(col("v"), col("v"))).as("bnorm"))
    val corpus = e.where(col("vec_id") % 89 =!= 7)
      .withColumn("vnorm", sqrt(dot(col("v"), col("v"))))
    corpus.crossJoin(broadcast(bench))
      .withColumn("cos", round(dot(col("v"), col("bv")) /
        (col("vnorm") * col("bnorm")), 4))
      .groupBy(col("vec_id"), col("label"))
      .agg(max(col("cos")).as("mx"))
      .groupBy(col("label").cast("bigint").as("label"))
      .agg(count(lit(1)).as("n_vectors"),
        sum(when(col("mx") >= 0.3, 1L).otherwise(0L)).as("n_flagged"),
        round(sum(when(col("mx") >= 0.3, 1L).otherwise(0L)).cast("double") /
          count(lit(1)), 4).as("flag_rate"),
        max(col("mx")).as("max_benchmark_cos"))
      .orderBy(col("label"))
  }

  private val q226Sql =
    """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v
      |  FROM embeddings),
      |b AS (SELECT v AS bv FROM e WHERE vec_id % 89 = 7),
      |c AS (SELECT vec_id, label, v FROM e WHERE vec_id % 89 <> 7),
      |s AS (SELECT c.vec_id, c.label,
      |    max(round(list_cosine_similarity(c.v, bv), 4)) AS mx
      |  FROM c CROSS JOIN b GROUP BY 1, 2)
      |SELECT CAST(label AS BIGINT) AS label, count(*) AS n_vectors,
      |  CAST(sum(CASE WHEN mx >= 0.3 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_flagged,
      |  round(CAST(sum(CASE WHEN mx >= 0.3 THEN 1 ELSE 0 END) AS DOUBLE)
      |    / count(*), 4) AS flag_rate,
      |  max(mx) AS max_benchmark_cos
      |FROM s GROUP BY label ORDER BY label""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q85_bloom_contamination", q85, q85Sql),
    QueryDef("q86_embedding_quantize", q86, q86Sql),
    QueryDef("q87_zipf_stats", q87, q87Sql),
    QueryDef("q88_stratified_sample", q88, q88Sql),
    QueryDef("q216_k_anonymity", q216, q216Sql),
    QueryDef("q218_matryoshka_recall", q218, q218Sql),
    QueryDef("q219_decontamination", q219, q219Sql, dense = true),
    QueryDef("q222_mixture_weights", q222, q222Sql),
    QueryDef("q223_rare_trigrams", q223, q223Sql),
    QueryDef("q224_token_drift", q224, q224Sql),
    QueryDef("q225_rag_chunking", q225, q225Sql),
    QueryDef("q226_semantic_decontam", q226, q226Sql, dense = true))
}
