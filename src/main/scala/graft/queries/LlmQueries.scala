package graft.queries

import graft.QueryDef
import graft.ops.{Bpe, Multimodal, TextOps, VectorOps}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Training-data-pipeline operator inventory (BASELINE north star):
  * dedup (exact, MinHash-LSH, SimHash, exact n-gram Jaccard),
  * similarity search (brute-force + LSH ANN), text analysis, and
  * multimodal-column plumbing, each as a driver-checkable query.
  *
  * Thresholds are tuned to the synthetic corpus (word-salad documents
  * over a small vocabulary → near-dups exist at the token-set level,
  * embeddings are near-orthogonal → cosine near-dups only below ~0.5);
  * the operators themselves are threshold-agnostic. */
object LlmQueries {

  private def q50(s: SparkSession, dir: String): DataFrame =
    TextOps.dedupExact(Tables(s, dir, "documents"))
      .orderBy(col("keep_doc_id"))

  private val q50Sql =
    """SELECT md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fp,
      |  min(doc_id) AS keep_doc_id, count(*) AS n_dups,
      |  count(DISTINCT source) AS n_sources
      |FROM documents GROUP BY fp ORDER BY keep_doc_id""".stripMargin

  /** The deduplicated corpus itself (survivor rows), not just the
    * group table — what a training pipeline feeds downstream. */
  private def q57(s: SparkSession, dir: String): DataFrame =
    TextOps.dedupedDocs(Tables(s, dir, "documents"))
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      .orderBy(col("doc_id"))

  private val q57Sql =
    """SELECT doc_id, lang, source, n_chars FROM documents
      |WHERE doc_id IN (
      |  SELECT min(doc_id) FROM documents
      |  GROUP BY md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')))
      |ORDER BY doc_id""".stripMargin

  private def q51(s: SparkSession, dir: String): DataFrame =
    TextOps.nearDupExact(Tables(s, dir, "documents"), 0.9)
      .orderBy(col("doc_a"), col("doc_b"))

  private val q51Sql =
    """WITH w AS (SELECT doc_id, source,
      |    list_distinct(string_split(text, ' ')) AS ws FROM documents)
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |  round(len(list_intersect(a.ws, b.ws))::DOUBLE /
      |        len(list_distinct(list_concat(a.ws, b.ws))), 4) AS jac
      |FROM w a JOIN w b ON a.source = b.source AND a.doc_id < b.doc_id
      |WHERE len(list_intersect(a.ws, b.ws))::DOUBLE /
      |      len(list_distinct(list_concat(a.ws, b.ws))) >= 0.9
      |ORDER BY doc_a, doc_b""".stripMargin

  /** Dedup-threshold calibration sweep — the similarity histogram a
    * threshold DECISION needs (picking 0.8 vs 0.9 changes how much
    * corpus survives; this query shows exactly what each choice
    * costs): verified Jaccard pairs above a 0.7 floor, bucketed into
    * 0.05 bands, with the cumulative pairs-at-or-above curve. Band
    * arithmetic (floor(jac·20)/20 on the rounded score) is the
    * identical IEEE sequence on both engines, so even a band boundary
    * that falls on a binary-representation edge lands in the same
    * bucket. Same candidate machinery as q51 (prefix-filtered, never
    * all-pairs); the rollup is a band-keyed aggregate plus one
    * window over the ≤ 7-row band table. */
  private def q176(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bands = TextOps.nearDupExact(Tables(s, dir, "documents"), 0.7)
      .withColumn("band", floor(col("jac") * 20) / lit(20.0))
      .groupBy(col("band")).agg(count(lit(1)).as("n_pairs"))
    bands.withColumn("n_pairs_at_or_above",
        sum(col("n_pairs")).over(Window.orderBy(col("band").desc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .orderBy(col("band"))
  }

  private val q176Sql =
    """WITH w AS (SELECT doc_id, source,
      |    list_distinct(string_split(text, ' ')) AS ws FROM documents),
      |p AS (SELECT round(len(list_intersect(a.ws, b.ws))::DOUBLE /
      |        len(list_distinct(list_concat(a.ws, b.ws))), 4) AS jac
      |  FROM w a JOIN w b ON a.source = b.source AND a.doc_id < b.doc_id
      |  WHERE len(list_intersect(a.ws, b.ws))::DOUBLE /
      |        len(list_distinct(list_concat(a.ws, b.ws))) >= 0.7),
      |b AS (SELECT floor(jac * 20) / 20.0 AS band, count(*) AS n_pairs
      |  FROM p GROUP BY 1)
      |SELECT band, n_pairs,
      |  CAST(sum(n_pairs) OVER (ORDER BY band DESC
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |    AS BIGINT) AS n_pairs_at_or_above
      |FROM b ORDER BY band""".stripMargin

  /** Near-dup connected components (canonical group id per document);
    * the DuckDB oracle reconstructs the same components with a
    * recursive CTE (reachable-label closure + min per node). */
  private def q64(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    TextOps.nearDupGroups(Tables(s, dir, "documents"), 0.9)
      .withColumn("n_members",
        count(lit(1)).over(Window.partitionBy(col("group_id"))).cast("bigint"))
      .orderBy(col("doc_id"))
  }

  private val q64Sql =
    """WITH RECURSIVE w AS (SELECT doc_id, source,
      |    list_distinct(string_split(text, ' ')) AS ws FROM documents),
      |p AS (SELECT a.doc_id AS da, b.doc_id AS db
      |  FROM w a JOIN w b ON a.source = b.source AND a.doc_id < b.doc_id
      |  WHERE len(list_intersect(a.ws, b.ws))::DOUBLE /
      |        len(list_distinct(list_concat(a.ws, b.ws))) >= 0.9),
      |e AS (SELECT da AS s, db AS d FROM p UNION ALL SELECT db, da FROM p),
      |lp(id, label) AS (
      |  SELECT doc_id, doc_id FROM documents
      |  UNION
      |  SELECT e.s, lp.label FROM e JOIN lp ON lp.id = e.d),
      |g AS (SELECT id AS doc_id, min(label) AS group_id FROM lp GROUP BY id)
      |SELECT doc_id, group_id,
      |  CAST(count(*) OVER (PARTITION BY group_id) AS BIGINT) AS n_members
      |FROM g ORDER BY doc_id""".stripMargin

  /** Planted near-duplicate fixture — the TEXT twin of [[plantedAnn]]
    * (r14): every 50th sufficiently-long document gets a copy with its
    * last four characters dropped (word-shingle Jaccard ≈ 0.95+,
    * simhash Hamming distance a few bits), ids offset by 10M so pair
    * membership is decidable from the ids alone — which lets DuckDB
    * pin the expected planted count without running any hashing. Raw
    * candidate-pair output is hash-family-specific (honestly
    * rows-only); planted CAPTURE is a meaningful, oracle-checkable
    * recall the envelope boolean pins. */
  private[queries] def plantedDocs(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
      .select(col("doc_id").cast("bigint").as("doc_id"), col("text"))
    val mutated = docs
      .where(col("doc_id") % 50 === 0 && length(col("text")) >= 200)
      .select((col("doc_id") + lit(10000000L)).as("doc_id"),
        expr("substring(text, 1, length(text) - 4)").as("text"))
    docs.unionByName(mutated)
  }

  /** Aggregate planted-pair capture of a (doc_a, doc_b) candidate
    * frame: how many planted (base, base+10M) pairs the operator
    * reported, as a floor boolean over the DuckDB-pinnable planted
    * count. */
  private def plantedDocCapture(s: SparkSession, dir: String,
                                pairs: DataFrame,
                                floor: Double): DataFrame = {
    val captured = pairs
      .where(abs(col("doc_a") - col("doc_b")) === 10000000L &&
        least(col("doc_a"), col("doc_b")) % 50 === 0)
      .select(least(col("doc_a"), col("doc_b")).as("base"))
      .distinct()
      .agg(count(lit(1)).as("n_captured"))
    plantedDocs(s, dir).where(col("doc_id") >= 10000000L)
      .agg(count(lit(1)).as("n_planted"))
      .crossJoin(captured)
      .select(col("n_planted"),
        (col("n_captured").cast("double") /
          greatest(col("n_planted"), lit(1L)) >= floor).as("capture_ok"))
  }

  private val plantedDocCaptureSql =
    """SELECT CAST(count(*) AS BIGINT) AS n_planted, TRUE AS capture_ok
      |FROM documents WHERE doc_id % 50 = 0 AND length(text) >= 200""".stripMargin

  /** MinHash-LSH near-dup over the planted fixture — oracled via the
    * capture envelope (r14; the raw candidate pairs stay hash-family-
    * specific, and the banding signature parity is spec-pinned in
    * TextOpsSpec). Floor 0.7: a 4-char truncation keeps word-shingle
    * Jaccard ≈ 0.95+, well above the 0.8 verify threshold, and the
    * 4×16 banding captures J≈0.95 pairs with p ≈ 0.97 each. */
  private def q52(s: SparkSession, dir: String): DataFrame =
    plantedDocCapture(s, dir,
      TextOps.nearDupMinhash(plantedDocs(s, dir), 0.8), floor = 0.7)

  /** SimHash near-dup over the planted fixture — same envelope; a
    * 4-char truncation moves only a few of the 64 sign sums, far
    * inside the Hamming-16 acceptance. */
  private def q53(s: SparkSession, dir: String): DataFrame =
    plantedDocCapture(s, dir,
      TextOps.nearDupSimhash(plantedDocs(s, dir), 16), floor = 0.7)

  private val q52Sql = plantedDocCaptureSql
  private val q53Sql = plantedDocCaptureSql

  private def q54(s: SparkSession, dir: String): DataFrame =
    TextOps.textStats(Tables(s, dir, "documents"))
      .select(col("doc_id"), col("lang"), col("source"),
        col("n_chars_measured").cast("bigint").as("n_chars_measured"),
        col("n_words").cast("bigint").as("n_words"),
        col("n_distinct_words").cast("bigint").as("n_distinct_words"),
        col("n_tokens").cast("bigint").as("n_tokens"),
        col("type_token_ratio"), col("punct_ratio"))
      .orderBy(col("doc_id"))

  private val q54Sql =
    """SELECT doc_id, lang, source,
      |  length(text) AS n_chars_measured,
      |  len(string_split(text, ' ')) AS n_words,
      |  len(list_distinct(string_split(text, ' '))) AS n_distinct_words,
      |  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS n_tokens,
      |  round(len(list_distinct(string_split(text, ' ')))::DOUBLE /
      |        len(string_split(text, ' ')), 4) AS type_token_ratio,
      |  round(length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g'))::DOUBLE /
      |        length(text), 4) AS punct_ratio
      |FROM documents ORDER BY doc_id""".stripMargin

  private def q58(s: SparkSession, dir: String): DataFrame =
    TextOps.qualityScore(Tables(s, dir, "documents"))
      .orderBy(col("doc_id"))

  private val q58Sql =
    """WITH t AS (SELECT doc_id,
      |    len(string_split(text, ' ')) AS n_words,
      |    len(list_filter(string_split(text, ' '),
      |        x -> list_contains(['the','a','of','and','in','to','is'], x)))::DOUBLE
      |      / len(string_split(text, ' ')) AS stop_ratio,
      |    length(replace(text, ' ', ''))::DOUBLE
      |      / len(string_split(text, ' ')) AS mean_word_len
      |  FROM documents)
      |SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
      |  round(stop_ratio, 4) AS stop_ratio,
      |  round(mean_word_len, 4) AS mean_word_len,
      |  (n_words >= 8 AND stop_ratio >= 0.02
      |   AND mean_word_len BETWEEN 2.0 AND 12.0) AS quality_ok,
      |  round(least(stop_ratio * 5.0, 1.0) * 0.6 +
      |    CASE WHEN mean_word_len BETWEEN 2.0 AND 12.0
      |         THEN 0.4 ELSE 0.0 END, 4) AS quality_score
      |FROM t ORDER BY doc_id""".stripMargin

  private def q59(s: SparkSession, dir: String): DataFrame =
    TextOps.winnowingFingerprint(Tables(s, dir, "documents"))
      .orderBy(col("doc_id"))

  private val q59Sql =
    """WITH g AS (SELECT doc_id, length(text) - 8 + 1 AS n,
      |    list_transform(range(1, length(text) - 8 + 2),
      |                   i -> md5(substring(text, CAST(i AS INT), 8))) AS hs
      |  FROM documents),
      |sel AS (SELECT doc_id, n,
      |    CASE WHEN n >= 4 THEN
      |      list_sort(list_distinct(list_transform(range(1, n - 4 + 2),
      |        j -> list_min(hs[j:j+3]))))
      |    ELSE [] END AS s
      |  FROM g)
      |SELECT doc_id, CAST(greatest(n, 0) AS BIGINT) AS n_grams,
      |  CAST(len(s) AS BIGINT) AS n_selected,
      |  md5(array_to_string(s, ',')) AS fp_digest
      |FROM sel ORDER BY doc_id""".stripMargin

  /** Deterministic mixture sampling: even sources at ~25%, odd at
    * ~50% (hex-threshold 0x40/0x80 of the first md5 byte). The
    * threshold is an expression over the source value — the same rule
    * the oracle states — so the two sides cannot drift when the
    * source set changes. */
  private def q69(s: SparkSession, dir: String): DataFrame = {
    // bigint + effectively-unbounded suffix length on BOTH sides so a
    // long numeric suffix cannot parse differently across engines
    val threshold = when(
      pmod(substring(col("source"), 4, 100).cast("bigint"), lit(2)) === 0, "40")
      .otherwise("80")
    TextOps.stableSample(Tables(s, dir, "documents"), threshold)
      .select(col("doc_id"), col("source"), col("lang"))
      .orderBy(col("doc_id"))
  }

  private val q69Sql =
    """SELECT doc_id, source, lang FROM documents
      |WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) <
      |  CASE WHEN CAST(substring(source, 4) AS BIGINT) % 2 = 0
      |       THEN '40' ELSE '80' END
      |ORDER BY doc_id""".stripMargin

  /** Contamination check: docs outside src0 whose token-set
    * fingerprint collides with the held-out src0 slice. */
  private def q70(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    TextOps.contamination(
      docs.where(col("source") =!= "src0"),
      docs.where(col("source") === "src0"))
      .orderBy(col("doc_id"))
  }

  private val q70Sql =
    // coalesce pins the NULL-text contract: Spark's concat_ws swallows
    // a null array into md5('') while a bare array_to_string would
    // yield NULL here and silently drop the row from the IN
    """WITH fp AS (SELECT doc_id, source,
      |    md5(array_to_string(list_sort(list_distinct(string_split(coalesce(text, ''), ' '))), ' ')) AS fp
      |  FROM documents)
      |SELECT fp, doc_id FROM fp
      |WHERE source <> 'src0'
      |  AND fp IN (SELECT fp FROM fp WHERE source = 'src0')
      |ORDER BY doc_id""".stripMargin

  private def q71(s: SparkSession, dir: String): DataFrame =
    TextOps.repetitionStats(Tables(s, dir, "documents"))
      .orderBy(col("doc_id"))

  private val q71Sql =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |r AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_words,
      |  CASE WHEN len(ws) >= 1 THEN
      |    round(1.0 - len(list_distinct(ws))::DOUBLE / len(ws), 4)
      |  ELSE 0.0 END AS dup_word_ratio,
      |  CASE WHEN len(ws) >= 2 THEN
      |    round(1.0 - len(list_distinct(list_transform(range(1, len(ws)),
      |        i -> ws[CAST(i AS INT)] || ' ' || ws[CAST(i + 1 AS INT)])))::DOUBLE
      |      / (len(ws) - 1), 4)
      |  ELSE 0.0 END AS dup_bigram_ratio,
      |  CASE WHEN len(ws) >= 3 THEN
      |    round(1.0 - len(list_distinct(list_transform(range(1, len(ws) - 1),
      |        i -> ws[CAST(i AS INT)] || ' ' || ws[CAST(i + 1 AS INT)]
      |             || ' ' || ws[CAST(i + 2 AS INT)])))::DOUBLE
      |      / (len(ws) - 2), 4)
      |  ELSE 0.0 END AS dup_trigram_ratio
      |  FROM t)
      |SELECT doc_id, n_words, dup_word_ratio, dup_bigram_ratio, dup_trigram_ratio,
      |  (dup_word_ratio > 0.2 OR dup_bigram_ratio > 0.2
      |   OR dup_trigram_ratio > 0.2) AS repetitive
      |FROM r ORDER BY doc_id""".stripMargin

  private def q68(s: SparkSession, dir: String): DataFrame =
    TextOps.tfidfTopTerms(Tables(s, dir, "documents"))
      .orderBy(col("doc_id"), col("rank"))

  private val q68Sql =
    """WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
      |           FROM documents),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM w GROUP BY doc_id, term),
      |df AS (SELECT term, count(DISTINCT doc_id) AS df FROM w GROUP BY term),
      |n AS (SELECT count(*) AS n_docs FROM documents),
      |s AS (SELECT tf.doc_id, tf.term, tf.tf, df.df,
      |        round(tf.tf * ln((n.n_docs + 1)::DOUBLE / (df.df + 1)), 4) AS tfidf
      |      FROM tf JOIN df USING (term) CROSS JOIN n),
      |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
      |        ORDER BY tfidf DESC, term) AS rank FROM s)
      |SELECT doc_id, rank, term, tfidf,
      |  CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df
      |FROM r WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin

  /** Unigram-LM quality score (CCNet-style statistical filter). */
  private def q93(s: SparkSession, dir: String): DataFrame =
    TextOps.unigramNll(Tables(s, dir, "documents"))
      .orderBy(col("doc_id"))

  private val q93Sql =
    """WITH t AS (SELECT doc_id, unnest(string_split(coalesce(text, ''), ' ')) AS w
      |           FROM documents),
      |c AS (SELECT w, count(*) AS cnt FROM t GROUP BY w),
      |n AS (SELECT sum(cnt) AS n_total FROM c)
      |SELECT doc_id, count(*) AS n_tokens,
      |  round(-(CAST(sum(CAST(round(ln(cnt::DOUBLE / n_total), 8) AS DECIMAL(18,8))) AS DOUBLE)
      |          / count(*)), 4) AS nll
      |FROM t JOIN c USING (w) CROSS JOIN n
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Held-out stupid-backoff trigram perplexity filter (train on even
    * doc_ids, score odd) — the LM quality gate one level above q93. */
  private def q145(s: SparkSession, dir: String): DataFrame =
    TextOps.stupidBackoffNll(Tables(s, dir, "documents"))
      .orderBy(col("doc_id"))

  private val q145Sql =
    """WITH d AS (SELECT doc_id, string_split(coalesce(text, ''), ' ') AS ws
      |           FROM documents),
      |tr AS (SELECT * FROM d WHERE doc_id % 2 = 0),
      |sc AS (SELECT * FROM d WHERE doc_id % 2 = 1),
      |c1 AS (SELECT w AS g, count(*) AS c1
      |       FROM (SELECT unnest(ws) AS w FROM tr) GROUP BY 1),
      |c2 AS (SELECT ws[i-1] || ' ' || ws[i] AS g, count(*) AS c2
      |       FROM tr, unnest(range(2, len(ws) + 1)) AS t(i) GROUP BY 1),
      |c3 AS (SELECT ws[i-2] || ' ' || ws[i-1] || ' ' || ws[i] AS g,
      |         count(*) AS c3
      |       FROM tr, unnest(range(3, len(ws) + 1)) AS t(i) GROUP BY 1),
      |tot AS (SELECT sum(c1) AS n_tok, count(*) AS vocab FROM c1),
      |pos AS (SELECT doc_id,
      |    ws[i-2] || ' ' || ws[i-1] || ' ' || ws[i] AS g3,
      |    ws[i-2] || ' ' || ws[i-1] AS ctx2,
      |    ws[i-1] || ' ' || ws[i] AS g2,
      |    ws[i-1] AS ctx1, ws[i] AS w
      |  FROM sc, unnest(range(3, len(ws) + 1)) AS t(i)),
      |j AS (SELECT pos.doc_id,
      |    CASE WHEN c3.c3 IS NOT NULL AND cc2.c2 IS NOT NULL THEN 0
      |         WHEN g2c.c2 IS NOT NULL AND cc1.c1 IS NOT NULL THEN 1
      |         ELSE 2 END AS lvl,
      |    CASE WHEN c3.c3 IS NOT NULL AND cc2.c2 IS NOT NULL
      |           THEN c3.c3::DOUBLE / cc2.c2
      |         WHEN g2c.c2 IS NOT NULL AND cc1.c1 IS NOT NULL
      |           THEN 0.4 * (g2c.c2::DOUBLE / cc1.c1)
      |         ELSE 0.4 * 0.4 * ((coalesce(uw.c1, 0)::DOUBLE + 1.0) /
      |                           (tot.n_tok + tot.vocab)::DOUBLE) END AS s
      |  FROM pos LEFT JOIN c3 ON pos.g3 = c3.g
      |  LEFT JOIN c2 cc2 ON pos.ctx2 = cc2.g
      |  LEFT JOIN c2 g2c ON pos.g2 = g2c.g
      |  LEFT JOIN c1 cc1 ON pos.ctx1 = cc1.g
      |  LEFT JOIN c1 uw ON pos.w = uw.g
      |  CROSS JOIN tot),
      |a AS (SELECT doc_id, count(*) AS n_scored,
      |    round(-(CAST(sum(CAST(round(ln(s), 8) AS DECIMAL(18,8)))
      |            AS DOUBLE) / count(*)), 4) AS nll3,
      |    count(*) FILTER (lvl = 0) AS n_tri,
      |    count(*) FILTER (lvl = 1) AS n_bi,
      |    count(*) FILTER (lvl = 2) AS n_uni
      |  FROM j GROUP BY doc_id)
      |SELECT sc.doc_id,
      |  CAST(coalesce(a.n_scored, 0) AS BIGINT) AS n_scored,
      |  coalesce(a.nll3, 0.0) AS nll3,
      |  CAST(coalesce(a.n_tri, 0) AS BIGINT) AS n_tri,
      |  CAST(coalesce(a.n_bi, 0) AS BIGINT) AS n_bi,
      |  CAST(coalesce(a.n_uni, 0) AS BIGINT) AS n_uni
      |FROM sc LEFT JOIN a ON sc.doc_id = a.doc_id
      |ORDER BY sc.doc_id""".stripMargin

  /** Cross-document boilerplate fraction (substring-dedup signal). */
  private def q94(s: SparkSession, dir: String): DataFrame =
    TextOps.crossDocBoilerplate(Tables(s, dir, "documents"))
      .orderBy(col("doc_id"))

  private val q94Sql =
    """WITH w AS (SELECT doc_id, string_split(coalesce(text, ''), ' ') AS ws
      |           FROM documents),
      |g AS (SELECT DISTINCT doc_id, array_to_string(ws[i : i + 4], ' ') AS g
      |      FROM w, unnest(range(1, greatest(len(ws) - 4, 0) + 1)) AS t(i)),
      |d AS (SELECT g, count(*) AS ndocs FROM g GROUP BY g),
      |f AS (SELECT g.doc_id, count(*) AS n_grams,
      |        round((count(*) FILTER (d.ndocs >= 2))::DOUBLE / count(*), 4)
      |          AS boilerplate_frac
      |      FROM g JOIN d USING (g) GROUP BY g.doc_id)
      |SELECT documents.doc_id,
      |  CAST(coalesce(f.n_grams, 0) AS BIGINT) AS n_grams,
      |  coalesce(f.boilerplate_frac, 0.0) AS boilerplate_frac
      |FROM documents LEFT JOIN f ON documents.doc_id = f.doc_id
      |ORDER BY documents.doc_id""".stripMargin

  private def q55(s: SparkSession, dir: String): DataFrame =
    TextOps.langId(Tables(s, dir, "documents"))
      .orderBy(col("doc_id"))

  private val q55Sql =
    """WITH h AS (SELECT doc_id, lang,
      |    list_distinct(string_split(text, ' ')) AS ws FROM documents),
      |s AS (SELECT doc_id, lang,
      |    (CASE WHEN list_contains(ws, 'the') THEN 1 ELSE 0 END +
      |     CASE WHEN list_contains(ws, 'a') THEN 1 ELSE 0 END +
      |     CASE WHEN list_contains(ws, 'of') THEN 1 ELSE 0 END +
      |     CASE WHEN list_contains(ws, 'and') THEN 1 ELSE 0 END) AS en,
      |    (CASE WHEN list_contains(ws, 'der') THEN 1 ELSE 0 END +
      |     CASE WHEN list_contains(ws, 'die') THEN 1 ELSE 0 END +
      |     CASE WHEN list_contains(ws, 'das') THEN 1 ELSE 0 END +
      |     CASE WHEN list_contains(ws, 'und') THEN 1 ELSE 0 END) AS de,
      |    (CASE WHEN list_contains(ws, 'le') THEN 1 ELSE 0 END +
      |     CASE WHEN list_contains(ws, 'la') THEN 1 ELSE 0 END +
      |     CASE WHEN list_contains(ws, 'les') THEN 1 ELSE 0 END +
      |     CASE WHEN list_contains(ws, 'et') THEN 1 ELSE 0 END) AS fr,
      |    (CASE WHEN list_contains(ws, 'el') THEN 1 ELSE 0 END +
      |     CASE WHEN list_contains(ws, 'los') THEN 1 ELSE 0 END +
      |     CASE WHEN list_contains(ws, 'las') THEN 1 ELSE 0 END +
      |     CASE WHEN list_contains(ws, 'y') THEN 1 ELSE 0 END) AS es
      |  FROM h)
      |SELECT doc_id, lang,
      |  CASE WHEN de > en AND de >= fr AND de >= es THEN 'de'
      |       WHEN fr > en AND fr >= es THEN 'fr'
      |       WHEN es > en THEN 'es'
      |       ELSE 'en' END AS pred_lang
      |FROM s ORDER BY doc_id""".stripMargin

  private def q56(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")
      .select(col("doc_id"),
        TextOps.contentFingerprint(col("text")).as("content_fp"),
        TextOps.tokenSetFingerprint(col("text")).as("tokenset_fp"))
      .orderBy(col("doc_id"))

  private val q56Sql =
    """SELECT doc_id,
      |  md5(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')) AS content_fp,
      |  md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS tokenset_fp
      |FROM documents ORDER BY doc_id""".stripMargin

  private def q60(s: SparkSession, dir: String): DataFrame = {
    val e = Tables(s, dir, "embeddings")
    VectorOps.cosineTopK(e, e.where(col("vec_id") < 10), 5)
      .select(col("query_id"), col("rank").cast("bigint").as("rank"),
        col("vec_id"), col("cos"))
  }

  private val q60Sql =
    """WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qe
      |           FROM embeddings WHERE vec_id < 10),
      |scored AS (
      |  SELECT q.query_id, e.vec_id,
      |    round(list_cosine_similarity(e.embedding::DOUBLE[], q.qe), 4) AS cos
      |  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.query_id),
      |ranked AS (
      |  SELECT query_id, vec_id, cos,
      |    row_number() OVER (PARTITION BY query_id
      |                       ORDER BY cos DESC, vec_id) AS rank
      |  FROM scored)
      |SELECT query_id, rank, vec_id, cos FROM ranked
      |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  /** Planted-neighbors ANN fixture (VERDICT r13 #4): the synthetic
    * embeddings are near-random (max pairwise cos ≈ 0.51), so recall
    * measured on them is vacuous — an index can score ~0 while being
    * correct. This fixture PLANTS known neighbor structure: every 50th
    * vector is a query center that spawns ten near-duplicates
    * (deterministic xxhash64 noise, ±0.02 per dimension → cos ≈ 0.996
    * against the center, far above the 0.51 background ceiling), ids
    * offset to 10M + 100·center + j so family membership is decidable
    * from the id alone — which is what lets DuckDB pin the expected
    * row set without running any ANN. Exact top-10 of a center is its
    * family BY CONSTRUCTION, so LSH/IVF/PQ family capture becomes a
    * meaningful, oracle-checkable recall (the q21/q92 envelope
    * pattern: the floor boolean flips the hash on an index
    * regression). Everything is column expressions — the fixture
    * costs one embeddings scan, no UDF, no driver data. */
  private[queries] def plantedAnn(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val e = Tables(s, dir, "embeddings")
    val centers = e
      .where(col("vec_id") % 50 === 0 && col("vec_id") < 2500)
      .select(col("vec_id").cast("bigint").as("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
    val neighbors = centers
      .select(col("vec_id").as("cid"), col("v"),
        explode(sequence(lit(1L), lit(10L))).as("j"))
      .select((lit(10000000L) + col("cid") * 100L + col("j")).as("vec_id"),
        transform(col("v"), (x, i) =>
          x + (pmod(xxhash64(col("cid"), col("j"), i), lit(1000L))
            .cast("double") / lit(1000.0) - lit(0.5)) * lit(0.04))
          .as("embedding"))
    val background = e.select(col("vec_id").cast("bigint").as("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("embedding"))
    (background.unionByName(neighbors),
      centers.select(col("vec_id"), col("v").as("embedding")))
  }

  /** vec_id → its planted family's center id (the fixture's id rule),
    * null-safe for background ids. */
  private[queries] def familyOf(vid: Column): Column =
    when(vid > lit(10000000L),
      floor((vid - lit(10000001L)).cast("double") / 100.0).cast("long"))
      .otherwise(lit(-1L))

  /** The shared family-capture envelope: per center, how many of the
    * operator's top-10 belong to the center's own planted family,
    * reported as a floor boolean the oracle pins TRUE. Centers the
    * index returns NOTHING for still emit their row (left join) — a
    * silent empty result is a capture of 0, not a missing row. */
  private def familyCapture(topk: DataFrame, queries: DataFrame,
                            floorHits: Int): DataFrame = {
    val hits = topk
      .groupBy(col("query_id"))
      .agg(sum(when(familyOf(col("vec_id")) === col("query_id"), 1L)
        .otherwise(0L)).as("family_hits"))
    queries.select(col("vec_id").as("query_id"))
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"), lit(10L).as("n_family"),
        (coalesce(col("family_hits"), lit(0L)) >= floorHits).as("family_ok"))
      .orderBy(col("query_id"))
  }

  /** LSH-bucketed ANN over the planted fixture — oracled via an
    * AGGREGATE family-capture envelope: a center that sits near a
    * hyperplane loses much of its family to single-bit bucket flips
    * (all-or-nothing per member under single-table LSH), so a
    * per-center floor is inherently tail-fragile; the capture summed
    * over all centers is what the index guarantees (measured ≈ 0.9+,
    * floor 0.5). IVF/PQ (q63/q95) keep per-center floors — their
    * probes capture whole families. */
  private def q61(s: SparkSession, dir: String): DataFrame = {
    val (corpus, qs) = plantedAnn(s, dir)
    val hits = VectorOps.annTopK(corpus, qs, 10)
      .agg(sum(when(familyOf(col("vec_id")) === col("query_id"), 1L)
        .otherwise(0L)).as("family_hits"))
    qs.agg(count(lit(1)).as("n_queries"))
      .crossJoin(hits)
      .select(col("n_queries"),
        (col("n_queries") * 10L).cast("bigint").as("n_family_total"),
        (coalesce(col("family_hits"), lit(0L)).cast("double") /
          (col("n_queries") * 10L) >= 0.5).as("capture_ok"))
  }

  /** IVF-quantized ANN over the planted fixture — a family lands in
    * its center's coarse cell almost surely (the perturbation is tiny
    * against cell diameters), so the nProbe=4 probe must capture it
    * nearly whole (floor 8/10). */
  private def q63(s: SparkSession, dir: String): DataFrame = {
    val (corpus, qs) = plantedAnn(s, dir)
    familyCapture(
      VectorOps.ivfTopK(corpus, qs, 10, nCells = 16, nProbe = 4),
      qs, floorHits = 8)
  }

  /** IVF+PQ ANN over the planted fixture — the ADC shortlist (64) far
    * exceeds the family, and exact rerank restores order, so capture
    * must be near-total (floor 8/10). */
  private def q95(s: SparkSession, dir: String): DataFrame = {
    val (corpus, qs) = plantedAnn(s, dir)
    familyCapture(
      VectorOps.pqTopK(corpus, qs, 10, nCells = 16, nProbe = 8),
      qs, floorHits = 8)
  }

  private val q61Sql =
    """SELECT CAST(count(*) AS BIGINT) AS n_queries,
      |  CAST(count(*) * 10 AS BIGINT) AS n_family_total,
      |  TRUE AS capture_ok
      |FROM embeddings WHERE vec_id % 50 = 0 AND vec_id < 2500""".stripMargin
  private val q63Sql =
    """SELECT CAST(vec_id AS BIGINT) AS query_id,
      |  CAST(10 AS BIGINT) AS n_family, TRUE AS family_ok
      |FROM embeddings WHERE vec_id % 50 = 0 AND vec_id < 2500
      |ORDER BY query_id""".stripMargin
  private val q95Sql = q63Sql

  /** Distributed k-means refinement ([[graft.ops.VectorOps
    * .kmeansRefine]]): sample-trained centers refined over the full
    * corpus with exact decimal sufficient statistics — per-cell sizes
    * and residual sums of squares under the final centers. Rows-only
    * (the Lloyd recursion is not SQL-expressible); VectorOpsSpec pins
    * monotone inertia, layout independence, and local-reference
    * parity. Explicit nCells pins the demo's cell count (the q63
    * convention). */
  private def q136(s: SparkSession, dir: String): DataFrame =
    // oracled since r14 via the envelope pattern: the per-cell stats
    // are Lloyd-recursion outputs, but their conservation law is not —
    // the cell sizes must sum to EXACTLY the corpus count (a vector
    // lost or double-assigned by the in-cluster reduction flips it,
    // DuckDB computes it independently), with cell-count bounds and
    // non-negative residuals as companion booleans. Monotone inertia /
    // local-reference parity stay pinned in VectorOpsSpec.
    VectorOps.kmeansRefine(Tables(s, dir, "embeddings"), nCells = 16,
        iters = 5)
      .agg(count(lit(1)).as("n_cells"),
        sum(col("n_rows")).as("n_vectors"),
        min(col("rss")).as("min_rss"))
      .select(col("n_vectors").cast("bigint").as("n_vectors"),
        (col("n_cells") >= 1 && col("n_cells") <= 16).as("cells_bounded"),
        (col("min_rss") >= 0.0).as("rss_nonneg"))

  private val q136Sql =
    """SELECT CAST(count(*) AS BIGINT) AS n_vectors,
      |  TRUE AS cells_bounded, TRUE AS rss_nonneg
      |FROM embeddings""".stripMargin

  /** PCA projection ([[graft.ops.VectorOps.pcaProject]]): exact
    * one-pass covariance moments (decimal sums), driver Jacobi
    * eigensolve, codegen'd top-4 projection. Oracled since r14 via the
    * envelope pattern — the projections themselves are eigen-recursion
    * outputs no SQL can reproduce, but their DEFINING invariants are
    * in-query booleans the oracle pins TRUE: component sample
    * variances strictly descending (the eigen ordering) and pairwise
    * correlations ≈ 0 (orthogonal components over centered data),
    * plus the exact row count. Per-value parity/eigen-residual pins
    * stay in VectorOpsSpec. */
  private def q137(s: SparkSession, dir: String): DataFrame = {
    val proj = VectorOps.pcaProject(Tables(s, dir, "embeddings"), 4)
    val stats = proj.agg(
      count(lit(1)).as("n_vectors"),
      (1 to 4).map(j => variance(col(s"pc$j")).as(s"v$j")) ++
        (for (i <- 1 to 4; j <- i + 1 to 4)
          yield corr(col(s"pc$i"), col(s"pc$j")).as(s"c${i}_$j")): _*)
    val varDesc = (1 until 4).map(j =>
      col(s"v$j") >= col(s"v${j + 1}") - lit(1e-6)).reduce(_ && _)
    val uncorr = (for (i <- 1 to 4; j <- i + 1 to 4)
      yield abs(coalesce(col(s"c${i}_$j"), lit(0.0))) <= lit(0.05))
      .reduce(_ && _)
    stats.select(col("n_vectors"), lit(4L).as("k"),
      varDesc.as("var_desc_ok"), uncorr.as("uncorrelated_ok"))
  }

  private val q137Sql =
    """SELECT CAST(count(*) AS BIGINT) AS n_vectors,
      |  CAST(4 AS BIGINT) AS k,
      |  TRUE AS var_desc_ok, TRUE AS uncorrelated_ok
      |FROM embeddings""".stripMargin

  /** Distilled quality classifier ([[graft.ops.TextOps
    * .trainQualityClassifier]]): logistic regression trained in the
    * engine on the hard gate's free labels, scored as a calibrated
    * probability. Rows-only (the GD recursion is not SQL-
    * expressible); TextOpsSpec pins accuracy above the majority
    * baseline, bit parity with a local reference trainer, and
    * layout-independent weights. */
  private def q139(s: SparkSession, dir: String): DataFrame = {
    // one corpus pass: the (doc_id, features, label) projection
    // persists once and feeds BOTH the IRLS iterations and the scores
    // (r12 verdict #5 — the previous train-then-score pair re-read
    // documents and re-computed every feature expression).
    // Oracled since r14 via the envelope pattern: the doc count and the
    // gate-positive count are exact (DuckDB recomputes the gate — the
    // q179/q185 expressions), predictions must be calibrated
    // probabilities in [0, 1], and the trained classifier must score
    // at least the majority baseline on its own labels — the
    // TextOpsSpec accuracy pin made driver-visible. IRLS bit parity
    // stays in TextOpsSpec.
    val scored = TextOps.trainAndScoreQuality(Tables(s, dir, "documents"))
    scored.agg(count(lit(1)).as("n_docs"),
        sum(col("label")).as("n_pos"),
        avg((col("pred") === col("label")).cast("double")).as("acc"),
        min(col("p_quality")).as("p_min"),
        max(col("p_quality")).as("p_max"))
      .select(col("n_docs").cast("bigint").as("n_docs"),
        col("n_pos").cast("bigint").as("n_pos"),
        (col("acc") >= greatest(
          col("n_pos").cast("double") / col("n_docs"),
          lit(1.0) - col("n_pos").cast("double") / col("n_docs")) - 1e-9)
          .as("acc_beats_majority"),
        (col("p_min") >= 0.0 && col("p_max") <= 1.0).as("probs_bounded"))
  }

  private val q139Sql =
    """WITH t AS (SELECT
      |    len(string_split(coalesce(text, ''), ' ')) AS n_words,
      |    len(list_filter(string_split(coalesce(text, ''), ' '),
      |        x -> list_contains(['the','a','of','and','in','to','is'], x)))::DOUBLE
      |      / len(string_split(coalesce(text, ''), ' ')) AS stop_ratio,
      |    length(replace(coalesce(text, ''), ' ', ''))::DOUBLE
      |      / len(string_split(coalesce(text, ''), ' ')) AS mean_word_len
      |  FROM documents)
      |SELECT CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(CASE WHEN n_words >= 8 AND stop_ratio >= 0.02
      |       AND mean_word_len BETWEEN 2.0 AND 12.0
      |       THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
      |  TRUE AS acc_beats_majority, TRUE AS probs_bounded
      |FROM t""".stripMargin

  private def q62(s: SparkSession, dir: String): DataFrame =
    VectorOps.embeddingNearDup(Tables(s, dir, "embeddings"), 0.4)
      .orderBy(col("vec_a"), col("vec_b"))

  private val q62Sql =
    """WITH p AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
      |    list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) AS cos
      |  FROM embeddings a JOIN embeddings b
      |    ON a.label = b.label AND a.vec_id < b.vec_id)
      |SELECT vec_a, vec_b, round(cos, 4) AS cos FROM p
      |WHERE cos >= 0.4 ORDER BY vec_a, vec_b""".stripMargin

  private def q65(s: SparkSession, dir: String): DataFrame =
    Multimodal.metaSummary(s, Tables(s, dir, "documents"))
      .select(col("format"), col("n_docs"), col("total_bytes"),
        col("max_width").cast("bigint").as("max_width"),
        col("min_height").cast("bigint").as("min_height"),
        col("total_frames"))

  private val q65Sql =
    // n_bytes includes the synthesized container header (JPEG
    // SOI+SOF0 = 15, PNG sig+IHDR = 33, WebP RIFF+VP8X = 30) the
    // Spark side genuinely parses dims back out of
    // coalesce mirrors withPayload's null-padding (same convention as
    // q108/q115): a NULL-text row is a header-only payload, not a NULL
    // audit row
    """WITH m AS (SELECT doc_id,
      |    octet_length(encode(coalesce(text, ''))) +
      |      (CASE doc_id % 3 WHEN 0 THEN 15 WHEN 1 THEN 33 ELSE 30 END) AS n_bytes,
      |    64 + (octet_length(encode(coalesce(text, ''))) % 512) AS width,
      |    64 + ((octet_length(encode(coalesce(text, ''))) * 7) % 512) AS height,
      |    CASE doc_id % 3 WHEN 0 THEN 'jpeg' WHEN 1 THEN 'png'
      |         ELSE 'webp' END AS format
      |  FROM documents)
      |SELECT format, count(*) AS n_docs,
      |  CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
      |  max(width) AS max_width, min(height) AS min_height,
      |  count(*) AS total_frames
      |FROM m GROUP BY format ORDER BY format""".stripMargin

  /** Audio metadata decode: every document carries a synthesized PCM
    * WAV payload whose format fields derive from doc_id/text length —
    * the Spark side must round-trip them through a real RIFF chunk
    * walk, and the oracle recomputes them arithmetically. */
  private def q108(s: SparkSession, dir: String): DataFrame =
    Multimodal.decodeAudioMeta(s, Tables(s, dir, "documents")).toDF()
      .select(col("doc_id"),
        col("n_bytes").cast("bigint").as("n_bytes"),
        col("sample_rate").cast("bigint").as("sample_rate"),
        col("channels").cast("bigint").as("channels"),
        col("bits").cast("bigint").as("bits"),
        col("n_samples"), col("duration_ms"))
      .orderBy(col("doc_id"))

  private val q108Sql =
    // coalesce mirrors withAudioPayload's null-padding: a NULL-text
    // row is a 44-byte header on the Spark side, not a NULL audit row
    """SELECT doc_id,
      |  CAST(44 + octet_length(encode(coalesce(text, ''))) AS BIGINT) AS n_bytes,
      |  CAST(CASE doc_id % 3 WHEN 0 THEN 8000 WHEN 1 THEN 16000
      |       ELSE 44100 END AS BIGINT) AS sample_rate,
      |  CAST(1 + doc_id % 2 AS BIGINT) AS channels,
      |  CAST(16 AS BIGINT) AS bits,
      |  CAST(octet_length(encode(coalesce(text, ''))) // greatest(1, (1 + doc_id % 2) * 2)
      |    AS BIGINT) AS n_samples,
      |  CAST((octet_length(encode(coalesce(text, ''))) // greatest(1, (1 + doc_id % 2) * 2))
      |    * 1000 // (CASE doc_id % 3 WHEN 0 THEN 8000 WHEN 1 THEN 16000
      |        ELSE 44100 END) AS BIGINT) AS duration_ms
      |FROM documents ORDER BY doc_id""".stripMargin

  /** REAL PCM sample decode: every document carries a WAV whose data
    * chunk holds a deterministic 16-bit sawtooth stream
    * ([[Multimodal.synthPcm]]); Spark walks the RIFF chunks and folds
    * the little-endian samples into integer statistics, while the
    * oracle recomputes those statistics ARITHMETICALLY from the
    * generating formula over `range(0, n)` — peak |s|, Σ|s|,
    * sign-change count and a position-weighted checksum. A green row
    * proves chunk walk + sample decode end to end (the audio twin of
    * q121's pixel proof); no header field can fake Σ s·(1 + k mod 97). */
  private def q122(s: SparkSession, dir: String): DataFrame =
    Multimodal.decodePcmStats(s, Tables(s, dir, "documents")).toDF()
      .orderBy(col("doc_id"))

  private val q122Sql =
    """WITH d AS (SELECT doc_id,
      |    CASE doc_id % 3 WHEN 0 THEN 8000 WHEN 1 THEN 16000
      |         ELSE 44100 END AS rate,
      |    1 + doc_id % 2 AS ch,
      |    (256 + (doc_id * 3) % 1024) * (1 + doc_id % 2) AS total,
      |    7 + doc_id % 13 AS step
      |  FROM documents),
      |s AS (SELECT doc_id, rate, ch, total, k.k AS k,
      |    (k.k * step + doc_id * 5) % 65536 - 32768 AS v,
      |    CASE WHEN k.k > 0 THEN
      |      ((k.k - 1) * step + doc_id * 5) % 65536 - 32768 END AS pv
      |  FROM d, unnest(range(0, total)) AS k(k))
      |SELECT doc_id, CAST(rate AS BIGINT) AS sample_rate,
      |  CAST(ch AS BIGINT) AS channels, CAST(total AS BIGINT) AS n_samples,
      |  CAST(max(abs(v)) AS BIGINT) AS peak_abs,
      |  CAST(sum(abs(v)) AS BIGINT) AS sum_abs,
      |  CAST(sum(CASE WHEN pv IS NOT NULL AND (v >= 0) <> (pv >= 0)
      |    THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings,
      |  CAST(sum(v * (1 + k % 97)) AS BIGINT) AS pcm_checksum
      |FROM s GROUP BY doc_id, rate, ch, total
      |ORDER BY doc_id""".stripMargin

  /** Exact heavy hitters without a full-vocabulary shuffle: bounded
    * Misra–Gries candidates, then exact counts over candidates only
    * ([[TextOps.heavyHitters]]). The oracle is the naive full groupBy
    * with HAVING — equality proves the sketch pass lost nothing. */
  private def q123(s: SparkSession, dir: String): DataFrame =
    TextOps.heavyHitters(Tables(s, dir, "documents"), minCount = 500L)
      .orderBy(col("w"))

  private val q123Sql =
    """SELECT w, count(*) AS cnt
      |FROM (SELECT unnest(string_split(coalesce(text, ''), ' ')) AS w
      |      FROM documents)
      |GROUP BY w HAVING count(*) >= 500 ORDER BY w""".stripMargin

  /** Distributed BPE vocabulary induction ([[Bpe.train]]): the merge
    * table learned from the corpus token stream, one corpus scan plus
    * vocabulary-scale iterations. Rows-only (the argmax recursion is
    * not SQL-expressible); BpeSpec pins the table against an
    * independent single-node reference trainer. */
  private def q126(s: SparkSession, dir: String): DataFrame = {
    // oracled since r14 via the envelope pattern: the learned merge
    // table is an argmax recursion, but its well-formedness is
    // checkable — exactly nMerges contiguous ranks (the corpus has far
    // more than 30 repeating pairs at every SF), every merged pair
    // occurs at least twice (BPE never merges a non-repeating pair),
    // and every pair's concatenation is a substring of some corpus
    // word. Merge-for-merge parity with the single-node reference
    // trainer stays in BpeSpec.
    val m = Bpe.trainDF(s, Tables(s, dir, "documents"), nMerges = 30)
    val words = Tables(s, dir, "documents")
      .select(explode(split(coalesce(col("text"), lit("")), " ")).as("w"))
      .where(col("w") =!= "").distinct()
    // the symbolization appends the end-of-word marker, so a merge
    // ending in Eow must match a word SUFFIX; any other merge is an
    // in-word substring
    val tok = concat(col("left"), col("right"))
    val inCorpus = words
      .join(broadcast(m.select(col("rank"),
        when(tok.endsWith(Bpe.Eow),
          expr(s"substring(concat(left, right), 1, " +
            s"length(concat(left, right)) - ${Bpe.Eow.length})"))
          .otherwise(tok).as("body"),
        tok.endsWith(Bpe.Eow).as("at_end"))),
        (col("at_end") && col("w").endsWith(col("body"))) ||
          (!col("at_end") && col("w").contains(col("body"))))
      .select(col("rank")).distinct()
      .agg(count(lit(1)).as("n_in_corpus"))
    m.agg(count(lit(1)).as("n_merges"),
        min(col("rank")).as("rank_min"), max(col("rank")).as("rank_max"),
        countDistinct(col("rank")).as("n_ranks"),
        min(col("n_occurrences")).as("min_occ"))
      .crossJoin(inCorpus)
      .select(col("n_merges").cast("bigint").as("n_merges"),
        (col("rank_min") === 0 && col("rank_max") === col("n_merges") - 1 &&
          col("n_ranks") === col("n_merges")).as("ranks_contiguous"),
        (col("min_occ") >= 2).as("pairs_repeat"),
        (col("n_in_corpus") === col("n_merges")).as("pairs_in_corpus"))
  }

  private val q126Sql =
    """SELECT CAST(30 AS BIGINT) AS n_merges, TRUE AS ranks_contiguous,
      |  TRUE AS pairs_repeat, TRUE AS pairs_in_corpus""".stripMargin

  /** Per-document BPE encoding statistics under the q126 merges:
    * distinct words encode once, the corpus-scale pass is a broadcast
    * join. Oracled since r14: the per-doc WORD count is tokenizer
    * arithmetic both engines compute exactly, and the learned
    * encoding participates through a per-doc bounds boolean — every
    * document's BPE token count must sit between its non-empty word
    * count (≥1 symbol per word) and its summed word length (≤1 symbol
    * per character); a broken merge table or encoder violates a bound
    * and flips the hash. Merge-for-merge parity stays in BpeSpec. */
  private def q127(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    val stats = Bpe.encodeStats(docs, Bpe.train(docs, 30))
    val t = coalesce(col("text"), lit(""))
    val bounds = docs.select(col("doc_id"),
      size(filter(split(t, " "), w => w =!= lit("")))
        .cast("bigint").as("n_nonempty"),
      (length(t) - (size(split(t, " ")) - 1))
        .cast("bigint").as("n_word_chars"))
    stats.join(bounds, "doc_id")
      .select(col("doc_id").cast("bigint").as("doc_id"),
        col("n_words").cast("bigint").as("n_words"),
        (col("n_bpe_tokens") >= col("n_nonempty") &&
          col("n_bpe_tokens") <= col("n_word_chars")).as("bpe_bounds_ok"))
      .orderBy(col("doc_id"))
  }

  private val q127Sql =
    """SELECT CAST(doc_id AS BIGINT) AS doc_id,
      |  CAST(len(string_split(coalesce(text, ''), ' ')) AS BIGINT) AS n_words,
      |  TRUE AS bpe_bounds_ok
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Weighted stable sample ([[TextOps.weightedSample]], A-ES):
    * longer documents (weight = n_chars) are proportionally likelier,
    * the draw is a pure row function, and the oracle recomputes the
    * identical keys and top-k. */
  private def q133(s: SparkSession, dir: String): DataFrame =
    TextOps.weightedSample(Tables(s, dir, "documents"), 50,
        col("n_chars"))
      .select(col("doc_id"), col("source"), col("n_chars"), col("es_key"))

  private val q133Sql =
    """SELECT doc_id, source, n_chars,
      |  round(pow(((doc_id * 48271) % 2147483647) / 2147483647.0,
      |    1.0 / greatest(CAST(n_chars AS DOUBLE), 1.0)), 8) AS es_key
      |FROM documents
      |ORDER BY es_key DESC, doc_id LIMIT 50""".stripMargin

  private def q67(s: SparkSession, dir: String): DataFrame =
    Multimodal.resize(s, Tables(s, dir, "documents")).toDF()
      .orderBy(col("doc_id"))

  private val q67Sql =
    """WITH d AS (SELECT doc_id,
      |    64 + (octet_length(encode(coalesce(text, ''))) % 512) AS width,
      |    64 + ((octet_length(encode(coalesce(text, ''))) * 7) % 512) AS height
      |  FROM documents)
      |SELECT doc_id, width, height,
      |  CASE WHEN width >= height THEN 224
      |       ELSE greatest(1, width * 224 // height) END AS out_w,
      |  CASE WHEN width >= height THEN greatest(1, height * 224 // width)
      |       ELSE 224 END AS out_h,
      |  (CASE WHEN width >= height THEN 224
      |        ELSE greatest(1, width * 224 // height) END) *
      |  (CASE WHEN width >= height THEN greatest(1, height * 224 // width)
      |        ELSE 224 END) * 3 AS out_bytes
      |FROM d ORDER BY doc_id""".stripMargin

  /** REAL pixel decode + resample: each doc carries a complete
    * zlib-deflated PNG; Spark decodes it with the javax.imageio codec,
    * nearest-neighbor-resamples into a 16-box and checksums the
    * resampled pixels — while the oracle recomputes the checksum
    * ARITHMETICALLY from the deterministic pixel function. A green row
    * proves the encode → inflate → unfilter → resample chain end to
    * end; no container-field shortcut can fake it. */
  private def q121(s: SparkSession, dir: String): DataFrame =
    Multimodal.resizePixels(s, Tables(s, dir, "documents"), box = 16).toDF()
      .orderBy(col("doc_id"))

  private val q121Sql =
    """WITH d AS (SELECT doc_id,
      |    4 + doc_id % 29 AS w, 4 + (doc_id * 3) % 31 AS h FROM documents),
      |f AS (SELECT doc_id, w, h,
      |    CASE WHEN w >= h THEN 16 ELSE greatest(1, w * 16 // h) END AS ow,
      |    CASE WHEN w >= h THEN greatest(1, h * 16 // w) ELSE 16 END AS oh
      |  FROM d),
      |px AS (SELECT doc_id, w, h, ow, oh, i.i AS i, j.j AS j,
      |    (i.i * w) // ow AS sx, (j.j * h) // oh AS sy
      |  FROM f, unnest(range(0, ow)) AS i(i), unnest(range(0, oh)) AS j(j))
      |SELECT doc_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
      |  CAST(ow AS BIGINT) AS out_w, CAST(oh AS BIGINT) AS out_h,
      |  CAST(sum(((sx * 7 + sy * 11 + doc_id) % 256
      |      + 2 * ((sx * 13 + sy * 3 + 2 * doc_id) % 256)
      |      + 3 * ((sx + sy * 17 + 3 * doc_id) % 256))
      |    * (1 + i + j * ow)) AS BIGINT) AS px_checksum
      |FROM px GROUP BY doc_id, w, h, ow, oh
      |ORDER BY doc_id""".stripMargin

  private def q66(s: SparkSession, dir: String): DataFrame =
    Multimodal.sampleFrames(s, Tables(s, dir, "documents"), every = 5)
      .orderBy(col("doc_id"), col("frame_idx"))

  private val q66Sql =
    // n_frames/n_bytes mirror synthMp4's arithmetic; the Spark side
    // must recover them from the MP4 stts walk (a parsing bug breaks
    // the match). 357 = MediaHeader.mp4HeaderLen (spec-pinned).
    """WITH m AS (SELECT doc_id,
      |    octet_length(encode(coalesce(text, ''))) + 357 AS n_bytes,
      |    2 + ((octet_length(encode(coalesce(text, ''))) * 3) % 240) AS n_frames
      |  FROM documents)
      |SELECT doc_id, frame_idx,
      |  CAST(FLOOR(frame_idx * n_bytes / n_frames) AS BIGINT) AS byte_offset
      |FROM m, unnest(range(0, n_frames, 5)) AS t(frame_idx)
      |ORDER BY doc_id, frame_idx""".stripMargin

  /** Video metadata decode: every document carries a synthesized MP4
    * payload whose canvas/timescale/frame-count fields derive from
    * doc_id/text length — the Spark side must round-trip them through
    * a real ISO-BMFF box walk (moov/mvhd/trak/tkhd/stbl/stts), and
    * the oracle recomputes them arithmetically. */
  private def q115(s: SparkSession, dir: String): DataFrame =
    Multimodal.decodeVideoMeta(s, Tables(s, dir, "documents")).toDF()
      .select(col("doc_id"),
        col("n_bytes").cast("bigint").as("n_bytes"),
        col("width").cast("bigint").as("width"),
        col("height").cast("bigint").as("height"),
        col("n_frames"),
        col("timescale").cast("bigint").as("timescale"),
        col("duration_ms"))
      .orderBy(col("doc_id"))

  private val q115Sql =
    """WITH d AS (SELECT doc_id,
      |    octet_length(encode(coalesce(text, ''))) AS L FROM documents),
      |m AS (SELECT doc_id, L,
      |    2 + ((L * 3) % 240) AS nf,
      |    (2 + ((L * 3) % 240)) // 2 AS n1,
      |    CASE doc_id % 3 WHEN 0 THEN 24000 WHEN 1 THEN 25000
      |         ELSE 30000 END AS ts
      |  FROM d)
      |SELECT doc_id,
      |  CAST(357 + L AS BIGINT) AS n_bytes,
      |  CAST(64 + (L % 512) AS BIGINT) AS width,
      |  CAST(64 + ((L * 7) % 512) AS BIGINT) AS height,
      |  CAST(nf AS BIGINT) AS n_frames,
      |  CAST(ts AS BIGINT) AS timescale,
      |  CAST((n1 * 800 + (nf - n1) * 1200) * 1000 // ts AS BIGINT) AS duration_ms
      |FROM m ORDER BY doc_id""".stripMargin

  /** Context-window chunking: overlapping 50-word chunks, stride 40. */
  private def q72(s: SparkSession, dir: String): DataFrame =
    TextOps.chunkDocs(Tables(s, dir, "documents"))
      .orderBy(col("doc_id"), col("chunk_idx"))

  private val q72Sql =
    """WITH w AS (SELECT doc_id, string_split(coalesce(text, ''), ' ') AS ws FROM documents),
      |c AS (SELECT doc_id, ws, CAST(gs AS BIGINT) AS start
      |      FROM w, unnest(range(1, greatest(len(ws), 1) + 1, 40)) AS t(gs))
      |SELECT doc_id, CAST((start - 1) // 40 AS BIGINT) AS chunk_idx,
      |  array_to_string(ws[start : start + 49], ' ') AS chunk,
      |  CAST(len(ws[start : start + 49]) AS BIGINT) AS n_chunk_words
      |FROM c ORDER BY doc_id, chunk_idx""".stripMargin

  /** PII / denylist scrubbing with per-family counts. */
  private def q73(s: SparkSession, dir: String): DataFrame =
    TextOps.piiScrub(Tables(s, dir, "documents"))
      .orderBy(col("doc_id"))

  private val q73Sql =
    """WITH r AS (SELECT doc_id,
      |    regexp_replace(regexp_replace(regexp_replace(text,
      |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
      |      '[0-9]{9,}', '<NUM>', 'g'),
      |      '\b(\Qspark\E)\b', '<TERM>', 'g') AS redacted,
      |    CAST(len(regexp_extract_all(text,
      |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
      |    CAST(len(regexp_extract_all(text, '[0-9]{9,}')) AS BIGINT) AS n_idnums,
      |    CAST(len(regexp_extract_all(text, '\b(\Qspark\E)\b')) AS BIGINT) AS n_denied
      |  FROM documents)
      |SELECT doc_id, n_emails, n_idnums, n_denied, redacted,
      |  md5(redacted) AS redacted_fp
      |FROM r ORDER BY doc_id""".stripMargin

  /** ANN self-evaluation over the planted fixture (VERDICT r13 #4 —
    * promoted from rows-only): recall@10 of the LSH index vs the exact
    * brute-force top-10, where the exact side is the planted family BY
    * CONSTRUCTION. Three envelope booleans the oracle pins TRUE: the
    * exact side returns a full 10 per center (n_exact), the exact
    * top-10 IS the family (the planting itself — a fixture regression
    * is caught, not assumed away), and aggregate LSH recall clears the
    * floor (0.6 — per-bit sign flips under the ±0.02 noise cost
    * members, and 8-bit bucket equality is all-or-nothing per member).
    * The previous rows-only recall on the raw near-random corpus
    * measured nothing: LSH recall there is legitimately ~0. */
  private def q74(s: SparkSession, dir: String): DataFrame = {
    val (corpus, qs) = plantedAnn(s, dir)
    val rec = VectorOps.annRecall(corpus, qs, 10)
      .agg(count(lit(1)).as("n_queries"),
        sum(col("n_exact")).as("n_exact"),
        sum(col("n_hits")).as("n_hits"))
    val exactFam = VectorOps.cosineTopK(corpus, qs, 10)
      .agg(sum(when(familyOf(col("vec_id")) === col("query_id"), 1L)
        .otherwise(0L)).as("exact_family_hits"),
        count(lit(1)).as("n_exact_rows"))
    rec.crossJoin(exactFam)
      .select(col("n_queries"),
        col("n_exact").cast("bigint").as("n_exact"),
        (col("exact_family_hits") === col("n_exact_rows") &&
          col("n_exact_rows") === col("n_queries") * 10L)
          .as("exact_is_family"),
        (col("n_hits").cast("double") / col("n_exact") >= 0.6)
          .as("lsh_recall_ok"))
  }

  private val q74Sql =
    """SELECT CAST(count(*) AS BIGINT) AS n_queries,
      |  CAST(count(*) * 10 AS BIGINT) AS n_exact,
      |  TRUE AS exact_is_family, TRUE AS lsh_recall_ok
      |FROM embeddings WHERE vec_id % 50 = 0 AND vec_id < 2500""".stripMargin

  /** Per-label embedding centroids (label × dimension means). */
  private def q75(s: SparkSession, dir: String): DataFrame =
    VectorOps.labelCentroids(Tables(s, dir, "embeddings"))
      .orderBy(col("label"), col("pos"))

  private val q75Sql =
    """WITH e AS (SELECT label, generate_subscripts(embedding, 1) AS pos,
      |             unnest(embedding) AS v FROM embeddings)
      |SELECT label, CAST(pos AS BIGINT) AS pos,
      |  round(CAST(avg(CAST(CAST(v AS DOUBLE) AS DECIMAL(18,8))) AS DOUBLE), 4) AS mean_val,
      |  count(*) AS n_vectors
      |FROM e GROUP BY label, pos ORDER BY label, pos""".stripMargin

  /** Pairwise label-centroid cosine affinity — the domain-similarity
    * matrix a mixture designer reads next to q75's centroids (which
    * label clusters are near-duplicates of each other, which are
    * orthogonal). Centroid components are the q75 values (decimal-
    * exact means rounded to 4), so the 10×10/2 matrix is bit-stable;
    * the cosine is computed dot/(‖a‖·‖b‖) over those rounded
    * components in index order on both engines. Scale: the centroid
    * aggregate is one (label, pos)-keyed shuffle of scalar pairs;
    * the pair join is |labels|² over broadcast-size rows. */
  private def q148(s: SparkSession, dir: String): DataFrame = {
    val cent = VectorOps.labelCentroids(Tables(s, dir, "embeddings"))
      .groupBy(col("label"))
      .agg(transform(
        array_sort(collect_list(struct(col("pos"), col("mean_val")))),
        x => x("mean_val")).as("c"))
      .select(col("label").cast("bigint").as("label"), col("c"))
    def dot(a: Column, b: Column): Column = Tables.dotFold(a, b)
    cent.as("a").join(cent.as("b"), col("a.label") < col("b.label"))
      .select(col("a.label").as("label_a"), col("b.label").as("label_b"),
        round(dot(col("a.c"), col("b.c")) /
          (sqrt(dot(col("a.c"), col("a.c"))) *
            sqrt(dot(col("b.c"), col("b.c")))), 4).as("cos"))
      .orderBy(col("label_a"), col("label_b"))
  }

  private val q148Sql =
    """WITH e AS (SELECT label, generate_subscripts(embedding, 1) AS pos,
      |             unnest(embedding) AS v FROM embeddings),
      |c AS (SELECT label, pos,
      |    round(CAST(avg(CAST(CAST(v AS DOUBLE) AS DECIMAL(18,8)))
      |          AS DOUBLE), 4) AS m
      |  FROM e GROUP BY label, pos),
      |vec AS (SELECT CAST(label AS BIGINT) AS label,
      |    list(m ORDER BY pos) AS c FROM c GROUP BY label)
      |SELECT a.label AS label_a, b.label AS label_b,
      |  round(list_dot_product(a.c, b.c) /
      |        (sqrt(list_dot_product(a.c, a.c)) *
      |         sqrt(list_dot_product(b.c, b.c))), 4) AS cos
      |FROM vec a JOIN vec b ON a.label < b.label
      |ORDER BY label_a, label_b""".stripMargin

  /** Embedding outliers: distance-to-label-centroid z-score ≥ 1.5 —
    * the mislabel/noise screen over labeled vectors. */
  private def q152(s: SparkSession, dir: String): DataFrame =
    VectorOps.centroidOutliers(Tables(s, dir, "embeddings"))

  private val q152Sql =
    """WITH e AS (SELECT vec_id, label,
      |    generate_subscripts(embedding, 1) AS pos,
      |    unnest(embedding) AS x FROM embeddings),
      |c AS (SELECT label, pos,
      |    round(CAST(avg(CAST(CAST(x AS DOUBLE) AS DECIMAL(18,8)))
      |          AS DOUBLE), 4) AS m
      |  FROM e GROUP BY label, pos),
      |t AS (SELECT e.vec_id, e.label,
      |    CAST(round((CAST(e.x AS DOUBLE) - c.m) *
      |               (CAST(e.x AS DOUBLE) - c.m), 8) AS DECIMAL(18,8)) AS t
      |  FROM e JOIN c ON e.label = c.label AND e.pos = c.pos),
      |d AS (SELECT vec_id, label,
      |    round(sqrt(CAST(sum(t) AS DOUBLE)), 4) AS dist
      |  FROM t GROUP BY vec_id, label),
      |st AS (SELECT label, count(*) AS n,
      |    CAST(sum(CAST(dist AS DECIMAL(18,4))) AS DOUBLE) AS s1,
      |    CAST(sum(CAST(round(dist * dist, 8) AS DECIMAL(28,8)))
      |         AS DOUBLE) AS s2
      |  FROM d GROUP BY label),
      |z AS (SELECT d.vec_id, CAST(d.label AS BIGINT) AS label, d.dist,
      |    round((d.dist - s1 / n) /
      |          sqrt(s2 / n - (s1 / n) * (s1 / n)), 4) AS z
      |  FROM d JOIN st ON d.label = st.label
      |  WHERE sqrt(s2 / n - (s1 / n) * (s1 / n)) > 0)
      |SELECT vec_id, label, dist, z FROM z
      |WHERE z >= 1.5 ORDER BY label, vec_id""".stripMargin

  /** Winsorized per-source length statistics — the robust-moments
    * report a curation pipeline reads instead of raw means (a handful
    * of giant or empty documents otherwise dominate): token lengths
    * clipped at the nearest-rank p05/p95 per source (rank thresholds
    * in exact integer arithmetic — `ceil(q·n)` as `(q·100·n+99)//100`
    * — so no interpolation and no float rank), then exact integer
    * sums for both raw and winsorized means. One rank window + one
    * broadcast threshold join; ties in length are harmless because
    * the VALUE at a rank position is order-independent. */
  private def q159(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = Tables(s, dir, "documents").select(col("source"),
      size(split(coalesce(col("text"), lit("")), " ")).cast("bigint")
        .as("len"))
    val w = Window.partitionBy(col("source")).orderBy(col("len"))
    def rankAt(pct: Int): Column =
      floor((col("n") * pct + lit(99)) / lit(100)).cast("bigint")
    val th = base.withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("source"))))
      .groupBy(col("source"))
      .agg(max(col("n")).as("n_rows"),
        min(when(col("rn") === rankAt(5), col("len"))).as("p05"),
        min(when(col("rn") === rankAt(95), col("len"))).as("p95"))
    base.join(broadcast(th), "source")
      .groupBy(col("source"))
      .agg(max(col("n_rows")).as("n_rows"),
        max(col("p05")).as("p05"), max(col("p95")).as("p95"),
        round(sum(col("len")).cast("double") / count(lit(1)), 4)
          .as("mean_raw"),
        round(sum(least(greatest(col("len"), col("p05")), col("p95")))
          .cast("double") / count(lit(1)), 4).as("mean_winsor"),
        sum((col("len") < col("p05")).cast("int").cast("bigint"))
          .as("n_clip_lo"),
        sum((col("len") > col("p95")).cast("int").cast("bigint"))
          .as("n_clip_hi"))
      .orderBy(col("source"))
  }

  private val q159Sql =
    """WITH b AS (SELECT source,
      |    CAST(len(string_split(coalesce(text, ''), ' ')) AS BIGINT) AS len
      |  FROM documents),
      |r AS (SELECT source, len,
      |    row_number() OVER (PARTITION BY source ORDER BY len) AS rn,
      |    count(*) OVER (PARTITION BY source) AS n FROM b),
      |th AS (SELECT source, max(n) AS n_rows,
      |    min(CASE WHEN rn = (n * 5 + 99) // 100 THEN len END) AS p05,
      |    min(CASE WHEN rn = (n * 95 + 99) // 100 THEN len END) AS p95
      |  FROM r GROUP BY source)
      |SELECT b.source, max(th.n_rows) AS n_rows,
      |  max(th.p05) AS p05, max(th.p95) AS p95,
      |  round(CAST(sum(b.len) AS DOUBLE) / count(*), 4) AS mean_raw,
      |  round(CAST(sum(least(greatest(b.len, th.p05), th.p95)) AS DOUBLE)
      |    / count(*), 4) AS mean_winsor,
      |  CAST(count(*) FILTER (b.len < th.p05) AS BIGINT) AS n_clip_lo,
      |  CAST(count(*) FILTER (b.len > th.p95) AS BIGINT) AS n_clip_hi
      |FROM b JOIN th ON b.source = th.source
      |GROUP BY b.source ORDER BY b.source""".stripMargin

  /** Lang × source chi-square contingency audit — the independence
    * check a dataset card reports (is language balance uniform across
    * sources, or does one source skew the mix?): observed cell counts
    * vs expected `r·c/N` with per-cell χ² contributions. Marginals
    * are window sums of exact integer counts over the ~|langs×sources|
    * cell table (one tiny shuffle after the counting aggregate); the
    * double arithmetic is shape-identical on both engines. */
  private def q160(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cells = Tables(s, dir, "documents")
      .groupBy(col("lang"), col("source")).agg(count(lit(1)).as("n"))
    val e = (col("r") * col("c")).cast("double") / col("t")
    val d = col("n") - e
    cells
      .withColumn("r", sum(col("n")).over(Window.partitionBy(col("lang"))))
      .withColumn("c", sum(col("n")).over(Window.partitionBy(col("source"))))
      .withColumn("t", sum(col("n")).over(Window.partitionBy()))
      .select(col("lang"), col("source"), col("n"),
        round(e, 4).as("expected"),
        round(d * d / e, 4).as("chisq_contrib"))
      .orderBy(col("lang"), col("source"))
  }

  private val q160Sql =
    """WITH cells AS (SELECT lang, source, count(*) AS n
      |  FROM documents GROUP BY lang, source),
      |m AS (SELECT lang, source, n,
      |    sum(n) OVER (PARTITION BY lang) AS r,
      |    sum(n) OVER (PARTITION BY source) AS c,
      |    sum(n) OVER () AS t FROM cells)
      |SELECT lang, source, n,
      |  round(CAST(r * c AS DOUBLE) / t, 4) AS expected,
      |  round((n - CAST(r * c AS DOUBLE) / t) *
      |        (n - CAST(r * c AS DOUBLE) / t) /
      |        (CAST(r * c AS DOUBLE) / t), 4) AS chisq_contrib
      |FROM m ORDER BY lang, source""".stripMargin

  /** Word-level dictionary encoding with a 256-token vocab: id
    * sequences fingerprinted, UNK (OOV) counts surfaced. */
  private def q151(s: SparkSession, dir: String): DataFrame =
    TextOps.vocabEncode(Tables(s, dir, "documents"))
      .orderBy(col("doc_id"))

  private val q151Sql =
    """WITH d AS (SELECT doc_id, string_split(coalesce(text, ''), ' ') AS ws
      |           FROM documents),
      |t AS (SELECT doc_id, i AS pos, ws[i] AS w
      |      FROM d, unnest(range(1, len(ws) + 1)) AS r(i)),
      |c AS (SELECT w, count(*) AS cnt FROM t GROUP BY w),
      |v AS (SELECT w, row_number() OVER (ORDER BY cnt DESC, w) AS id
      |      FROM c ORDER BY cnt DESC, w LIMIT 256),
      |e AS (SELECT t.doc_id, t.pos, coalesce(v.id, 0) AS id
      |      FROM t LEFT JOIN v USING (w))
      |SELECT doc_id, count(*) AS n_tokens,
      |  CAST(count(*) FILTER (id = 0) AS BIGINT) AS n_unk,
      |  md5(array_to_string(list(id::VARCHAR ORDER BY pos), ',')) AS ids_md5
      |FROM e GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Temperature-scaled mixture draw (α=0.5): quotas from corpus
    * counts, filled in deterministic md5 order. */
  private def q149(s: SparkSession, dir: String): DataFrame =
    TextOps.temperatureSample(Tables(s, dir, "documents"))
      .orderBy(col("source"), col("rk"))

  private val q149Sql =
    """WITH c AS (SELECT source, count(*) AS n_docs FROM documents
      |           GROUP BY source),
      |z AS (SELECT CAST(sum(CAST(round(sqrt(n_docs::DOUBLE), 8)
      |        AS DECIMAL(18,8))) AS DOUBLE) AS z FROM c),
      |q AS (SELECT source,
      |    CAST(floor(sqrt(n_docs::DOUBLE) / z * 200.0 + 0.5) AS BIGINT)
      |      AS quota
      |  FROM c CROSS JOIN z),
      |r AS (SELECT source, doc_id,
      |    CAST(row_number() OVER (PARTITION BY source
      |      ORDER BY md5(doc_id::VARCHAR), doc_id) AS BIGINT) AS rk
      |  FROM documents)
      |SELECT r.source, r.doc_id, r.rk, q.quota
      |FROM r JOIN q USING (source) WHERE r.rk <= q.quota
      |ORDER BY r.source, r.rk""".stripMargin

  /** Bootstrap CI for the per-source mean document length
    * ([[TextOps.bootstrapMeanCI]]): derandomized Poisson-weight
    * resampling, exact integer replica sums, nearest-rank p05/p95 of
    * the replica means. The one statistic a data card should never
    * print bare is a mean without its uncertainty. */
  private def q166(s: SparkSession, dir: String): DataFrame =
    TextOps.bootstrapMeanCI(Tables(s, dir, "documents"), col("n_chars"))
      .orderBy(col("source"))

  private val q166Sql =
    """WITH d AS (SELECT source, doc_id, CAST(n_chars AS BIGINT) AS m
      |  FROM documents),
      |rep AS (SELECT source, b, m,
      |    CASE WHEN u < 0.36787944117144233 THEN 0
      |         WHEN u < 0.7357588823428847 THEN 1
      |         WHEN u < 0.9196986029286058 THEN 2
      |         WHEN u < 0.9810118431238462 THEN 3
      |         WHEN u < 0.9963401531726563 THEN 4
      |         WHEN u < 0.9994058151824183 THEN 5
      |         ELSE 6 END AS w
      |  FROM (SELECT d.*, t.b,
      |      CAST((doc_id * 100 + b + 1) * 48271 % 2147483647 AS DOUBLE)
      |        / 2147483647.0 AS u
      |    FROM d, unnest(range(0, 100)) AS t(b))),
      |ag AS (SELECT source, b,
      |    CAST(sum(w * m) AS DOUBLE) / CAST(sum(w) AS DOUBLE) AS mb
      |  FROM rep GROUP BY source, b HAVING sum(w) > 0),
      |rk AS (SELECT source, b, mb,
      |    row_number() OVER (PARTITION BY source ORDER BY mb, b) AS rn,
      |    count(*) OVER (PARTITION BY source) AS nb
      |  FROM ag),
      |ci AS (SELECT source,
      |    min(CASE WHEN rn = (nb * 5 + 99) // 100 THEN mb END) AS ci_lo,
      |    min(CASE WHEN rn = (nb * 95 + 99) // 100 THEN mb END) AS ci_hi
      |  FROM rk GROUP BY source),
      |obs AS (SELECT source, count(*) AS n_docs,
      |    CAST(sum(m) AS DOUBLE) / count(*) AS mean_obs
      |  FROM d GROUP BY source)
      |SELECT obs.source, n_docs, mean_obs, ci_lo, ci_hi
      |FROM obs JOIN ci USING (source) ORDER BY source""".stripMargin

  /** Cross-source quantile normalization of document length
    * ([[TextOps.quantileNormalize]]): every source re-expressed on
    * the global length distribution, so a single threshold means the
    * same thing in every source — the alignment step before mixing. */
  private def q169(s: SparkSession, dir: String): DataFrame =
    TextOps.quantileNormalize(Tables(s, dir, "documents"), col("n_chars"))
      .orderBy(col("doc_id"))

  private val q169Sql =
    """WITH d AS (SELECT doc_id, source, CAST(n_chars AS BIGINT) AS m
      |  FROM documents),
      |r AS (SELECT *,
      |    row_number() OVER (PARTITION BY source ORDER BY m, doc_id)
      |      AS rk,
      |    count(*) OVER (PARTITION BY source) AS ns FROM d),
      |n AS (SELECT count(*) AS nt FROM d),
      |g AS (SELECT m, count(*) AS c FROM d GROUP BY m),
      |cdf AS (SELECT m AS gm,
      |    sum(c) OVER w AS cum, sum(c) OVER w - c + 1 AS lo
      |  FROM g WINDOW w AS (ORDER BY m
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |t AS (SELECT r.*, (rk * nt + ns - 1) // ns AS tpos
      |  FROM r CROSS JOIN n)
      |SELECT doc_id, source, m, cdf.gm AS m_norm
      |FROM t JOIN cdf ON t.tpos BETWEEN cdf.lo AND cdf.cum
      |ORDER BY doc_id""".stripMargin

  /** Per-source language-mix entropy — the data-card diversity metric
    * beside q160's χ² independence test: Shannon entropy (nats) of
    * each source's language distribution, with the language count and
    * majority share. Entropy terms follow the q93 discipline (p·ln p
    * rounded to 8, decimal-summed — exact and associative under any
    * partitioning), final values rounded to 4. One tiny (source,
    * lang) aggregate; everything downstream is domain-sized. */
  private def q177(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cells = Tables(s, dir, "documents")
      .groupBy(col("source"), col("lang")).agg(count(lit(1)).as("c"))
      .withColumn("n",
        sum(col("c")).over(Window.partitionBy(col("source"))))
      .withColumn("term",
        round((col("c").cast("double") / col("n")) *
          log(col("c").cast("double") / col("n")), 8)
          .cast("decimal(18,8)"))
    cells.groupBy(col("source"))
      .agg(max(col("n")).as("n_docs"),
        count(lit(1)).as("n_langs"),
        round(max(col("c")).cast("double") / max(col("n")), 4)
          .as("majority_share"),
        round(-(sum(col("term")).cast("double")), 4).as("lang_entropy"))
      .orderBy(col("source"))
  }

  private val q177Sql =
    """WITH cells AS (SELECT source, lang, count(*) AS c
      |  FROM documents GROUP BY source, lang),
      |t AS (SELECT source, lang, c,
      |    CAST(sum(c) OVER (PARTITION BY source) AS BIGINT) AS n
      |  FROM cells)
      |SELECT source, CAST(max(n) AS BIGINT) AS n_docs,
      |  count(*) AS n_langs,
      |  round(CAST(max(c) AS DOUBLE) / max(n), 4) AS majority_share,
      |  round(-CAST(sum(CAST(round((c::DOUBLE / n) * ln(c::DOUBLE / n), 8)
      |    AS DECIMAL(18,8))) AS DOUBLE), 4) AS lang_entropy
      |FROM t GROUP BY source ORDER BY source""".stripMargin

  /** Pointwise-mutual-information collocations — the classic
    * statistically-bound-phrase extractor (Church & Hanks 1990):
    * adjacent word pairs scored by ln(p(ab)/(p(a)p(b))) over corpus
    * counts, minimum support 5, top 20 by (rounded PMI, pair).
    *
    * SINGLE-SCAN shape (VERDICT r9 #5): one projection emits the
    * unigram AND the bigram stream as tagged (kind, w1, w2) rows, so
    * the corpus is read exactly ONCE and both count tables fall out
    * of ONE keyed aggregation (map-side combined). The grouped table
    * is vocabulary+bigram-vocabulary-sized — persisted (recomputable
    * lineage) because five consumers read it; at 100 TB that cache is
    * ≪ corpus while the saved second corpus scan is the dominant
    * cost. Totals derive from the grouped counts (sum of group counts
    * == stream count). PMI expression and ranking follow the
    * round-then-tiebreak convention. */
  private def q178(s: SparkSession, dir: String): DataFrame = {
    val ws = split(coalesce(col("text"), lit("")), " ")
    val uni = transform(ws,
      x => struct(lit(0).as("kind"), x.as("w1"),
        lit(null).cast("string").as("w2")))
    val bi = when(size(ws) >= 2,
      transform(sequence(lit(0), size(ws) - lit(2)),
        i => struct(lit(1).as("kind"),
          element_at(ws, i + lit(1)).as("w1"),
          element_at(ws, i + lit(2)).as("w2"))))
      .otherwise(array().cast("array<struct<kind:int,w1:string,w2:string>>"))
    // Fanout the projected text before the unigram+bigram explosion —
    // the dominant per-row stage; no-op when the scan already fans out
    val counts = graft.ops.Fanout(
        Tables(s, dir, "documents").select(col("text")))
      .select(explode(concat(uni, bi)).as("t"))
      .select(col("t.kind").as("kind"), col("t.w1").as("w1"),
        col("t.w2").as("w2"))
      .groupBy(col("kind"), col("w1"), col("w2"))
      .agg(count(lit(1)).as("c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cu = counts.where(col("kind") === 0)
      .select(col("w1").as("w"), col("c").as("cw"))
    val cbAll = counts.where(col("kind") === 1)
      .select(col("w1"), col("w2"), col("c").as("cab"))
    val cb = cbAll.where(col("cab") >= 5)
    val nb = cbAll.agg(sum(col("cab")).as("n_bi"))
    val nu = cu.agg(sum(col("cw")).as("n_uni"))
    cb.join(cu.select(col("w").as("w1"), col("cw").as("ca")), "w1")
      .join(cu.select(col("w").as("w2"), col("cw").as("cb2")), "w2")
      .crossJoin(broadcast(nb)).crossJoin(broadcast(nu))
      .select(col("w1"), col("w2"), col("cab"),
        round(log((col("cab").cast("double") / col("n_bi")) /
          ((col("ca").cast("double") / col("n_uni")) *
            (col("cb2").cast("double") / col("n_uni")))), 4).as("pmi"))
      .orderBy(col("pmi").desc, col("w1"), col("w2"))
      .limit(20)
  }

  private val q178Sql =
    """WITH d AS (SELECT string_split(coalesce(text, ''), ' ') AS ws
      |  FROM documents),
      |bg AS (SELECT ws[i] AS w1, ws[i + 1] AS w2
      |  FROM d, unnest(range(1, len(ws))) AS t(i)),
      |cb AS (SELECT w1, w2, count(*) AS cab FROM bg
      |  GROUP BY w1, w2 HAVING count(*) >= 5),
      |wu AS (SELECT unnest(ws) AS w FROM d),
      |cu AS (SELECT w, count(*) AS cw FROM wu GROUP BY w),
      |nb AS (SELECT count(*) AS n_bi FROM bg),
      |nu AS (SELECT count(*) AS n_uni FROM wu)
      |SELECT w1, w2, cab,
      |  round(ln((CAST(cab AS DOUBLE) / n_bi) /
      |    ((CAST(a.cw AS DOUBLE) / n_uni) *
      |      (CAST(b.cw AS DOUBLE) / n_uni))), 4) AS pmi
      |FROM cb JOIN cu a ON cb.w1 = a.w
      |JOIN cu b ON cb.w2 = b.w
      |CROSS JOIN nb CROSS JOIN nu
      |ORDER BY pmi DESC, w1, w2 LIMIT 20""".stripMargin

  /** Ranking-quality evaluation of the CHEAP length-only signal (the
    * classifier's clamped n_words/256 feature) against the full
    * quality gate ([[graft.ops.TextOps.qualityOk]]): exact
    * tie-corrected Mann–Whitney AUC plus a confusion table (tp/fp/fn/
    * tn, precision, recall, F1) at four operating thresholds — the
    * "can a length cutoff stand in for the full gate" measurement a
    * pipeline makes before spending the expensive signals on every
    * document (q176 is the dedup-threshold twin of this report).
    *
    * AUC is computed WITHOUT a global rank: scores are grouped (the
    * rounded score domain is ≤10⁴ values), a window over the tiny
    * per-score table accumulates negatives-below, and
    * Σ pos_s·neg_below + ½·Σ pos_s·neg_s counts concordant pairs
    * exactly. Pair counts are decimal-summed (n² exceeds 2⁵³ long
    * before n stresses a shuffle), so the value is exact and
    * layout-independent at any corpus size; the corpus-sized work is
    * one scan + one score-keyed aggregate. F1 uses the integer form
    * 2tp/(2tp+fp+fn) so every division is a single final step. */
  private def q179(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // ONE corpus pass: everything below (AUC and the confusion table)
    // derives from this grouped score table of <=10^4 rows
    val g = Tables(s, dir, "documents")
      .select(round(TextOps.lengthSignal(4.0), 4).as("sc"),
        when(TextOps.qualityOk, 1L).otherwise(0L).as("y"))
      .groupBy(col("sc"))
      .agg(sum(col("y")).as("pos_s"), sum(lit(1L) - col("y")).as("neg_s"))
    val below = Window.orderBy(col("sc"))
      .rowsBetween(Window.unboundedPreceding, -1)
    // pair counts multiply in decimal (18,0)x(18,0): corpus-scale
    // longs would overflow a 64-bit product long before the sums
    // stress anything else
    val auc = g
      .withColumn("neg_below", coalesce(sum(col("neg_s")).over(below), lit(0L)))
      .agg(sum(col("pos_s").cast("decimal(18,0)") *
          col("neg_below").cast("decimal(18,0)")).as("wf"),
        sum(col("pos_s").cast("decimal(18,0)") *
          col("neg_s").cast("decimal(18,0)")).as("wt"),
        sum(col("pos_s")).as("npos"), sum(col("neg_s")).as("nneg"))
      .select(round((col("wf").cast("double") + col("wt").cast("double") / 2.0) /
        (col("npos").cast("double") * col("nneg").cast("double")), 6).as("auc"))
    val th = s.range(1).select(
      explode(array(lit(0.2), lit(0.4), lit(0.6), lit(0.8))).as("threshold"))
    g.crossJoin(broadcast(th))
      .groupBy(col("threshold"))
      .agg(sum(when(col("sc") >= col("threshold"), col("pos_s")).otherwise(0L)).as("tp"),
        sum(when(col("sc") >= col("threshold"), col("neg_s")).otherwise(0L)).as("fp"),
        sum(when(col("sc") < col("threshold"), col("pos_s")).otherwise(0L)).as("fn"),
        sum(when(col("sc") < col("threshold"), col("neg_s")).otherwise(0L)).as("tn"))
      .crossJoin(broadcast(auc))
      .select(col("threshold"), col("tp"), col("fp"), col("fn"), col("tn"),
        when(col("tp") + col("fp") === 0L, lit(null).cast("double"))
          .otherwise(round(col("tp").cast("double") /
            (col("tp") + col("fp")), 4)).as("precision"),
        when(col("tp") + col("fn") === 0L, lit(null).cast("double"))
          .otherwise(round(col("tp").cast("double") /
            (col("tp") + col("fn")), 4)).as("recall"),
        when(lit(2L) * col("tp") + col("fp") + col("fn") === 0L,
          lit(null).cast("double"))
          .otherwise(round(lit(2.0) * col("tp") /
            (lit(2L) * col("tp") + col("fp") + col("fn")), 4)).as("f1"),
        col("auc"))
      .orderBy(col("threshold"))
  }

  private val q179Sql =
    """WITH t AS (SELECT
      |    len(string_split(coalesce(text, ''), ' ')) AS n_words,
      |    len(list_filter(string_split(coalesce(text, ''), ' '),
      |        x -> list_contains(['the','a','of','and','in','to','is'], x)))::DOUBLE
      |      / len(string_split(coalesce(text, ''), ' ')) AS stop_ratio,
      |    length(replace(coalesce(text, ''), ' ', ''))::DOUBLE
      |      / len(string_split(coalesce(text, ''), ' ')) AS mean_word_len
      |  FROM documents),
      |sc AS (SELECT
      |    round(least(n_words / 256.0, 4.0), 4) AS sc,
      |    CASE WHEN n_words >= 8 AND stop_ratio >= 0.02
      |         AND mean_word_len BETWEEN 2.0 AND 12.0
      |         THEN 1 ELSE 0 END AS y
      |  FROM t),
      |g AS (SELECT sc, sum(y) AS pos_s, sum(1 - y) AS neg_s
      |  FROM sc GROUP BY sc),
      |cg AS (SELECT sc, pos_s, neg_s,
      |    coalesce(sum(neg_s) OVER (ORDER BY sc
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      AS neg_below
      |  FROM g),
      |a AS (SELECT round(
      |    (CAST(sum(CAST(pos_s AS DECIMAL(18,0)) *
      |              CAST(neg_below AS DECIMAL(18,0))) AS DOUBLE) +
      |     CAST(sum(CAST(pos_s AS DECIMAL(18,0)) *
      |              CAST(neg_s AS DECIMAL(18,0))) AS DOUBLE) / 2.0) /
      |    (CAST(sum(pos_s) AS DOUBLE) * CAST(sum(neg_s) AS DOUBLE)), 6)
      |    AS auc FROM cg),
      |th AS (SELECT unnest([0.2, 0.4, 0.6, 0.8]::DOUBLE[]) AS threshold),
      |m AS (SELECT threshold,
      |    sum(CASE WHEN sc >= threshold THEN pos_s ELSE 0 END) AS tp,
      |    sum(CASE WHEN sc >= threshold THEN neg_s ELSE 0 END) AS fp,
      |    sum(CASE WHEN sc < threshold THEN pos_s ELSE 0 END) AS fn,
      |    sum(CASE WHEN sc < threshold THEN neg_s ELSE 0 END) AS tn
      |  FROM g CROSS JOIN th GROUP BY threshold)
      |SELECT threshold, CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
      |  CAST(fn AS BIGINT) AS fn, CAST(tn AS BIGINT) AS tn,
      |  CASE WHEN tp + fp = 0 THEN NULL
      |       ELSE round(CAST(tp AS DOUBLE) / (tp + fp), 4) END AS precision,
      |  CASE WHEN tp + fn = 0 THEN NULL
      |       ELSE round(CAST(tp AS DOUBLE) / (tp + fn), 4) END AS recall,
      |  CASE WHEN 2 * tp + fp + fn = 0 THEN NULL
      |       ELSE round(2.0 * tp / (2 * tp + fp + fn), 4) END AS f1,
      |  auc
      |FROM m CROSS JOIN a ORDER BY threshold""".stripMargin

  /** Compression-ratio low-entropy screen
    * ([[graft.ops.TextOps.compressionSignal]]): per-document DEFLATE
    * ratio plus the corpus summary a curation run reads (per-source
    * mean ratio and flagged share). Rows-only — DuckDB has no deflate;
    * DeflateLengthSpec pins the native expression against the UDF
    * fallback bit-for-bit and the ratio/flag arithmetic against a
    * driver-side Deflater fold. */
  private def q181(s: SparkSession, dir: String): DataFrame =
    // oracled since r14: DuckDB still has no deflate, but the
    // per-source DOC COUNTS are exact conservation it recomputes, and
    // the deflate outputs participate through bounds booleans — every
    // ratio in (0, 3] (a deflate stream is never empty and tiny inputs
    // cap below 3x overhead) and flags a subset of docs. Bit parity of
    // the native expression stays in DeflateLengthSpec.
    TextOps.compressionSignal(Tables(s, dir, "documents"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("ratio")).as("min_ratio"),
        max(col("ratio")).as("max_ratio"),
        sum(col("low_entropy").cast("long")).as("n_flagged"))
      .select(col("source"), col("n_docs"),
        (col("min_ratio") > 0.0 && col("max_ratio") <= 3.0)
          .as("ratios_bounded"),
        (col("n_flagged") >= 0L && col("n_flagged") <= col("n_docs"))
          .as("flags_bounded"))
      .orderBy(col("source"))

  private val q181Sql =
    """SELECT source, count(*) AS n_docs,
      |  TRUE AS ratios_bounded, TRUE AS flags_bounded
      |FROM documents GROUP BY source ORDER BY source NULLS FIRST""".stripMargin

  /** Per-source vocabulary drift: KL divergence (nats) of each
    * source's unigram distribution from the corpus-wide distribution
    * — the distribution-shift number a data card reports beside
    * q177's entropy (which measures mix, not divergence) and the
    * signal that decides when a domain's sampling weight needs
    * re-fitting. Every source word also appears in the corpus counts,
    * so no zero-denominator smoothing is needed. KL terms follow the
    * q93 discipline (p·ln(p/q) rounded to 8, decimal-summed — exact
    * under any partitioning). ONE token-keyed shuffle over the corpus
    * — the per-source totals (window), global word counts, and grand
    * total all derive from the (source, word) aggregate itself, so
    * the exploded token stream is shuffled exactly once and the
    * identical exchange is reused across the join's branches. */
  private def q182(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cs = Tables(s, dir, "documents")
      .select(col("source"),
        explode(split(coalesce(col("text"), lit("")), " ")).as("w"))
      .groupBy(col("source"), col("w"))
      .agg(count(lit(1)).as("c"))
    val withNs = cs.withColumn("n_s",
      sum(col("c")).over(Window.partitionBy(col("source"))))
    val cg = cs.groupBy(col("w")).agg(sum(col("c")).as("cg"))
    val ng = cg.agg(sum(col("cg")).as("n_g"))
    withNs.join(cg, "w")
      .crossJoin(broadcast(ng))
      .withColumn("term",
        round((col("c").cast("double") / col("n_s")) *
          log((col("c").cast("double") / col("n_s")) /
            (col("cg").cast("double") / col("n_g"))), 8)
          .cast("decimal(18,8)"))
      .groupBy(col("source"))
      .agg(max(col("n_s")).as("n_tokens"),
        count(lit(1)).as("n_vocab"),
        round(sum(col("term")).cast("double"), 4).as("kl_from_corpus"))
      .orderBy(col("source"))
  }

  private val q182Sql =
    """WITH t AS (SELECT source,
      |    unnest(string_split(coalesce(text, ''), ' ')) AS w
      |  FROM documents),
      |cs AS (SELECT source, w, count(*) AS c FROM t GROUP BY source, w),
      |ns AS (SELECT source, sum(c) AS n_s FROM cs GROUP BY source),
      |cg AS (SELECT w, count(*) AS cg FROM t GROUP BY w),
      |ng AS (SELECT count(*) AS n_g FROM t)
      |SELECT source, CAST(max(n_s) AS BIGINT) AS n_tokens,
      |  count(*) AS n_vocab,
      |  round(CAST(sum(CAST(round((c::DOUBLE / n_s) *
      |      ln((c::DOUBLE / n_s) / (cg::DOUBLE / n_g)), 8)
      |    AS DECIMAL(18,8))) AS DOUBLE), 4) AS kl_from_corpus
      |FROM cs JOIN cg USING (w) JOIN ns USING (source) CROSS JOIN ng
      |GROUP BY source ORDER BY source""".stripMargin

  /** MMR diversity rerank ([[graft.ops.VectorOps.mmrRerank]]) of the
    * exact cosine shortlist for three probe queries — the context-
    * window de-dup step after retrieval. Rows-only (greedy recursion);
    * VectorOpsSpec pins the greedy loop on hand-verified picks, the
    * diversity property, and layout independence. */
  private def q183(s: SparkSession, dir: String): DataFrame = {
    // oracled since r14: the greedy tail is recursion, but MMR's FIRST
    // pick is pure argmax relevance — the exact cosine top-1 with the
    // engine-shared (rounded score desc, vec_id) tiebreak, which DuckDB
    // recomputes independently — and the pick-set shape (k distinct
    // members per query) is exact. The greedy-loop picks themselves
    // stay pinned in VectorOpsSpec (hand-verified example, diversity
    // property, layout independence).
    val e = Tables(s, dir, "embeddings")
    val picks = VectorOps.mmrRerank(e, e.where(col("vec_id") < 3), k = 10,
      shortlist = 30)
    picks.groupBy(col("query_id"))
      .agg(min(when(col("position") === 1, col("vec_id"))).as("first_pick"),
        count(lit(1)).as("n_picks"),
        countDistinct(col("vec_id")).as("n_distinct"))
      .select(col("query_id").cast("bigint").as("query_id"),
        col("first_pick").cast("bigint").as("first_pick"),
        col("n_picks").cast("bigint").as("n_picks"),
        (col("n_distinct") === col("n_picks")).as("picks_distinct"))
      .orderBy(col("query_id"))
  }

  private val q183Sql =
    """WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qe
      |           FROM embeddings WHERE vec_id < 3),
      |scored AS (
      |  SELECT q.query_id, e.vec_id,
      |    round(list_cosine_similarity(e.embedding::DOUBLE[], q.qe), 4) AS cos
      |  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.query_id),
      |ranked AS (
      |  SELECT query_id, vec_id,
      |    row_number() OVER (PARTITION BY query_id
      |                       ORDER BY cos DESC, vec_id) AS rk
      |  FROM scored)
      |SELECT CAST(query_id AS BIGINT) AS query_id,
      |  CAST(vec_id AS BIGINT) AS first_pick,
      |  CAST(10 AS BIGINT) AS n_picks, TRUE AS picks_distinct
      |FROM ranked WHERE rk = 1 ORDER BY query_id""".stripMargin

  /** Per-source OLS regression of document chars on words (slope ≈
    * mean word+separator length, intercept ≈ fixed overhead, R² the
    * linearity of the source's length structure) — the regr_slope
    * family re-expressed with exact arithmetic: the five sufficient
    * moments (Σx, Σy, Σxy, Σx², Σy²) are decimal-summed integer
    * products, so the aggregate is exact and layout-independent at
    * any corpus size; the closed-form slope/intercept/R² then run the
    * SAME double op sequence on both engines over those exact sums.
    * One keyed aggregate, domain-sized output; degenerate sources
    * (constant x) yield NULL via the same guard on both sides. */
  private def q184(s: SparkSession, dir: String): DataFrame = {
    val x = size(split(coalesce(col("text"), lit("")), " ")).cast("long")
    val y = col("n_chars")
    val g = Tables(s, dir, "documents")
      .select(col("source"), x.as("x"), y.as("y"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n"),
        sum(col("x").cast("decimal(38,0)")).as("sx"),
        sum(col("y").cast("decimal(38,0)")).as("sy"),
        sum((col("x") * col("y")).cast("decimal(38,0)")).as("sxy"),
        sum((col("x") * col("x")).cast("decimal(38,0)")).as("sxx"),
        sum((col("y") * col("y")).cast("decimal(38,0)")).as("syy"))
    val nD = col("n").cast("double")
    val sxD = col("sx").cast("double"); val syD = col("sy").cast("double")
    val sxyD = col("sxy").cast("double"); val sxxD = col("sxx").cast("double")
    val syyD = col("syy").cast("double")
    val num = nD * sxyD - sxD * syD
    val den = nD * sxxD - sxD * sxD
    val denY = nD * syyD - syD * syD
    g.select(col("source"), col("n"),
        when(den === 0.0, lit(null).cast("double"))
          .otherwise(round(num / den, 4)).as("slope"),
        when(den === 0.0, lit(null).cast("double"))
          .otherwise(round((syD - (num / den) * sxD) / nD, 4)).as("intercept"),
        when(den === 0.0 || denY === 0.0, lit(null).cast("double"))
          .otherwise(round((num * num) / (den * denY), 4)).as("r2"))
      .orderBy(col("source"))
  }

  private val q184Sql =
    """WITH d AS (SELECT source,
      |    CAST(len(string_split(coalesce(text, ''), ' ')) AS BIGINT) AS x,
      |    n_chars AS y
      |  FROM documents),
      |g AS (SELECT source, count(*) AS n,
      |    sum(CAST(x AS DECIMAL(38,0))) AS sx,
      |    sum(CAST(y AS DECIMAL(38,0))) AS sy,
      |    sum(CAST(x * y AS DECIMAL(38,0))) AS sxy,
      |    sum(CAST(x * x AS DECIMAL(38,0))) AS sxx,
      |    sum(CAST(y * y AS DECIMAL(38,0))) AS syy
      |  FROM d GROUP BY source),
      |f AS (SELECT source, n,
      |    CAST(n AS DOUBLE) AS nd, CAST(sx AS DOUBLE) AS sxd,
      |    CAST(sy AS DOUBLE) AS syd, CAST(sxy AS DOUBLE) AS sxyd,
      |    CAST(sxx AS DOUBLE) AS sxxd, CAST(syy AS DOUBLE) AS syyd
      |  FROM g)
      |SELECT source, n,
      |  CASE WHEN nd * sxxd - sxd * sxd = 0 THEN NULL
      |       ELSE round((nd * sxyd - sxd * syd) /
      |                  (nd * sxxd - sxd * sxd), 4) END AS slope,
      |  CASE WHEN nd * sxxd - sxd * sxd = 0 THEN NULL
      |       ELSE round((syd - ((nd * sxyd - sxd * syd) /
      |                          (nd * sxxd - sxd * sxd)) * sxd) / nd, 4)
      |       END AS intercept,
      |  CASE WHEN nd * sxxd - sxd * sxd = 0
      |         OR nd * syyd - syd * syd = 0 THEN NULL
      |       ELSE round(((nd * sxyd - sxd * syd) * (nd * sxyd - sxd * syd)) /
      |                  ((nd * sxxd - sxd * sxd) * (nd * syyd - syd * syd)), 4)
      |       END AS r2
      |FROM f ORDER BY source""".stripMargin

  /** Isotonic calibration curve
    * ([[graft.ops.TextOps.isotonicCalibration]]) of the length signal
    * against the quality gate — q179's AUC says the signal ranks;
    * this is the monotone probability it calibrates to. Oracled since
    * r14: the PAVA pooling is a recursion, but its DEFINING properties
    * are checkable — the doc count and the gate-positive count are
    * exact (DuckDB recomputes the gate with the q179 expressions), the
    * calibrated rates must be monotone non-decreasing and in [0, 1],
    * and the calibrated mass must equal the positive count (PAVA's
    * weighted-mean preservation) within the 4-decimal rounding budget.
    * The hand-verified pooling example stays in TextOpsSpec. */
  private def q185(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val iso = TextOps.isotonicCalibration(Tables(s, dir, "documents"))
    val w = Window.orderBy(col("bin"))
    val flagged = iso.select(col("n"), col("n_pos"), col("iso_rate"),
      coalesce(col("iso_rate") >=
        lag(col("iso_rate"), 1).over(w), lit(true)).as("mono"),
      (col("iso_rate") >= 0.0 && col("iso_rate") <= 1.0).as("bounded"))
    flagged.agg(sum(col("n")).as("n_docs"),
        sum(col("n_pos")).as("n_pos"),
        min(col("mono").cast("int")).as("mono_min"),
        min(col("bounded").cast("int")).as("bound_min"),
        sum(col("n").cast("double") * col("iso_rate")).as("mass"))
      .select(col("n_docs").cast("bigint").as("n_docs"),
        col("n_pos").cast("bigint").as("n_pos"),
        (col("mono_min") === 1).as("monotone_ok"),
        (abs(col("mass") - col("n_pos")) <=
          col("n_docs").cast("double") * 5e-5 + 1e-6)
          .as("mass_preserved_ok"),
        (col("bound_min") === 1).as("bounds_ok"))
  }

  private val q185Sql =
    """WITH t AS (SELECT
      |    len(string_split(coalesce(text, ''), ' ')) AS n_words,
      |    len(list_filter(string_split(coalesce(text, ''), ' '),
      |        x -> list_contains(['the','a','of','and','in','to','is'], x)))::DOUBLE
      |      / len(string_split(coalesce(text, ''), ' ')) AS stop_ratio,
      |    length(replace(coalesce(text, ''), ' ', ''))::DOUBLE
      |      / len(string_split(coalesce(text, ''), ' ')) AS mean_word_len
      |  FROM documents)
      |SELECT CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(CASE WHEN n_words >= 8 AND stop_ratio >= 0.02
      |       AND mean_word_len BETWEEN 2.0 AND 12.0
      |       THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
      |  TRUE AS monotone_ok, TRUE AS mass_preserved_ok,
      |  TRUE AS bounds_ok
      |FROM t""".stripMargin

  /** Johnson–Lindenstrauss projection audit
    * ([[graft.ops.VectorOps.jlRecall]]): recall@10 of cosine top-k in
    * the seeded 64→16 random projection vs the exact space — the
    * "can we 4× the vector budget" measurement beside q74's LSH
    * recall. Rows-only (seeded projection matrix); VectorOpsSpec pins
    * projection parity with a local matvec, layout independence, and
    * a recall floor. */
  /** JL-projection recall over the PLANTED fixture (oracled since r14
    * — the raw-corpus variant was vacuous for the same reason old q74
    * was: no neighbor structure to preserve). A 64→16 random
    * projection keeps near-identical vectors near-identical, so the
    * projected exact top-10 must still find the planted families: the
    * aggregate recall floor is the envelope boolean, and the exact
    * side's fullness is pinned like q74. */
  private def q186(s: SparkSession, dir: String): DataFrame = {
    val (corpus, qs) = plantedAnn(s, dir)
    VectorOps.jlRecall(corpus, qs, k = 10, outDim = 16, inDim = 64)
      .agg(count(lit(1)).as("n_queries"),
        sum(col("n_exact")).as("n_exact"),
        sum(col("n_hits")).as("n_hits"))
      .select(col("n_queries"),
        col("n_exact").cast("bigint").as("n_exact"),
        (col("n_hits").cast("double") / col("n_exact") >= 0.6)
          .as("jl_recall_ok"))
  }

  private val q186Sql =
    """SELECT CAST(count(*) AS BIGINT) AS n_queries,
      |  CAST(count(*) * 10 AS BIGINT) AS n_exact,
      |  TRUE AS jl_recall_ok
      |FROM embeddings WHERE vec_id % 50 = 0 AND vec_id < 2500""".stripMargin

  /** Normalization-robust dedup: group documents by the token-set
    * fingerprint of the case-folded, punctuation-stripped text and
    * report how many EXACT fingerprint groups each normalized group
    * unites (n_exact_groups > 1 = duplicates only normalization can
    * see — the "Hello, world!" vs "hello world" class that q50's
    * exact fingerprint misses). Same one-keyed-shuffle shape as q50;
    * fully oracled with the identical normalize→split→sort→md5
    * ladder on both engines. */
  private def q187(s: SparkSession, dir: String): DataFrame = {
    val norm = lower(regexp_replace(coalesce(col("text"), lit("")),
      "[^A-Za-z0-9 ]", ""))
    Tables(s, dir, "documents")
      .select(col("doc_id"),
        TextOps.tokenSetFingerprint(norm).as("nfp"),
        TextOps.tokenSetFingerprint(col("text")).as("efp"))
      .groupBy(col("nfp"))
      .agg(min(col("doc_id")).as("keep_doc_id"),
        count(lit(1)).as("n_docs"),
        countDistinct(col("efp")).as("n_exact_groups"))
      .orderBy(col("keep_doc_id"))
  }

  private val q187Sql =
    """WITH d AS (SELECT doc_id,
      |    md5(array_to_string(list_sort(list_distinct(string_split(
      |      lower(regexp_replace(coalesce(text, ''), '[^A-Za-z0-9 ]', '', 'g')),
      |      ' '))), ' ')) AS nfp,
      |    md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS efp
      |  FROM documents)
      |SELECT nfp, min(doc_id) AS keep_doc_id,
      |  CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(count(DISTINCT efp) AS BIGINT) AS n_exact_groups
      |FROM d GROUP BY nfp ORDER BY keep_doc_id""".stripMargin

  /** Per-dimension embedding audit (q195): flatten every vector into
    * (dim, value) and fold exact moment sums per dimension — mean,
    * population variance (closed form on decimal-exact sums, the q194
    * discipline), and the min/max spread. The vector-hygiene check a
    * production embedding pipeline runs before indexing: a collapsed
    * dimension (spread ≈ 0) means a dead feature, a wildly off-scale
    * one breaks L2 geometry. float→double widening is exact, and no
    * float's binary fraction can tie at a decimal rounding boundary,
    * so the decimal quantization is engine-identical.
    *
    * Scale: one explode (rows × dims, but only (dim, x) pairs — 12
    * bytes a row) into one partial+final aggregate keyed by at most
    * `dims` keys; no join, no window. Fully oracled via DuckDB
    * unnest + generate_subscripts. */
  private def q195(s: SparkSession, dir: String): DataFrame = {
    val x = col("xf").cast("double")
    Tables(s, dir, "embeddings")
      .select(posexplode(col("embedding")).as(Seq("dim", "xf")))
      .select(col("dim").cast("bigint").as("dim"), x.as("x"))
      .groupBy(col("dim"))
      .agg(count(lit(1)).as("n"),
        sum(col("x").cast("decimal(20,8)")).as("sx"),
        sum((col("x") * col("x")).cast("decimal(20,8)")).as("sxx"),
        min(col("x")).as("lo"), max(col("x")).as("hi"))
      .select(col("dim"), col("n"),
        round(col("sx").cast("double") / col("n"), 4).as("mean"),
        round((col("n").cast("double") * col("sxx").cast("double") -
          col("sx").cast("double") * col("sx").cast("double")) /
          (col("n").cast("double") * col("n").cast("double")), 6)
          .as("variance"),
        round(col("lo"), 4).as("lo"), round(col("hi"), 4).as("hi"))
      .orderBy(col("dim"))
  }

  private val q195Sql =
    """WITH flat AS (
      |  SELECT CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT)
      |      AS dim,
      |    CAST(unnest(embedding) AS DOUBLE) AS x
      |  FROM embeddings
      |), m AS (
      |  SELECT dim, count(*) AS n,
      |    sum(CAST(x AS DECIMAL(20,8))) AS sx,
      |    sum(CAST(x * x AS DECIMAL(20,8))) AS sxx,
      |    min(x) AS lo, max(x) AS hi
      |  FROM flat GROUP BY dim
      |)
      |SELECT dim, n,
      |  round(CAST(sx AS DOUBLE) / n, 4) AS mean,
      |  round((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
      |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) /
      |    (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)), 6) AS variance,
      |  round(lo, 4) AS lo, round(hi, 4) AS hi
      |FROM m ORDER BY dim""".stripMargin

  /** Sorted-neighborhood near-dup blocking (q196, Hernández &
    * Stolfo's merge/purge, SIGMOD 1995) — the third blocking
    * strategy next to MinHash bands (q52) and SimHash chunks (q53):
    * sort by a normalized prefix key, compare each doc only to its w
    * nearest successors inside a prefix block, score candidates with
    * edit distance on the normalized 80-char head. Catches the
    * typo-duplicate class token-set methods miss (token sets are
    * order/spelling-blind, edit distance is not).
    *
    * Scale: the textbook method needs ONE global sort; here the sort
    * key's 4-char prefix is the window's PARTITION key, so each
    * block sorts independently (one shuffle, parallel by block) —
    * the documented trade is that a duplicate pair straddling a
    * block boundary is missed, the standard multi-pass-key answer.
    * The lead() window ships w candidate pairs per doc (never
    * all-pairs); levenshtein runs on capped 80-char heads so
    * per-pair cost is bounded. Fully oracled (identical
    * normalize→sort→lead→levenshtein ladder, both engines' DP is the
    * textbook metric). */
  private def q196(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val norm = regexp_replace(lower(coalesce(col("text"), lit(""))),
      "[^a-z0-9 ]", "")
    val docs = Tables(s, dir, "documents")
      .select(col("doc_id"), substring(norm, 1, 80).as("head"))
      .withColumn("blk", substring(col("head"), 1, 4))
    val w = Window.partitionBy(col("blk"))
      .orderBy(col("head"), col("doc_id"))
    val withLeads = docs
      .withColumn("cand", array((1 to 3).map(k =>
        struct(lead(col("doc_id"), k).over(w).as("doc_b"),
          lead(col("head"), k).over(w).as("head_b"))): _*))
      .select(col("doc_id").as("doc_a"), col("head"),
        explode(col("cand")).as("c"))
      .where(col("c.doc_b").isNotNull)
    withLeads
      .select(col("doc_a"), col("c.doc_b").as("doc_b"),
        levenshtein(col("head"), col("c.head_b")).cast("bigint")
          .as("edit_dist"))
      .where(col("edit_dist") <= 20)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  private val q196Sql =
    """WITH d AS (
      |  SELECT doc_id,
      |    substring(regexp_replace(lower(coalesce(text, '')),
      |      '[^a-z0-9 ]', '', 'g'), 1, 80) AS head
      |  FROM documents
      |), keyed AS (
      |  SELECT doc_id, head, substring(head, 1, 4) AS blk FROM d
      |), pairs AS (
      |  SELECT doc_id AS doc_a, head,
      |    lead(doc_id, 1) OVER w AS b1, lead(head, 1) OVER w AS h1,
      |    lead(doc_id, 2) OVER w AS b2, lead(head, 2) OVER w AS h2,
      |    lead(doc_id, 3) OVER w AS b3, lead(head, 3) OVER w AS h3
      |  FROM keyed
      |  WINDOW w AS (PARTITION BY blk ORDER BY head, doc_id)
      |), cand AS (
      |  SELECT doc_a, b1 AS doc_b, levenshtein(head, h1) AS edit_dist
      |    FROM pairs WHERE b1 IS NOT NULL
      |  UNION ALL
      |  SELECT doc_a, b2, levenshtein(head, h2)
      |    FROM pairs WHERE b2 IS NOT NULL
      |  UNION ALL
      |  SELECT doc_a, b3, levenshtein(head, h3)
      |    FROM pairs WHERE b3 IS NOT NULL
      |)
      |SELECT doc_a, doc_b, CAST(edit_dist AS BIGINT) AS edit_dist
      |FROM cand WHERE edit_dist <= 20
      |ORDER BY doc_a, doc_b""".stripMargin

  /** Balanced source interleave (q201): a deterministic training
    * ORDER that round-robins across sources — each source's docs get
    * a stable pseudo-shuffled rank (md5 order, the q88/q133 draw
    * discipline), and the global order is (rank, source), so a batch
    * window at any offset sees every source at its quota. The
    * interleave_datasets shape: without it a source-ordered corpus
    * front-loads one distribution and the early training steps
    * overfit it. Verified by its ALGEBRA, not by materializing the
    * permutation: per source, the mean/min/max of assigned global
    * positions — a balanced interleave pins every source's mean
    * position near the corpus midpoint, a concatenated order pushes
    * them apart.
    *
    * Scale: one source-keyed window (rank) + the PARALLEL total-order
    * shape ([[graft.ops.Sharding.globalRank]]: range partition →
    * in-partition rank → broadcast offsets) for the position
    * assignment — no single-task window anywhere; shard-local orders
    * (q97) remain the choice when global row numbers are not
    * required. */
  private def q201(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bySource = Window.partitionBy(col("source"))
      .orderBy(md5(concat_ws("|", col("doc_id"), lit("mix"))), col("doc_id"))
    val ranked = Tables(s, dir, "documents")
      .select(col("doc_id"), col("source"))
      .withColumn("rn", row_number().over(bySource))
    // the global position comes from the PARALLEL total-order shape
    // (range partition + in-partition rank + broadcast offsets), not
    // a bare Window.orderBy that would funnel the corpus through one
    // task
    graft.ops.Sharding.globalRank(ranked, "pos", col("rn"), col("source"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        round(sum(col("pos")).cast("double") / count(lit(1)), 4)
          .as("mean_pos"),
        min(col("pos")).cast("bigint").as("first_pos"),
        max(col("pos")).cast("bigint").as("last_pos"))
      .orderBy(col("source"))
  }

  private val q201Sql =
    """WITH ranked AS (
      |  SELECT doc_id, source,
      |    row_number() OVER (PARTITION BY source
      |      ORDER BY md5(concat_ws('|', doc_id, 'mix')), doc_id) AS rn
      |  FROM documents
      |), positioned AS (
      |  SELECT source,
      |    row_number() OVER (ORDER BY rn, source) AS pos
      |  FROM ranked
      |)
      |SELECT source, count(*) AS n_docs,
      |  round(CAST(sum(pos) AS DOUBLE) / count(*), 4) AS mean_pos,
      |  CAST(min(pos) AS BIGINT) AS first_pos,
      |  CAST(max(pos) AS BIGINT) AS last_pos
      |FROM positioned GROUP BY source ORDER BY source""".stripMargin

  /** Length-grouped batching (q202, the LengthGroupedSampler shape):
    * sort by length descending, cut into fixed batches of 32, and
    * report each batch's padding waste `n·max_len − Σlen` — the
    * quantity length-grouping minimizes, because a batch pads every
    * sequence to its own maximum and mixing a 10k-char doc into a
    * batch of tweets pays 31 near-full paddings. The summary row a
    * training-efficiency dashboard plots; n_chars stands in for
    * token length (exactly the q127 BPE stats would refine it).
    *
    * Scale: the [[graft.ops.Sharding.globalRank]] parallel
    * total-order shape + one keyed aggregate; the per-shard variant
    * removes even the range exchange when shard-local batches
    * suffice. */
  private def q202(s: SparkSession, dir: String): DataFrame = {
    val ranked = graft.ops.Sharding.globalRank(
      Tables(s, dir, "documents").select(col("doc_id"), col("n_chars")),
      "pos", col("n_chars").desc, col("doc_id"))
    ranked
      // floor, then cast: both Spark's and DuckDB's `/` are FLOAT
      // division, and their double→int casts round DIFFERENTLY
      // (truncate vs half-away) — floor makes the value integral
      // before either cast can disagree
      .withColumn("batch_id",
        floor((col("pos") - 1) / lit(32)).cast("bigint"))
      .groupBy(col("batch_id"))
      .agg(count(lit(1)).as("n_docs"),
        max(col("n_chars")).as("max_len"),
        sum(col("n_chars")).as("sum_len"))
      .withColumn("padding_waste",
        col("n_docs") * col("max_len") - col("sum_len"))
      .orderBy(col("batch_id"))
  }

  private val q202Sql =
    """WITH ranked AS (
      |  SELECT doc_id, n_chars,
      |    CAST(floor((row_number() OVER (ORDER BY n_chars DESC, doc_id)
      |         - 1) / 32) AS BIGINT) AS batch_id
      |  FROM documents
      |)
      |SELECT batch_id, count(*) AS n_docs,
      |  max(n_chars) AS max_len,
      |  CAST(sum(n_chars) AS BIGINT) AS sum_len,
      |  CAST(count(*) * max(n_chars) - sum(n_chars) AS BIGINT)
      |    AS padding_waste
      |FROM ranked GROUP BY batch_id ORDER BY batch_id""".stripMargin

  /** Concat-and-chunk sequence packing audit (q220, the GPT-2/3
    * pretraining dataloader shape — documents concatenated in a
    * deterministic shuffled order with one separator token each, then
    * cut into fixed 256-token context windows): per source, how many
    * documents straddle a window boundary (and so lose attention
    * locality), from the GLOBAL token prefix sum. The cumulative sum
    * comes from [[graft.ops.Sharding.globalCumSum]] — range partition,
    * per-partition running sum, broadcast partition-total offsets —
    * never a single-partition `ORDER BY` window, which is the
    * difference between packing 100 TB and packing it on one core.
    * Window ids use exact integer `DIV`, not float division (the
    * q202 floor/cast lesson); token counts are word counts + 1
    * separator, exact longs. */
  private def q220(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
      .select(col("doc_id"), col("source"),
        (size(split(coalesce(col("text"), lit("")), " ")) + 1)
          .cast("bigint").as("t"))
    val cum = graft.ops.Sharding.globalCumSum(docs, "cum", col("t"),
      md5(concat_ws("|", col("doc_id"), lit("pack"))), col("doc_id"))
    cum
      .withColumn("split_doc",
        when(expr("(cum - 1) DIV 256") > expr("(cum - t) DIV 256"), 1L)
          .otherwise(0L))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("t")).as("total_tokens"),
        sum(col("split_doc")).as("boundary_split_docs"),
        round(sum(col("split_doc")).cast("double") / count(lit(1)), 4)
          .as("split_frac"))
      .orderBy(col("source"))
  }

  private val q220Sql =
    """WITH d AS (SELECT doc_id, source,
      |    CAST(len(string_split(text, ' ')) + 1 AS BIGINT) AS t,
      |    md5(concat_ws('|', doc_id, 'pack')) AS k
      |  FROM documents),
      |c AS (SELECT source, t,
      |    sum(t) OVER (ORDER BY k, doc_id ROWS UNBOUNDED PRECEDING)
      |      AS cum FROM d)
      |SELECT source, count(*) AS n_docs,
      |  CAST(sum(t) AS BIGINT) AS total_tokens,
      |  CAST(sum(CASE WHEN (cum - 1) // 256 > (cum - t) // 256
      |    THEN 1 ELSE 0 END) AS BIGINT) AS boundary_split_docs,
      |  round(CAST(sum(CASE WHEN (cum - 1) // 256 > (cum - t) // 256
      |    THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 4) AS split_frac
      |FROM c GROUP BY source ORDER BY source""".stripMargin

  /** Gopher repetition-filter battery
    * ([[graft.ops.TextOps.repetitionSignals]]): per-document
    * type-token ratio, top word/bigram shares, and duplicated-5-gram
    * position coverage — the within-document degeneracy signals a
    * curation pass thresholds next to [[graft.ops.TextOps.qualityOk]]
    * (which only sees length/stopword/word-shape). Fully oracled: the
    * oracle recomputes every share from raw text, including the
    * coverage union over duplicated 5-grams. */
  private def q205(s: SparkSession, dir: String): DataFrame =
    TextOps.repetitionSignals(Tables(s, dir, "documents"))
      .orderBy(col("doc_id"))

  private val q205Sql =
    """WITH b AS (SELECT doc_id,
      |    string_split(coalesce(text, ''), ' ') AS ws,
      |    len(string_split(coalesce(text, ''), ' ')) AS nw
      |  FROM documents),
      |w AS (SELECT doc_id, unnest(ws) AS w FROM b),
      |wc AS (SELECT doc_id, w, count(*) AS c FROM w GROUP BY doc_id, w),
      |ws_ AS (SELECT doc_id, count(*) AS nd, max(c) AS topw
      |  FROM wc GROUP BY doc_id),
      |bg AS (SELECT doc_id, ws[i] || ' ' || ws[i + 1] AS g
      |  FROM b, unnest(range(1, nw)) AS t(i) WHERE nw >= 2),
      |bgc AS (SELECT doc_id, g, count(*) AS c FROM bg GROUP BY doc_id, g),
      |bgs AS (SELECT doc_id, max(c) AS top2 FROM bgc GROUP BY doc_id),
      |g5 AS (SELECT doc_id, i AS pos,
      |    array_to_string(list_slice(ws, i, i + 4), ' ') AS g
      |  FROM b, unnest(range(1, nw - 3)) AS t(i) WHERE nw >= 5),
      |dup AS (SELECT doc_id, g FROM g5
      |  GROUP BY doc_id, g HAVING count(*) >= 2),
      |cov AS (SELECT doc_id, count(*) AS cov FROM (
      |    SELECT DISTINCT g5.doc_id, p
      |    FROM g5 JOIN dup USING (doc_id, g),
      |      unnest(range(g5.pos, g5.pos + 5)) AS u(p))
      |  GROUP BY doc_id)
      |SELECT b.doc_id, CAST(nw AS BIGINT) AS n_words,
      |  round(CAST(nd AS DOUBLE) / nw, 4) AS distinct_frac,
      |  round(CAST(topw AS DOUBLE) / nw, 4) AS top_word_frac,
      |  round(CAST(coalesce(top2, 0) AS DOUBLE)
      |    / greatest(nw - 1, 1), 4) AS top_2gram_frac,
      |  round(CAST(coalesce(cov, 0) AS DOUBLE) / nw, 4) AS dup_5gram_frac
      |FROM b JOIN ws_ USING (doc_id)
      |LEFT JOIN bgs USING (doc_id) LEFT JOIN cov USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  /** Extended PII scrub on PII-bearing text — q73 proves the
    * scrubber's arithmetic but the raw corpus contains no real PII,
    * so its counts barely leave zero; here every third document gains
    * a synthesized contact block (email, 9-digit account number, IPv4,
    * phone — all derived arithmetically from doc_id so the oracle
    * rebuilds the identical text) and the scrub runs with the
    * [[graft.ops.TextOps.ExtraPiiPatterns]] battery enabled. A green
    * row proves detection of all five classes AND the byte-exact
    * five-stage rewrite (email → digit-run → ip → phone → denylist,
    * the order the operator contracts) — including that unscathed
    * docs pass through untouched. */
  private def q207(s: SparkSession, dir: String): DataFrame = {
    val withPii = Tables(s, dir, "documents")
      .select(col("doc_id"),
        when(col("doc_id") % 3 === 0,
          concat(coalesce(col("text"), lit("")),
            lit(" contact user"), col("doc_id").cast("string"),
            lit("@mail.example.com acct "),
            lpad(col("doc_id").cast("string"), 9, "0"),
            lit(" or +1-555-"),
            lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
            lit(" from 10.2."), (col("doc_id") % 256).cast("string"),
            lit(".7")))
          .otherwise(coalesce(col("text"), lit(""))).as("text"))
    TextOps.piiScrub(withPii, extras = TextOps.ExtraPiiPatterns)
      .drop("redacted") // the fingerprint carries the proof
      .orderBy(col("doc_id"))
  }

  private val q207Sql =
    """WITH p AS (SELECT doc_id,
      |    CASE WHEN doc_id % 3 = 0 THEN coalesce(text, '')
      |        || ' contact user' || CAST(doc_id AS VARCHAR)
      |        || '@mail.example.com acct '
      |        || lpad(CAST(doc_id AS VARCHAR), 9, '0')
      |        || ' or +1-555-'
      |        || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
      |        || ' from 10.2.' || CAST(doc_id % 256 AS VARCHAR) || '.7'
      |      ELSE coalesce(text, '') END AS t
      |  FROM documents),
      |r AS (SELECT doc_id,
      |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(
      |      regexp_replace(t,
      |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
      |      '[0-9]{9,}', '<NUM>', 'g'),
      |      '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
      |      '\+\d{1,2}-\d{3}-\d{4}', '<PHONE>', 'g'),
      |      '\b(\Qspark\E)\b', '<TERM>', 'g') AS redacted,
      |    CAST(len(regexp_extract_all(t,
      |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
      |    CAST(len(regexp_extract_all(t, '[0-9]{9,}')) AS BIGINT) AS n_idnums,
      |    CAST(len(regexp_extract_all(t, '\b(\Qspark\E)\b')) AS BIGINT) AS n_denied,
      |    CAST(len(regexp_extract_all(t,
      |      '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ipv4,
      |    CAST(len(regexp_extract_all(t,
      |      '\+\d{1,2}-\d{3}-\d{4}')) AS BIGINT) AS n_phone
      |  FROM p)
      |SELECT doc_id, n_emails, n_idnums, n_denied, n_ipv4, n_phone,
      |  md5(redacted) AS redacted_fp
      |FROM r ORDER BY doc_id""".stripMargin

  /** HTML → text extraction ([[graft.ops.TextOps.htmlToText]]) on
    * synthesized well-formed markup — the corpus carries no HTML (the
    * q207 synthesis convention), so every document is wrapped in a
    * deterministic page: head with title + style block, body with
    * heading, the text in a classed paragraph carrying encoded
    * entities, a script whose body contains a BARE `<` (the token
    * that corrupts tag stripping unless script blocks go first), and
    * a comment containing markup. A green row proves the whole
    * ordered chain — block removal, tag strip, entity decode with
    * `&amp;` last, whitespace collapse — byte-exactly via the
    * cleaned-text fingerprint, plus the title extraction. */
  private def q217(s: SparkSession, dir: String): DataFrame = {
    val html = concat(
      lit("<html><head><title>Doc "), col("doc_id").cast("string"),
      lit("</title><style>p{color:red}</style></head><body>" +
        "<h1>Heading</h1><p class=\"b\">"),
      coalesce(col("text"), lit("")),
      lit(" &amp; tail &lt;i&gt; &quot;q&quot;</p>" +
        "<script>var x = 1 < 2;</script><!-- hidden <b> --></body></html>"))
    Tables(s, dir, "documents")
      .select(col("doc_id"), html.as("h"))
      .select(col("doc_id"),
        regexp_extract(col("h"), "<title>([^<]*)</title>", 1).as("title"),
        TextOps.htmlToText(col("h")).as("clean"))
      .select(col("doc_id"), col("title"),
        md5(col("clean").cast("binary")).as("text_fp"),
        length(col("clean")).cast("bigint").as("n_chars"))
      .orderBy(col("doc_id"))
  }

  private val q217Sql =
    """WITH h AS (SELECT doc_id,
      |    '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR)
      |    || '</title><style>p{color:red}</style></head><body>'
      |    || '<h1>Heading</h1><p class="b">' || coalesce(text, '')
      |    || ' &amp; tail &lt;i&gt; &quot;q&quot;</p>'
      |    || '<script>var x = 1 < 2;</script><!-- hidden <b> -->'
      |    || '</body></html>' AS h
      |  FROM documents),
      |c AS (SELECT doc_id,
      |    regexp_extract(h, '<title>([^<]*)</title>', 1) AS title,
      |    trim(regexp_replace(
      |      regexp_replace(regexp_replace(regexp_replace(regexp_replace(
      |      regexp_replace(regexp_replace(regexp_replace(regexp_replace(
      |      regexp_replace(regexp_replace(h,
      |      '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
      |      '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
      |      '(?s)<!--.*?-->', ' ', 'g'),
      |      '<[^>]+>', ' ', 'g'),
      |      '&lt;', '<', 'g'), '&gt;', '>', 'g'), '&nbsp;', ' ', 'g'),
      |      '&quot;', '"', 'g'), '&#39;', '''', 'g'),
      |      '&amp;', '&', 'g'),
      |      '\s+', ' ', 'g')) AS clean
      |  FROM h)
      |SELECT doc_id, title, md5(clean) AS text_fp,
      |  CAST(length(clean) AS BIGINT) AS n_chars
      |FROM c ORDER BY doc_id""".stripMargin

  // q61/q63/q95/q74 are oracled via the planted-neighbors fixture
  val defs: Seq[QueryDef] = Seq(
    QueryDef("q217_html_extract", q217, q217Sql),
    QueryDef("q205_repetition_signals", q205, q205Sql),
    QueryDef("q220_sequence_packing", q220, q220Sql),
    QueryDef("q207_pii_scrub", q207, q207Sql),
    QueryDef("q186_jl_recall", q186, q186Sql),
    QueryDef("q187_normalized_dedup", q187, q187Sql),
    QueryDef("q195_embedding_dim_audit", q195, q195Sql),
    QueryDef("q196_sorted_neighborhood", q196, q196Sql, dense = true),
    QueryDef("q201_interleave_mix", q201, q201Sql),
    QueryDef("q202_length_batches", q202, q202Sql, dense = true),
    QueryDef("q185_isotonic_calibration", q185, q185Sql),
    QueryDef("q179_score_auc", q179, q179Sql, dense = true),
    QueryDef("q181_compression_signal", q181, q181Sql),
    QueryDef("q182_vocab_drift", q182, q182Sql, dense = true),
    QueryDef("q183_mmr_rerank", q183, q183Sql),
    QueryDef("q184_ols_per_source", q184, q184Sql),
    QueryDef("q166_bootstrap_ci", q166, q166Sql),
    QueryDef("q169_quantile_normalize", q169, q169Sql),
    QueryDef("q176_threshold_sweep", q176, q176Sql, dense = true),
    QueryDef("q177_source_entropy", q177, q177Sql),
    QueryDef("q178_pmi_collocations", q178, q178Sql, dense = true),
    QueryDef("q148_label_affinity", q148, q148Sql),
    QueryDef("q149_temperature_mix", q149, q149Sql, dense = true),
    QueryDef("q151_vocab_encode", q151, q151Sql),
    QueryDef("q152_embedding_outliers", q152, q152Sql),
    QueryDef("q159_winsorized_stats", q159, q159Sql),
    QueryDef("q160_chisq_contingency", q160, q160Sql),
    QueryDef("q66_multimodal_frames", q66, q66Sql),
    QueryDef("q50_dedup_exact", q50, q50Sql),
    QueryDef("q51_neardup_jaccard", q51, q51Sql, dense = true),
    QueryDef("q52_neardup_minhash", q52, q52Sql, dense = true),
    QueryDef("q53_neardup_simhash", q53, q53Sql),
    QueryDef("q54_text_stats", q54, q54Sql),
    QueryDef("q55_lang_id", q55, q55Sql),
    QueryDef("q56_fingerprint", q56, q56Sql),
    QueryDef("q57_dedup_survivors", q57, q57Sql),
    QueryDef("q58_quality_score", q58, q58Sql),
    QueryDef("q59_winnowing_fp", q59, q59Sql),
    QueryDef("q60_cosine_topk", q60, q60Sql),
    QueryDef("q61_ann_lsh", q61, q61Sql),
    QueryDef("q62_embedding_neardup", q62, q62Sql),
    QueryDef("q63_ann_ivf", q63, q63Sql),
    QueryDef("q64_neardup_groups", q64, q64Sql),
    QueryDef("q65_multimodal_meta", q65, q65Sql),
    QueryDef("q67_multimodal_resize", q67, q67Sql, dense = true),
    QueryDef("q121_pixel_resize", q121, q121Sql),
    QueryDef("q68_tfidf_top_terms", q68, q68Sql, dense = true),
    QueryDef("q69_stable_sample", q69, q69Sql),
    QueryDef("q70_contamination", q70, q70Sql),
    QueryDef("q71_repetition", q71, q71Sql),
    QueryDef("q72_doc_chunks", q72, q72Sql),
    QueryDef("q73_pii_scrub", q73, q73Sql),
    QueryDef("q74_ann_recall", q74, q74Sql),
    QueryDef("q75_label_centroids", q75, q75Sql),
    QueryDef("q93_unigram_nll", q93, q93Sql),
    QueryDef("q145_backoff_nll", q145, q145Sql),
    QueryDef("q94_crossdoc_ngrams", q94, q94Sql),
    QueryDef("q95_pq_ann", q95, q95Sql),
    QueryDef("q108_audio_meta", q108, q108Sql),
    QueryDef("q115_video_meta", q115, q115Sql),
    QueryDef("q122_pcm_stats", q122, q122Sql),
    QueryDef("q123_heavy_hitters", q123, q123Sql),
    QueryDef("q126_bpe_vocab", q126, q126Sql),
    QueryDef("q127_bpe_encode", q127, q127Sql),
    QueryDef("q133_weighted_sample", q133, q133Sql),
    QueryDef("q136_kmeans_refine", q136, q136Sql, dense = true),
    QueryDef("q137_pca_project", q137, q137Sql),
    QueryDef("q139_quality_classifier", q139, q139Sql))
}
