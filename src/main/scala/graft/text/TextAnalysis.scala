package graft.text

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, explode, expr, lit, round, udaf}

/** Text-analysis operators over the `documents` table (north-star
  * extensions): per-doc quality stats, token counts (whitespace + BPE-ish
  * regex), document fingerprints, and heuristic language ID. All are pure
  * per-row projections — no shuffle at any scale; the only job-wide cost is
  * the parquet scan, and column pruning keeps it to (doc_id, text[, lang]).
  * Every operator here is DuckDB-oracle checked.
  */
object TextAnalysis {

  /** Per-doc stats: char/token counts, average token length, punctuation
    * ratio, uppercase ratio — the usual quality-scoring raw features. */
  val statsSparkSql: String =
    """SELECT doc_id,
      |  CAST(length(text) AS BIGINT) AS n_chars,
      |  CAST(size(split(trim(text), '\\s+')) AS BIGINT) AS n_tokens,
      |  ROUND(CAST(length(regexp_replace(text, '\\s', '')) AS DOUBLE)
      |        / size(split(trim(text), '\\s+')), 4) AS avg_token_len,
      |  ROUND(CAST(length(regexp_replace(text, '[^.,;:!?]', '')) AS DOUBLE)
      |        / length(text), 4) AS punct_ratio
      |FROM documents ORDER BY doc_id""".stripMargin

  val statsDuckSql: String =
    """SELECT doc_id,
      |  CAST(length(text) AS BIGINT) AS n_chars,
      |  CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens,
      |  ROUND(CAST(length(regexp_replace(text, '\s', '', 'g')) AS DOUBLE)
      |        / len(string_split_regex(trim(text), '\s+')), 4) AS avg_token_len,
      |  ROUND(CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE)
      |        / length(text), 4) AS punct_ratio
      |FROM documents ORDER BY doc_id""".stripMargin

  /** BPE-ish token estimate: alpha runs, digit runs, and single symbols —
    * the standard cheap proxy for subword token counts. */
  val tokensSparkSql: String =
    """SELECT doc_id,
      |  CAST(size(split(trim(text), '\\s+')) AS BIGINT) AS ws_tokens,
      |  CAST(size(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]', 0))
      |       AS BIGINT) AS bpe_tokens
      |FROM documents ORDER BY doc_id""".stripMargin

  val tokensDuckSql: String =
    """SELECT doc_id,
      |  CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS ws_tokens,
      |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))
      |       AS BIGINT) AS bpe_tokens
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Content-defined fingerprint: md5 of whitespace-normalized lowercase
    * text. Matches exact-dedup keys; stable across both engines. */
  val fingerprintSparkSql: String =
    """SELECT doc_id,
      |       md5(regexp_replace(lower(trim(text)), '\\s+', ' ')) AS fp
      |FROM documents ORDER BY doc_id""".stripMargin

  val fingerprintDuckSql: String =
    """SELECT doc_id,
      |       md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Heuristic language ID: CJK codepoint presence → zh; otherwise argmax
    * of per-language stopword hits with deterministic tie-break order
    * en > de > fr > es. Pure projection; stopword lists live in
    * [[graft.functions.HashKernels.stopwordLists]] (single source of
    * truth for the native kernel, this SQL, and the DuckDB oracle). */
  private def quoted(lang: Int): String =
    graft.functions.HashKernels.stopwordLists(lang).map(w => s"'$w'").mkString(",")
  val en: String = quoted(0)
  val de: String = quoted(1)
  val fr: String = quoted(2)
  val es: String = quoted(3)

  // Stopword counting is a native codegen expression (`stopword_hits`,
  // functions/HashExpressions.scala): one hash probe per token, all four
  // counts in one pass. History: the four `size(filter(tok, x ->
  // array_contains(...)))` lambdas are interpreted (CodegenFallback) and
  // the round-4 driver bench measured them at 3.74 s — the slowest query
  // in the suite (an earlier in-session A/B had shown 0.7 s, but
  // cross-session timings vary 2×+ and the driver protocol is what
  // counts). The explode+conditional-agg rewrite also lost (57× row
  // blowup + hash agg). The native kernel beats both.
  val langidSparkSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, lang, text,
       |         stopword_hits(split(lower(trim(text)), '\\\\s+')) AS sw
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, lang,
       |    CASE WHEN text RLIKE '[\\u4e00-\\u9fff]' THEN 1 ELSE 0 END AS zh,
       |    sw[0] AS s_en, sw[1] AS s_de, sw[2] AS s_fr, sw[3] AS s_es
       |  FROM t)
       |SELECT doc_id, lang,
       |  CASE WHEN zh = 1 THEN 'zh'
       |       WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
       |       WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
       |       WHEN s_fr >= s_es THEN 'fr'
       |       ELSE 'es' END AS pred
       |FROM c ORDER BY doc_id""".stripMargin

  val langidDuckSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, lang, text,
       |         string_split_regex(lower(trim(text)), '\\s+') AS tok
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, lang,
       |    CASE WHEN regexp_matches(text, '[\\x{4e00}-\\x{9fff}]') THEN 1 ELSE 0 END AS zh,
       |    len(list_filter(tok, x -> list_contains([$en], x))) AS s_en,
       |    len(list_filter(tok, x -> list_contains([$de], x))) AS s_de,
       |    len(list_filter(tok, x -> list_contains([$fr], x))) AS s_fr,
       |    len(list_filter(tok, x -> list_contains([$es], x))) AS s_es
       |  FROM t)
       |SELECT doc_id, lang,
       |  CASE WHEN zh = 1 THEN 'zh'
       |       WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
       |       WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
       |       WHEN s_fr >= s_es THEN 'fr'
       |       ELSE 'es' END AS pred
       |FROM c ORDER BY doc_id""".stripMargin

  // same deterministic 8-token segmentation as the corpus segment ops
  private val SegTokens = Corpus.SegTokens

  /** Segment-level language mixing: language-ID each `SegTokens`-token
    * window of a document (same deterministic segmentation as the corpus
    * segment ops), then report the dominant language, its share, and a
    * mixed-language flag — the curation signal that drops
    * boilerplate-wrapped translations and code-switched pages that a
    * whole-doc argmax hides. Scale shape: one posexplode (~tokens/8 rows)
    * feeding the native one-pass `stopword_hits` kernel per segment and
    * a doc_id-keyed partial agg — no joins, no windows. */
  val langidSegmentsSparkSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, split(lower(trim(text)), '\\\\s+') AS tok
       |  FROM documents),
       |seg AS (
       |  SELECT doc_id,
       |         concat_ws(' ', slice(tok, p1 * $SegTokens + 1, $SegTokens)) AS seg,
       |         stopword_hits(slice(tok, p1 * $SegTokens + 1, $SegTokens)) AS sw
       |  FROM t
       |  LATERAL VIEW posexplode(
       |    sequence(0, greatest(
       |      CAST(ceil(size(tok) / ${SegTokens}.0) AS INT) - 1, 0))) s AS idx, p1
       |  WHERE size(tok) > 0),
       |c AS (
       |  SELECT doc_id,
       |    CASE WHEN seg RLIKE '[\\u4e00-\\u9fff]' THEN 'zh'
       |         WHEN sw[0] >= sw[1] AND sw[0] >= sw[2] AND sw[0] >= sw[3] THEN 'en'
       |         WHEN sw[1] >= sw[2] AND sw[1] >= sw[3] THEN 'de'
       |         WHEN sw[2] >= sw[3] THEN 'fr'
       |         ELSE 'es' END AS pred
       |  FROM seg),
       |a AS (
       |  SELECT doc_id, COUNT(*) AS n_seg,
       |    CAST(SUM(CASE WHEN pred = 'zh' THEN 1 ELSE 0 END) AS BIGINT) AS c_zh,
       |    CAST(SUM(CASE WHEN pred = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS c_en,
       |    CAST(SUM(CASE WHEN pred = 'de' THEN 1 ELSE 0 END) AS BIGINT) AS c_de,
       |    CAST(SUM(CASE WHEN pred = 'fr' THEN 1 ELSE 0 END) AS BIGINT) AS c_fr,
       |    CAST(SUM(CASE WHEN pred = 'es' THEN 1 ELSE 0 END) AS BIGINT) AS c_es
       |  FROM c GROUP BY doc_id)
       |SELECT doc_id, n_seg,
       |  CASE WHEN c_en >= c_de AND c_en >= c_fr AND c_en >= c_es AND c_en >= c_zh THEN 'en'
       |       WHEN c_de >= c_fr AND c_de >= c_es AND c_de >= c_zh THEN 'de'
       |       WHEN c_fr >= c_es AND c_fr >= c_zh THEN 'fr'
       |       WHEN c_es >= c_zh THEN 'es'
       |       ELSE 'zh' END AS dom_lang,
       |  GREATEST(c_en, c_de, c_fr, c_es, c_zh) AS dom_cnt,
       |  ROUND(CAST(GREATEST(c_en, c_de, c_fr, c_es, c_zh) AS DOUBLE) / n_seg,
       |        4) AS dom_frac,
       |  CAST((CASE WHEN c_en > 0 THEN 1 ELSE 0 END) +
       |       (CASE WHEN c_de > 0 THEN 1 ELSE 0 END) +
       |       (CASE WHEN c_fr > 0 THEN 1 ELSE 0 END) +
       |       (CASE WHEN c_es > 0 THEN 1 ELSE 0 END) +
       |       (CASE WHEN c_zh > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_langs,
       |  CAST(CASE WHEN GREATEST(c_en, c_de, c_fr, c_es, c_zh) < n_seg
       |       THEN 1 ELSE 0 END AS BIGINT) AS is_mixed
       |FROM a ORDER BY doc_id""".stripMargin

  val langidSegmentsDuckSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS tok
       |  FROM documents),
       |seg0 AS (
       |  SELECT doc_id,
       |         [tok[i * $SegTokens + 1 : i * $SegTokens + $SegTokens]
       |          for i in generate_series(0, CAST(ceil(len(tok) / ${SegTokens}.0) AS INT) - 1)]
       |           AS segs
       |  FROM t WHERE len(tok) > 0),
       |seg AS (
       |  SELECT doc_id, unnest(segs) AS st FROM seg0),
       |c AS (
       |  SELECT doc_id,
       |    CASE WHEN regexp_matches(array_to_string(st, ' '),
       |                             '[\\x{4e00}-\\x{9fff}]') THEN 'zh'
       |         WHEN len(list_filter(st, x -> list_contains([$en], x)))
       |           >= len(list_filter(st, x -> list_contains([$de], x)))
       |          AND len(list_filter(st, x -> list_contains([$en], x)))
       |           >= len(list_filter(st, x -> list_contains([$fr], x)))
       |          AND len(list_filter(st, x -> list_contains([$en], x)))
       |           >= len(list_filter(st, x -> list_contains([$es], x))) THEN 'en'
       |         WHEN len(list_filter(st, x -> list_contains([$de], x)))
       |           >= len(list_filter(st, x -> list_contains([$fr], x)))
       |          AND len(list_filter(st, x -> list_contains([$de], x)))
       |           >= len(list_filter(st, x -> list_contains([$es], x))) THEN 'de'
       |         WHEN len(list_filter(st, x -> list_contains([$fr], x)))
       |           >= len(list_filter(st, x -> list_contains([$es], x))) THEN 'fr'
       |         ELSE 'es' END AS pred
       |  FROM seg),
       |a AS (
       |  SELECT doc_id, COUNT(*) AS n_seg,
       |    CAST(SUM(CASE WHEN pred = 'zh' THEN 1 ELSE 0 END) AS BIGINT) AS c_zh,
       |    CAST(SUM(CASE WHEN pred = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS c_en,
       |    CAST(SUM(CASE WHEN pred = 'de' THEN 1 ELSE 0 END) AS BIGINT) AS c_de,
       |    CAST(SUM(CASE WHEN pred = 'fr' THEN 1 ELSE 0 END) AS BIGINT) AS c_fr,
       |    CAST(SUM(CASE WHEN pred = 'es' THEN 1 ELSE 0 END) AS BIGINT) AS c_es
       |  FROM c GROUP BY doc_id)
       |SELECT doc_id, n_seg,
       |  CASE WHEN c_en >= c_de AND c_en >= c_fr AND c_en >= c_es AND c_en >= c_zh THEN 'en'
       |       WHEN c_de >= c_fr AND c_de >= c_es AND c_de >= c_zh THEN 'de'
       |       WHEN c_fr >= c_es AND c_fr >= c_zh THEN 'fr'
       |       WHEN c_es >= c_zh THEN 'es'
       |       ELSE 'zh' END AS dom_lang,
       |  GREATEST(c_en, c_de, c_fr, c_es, c_zh) AS dom_cnt,
       |  ROUND(CAST(GREATEST(c_en, c_de, c_fr, c_es, c_zh) AS DOUBLE) / n_seg,
       |        4) AS dom_frac,
       |  CAST((CASE WHEN c_en > 0 THEN 1 ELSE 0 END) +
       |       (CASE WHEN c_de > 0 THEN 1 ELSE 0 END) +
       |       (CASE WHEN c_fr > 0 THEN 1 ELSE 0 END) +
       |       (CASE WHEN c_es > 0 THEN 1 ELSE 0 END) +
       |       (CASE WHEN c_zh > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_langs,
       |  CAST(CASE WHEN GREATEST(c_en, c_de, c_fr, c_es, c_zh) < n_seg
       |       THEN 1 ELSE 0 END AS BIGINT) AS is_mixed
       |FROM a ORDER BY doc_id""".stripMargin

  /** Corpus-level quality score rollup: bucketed composite score. */
  val qualitySparkSql: String =
    """WITH f AS (
      |  SELECT doc_id,
      |    CAST(size(split(trim(text), '\\s+')) AS DOUBLE) AS toks,
      |    CAST(length(regexp_replace(text, '[^.,;:!?]', '')) AS DOUBLE)
      |      / length(text) AS punct
      |  FROM documents)
      |SELECT CAST(LEAST(FLOOR(toks / 20), 5) AS BIGINT) AS len_bucket,
      |       COUNT(*) AS n, ROUND(AVG(punct), 4) AS avg_punct
      |FROM f GROUP BY LEAST(FLOOR(toks / 20), 5)
      |ORDER BY len_bucket""".stripMargin

  val qualityDuckSql: String =
    """WITH f AS (
      |  SELECT doc_id,
      |    CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE) AS toks,
      |    CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE)
      |      / length(text) AS punct
      |  FROM documents)
      |SELECT CAST(LEAST(FLOOR(toks / 20), 5) AS BIGINT) AS len_bucket,
      |       COUNT(*) AS n, ROUND(AVG(punct), 4) AS avg_punct
      |FROM f GROUP BY LEAST(FLOOR(toks / 20), 5)
      |ORDER BY len_bucket""".stripMargin

  /** Flesch reading-ease per document — the readability signal quality
    * filters bucket on (alongside the Gopher-style ratios): words =
    * nonempty whitespace tokens, sentences = `[.!?]+` runs (min 1),
    * syllables = `[aeiouy]+` vowel groups per lowercased word (min 1
    * per word — the standard heuristic), score = 206.835 − 1.015·W/S −
    * 84.6·Y/W. All three counts are integers, so the score doubles are
    * cross-engine exact (identical literal order; `+ 0.0` guards the
    * rounded negative zero — heavy-punctuation docs score negative).
    * One projection pass, no shuffle beyond the final sort. */
  val readabilitySparkSql: String =
    """WITH f AS (
      |  SELECT doc_id,
      |    CAST(size(filter(split(trim(text), '\\s+'), x -> x <> ''))
      |      AS BIGINT) AS n_words,
      |    CAST(GREATEST(size(regexp_extract_all(text, '[.!?]+', 0)), 1)
      |      AS BIGINT) AS n_sent,
      |    CAST(aggregate(filter(split(trim(text), '\\s+'), x -> x <> ''),
      |      0L, (s, w) -> s + GREATEST(
      |        size(regexp_extract_all(lower(w), '[aeiouy]+', 0)), 1))
      |      AS BIGINT) AS n_syll
      |  FROM documents),
      |sc AS (
      |  SELECT doc_id, n_words, n_sent, n_syll,
      |    CASE WHEN n_words = 0 THEN NULL
      |         ELSE ROUND(206.835
      |           - 1.015 * (CAST(n_words AS DOUBLE) / n_sent)
      |           - 84.6 * (CAST(n_syll AS DOUBLE) / n_words), 4) + 0.0
      |    END AS flesch
      |  FROM f)
      |SELECT doc_id, n_words, n_sent, n_syll, flesch,
      |  CASE WHEN flesch IS NULL THEN 'empty'
      |       WHEN flesch >= 60 THEN 'easy'
      |       WHEN flesch >= 30 THEN 'medium'
      |       ELSE 'hard' END AS band
      |FROM sc ORDER BY doc_id""".stripMargin

  val readabilityDuckSql: String =
    """WITH f AS (
      |  SELECT doc_id,
      |    CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
      |      x -> x <> '')) AS BIGINT) AS n_words,
      |    CAST(GREATEST(len(regexp_extract_all(text, '[.!?]+')), 1)
      |      AS BIGINT) AS n_sent,
      |    CAST(list_sum(list_transform(
      |      list_filter(string_split_regex(trim(text), '\s+'),
      |        x -> x <> ''),
      |      w -> GREATEST(len(regexp_extract_all(lower(w), '[aeiouy]+')),
      |        1))) AS BIGINT) AS n_syll
      |  FROM documents),
      |sc AS (
      |  SELECT doc_id, n_words, n_sent, n_syll,
      |    CASE WHEN n_words = 0 THEN NULL
      |         ELSE ROUND(206.835
      |           - 1.015 * (CAST(n_words AS DOUBLE) / n_sent)
      |           - 84.6 * (CAST(n_syll AS DOUBLE) / n_words), 4) + 0.0
      |    END AS flesch
      |  FROM f)
      |SELECT doc_id, n_words, n_sent, n_syll, flesch,
      |  CASE WHEN flesch IS NULL THEN 'empty'
      |       WHEN flesch >= 60 THEN 'easy'
      |       WHEN flesch >= 30 THEN 'medium'
      |       ELSE 'hard' END AS band
      |FROM sc ORDER BY doc_id""".stripMargin

  /** Gopher/C4-style document quality filter — the gate a training-data
    * pipeline runs before dedup: per-document signals (length, top-word
    * repetition share, stopword ratio, mean word length) and a composite
    * keep flag. Pure projections + one token-level aggregation; at scale
    * the explode/re-group shuffles (doc_id, word) pairs, which
    * map-side-combines to near the document count. Thresholds tuned to
    * split the synthetic corpus (~55% keep at sf0.01). */
  val qualityFilterSparkSql: String =
    """WITH t AS (
      |  -- total word chars = text minus whitespace: a plain (codegen'd)
      |  -- string expression, not an interpreted aggregate(...) lambda
      |  SELECT doc_id, split(trim(text), '\\s+') AS tok,
      |         CAST(length(regexp_replace(trim(text), '\\s+', ''))
      |              AS DOUBLE) AS chars
      |  FROM documents),
      |w AS (
      |  SELECT doc_id, explode(tok) AS w FROM t),
      |rep AS (
      |  SELECT doc_id, MAX(c) AS topc, SUM(c) AS total,
      |         SUM(CASE WHEN w IN ('a', 'the') THEN c ELSE 0 END) AS stopc
      |  FROM (SELECT doc_id, w, COUNT(*) AS c FROM w GROUP BY doc_id, w) g
      |  GROUP BY doc_id),
      |f AS (
      |  SELECT t.doc_id, size(tok) AS n_words,
      |    ROUND(CAST(rep.topc AS DOUBLE) / rep.total, 4) AS rep_ratio,
      |    ROUND(CAST(rep.stopc AS DOUBLE) / rep.total, 4) AS stop_ratio,
      |    ROUND(chars / size(tok), 4) AS avg_wlen
      |  FROM t JOIN rep ON t.doc_id = rep.doc_id)
      |SELECT doc_id, CAST(n_words AS BIGINT) AS n_words, rep_ratio,
      |  stop_ratio, avg_wlen,
      |  CAST(CASE WHEN n_words BETWEEN 30 AND 90 AND rep_ratio <= 0.12
      |        AND stop_ratio >= 0.03 AND avg_wlen BETWEEN 3 AND 8
      |       THEN 1 ELSE 0 END AS BIGINT) AS keep
      |FROM f ORDER BY doc_id""".stripMargin

  val qualityFilterDuckSql: String =
    """WITH t AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS tok
      |  FROM documents),
      |w AS (
      |  SELECT doc_id, unnest(tok) AS w FROM t),
      |rep AS (
      |  SELECT doc_id, MAX(c) AS topc, SUM(c) AS total,
      |         SUM(CASE WHEN w IN ('a', 'the') THEN c ELSE 0 END) AS stopc
      |  FROM (SELECT doc_id, w, COUNT(*) AS c FROM w GROUP BY doc_id, w) g
      |  GROUP BY doc_id),
      |f AS (
      |  SELECT t.doc_id, len(tok) AS n_words,
      |    ROUND(CAST(rep.topc AS DOUBLE) / rep.total, 4) AS rep_ratio,
      |    ROUND(CAST(rep.stopc AS DOUBLE) / rep.total, 4) AS stop_ratio,
      |    ROUND(list_sum(list_transform(tok, x -> CAST(length(x) AS DOUBLE)))
      |          / len(tok), 4) AS avg_wlen
      |  FROM t JOIN rep ON t.doc_id = rep.doc_id)
      |SELECT doc_id, CAST(n_words AS BIGINT) AS n_words, rep_ratio,
      |  stop_ratio, avg_wlen,
      |  CAST(CASE WHEN n_words BETWEEN 30 AND 90 AND rep_ratio <= 0.12
      |        AND stop_ratio >= 0.03 AND avg_wlen BETWEEN 3 AND 8
      |       THEN 1 ELSE 0 END AS BIGINT) AS keep
      |FROM f ORDER BY doc_id""".stripMargin

  /** Calibration audit of a quality-confidence score — the reliability
    * table + expected-calibration-error readout a training pipeline
    * runs before trusting a quality filter's scores as sampling
    * weights (the binned-statistics family: everything after the
    * per-doc projection is a 16-bin histogram, so the plan is one
    * corpus scan + a 16-row aggregate regardless of corpus size; the
    * ECE totals ride a global window over ≤ 16 rows, allowlisted in
    * `PlanAuditSpec` with the `stats_ks_drift_binned` justification
    * shape).
    *
    * The confidence score is a deterministic integer points system
    * over the SAME signals as [[qualityFilterSparkSql]] (word-count
    * closeness to 60, stopword mass, repetition, word-length closeness
    * to 5 chars — each 0..250k micro-units, summed to score_e6 ∈
    * [0, 1e6]); the label is that filter's own keep bit. Every
    * division is integer-on-non-negative (Spark `div` ≡ DuckDB `//`),
    * so conf/acc/gap/ECE are exact BIGINTs cross-engine — the binned
    * rank-statistics determinism scheme. Columns: per-bin n, kept,
    * mean confidence, empirical accuracy, |gap|, and the corpus ECE
    * (Σ n_b·gap_b / N) repeated per row. */
  private def qualityCalibrationCore(idiv: String): String =
    s"""s AS (
       |  SELECT doc_id, keep,
       |    GREATEST(0, 250000 - ABS(n_words - 60) * 4000)
       |    + LEAST(250000, (stopc * 5000000) $idiv total)
       |    + GREATEST(0, 250000 - (topc * 1000000) $idiv total)
       |    + GREATEST(0, 250000 - ABS((chars * 1000) $idiv n_words
       |                               - 5000) * 50) AS score_e6
       |  FROM f),
       |g AS (
       |  SELECT LEAST((score_e6 * 16) $idiv 1000000, 15) AS bin,
       |         CAST(COUNT(*) AS BIGINT) AS n,
       |         CAST(SUM(keep) AS BIGINT) AS n_kept,
       |         CAST(SUM(score_e6) AS BIGINT) AS ssum
       |  FROM s GROUP BY 1),
       |r AS (
       |  SELECT bin, n, n_kept,
       |         CAST(ssum $idiv n AS BIGINT) AS conf_e6,
       |         CAST((n_kept * 1000000) $idiv n AS BIGINT) AS acc_e6
       |  FROM g)
       |SELECT bin, n, n_kept, conf_e6, acc_e6,
       |       CAST(ABS(conf_e6 - acc_e6) AS BIGINT) AS gap_e6,
       |       CAST(SUM(n * ABS(conf_e6 - acc_e6)) OVER ()
       |            $idiv SUM(n) OVER () AS BIGINT) AS ece_e6
       |FROM r ORDER BY bin""".stripMargin

  val qualityCalibrationSparkSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, split(trim(text), '\\\\s+') AS tok,
       |         CAST(length(regexp_replace(trim(text), '\\\\s+', ''))
       |              AS BIGINT) AS chars
       |  FROM documents),
       |w AS (
       |  SELECT doc_id, explode(tok) AS w FROM t),
       |rep AS (
       |  SELECT doc_id, MAX(c) AS topc, SUM(c) AS total,
       |         SUM(CASE WHEN w IN ('a', 'the') THEN c ELSE 0 END) AS stopc
       |  FROM (SELECT doc_id, w, COUNT(*) AS c FROM w GROUP BY doc_id, w) g
       |  GROUP BY doc_id),
       |f AS (
       |  SELECT t.doc_id, CAST(size(tok) AS BIGINT) AS n_words,
       |    CAST(rep.topc AS BIGINT) AS topc,
       |    CAST(rep.total AS BIGINT) AS total,
       |    CAST(rep.stopc AS BIGINT) AS stopc, t.chars,
       |    CAST(CASE WHEN size(tok) BETWEEN 30 AND 90
       |          AND ROUND(CAST(rep.topc AS DOUBLE) / rep.total, 4) <= 0.12
       |          AND ROUND(CAST(rep.stopc AS DOUBLE) / rep.total, 4) >= 0.03
       |          AND ROUND(CAST(t.chars AS DOUBLE) / size(tok), 4)
       |              BETWEEN 3 AND 8
       |         THEN 1 ELSE 0 END AS BIGINT) AS keep
       |  FROM t JOIN rep ON t.doc_id = rep.doc_id),
       |${qualityCalibrationCore("div")}""".stripMargin

  val qualityCalibrationDuckSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS tok
       |  FROM documents),
       |w AS (
       |  SELECT doc_id, unnest(tok) AS w FROM t),
       |rep AS (
       |  SELECT doc_id, MAX(c) AS topc, SUM(c) AS total,
       |         SUM(CASE WHEN w IN ('a', 'the') THEN c ELSE 0 END) AS stopc
       |  FROM (SELECT doc_id, w, COUNT(*) AS c FROM w GROUP BY doc_id, w) g
       |  GROUP BY doc_id),
       |f AS (
       |  SELECT t.doc_id, CAST(len(tok) AS BIGINT) AS n_words,
       |    CAST(rep.topc AS BIGINT) AS topc,
       |    CAST(rep.total AS BIGINT) AS total,
       |    CAST(rep.stopc AS BIGINT) AS stopc,
       |    CAST(list_sum(list_transform(tok, x -> length(x)))
       |         AS BIGINT) AS chars,
       |    CAST(CASE WHEN len(tok) BETWEEN 30 AND 90
       |          AND ROUND(CAST(rep.topc AS DOUBLE) / rep.total, 4) <= 0.12
       |          AND ROUND(CAST(rep.stopc AS DOUBLE) / rep.total, 4) >= 0.03
       |          AND ROUND(list_sum(list_transform(tok,
       |                x -> CAST(length(x) AS DOUBLE))) / len(tok), 4)
       |              BETWEEN 3 AND 8
       |         THEN 1 ELSE 0 END AS BIGINT) AS keep
       |  FROM t JOIN rep ON t.doc_id = rep.doc_id),
       |${qualityCalibrationCore("//")}""".stripMargin

  /** Per-source percentile length gates (the Gopher/RefinedWeb "drop
    * the tails" rule, but per source — a 10th-percentile news article
    * and a 10th-percentile forum post are different lengths): keep docs
    * whose `n_chars` sits inside their source's [p10, p90].
    *
    * Scale shape: one partial-agg pass computes per-source thresholds
    * (sources are few → tiny result), the filter join broadcasts them,
    * and the verdict agg is map-side partial — no doc-row shuffle on
    * any side. Exact `percentile` here so the oracle can hash-check;
    * at 100 TB the same query ships with `approx_percentile` (same
    * plan shape, bounded state). */
  val lengthFilterSparkSql: String =
    """WITH q AS (
      |  SELECT source,
      |         percentile(n_chars, 0.1D) AS plo,
      |         percentile(n_chars, 0.9D) AS phi
      |  FROM documents GROUP BY source)
      |SELECT d.source, COUNT(*) AS n_docs,
      |       CAST(SUM(CASE WHEN d.n_chars >= q.plo AND d.n_chars <= q.phi
      |                THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      |       ROUND(MIN(q.plo), 2) AS lo, ROUND(MIN(q.phi), 2) AS hi
      |FROM documents d JOIN q ON d.source = q.source
      |GROUP BY d.source ORDER BY d.source""".stripMargin

  val lengthFilterDuckSql: String =
    """WITH q AS (
      |  SELECT source,
      |         quantile_cont(n_chars, 0.1) AS plo,
      |         quantile_cont(n_chars, 0.9) AS phi
      |  FROM documents GROUP BY source)
      |SELECT d.source, COUNT(*) AS n_docs,
      |       CAST(SUM(CASE WHEN d.n_chars >= q.plo AND d.n_chars <= q.phi
      |                THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      |       ROUND(MIN(q.plo), 2) AS lo, ROUND(MIN(q.phi), 2) AS hi
      |FROM documents d JOIN q ON d.source = q.source
      |GROUP BY d.source ORDER BY d.source""".stripMargin

  /** Benchmark decontamination — flag corpus documents sharing any
    * 5-gram with a (deterministic, here doc_id%50=0) benchmark set.
    * Scale shape: the benchmark's n-gram set is bounded (benchmarks are
    * small), so it broadcasts — or blooms at the extreme — and the
    * corpus side is a map-side shingle + broadcast-hash probe with no
    * corpus shuffle; only the hits (a sliver) reach the count
    * aggregation. Real pipelines use 8–13-gram windows; 5 plays that
    * role against the tiny synthetic vocabulary. */
  // Gram construction is posexplode(positions) + slice/concat per OUTPUT
  // row — plain codegen'd expressions — rather than a per-doc
  // `transform(...)` array build: Spark's higher-order lambdas are
  // interpreted (CodegenFallback), measured ~6x slower on this path.
  // Grams are xxhash64'd before the join (count semantics are
  // hash-invariant; the string-spelling DuckDB oracle checks that), so
  // the distinct/join shuffles carry fixed-width longs, never gram text.
  val decontaminateSparkSql: String =
    """WITH t AS (
      |  SELECT doc_id, split(lower(trim(text)), '\\s+') AS tok FROM documents),
      |g AS (
      |  SELECT DISTINCT doc_id,
      |         xxhash64(concat_ws(' ', slice(tok, p1, least(5, size(tok))))) AS g
      |  FROM t
      |  LATERAL VIEW posexplode(sequence(1, greatest(size(tok) - 4, 1))) x AS idx, p1),
      |bg AS (SELECT DISTINCT g FROM g WHERE doc_id % 50 = 0),
      |cg AS (SELECT doc_id, g FROM g WHERE doc_id % 50 != 0),
      |hit AS (SELECT /*+ BROADCAST(bg) */ doc_id, COUNT(*) AS n_hit
      |        FROM cg JOIN bg USING (g) GROUP BY doc_id)
      |SELECT /*+ BROADCAST(hit) */ d.doc_id,
      |       CAST(COALESCE(hit.n_hit, 0) AS BIGINT) AS n_hit,
      |       CAST(CASE WHEN hit.doc_id IS NOT NULL THEN 1 ELSE 0 END
      |            AS BIGINT) AS contaminated
      |FROM (SELECT doc_id FROM documents WHERE doc_id % 50 != 0) d
      |LEFT JOIN hit ON d.doc_id = hit.doc_id
      |ORDER BY d.doc_id""".stripMargin

  val decontaminateDuckSql: String =
    """WITH t AS (
      |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS tok
      |  FROM documents),
      |s AS (
      |  SELECT doc_id, list_distinct(CASE WHEN len(tok) >= 5 THEN
      |      [array_to_string(tok[i:i+4], ' ')
      |       for i in generate_series(1, len(tok) - 4)]
      |    ELSE [array_to_string(tok, ' ')] END) AS sh
      |  FROM t),
      |bg AS (SELECT DISTINCT unnest(sh) AS g FROM s WHERE doc_id % 50 = 0),
      |cg AS (SELECT doc_id, unnest(sh) AS g FROM s WHERE doc_id % 50 != 0),
      |hit AS (SELECT doc_id, COUNT(*) AS n_hit
      |        FROM cg JOIN bg USING (g) GROUP BY doc_id)
      |SELECT s.doc_id, CAST(COALESCE(hit.n_hit, 0) AS BIGINT) AS n_hit,
      |       CAST(CASE WHEN hit.doc_id IS NOT NULL THEN 1 ELSE 0 END
      |            AS BIGINT) AS contaminated
      |FROM s LEFT JOIN hit ON s.doc_id = hit.doc_id
      |WHERE s.doc_id % 50 != 0
      |ORDER BY s.doc_id""".stripMargin

  /** Corpus heavy hitters — global top-k most frequent tokens. The
    * scale shape is the one that matters: explode → partial (map-side)
    * count per token → final agg → `TakeOrderedAndProject` (top-k never
    * sorts the full token table). At 100 TB with an unbounded
    * vocabulary the exact agg becomes a count-min sketch / `freqItems`
    * pre-pass; with natural-language vocabularies (~10^6 terms) the
    * exact two-phase agg is already fine. */
  val heavyHittersSparkSql: String =
    """WITH w AS (
      |  SELECT explode(split(lower(trim(text)), '\\s+')) AS w FROM documents)
      |SELECT w, COUNT(*) AS n FROM w GROUP BY w
      |ORDER BY n DESC, w LIMIT 20""".stripMargin

  val heavyHittersDuckSql: String =
    """WITH w AS (
      |  SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
      |  FROM documents)
      |SELECT w, COUNT(*) AS n FROM w GROUP BY w
      |ORDER BY n DESC, w LIMIT 20""".stripMargin

  /** Intra-document repetition (Gopher "duplicate n-gram fraction"):
    * share of 2-grams / 3-grams that are repeats within the document.
    * Pure per-row array math — no shuffle at any scale. */
  // Same codegen-friendly shape as decontaminate: per-position explode +
  // plain sliced grams (hashed to longs) instead of interpreted
  // higher-order `transform` array builds; distinct-counting moves into
  // the per-doc aggregate. Fractions are hash-invariant.
  val repetitionSparkSql: String =
    """WITH t AS (
      |  SELECT doc_id, split(lower(trim(text)), '\\s+') AS tok FROM documents
      |  WHERE size(split(lower(trim(text)), '\\s+')) >= 3),
      |p AS (
      |  SELECT doc_id, size(tok) AS n,
      |         xxhash64(concat_ws(' ', slice(tok, p1, 2))) AS g2,
      |         CASE WHEN p1 <= size(tok) - 2
      |              THEN xxhash64(concat_ws(' ', slice(tok, p1, 3))) END AS g3
      |  FROM t
      |  LATERAL VIEW posexplode(sequence(1, size(tok) - 1)) x AS idx, p1)
      |SELECT doc_id,
      |  ROUND(1.0 - CAST(COUNT(DISTINCT g2) AS DOUBLE) / (MAX(n) - 1), 4)
      |    AS dup2_frac,
      |  ROUND(1.0 - CAST(COUNT(DISTINCT g3) AS DOUBLE) / (MAX(n) - 2), 4)
      |    AS dup3_frac
      |FROM p GROUP BY doc_id ORDER BY doc_id""".stripMargin

  val repetitionDuckSql: String =
    """WITH t AS (
      |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS tok
      |  FROM documents),
      |g AS (
      |  SELECT doc_id,
      |    [array_to_string(tok[i:i+1], ' ')
      |     for i in generate_series(1, len(tok) - 1)] AS g2,
      |    [array_to_string(tok[i:i+2], ' ')
      |     for i in generate_series(1, len(tok) - 2)] AS g3
      |  FROM t WHERE len(tok) >= 3)
      |SELECT doc_id,
      |  ROUND(1.0 - CAST(len(list_distinct(g2)) AS DOUBLE) / len(g2), 4)
      |    AS dup2_frac,
      |  ROUND(1.0 - CAST(len(list_distinct(g3)) AS DOUBLE) / len(g3), 4)
      |    AS dup3_frac
      |FROM g ORDER BY doc_id""".stripMargin

  /** Per-document token entropy + type/token ratio — the standard
    * gibberish/boilerplate signals a quality gate runs next to the
    * Gopher ratios (low entropy = repeated boilerplate, abnormally high
    * = random noise). Uses the identity H = ln(n) - (1/n)·Σ c·ln(c) so
    * the whole operator is ONE (doc_id, word) partial-agg shuffle + one
    * per-doc agg — no totals join. Hash-exact across engines via the
    * lm_score pattern: each word's c·ln(c) is quantized to integer
    * nano-nats BEFORE the sum, so aggregation order cannot drift the
    * double. */
  val entropySparkSql: String =
    """WITH tok AS (
      |  SELECT doc_id, explode(split(lower(trim(text)), '\\s+')) AS w
      |  FROM documents),
      |w AS (SELECT doc_id, w, COUNT(*) AS c FROM tok GROUP BY doc_id, w)
      |SELECT doc_id,
      |  CAST(SUM(c) AS BIGINT) AS n_tokens,
      |  CAST(COUNT(*) AS BIGINT) AS n_types,
      |  ROUND(CAST(COUNT(*) AS DOUBLE) / SUM(c), 4) AS ttr,
      |  ROUND(LN(CAST(SUM(c) AS DOUBLE))
      |    - CAST(SUM(CAST(ROUND(c * LN(CAST(c AS DOUBLE)) * 1e9) AS BIGINT))
      |           AS BIGINT) / 1e9 / SUM(c), 4) AS entropy
      |FROM w GROUP BY doc_id ORDER BY doc_id""".stripMargin

  val entropyDuckSql: String =
    """WITH tok AS (
      |  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
      |  FROM documents),
      |w AS (SELECT doc_id, w, COUNT(*) AS c FROM tok GROUP BY doc_id, w)
      |SELECT doc_id,
      |  CAST(SUM(c) AS BIGINT) AS n_tokens,
      |  CAST(COUNT(*) AS BIGINT) AS n_types,
      |  ROUND(CAST(COUNT(*) AS DOUBLE) / SUM(c), 4) AS ttr,
      |  ROUND(LN(CAST(SUM(c) AS DOUBLE))
      |    - CAST(SUM(CAST(ROUND(c * LN(CAST(c AS DOUBLE)) * 1e9) AS BIGINT))
      |           AS BIGINT) / 1e9 / SUM(c), 4) AS entropy
      |FROM w GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** TF-IDF top terms per document. Plan shape at scale: one
    * (doc_id, term) partial-agg shuffle for TF; the document-frequency
    * table is vocabulary-sized (≪ corpus) so it BROADCASTs back onto
    * TF; per-doc top-3 is a bounded window. Ties broken by term so
    * both engines rank identically. */
  val tfidfSparkSql: String =
    """WITH w AS (
      |  SELECT doc_id, explode(split(lower(trim(text)), '\\s+')) AS w
      |  FROM documents),
      |tf AS (SELECT doc_id, w, COUNT(*) AS tf FROM w GROUP BY doc_id, w),
      |df AS (SELECT w, COUNT(DISTINCT doc_id) AS df FROM w GROUP BY w),
      |n AS (SELECT COUNT(*) AS n FROM documents),
      |s AS (
      |  SELECT /*+ BROADCAST(df) */ tf.doc_id, tf.w,
      |         tf.tf * LN(CAST(n.n AS DOUBLE) / df.df) AS score
      |  FROM tf JOIN df ON tf.w = df.w CROSS JOIN n),
      |r AS (
      |  SELECT doc_id, w, score,
      |         ROW_NUMBER() OVER (PARTITION BY doc_id
      |                            ORDER BY score DESC, w) AS rk
      |  FROM s)
      |SELECT doc_id, w AS term, ROUND(score, 4) AS score, rk
      |FROM r WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin

  val tfidfDuckSql: String =
    """WITH w AS (
      |  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
      |  FROM documents),
      |tf AS (SELECT doc_id, w, COUNT(*) AS tf FROM w GROUP BY doc_id, w),
      |df AS (SELECT w, COUNT(DISTINCT doc_id) AS df FROM w GROUP BY w),
      |n AS (SELECT COUNT(*) AS n FROM documents),
      |s AS (
      |  SELECT tf.doc_id, tf.w,
      |         tf.tf * LN(CAST(n.n AS DOUBLE) / df.df) AS score
      |  FROM tf JOIN df ON tf.w = df.w CROSS JOIN n),
      |r AS (
      |  SELECT doc_id, w, score,
      |         ROW_NUMBER() OVER (PARTITION BY doc_id
      |                            ORDER BY score DESC, w) AS rk
      |  FROM s)
      |SELECT doc_id, w AS term, ROUND(score, 4) AS score, rk
      |FROM r WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin

  // ---- sparse TF-IDF cosine retrieval -------------------------------------

  /** Sparse-vector retrieval: top-3 documents per query document by
    * TF-IDF cosine, computed through an inverted index — the lexical
    * sibling of the dense ANN family (used in decontamination and
    * eval-set retrieval). Plan shape at scale: one (doc_id, term)
    * shuffle builds TF; the document-frequency table is vocabulary-sized
    * so it broadcasts. Two explicit bounds make the probe join
    * corpus-size-independent: (a) IMPACT PRUNING — each document keeps
    * only its top-64 terms by quantized TF-IDF weight, so posting lists
    * hold only documents for which the term is salient (a near-stopword
    * with df ≈ 0.9·N no longer drags its whole posting list into the
    * probe) and per-doc probe work is ≤ 64 terms; (b) a BOUNDED query
    * panel — the first 100 distinct qids of the 2% sample (an explicit
    * LIMIT, so the panel does not grow with the corpus; at the tested
    * SFs ≤ 0.1 the sample is ≤ 100 qids, so results are unchanged).
    * The pruned index is MATERIALIZED as a standing parquet artifact
    * before probing (at 100 TB the impact index IS a standing table,
    * rebuilt when the corpus version bumps, probed by every retrieval
    * job — and inline, Spark's CTE inlining would recompute the
    * tokenize+window pipeline once per downstream reference). Join
    * strategies over it are left to AQE, which sees real file stats and
    * broadcasts the bounded panel on its own — no hand-placed hint on a
    * corpus-sized table. The probe joins on a 64-bit term hash stored
    * in the index (long keys in the hot join+agg instead of strings;
    * injective on any real vocabulary, and the DuckDB oracle joins on
    * the raw term, pinning the equivalence). Norms are computed over
    * the SAME pruned vectors, so the cosine is exact for the pruned
    * representation, and dot products and norms are integer-quantized
    * per term before summing so the result is aggregation-order-exact
    * across engines — via FLOOR(x·1e6 + 0.5), which equals half-up
    * rounding for these strictly-positive weights in both engines but
    * stays codegen arithmetic (Spark's ROUND allocates a BigDecimal per
    * row; the swap alone cut the probe ~2×). (c) POSTING-LIST
    * TRUNCATION — the index also ranks each term's postings by
    * quantized impact (ties to the smaller doc_id) and the probe reads
    * only the top-[[SparseMaxPosting]] postings per term, the
    * WAND/JASS-style static index pruning every production impact
    * index applies: without it a degenerate near-stopword (this
    * synthetic corpus has a 31-term vocabulary, so EVERY term is one)
    * drags a corpus-sized posting list into the probe join — measured
    * 35.5 s at sf10, quadratic-shaped in corpus size. With the cap the
    * probe join is ≤ panel × 64 × [[SparseMaxPosting]] rows at ANY
    * corpus size. Norms stay computed over the full per-doc pruned
    * vectors, so truncated dots are underestimates (the standard
    * impact-ordered approximation); at SFs where every posting list is
    * shorter than the cap (≤ sf0.1 here) results are bit-identical to
    * the untruncated spelling, and the DuckDB oracle applies the same
    * truncation so the contract stays exact at every SF. */
  val SparseMaxPosting = 1000

  val sparseIndexSparkSql: String =
    """WITH w AS (
      |  SELECT doc_id, explode(split(lower(trim(text)), '\\s+')) AS w
      |  FROM documents),
      |tf AS (SELECT doc_id, w, COUNT(*) AS tf FROM w GROUP BY doc_id, w),
      |df AS (SELECT w, COUNT(DISTINCT doc_id) AS df FROM w GROUP BY w),
      |n AS (SELECT COUNT(*) AS n FROM documents),
      |wt0 AS (
      |  SELECT /*+ BROADCAST(df) */ tf.doc_id, tf.w,
      |         tf.tf * LN(CAST(n.n AS DOUBLE) / df.df) AS wgt
      |  FROM tf JOIN df ON tf.w = df.w CROSS JOIN n
      |  WHERE df.df < n.n)
      |SELECT doc_id, w, xxhash64(w) AS wh, wgt FROM (
      |  SELECT doc_id, w, wgt,
      |         ROW_NUMBER() OVER (PARTITION BY doc_id
      |           ORDER BY CAST(FLOOR(wgt * 1e6 + 0.5) AS BIGINT) DESC, w) AS trk
      |  FROM wt0) p WHERE trk <= 64""".stripMargin

  val sparseProbeSparkSql: String =
    s"""WITH wt AS (SELECT * FROM graft_sparse_idx),
      |nrm AS (
      |  SELECT doc_id,
      |         CAST(SUM(CAST(FLOOR(wgt * wgt * 1e6 + 0.5) AS BIGINT)) AS BIGINT) AS nq
      |  FROM wt GROUP BY doc_id),
      |qsel AS (
      |  SELECT doc_id FROM (SELECT DISTINCT doc_id FROM wt
      |                      WHERE doc_id % 50 = 0) s
      |  ORDER BY doc_id LIMIT 100),
      |qt AS (SELECT wt.* FROM wt JOIN qsel ON wt.doc_id = qsel.doc_id),
      |dot AS (
      |  SELECT q.doc_id AS qid, d.doc_id AS did,
      |         CAST(SUM(CAST(FLOOR(q.wgt * d.wgt * 1e6 + 0.5) AS BIGINT)) AS BIGINT) AS dq
      |  FROM qt q JOIN (SELECT * FROM wt WHERE kept) d
      |    ON q.wh = d.wh AND q.doc_id <> d.doc_id
      |  GROUP BY q.doc_id, d.doc_id),
      |c AS (
      |  SELECT qid, did,
      |         (dq / 1e6) / (SQRT(na.nq / 1e6) * SQRT(nb.nq / 1e6)) AS cosine
      |  FROM dot JOIN nrm na ON na.doc_id = qid JOIN nrm nb ON nb.doc_id = did
      |  WHERE na.nq > 0 AND nb.nq > 0),
      |r AS (
      |  SELECT qid, did, cosine,
      |         ROW_NUMBER() OVER (PARTITION BY qid
      |                            ORDER BY cosine DESC, did) AS rk
      |  FROM c)
      |SELECT qid, did, ROUND(cosine, 4) AS cosine, rk
      |FROM r WHERE rk <= 3 ORDER BY qid, rk""".stripMargin

  // ---- RAG document chunking ----------------------------------------------

  /** Fixed-size token chunking with overlap — the retrieval-corpus prep
    * step (every RAG/embedding pipeline shards long documents into
    * overlapping windows before embedding). Window = 32 tokens, stride
    * 24 (8-token overlap); chunk starts are 1, 1+stride, 1+2·stride …
    * while ≤ n, the final window clipping at the document end. Each
    * chunk emits its token count and an md5 fingerprint of the
    * reassembled text — the identity a downstream vector store keys on.
    * Pure per-row array math (explode of a per-doc start grid + slice):
    * no shuffle at any scale beyond the final ORDER BY, which a real
    * pipeline wouldn't run. The DuckDB oracle replays it with a
    * constant start grid (the bpe-pairs pattern — corpus docs are ≤ 90
    * words; a >4800-token doc would disagree loudly). */
  val ChunkSize = 32
  val ChunkStride = 24

  val chunkSparkSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, split(lower(trim(text)), '\\\\s+') AS tok
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, k AS chunk_id,
       |         slice(tok, 1 + k * $ChunkStride, $ChunkSize) AS chunk
       |  FROM t
       |  LATERAL VIEW explode(sequence(0,
       |    CAST((size(tok) - 1) div $ChunkStride AS INT))) g AS k)
       |SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
       |       CAST(size(chunk) AS BIGINT) AS n_tok,
       |       md5(concat_ws(' ', chunk)) AS fp
       |FROM c ORDER BY doc_id, chunk_id""".stripMargin

  val chunkDuckSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS tok
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, CAST(g.k AS BIGINT) AS chunk_id,
       |         tok[1 + g.k * $ChunkStride :
       |             g.k * $ChunkStride + $ChunkSize] AS chunk
       |  FROM t, generate_series(0, 199) g(k)
       |  WHERE g.k <= (len(tok) - 1) // $ChunkStride)
       |SELECT doc_id, chunk_id,
       |       CAST(len(chunk) AS BIGINT) AS n_tok,
       |       md5(array_to_string(chunk, ' ')) AS fp
       |FROM c ORDER BY doc_id, chunk_id""".stripMargin

  /** Chunk-level dedup — the vector-store ingest gate: identical chunks
    * (same md5 fingerprint) arriving from different documents are
    * indexed once; this emits each shared fingerprint with its
    * occurrence count and canonical (first) owner. Chunk-grain dedup
    * catches the partial overlap document-grain dedup misses — two
    * docs sharing one boilerplate paragraph dedup that paragraph only.
    * Shuffle carries (fp, doc_id, chunk_id) — fixed-width rows, never
    * text. */
  val chunkDedupSparkSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, split(lower(trim(text)), '\\\\s+') AS tok
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, k AS chunk_id,
       |         md5(concat_ws(' ',
       |           slice(tok, 1 + k * $ChunkStride, $ChunkSize))) AS fp
       |  FROM t
       |  LATERAL VIEW explode(sequence(0,
       |    CAST((size(tok) - 1) div $ChunkStride AS INT))) g AS k)
       |SELECT fp, COUNT(*) AS n_copies,
       |       MIN(doc_id) AS keep_doc,
       |       CAST(MIN(struct(doc_id, chunk_id)).chunk_id AS BIGINT)
       |         AS keep_chunk
       |FROM c GROUP BY fp HAVING COUNT(*) > 1
       |ORDER BY fp""".stripMargin

  val chunkDedupDuckSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS tok
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, CAST(g.k AS BIGINT) AS chunk_id,
       |         md5(array_to_string(
       |           tok[1 + g.k * $ChunkStride :
       |               g.k * $ChunkStride + $ChunkSize], ' ')) AS fp
       |  FROM t, generate_series(0, 199) g(k)
       |  WHERE g.k <= (len(tok) - 1) // $ChunkStride)
       |SELECT fp, COUNT(*) AS n_copies,
       |       MIN(doc_id) AS keep_doc,
       |       CAST(MIN({'doc_id': doc_id, 'chunk_id': chunk_id}).chunk_id
       |            AS BIGINT) AS keep_chunk
       |FROM c GROUP BY fp HAVING COUNT(*) > 1
       |ORDER BY fp""".stripMargin

  /** Build-then-probe: materialize the pruned impact index once, probe
    * it. The index parquet is tiny (≤ 64 rows/doc, five columns). The
    * per-term posting truncation is computed with the engine's grouped
    * top-k HEAP aggregate ([[graft.relational.TopK.GroupedTopK]]), not
    * a `ROW_NUMBER` window: PARTITION BY term has exactly |vocabulary|
    * partitions, so on a degenerate vocabulary (31 terms here) the
    * window spelling funnels the whole index through ≤ 31 sort tasks —
    * the heap keeps a bounded [[SparseMaxPosting]]-entry buffer per
    * term map-side and shuffles only partial heaps. Local wall-clock is
    * parity (12.9 s heap vs 12.6 s windowed at sf10 — 31 half-million-
    * row sorts are cheap on one box; the remaining cost is the
    * linear-in-bytes tokenize+TF index build); the heap's value is that
    * per-term work stays bounded when one executor would otherwise sort
    * a billion-row posting list alone. The kept set joins back as a
    * `kept` flag in the landed index (pushed-down boolean filter on
    * the probe side; the build lineage is localCheckpoint()ed so it
    * evaluates once) while norms still see every posting. */
  def sparseRetrievalQuery(spark: SparkSession, dir: String): DataFrame = {
    Tables.register(spark, dir)
    val idxPath = s"${sys.props("java.io.tmpdir")}/graft_sparse_idx_parquet"
    // localCheckpoint: the tokenize+TF build is the dominant cost and
    // feeds BOTH the kept-posting heap aggregate and the flag join —
    // the checkpoint guarantees one evaluation without relying on
    // exchange-reuse heuristics, at no measured cost (14.5 s either
    // way at sf10; a parquet round-trip sidecar spelling was ~2 s
    // slower: the probe-side sidecar join loses to a pushed-down
    // boolean filter)
    val idx0 = spark.sql(sparseIndexSparkSql).localCheckpoint()
    val topk = udaf(
      new graft.relational.TopK.GroupedTopK(SparseMaxPosting),
      org.apache.spark.sql.Encoders.product[graft.relational.TopK.TopKIn])
    // truncate per RAW term `w`, not per 64-bit hash `wh`: an xxhash64
    // collision would otherwise merge two terms' posting lists under a
    // single per-term cap and silently diverge from the oracle (which
    // partitions by the term string); only the probe joins on `wh`
    val keep = idx0
      .groupBy(col("w"))
      .agg(topk(expr("CAST(FLOOR(wgt * 1e6 + 0.5) AS DOUBLE)"),
        col("doc_id")).as("t"))
      .select(col("w"), explode(col("t.ids")).as("doc_id"),
        lit(true).as("kept"))
    idx0.join(keep, Seq("w", "doc_id"), "left")
      .select(col("doc_id"), col("w"), col("wh"), col("wgt"),
        coalesce(col("kept"), lit(false)).as("kept"))
      .write.mode("overwrite").parquet(idxPath)
    // free the checkpoint blocks: the standing table is the parquet now
    graft.BoundedCache.freeCheckpoint(idx0)
    spark.read.parquet(idxPath).createOrReplaceTempView("graft_sparse_idx")
    spark.sql(sparseProbeSparkSql)
  }

  val sparseRetrievalDuckSql: String =
    s"""WITH w AS (
      |  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
      |  FROM documents),
      |tf AS (SELECT doc_id, w, COUNT(*) AS tf FROM w GROUP BY doc_id, w),
      |df AS (SELECT w, COUNT(DISTINCT doc_id) AS df FROM w GROUP BY w),
      |n AS (SELECT COUNT(*) AS n FROM documents),
      |wt0 AS (
      |  SELECT tf.doc_id, tf.w,
      |         tf.tf * LN(CAST(n.n AS DOUBLE) / df.df) AS wgt
      |  FROM tf JOIN df ON tf.w = df.w CROSS JOIN n
      |  WHERE df.df < n.n),
      |wt AS (
      |  SELECT doc_id, w, wgt FROM (
      |    SELECT doc_id, w, wgt,
      |           ROW_NUMBER() OVER (PARTITION BY doc_id
      |             ORDER BY CAST(FLOOR(wgt * 1e6 + 0.5) AS BIGINT) DESC, w) AS trk
      |    FROM wt0) p WHERE trk <= 64),
      |wp AS (
      |  SELECT doc_id, w, wgt FROM (
      |    SELECT doc_id, w, wgt,
      |           ROW_NUMBER() OVER (PARTITION BY w
      |             ORDER BY CAST(FLOOR(wgt * 1e6 + 0.5) AS BIGINT) DESC, doc_id) AS prk
      |    FROM wt) p WHERE prk <= $SparseMaxPosting),
      |nrm AS (
      |  SELECT doc_id,
      |         CAST(SUM(CAST(FLOOR(wgt * wgt * 1e6 + 0.5) AS BIGINT)) AS BIGINT) AS nq
      |  FROM wt GROUP BY doc_id),
      |qsel AS (
      |  SELECT doc_id FROM (SELECT DISTINCT doc_id FROM wt
      |                      WHERE doc_id % 50 = 0) s
      |  ORDER BY doc_id LIMIT 100),
      |qt AS (SELECT wt.* FROM wt JOIN qsel ON wt.doc_id = qsel.doc_id),
      |dot AS (
      |  SELECT q.doc_id AS qid, d.doc_id AS did,
      |         CAST(SUM(CAST(FLOOR(q.wgt * d.wgt * 1e6 + 0.5) AS BIGINT)) AS BIGINT) AS dq
      |  FROM qt q JOIN wp d ON q.w = d.w AND q.doc_id <> d.doc_id
      |  GROUP BY q.doc_id, d.doc_id),
      |c AS (
      |  SELECT qid, did,
      |         (dq / 1e6) / (SQRT(na.nq / 1e6) * SQRT(nb.nq / 1e6)) AS cosine
      |  FROM dot JOIN nrm na ON na.doc_id = qid JOIN nrm nb ON nb.doc_id = did
      |  WHERE na.nq > 0 AND nb.nq > 0),
      |r AS (
      |  SELECT qid, did, cosine,
      |         ROW_NUMBER() OVER (PARTITION BY qid
      |                            ORDER BY cosine DESC, did) AS rk
      |  FROM c)
      |SELECT qid, did, ROUND(cosine, 4) AS cosine, rk
      |FROM r WHERE rk <= 3 ORDER BY qid, rk""".stripMargin

  // ---- Unicode NFC normalization ------------------------------------------

  /** NFC normalization, the hash-before-dedup hygiene step: decomposed
    * combining-mark sequences ("e" + U+0301) and their composed forms
    * ("é") are visually identical but hash differently, silently
    * splitting duplicate groups. Spark has no normalization builtin, so
    * this runs the engine's native `nfc` codegen Expression
    * ([[graft.functions.NfcNormalize]]); DuckDB oracles it with its own
    * `nfc_normalize`. The corpus is ASCII (already NFC — and the
    * expression's `isNormalized` fast path never allocates for it), so
    * the query decorates each doc with a deterministic decomposed
    * suffix; NFC must compose it, shrinking the byte length by exactly
    * one and producing the composed code point both engines agree on. */
  val normalizeSparkSql: String =
    "WITH d AS (\n" +
      "  SELECT doc_id, CONCAT(text, ' ', CASE CAST(doc_id % 3 AS INT)\n" +
      "    WHEN 0 THEN 'é' WHEN 1 THEN 'å'\n" +
      "    ELSE 'ö' END) AS raw\n" +
      "  FROM documents)\n" +
      "SELECT doc_id, CAST(octet_length(raw) AS BIGINT) AS n_raw,\n" +
      "       CAST(octet_length(nfc(raw)) AS BIGINT) AS n_norm,\n" +
      "       right(nfc(raw), 1) AS composed\n" +
      "FROM d ORDER BY doc_id"

  val normalizeDuckSql: String =
    "WITH d AS (\n" +
      "  SELECT doc_id, CONCAT(text, ' ', CASE CAST(doc_id % 3 AS INT)\n" +
      "    WHEN 0 THEN 'é' WHEN 1 THEN 'å'\n" +
      "    ELSE 'ö' END) AS raw\n" +
      "  FROM documents)\n" +
      "SELECT doc_id, CAST(octet_length(encode(raw)) AS BIGINT) AS n_raw,\n" +
      "       CAST(octet_length(encode(nfc_normalize(raw))) AS BIGINT) AS n_norm,\n" +
      "       right(nfc_normalize(raw), 1) AS composed\n" +
      "FROM d ORDER BY doc_id"

  /** Learned quality filter — the trained stage real pipelines run
    * after the heuristic gates (the CCNet/fastText pattern: distill a
    * cheap rule into a model, then score everything with the model).
    * Weak labels are the Gopher-style `keep` flag of
    * [[qualityFilterSparkSql]]; features are that filter's own four
    * surface signals (n_words, top-word repetition share, stopword
    * ratio, mean word length). The label is an axis-aligned BOX in
    * feature space, so the student is a decision tree — a form that can
    * represent the rule exactly (a logistic hyperplane cannot); the
    * spec gates near-perfect holdout agreement, i.e. the distillation
    * actually captured the rule. Scale shape: signals are one
    * explode/re-group pass (map-side combined), tree training reads the
    * doc-count-sized signal table (MLlib aggregates split statistics —
    * no corpus shuffle), and the fitted tree broadcasts back for a
    * map-side score of every document. */
  /** Fitted student tree per (session, dir) — training is a build
    * artifact (the bpe mergeCache pattern): repeated invocations pay
    * the map-side scoring pass, not the fit. */
  private val qualityModelCache = new graft.BoundedCache[
    org.apache.spark.ml.classification.DecisionTreeClassificationModel](
    max = 8, _ => ())

  /** The fitted tree landed as a node table for the oracle: DuckDB
    * re-applies the SAME artifact to independently recomputed features
    * with a recursive-CTE walk — checking the distributed scoring pass
    * against another engine (the `dedup_minhash_sig` pattern: only the
    * build artifact is shared, never the per-doc output). The path is
    * keyed by the source dir: the tree is SF-dependent (trained on that
    * dir's documents), and a fixed path would let a Bench run at
    * another SF clobber the artifact between Verify and the DuckDB
    * compare (the same cross-SF hazard the BPE merges oracle hit). */
  private def qualityTreePath(dir: String): String = {
    val fp = dir.hashCode & 0x7fffffff
    s"${sys.props("java.io.tmpdir")}/graft_quality_tree_$fp"
  }

  def qualityModel(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val signals = Tables.sql(qualityFilterSparkSql)(spark, dir)
      .selectExpr("doc_id", "CAST(n_words AS DOUBLE) AS f_nw",
        "rep_ratio AS f_rep", "stop_ratio AS f_stop", "avg_wlen AS f_wlen",
        "CAST(keep AS DOUBLE) AS label")
    val assembled = new org.apache.spark.ml.feature.VectorAssembler()
      .setInputCols(Array("f_nw", "f_rep", "f_stop", "f_wlen"))
      .setOutputCol("features")
      .transform(signals)
    val model = qualityModelCache.get(graft.BoundedCache.key(spark, dir))(
      new org.apache.spark.ml.classification.DecisionTreeClassifier()
        .setMaxDepth(8).setSeed(11).setLabelCol("label")
        .fit(assembled.where("doc_id % 5 < 4")))
    // (node_id, feat, thr, left, right, pred); feat = -1 marks a leaf.
    // MLlib continuous-split semantics: go left iff feature <= threshold.
    val nodes =
      scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Double, Int, Int, Double)]
    def flatten(n: org.apache.spark.ml.tree.Node): Int = {
      val id = nodes.length
      nodes += ((id, -1, 0.0, -1, -1, 0.0))
      n match {
        case in: org.apache.spark.ml.tree.InternalNode =>
          val cs = in.split.asInstanceOf[org.apache.spark.ml.tree.ContinuousSplit]
          val l = flatten(in.leftChild)
          val r = flatten(in.rightChild)
          nodes(id) = (id, cs.featureIndex, cs.threshold, l, r, 0.0)
        case lf: org.apache.spark.ml.tree.LeafNode =>
          nodes(id) = (id, -1, 0.0, -1, -1, lf.prediction)
      }
      id
    }
    flatten(model.rootNode)
    val treePath = qualityTreePath(dir)
    nodes.toSeq.toDF("node_id", "feat", "thr", "left", "right", "pred")
      .coalesce(1).write.mode("overwrite").parquet(treePath)
    model.transform(assembled)
      .selectExpr("doc_id", "CAST(label AS BIGINT) AS weak_label",
        "CAST(prediction AS BIGINT) AS pred",
        "CAST(CASE WHEN doc_id % 5 = 4 THEN 1 ELSE 0 END AS BIGINT) AS holdout")
      .orderBy("doc_id")
  }

  /** Compression-ratio quality signal: deflate each document and report
    * compressed/raw size — the classic cheap boilerplate detector
    * (templated or repetitive pages compress far below prose; the
    * signal complements `text_repetition`'s token-level ratios with a
    * substring-level one that catches structure n-gram counters miss).
    * One map-side pass, no shuffle; a UDF because no built-in deflate
    * exists (the bloom-filter precedent — java.util.zip in the closure).
    * No DuckDB oracle (no SQL deflate there either): rows-only driver
    * check + `TextModelSpec` pins the discrimination property. */
  val LowInfoRatio = 0.35

  def compressRatio(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // one Deflater per PARTITION, reset() per row — a per-row UDF would
    // allocate (and native-free) a zlib stream per document, pure
    // overhead at corpus scale
    Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        val d = new java.util.zip.Deflater(6)
        // native zlib state freed deterministically at task end —
        // finalization is deprecated and would let native memory pile
        // up on executors running many tasks
        Option(org.apache.spark.TaskContext.get())
          .foreach(_.addTaskCompletionListener[Unit](_ => d.end()))
        val buf = new Array[Byte](16 * 1024)
        it.map { case (id, t) =>
          val in = t.getBytes("UTF-8")
          d.reset(); d.setInput(in); d.finish()
          var n = 0L
          while (!d.finished()) n += d.deflate(buf)
          // ratio over the same unit as the numerator: UTF-8 BYTES
          // (chars would inflate the ratio for multibyte text)
          (id, in.length.toLong, n)
        }
      }
      .toDF("doc_id", "n_bytes", "n_deflate")
      .select(col("doc_id"), col("n_bytes"), col("n_deflate"),
        round(col("n_deflate").cast("double") / col("n_bytes"), 4).as("ratio"),
        (col("n_deflate").cast("double") / col("n_bytes") < LowInfoRatio)
          .cast("long").as("low_info"))
      .orderBy("doc_id")
  }

  /** Zipf's-law fit over the corpus token frequencies — the standard
    * vocabulary health check (natural corpora slope ≈ −1; scraped spam
    * and synthetic text drift off it). One token-table shuffle builds
    * the frequency table, the rank window runs over the VOCABULARY-
    * sized aggregate (never the token stream), and the log-log
    * regression is a single mergeable `regr_*` co-moment aggregate —
    * the whole plan is one pass + vocab-sized tail at any corpus size.
    * Log sums accumulate in engine-specific order → DECIMAL(18,6)
    * rounding, the corr-matrix convention. */
  private def zipfSql(split: String, toStr: String => String): String =
    s"""WITH t AS (
       |  SELECT $split AS w FROM documents),
       |f AS (SELECT w, COUNT(*) AS c FROM t GROUP BY w),
       |r AS (SELECT w, c,
       |             row_number() OVER (ORDER BY c DESC, w) AS rnk
       |      FROM f)
       |SELECT CAST(COUNT(*) AS BIGINT) AS n_types,
       |       CAST(SUM(c) AS BIGINT) AS n_tokens,
       |       ${toStr("regr_slope(ln(c), ln(rnk))")} AS zipf_slope,
       |       ${toStr("regr_r2(ln(c), ln(rnk))")} AS zipf_r2
       |FROM r""".stripMargin

  val zipfSparkSql: String = zipfSql(
    "explode(split(trim(lower(text)), '\\\\s+'))",
    e => s"CAST(CAST($e AS DECIMAL(18,6)) AS STRING)")

  val zipfDuckSql: String = zipfSql(
    "unnest(string_split_regex(trim(lower(text)), '\\s+'))",
    e => s"CAST(CAST($e AS DECIMAL(18,6)) AS VARCHAR)")

  /** Cross-document boilerplate detection — the C4/Gopher cleanup step
    * the within-doc repetition score (text_repetition) can't see: a
    * word 3-gram that recurs in ≥2 DISTINCT documents of the same
    * source is navigation/template boilerplate, and each document
    * reports how much of it is made of such grams. The gram table
    * shuffles once on (source, gram); the boilerplate set is
    * repeated-gram-sized (≪ the gram stream) so the probe back onto
    * the per-doc grams broadcasts at scale. Left join + count, never
    * a doc×doc self-join. */
  private def boilerplateSql(words: String, toStr: String => String): String =
    s"""WITH $words,
       |g0 AS (
       |  SELECT doc_id, source, concat_ws(' ', w, w1, w2) AS gram FROM (
       |    SELECT doc_id, source, w,
       |           lead(w, 1) OVER win AS w1, lead(w, 2) OVER win AS w2
       |    FROM x WINDOW win AS (PARTITION BY doc_id ORDER BY pos))
       |  WHERE w1 IS NOT NULL AND w2 IS NOT NULL),
       |c AS (
       |  SELECT doc_id, source, gram, COUNT(*) AS cnt
       |  FROM g0 GROUP BY doc_id, source, gram),
       |f AS (
       |  SELECT doc_id, cnt,
       |         COUNT(*) OVER (PARTITION BY source, gram) AS ndocs
       |  FROM c),
       |per AS (
       |  SELECT doc_id, SUM(cnt) AS n_grams,
       |         SUM(CASE WHEN ndocs >= 2 THEN cnt ELSE 0 END) AS n_boiler
       |  FROM f GROUP BY doc_id)
       |-- left join back onto documents: a doc too short to produce
       |-- grams still reports (0, 0, NULL) instead of vanishing
       |SELECT d.doc_id,
       |       CAST(COALESCE(per.n_grams, 0) AS BIGINT) AS n_grams,
       |       CAST(COALESCE(per.n_boiler, 0) AS BIGINT) AS n_boiler,
       |       ${toStr("CAST(COALESCE(per.n_boiler, 0) AS DOUBLE) / " +
           "NULLIF(COALESCE(per.n_grams, 0), 0)")}
       |         AS boiler_ratio
       |FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id
       |ORDER BY d.doc_id""".stripMargin

  /** Positioned word-stream CTEs (`t`: split once, `x`: one row per
    * word with its position), shared by boilerplate and novelty. Grams
    * are then formed by a lead() window over (doc_id, pos) — every
    * operator whole-stage-codegen, ONE pass over the text, and row
    * width stays one word, not one token-array copy per gram.
    *
    * Why not `transform(sequence(...), i -> concat_ws(...))` over the
    * split array (the first r12 spelling)? Two compounding planner
    * traps, measured at 55 s / 36 s for sf0.1's 260k grams: Spark
    * evaluates higher-order-function lambdas interpreted (per-element
    * boxing), and InferFiltersFromGenerate clones the ENTIRE gram
    * expression — with the split re-inlined into the lambda body,
    * O(words²) regex splits per document — into pre-Generate Filters,
    * twice per CTE reference (Spark inlines `WITH` subtrees, so the
    * gram build itself also ran twice). The window spelling has no
    * lambda, nothing for filter inference to clone, and a single gram
    * stream feeding both aggregates: 36 s → ~1 s. PlanAuditSpec pins
    * the single-Generate shape. */
  private val sparkWords: String =
    """t AS (
      |  SELECT doc_id, source, split(trim(lower(text)), '\\s+') AS ws
      |  FROM documents),
      |x AS (
      |  SELECT doc_id, source, pos, w
      |  FROM t LATERAL VIEW posexplode(ws) AS pos, w)""".stripMargin

  private val duckWords: String =
    """t AS (
      |  SELECT doc_id, source,
      |         string_split_regex(trim(lower(text)), '\s+') AS ws
      |  FROM documents),
      |x AS (
      |  SELECT doc_id, source, unnest(range(1, len(ws) + 1)) AS pos,
      |         unnest(ws) AS w
      |  FROM t)""".stripMargin

  val boilerplateSparkSql: String = boilerplateSql(sparkWords,
    e => s"CAST(CAST($e AS DECIMAL(18,4)) AS STRING)")

  val boilerplateDuckSql: String = boilerplateSql(duckWords,
    e => s"CAST(CAST($e AS DECIMAL(18,4)) AS VARCHAR)")

  /** First-occurrence novelty — the "how much of this document is new
    * to the corpus" curation signal (dedup catches exact/near copies;
    * this scores the long tail of recombined content): a doc's DISTINCT
    * word 3-grams, split into those whose corpus-wide FIRST appearance
    * (minimum doc_id) is this doc vs. those already seen in an earlier
    * one. ONE shuffle on gram serves the per-doc distinct, the
    * first-doc aggregate, and the join back (co-partitioned on the same
    * key); per-doc rollup is a second, doc-keyed shuffle. Short docs
    * report (0, 0, NULL) via the documents left join. */
  private def noveltySql(words: String, toStr: String => String): String =
    s"""WITH $words,
       |g0 AS (
       |  SELECT doc_id, concat_ws(' ', w, w1, w2) AS gram FROM (
       |    SELECT doc_id, w,
       |           lead(w, 1) OVER win AS w1, lead(w, 2) OVER win AS w2
       |    FROM x WINDOW win AS (PARTITION BY doc_id ORDER BY pos))
       |  WHERE w1 IS NOT NULL AND w2 IS NOT NULL),
       |g AS (SELECT DISTINCT doc_id, gram FROM g0),
       |f AS (
       |  SELECT doc_id,
       |         MIN(doc_id) OVER (PARTITION BY gram) AS first_doc
       |  FROM g),
       |per AS (
       |  SELECT doc_id, COUNT(*) AS n_grams,
       |         SUM(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END)
       |           AS n_novel
       |  FROM f GROUP BY doc_id)
       |SELECT d.doc_id,
       |       CAST(COALESCE(per.n_grams, 0) AS BIGINT) AS n_grams,
       |       CAST(COALESCE(per.n_novel, 0) AS BIGINT) AS n_novel,
       |       ${toStr("CAST(COALESCE(per.n_novel, 0) AS DOUBLE) / " +
           "NULLIF(COALESCE(per.n_grams, 0), 0)")}
       |         AS novelty
       |FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id
       |ORDER BY d.doc_id""".stripMargin

  val noveltySparkSql: String =
    noveltySql(sparkWords, e => s"CAST(CAST($e AS DECIMAL(18,4)) AS STRING)")

  val noveltyDuckSql: String =
    noveltySql(duckWords, e => s"CAST(CAST($e AS DECIMAL(18,4)) AS VARCHAR)")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_zipf" -> Tables.sql(zipfSparkSql),
    "text_boilerplate" -> Tables.sql(boilerplateSparkSql),
    "text_novelty" -> Tables.sql(noveltySparkSql),
    "text_compress_ratio" -> ((s: SparkSession, d: String) => compressRatio(s, d)),
    "text_quality_model" -> ((s: SparkSession, d: String) => qualityModel(s, d)),
    "text_normalize" -> ((s: SparkSession, d: String) => {
      graft.functions.VecFunctions.register(s)
      Tables.sql(normalizeSparkSql)(s, d)
    }),
    "text_stats" -> Tables.sql(statsSparkSql),
    "text_tokens" -> Tables.sql(tokensSparkSql),
    "text_fingerprint" -> Tables.sql(fingerprintSparkSql),
    "text_langid" -> ((s: SparkSession, d: String) => {
      graft.functions.VecFunctions.register(s); Tables.sql(langidSparkSql)(s, d)
    }),
    "text_langid_segments" -> ((s: SparkSession, d: String) => {
      graft.functions.VecFunctions.register(s)
      Tables.sql(langidSegmentsSparkSql)(s, d)
    }),
    "text_quality" -> Tables.sql(qualitySparkSql),
    "text_readability" -> Tables.sql(readabilitySparkSql),
    "text_quality_filter" -> Tables.sql(qualityFilterSparkSql),
    "text_quality_calibration" -> Tables.sql(qualityCalibrationSparkSql),
    "text_length_filter" -> Tables.sql(lengthFilterSparkSql),
    "text_decontaminate" -> Tables.sql(decontaminateSparkSql),
    "text_heavy_hitters" -> Tables.sql(heavyHittersSparkSql),
    "text_repetition" -> Tables.sql(repetitionSparkSql),
    "text_entropy" -> Tables.sql(entropySparkSql),
    "text_tfidf" -> Tables.sql(tfidfSparkSql),
    "text_sparse_retrieval" -> (sparseRetrievalQuery _),
    "text_chunk" -> Tables.sql(chunkSparkSql),
    "text_chunk_dedup" -> Tables.sql(chunkDedupSparkSql)
  )

  /** `text_quality_model` oracle: recompute the four features with
    * DuckDB's own spelling (the hash-green `text_quality_filter`
    * derivation), then walk the LANDED tree with a recursive CTE —
    * MLlib's go-left-iff-feature≤threshold semantics verbatim. A def:
    * the tree path follows the dir the query last ran with. */
  private def qualityModelDuckSql: String =
    s"""WITH RECURSIVE t AS (
       |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS tok
       |  FROM documents),
       |w AS (
       |  SELECT doc_id, unnest(tok) AS w FROM t),
       |rep AS (
       |  SELECT doc_id, MAX(c) AS topc, SUM(c) AS total,
       |         SUM(CASE WHEN w IN ('a', 'the') THEN c ELSE 0 END) AS stopc
       |  FROM (SELECT doc_id, w, COUNT(*) AS c FROM w GROUP BY doc_id, w) g
       |  GROUP BY doc_id),
       |f AS (
       |  SELECT t.doc_id,
       |    CAST(len(tok) AS DOUBLE) AS f0,
       |    ROUND(CAST(rep.topc AS DOUBLE) / rep.total, 4) AS f1,
       |    ROUND(CAST(rep.stopc AS DOUBLE) / rep.total, 4) AS f2,
       |    ROUND(list_sum(list_transform(tok, x -> CAST(length(x) AS DOUBLE)))
       |          / len(tok), 4) AS f3,
       |    CASE WHEN len(tok) BETWEEN 30 AND 90
       |          AND ROUND(CAST(rep.topc AS DOUBLE) / rep.total, 4) <= 0.12
       |          AND ROUND(CAST(rep.stopc AS DOUBLE) / rep.total, 4) >= 0.03
       |          AND ROUND(list_sum(list_transform(tok,
       |                x -> CAST(length(x) AS DOUBLE))) / len(tok), 4)
       |              BETWEEN 3 AND 8
       |         THEN 1 ELSE 0 END AS keep
       |  FROM t JOIN rep ON t.doc_id = rep.doc_id),
       |nodes AS (
       |  SELECT * FROM read_parquet('${qualityTreePath(graft.RunContext.oracleDir)}/*.parquet')),
       |walk AS (
       |  SELECT doc_id, f0, f1, f2, f3, keep, 0 AS node FROM f
       |  UNION ALL
       |  SELECT w.doc_id, w.f0, w.f1, w.f2, w.f3, w.keep,
       |         CASE WHEN (CASE n.feat WHEN 0 THEN w.f0 WHEN 1 THEN w.f1
       |                    WHEN 2 THEN w.f2 ELSE w.f3 END) <= n.thr
       |              THEN n.left ELSE n.right END
       |  FROM walk w JOIN nodes n ON n.node_id = w.node AND n.feat >= 0)
       |SELECT w.doc_id, CAST(w.keep AS BIGINT) AS weak_label,
       |       CAST(n.pred AS BIGINT) AS pred,
       |       CAST(CASE WHEN w.doc_id % 5 = 4 THEN 1 ELSE 0 END AS BIGINT)
       |         AS holdout
       |FROM walk w JOIN nodes n ON n.node_id = w.node AND n.feat < 0
       |ORDER BY w.doc_id""".stripMargin

  // def, not val: qualityModelDuckSql embeds the last-run tree path
  def oracleSql: Map[String, String] = Map(
    "text_zipf" -> zipfDuckSql,
    "text_boilerplate" -> boilerplateDuckSql,
    "text_novelty" -> noveltyDuckSql,
    "text_quality_model" -> qualityModelDuckSql,
    "text_normalize" -> normalizeDuckSql,
    "text_stats" -> statsDuckSql,
    "text_tokens" -> tokensDuckSql,
    "text_fingerprint" -> fingerprintDuckSql,
    "text_langid" -> langidDuckSql,
    "text_langid_segments" -> langidSegmentsDuckSql,
    "text_quality" -> qualityDuckSql,
    "text_readability" -> readabilityDuckSql,
    "text_quality_filter" -> qualityFilterDuckSql,
    "text_quality_calibration" -> qualityCalibrationDuckSql,
    "text_length_filter" -> lengthFilterDuckSql,
    "text_decontaminate" -> decontaminateDuckSql,
    "text_heavy_hitters" -> heavyHittersDuckSql,
    "text_repetition" -> repetitionDuckSql,
    "text_entropy" -> entropyDuckSql,
    "text_tfidf" -> tfidfDuckSql,
    "text_sparse_retrieval" -> sparseRetrievalDuckSql,
    "text_chunk" -> chunkDuckSql,
    "text_chunk_dedup" -> chunkDedupDuckSql
  )
}
