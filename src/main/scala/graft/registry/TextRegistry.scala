package graft.registry

import graft.core.{Tables, Timeframe}
import graft.ohlcv.{Analytics, Candles, Microstructure, Studies}
import graft.operators.AsofJoin
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.Query
import graft.SparkEntry._

/** Text analysis / tokenize / pack / mix / retrieval over documents (SURVEY §2.D).
  *
  * Each `Query` holds a Spark build next to its DuckDB oracle;
  * `SparkEntry.queries` indexes the eight registries by name. Shared
  * oracle fragments stay in SparkEntry (imported above).
  */
private[graft] object TextRegistry {

  val queries: Seq[Query] = Seq(
    Query("lang_confusion", (s, dir) =>
      graft.ops.TextAnalysis.langId(Tables.table(s, dir, "documents"))
        .groupBy(col("lang"), col("pred_lang")).agg(count(lit(1)).as("n")),
      s"WITH li AS ($langIdSql) " +
        "SELECT lang, pred_lang, count(*) AS n FROM li GROUP BY 1, 2"),
    Query("corpus_shuffle", (s, dir) =>
      // deterministic global training order: two-pass distributed global
      // rank over the portable epoch hash — no single-task window
      graft.ops.TextAnalysis.corpusShuffle(Tables.table(s, dir, "documents")),
      "WITH k AS (SELECT doc_id, " +
        "CAST('0x'||substr(md5(CAST(doc_id AS VARCHAR)||':epoch0'),1,8) AS BIGINT) AS h " +
        "FROM documents) " +
        "SELECT doc_id, h, row_number() OVER (ORDER BY h, doc_id) - 1 AS shuffle_pos FROM k"),
    Query("corpus_diff", (s, dir) => {
      // nightly snapshot diff: prior = the even-doc_id half (the
      // incremental-replay convention), today drops doc_id % 7 == 3
      // (deletions) and re-renders doc_id % 10 == 0 (edits) — per
      // (source, status) added/removed/changed/unchanged counts
      val d = Tables.table(s, dir, "documents")
      val prior = d.where(col("doc_id") % 2 === 0)
      val today = d.where(col("doc_id") % 7 =!= 3)
        .withColumn("text", when(col("doc_id") % 10 === 0,
          concat(col("text"), lit(" rev2"))).otherwise(col("text")))
      graft.ops.TextAnalysis.corpusDiff(prior, today)
    },
      "WITH prior AS (SELECT doc_id, source, md5(text) AS h FROM documents " +
        "WHERE doc_id % 2 = 0), " +
        "today AS (SELECT doc_id, source, md5(CASE WHEN doc_id % 10 = 0 " +
        "THEN text || ' rev2' ELSE text END) AS h FROM documents " +
        "WHERE doc_id % 7 <> 3) " +
        "SELECT coalesce(t.source, p.source) AS source, " +
        "CASE WHEN p.h IS NULL THEN 'added' WHEN t.h IS NULL THEN 'removed' " +
        "WHEN p.h <> t.h THEN 'changed' ELSE 'unchanged' END AS status, " +
        "count(*) AS n_docs " +
        "FROM prior p FULL OUTER JOIN today t ON p.doc_id = t.doc_id " +
        "GROUP BY 1, 2"),
    Query("contamination_check", (s, dir) =>
      graft.ops.TextAnalysis.contaminationCheck(Tables.table(s, dir, "documents")),
      contaminationSql),
    Query("tfidf_topterms", (s, dir) =>
      graft.ops.TextAnalysis.tfidfTopTerms(Tables.table(s, dir, "documents")),
      "WITH w AS (SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS term FROM documents), " +
        "wf AS (SELECT doc_id, term FROM w WHERE term <> ''), " +
        "tf AS (SELECT doc_id, term, count(*) AS tf FROM wf GROUP BY 1, 2), " +
        "df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1), " +
        "nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents), " +
        "scored AS (SELECT t.doc_id, t.term, t.tf, " +
        "round(t.tf * ln(CAST(nd.n_docs + 1 AS DOUBLE) / (d.df + 1)), 6) AS score " +
        "FROM tf t JOIN df d ON d.term = t.term CROSS JOIN nd) " +
        "SELECT doc_id, term, tf, score, rank FROM (SELECT scored.*, " +
        "row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rank " +
        "FROM scored) s WHERE rank <= 3"),
    Query("bigram_pmi", (s, dir) =>
      // PMI collocations: two hash aggs + dim-scale vocab joins, 1-row
      // broadcast totals; never a corpus pair join
      graft.ops.TextAnalysis.bigramPmi(Tables.table(s, dir, "documents")),
      // PMI collocation replay: exact integer unigram/bigram counts, corpus
      // totals, then the identical fixed-order double PMI formula
      "WITH dw AS (SELECT list_filter(string_split_regex(text, '\\s+'), w -> w <> '') AS ws FROM documents), " +
        "d AS (SELECT ws FROM dw WHERE len(ws) >= 2), " +
        "tot AS (SELECT CAST(sum(len(ws)) AS BIGINT) AS nu, CAST(sum(len(ws) - 1) AS BIGINT) AS nb FROM d), " +
        "u AS (SELECT w, count(*) AS cu FROM (SELECT unnest(ws) AS w FROM d) GROUP BY 1), " +
        "b AS (SELECT split_part(bg, ' ', 1) AS w1, split_part(bg, ' ', 2) AS w2, count(*) AS n_ab " +
        "FROM (SELECT unnest(list_transform(generate_series(1, len(ws) - 1), " +
        "i -> concat_ws(' ', ws[i], ws[i + 1]))) AS bg FROM d) GROUP BY 1, 2 HAVING count(*) >= 5), " +
        "j AS (SELECT b.w1, b.w2, b.n_ab, ua.cu AS n_a, ub.cu AS n_b " +
        "FROM b JOIN u ua ON b.w1 = ua.w JOIN u ub ON b.w2 = ub.w) " +
        "SELECT w1, w2, n_ab, n_a, n_b, " +
        "round(ln((CAST(n_ab AS DOUBLE) / CAST(nb AS DOUBLE)) / " +
        "((CAST(n_a AS DOUBLE) / CAST(nu AS DOUBLE)) * (CAST(n_b AS DOUBLE) / CAST(nu AS DOUBLE)))), 6) AS pmi " +
        "FROM j, tot"),
    Query("bigram_surprisal", (s, dir) =>
      graft.ops.TextAnalysis.bigramSurprisal(Tables.table(s, dir, "documents")),
      "WITH dw AS (SELECT doc_id, string_split_regex(text, '\\s+') AS ws FROM documents), " +
        "dw2 AS (SELECT doc_id, ws FROM dw WHERE len(ws) >= 2), " +
        "bi0 AS (SELECT doc_id, unnest(generate_series(1, len(ws)-1)) AS i, ws FROM dw2), " +
        "bi AS (SELECT doc_id, ws[i] AS w1, ws[i+1] AS w2 FROM bi0), " +
        "c12 AS (SELECT w1, w2, count(*) AS c12 FROM bi GROUP BY 1, 2), " +
        "c1 AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM c12 GROUP BY 1) " +
        "SELECT b.doc_id, count(*) AS n_bigrams, " +
        "round(avg(ln(CAST(c1.c1 AS DOUBLE) / c12.c12)), 6) AS surprisal " +
        "FROM bi b JOIN c12 ON c12.w1 = b.w1 AND c12.w2 = b.w2 " +
        "JOIN c1 ON c1.w1 = b.w1 GROUP BY 1"),
    Query("repetition_score", (s, dir) =>
      graft.ops.TextAnalysis.repetitionScore(Tables.table(s, dir, "documents")),
      "WITH dw AS (SELECT doc_id, string_split_regex(text, '\\s+') AS ws FROM documents), " +
        "shg AS (SELECT doc_id, list_transform(generate_series(1, len(ws)-2), " +
        "i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2])) AS sh FROM dw), " +
        "c AS (SELECT doc_id, CAST(len(sh) AS BIGINT) AS n_trigrams, " +
        "CAST(len(list_distinct(sh)) AS BIGINT) AS n_distinct_trigrams FROM shg) " +
        "SELECT doc_id, n_trigrams, n_distinct_trigrams, CASE WHEN n_trigrams > 0 THEN " +
        "round(1.0 - CAST(n_distinct_trigrams AS DOUBLE) / n_trigrams, 6) END AS repetition FROM c"),
    Query("char_entropy", (s, dir) =>
      graft.ops.TextAnalysis.charEntropy(Tables.table(s, dir, "documents")),
      "WITH d0 AS (SELECT doc_id, text FROM documents WHERE length(text) > 0), " +
        "e AS (SELECT doc_id, unnest(string_split(text, '')) AS ch FROM d0), " +
        "h AS (SELECT doc_id, ch, count(*) AS c FROM e GROUP BY 1, 2), " +
        "t AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n FROM h GROUP BY 1), " +
        "tm AS (SELECT h.doc_id, h.ch, -(CAST(h.c AS DOUBLE) / CAST(t.n AS DOUBLE)) * " +
        "ln(CAST(h.c AS DOUBLE) / CAST(t.n AS DOUBLE)) AS term FROM h JOIN t ON h.doc_id = t.doc_id), " +
        "l AS (SELECT doc_id, list(term ORDER BY ch) AS terms FROM tm GROUP BY 1), " +
        "dd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_distinct_chars FROM h GROUP BY 1) " +
        "SELECT l.doc_id, t.n AS n_chars, dd.n_distinct_chars, " +
        "round(list_reduce(list_prepend(CAST(0 AS DOUBLE), terms), (acc, x) -> acc + x) / " +
        "ln(CAST(2 AS DOUBLE)), 6) AS entropy_bits " +
        "FROM l JOIN t ON l.doc_id = t.doc_id JOIN dd ON dd.doc_id = l.doc_id"),
    Query("zipf_fit", (s, dir) =>
      graft.ops.TextAnalysis.zipfFit(Tables.table(s, dir, "documents")),
      "WITH w AS (SELECT unnest(string_split_regex(text, '\\s+')) AS term FROM documents), " +
        "tc AS (SELECT term, count(*) AS freq FROM w WHERE term <> '' GROUP BY 1), " +
        "top AS (SELECT term, freq FROM tc ORDER BY freq DESC, term LIMIT 100), " +
        "r AS (SELECT freq, row_number() OVER (ORDER BY freq DESC, term) AS rk FROM top), " +
        "l AS (SELECT CAST(count(*) AS BIGINT) AS n_terms, " +
        "list(ln(CAST(rk AS DOUBLE)) ORDER BY rk) AS xs, " +
        "list(ln(CAST(freq AS DOUBLE)) ORDER BY rk) AS ys, " +
        "list(ln(CAST(rk AS DOUBLE)) * ln(CAST(freq AS DOUBLE)) ORDER BY rk) AS xys, " +
        "list(ln(CAST(rk AS DOUBLE)) * ln(CAST(rk AS DOUBLE)) ORDER BY rk) AS x2s FROM r), " +
        "sm AS (SELECT n_terms, CAST(n_terms AS DOUBLE) AS nd, " +
        "list_reduce(list_prepend(CAST(0 AS DOUBLE), xs), (a, x) -> a + x) AS sx, " +
        "list_reduce(list_prepend(CAST(0 AS DOUBLE), ys), (a, x) -> a + x) AS sy, " +
        "list_reduce(list_prepend(CAST(0 AS DOUBLE), xys), (a, x) -> a + x) AS sxy, " +
        "list_reduce(list_prepend(CAST(0 AS DOUBLE), x2s), (a, x) -> a + x) AS sx2 FROM l), " +
        "f AS (SELECT n_terms, sx, sy, nd, " +
        "(nd * sxy - sx * sy) / (nd * sx2 - sx * sx) AS slope_raw FROM sm) " +
        "SELECT n_terms, round(slope_raw, 6) AS slope, " +
        "round((sy - slope_raw * sx) / nd, 6) AS intercept FROM f"),
    Query("heavy_hitters", (s, dir) =>
      graft.ops.TextAnalysis.heavyHitters(Tables.table(s, dir, "documents")),
      "WITH w AS (SELECT unnest(string_split_regex(text, '\\s+')) AS term FROM documents), " +
        "wf AS (SELECT term FROM w WHERE term <> ''), " +
        "tot AS (SELECT count(*) AS n FROM wf), " +
        "ex AS (SELECT term, count(*) AS freq FROM wf GROUP BY 1) " +
        "SELECT term, freq, TRUE AS found, TRUE AS bounds_ok FROM ex, tot " +
        "WHERE freq > CAST(n AS DOUBLE) / 32"),
    Query("decontaminate", (s, dir) =>
      graft.ops.TextAnalysis.decontaminate(Tables.table(s, dir, "documents")),
      s"WITH cc AS ($contaminationSql) " +
        "SELECT doc_id, n_shingles, n_hit, containment FROM cc " +
        "WHERE NOT coalesce(contaminated, false)"),
    Query("lang_id", (s, dir) =>
      graft.ops.TextAnalysis.langId(Tables.table(s, dir, "documents")),
      langIdSql),
    Query("quality_score", (s, dir) =>
      graft.ops.TextAnalysis.qualityScore(Tables.table(s, dir, "documents")),
      "WITH f AS (SELECT doc_id, " +
        "CAST(len(string_split_regex(text, '\\s+')) AS DOUBLE) AS nw, " +
        "CAST(length(text) AS DOUBLE) AS nc, " +
        "CAST(length(regexp_replace(text, '[a-z0-9\\s]', '', 'g')) AS DOUBLE) AS np, " +
        "CAST(len(list_filter(string_split_regex(text, '\\s+'), " +
        "w -> w IN ('the','a','and','of','to','in','is','it','for','on'))) AS DOUBLE) AS ns " +
        "FROM documents) " +
        "SELECT doc_id, CAST(nw AS BIGINT) AS n_words, np / nc AS punct_ratio, " +
        "ns / nw AS stop_ratio, " +
        "0.5 * (ns / nw) + 0.3 * (1.0 - np / nc) + 0.2 * least(nw / 100.0, 1.0) AS score FROM f"),
    Query("token_count", (s, dir) =>
      graft.ops.TextAnalysis.tokenCount(Tables.table(s, dir, "documents")),
      "SELECT doc_id, " +
        "CAST(len(string_split_regex(text, '\\s+')) AS BIGINT) AS n_ws_tokens, " +
        "CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]|[^a-z0-9\\s]')) AS BIGINT) AS n_subword_tokens, " +
        "CAST(length(text) AS BIGINT) AS n_chars_actual FROM documents"),
    Query("lexical_diversity", (s, dir) =>
      // type/token ratio + Guiraud index: the templated-text screen;
      // pure map over the text scan, no shuffle
      graft.ops.TextAnalysis.lexicalDiversity(Tables.table(s, dir, "documents")),
      // lexical diversity replay: the same split array drives both counts;
      // divisions fixed-order doubles, sqrt IEEE-exact in both engines
      "WITH w AS (SELECT doc_id, " +
        "CAST(len(string_split_regex(text, '\\s+')) AS BIGINT) AS n_words, " +
        "CAST(len(list_distinct(string_split_regex(text, '\\s+'))) AS BIGINT) AS n_distinct " +
        "FROM documents) " +
        "SELECT doc_id, n_words, n_distinct, " +
        "round(CAST(n_distinct AS DOUBLE) / (CASE WHEN n_words > 0 THEN CAST(n_words AS DOUBLE) END), 6) AS ttr, " +
        "round(CAST(n_distinct AS DOUBLE) / (CASE WHEN n_words > 0 THEN sqrt(CAST(n_words AS DOUBLE)) END), 6) AS guiraud FROM w"),
    Query("tokenizer_fertility", (s, dir) =>
      // subword tokens per word + chars per token by language: the
      // context-budget report; one map-side-combined aggregation
      graft.ops.TextAnalysis.tokenizerFertility(Tables.table(s, dir, "documents")),
      // fertility replay: same BPE-ish segmentation as token_count, exact
      // integer sums, fixed-order guarded ratios
      "WITH x AS (SELECT lang, CAST(len(string_split_regex(text, '\\s+')) AS BIGINT) AS w, " +
        "CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]|[^a-z0-9\\s]')) AS BIGINT) AS s, n_chars FROM documents), " +
        "a AS (SELECT lang, count(*) AS n_docs, CAST(sum(w) AS BIGINT) AS ws_tokens, " +
        "CAST(sum(s) AS BIGINT) AS subword_tokens, CAST(sum(n_chars) AS BIGINT) AS total_chars FROM x GROUP BY 1) " +
        "SELECT lang, n_docs, ws_tokens, subword_tokens, " +
        "round(CAST(subword_tokens AS DOUBLE) / (CASE WHEN ws_tokens > 0 THEN CAST(ws_tokens AS DOUBLE) END), 6) AS fertility, " +
        "round(CAST(total_chars AS DOUBLE) / (CASE WHEN subword_tokens > 0 THEN CAST(subword_tokens AS DOUBLE) END), 6) AS chars_per_token FROM a"),
    Query("dataset_card", (s, dir) =>
      // per-source release card: volume/length percentiles, language mix
      // + entropy, exact-dup rate; one scan, dim-scale joins after
      graft.ops.TextAnalysis.datasetCard(Tables.table(s, dir, "documents")),
      // dataset-card replay: quantile_cont == Spark's exact percentile over
      // the integer n_chars column, two-level distinct via the (source, h)
      // pre-group, (cnt desc, lang asc) argmax, entropy terms rounded 6 in
      // exact decimal sums (single-lang source pinned to literal 0 — the
      // -0.0 of -(1*ln 1) would hash-mismatch)
      "WITH b AS (SELECT source, lang, n_chars, md5(text) AS h FROM documents), " +
        "vol AS (SELECT source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars, " +
        "CAST(round(quantile_cont(n_chars, 0.5), 0) AS BIGINT) AS p50_chars, " +
        "CAST(round(quantile_cont(n_chars, 0.95), 0) AS BIGINT) AS p95_chars FROM b GROUP BY 1), " +
        "dup AS (SELECT source, count(*) AS n_distinct FROM (" +
        "SELECT source, h FROM b GROUP BY 1, 2) GROUP BY 1), " +
        "lc AS (SELECT source, lang, count(*) AS c FROM b GROUP BY 1, 2), " +
        "top AS (SELECT source, lang AS top_lang FROM (SELECT source, lang, " +
        "row_number() OVER (PARTITION BY source ORDER BY c DESC, lang) AS rn FROM lc) WHERE rn = 1), " +
        "langs AS (SELECT lc.source, count(*) AS n_langs, " +
        "CAST(sum(CAST(CASE WHEN lc.c = vol.n_docs THEN 0.0 " +
        "ELSE round(-((CAST(lc.c AS DOUBLE) / CAST(vol.n_docs AS DOUBLE)) * " +
        "ln(CAST(lc.c AS DOUBLE) / CAST(vol.n_docs AS DOUBLE))), 6) END AS DECIMAL(18,6))) AS DOUBLE) AS ent " +
        "FROM lc JOIN vol ON lc.source = vol.source GROUP BY 1) " +
        "SELECT vol.source, n_docs, total_chars, " +
        "round(CAST(total_chars AS DOUBLE) / CAST(n_docs AS DOUBLE), 6) AS mean_chars, " +
        "p50_chars, p95_chars, n_langs, top_lang, " +
        "round(1.0 - CAST(n_distinct AS DOUBLE) / CAST(n_docs AS DOUBLE), 6) AS dup_rate, " +
        "round(ent, 6) AS lang_entropy " +
        "FROM vol JOIN dup ON vol.source = dup.source " +
        "JOIN langs ON vol.source = langs.source JOIN top ON vol.source = top.source"),
    Query("packing_stats", (s, dir) =>
      graft.ops.TextAnalysis.packingStats(Tables.table(s, dir, "documents")),
      "WITH tc AS (SELECT source, " +
        "COALESCE(len(string_split_regex(text, '\\s+')), 0) AS t FROM documents) " +
        "SELECT source, count(*) AS n_docs, CAST(sum(t) AS BIGINT) AS total_tokens, " +
        "CAST(max(t) AS BIGINT) AS max_tokens, " +
        "CAST(sum(CASE WHEN t > 64 THEN 1 ELSE 0 END) AS BIGINT) AS n_over_ctx, " +
        "CAST(sum((t + 63) // 64) AS BIGINT) AS windows_padded, " +
        "CAST((sum(t) + 63) // 64 AS BIGINT) AS windows_packed, " +
        "round(CAST(sum((t + 63) // 64) * 64 - sum(t) AS DOUBLE) / (CAST(sum((t + 63) // 64) AS BIGINT) * 64), 6) AS padding_waste " +
        "FROM tc GROUP BY 1"),
    Query("mix_report", (s, dir) => {
      // training-mix dashboard: docs/tokens/mean quality per (lang,
      // source) cell. Mean goes through exact decimal partial sums (the
      // Profile trick) so it is shuffle-order-independent; one map pass +
      // one low-cardinality aggregation.
      val d = Tables.table(s, dir, "documents")
      d.select(col("lang"), col("source"),
          graft.ops.TextAnalysis.tokens(col("text")).as("t"),
          graft.ops.TextAnalysis.scoreColumn(col("text")).as("score"))
        .groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("t")).as("total_tokens"),
          round(sum(col("score").cast(DecimalType(18, 12))).cast("double") /
            count(col("score")), 6).as("mean_score"))
    },
      "WITH f AS (SELECT lang, source, " +
        "COALESCE(len(string_split_regex(text, '\\s+')), 0) AS t, " +
        "CAST(len(string_split_regex(text, '\\s+')) AS DOUBLE) AS nw, " +
        "CAST(length(text) AS DOUBLE) AS nc, " +
        "CAST(length(regexp_replace(text, '[a-z0-9\\s]', '', 'g')) AS DOUBLE) AS np, " +
        "CAST(len(list_filter(string_split_regex(text, '\\s+'), " +
        "w -> w IN ('the','a','and','of','to','in','is','it','for','on'))) AS DOUBLE) AS ns " +
        "FROM documents), " +
        "g AS (SELECT lang, source, t, " +
        "0.5 * (ns / nw) + 0.3 * (1.0 - np / nc) + 0.2 * least(nw / 100.0, 1.0) AS score FROM f) " +
        "SELECT lang, source, count(*) AS n_docs, CAST(sum(t) AS BIGINT) AS total_tokens, " +
        "round(CAST(sum(CAST(score AS DECIMAL(18,12))) AS DOUBLE) / count(score), 6) AS mean_score " +
        "FROM g GROUP BY 1, 2"),
    Query("doc_fingerprint", (s, dir) =>
      graft.ops.TextAnalysis.fingerprint(Tables.table(s, dir, "documents")),
      "SELECT doc_id, md5(text) AS fp, substr(md5(text), 1, 8) AS fp_prefix, " +
        "CAST(length(text) AS BIGINT) AS n_chars_actual, " +
        "CAST(len(string_split_regex(text, '\\s+')) AS BIGINT) AS n_words FROM documents"),
    Query("ngram_freq", (s, dir) =>
      graft.ops.TextAnalysis.ngramFreq(Tables.table(s, dir, "documents")),
      "WITH w AS (SELECT string_split_regex(text, '\\s+') AS ws FROM documents), " +
        "g AS (SELECT unnest(list_transform(generate_series(1, len(ws)-1), " +
        "i -> concat_ws(' ', ws[i], ws[i+1]))) AS ngram FROM w) " +
        "SELECT ngram, count(*) AS n FROM g GROUP BY 1 ORDER BY n DESC, ngram LIMIT 20"),
    Query("text_normalize", (s, dir) =>
      graft.ops.TextAnalysis.normalize(Tables.table(s, dir, "documents")),
      "WITH x AS (SELECT doc_id, text, " +
        "trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm FROM documents) " +
        "SELECT doc_id, md5(norm) AS norm_fp, " +
        "CAST(length(norm) AS BIGINT) AS n_chars_norm, " +
        "CAST(length(text) AS BIGINT) AS n_chars_raw FROM x"),
    Query("pii_scrub", (s, dir) =>
      graft.ops.TextAnalysis.piiScrub(Tables.table(s, dir, "documents")),
      "WITH x AS (SELECT doc_id, text, " +
        "regexp_replace(regexp_replace(text, '[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}', '<EMAIL>', 'g'), " +
        "'[0-9][0-9 ()-]{6,}[0-9]', '<NUMBER>', 'g') AS clean FROM documents) " +
        "SELECT doc_id, " +
        "CAST(len(regexp_extract_all(text, '[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}')) AS BIGINT) AS n_emails, " +
        "CAST(len(regexp_extract_all(text, '[0-9][0-9 ()-]{6,}[0-9]')) AS BIGINT) AS n_digit_runs, " +
        "md5(clean) AS clean_fp, CAST(length(clean) AS BIGINT) AS n_chars_clean FROM x"),
    Query("corpus_curate", (s, dir) =>
      graft.ops.TextAnalysis.curate(Tables.table(s, dir, "documents")),
      "WITH f AS (SELECT doc_id, " +
        "CAST(len(string_split_regex(text, '\\s+')) AS DOUBLE) AS nw, " +
        "CAST(length(text) AS DOUBLE) AS nc, " +
        "CAST(length(regexp_replace(text, '[a-z0-9\\s]', '', 'g')) AS DOUBLE) AS np, " +
        "CAST(len(list_filter(string_split_regex(text, '\\s+'), " +
        "w -> w IN ('the','a','and','of','to','in','is','it','for','on'))) AS DOUBLE) AS ns " +
        "FROM documents), " +
        "q AS (SELECT doc_id, 0.5 * (ns / nw) + 0.3 * (1.0 - np / nc) + " +
        "0.2 * least(nw / 100.0, 1.0) AS score FROM f), " +
        "st AS (SELECT d.doc_id, " +
        "md5(trim(regexp_replace(lower(d.text), '\\s+', ' ', 'g'))) AS norm_fp, " +
        "q.score, q.score >= 0.42 AS passed_quality " +
        "FROM documents d JOIN q ON q.doc_id = d.doc_id), " +
        "k AS (SELECT norm_fp, first(doc_id ORDER BY score DESC, doc_id) AS keep_id " +
        "FROM st WHERE passed_quality GROUP BY 1) " +
        "SELECT st.doc_id, st.norm_fp, round(st.score, 6) AS score, st.passed_quality, " +
        "(st.passed_quality AND st.doc_id = k.keep_id) AS kept " +
        "FROM st LEFT JOIN k ON k.norm_fp = st.norm_fp"),
    Query("corpus_sample", (s, dir) =>
      graft.ops.TextAnalysis.stratifiedSample(Tables.table(s, dir, "documents"),
        "lang", Map("en" -> 0.8, "de" -> 0.5, "fr" -> 0.25, "es" -> 0.1)),
      "SELECT doc_id, lang AS stratum FROM documents " +
        "WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) / 4294967296.0 < " +
        "CASE lang WHEN 'en' THEN 0.8 WHEN 'de' THEN 0.5 " +
        "WHEN 'fr' THEN 0.25 WHEN 'es' THEN 0.1 ELSE 0.0 END"),
    Query("pack_plan", (s, dir) =>
      // GPT-style dense-packing layout: per-lang running token totals via
      // the distributed two-pass Scan (never a per-stratum window), then
      // pure integer sequence/offset arithmetic
      graft.ops.TextAnalysis.packPlan(Tables.table(s, dir, "documents")),
      // packPlan replay: the same exclusive per-lang prefix sum as one
      // window (fine at oracle scale; the engine uses the two-pass scan)
      "WITH t AS (SELECT doc_id, lang, " +
        "COALESCE(CAST(len(string_split_regex(text, '\\s+')) AS BIGINT), 0) AS n_tokens FROM documents), " +
        "c AS (SELECT doc_id, lang, n_tokens, " +
        "COALESCE(CAST(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS cb FROM t) " +
        "SELECT doc_id, lang, n_tokens, " +
        "CAST(cb // 2048 AS BIGINT) AS seq_id, " +
        "CAST(cb % 2048 AS BIGINT) AS seq_offset, " +
        "CAST(CASE WHEN n_tokens > 0 THEN (cb % 2048 + n_tokens - 1) // 2048 + 1 " +
        "ELSE 0 END AS BIGINT) AS n_seqs FROM c"),
    Query("heaps_curve", (s, dir) =>
      // corpus-growth / dedup-saturation curve: new exact-content uniques
      // per 100-doc ingest batch + the cumulative dedup'd size
      graft.ops.Dedup.heapsCurve(Tables.table(s, dir, "documents")),
      // Heaps-curve replay: first-occurrence batches off md5 identity,
      // exact integer counts, one dim-scale cumulative window
      "WITH pb AS (SELECT doc_id // 100 AS batch, count(*) AS docs FROM documents GROUP BY 1), " +
        "fs AS (SELECT md5(text) AS h, min(doc_id) AS fid FROM documents GROUP BY 1), " +
        "nb AS (SELECT fid // 100 AS batch, count(*) AS new_uniques FROM fs GROUP BY 1), " +
        "j AS (SELECT pb.batch AS batch, docs, COALESCE(new_uniques, 0) AS new_uniques " +
        "FROM pb LEFT JOIN nb ON pb.batch = nb.batch) " +
        "SELECT batch, docs, new_uniques, CAST(sum(new_uniques) OVER (ORDER BY batch " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_uniques FROM j"),
    Query("decontam_scrub", (s, dir) =>
      // span-granular decontamination: benchmark-gram coverage scrubbed
      // from corpus docs (decontaminate drops docs; this keeps the rest)
      graft.ops.Dedup.spanScrub(
        Tables.table(s, dir, "documents"), col("source") === "src0"),
      // span-scrub replay: the exactsubstr_prune rebuild with the repeat
      // screen replaced by membership in the benchmark's distinct gram set;
      // corpus cut is IS DISTINCT FROM so a null source is CORPUS (the
      // spanScrub null-fold contract), never silently dropped
      "WITH dw AS (SELECT doc_id, source, list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS ws FROM documents), " +
        "bgi AS (SELECT ws, unnest(generate_series(1, len(ws) - 7)) AS i FROM dw WHERE source = 'src0' AND len(ws) >= 8), " +
        "bg AS (SELECT DISTINCT CAST('0x' || substr(md5(array_to_string(ws[i : i + 7], ' ')), 1, 8) AS BIGINT) AS h FROM bgi), " +
        "cw AS (SELECT doc_id, ws FROM dw WHERE source IS DISTINCT FROM 'src0'), " +
        "wp0 AS (SELECT doc_id, ws, unnest(generate_series(1, len(ws))) AS i FROM cw), " +
        "wq AS (SELECT doc_id, i - 1 AS pos, ws[i] AS word FROM wp0), " +
        "gi AS (SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 7)) AS i FROM cw WHERE len(ws) >= 8), " +
        "g AS (SELECT doc_id, i - 1 AS pos, CAST('0x' || substr(md5(array_to_string(ws[i : i + 7], ' ')), 1, 8) AS BIGINT) AS h FROM gi), " +
        "cov AS (SELECT DISTINCT doc_id, p FROM (SELECT g.doc_id, unnest(generate_series(g.pos, g.pos + 7)) AS p FROM g JOIN bg USING (h))), " +
        "kept AS (SELECT wq.doc_id, wq.pos, wq.word FROM wq LEFT JOIN cov ON cov.doc_id = wq.doc_id AND cov.p = wq.pos WHERE cov.p IS NULL), " +
        "st AS (SELECT doc_id, COALESCE(CAST(len(ws) AS BIGINT), 0) AS n_words FROM cw), " +
        "rb AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept, string_agg(word, ' ' ORDER BY pos) AS text FROM kept GROUP BY 1) " +
        "SELECT st.doc_id AS doc_id, n_words, n_words - COALESCE(n_kept, 0) AS n_removed, " +
        "COALESCE(rb.text, '') AS text FROM st LEFT JOIN rb USING (doc_id)"),
    Query("dsir_weights", (s, dir) =>
      // DSIR importance weights: hashed unigram target/raw models, exact
      // decimal log-ratio sums, bounded feature table broadcast
      graft.ops.TextAnalysis.dsirWeights(
        Tables.table(s, dir, "documents"), col("lang") === "en"),
      // DSIR replay: md5-prefix hashed unigram buckets, add-one smoothed
      // target/raw models, 12-rounded log-ratios summed exact decimal
      "WITH dw AS (SELECT doc_id, (lang = 'en') AS is_target, " +
        "unnest(string_split_regex(text, '\\s+')) AS w FROM documents), " +
        "tk AS (SELECT doc_id, is_target, " +
        "CAST('0x' || substr(md5(w), 1, 8) AS BIGINT) % 8192 AS b FROM dw WHERE w <> ''), " +
        "rc AS (SELECT b, count(*) AS rc FROM tk GROUP BY 1), " +
        "tc AS (SELECT b, count(*) AS tc FROM tk WHERE is_target GROUP BY 1), " +
        "tot AS (SELECT CAST(sum(CASE WHEN is_target THEN 1 ELSE 0 END) AS BIGINT) AS t_total, " +
        "count(*) AS r_total FROM tk), " +
        "ft AS (SELECT rc.b, CAST(round(" +
        "ln(CAST(COALESCE(tc.tc, 0) + 1 AS DOUBLE) / CAST(t_total + 8192 AS DOUBLE)) - " +
        "ln(CAST(rc.rc + 1 AS DOUBLE) / CAST(r_total + 8192 AS DOUBLE)), 12) AS DECIMAL(28,12)) AS lr " +
        "FROM rc LEFT JOIN tc ON tc.b = rc.b CROSS JOIN tot) " +
        "SELECT tk.doc_id, count(*) AS n_tokens, " +
        "CAST(sum(ft.lr) AS DOUBLE) AS dsir_logratio, " +
        "CAST(sum(ft.lr) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS per_token " +
        "FROM tk JOIN ft ON ft.b = tk.b GROUP BY 1"),
    Query("ccnet_buckets", (s, dir) =>
      // CCNet head/middle/tail: per-lang ppl tercile ORDER STATISTICS off
      // the value histogram, lang-dim cutoffs broadcast back
      graft.ops.LmScore.ccnetBuckets(Tables.table(s, dir, "documents")),
      // CCNet buckets replay: the full lm_perplexity chain, then the value
      // HISTOGRAM + cumulative counts pick the tercile order statistics
      "WITH dw AS (SELECT doc_id, source, string_split_regex(text, '\\s+') AS ws FROM documents), " +
        "tr AS (SELECT ws FROM dw WHERE source = 'src0'), " +
        "vocab AS (SELECT DISTINCT unnest(ws) AS w FROM tr), " +
        "vocab2 AS (SELECT w FROM vocab WHERE w <> ''), " +
        "vn AS (SELECT count(*) + 1 AS V FROM vocab2), " +
        "trb0 AS (SELECT unnest(generate_series(1, len(ws)-1)) AS i, ws FROM tr WHERE len(ws) >= 2), " +
        "trb AS (SELECT ws[i] AS w1, ws[i+1] AS w2 FROM trb0), " +
        "c12 AS (SELECT w1, w2, count(*) AS c12 FROM trb GROUP BY 1, 2), " +
        "c1 AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM c12 GROUP BY 1), " +
        "db0 AS (SELECT doc_id, unnest(generate_series(1, len(ws)-1)) AS i, ws FROM dw WHERE len(ws) >= 2), " +
        "db AS (SELECT doc_id, ws[i] AS w1, ws[i+1] AS w2 FROM db0), " +
        "dm AS (SELECT doc_id, " +
        "CASE WHEN v1.w IS NULL THEN '<unk>' ELSE db.w1 END AS w1m, " +
        "CASE WHEN v2.w IS NULL THEN '<unk>' ELSE db.w2 END AS w2m " +
        "FROM db LEFT JOIN vocab2 v1 ON v1.w = db.w1 LEFT JOIN vocab2 v2 ON v2.w = db.w2), " +
        "sc AS (SELECT doc_id, " +
        "-ln(CAST(COALESCE(c12.c12, 0) + 1 AS DOUBLE) / CAST(COALESCE(c1.c1, 0) + vn.V AS DOUBLE)) AS nll " +
        "FROM dm LEFT JOIN c12 ON c12.w1 = dm.w1m AND c12.w2 = dm.w2m " +
        "LEFT JOIN c1 ON c1.w1 = dm.w1m CROSS JOIN vn), " +
        "pp AS (SELECT doc_id, round(exp(round(avg(nll), 6)), 6) AS ppl FROM sc GROUP BY 1), " +
        "sl AS (SELECT pp.doc_id, d.lang, pp.ppl FROM pp JOIN documents d ON d.doc_id = pp.doc_id), " +
        "cnts AS (SELECT lang, ppl, count(*) AS c FROM sl GROUP BY 1, 2), " +
        "nn AS (SELECT lang, CAST(sum(c) AS BIGINT) AS n FROM cnts GROUP BY 1), " +
        "cum AS (SELECT lang, ppl, CAST(sum(c) OVER (PARTITION BY lang ORDER BY ppl " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum FROM cnts), " +
        "cuts AS (SELECT cum.lang, " +
        "min(CASE WHEN cum >= (n + 2) // 3 THEN ppl END) AS c1, " +
        "min(CASE WHEN cum >= (2 * n + 2) // 3 THEN ppl END) AS c2 " +
        "FROM cum JOIN nn ON nn.lang = cum.lang GROUP BY 1) " +
        "SELECT sl.doc_id, sl.lang, sl.ppl, " +
        "CASE WHEN sl.ppl <= cuts.c1 THEN 'head' WHEN sl.ppl <= cuts.c2 THEN 'middle' " +
        "ELSE 'tail' END AS bucket FROM sl JOIN cuts ON cuts.lang = sl.lang"),
    Query("mix_rebalance", (s, dir) =>
      // uniform-token-share rebalancing: derived per-lang rates + the
      // deterministic hash keep decision (mix_report's executable sibling)
      graft.ops.TextAnalysis.mixRebalance(Tables.table(s, dir, "documents")),
      // mixRebalance replay: derived rates from the same two aggregations;
      // keep decision on UNROUNDED double quotients (IEEE-identical)
      "WITH t AS (SELECT doc_id, lang, " +
        "COALESCE(CAST(len(string_split_regex(text, '\\s+')) AS BIGINT), 0) AS n_tokens FROM documents), " +
        "bl AS (SELECT lang, CAST(sum(n_tokens) AS BIGINT) AS lang_tokens FROM t GROUP BY 1), " +
        "mn AS (SELECT min(lang_tokens) AS min_tokens FROM bl) " +
        "SELECT t.doc_id, t.lang, t.n_tokens, " +
        "round(CAST(mn.min_tokens AS DOUBLE) / CAST(bl.lang_tokens AS DOUBLE), 6) AS rate, " +
        "(CAST(CAST('0x'||substr(md5(CAST(t.doc_id AS VARCHAR)),1,8) AS BIGINT) AS DOUBLE) / 4294967296.0 " +
        "< CAST(mn.min_tokens AS DOUBLE) / CAST(bl.lang_tokens AS DOUBLE)) AS keep " +
        "FROM t JOIN bl ON t.lang = bl.lang CROSS JOIN mn"),
    Query("mix_temperature", (s, dir) =>
      // temperature mix sampling (shares ∝ share^(1/T), T=2): the smooth
      // low-resource boost between proportional (T=1) and uniform (T=∞)
      graft.ops.TextAnalysis.mixTemperature(Tables.table(s, dir, "documents")),
      // mixTemperature replay at T=2 (e = 0.5): caps = lang_tokens^e, rate
      // = min_cap / cap ROUNDED to 6 before the keep compare (pow is not
      // bit-portable across engines; the rounding makes the decision so)
      "WITH t AS (SELECT doc_id, lang, " +
        "COALESCE(CAST(len(string_split_regex(text, '\\s+')) AS BIGINT), 0) AS n_tokens FROM documents), " +
        "bl AS (SELECT lang, CAST(sum(n_tokens) AS BIGINT) AS lang_tokens FROM t GROUP BY 1), " +
        "cp AS (SELECT lang, lang_tokens, pow(CAST(lang_tokens AS DOUBLE), 0.5) AS cap FROM bl), " +
        "mn AS (SELECT min(cap) AS min_cap FROM cp) " +
        "SELECT t.doc_id, t.lang, t.n_tokens, " +
        "round(mn.min_cap / cp.cap, 6) AS rate, " +
        "(CAST(CAST('0x'||substr(md5(CAST(t.doc_id AS VARCHAR)),1,8) AS BIGINT) AS DOUBLE) / 4294967296.0 " +
        "< round(mn.min_cap / cp.cap, 6)) AS keep " +
        "FROM t JOIN cp ON t.lang = cp.lang CROSS JOIN mn"),
    Query("corpus_split", (s, dir) =>
      // deterministic train/val/test assignment via the portable content
      // hash — stable across runs/engines/partitionings, map-only
      graft.ops.TextAnalysis.corpusSplit(Tables.table(s, dir, "documents")),
      // corpusSplit replay: hash32/2^32 is exact in a double (h < 2^32,
      // division by a power of two), so the threshold compares are
      // bit-identical; no representable u falls between 0.9 and Spark's
      // computed 0.8+0.1 (gap ~1e-16 vs u granularity 2^-32)
      "SELECT doc_id, lang, CASE WHEN u < 0.8 THEN 'train' " +
        "WHEN u < 0.9 THEN 'val' ELSE 'test' END AS split FROM (" +
        "SELECT doc_id, lang, " +
        "CAST(CAST('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,8) AS BIGINT) AS DOUBLE) / 4294967296.0 AS u " +
        "FROM documents)"),
    Query("quality_prune", (s, dir) =>
      // per-language quality-quantile pruning: a global threshold would
      // evict whole low-resource languages; thresholds broadcast back
      graft.ops.TextAnalysis.qualityPrune(Tables.table(s, dir, "documents")),
      // qualityPrune replay: per-lang exact interpolated quantile
      // (quantile_cont == Spark's percentile), scores and thresholds
      // rounded to 6 before the keep compare; null scores stay null-keep
      "WITH f AS (SELECT doc_id, lang, " +
        "CAST(len(string_split_regex(text, '\\s+')) AS DOUBLE) AS nw, " +
        "CAST(length(text) AS DOUBLE) AS nc, " +
        "CAST(length(regexp_replace(text, '[a-z0-9\\s]', '', 'g')) AS DOUBLE) AS np, " +
        "CAST(len(list_filter(string_split_regex(text, '\\s+'), " +
        "w -> w IN ('the','a','and','of','to','in','is','it','for','on'))) AS DOUBLE) AS ns " +
        "FROM documents), " +
        "sc AS (SELECT doc_id, lang, " +
        "round(0.5 * (ns / nw) + 0.3 * (1.0 - np / nc) + 0.2 * least(nw / 100.0, 1.0), 6) AS score FROM f), " +
        "th AS (SELECT lang, round(quantile_cont(score, 0.25), 6) AS lang_thr FROM sc GROUP BY 1) " +
        "SELECT sc.doc_id, sc.lang, sc.score, th.lang_thr, " +
        "sc.score >= th.lang_thr AS keep FROM sc JOIN th ON th.lang = sc.lang"),
    Query("budget_sample", (s, dir) =>
      // fixed token budget per language: deterministic hash shuffle + the
      // distributed two-pass prefix scan (same primitive as pack_plan)
      graft.ops.TextAnalysis.budgetSample(Tables.table(s, dir, "documents")),
      // budgetSample replay: exclusive per-lang prefix sum over the
      // deterministic (hash, doc_id) order — the scan's window equivalent
      "WITH t AS (SELECT doc_id, lang, " +
        "COALESCE(CAST(len(string_split_regex(text, '\\s+')) AS BIGINT), 0) AS n_tokens, " +
        "CAST('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,8) AS BIGINT) AS h FROM documents), " +
        "c AS (SELECT doc_id, lang, n_tokens, " +
        "CAST(COALESCE(sum(n_tokens) OVER (PARTITION BY lang ORDER BY h, doc_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before FROM t) " +
        "SELECT doc_id, lang, n_tokens, cum_before, cum_before < 20000 AS keep FROM c"),
    Query("domain_cap", (s, dir) =>
      // C4/RefinedWeb-style per-domain doc cap: each source keeps its
      // top-15 quality docs via the bounded per-source TopKByScore heap
      graft.ops.TextAnalysis.domainCap(Tables.table(s, dir, "documents")),
      // domainCap replay: same quality score as quality_prune, per-SOURCE
      // top-`cap` by (score DESC, doc_id) — the window is oracle-scale
      // only; the engine uses the bounded TopKByScore heap
      "WITH f AS (SELECT doc_id, source, " +
        "CAST(len(string_split_regex(text, '\\s+')) AS DOUBLE) AS nw, " +
        "CAST(length(text) AS DOUBLE) AS nc, " +
        "CAST(length(regexp_replace(text, '[a-z0-9\\s]', '', 'g')) AS DOUBLE) AS np, " +
        "CAST(len(list_filter(string_split_regex(text, '\\s+'), " +
        "w -> w IN ('the','a','and','of','to','in','is','it','for','on'))) AS DOUBLE) AS ns " +
        "FROM documents), " +
        "sc AS (SELECT doc_id, source, " +
        "round(0.5 * (ns / nw) + 0.3 * (1.0 - np / nc) + 0.2 * least(nw / 100.0, 1.0), 6) AS score FROM f), " +
        "rk AS (SELECT doc_id, row_number() OVER (PARTITION BY source " +
        "ORDER BY score DESC, doc_id) AS rn FROM sc WHERE score IS NOT NULL) " +
        "SELECT sc.doc_id, sc.source, sc.score, " +
        "COALESCE(rk.rn <= 15, false) AS keep FROM sc LEFT JOIN rk ON rk.doc_id = sc.doc_id"),
    Query("domain_cap_tokens", (s, dir) =>
      // token-budget flavor: hash-ordered prefix per source through the
      // distributed two-pass scan (budget_sample's stratum -> source)
      graft.ops.TextAnalysis.domainCapTokens(Tables.table(s, dir, "documents")),
      // domainCapTokens replay: budget_sample's prefix scan with the
      // stratum swapped from language to source
      "WITH t AS (SELECT doc_id, source, " +
        "COALESCE(CAST(len(string_split_regex(text, '\\s+')) AS BIGINT), 0) AS n_tokens, " +
        "CAST('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,8) AS BIGINT) AS h FROM documents), " +
        "c AS (SELECT doc_id, source, n_tokens, " +
        "CAST(COALESCE(sum(n_tokens) OVER (PARTITION BY source ORDER BY h, doc_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before FROM t) " +
        "SELECT doc_id, source, n_tokens, cum_before, cum_before < 800 AS keep FROM c"),
    Query("bm25_search", (s, dir) =>
      // BM25 ranked retrieval (contamination sweeps / targeted sourcing):
      // broadcast query-term postings, dim-scale df/N/avgdl, exact
      // decimal per-doc score sums, TakeOrdered top-k
      graft.ops.Bm25.search(Tables.table(s, dir, "documents"),
        Seq("spark", "join", "data")),
      // bm25 replay: Lucene-style idf, per-term contributions rounded to 6
      // and summed in exact DECIMAL(18,6) (association-order-free), same
      // left-assoc double expression shapes as the Spark side
      "WITH lens AS (SELECT doc_id, " +
        "COALESCE(CAST(len(string_split_regex(text, '\\s+')) AS BIGINT), 0) AS dl FROM documents), " +
        "stats AS (SELECT count(*) AS n, CAST(sum(dl) AS BIGINT) AS tot FROM lens), " +
        "q AS (SELECT unnest(['spark', 'join', 'data']) AS term), " +
        "toks AS (SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS term FROM documents), " +
        "tf AS (SELECT doc_id, toks.term, count(*) AS tf FROM toks JOIN q ON q.term = toks.term GROUP BY 1, 2), " +
        "df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY 1), " +
        "contrib AS (SELECT tf.doc_id, " +
        "CAST(round(ln((n - df + 0.5) / (df + 0.5) + 1.0) * (tf * 2.2) / " +
        "(tf + 1.2 * (0.25 + (0.75 * dl) / (CAST(tot AS DOUBLE) / n))), 6) AS DECIMAL(18,6)) AS c " +
        "FROM tf JOIN df ON df.term = tf.term JOIN lens ON lens.doc_id = tf.doc_id CROSS JOIN stats) " +
        "SELECT doc_id, score FROM (" +
        "SELECT doc_id, CAST(sum(c) AS DOUBLE) AS score, " +
        "row_number() OVER (ORDER BY CAST(sum(c) AS DOUBLE) DESC, doc_id) AS rn " +
        "FROM contrib GROUP BY 1) WHERE rn <= 20"),
    Query("lm_perplexity", (s, dir) =>
      // CCNet-style reference-LM quality filter: add-one bigram LM
      // trained on the src0 slice, every doc scored by cross-entropy
      // under it (OOV folded to <unk>); counts stay in frames — two
      // token-key joins, never a broadcast model
      graft.ops.LmScore.lmPerplexity(Tables.table(s, dir, "documents")),
      // lmPerplexity replay: add-one bigram LM trained on the src0 slice,
      // OOV folded to <unk>, P = (c12+1)/(c1+V) — a ratio of small exact
      // integers, so both engines take ln of the identical double; ppl
      // exponentiates the ALREADY-rounded log avg
      "WITH dw AS (SELECT doc_id, source, string_split_regex(text, '\\s+') AS ws FROM documents), " +
        "tr AS (SELECT ws FROM dw WHERE source = 'src0'), " +
        "vocab AS (SELECT DISTINCT unnest(ws) AS w FROM tr), " +
        "vocab2 AS (SELECT w FROM vocab WHERE w <> ''), " +
        "vn AS (SELECT count(*) + 1 AS V FROM vocab2), " +
        "trb0 AS (SELECT unnest(generate_series(1, len(ws)-1)) AS i, ws FROM tr WHERE len(ws) >= 2), " +
        "trb AS (SELECT ws[i] AS w1, ws[i+1] AS w2 FROM trb0), " +
        "c12 AS (SELECT w1, w2, count(*) AS c12 FROM trb GROUP BY 1, 2), " +
        "c1 AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM c12 GROUP BY 1), " +
        "db0 AS (SELECT doc_id, unnest(generate_series(1, len(ws)-1)) AS i, ws FROM dw WHERE len(ws) >= 2), " +
        "db AS (SELECT doc_id, ws[i] AS w1, ws[i+1] AS w2 FROM db0), " +
        "dm AS (SELECT doc_id, " +
        "CASE WHEN v1.w IS NULL THEN '<unk>' ELSE db.w1 END AS w1m, " +
        "CASE WHEN v2.w IS NULL THEN '<unk>' ELSE db.w2 END AS w2m, " +
        "(v1.w IS NULL OR v2.w IS NULL) AS oov " +
        "FROM db LEFT JOIN vocab2 v1 ON v1.w = db.w1 LEFT JOIN vocab2 v2 ON v2.w = db.w2), " +
        "sc AS (SELECT doc_id, oov, " +
        "-ln(CAST(COALESCE(c12.c12, 0) + 1 AS DOUBLE) / CAST(COALESCE(c1.c1, 0) + vn.V AS DOUBLE)) AS nll " +
        "FROM dm LEFT JOIN c12 ON c12.w1 = dm.w1m AND c12.w2 = dm.w2m " +
        "LEFT JOIN c1 ON c1.w1 = dm.w1m CROSS JOIN vn) " +
        "SELECT doc_id, count(*) AS n_bigrams, " +
        "CAST(sum(CASE WHEN oov THEN 1 ELSE 0 END) AS BIGINT) AS oov_bigrams, " +
        "round(avg(nll), 6) AS log_ppl, " +
        "round(exp(round(avg(nll), 6)), 6) AS ppl " +
        "FROM sc GROUP BY 1"),
    Query("vocab_coverage", (s, dir) =>
      // tokenizer-budget curve: fraction of corpus tokens covered by the
      // top-V types for a ladder of V — one term shuffle + a TakeOrdered,
      // exact integer folds over one collected sorted array
      graft.ops.TextAnalysis.vocabCoverage(Tables.table(s, dir, "documents")),
      // vocabCoverage replay: term counts, rank by (freq DESC, term), and
      // each budget's covered-token sum — all exact integers until the
      // final rounded ratio
      "WITH t AS (SELECT unnest(string_split_regex(text, '\\s+')) AS term FROM documents), " +
        "tt AS (SELECT term FROM t WHERE term <> ''), " +
        "tot AS (SELECT count(*) AS total_tokens FROM tt), " +
        "f AS (SELECT term, count(*) AS freq FROM tt GROUP BY 1), " +
        "rk AS (SELECT term, freq, row_number() OVER (ORDER BY freq DESC, term) AS r FROM f), " +
        "top AS (SELECT * FROM rk WHERE r <= 1024), " +
        "b AS (SELECT unnest([16, 64, 256, 1024]) AS v), " +
        "cov AS (SELECT b.v, count(*) AS n_types, CAST(sum(top.freq) AS BIGINT) AS covered_tokens " +
        "FROM b JOIN top ON top.r <= b.v GROUP BY 1) " +
        "SELECT CAST(cov.v AS BIGINT) AS v, CAST(cov.n_types AS BIGINT) AS n_types, " +
        "cov.covered_tokens, tot.total_tokens, " +
        "round(CAST(cov.covered_tokens AS DOUBLE) / tot.total_tokens, 6) AS coverage " +
        "FROM cov CROSS JOIN tot"),
    Query("split_leakage", (s, dir) =>
      // eval-hygiene audit: near-dup pairs straddling the train/val/test
      // boundary — split recomputed as a pure expression on both pair ids
      graft.ops.TextAnalysis.splitLeakage(Tables.table(s, dir, "documents")),
      // splitLeakage replay: the dedup_minhash pair CTEs + the corpus_split
      // hash CASE recomputed on both pair ids
      {
        def sc(c: String) =
          s"(CASE WHEN CAST(CAST('0x'||substr(md5(CAST($c AS VARCHAR)),1,8) AS BIGINT) AS DOUBLE) / 4294967296.0 < 0.8 THEN 'train' " +
            s"WHEN CAST(CAST('0x'||substr(md5(CAST($c AS VARCHAR)),1,8) AS BIGINT) AS DOUBLE) / 4294967296.0 < 0.9 THEN 'val' " +
            "ELSE 'test' END)"
        s"WITH ${minhashPairsCtes()} SELECT * FROM (" +
          "SELECT id1, id2, est_jaccard, " +
          s"${sc("id1")} AS split1, ${sc("id2")} AS split2 " +
          "FROM mh WHERE est_jaccard >= 0.5) WHERE split1 <> split2"
      }),
    Query("chunk_plan", (s, dir) =>
      // RAG chunker layout: overlapped token windows per doc, map-only
      // explode into per-chunk work items (framesample's text sibling)
      graft.ops.TextAnalysis.chunkPlan(Tables.table(s, dir, "documents")),
      // chunkPlan replay: pure integer window arithmetic + generate_series
      "WITH t AS (SELECT doc_id, " +
        "COALESCE(CAST(len(string_split_regex(text, '\\s+')) AS BIGINT), 0) AS n_tokens FROM documents), " +
        "n AS (SELECT doc_id, n_tokens, " +
        "CASE WHEN n_tokens = 0 THEN 0 ELSE 1 + (greatest(n_tokens - 128, 0) + 95) // 96 END AS n_chunks FROM t) " +
        "SELECT doc_id, n_tokens, CAST(ci AS BIGINT) AS chunk_idx, " +
        "CAST(ci * 96 AS BIGINT) AS tok_start, " +
        "CAST(least(ci * 96 + 128, n_tokens) AS BIGINT) AS tok_end " +
        "FROM n, unnest(generate_series(0, CAST(n_chunks - 1 AS BIGINT))) AS u(ci) " +
        "WHERE n_chunks > 0")
  )
}
