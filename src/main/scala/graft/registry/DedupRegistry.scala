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

/** Exact + near dedup over documents: hash/minhash/simhash/substring/fuzzy (SURVEY §2.D).
  *
  * Each `Query` holds a Spark build next to its DuckDB oracle;
  * `SparkEntry.queries` indexes the eight registries by name. Shared
  * oracle fragments stay in SparkEntry (imported above).
  */
private[graft] object DedupRegistry {

  val queries: Seq[Query] = Seq(
    // D. LLM-training-data pipeline ------------------------------------------
    Query("dedup_exact", (s, dir) =>
      graft.ops.Dedup.exact(Tables.table(s, dir, "documents")),
      "SELECT md5(text) AS h, min(doc_id) AS keep_id, count(*) AS n_copies FROM documents GROUP BY 1"),
    Query("dedup_substring", (s, dir) =>
      graft.ops.Dedup.substringDedup(Tables.table(s, dir, "documents")),
      // grid spans stay the reporting unit; occurrence counts run against
      // the stride-1 full-window shingle stream plus short tails — the
      // alignment-invariant contract (Dedup.substringDedup scaladoc)
      ("WITH w AS (SELECT doc_id, regexp_split_to_array(text, '\\s+') AS ws FROM documents), " +
        "sp AS (SELECT doc_id, len(ws) AS n, unnest(list_transform(generate_series(1, (len(ws)+19)//20), " +
        "i -> struct_pack(pos := i, span := array_to_string(ws[(i-1)*20+1:i*20], ' ')))) AS s FROM w), " +
        "f AS (SELECT doc_id, s.pos AS pos, s.span AS span, md5(s.span) AS h, " +
        "s.pos * 20 <= n AS is_full FROM sp), " +
        "pr AS (SELECT unnest(list_transform(generate_series(1, greatest(len(ws) - 19, 0)), " +
        "i -> md5(array_to_string(ws[i:i+19], ' ')))) AS h FROM w " +
        "UNION ALL SELECT h FROM f WHERE NOT is_full), " +
        "c AS (SELECT h, count(*) AS cnt FROM pr GROUP BY 1) " +
        "SELECT doc_id, count(*) AS n_spans, " +
        "CAST(sum(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_repeated_spans, " +
        "round(CAST(sum(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS dup_ratio, " +
        "md5(coalesce(array_to_string(list(span ORDER BY pos) FILTER (WHERE cnt = 1), ' '), '')) AS clean_fp " +
        "FROM f JOIN c USING (h) GROUP BY doc_id")),
    Query("dedup_minhash", (s, dir) =>
      graft.ops.Dedup.minhashLsh(Tables.table(s, dir, "documents")),
      s"WITH ${minhashPairsCtes()} SELECT id1, id2, est_jaccard FROM mh"),
    Query("dedup_simhash", (s, dir) =>
      graft.ops.Dedup.simhashNearDup(Tables.table(s, dir, "documents")),
      simhashNearDupSql()),
    Query("ngram_jaccard", (s, dir) =>
      graft.ops.Dedup.ngramJaccard(Tables.table(s, dir, "documents")),
      s"WITH $jaccardCtes SELECT id1, id2, est_jaccard, jaccard FROM jac WHERE jaccard >= 0.5"),
    Query("containment_pairs", (s, dir) =>
      graft.ops.Dedup.containmentPairs(Tables.table(s, dir, "documents")),
      s"WITH ${minhashPairsCtes()}, " +
        "shg AS (SELECT doc_id, list_distinct(list_transform(" +
        "generate_series(1, len(ws)-2), i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2]))) AS sh FROM dw), " +
        "cp AS (SELECT m.id1, m.id2, CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS n_common, " +
        "CAST(len(a.sh) AS BIGINT) AS n1, CAST(len(b.sh) AS BIGINT) AS n2 " +
        "FROM mh m JOIN shg a ON a.doc_id = m.id1 JOIN shg b ON b.doc_id = m.id2), " +
        "f AS (SELECT id1, id2, n_common, n1, n2, " +
        "CASE WHEN n1 > 0 THEN round(CAST(n_common AS DOUBLE) / n1, 6) END AS containment_1in2, " +
        "CASE WHEN n2 > 0 THEN round(CAST(n_common AS DOUBLE) / n2, 6) END AS containment_2in1 FROM cp) " +
        "SELECT id1, id2, n_common, n1, n2, containment_1in2, containment_2in1 FROM f " +
        "WHERE containment_1in2 >= 0.8 OR containment_2in1 >= 0.8"),
    Query("corpus_dedup", (s, dir) =>
      graft.ops.Dedup.corpusDedup(Tables.table(s, dir, "documents")),
      corpusDedupSql(0.8)),
    Query("corpus_dedup_stable", (s, dir) => {
      // nightly stable-id replay: prior labels from the even-doc_id half
      // (yesterday's batch), today over the full corpus — surviving
      // clusters keep yesterday's ids via the claim/award relabel
      // signatures computed ONCE over the full corpus (corpusBase); the
      // prior batch derives by FILTERING the cut frame — per-doc map-only
      // signatures make the filtered base identical to a base over the
      // filtered corpus, and the replay skips a second full text scan
      val base = graft.ops.Dedup.corpusBase(Tables.table(s, dir, "documents"))
      val prior = graft.ops.Dedup
        .corpusDedupFromBase(base.where(col("doc_id") % 2 === 0))
        .select(col("doc_id"), col("cluster_id"))
      graft.ops.Dedup.corpusDedupStableFromBase(base, prior)
    },
      corpusDedupStableSql(0.8)),
    Query("dedup_incremental", (s, dir) => {
      // nightly-crawl screening: the src0 batch against the rest of the
      // corpus — (new, corpus) candidates only, oversized corpus buckets
      // contribute their representative
      val d = Tables.table(s, dir, "documents")
      graft.ops.Dedup.incrementalDedup(
        d.where(col("source") === "src0"), d.where(col("source") =!= "src0"))
    },
      incrementalDedupSql()),
    Query("dedup_bloom", (s, dir) => {
      // Bloom-screened exact incremental dedup: the src0 batch vs the
      // rest — bounded-bits screen (no key collect), exact verify join
      // for positives only; result is exact (no false negatives)
      val d = Tables.table(s, dir, "documents")
      graft.ops.Dedup.bloomScreenDedup(
        d.where(col("source") === "src0"), d.where(col("source") =!= "src0"))
        .drop("screened") // screened is filter-seed-dependent; spec-pinned
    },
      // exact by construction: the Bloom screen only routes rows; every
      // positive is verified, negatives are guaranteed-new
      ("WITH ch AS (SELECT DISTINCT CAST('0x'||substr(md5(text),1,15) AS BIGINT) AS h " +
        "FROM documents WHERE source <> 'src0') " +
        "SELECT doc_id, CAST('0x'||substr(md5(text),1,15) AS BIGINT) AS h, " +
        "CAST('0x'||substr(md5(text),1,15) AS BIGINT) IN (SELECT h FROM ch) AS is_dup " +
        "FROM documents WHERE source = 'src0'")),
    Query("winnow_fingerprint", (s, dir) =>
      // MOSS winnowing: per-window min k-gram hash via the packed-BIGINT
      // argmin; guarantees shared runs >= w+k-1 words share a fingerprint
      graft.ops.Dedup.winnowFingerprint(Tables.table(s, dir, "documents")),
      // Winnowing replay: same k-gram md5-prefix hashes, the packed-BIGINT
      // window argmin, DISTINCT selections, left-joined onto gram counts
      "WITH dw AS (SELECT doc_id, string_split_regex(text, '\\s+') AS ws FROM documents), " +
        "gi AS (SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 3)) AS i FROM dw WHERE len(ws) >= 4), " +
        "g AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, " +
        "CAST('0x' || substr(md5(concat_ws(' ', ws[i], ws[i+1], ws[i+2], ws[i+3])), 1, 8) AS BIGINT) AS h FROM gi), " +
        "sw AS (SELECT doc_id, min(h * 2147483648 + pos) OVER win AS pk, count(*) OVER win AS cnt " +
        "FROM g WINDOW win AS (PARTITION BY doc_id ORDER BY pos ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING)), " +
        "sel AS (SELECT DISTINCT doc_id, pk FROM sw WHERE cnt = 4), " +
        "sa AS (SELECT doc_id, count(*) AS n_fingerprints, min(pk // 2147483648) AS min_fp FROM sel GROUP BY 1), " +
        "ng AS (SELECT doc_id, count(*) AS n_grams FROM g GROUP BY 1) " +
        "SELECT ng.doc_id AS doc_id, n_grams, COALESCE(n_fingerprints, 0) AS n_fingerprints, " +
        "round(CAST(COALESCE(n_fingerprints, 0) AS DOUBLE) / CAST(n_grams AS DOUBLE), 6) AS fp_density, min_fp " +
        "FROM ng LEFT JOIN sa ON ng.doc_id = sa.doc_id"),
    Query("longest_repeat", (s, dir) =>
      // ExactSubstr (Lee et al.): exact per-doc longest repeated token
      // span via distributed truncated-suffix order + adjacent LCP
      graft.ops.Dedup.longestRepeat(Tables.table(s, dir, "documents")),
      // ExactSubstr replay: same md5-prefix word hashes, the identical
      // (hash-array, doc_id, pos) total order (element-wise lexicographic,
      // shorter-prefix-first both engines), adjacent-pair word LCP via
      // first-false position, per-doc max with min-pos tie-break via a
      // two-step argmax
      "WITH w AS (SELECT doc_id, list_transform(" +
        "list_filter(string_split_regex(text, '\\s+'), x -> x <> ''), " +
        "wd -> CAST(CAST('0x' || substr(md5(wd), 1, 8) AS BIGINT) & 2147483647 AS INTEGER)) AS ws FROM documents), " +
        "wf AS (SELECT doc_id, ws FROM w WHERE len(ws) > 0), " +
        "ix AS (SELECT doc_id, ws, unnest(generate_series(1, len(ws))) AS i FROM wf), " +
        "suf AS (SELECT doc_id, i - 1 AS pos, ws[i : i + 31] AS sfx FROM ix), " +
        "r AS (SELECT doc_id, pos, sfx, row_number() OVER (ORDER BY sfx, doc_id, pos) AS rnk FROM suf), " +
        "adj AS (SELECT a.doc_id, a.pos, b.doc_id AS doc2, b.pos AS pos2, " +
        "coalesce(nullif(list_position(list_transform(generate_series(1, least(len(a.sfx), len(b.sfx))), " +
        "i -> a.sfx[i] = b.sfx[i]), false), 0) - 1, least(len(a.sfx), len(b.sfx))) AS lcp " +
        "FROM r a JOIN r b ON b.rnk = a.rnk + 1), " +
        "c AS (SELECT doc_id, pos, lcp FROM adj UNION ALL SELECT doc2 AS doc_id, pos2 AS pos, lcp FROM adj), " +
        "mx AS (SELECT doc_id, max(lcp) AS mr FROM c GROUP BY 1), " +
        "best AS (SELECT c.doc_id, c.lcp AS max_repeat, min(c.pos) AS pos " +
        "FROM c JOIN mx ON mx.doc_id = c.doc_id AND c.lcp = mx.mr GROUP BY 1, 2), " +
        "spine AS (SELECT DISTINCT doc_id FROM r) " +
        "SELECT doc_id, CAST(coalesce(max_repeat, 0) AS BIGINT) AS max_repeat, " +
        "CAST(CASE WHEN coalesce(max_repeat, 0) > 0 THEN pos END AS BIGINT) AS pos " +
        "FROM spine LEFT JOIN best USING (doc_id)"),
    Query("span_dedup", (s, dir) =>
      // C4 line-dedup on fixed 10-word spans: first-occurrence keeper via
      // one packed-min aggregation, docs rewritten from surviving spans
      graft.ops.Dedup.spanDedup(Tables.table(s, dir, "documents")),
      // span_dedup replay: fixed 10-word spans via list slicing, packed
      // first-occurrence min, ordered string_agg rebuild
      "WITH dw AS (SELECT doc_id, string_split_regex(text, '\\s+') AS ws FROM documents), " +
        "sp0 AS (SELECT doc_id, ws, unnest(generate_series(0, CAST(ceil(len(ws) / 10.0) AS INTEGER) - 1)) AS idx FROM dw), " +
        "sp AS (SELECT doc_id, idx, array_to_string(ws[idx * 10 + 1 : idx * 10 + 10], ' ') AS span FROM sp0), " +
        "hh AS (SELECT doc_id, idx, span, md5(span) AS h, doc_id * 1048576 + idx AS pk FROM sp), " +
        "f AS (SELECT h, min(pk) AS first_pk FROM hh GROUP BY 1), " +
        "j AS (SELECT hh.doc_id, hh.idx, hh.span, (hh.pk = f.first_pk) AS kept " +
        "FROM hh JOIN f ON f.h = hh.h) " +
        "SELECT doc_id, count(*) AS n_spans, " +
        "CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept, " +
        "coalesce(string_agg(CASE WHEN kept THEN span END, ' ' ORDER BY idx), '') AS text " +
        "FROM j GROUP BY 1"),
    Query("exactsubstr_prune", (s, dir) =>
      // ExactSubstr removal (Lee et al.): repeated-w-gram coverage ->
      // (doc,pos) anti-join -> doc rebuild; longest_repeat's ACTION
      graft.ops.Dedup.exactSubstrPrune(Tables.table(s, dir, "documents")),
      // ExactSubstr-prune replay: identical md5-prefix w-gram hashes, the
      // repeat screen a HAVING count >= 2, coverage expanded per start,
      // kept words re-agg'd in position order
      "WITH dw AS (SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS ws FROM documents), " +
        "wp0 AS (SELECT doc_id, ws, unnest(generate_series(1, len(ws))) AS i FROM dw), " +
        "wq AS (SELECT doc_id, i - 1 AS pos, ws[i] AS word FROM wp0), " +
        "gi AS (SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 7)) AS i FROM dw WHERE len(ws) >= 8), " +
        "g AS (SELECT doc_id, i - 1 AS pos, CAST('0x' || substr(md5(array_to_string(ws[i : i + 7], ' ')), 1, 8) AS BIGINT) AS h FROM gi), " +
        "rep AS (SELECT h FROM g GROUP BY h HAVING count(*) >= 2), " +
        "cov AS (SELECT DISTINCT doc_id, p FROM (SELECT g.doc_id, unnest(generate_series(g.pos, g.pos + 7)) AS p FROM g JOIN rep USING (h))), " +
        "kept AS (SELECT wq.doc_id, wq.pos, wq.word FROM wq LEFT JOIN cov ON cov.doc_id = wq.doc_id AND cov.p = wq.pos WHERE cov.p IS NULL), " +
        "st AS (SELECT doc_id, COALESCE(CAST(len(ws) AS BIGINT), 0) AS n_words FROM dw), " +
        "rb AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept, string_agg(word, ' ' ORDER BY pos) AS text FROM kept GROUP BY 1) " +
        "SELECT st.doc_id AS doc_id, n_words, n_words - COALESCE(n_kept, 0) AS n_removed, " +
        "COALESCE(rb.text, '') AS text FROM st LEFT JOIN rb USING (doc_id)"),
    Query("edit_join", (s, dir) =>
      // FastSS deletion-neighborhood candidates + threshold-bounded
      // codegen Levenshtein verify; no cross product ever forms
      graft.ops.Fuzzy.editJoin(
        Tables.table(s, dir, "supplier"), "s_suppkey", "s_name"),
      // edit_join replay: the all-pairs verify IS the oracle (DuckDB's
      // levenshtein, length band a = the k=1 pigeonhole) — the FastSS
      // candidate set is exactly what this cross check must reproduce
      "SELECT a.s_suppkey AS id1, b.s_suppkey AS id2, " +
        "CAST(levenshtein(a.s_name, b.s_name) AS BIGINT) AS dist " +
        "FROM supplier a JOIN supplier b ON a.s_suppkey < b.s_suppkey " +
        "AND abs(len(a.s_name) - len(b.s_name)) <= 1 " +
        "WHERE levenshtein(a.s_name, b.s_name) <= 1"),
    Query("edit_cluster", (s, dir) =>
      // entity resolution over the ED-1 pair graph: pointer-jumping CC
      // -> min-id keeper; every name returns, singletons keep themselves
      graft.ops.Fuzzy.editCluster(
        Tables.table(s, dir, "supplier"), "s_suppkey", "s_name"),
      // edit_cluster replay: the edit_join all-pairs oracle feeding the
      // image_dedup recursive-CTE CC, min-id keeper, full spine
      "WITH RECURSIVE pr AS (SELECT a.s_suppkey AS id1, b.s_suppkey AS id2 " +
        "FROM supplier a JOIN supplier b ON a.s_suppkey < b.s_suppkey " +
        "AND abs(len(a.s_name) - len(b.s_name)) <= 1 " +
        "WHERE levenshtein(a.s_name, b.s_name) <= 1), " +
        "edges AS (SELECT id1 AS a, id2 AS b FROM pr UNION SELECT id2, id1 FROM pr), " +
        "nodes AS (SELECT DISTINCT a AS nid FROM edges), " +
        "comp AS (SELECT nid, nid AS lbl FROM nodes " +
        "UNION SELECT e.a AS nid, c.lbl FROM edges e JOIN comp c ON e.b = c.nid), " +
        "labels AS (SELECT nid, min(lbl) AS cluster_id FROM comp GROUP BY 1) " +
        "SELECT s.s_suppkey AS id, s.s_name AS s, " +
        "COALESCE(l.cluster_id, s.s_suppkey) AS cluster_id, " +
        "(s.s_suppkey = COALESCE(l.cluster_id, s.s_suppkey)) AS keep " +
        "FROM supplier s LEFT JOIN labels l ON l.nid = s.s_suppkey"),
    Query("cross_source_dups", (s, dir) =>
      // cross-source duplication matrix: shared exact contents per source
      // pair via one content-hash equi-join over the cut distinct frame
      graft.ops.Dedup.crossSourceDups(Tables.table(s, dir, "documents")),
      // cross-source duplication replay: distinct (source, md5) pairs,
      // content-hash self-join, zero-filled over the complete pair spine
      "WITH sc AS (SELECT DISTINCT source, md5(text) AS h FROM documents), " +
        "tot AS (SELECT source, count(*) AS n FROM sc GROUP BY 1), " +
        "pr AS (SELECT a.source AS source_a, b.source AS source_b, count(*) AS n_shared " +
        "FROM sc a JOIN sc b ON a.h = b.h AND a.source < b.source GROUP BY 1, 2) " +
        "SELECT ta.source AS source_a, tb.source AS source_b, " +
        "coalesce(pr.n_shared, 0) AS n_shared, ta.n AS n_a, tb.n AS n_b, " +
        "round(CAST(coalesce(pr.n_shared, 0) AS DOUBLE) / CAST(least(ta.n, tb.n) AS DOUBLE), 6) AS overlap " +
        "FROM tot ta JOIN tot tb ON ta.source < tb.source " +
        "LEFT JOIN pr ON pr.source_a = ta.source AND pr.source_b = tb.source"),
    Query("source_minhash", (s, dir) =>
      // sketch-cost source overlap: per-source signature = element-wise
      // MIN of doc MinHash sigs (min commutes with set union), pair
      // Jaccard estimated from sources×numPerm frames — aggregation
      // cost where cross_source_dups pays an every-content-hash join
      graft.ops.Dedup.sourceMinhash(Tables.table(s, dir, "documents")),
      // per-source MinHash replay: doc sigs exactly as dedup_minhash, then
      // element-wise min per source, component matches counted per pair
      s"WITH dw AS (SELECT source, string_split_regex(text, '\\s+') AS ws FROM documents), " +
        "dh AS (SELECT source, list_transform(" +
        "list_transform(generate_series(1, len(ws)-2), i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2])), " +
        "s -> CAST('0x' || substr(md5(s), 1, 8) AS BIGINT)) AS hashes FROM dw WHERE len(ws) >= 3), " +
        s"sigs AS (SELECT source, ${minhashSigSql(128)} AS sig FROM dh), " +
        "ix AS (SELECT unnest(generate_series(1, 128)) AS pos), " +
        "sm AS (SELECT source, pos, min(sig[pos]) AS mh FROM sigs CROSS JOIN ix GROUP BY 1, 2), " +
        "m AS (SELECT x.source AS source_a, y.source AS source_b, count(*) AS n_match " +
        "FROM sm x JOIN sm y ON x.pos = y.pos AND x.mh = y.mh AND x.source < y.source GROUP BY 1, 2), " +
        "srcs AS (SELECT DISTINCT source FROM sm), " +
        "sp AS (SELECT a.source AS source_a, b.source AS source_b " +
        "FROM srcs a JOIN srcs b ON a.source < b.source) " +
        "SELECT source_a, source_b, CAST(coalesce(n_match, 0) AS BIGINT) AS n_match, " +
        "round(CAST(coalesce(n_match, 0) AS DOUBLE) / 128, 6) AS est_jaccard " +
        "FROM sp LEFT JOIN m USING (source_a, source_b)")
  )
}
