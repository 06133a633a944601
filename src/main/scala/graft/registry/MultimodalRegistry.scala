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

/** Multimodal columns: perceptual image/video dedup + decode/meta/frames (SURVEY §2.D).
  *
  * Each `Query` holds a Spark build next to its DuckDB oracle;
  * `SparkEntry.queries` indexes the eight registries by name. Shared
  * oracle fragments stay in SparkEntry (imported above).
  */
private[graft] object MultimodalRegistry {

  val queries: Seq[Query] = Seq(
    Query("image_dedup", (s, dir) =>
      // perceptual dHash near-dup: stub luma grid -> 63-bit dHash ->
      // pigeonhole banding -> Hamming verify -> pointer-jumping CC ->
      // min-id keeper (real-codec face spec-tested on generated PNGs)
      graft.ops.Dedup.imageDedup(Tables.table(s, dir, "documents")),
      // dHash image-dedup replay: the stub luma grid is md5-hex byte pairs
      // (position (2i mod 31)+1 — pure string/integer logic, no codec), the
      // 63-bit dHash a sum of shifted gradient-sign bits, banding/Hamming/
      // CC replayed exactly like corpus_dedup's recursive min-label CTE
      "WITH RECURSIVE hx AS (SELECT doc_id, md5(text) AS h FROM documents), " +
        "lb AS (SELECT doc_id, h, b, b // 8 AS r, b % 8 AS c " +
        "FROM hx CROSS JOIN range(63) t(b)), " +
        "bits AS (SELECT doc_id, " +
        "CASE WHEN CAST('0x'||substr(h, ((r*9+c+1)*2) % 31 + 1, 2) AS BIGINT) > " +
        "CAST('0x'||substr(h, ((r*9+c)*2) % 31 + 1, 2) AS BIGINT) " +
        "THEN CAST(1 AS BIGINT) << b ELSE CAST(0 AS BIGINT) END AS bit FROM lb), " +
        "d AS (SELECT doc_id, CAST(sum(bit) AS BIGINT) AS dhash FROM bits GROUP BY 1), " +
        "ch AS (SELECT doc_id, dhash, t.b AS chunk, " +
        "(dhash >> (t.b * 16)) & (CASE WHEN t.b = 3 THEN 32767 ELSE 65535 END) AS cval " +
        "FROM d CROSS JOIN range(4) t(b)), " +
        "pr AS (SELECT DISTINCT x.doc_id AS id1, y.doc_id AS id2 " +
        "FROM ch x JOIN ch y ON x.chunk = y.chunk AND x.cval = y.cval AND x.doc_id < y.doc_id " +
        "WHERE bit_count(xor(x.dhash, y.dhash)) <= 3), " +
        "edges AS (SELECT id1 AS a, id2 AS b FROM pr UNION SELECT id2, id1 FROM pr), " +
        "nodes AS (SELECT DISTINCT a AS doc_id FROM edges), " +
        "comp AS (SELECT doc_id, doc_id AS lbl FROM nodes " +
        "UNION SELECT e.a AS doc_id, c.lbl FROM edges e JOIN comp c ON e.b = c.doc_id), " +
        "labels AS (SELECT doc_id, min(lbl) AS cluster_id FROM comp GROUP BY 1) " +
        "SELECT d.doc_id AS doc_id, d.dhash AS dhash, " +
        "COALESCE(l.cluster_id, d.doc_id) AS cluster_id, " +
        "(d.doc_id = COALESCE(l.cluster_id, d.doc_id)) AS keep " +
        "FROM d LEFT JOIN labels l ON l.doc_id = d.doc_id"),
    Query("video_dedup", (s, dir) =>
      // per-frame stub dHash -> temporally-ALIGNED pigeonhole banding
      // (frame_idx in the join key) -> majority-of-aligned-frames verify
      // -> CC -> min-id keeper (real-codec face = Multimodal.frameDhash
      // over extracted frame images, spec-tested on PNG sequences)
      graft.ops.Dedup.videoDedup(Tables.table(s, dir, "documents")),
      // videoDedup replay: per-frame md5(text||'#'||f) stub grids, aligned
      // (f, chunk, cval) candidate join, strict-majority verify, same
      // recursive-CTE CC as image_dedup
      "WITH RECURSIVE d0 AS (SELECT doc_id, text, " +
        "LEAST(1 + len(text) // 256, 4) AS nf FROM documents), " +
        "fr AS (SELECT doc_id, nf, t.f AS f, " +
        "md5(text || '#' || CAST(t.f AS VARCHAR)) AS h " +
        "FROM d0 CROSS JOIN range(4) t(f) WHERE t.f < nf), " +
        "lb AS (SELECT doc_id, nf, f, h, b, b // 8 AS r, b % 8 AS c " +
        "FROM fr CROSS JOIN range(63) t(b)), " +
        "bits AS (SELECT doc_id, nf, f, " +
        "CASE WHEN CAST('0x'||substr(h, ((r*9+c+1)*2) % 31 + 1, 2) AS BIGINT) > " +
        "CAST('0x'||substr(h, ((r*9+c)*2) % 31 + 1, 2) AS BIGINT) " +
        "THEN CAST(1 AS BIGINT) << b ELSE CAST(0 AS BIGINT) END AS bit FROM lb), " +
        "fd AS (SELECT doc_id, nf, f, CAST(sum(bit) AS BIGINT) AS dhash " +
        "FROM bits GROUP BY 1, 2, 3), " +
        "ch AS (SELECT doc_id, nf, f, dhash, t.b AS chunk, " +
        "(dhash >> (t.b * 16)) & (CASE WHEN t.b = 3 THEN 32767 ELSE 65535 END) AS cval " +
        "FROM fd CROSS JOIN range(4) t(b)), " +
        "fm AS (SELECT DISTINCT x.doc_id AS id1, y.doc_id AS id2, x.f AS f, " +
        "LEAST(x.nf, y.nf) AS al " +
        "FROM ch x JOIN ch y ON x.f = y.f AND x.chunk = y.chunk " +
        "AND x.cval = y.cval AND x.doc_id < y.doc_id " +
        "WHERE bit_count(xor(x.dhash, y.dhash)) <= 3), " +
        "pr AS (SELECT id1, id2 FROM (SELECT id1, id2, count(*) AS nm, " +
        "min(al) AS al FROM fm GROUP BY 1, 2) WHERE 2 * nm > al), " +
        "edges AS (SELECT id1 AS a, id2 AS b FROM pr UNION SELECT id2, id1 FROM pr), " +
        "nodes AS (SELECT DISTINCT a AS doc_id FROM edges), " +
        "comp AS (SELECT doc_id, doc_id AS lbl FROM nodes " +
        "UNION SELECT e.a AS doc_id, c.lbl FROM edges e JOIN comp c ON e.b = c.doc_id), " +
        "labels AS (SELECT doc_id, min(lbl) AS cluster_id FROM comp GROUP BY 1) " +
        "SELECT d0.doc_id AS doc_id, CAST(d0.nf AS BIGINT) AS n_frames, " +
        "COALESCE(l.cluster_id, d0.doc_id) AS cluster_id, " +
        "(d0.doc_id = COALESCE(l.cluster_id, d0.doc_id)) AS keep " +
        "FROM d0 LEFT JOIN labels l ON l.doc_id = d0.doc_id"),
    Query("multimodal_meta", (s, dir) =>
      graft.ops.Multimodal.meta(Tables.table(s, dir, "documents")),
      "SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes, " +
        "md5(text) AS content_md5, " +
        "substr(hex(encode(text)), 1, 16) AS payload_hex_prefix, " +
        "'text' AS modality FROM documents"),
    Query("multimodal_decode", (s, dir) =>
      graft.ops.Multimodal.decodeStub(Tables.table(s, dir, "documents")),
      "WITH h AS (SELECT doc_id, CAST('0x' || substr(md5(text), 1, 8) AS BIGINT) AS h32, " +
        "md5(text) AS hx FROM documents) " +
        "SELECT doc_id, 16 + h32 % 64 AS width, 16 + (h32 >> 8) % 64 AS height, " +
        "CAST(3 AS BIGINT) AS channels, " +
        (0 until 8).map(i =>
          s"CAST('0x' || substr(hx, ${2 * i + 1}, 2) AS BIGINT) / 255.0 AS f$i")
          .mkString(", ") +
        " FROM h"),
    Query("multimodal_framesample", (s, dir) =>
      graft.ops.Multimodal.frameSample(Tables.table(s, dir, "documents")),
      "WITH m AS (SELECT doc_id, CAST(length(text) AS BIGINT) AS duration_ms FROM documents), " +
        "f AS (SELECT doc_id, duration_ms, least(duration_ms // 100 + 1, 8) AS n FROM m), " +
        "x AS (SELECT doc_id, duration_ms, unnest(generate_series(0, n - 1)) AS frame_idx FROM f) " +
        "SELECT doc_id, duration_ms, CAST(frame_idx AS BIGINT) AS frame_idx, " +
        "CAST(frame_idx * 100 AS BIGINT) AS frame_ts_ms FROM x")
  )
}
