package graft

import graft.multimodal.Binary
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal binary-column operators. */
private[graft] object MultimodalEntries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(


    // ── Multimodal ──────────────────────────────────────────────────────
    "mm_binary_meta" -> ((s, dir) =>
      Binary
        .asPayload(Tables.documents(s, dir), col("doc_id"), col("text"))
        .select(col("id"), col("n_bytes"), col("sha256"), col("format"))
        .orderBy("id")),

    "mm_frame_sample" -> ((s, dir) =>
      Binary
        .frameSampleRows(Binary.asPayload(Tables.documents(s, dir), col("doc_id"), col("text")), 64, 4)
        .orderBy("id", "frame_idx")),

    // ViT-style patch grid over the payload raster (32-byte rows, 16x4
    // tiles): strided slice + fold per tile, digests hash-checked.
    "mm_tile_grid" -> ((s, dir) =>
      Binary
        .tileGrid(Binary.asPayload(Tables.documents(s, dir), col("doc_id"), col("text")), rowBytes = 32, tileW = 16, tileH = 4)
        .orderBy("id", "tile_row", "tile_col")),

    // ViT-style pooled image embedding: per-patch stub features (hex
    // bytes of each tile digest — deterministic, NOT a vision model)
    // mean-pooled per image through EXACT integer sums with one double
    // division, so the embedding is bit-identical under any
    // partitioning. The real contract a decoder plugs into.
    "mm_embed_pool" -> ((s, dir) =>
      Binary
        .tileFeaturePool(
          Binary.tileGrid(
            Binary.asPayload(Tables.documents(s, dir), col("doc_id"), col("text")),
            rowBytes = 32,
            tileW = 16,
            tileH = 4
          ),
          dims = 4
        )
        .orderBy("id")),

    // Exact dedup over OPAQUE binary payloads: hash-aggregate on the
    // content digest — the digest shuffles, the payload bytes never do
    // (the multimodal twin of dedup_exact).
    "mm_payload_dedup" -> ((s, dir) =>
      Binary
        .asPayload(Tables.documents(s, dir), col("doc_id"), col("text"))
        .groupBy(col("sha256"))
        .agg(count(lit(1)).as("n_copies"), min("id").as("keep_id"))
        .orderBy("keep_id")),

    // Modality-mix stats for dataset cards / mixture planning: one hash
    // aggregate over typed metadata — the payload bytes never shuffle.
    "mm_modality_mix" -> ((s, dir) =>
      Binary
        .asPayload(Tables.documents(s, dir), col("doc_id"), col("text"))
        .groupBy(col("format"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_bytes").cast("long")).as("total_bytes"),
          round(sum(col("n_bytes").cast("long")).cast("double") / count(lit(1)), 6).as("avg_bytes")
        )
        .orderBy("format")),

    // Perceptual-class near-dup over opaque payloads: tile-digest
    // collision blocking + shared-fraction verify (the pHash relational
    // shape; stop-tile pruning caps hot-digest pair volume).
    "mm_near_dup_tiles" -> ((s, dir) =>
      Binary
        .nearDupByTiles(
          Binary.asPayload(Tables.documents(s, dir), col("doc_id"), col("text")),
          rowBytes = 32, tileW = 16, tileH = 4, minOverlap = 0.5, maxDf = 100)
        .orderBy("a", "b"))
  )

  val oracleSql: Map[String, String] = SharedOracles.withSharers(Map(

    "mm_binary_meta" ->
      """SELECT doc_id AS id, CAST(octet_length(CAST(text AS BLOB)) AS INTEGER) AS n_bytes,
        |       sha256(text) AS sha256,
        |       CASE WHEN text LIKE 'th%' THEN 'th-container' ELSE 'raw' END AS format
        |FROM documents ORDER BY id""".stripMargin,

    // The corpus is pure ASCII (checked per scale factor), so DuckDB's
    // character substring equals Spark's byte slicing of the payload.
    "mm_frame_sample" ->
      """SELECT doc_id AS id, CAST(octet_length(CAST(text AS BLOB)) AS INTEGER) AS n_bytes,
        |       nf AS n_frames, CAST(i AS INTEGER) AS frame_idx,
        |       md5(substring(text, CAST(i AS INTEGER) * 64 + 1, 64)) AS frame_md5
        |FROM (SELECT doc_id, text,
        |             CAST(ceil(octet_length(CAST(text AS BLOB)) / 64.0) AS INTEGER) AS nf
        |      FROM documents) d
        |CROSS JOIN unnest(generate_series(0, nf - 1, 4)) AS u(i)
        |ORDER BY id, frame_idx""".stripMargin,

    "mm_tile_grid" ->
      """WITH d AS (SELECT doc_id, text, CAST(octet_length(CAST(text AS BLOB)) AS INTEGER) AS n_bytes
        |           FROM documents),
        |dims AS (SELECT *, CAST(ceil(ceil(n_bytes / 32.0) / 4.0) AS INTEGER) AS tile_rows FROM d),
        |tiles AS (
        |  SELECT doc_id, text, n_bytes,
        |         CAST(t.i // 2 AS INTEGER) AS tile_row, CAST(t.i % 2 AS INTEGER) AS tile_col
        |  FROM dims CROSS JOIN unnest(generate_series(0, tile_rows * 2 - 1)) AS t(i)),
        |parts AS (
        |  SELECT doc_id, n_bytes, tile_row, tile_col, k.i AS k,
        |         substring(text, (tile_row * 4 + k.i) * 32 + tile_col * 16 + 1, 16) AS part
        |  FROM tiles CROSS JOIN unnest(generate_series(0, 3)) AS k(i))
        |SELECT doc_id AS id, n_bytes, tile_row, tile_col,
        |       md5(string_agg(part, '' ORDER BY k)) AS tile_md5
        |FROM parts GROUP BY 1, 2, 3, 4
        |ORDER BY id, tile_row, tile_col""".stripMargin,

    "mm_payload_dedup" ->
      """SELECT sha256(text) AS sha256, count(*) AS n_copies, min(doc_id) AS keep_id
        |FROM documents GROUP BY 1 ORDER BY keep_id""".stripMargin,

    "mm_embed_pool" ->
      """WITH d AS (SELECT doc_id, text, CAST(octet_length(CAST(text AS BLOB)) AS INTEGER) AS n_bytes
        |           FROM documents),
        |dims AS (SELECT *, CAST(ceil(ceil(n_bytes / 32.0) / 4.0) AS INTEGER) AS tile_rows FROM d),
        |tiles AS (
        |  SELECT doc_id, text,
        |         CAST(t.i // 2 AS INTEGER) AS tile_row, CAST(t.i % 2 AS INTEGER) AS tile_col
        |  FROM dims CROSS JOIN unnest(generate_series(0, tile_rows * 2 - 1)) AS t(i)),
        |parts AS (
        |  SELECT doc_id, tile_row, tile_col, k.i AS k,
        |         substring(text, (tile_row * 4 + k.i) * 32 + tile_col * 16 + 1, 16) AS part
        |  FROM tiles CROSS JOIN unnest(generate_series(0, 3)) AS k(i)),
        |tg AS (SELECT doc_id AS id, tile_row, tile_col,
        |              md5(string_agg(part, '' ORDER BY k)) AS tile_md5
        |       FROM parts GROUP BY 1, 2, 3)
        |SELECT id, count(*) AS n_tiles,
        |       CAST(sum(CAST('0x' || substring(tile_md5, 1, 2) AS INT)) AS DOUBLE) / (255.0 * count(*)) AS e0,
        |       CAST(sum(CAST('0x' || substring(tile_md5, 3, 2) AS INT)) AS DOUBLE) / (255.0 * count(*)) AS e1,
        |       CAST(sum(CAST('0x' || substring(tile_md5, 5, 2) AS INT)) AS DOUBLE) / (255.0 * count(*)) AS e2,
        |       CAST(sum(CAST('0x' || substring(tile_md5, 7, 2) AS INT)) AS DOUBLE) / (255.0 * count(*)) AS e3
        |FROM tg GROUP BY id ORDER BY id""".stripMargin,

    "mm_modality_mix" ->
      """SELECT CASE WHEN text LIKE 'th%' THEN 'th-container' ELSE 'raw' END AS format,
        |       count(*) AS n_docs,
        |       CAST(sum(octet_length(CAST(text AS BLOB))) AS BIGINT) AS total_bytes,
        |       round(CAST(sum(octet_length(CAST(text AS BLOB))) AS DOUBLE) / count(*), 6) AS avg_bytes
        |FROM documents GROUP BY 1 ORDER BY format""".stripMargin,

    "mm_near_dup_tiles" ->
      """WITH d AS (SELECT doc_id, text, CAST(octet_length(CAST(text AS BLOB)) AS INTEGER) AS n_bytes
        |           FROM documents),
        |dims AS (SELECT *, CAST(ceil(ceil(n_bytes / 32.0) / 4.0) AS INTEGER) AS tile_rows FROM d),
        |tiles0 AS (
        |  SELECT doc_id, text,
        |         CAST(t.i // 2 AS INTEGER) AS tile_row, CAST(t.i % 2 AS INTEGER) AS tile_col
        |  FROM dims CROSS JOIN unnest(generate_series(0, tile_rows * 2 - 1)) AS t(i)),
        |parts AS (
        |  SELECT doc_id, tile_row, tile_col, k.i AS k,
        |         substring(text, (tile_row * 4 + k.i) * 32 + tile_col * 16 + 1, 16) AS part
        |  FROM tiles0 CROSS JOIN unnest(generate_series(0, 3)) AS k(i)),
        |tg AS (SELECT doc_id AS id, md5(string_agg(part, '' ORDER BY k)) AS tile_md5
        |       FROM parts GROUP BY doc_id, tile_row, tile_col),
        |tiles AS (SELECT DISTINCT id, tile_md5 FROM tg),
        |freq AS (SELECT tile_md5, count(*) AS df FROM tiles GROUP BY 1),
        |kept AS (SELECT t.id, t.tile_md5 FROM tiles t JOIN freq USING (tile_md5) WHERE df <= 100),
        |sizes AS (SELECT id, count(*) AS n_tiles FROM kept GROUP BY 1),
        |pairs AS (SELECT a.id AS a, b.id AS b, count(*) AS shared
        |          FROM kept a JOIN kept b ON a.tile_md5 = b.tile_md5 AND a.id < b.id
        |          GROUP BY 1, 2)
        |SELECT p.a, p.b, p.shared, sa.n_tiles AS n_tiles_a, sb.n_tiles AS n_tiles_b
        |FROM pairs p JOIN sizes sa ON p.a = sa.id JOIN sizes sb ON p.b = sb.id
        |WHERE p.shared >= ceil(0.5 * least(sa.n_tiles, sb.n_tiles))
        |ORDER BY p.a, p.b""".stripMargin
  ))
}
