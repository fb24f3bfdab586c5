package graft
package catalog

import graft.operators.{Dedup, Multimodal}
import org.apache.spark.sql.functions._
import Shared._

/** The media family: decoded-media features, resizing, frame sampling and perceptual-hash
  * dedup. */
object MediaQueries {
  /** The perceptual-hash banding layout (64-bit grid-8 aHash, hamming
    * ≤ 2 → 3 bands), interpolated into the oracle like the simhash
    * arrays so both engines band identically. */
  private val phashLayout = Dedup.fingerprintBandLayout(64, 3)
  private val phashOffsetsSql = phashLayout.map(_._1).mkString("[", ",", "]")
  private val phashMasksSql =
    phashLayout.map { case (_, w) => (1L << w) - 1 }.mkString("[", ",", "]")

  val all: Seq[QueryDef] = Seq(
    // extension: multimodal feature extraction (stub codec; real plumbing).
    // Binary payloads → fixed-width float features via mapPartitions,
    // exploded to one row per (media, feature_idx) so every output column
    // is a sortable primitive for the correctness gate.
    QueryDef("media_features", ((s, dir) =>
      Multimodal.extractFeatures(Multimodal.syntheticMedia(docs(s, dir)))
        .select(col("media_id"), col("kind"), posexplode(col("features")))
        .select(col("media_id"), col("kind"),
          col("pos").cast("int").as("feature_idx"),
          r4(col("col").cast("double")).as("value"))
        .orderBy("media_id", "feature_idx")),
      s"""WITH m AS (SELECT doc_id AS media_id, ['image','audio','video'][CAST(doc_id % 3 AS INT) + 1] AS kind, text FROM documents WHERE text IS NOT NULL),
         |idx AS (SELECT unnest(generate_series(0, 7)) AS feature_idx),
         |b AS (SELECT media_id, (u.i - 1) % 8 AS fi, ord(substr(text, CAST(u.i AS INT), 1)) % 256 AS bv
         |  FROM m, unnest(generate_series(1, length(text))) AS u(i)),
         |a AS (SELECT media_id, fi, sum(bv) AS s, count(*) AS c FROM b GROUP BY 1, 2),
         |f AS (SELECT m.media_id, m.kind, idx.feature_idx,
         |    CAST(coalesce(a.s / (a.c * 255.0), 0.0) AS REAL) AS fv
         |  FROM m CROSS JOIN idx LEFT JOIN a ON a.media_id = m.media_id AND a.fi = idx.feature_idx)
         |SELECT media_id, kind, CAST(feature_idx AS INT) AS feature_idx,
         |  ${sqlR4("CAST(fv AS DOUBLE)")} AS value
         |FROM f ORDER BY media_id, feature_idx""".stripMargin),

    // extension: image thumbnail-resize plumbing (nearest-neighbor over
    // the stub byte grid), one sortable row per thumbnail pixel
    QueryDef("media_resize", ((s, dir) =>
      Multimodal.resizeGrid(Multimodal.syntheticMedia(docs(s, dir)), thumbW = 4, thumbH = 4)
        .orderBy("media_id", "y", "x")),
      """WITH m AS (SELECT doc_id AS media_id, length(text) AS len, text,
        |    CAST(n_chars % 64 + 16 AS BIGINT) AS w, CAST(n_chars % 48 + 16 AS BIGINT) AS h
        |  FROM documents WHERE doc_id % 3 = 0 AND length(text) > 0),
        |g AS (SELECT media_id, text, len, w, h, u.y, v.x
        |  FROM m, (SELECT unnest(generate_series(0, 3)) AS y) u,
        |       (SELECT unnest(generate_series(0, 3)) AS x) v),
        |s AS (SELECT media_id, y, x, text,
        |  (CAST(floor(y * h / 4) AS BIGINT) * w + CAST(floor(x * w / 4) AS BIGINT)) % len AS src
        |  FROM g)
        |SELECT media_id, CAST(y AS INT) AS y, CAST(x AS INT) AS x,
        |  CAST(ord(substr(text, CAST(src + 1 AS INT), 1)) % 256 AS INT) AS value
        |FROM s ORDER BY media_id, y, x""".stripMargin),

    // extension: REAL-codec roundtrip — encode each document's bytes
    // into a real container (P6 PPM for even ids, 16-bit PCM WAV for
    // odd), then decode with the pure-JVM codec and emit exact-integer
    // pixel/sample statistics. The oracle computes the same features
    // DIRECTLY from the text, so a broken encoder or decoder diverges.
    QueryDef("media_codec_features", ((s, dir) =>
      Multimodal.extractFeatures(
          Multimodal.codecMedia(docs(s, dir)), Multimodal.Codec.Real)
        .select(col("media_id"), col("kind"), posexplode(col("features")))
        .select(col("media_id"), col("kind"),
          col("pos").cast("int").as("feature_idx"),
          r4(col("col").cast("double")).as("value"))
        .orderBy("media_id", "feature_idx")),
      s"""WITH d0 AS (SELECT doc_id, text, n_chars, length(text) AS len FROM documents WHERE length(text) > 0),
         |fx AS (SELECT unnest(generate_series(0, 7)) AS feature_idx),
         |img AS (SELECT doc_id, text, len, CAST(n_chars % 16 + 4 AS BIGINT) AS w, CAST(n_chars % 12 + 4 AS BIGINT) AS h
         |  FROM d0 WHERE doc_id % 2 = 0),
         |ipx AS (SELECT doc_id, w, h, u.i AS i,
         |    ord(substr(text, CAST((u.i % len) + 1 AS INT), 1)) % 256 AS r,
         |    ord(substr(text, CAST(((u.i + 1) % len) + 1 AS INT), 1)) % 256 AS g,
         |    ord(substr(text, CAST(((u.i + 2) % len) + 1 AS INT), 1)) % 256 AS b
         |  FROM img, unnest(generate_series(0, w * h - 1)) AS u(i)),
         |iagg AS (SELECT doc_id, w, h, count(*) AS n,
         |    CAST(sum(r) AS BIGINT) AS sr, CAST(sum(g) AS BIGINT) AS sg, CAST(sum(b) AS BIGINT) AS sb,
         |    CAST(sum(CASE WHEN r + 2 * g + b >= 510 THEN 1 ELSE 0 END) AS BIGINT) AS bright,
         |    max(r + 2 * g + b) AS maxl, min(r + 2 * g + b) AS minl
         |  FROM ipx GROUP BY 1, 2, 3),
         |ifeat AS (SELECT doc_id AS media_id, 'image' AS kind, fx.feature_idx,
         |    CASE fx.feature_idx
         |      WHEN 0 THEN CAST(w AS DOUBLE) WHEN 1 THEN CAST(h AS DOUBLE)
         |      WHEN 2 THEN CAST(sr AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(255 AS DOUBLE))
         |      WHEN 3 THEN CAST(sg AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(255 AS DOUBLE))
         |      WHEN 4 THEN CAST(sb AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(255 AS DOUBLE))
         |      WHEN 5 THEN CAST(sr + 2 * sg + sb AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(1020 AS DOUBLE))
         |      WHEN 6 THEN CAST(bright AS DOUBLE) / CAST(n AS DOUBLE)
         |      ELSE CAST(maxl - minl AS DOUBLE) / CAST(1020 AS DOUBLE) END AS fv
         |  FROM iagg CROSS JOIN fx),
         |aud AS (SELECT doc_id, text, least(len, 2048) AS n FROM d0 WHERE doc_id % 2 = 1),
         |asmp AS (SELECT doc_id, n, u.i AS i,
         |    (ord(substr(text, CAST(u.i + 1 AS INT), 1)) % 256 - 128) * 256 AS s
         |  FROM aud, unnest(generate_series(0, n - 1)) AS u(i)),
         |azc AS (SELECT doc_id, n, i, abs(s) AS a,
         |    CASE WHEN lag(s) OVER (PARTITION BY doc_id ORDER BY i) IS NULL THEN 0
         |         WHEN (lag(s) OVER (PARTITION BY doc_id ORDER BY i) >= 0) <> (s >= 0) THEN 1 ELSE 0 END AS zc,
         |    CASE WHEN i < n // 3 THEN 0 WHEN i < 2 * (n // 3) THEN 1 ELSE 2 END AS seg
         |  FROM asmp),
         |aagg AS (SELECT doc_id, n, CAST(sum(a) AS BIGINT) AS sa, CAST(sum(zc) AS BIGINT) AS zc,
         |    CAST(max(a) AS BIGINT) AS ma,
         |    CAST(sum(CASE WHEN seg = 0 THEN a ELSE 0 END) AS BIGINT) AS s0,
         |    CAST(sum(CASE WHEN seg = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c0,
         |    CAST(sum(CASE WHEN seg = 1 THEN a ELSE 0 END) AS BIGINT) AS s1,
         |    CAST(sum(CASE WHEN seg = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
         |    CAST(sum(CASE WHEN seg = 2 THEN a ELSE 0 END) AS BIGINT) AS s2,
         |    CAST(sum(CASE WHEN seg = 2 THEN 1 ELSE 0 END) AS BIGINT) AS c2
         |  FROM azc GROUP BY 1, 2),
         |afeat AS (SELECT doc_id AS media_id, 'audio' AS kind, fx.feature_idx,
         |    CASE fx.feature_idx
         |      WHEN 0 THEN CAST(n AS DOUBLE) WHEN 1 THEN CAST(8000 AS DOUBLE)
         |      WHEN 2 THEN CAST(sa AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(32768 AS DOUBLE))
         |      WHEN 3 THEN CAST(zc AS DOUBLE) / CAST(n AS DOUBLE)
         |      WHEN 4 THEN CAST(ma AS DOUBLE) / CAST(32768 AS DOUBLE)
         |      WHEN 5 THEN CASE WHEN c0 > 0 THEN CAST(s0 AS DOUBLE) / (CAST(c0 AS DOUBLE) * CAST(32768 AS DOUBLE)) ELSE CAST(0 AS DOUBLE) END
         |      WHEN 6 THEN CASE WHEN c1 > 0 THEN CAST(s1 AS DOUBLE) / (CAST(c1 AS DOUBLE) * CAST(32768 AS DOUBLE)) ELSE CAST(0 AS DOUBLE) END
         |      ELSE CASE WHEN c2 > 0 THEN CAST(s2 AS DOUBLE) / (CAST(c2 AS DOUBLE) * CAST(32768 AS DOUBLE)) ELSE CAST(0 AS DOUBLE) END END AS fv
         |  FROM aagg CROSS JOIN fx),
         |allf AS (SELECT * FROM ifeat UNION ALL SELECT * FROM afeat)
         |SELECT media_id, kind, CAST(feature_idx AS INT) AS feature_idx,
         |  ${sqlR4("CAST(CAST(fv AS REAL) AS DOUBLE)")} AS value
         |FROM allf ORDER BY media_id, feature_idx""".stripMargin),

    // extension: video frame sampling plumbing (stride-2 over payload stripes)
    QueryDef("media_frame_sample", ((s, dir) =>
      Multimodal.sampleFrames(Multimodal.syntheticMedia(docs(s, dir)), stride = 2)
        .select(col("media_id"), col("frame_idx"),
          length(col("frame_bytes")).as("frame_len"))
        .orderBy("media_id", "frame_idx")),
      """WITH m AS (SELECT doc_id AS media_id, length(text) AS clen, CAST(n_chars % 30 + 1 AS BIGINT) AS nf
        |  FROM documents WHERE doc_id % 3 = 2 AND text IS NOT NULL),
        |f AS (SELECT media_id, clen, nf, greatest(CAST(floor(clen / nf) AS BIGINT), 1) AS flen FROM m),
        |x AS (SELECT media_id, u.i AS frame_idx, flen, clen FROM f, unnest(generate_series(0, nf - 1, 2)) AS u(i))
        |SELECT media_id, CAST(frame_idx AS INT) AS frame_idx,
        |  CAST(greatest(least(flen, clen - frame_idx * flen), 0) AS INT) AS frame_len
        |FROM x ORDER BY media_id, frame_idx""".stripMargin),

    // extension: PERCEPTUAL-hash image dedup — the pixel-level twin of
    // media_dedup's byte-level pass: aHash (grid-4, exact-integer block
    // means) over REAL PPM-decoded rasters, then the O(n) exact-hash
    // grouping. Byte-distinct re-encodes of the same raster collide
    // here; the summary row is never vacuous (group listings can be).
    // At real-raster scale the same hash feeds the banded-Hamming
    // near-dup pass (simhashPairs machinery on a 64-bit grid-8 hash)
    QueryDef("media_phash_dedup", ((s, dir) => {
      val hashed = Multimodal.perceptualHash(
        Multimodal.codecMedia(docs(s, dir)).where(col("kind") === "image"),
        grid = 4)
      val groups = hashed.groupBy(col("ahash")).agg(count(lit(1)).as("__n"))
      groups.agg(
        sum(col("__n")).cast("long").as("n_images"),
        count(lit(1)).as("n_distinct_hashes"),
        sum(when(col("__n") >= 2, 1L).otherwise(0L)).as("n_dup_groups"),
        (sum(col("__n")) - count(lit(1))).cast("long").as("n_dup_copies"),
        max(col("__n")).cast("long").as("max_group"))
    }),
      // the real-codec roundtrip's features re-derived DIRECTLY from the
      // text (the encode maps are pure integer arithmetic over the bytes,
      // so encode→container→decode must land exactly here); float-cast
      // then r4, same as the Spark side's Array[Float] surface
      // the aHash replayed from the text-derived pixel arithmetic: same
      // (i, i+1, i+2 mod len) channel layout as the codec fixtures, block
      // index by integer div, exact cross-product mean comparison
      """WITH d0 AS (SELECT doc_id, text, n_chars, length(text) AS len FROM documents WHERE length(text) > 0),
        |img AS (SELECT doc_id, text, len, CAST(n_chars % 16 + 4 AS BIGINT) AS w, CAST(n_chars % 12 + 4 AS BIGINT) AS h
        |  FROM d0 WHERE doc_id % 2 = 0),
        |px AS (SELECT doc_id, w, h, u.i AS i,
        |    (ord(substr(text, CAST((u.i % len) + 1 AS INT), 1)) % 256
        |     + 2 * (ord(substr(text, CAST(((u.i + 1) % len) + 1 AS INT), 1)) % 256)
        |     + ord(substr(text, CAST(((u.i + 2) % len) + 1 AS INT), 1)) % 256) AS lum
        |  FROM img, unnest(generate_series(0, w * h - 1)) AS u(i)),
        |bk AS (SELECT doc_id, ((i // w) * 4 // h) * 4 + ((i % w) * 4 // w) AS b, lum FROM px),
        |bs AS (SELECT doc_id, b, CAST(sum(lum) AS BIGINT) AS bsum, CAST(count(*) AS BIGINT) AS bn FROM bk GROUP BY 1, 2),
        |tt AS (SELECT doc_id, CAST(sum(lum) AS BIGINT) AS tsum, CAST(count(*) AS BIGINT) AS nt FROM bk GROUP BY 1),
        |hs AS (SELECT bs.doc_id,
        |    CAST(sum(CASE WHEN bsum * nt >= tsum * bn THEN CAST(1 AS BIGINT) << CAST(b AS INT) ELSE 0 END) AS BIGINT) AS ahash
        |  FROM bs JOIN tt ON bs.doc_id = tt.doc_id GROUP BY 1),
        |g AS (SELECT ahash, CAST(count(*) AS BIGINT) AS n FROM hs GROUP BY 1)
        |SELECT CAST(sum(n) AS BIGINT) AS n_images,
        |  CAST(count(*) AS BIGINT) AS n_distinct_hashes,
        |  CAST(sum(CASE WHEN n >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_groups,
        |  CAST(sum(n) - count(*) AS BIGINT) AS n_dup_copies,
        |  CAST(max(n) AS BIGINT) AS max_group
        |FROM g""".stripMargin),

    // extension: perceptual NEAR-dup image pairs — the full-width
    // (grid-8, 64-bit) aHash through the generic banded-Hamming
    // machinery (Dedup.fingerprintPairs — pigeonhole-complete 3 bands
    // for hamming ≤ 2, exact bit_count(xor) verify, finite maxBucket):
    // re-encoded or lightly-edited rasters pair up even when their
    // bytes differ. The oracle replays hash, banding (shared
    // offset/mask arrays), and verification
    QueryDef("media_phash_pairs", ((s, dir) => {
      val hashed = Multimodal.perceptualHash(
        Multimodal.codecMedia(docs(s, dir)).where(col("kind") === "image"),
        grid = 8)
      graft.operators.Dedup.fingerprintPairs(hashed, "media_id", "ahash",
          bits = 64, maxHamming = 2,
          maxBucket = graft.operators.Dedup.DefaultPipelineMaxBucket)
        .select(col("id_a"), col("id_b"), col("hamming").cast("int").as("hamming"))
        .orderBy("id_a", "id_b")
    }),
      // grid-8 hash replay (bit 63 via (1<<62)*-2 — a direct 1<<63 throws
      // in DuckDB), shared band offset/mask arrays, exact xor verify
      s"""WITH d0 AS (SELECT doc_id, text, n_chars, length(text) AS len FROM documents WHERE length(text) > 0),
         |img AS (SELECT doc_id, text, len, CAST(n_chars % 16 + 4 AS BIGINT) AS w, CAST(n_chars % 12 + 4 AS BIGINT) AS h
         |  FROM d0 WHERE doc_id % 2 = 0),
         |px AS (SELECT doc_id, w, h, u.i AS i,
         |    (ord(substr(text, CAST((u.i % len) + 1 AS INT), 1)) % 256
         |     + 2 * (ord(substr(text, CAST(((u.i + 1) % len) + 1 AS INT), 1)) % 256)
         |     + ord(substr(text, CAST(((u.i + 2) % len) + 1 AS INT), 1)) % 256) AS lum
         |  FROM img, unnest(generate_series(0, w * h - 1)) AS u(i)),
         |bk AS (SELECT doc_id, ((i // w) * 8 // h) * 8 + ((i % w) * 8 // w) AS b, lum FROM px),
         |bs AS (SELECT doc_id, b, CAST(sum(lum) AS BIGINT) AS bsum, CAST(count(*) AS BIGINT) AS bn FROM bk GROUP BY 1, 2),
         |tt AS (SELECT doc_id, CAST(sum(lum) AS BIGINT) AS tsum, CAST(count(*) AS BIGINT) AS nt FROM bk GROUP BY 1),
         |hs AS (SELECT bs.doc_id,
         |    CAST(sum(CASE WHEN bsum * nt >= tsum * bn THEN
         |      CASE WHEN b = 63 THEN (CAST(1 AS BIGINT) << 62) * -2 ELSE CAST(1 AS BIGINT) << CAST(b AS INT) END
         |      ELSE 0 END) AS BIGINT) AS ahash
         |  FROM bs JOIN tt ON bs.doc_id = tt.doc_id GROUP BY 1),
         |banded AS (SELECT doc_id, ahash, u.b AS band_idx,
         |  (ahash >> ($phashOffsetsSql)[u.b + 1]) & ($phashMasksSql)[u.b + 1] AS band_key
         |  FROM hs, (SELECT unnest(generate_series(0, ${phashLayout.size - 1})) AS b) u),
         |pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         |  CAST(bit_count(xor(a.ahash, b.ahash)) AS INTEGER) AS hamming
         |  FROM banded a JOIN banded b ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.doc_id < b.doc_id)
         |SELECT id_a, id_b, hamming FROM pairs WHERE hamming <= 2 ORDER BY id_a, id_b""".stripMargin),

    // extension: perceptual near-dup GROUP map — the image pipeline's
    // missing third stage (hash → pairs → GROUPS), completing parity
    // with the text side's dedup_groups: connected components over the
    // verified hamming-≤2 pair graph (pointer-jumped label propagation,
    // Dedup.duplicateGroups), rep = min media_id per component — the
    // keep/drop map an image-dedup pass applies. Nodes are only media
    // that appear in some pair (singletons need no map row). The
    // converged map is memoized per (session, dir) like the text-side
    // group maps — decode + hash + CC is a build a session pays once
    // per corpus version, never per consuming query.
    QueryDef("media_phash_groups", ((s, dir) =>
      mediaPhashGroups(s, dir).orderBy("media_id")),
      // same hash/band/verify replay, then min-label reachability over the
      // symmetric verified-pair graph (the sqlCcReach recursion) — rep =
      // min media_id per connected component
      s"""WITH RECURSIVE d0 AS (SELECT doc_id, text, n_chars, length(text) AS len FROM documents WHERE length(text) > 0),
         |img AS (SELECT doc_id, text, len, CAST(n_chars % 16 + 4 AS BIGINT) AS w, CAST(n_chars % 12 + 4 AS BIGINT) AS h
         |  FROM d0 WHERE doc_id % 2 = 0),
         |px AS (SELECT doc_id, w, h, u.i AS i,
         |    (ord(substr(text, CAST((u.i % len) + 1 AS INT), 1)) % 256
         |     + 2 * (ord(substr(text, CAST(((u.i + 1) % len) + 1 AS INT), 1)) % 256)
         |     + ord(substr(text, CAST(((u.i + 2) % len) + 1 AS INT), 1)) % 256) AS lum
         |  FROM img, unnest(generate_series(0, w * h - 1)) AS u(i)),
         |bk AS (SELECT doc_id, ((i // w) * 8 // h) * 8 + ((i % w) * 8 // w) AS b, lum FROM px),
         |bs AS (SELECT doc_id, b, CAST(sum(lum) AS BIGINT) AS bsum, CAST(count(*) AS BIGINT) AS bn FROM bk GROUP BY 1, 2),
         |tt AS (SELECT doc_id, CAST(sum(lum) AS BIGINT) AS tsum, CAST(count(*) AS BIGINT) AS nt FROM bk GROUP BY 1),
         |hs AS (SELECT bs.doc_id,
         |    CAST(sum(CASE WHEN bsum * nt >= tsum * bn THEN
         |      CASE WHEN b = 63 THEN (CAST(1 AS BIGINT) << 62) * -2 ELSE CAST(1 AS BIGINT) << CAST(b AS INT) END
         |      ELSE 0 END) AS BIGINT) AS ahash
         |  FROM bs JOIN tt ON bs.doc_id = tt.doc_id GROUP BY 1),
         |banded AS (SELECT doc_id, ahash, u.b AS band_idx,
         |  (ahash >> ($phashOffsetsSql)[u.b + 1]) & ($phashMasksSql)[u.b + 1] AS band_key
         |  FROM hs, (SELECT unnest(generate_series(0, ${phashLayout.size - 1})) AS b) u),
         |vp AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM banded a JOIN banded b ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.ahash, b.ahash)) <= 2),
         |e AS (SELECT id_a AS a, id_b AS b FROM vp UNION SELECT id_b, id_a FROM vp),
         |$sqlCcReach
         |SELECT node AS media_id, min(lab) AS rep_id FROM reach GROUP BY node ORDER BY media_id""".stripMargin),

    // extension: exact binary-content dedup stats per media kind —
    // md5 over the payload BYTES (identical hex semantics in both
    // engines), two-stage Expand-free distinct; the keeper rule and
    // copy accounting work at any duplication rate (this corpus: 0)
    QueryDef("media_dedup", ((s, dir) => {
      val m = Multimodal.syntheticMedia(docs(s, dir))
        .select(col("kind"), md5(col("content")).as("digest"))
        .groupBy(col("kind"), col("digest")).agg(count(lit(1)).as("__n"))
      m.groupBy(col("kind"))
        .agg(sum(col("__n")).cast("long").as("n_media"),
          count(lit(1)).as("n_distinct"),
          (sum(col("__n")) - count(lit(1))).cast("long").as("dup_copies"))
        .orderBy("kind")
    }),
      // the digest key replays the LOSSY codepoint-mod-256 payload
      // projection (codepointBytes) — hashing the raw text would keep
      // two texts distinct that project to identical payload bytes
      """WITH m AS (SELECT ['image','audio','video'][CAST(doc_id % 3 AS INT) + 1] AS kind,
        |    array_to_string(list_transform(generate_series(1, length(text)),
        |      i -> CAST(ord(substr(text, CAST(i AS INT), 1)) % 256 AS VARCHAR)), ',') AS digest
        |  FROM documents WHERE text IS NOT NULL),
        |g AS (SELECT kind, digest, CAST(count(*) AS BIGINT) AS n FROM m GROUP BY kind, digest)
        |SELECT kind, CAST(sum(n) AS BIGINT) AS n_media,
        |  CAST(count(*) AS BIGINT) AS n_distinct,
        |  CAST(sum(n) - count(*) AS BIGINT) AS dup_copies
        |FROM g GROUP BY kind ORDER BY kind""".stripMargin)
  )
}
