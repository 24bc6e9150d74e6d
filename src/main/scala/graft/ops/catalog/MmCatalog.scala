package graft.ops
package catalog

import graft.{Q, Tables}
import graft.mm.Multimodal
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftext.GraftPins

/** Multimodal rows: media metadata, decoded features, chunks and
  * perceptual-hash near-dups. */
object MmCatalog {

  /** Multimodal metadata: binary payload size per modality — the
    * column-plumbing part is oracle-checkable via octet_length. */
  val mmMetadata: Q = Q(
    "x_mm_metadata",
    (s, d) => Multimodal.mediaTable(Tables.documents(s, d))
      .groupBy(col("media_type"))
      .agg(count(lit(1)).as("n"),
        sum(length(col("payload"))).as("total_bytes")),
    Some("""
      SELECT CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
             COUNT(*) AS n,
             CAST(SUM(octet_length(CAST(text AS BLOB))) AS BIGINT) AS total_bytes
      FROM documents GROUP BY 1
    """.trim)
  )

  /** Stubbed decode + feature extraction through the real mapPartitions
    * Dataset path. The fake decode is deterministic arithmetic over the
    * payload size, so width/height/frames are oracle-checked; the
    * payload checksum (a JVM byte fold) stays spec-pinned and is
    * dropped from the query projection. */
  val mmFeatures: Q = Q(
    "x_mm_decode_features",
    (s, d) => Multimodal.extractFeatures(
      Multimodal.mediaTable(Tables.documents(s, d))).toDF()
      .select(col("media_id"), col("media_type"), col("n_bytes"),
        col("width"), col("height"), col("n_frames")),
    Some("""
      WITH m AS (SELECT doc_id AS media_id,
                        CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
                        octet_length(CAST(text AS BLOB)) AS n
                 FROM documents)
      SELECT media_id, media_type, CAST(n AS BIGINT) AS n_bytes,
             CAST(CASE media_type WHEN 'image' THEN n % 1024 WHEN 'audio' THEN 0 ELSE n % 1920 END AS INT) AS width,
             CAST(CASE media_type WHEN 'image' THEN (n // 7) % 1024 WHEN 'audio' THEN 0 ELSE n % 1080 END AS INT) AS height,
             CAST(CASE media_type WHEN 'image' THEN 1 WHEN 'audio' THEN n % 4096 ELSE n % 300 END AS INT) AS n_frames
      FROM m
    """.trim)
  )

  /** Binary frame-sampling (every 4th 64-byte chunk of the payload via
    * pure column ops — the video-pipeline slicing idiom): chunk count
    * and sampled-byte totals are oracle-checked with DuckDB blob
    * arithmetic. Note the oracle uses floor() explicitly — DuckDB's
    * double→int CAST rounds where Spark's truncates. */
  val mmChunks: Q = Q(
    "x_mm_chunks",
    (s, d) => Multimodal.sampleChunks(
      Multimodal.mediaTable(Tables.documents(s, d)), chunk = 64, stride = 4)
      .select(
        col("media_id"), col("media_type"),
        size(col("chunks")).as("n_chunks"),
        aggregate(transform(col("chunks"), c => length(c)),
          lit(0), (a, b) => a + b).as("chunk_bytes")),
    Some("""
      WITH m AS (SELECT doc_id AS media_id,
                        CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
                        CAST(text AS BLOB) AS payload,
                        octet_length(CAST(text AS BLOB)) AS n
                 FROM documents),
      c AS (SELECT media_id, media_type, n,
                   greatest(CAST(floor(n / 256.0) AS INT) - 1, 0) AS hi
            FROM m)
      SELECT media_id, media_type,
             CAST(hi + 1 AS INT) AS n_chunks,
             CAST(list_sum(list_transform(generate_series(0, hi),
               i -> least(greatest(n - i*256, 0), 64))) AS INT) AS chunk_bytes
      FROM c
    """.trim)
  )

  /** Perceptual-hash image near-dup pairs: 60-bit gradient dHash over
    * the 6×11 pooled luma grid, banded-Hamming candidate blocking
    * (4 × 15-bit bands, bucket-capped), exact popcount verify — the
    * image twin of x_dedup_simhash's text blocking. The fixture is the
    * image-dedup eval harness: every doc as a stub image plus a
    * brightness-shifted (+16, clipped at 255) variant of every 5th —
    * exactly what a re-encode/gamma-shift near-dup does to pooled luma,
    * so the expected pairs exist by construction and saturation
    * clipping exercises nonzero distances. Real ImageIO decode →
    * [[graft.mm.Multimodal.poolLuma66]] is the same downstream pipeline
    * and is spec-pinned (scale/brightness invariance on real PNGs); the
    * oracle replays the md5-chunk stub luma, the bit layout, the
    * banding, the bucket cap and the distance filter bit-for-bit. */
  val mmPhashDups: Q = Q(
    "x_mm_phash_dups",
    (s, d) => {
      val grid = Multimodal.lumaGrid(
        Multimodal.imageTable(Tables.documents(s, d))).toDF()
      val variants = grid.filter(col("media_id") % 5 === 0)
        .select((col("media_id") + 10000000L).as("media_id"),
          transform(col("luma"), v => least(v + 16, lit(255))).as("luma"))
      Multimodal.phashNearDups(grid.unionByName(variants), threshold = 6)
    },
    Some(s"""
      WITH ${OracleSql.phashPairsSql(10000000L, 16, 5)}
    """.trim)
  )

  /** Video content near-dup pairs through the SAME 66-cell machine as
    * images and audio: [[graft.mm.Multimodal.videoTable]] rows take
    * the video dispatch in lumaGrid — REAL first-keyframe decode
    * (AVI/MJPEG RIFF walk or bare-MJPEG ImageIO read, spec-pinned on
    * real fixtures against the still-image path) with the md5-chunk
    * stub for unrecognizable payloads (these text fixtures) — then
    * dhash60 → banded Hamming → exact popcount verify, identical to
    * x_mm_phash_dups' pipeline. Fixture: every 7th video gets a
    * +12-luma re-encode variant (gamma-shift near-dup). The oracle
    * replays the stub luma, bit layout, banding, cap and distance
    * filter bit-for-bit. */
  val mmVideoPhash: Q = Q(
    "x_mm_video_phash",
    (s, d) => {
      val grid = Multimodal.lumaGrid(
        Multimodal.videoTable(Tables.documents(s, d))).toDF()
      val variants = grid.filter(col("media_id") % 7 === 0)
        .select((col("media_id") + 20000000L).as("media_id"),
          transform(col("luma"), v => least(v + 12, lit(255))).as("luma"))
      Multimodal.phashNearDups(grid.unionByName(variants), threshold = 6)
    },
    Some(s"""
      WITH ${OracleSql.phashPairsSql(20000000L, 12, 7)}
    """.trim)
  )

  /** Probe-against-persisted-index media near-dup: the corpus (docs
    * with id % 4 ≠ 0) is decoded+hashed ONCE into a
    * [[graft.mm.Multimodal.MediaPhashIndex]] (bucket-capped band
    * groups + 8-byte hashes); the ingest batch (+16-luma re-encodes of
    * corpus members, plus brand-new media) pays decode over itself
    * only and probes with one (band, bkey) equi-join + popcount
    * verify — the media twin of x_dedup_index_merged's text path.
    * MERGE/append/compact fragment semantics are spec-pinned
    * (merged == rebuilt); this row pins the probe arithmetic: the
    * oracle replays stub luma, banding, the CORPUS-side bucket cap,
    * the candidate join and the distance filter bit-for-bit. */
  /** Multi-keyframe video near-dup through the any-frame machine
    * ([[graft.mm.Multimodal.videoFrameGrid]]: up to 4 evenly-sampled
    * keyframes per video — real AVI chunk sampling on real
    * containers, the deterministic 4-segment stub on these text
    * fixtures — then per-frame dHash → banded Hamming → exact verify,
    * media match = ANY frame pair within threshold,
    * dist = min matching frame distance). Fixture: every 7th video
    * gets a re-edit variant whose FIRST frame is luma-INVERTED
    * (gradient complement — far beyond threshold) and whose remaining
    * frames are untouched: the pair still surfaces at dist 0 through
    * frames 1–3, which is exactly the scene-change/prepended-intro
    * robustness the single-keyframe x_mm_video_phash lacks. The
    * oracle replays the segment stub, per-frame banding, the
    * frame-row bucket cap, the cross-media candidate join and the
    * min-distance collapse bit-for-bit. */
  val mmVideoPhashMulti: Q = Q(
    "x_mm_video_phash_multi",
    (s, d) => {
      // a third of the corpus: the row pins the multi-frame arithmetic
      // end-to-end; at 4 sampled frames it pays ~4x the single-frame
      // row's decode per media, so the fixture subsets like ndIndexFor
      val frames = Multimodal.videoFrameGrid(
        Multimodal.videoTable(
          Tables.documents(s, d).filter(pmod(col("doc_id"), lit(3)) === 0)),
        maxFrames = 4).toDF()
      val variants = frames.filter(col("media_id") % 7 === 0)
        .select((col("media_id") + 20000000L).as("media_id"), col("frame_no"),
          when(col("frame_no") === 0,
            transform(col("luma"), v => lit(255) - v))
            .otherwise(col("luma")).as("luma"))
      Multimodal.videoPhashNearDupsAnyFrame(
        frames.unionByName(variants), threshold = 6)
    },
    Some("""
      WITH d AS (SELECT doc_id, text, length(text) AS n FROM documents
                 WHERE doc_id % 3 = 0),
      seg AS (SELECT doc_id AS media_id, f, text, n,
                     (f * n) // 4 AS st, ((f + 1) * n) // 4 - (f * n) // 4 AS nf
              FROM d, generate_series(0, 3) t(f)),
      lum AS (SELECT media_id, CAST(f AS INT) AS f,
                     list_transform(generate_series(0, 65), j ->
                       ('0x' || substr(md5(substr(text, CAST(st + (j*nf)//66 AS INT) + 1,
                          CAST(((j+1)*nf)//66 - (j*nf)//66 AS INT))), 1, 2))::BIGINT) AS lu
              FROM seg),
      allm AS (SELECT media_id, f, lu FROM lum
               UNION ALL
               SELECT media_id + 20000000, f,
                      CASE WHEN f = 0 THEN list_transform(lu, v -> 255 - v) ELSE lu END
               FROM lum WHERE media_id % 7 = 0),
      h AS (SELECT media_id, f,
                   CAST(list_sum(list_transform(generate_series(0, 59), b ->
                     CASE WHEN lu[(b//10)*11 + (b%10) + 2] > lu[(b//10)*11 + (b%10) + 1]
                          THEN (1::BIGINT << CAST(b AS INT)) ELSE 0 END)) AS BIGINT) AS dhash
            FROM allm),
      bands AS (SELECT media_id, f, dhash, b AS band, (dhash >> CAST(b*15 AS INT)) & 32767 AS bkey
                FROM h, generate_series(0, 3) t(b)),
      ok AS (SELECT band, bkey FROM bands GROUP BY 1, 2 HAVING COUNT(*) <= 1024),
      cand AS (SELECT DISTINCT a.media_id AS id1, a.f AS f1, c.media_id AS id2, c.f AS f2
               FROM bands a JOIN bands c ON a.band = c.band AND a.bkey = c.bkey
                    AND a.media_id < c.media_id
               JOIN ok o ON a.band = o.band AND a.bkey = o.bkey),
      v AS (SELECT id1, id2, bit_count(xor(h1.dhash, h2.dhash)) AS fdist
            FROM cand JOIN h h1 ON cand.id1 = h1.media_id AND cand.f1 = h1.f
                      JOIN h h2 ON cand.id2 = h2.media_id AND cand.f2 = h2.f
            WHERE bit_count(xor(h1.dhash, h2.dhash)) <= 6)
      SELECT id1, id2, CAST(MIN(fdist) AS INT) AS dist FROM v GROUP BY 1, 2
    """.trim)
  )

  val mmPhashIndexProbe: Q = Q(
    "x_mm_phash_index",
    (s, d) => {
      // decode runs ONCE; corpus and probe both read it
      val grid = GraftPins.cut(Multimodal.lumaGrid(
        Multimodal.imageTable(Tables.documents(s, d))).toDF())
      val corpus = grid.filter(col("media_id") % 4 =!= 0)
      val probe = grid.filter(col("media_id") % 4 === 1)
        .select((col("media_id") + 10000000L).as("media_id"),
          transform(col("luma"), v => least(v + 16, lit(255))).as("luma"))
        .unionByName(grid.filter(col("media_id") % 4 === 0))
      val idx = Multimodal.mediaPhashIndex(corpus)
      Multimodal.probeMediaPhashIndex(probe, idx, threshold = 6)
    },
    Some("""
      WITH d AS (SELECT doc_id, text, length(text) AS n FROM documents),
      lum AS (SELECT doc_id AS media_id,
                     list_transform(generate_series(0, 65), j ->
                       ('0x' || substr(md5(substr(text, CAST((j*n)//66 AS INT) + 1,
                          CAST(((j+1)*n)//66 - (j*n)//66 AS INT))), 1, 2))::BIGINT) AS lu
              FROM d),
      hc AS (SELECT media_id,
                    CAST(list_sum(list_transform(generate_series(0, 59), b ->
                      CASE WHEN lu[(b//10)*11 + (b%10) + 2] > lu[(b//10)*11 + (b%10) + 1]
                           THEN (1::BIGINT << CAST(b AS INT)) ELSE 0 END)) AS BIGINT) AS dhash
             FROM lum WHERE media_id % 4 <> 0),
      plum AS (SELECT media_id + 10000000 AS media_id,
                      list_transform(lu, v -> least(v + 16, 255)) AS lu
               FROM lum WHERE media_id % 4 = 1
               UNION ALL
               SELECT media_id, lu FROM lum WHERE media_id % 4 = 0),
      hp AS (SELECT media_id,
                    CAST(list_sum(list_transform(generate_series(0, 59), b ->
                      CASE WHEN lu[(b//10)*11 + (b%10) + 2] > lu[(b//10)*11 + (b%10) + 1]
                           THEN (1::BIGINT << CAST(b AS INT)) ELSE 0 END)) AS BIGINT) AS dhash
             FROM plum),
      cbands AS (SELECT media_id, b AS band, (dhash >> CAST(b*15 AS INT)) & 32767 AS bkey
                 FROM hc, generate_series(0, 3) t(b)),
      ok AS (SELECT band, bkey FROM cbands GROUP BY 1, 2 HAVING COUNT(*) <= 1024),
      pbands AS (SELECT media_id, b AS band, (dhash >> CAST(b*15 AS INT)) & 32767 AS bkey
                 FROM hp, generate_series(0, 3) t(b)),
      cand AS (SELECT DISTINCT p.media_id AS in_id, c.media_id AS ex_id
               FROM pbands p JOIN cbands c ON p.band = c.band AND p.bkey = c.bkey
               JOIN ok o ON c.band = o.band AND c.bkey = o.bkey)
      SELECT cand.in_id, cand.ex_id,
             CAST(bit_count(xor(h1.dhash, h2.dhash)) AS INT) AS dist
      FROM cand JOIN hp h1 ON cand.in_id = h1.media_id
                JOIN hc h2 ON cand.ex_id = h2.media_id
      WHERE bit_count(xor(h1.dhash, h2.dhash)) <= 6
    """.trim)
  )

  def all: Seq[Q] = Seq(mmMetadata, mmFeatures, mmChunks, mmPhashDups, mmVideoPhash,
    mmVideoPhashMulti, mmPhashIndexProbe)
}
