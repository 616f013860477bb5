"""Multimodal corpus: binary media columns through the Arrow/mapInPandas
decode path (operators/multimodal.py).

The Spark side synthesizes the fake container format JVM-side, round-trips
it through binary, and parses the bytes in Python; the DuckDB oracle
recomputes every decoded field arithmetically from ``doc_id`` — a hash
match proves the encode → Arrow → struct.unpack plumbing end to end.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from steampipe_sqlite_spark.operators.multimodal import (
    decode_audio_meta,
    decode_image_meta,
    decode_video_meta,
    resize_plan,
    sample_frames,
    synthesize_media,
)
from steampipe_sqlite_spark.plans.registry import query
from steampipe_sqlite_spark.tables import load_table


def _media(spark, sf_dir):
    return synthesize_media(load_table(spark, sf_dir, "documents"))


@query(
    "mm_image_decode",
    # SAME-WORK oracle (VERDICT r12 #2): DuckDB also ENCODES the FIMG
    # container (magic + big-endian header + sample plane, byte for byte
    # the blob Spark synthesizes) and then DECODES it back by slicing the
    # blob's hex — so both engines pay the binary construction + parse,
    # not Spark-decodes-vs-DuckDB-closed-form.  The previous closed-form
    # arithmetic oracle made the bench ratio an apples-to-oranges 4.15x
    # at 1000x; with symmetric work the comparison measures the decode
    # path both engines actually run.
    oracle="""
WITH img AS (
  SELECT doc_id,
         64 + (doc_id * 37) % 193 AS w,
         48 + (doc_id * 53) % 145 AS h,
         1 + (doc_id % 2) * 2 AS ch
  FROM documents WHERE doc_id % 3 = 0),
enc AS (
  SELECT doc_id,
         'FIMG'::BLOB
           || unhex(lpad(hex(w), 8, '0'))
           || unhex(lpad(hex(h), 8, '0'))
           || unhex(lpad(hex(ch), 2, '0'))
           || unhex((SELECT string_agg(
                        lpad(hex((doc_id * 7 + j * 13) % 256), 2, '0'),
                        '' ORDER BY j)
                     FROM generate_series(0, 7) t(j))) AS payload
  FROM img),
hx AS (
  SELECT doc_id, hex(payload) AS hs FROM enc
  WHERE substr(hex(payload), 1, 8) = hex('FIMG'::BLOB)),
dec AS (
  SELECT doc_id,
         CAST(('0x' || substr(hs, 9, 8)) AS BIGINT) AS w64,
         CAST(('0x' || substr(hs, 17, 8)) AS BIGINT) AS h64,
         CAST(('0x' || substr(hs, 25, 2)) AS BIGINT) AS c64,
         hs
  FROM hx),
px AS (
  SELECT doc_id,
         j,
         CAST(('0x' || substr(hs, 27 + 2 * j, 2)) AS BIGINT) AS b
  FROM dec, generate_series(0, 7) t(j)),
stats AS (
  SELECT doc_id,
         MIN(CASE WHEN j = 0 THEN b END) AS first_b,
         AVG(b) AS mean_b,
         MAX(b) AS max_b
  FROM px GROUP BY doc_id)
SELECT d.doc_id,
       CAST(w64 AS INT) AS width,
       CAST(h64 AS INT) AS height,
       CAST(c64 AS INT) AS channels,
       w64 * h64 * c64 AS n_pixels,
       CAST(first_b AS INT) AS first_px,
       mean_b AS px_mean,
       CAST(max_b AS INT) AS px_max
FROM dec d JOIN stats s USING (doc_id)
ORDER BY d.doc_id
""",
)
def mm_image_decode(spark, sf_dir):
    """Binary FIMG payloads decoded via mapInPandas: header fields plus
    feature extraction over the sample plane (mean/max pixel), decoded
    batch-vectorized (numpy over the concatenated fixed-width records —
    operators/multimodal.decode_image_meta).  Map-only: no shuffle,
    Arrow batches both directions."""
    return decode_image_meta(_media(spark, sf_dir)).orderBy("doc_id")


@query(
    "mm_image_resize",
    oracle="""
WITH img AS (
  SELECT doc_id,
         CAST(64 + (doc_id * 37) % 193 AS INT) AS width,
         CAST(48 + (doc_id * 53) % 145 AS INT) AS height
  FROM documents WHERE doc_id % 3 = 0)
SELECT doc_id, width, height,
       GREATEST(1, CAST(FLOOR(width * 64 / GREATEST(width, height)) AS BIGINT)) AS out_w,
       GREATEST(1, CAST(FLOOR(height * 64 / GREATEST(width, height)) AS BIGINT)) AS out_h
FROM img
ORDER BY doc_id
""",
)
def mm_image_resize(spark, sf_dir):
    """Aspect-preserving resize planning (fit 64-box) on decoded dims."""
    return resize_plan(decode_image_meta(_media(spark, sf_dir)), box=64).orderBy("doc_id")


@query(
    "mm_video_frame_sample",
    oracle="""
WITH vid AS (
  SELECT doc_id, 30 + (doc_id * 17) % 271 AS n_frames
  FROM documents WHERE doc_id % 3 = 1)
SELECT doc_id, UNNEST(generate_series(0, n_frames - 1, 10)) AS frame_idx
FROM vid
ORDER BY doc_id, frame_idx
""",
)
def mm_video_frame_sample(spark, sf_dir):
    """Every-10th-frame sampling: FVID header decode → sequence + explode.
    Output bounded at n_frames/10 rows per video — batch-memory safe."""
    vids = decode_video_meta(_media(spark, sf_dir))
    return sample_frames(vids, every=10).orderBy("doc_id", "frame_idx")


@query(
    "mm_audio_stats",
    oracle="""
WITH aud AS (
  SELECT doc_id,
         CAST(8000 * (1 + doc_id % 3) AS INT) AS sample_rate,
         8000 * (1 + doc_id % 3) * (1 + doc_id % 10) + doc_id % 97 AS n_samples,
         CAST(1 + (doc_id % 2) * 2 AS INT) AS channels
  FROM documents WHERE doc_id % 3 = 2)
SELECT doc_id, sample_rate, n_samples, channels,
       CAST(n_samples AS DOUBLE) / sample_rate AS duration_sec
FROM aud
ORDER BY doc_id
""",
)
def mm_audio_stats(spark, sf_dir):
    """FAUD header decode → per-clip duration (exact IEEE division of
    identical integer operands on both engines — no rounding needed)."""
    return (
        decode_audio_meta(_media(spark, sf_dir))
        .withColumn("duration_sec", F.col("n_samples").cast("double") / F.col("sample_rate"))
        .orderBy("doc_id")
    )


@query(
    "mm_media_inventory",
    oracle="""
SELECT CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'video' ELSE 'audio' END AS kind,
       lang,
       COUNT(*) AS n,
       CAST(SUM(CASE doc_id % 3
             WHEN 0 THEN 21
             WHEN 1 THEN 17
             ELSE 13 END) AS BIGINT) AS total_bytes
FROM documents
GROUP BY 1, 2
ORDER BY kind, lang
""",
)
def mm_media_inventory(spark, sf_dir):
    """Catalog rollup over the typed-metadata struct (kind × lang counts and
    payload byte totals) — metadata stays queryable without touching the
    binary payload, which is the point of the typed-meta design."""
    m = _media(spark, sf_dir)
    return (
        m.groupBy("kind", F.col("meta.lang").alias("lang"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("meta.n_bytes")).alias("total_bytes"),
        )
        .orderBy("kind", "lang")
    )


def _phash_oracle_sql() -> str:
    """Full-value oracle for the pHash near-dup pairs: the Q13 integer DCT
    makes the hash exact integer arithmetic, so DuckDB can replay it from
    the same 64 basis constants (rendered as a VALUES list from the SAME
    Python tuple the numpy path reads — never recomputed) and then run
    the identical band-LSH + hamming pair stage.  np.roll(px, i) means
    plane[i][(j+i)%8] = px[j]; the median test is 2*c > s32+s33; bit 63
    lands on the int64 sign, emitted as the min-int literal."""
    from steampipe_sqlite_spark.operators.multimodal import PHASH_DCT_Q13

    basis_rows = ", ".join(
        f"({u}, {j}, {w})"
        for u, row in enumerate(PHASH_DCT_Q13)
        for j, w in enumerate(row)
    )
    return f"""
WITH basis(u, j, w) AS (VALUES {basis_rows}),
px AS (
  SELECT doc_id, j, CAST((doc_id * 7 + j * 13) % 256 AS BIGINT) AS v
  FROM documents, generate_series(0, 7) t(j)
  WHERE doc_id % 3 = 0),
plane AS (
  SELECT p.doc_id, s.i AS i, (p.j + s.i) % 8 AS j, p.v
  FROM px p, generate_series(0, 7) s(i)),
coef AS (
  SELECT pl.doc_id, bu.u AS u, bv.u AS v,
         CAST(SUM(bu.w * pl.v * bv.w) AS BIGINT) AS c
  FROM plane pl
  JOIN basis bu ON bu.j = pl.i
  JOIN basis bv ON bv.j = pl.j
  GROUP BY pl.doc_id, bu.u, bv.u),
ranked AS (
  SELECT doc_id, u, v, c,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY c) AS rn
  FROM coef),
med AS (
  SELECT doc_id, CAST(SUM(CASE WHEN rn IN (32, 33) THEN c END) AS BIGINT) AS m2
  FROM ranked GROUP BY doc_id),
hsh AS (
  SELECT r.doc_id,
         CAST(SUM(CASE WHEN 2 * r.c > m.m2 THEN
              CASE WHEN r.u * 8 + r.v = 63 THEN -9223372036854775808
                   ELSE (CAST(1 AS BIGINT) << (r.u * 8 + r.v)) END
              ELSE 0 END) AS BIGINT) AS phash
  FROM ranked r JOIN med m USING (doc_id)
  GROUP BY r.doc_id),
bands AS (
  SELECT doc_id, phash, band, (phash >> (16 * band)) & 65535 AS band_val
  FROM hsh, generate_series(0, 3) t(band)),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         a.phash AS ha, b.phash AS hb
  FROM bands a
  JOIN bands b ON a.band = b.band AND a.band_val = b.band_val
             AND a.doc_id < b.doc_id)
SELECT id_a, id_b, CAST(bit_count(xor(ha, hb)) AS INT) AS hamming
FROM cand
WHERE bit_count(xor(ha, hb)) <= 6
ORDER BY id_a, id_b
"""


@query("mm_image_phash_neardup", oracle=_phash_oracle_sql())
def mm_image_phash_neardup(spark, sf_dir):
    """Image near-duplicate pairs via 64-bit DCT pHash + 4×16-bit banded
    LSH (hamming ≤ 6).  Full-value oracle since round 6: the Q13
    fixed-point DCT (operators/multimodal.py PHASH_DCT_Q13) is exact
    integer arithmetic, replayed in DuckDB from the same constants —
    determinism, band recall, and perturbation behavior additionally
    pinned in tests/test_multimodal.py."""
    from steampipe_sqlite_spark.operators.multimodal import image_phash_pairs

    return image_phash_pairs(_media(spark, sf_dir), max_hamming=6).orderBy(
        "id_a", "id_b"
    )


@query(
    "mm_video_scene_cuts",
    oracle="""
WITH vid AS (
  SELECT doc_id, 30 + (doc_id * 17) % 271 AS n_frames
  FROM documents WHERE doc_id % 3 = 1),
frames AS (
  SELECT doc_id, UNNEST(generate_series(0, n_frames - 1, 5)) AS f
  FROM vid),
sig AS (
  SELECT doc_id, f,
         CAST((CASE WHEN (doc_id * 7 + (f // 30) * 13 + (f % 3)) % 256 >= 128 THEN 1 ELSE 0 END)
            + (CASE WHEN (doc_id * 7 + (f // 30) * 13 + 5)  % 256 >= 128 THEN 2 ELSE 0 END)
            + (CASE WHEN (doc_id * 7 + (f // 30) * 13 + 10) % 256 >= 128 THEN 4 ELSE 0 END)
            + (CASE WHEN (doc_id * 7 + (f // 30) * 13 + 15) % 256 >= 128 THEN 8 ELSE 0 END)
            + (CASE WHEN (doc_id * 7 + (f // 30) * 13 + 20) % 256 >= 128 THEN 16 ELSE 0 END)
            + (CASE WHEN (doc_id * 7 + (f // 30) * 13 + 25) % 256 >= 128 THEN 32 ELSE 0 END)
            + (CASE WHEN (doc_id * 7 + (f // 30) * 13 + 30) % 256 >= 128 THEN 64 ELSE 0 END)
            + (CASE WHEN (doc_id * 7 + (f // 30) * 13 + 35) % 256 >= 128 THEN 128 ELSE 0 END)
          AS BIGINT) AS sig
  FROM frames),
lagd AS (
  SELECT doc_id, f, sig,
         LAG(sig) OVER (PARTITION BY doc_id ORDER BY f) AS prev_sig
  FROM sig),
cuts AS (
  SELECT doc_id, f,
         CASE WHEN prev_sig IS NULL THEN 1
              WHEN bit_count(xor(sig, prev_sig)) >= 2 THEN 1 ELSE 0 END AS is_cut
  FROM lagd)
SELECT doc_id,
       CAST(SUM(is_cut) AS BIGINT) AS n_scenes,
       CAST(COUNT(*) AS BIGINT) AS n_sampled_frames,
       ARRAY_TO_STRING(LIST(f ORDER BY f) FILTER (WHERE is_cut = 1), ',') AS cut_frames
FROM cuts
GROUP BY doc_id
ORDER BY doc_id
""",
)
def mm_video_scene_cuts(spark, sf_dir):
    """Video scene-cut detection, the frame-pipeline composition: sample
    every 5th frame (sequence+explode over decoded FVID headers), compute
    an 8-bit frame signature from the deterministic fake luma plane (a
    real pipeline swaps ONLY this projection for a decode-UDF signature —
    same shape as image_phash), then LAG + popcount flags a cut wherever
    >= 2 signature bits flip between consecutive sampled frames; per-video
    rollup emits scene counts and the CSV cut list (arrays never cross
    the driver hash).  One keyed window, no joins — linear in sampled
    frames at any corpus size."""
    from pyspark.sql import functions as F

    from steampipe_sqlite_spark.operators.multimodal import (
        decode_video_meta,
        sample_frames,
    )

    vids = decode_video_meta(_media(spark, sf_dir))
    frames = sample_frames(vids, every=5).select("doc_id", F.col("frame_idx").alias("f"))
    bit_terms = " + ".join(
        f"(CASE WHEN (doc_id * 7 + (f div 30) * 13 + {off}) % 256 >= 128 THEN {1 << j} ELSE 0 END)"
        for j, off in enumerate(["(f % 3)", "5", "10", "15", "20", "25", "30", "35"])
    )
    sig = frames.selectExpr("doc_id", "f", f"CAST({bit_terms} AS BIGINT) AS sig")
    lagd = sig.selectExpr(
        "doc_id", "f", "sig",
        "LAG(sig) OVER (PARTITION BY doc_id ORDER BY f) AS prev_sig",
    )
    cuts = lagd.selectExpr(
        "doc_id", "f",
        "CASE WHEN prev_sig IS NULL THEN 1"
        " WHEN bit_count(sig ^ prev_sig) >= 2 THEN 1 ELSE 0 END AS is_cut",
    )
    return (
        cuts.groupBy("doc_id")
        .agg(
            F.expr("CAST(SUM(is_cut) AS BIGINT)").alias("n_scenes"),
            F.count(F.lit(1)).cast("long").alias("n_sampled_frames"),
            F.expr(
                "array_join(transform(array_sort(collect_list(CASE WHEN is_cut = 1 THEN f END)),"
                " x -> cast(x AS string)), ',')"
            ).alias("cut_frames"),
        )
        .orderBy("doc_id")
    )


@query(
    "mm_audio_silence_runs",
    oracle="""
WITH aud AS (
  SELECT doc_id,
         (8000 * (1 + doc_id % 3) * (1 + doc_id % 10) + doc_id % 97)
           // (8000 * (1 + doc_id % 3)) AS n_seconds
  FROM documents WHERE doc_id % 3 = 2),
secs AS (
  SELECT doc_id, UNNEST(generate_series(0, n_seconds - 1)) AS k
  FROM aud),
energy AS (
  SELECT doc_id, k,
         CASE WHEN (doc_id * 11 + k * 29) % 100 < 15 THEN 1 ELSE 0 END AS silent
  FROM secs),
islands AS (
  SELECT doc_id, k, silent,
         k - ROW_NUMBER() OVER (PARTITION BY doc_id, silent ORDER BY k) AS grp
  FROM energy)
SELECT doc_id,
       CAST(SUM(run_len) AS BIGINT) AS n_seconds,
       CAST(SUM(CASE WHEN silent = 1 THEN run_len ELSE 0 END) AS BIGINT) AS n_silent,
       CAST(COALESCE(MAX(CASE WHEN silent = 1 THEN run_len END), 0) AS BIGINT) AS longest_silence
FROM (
  SELECT doc_id, silent, grp, COUNT(*) AS run_len
  FROM islands GROUP BY doc_id, silent, grp
) runs
GROUP BY doc_id
ORDER BY doc_id
""",
)
def mm_audio_silence_runs(spark, sf_dir):
    """Audio silence segmentation: per-second energy over the decoded FAUD
    duration (fake energy — a real pipeline swaps only the energy
    projection for a sample-decoding Pandas UDF, same caveat as the other
    synthetic decoders), threshold to silent/active, then the
    gaps-and-islands window finds contiguous silent runs; per-file rollup
    emits total/silent seconds and the longest silent run.  Shape: one
    sequence explode + two keyed windows/aggregates — linear in audio
    seconds."""
    from pyspark.sql import functions as F

    from steampipe_sqlite_spark.operators.multimodal import decode_audio_meta

    aud = decode_audio_meta(_media(spark, sf_dir)).selectExpr(
        "doc_id", "CAST(n_samples div sample_rate AS BIGINT) AS n_seconds"
    )
    secs = aud.selectExpr(
        "doc_id", "explode(sequence(0, n_seconds - 1)) AS k"
    )
    energy = secs.selectExpr(
        "doc_id", "k",
        "CASE WHEN (doc_id * 11 + k * 29) % 100 < 15 THEN 1 ELSE 0 END AS silent",
    )
    islands = energy.selectExpr(
        "doc_id", "k", "silent",
        "k - ROW_NUMBER() OVER (PARTITION BY doc_id, silent ORDER BY k) AS grp",
    )
    runs = islands.groupBy("doc_id", "silent", "grp").agg(
        F.count(F.lit(1)).alias("run_len")
    )
    return (
        runs.groupBy("doc_id")
        .agg(
            F.expr("CAST(SUM(run_len) AS BIGINT)").alias("n_seconds"),
            F.expr("CAST(SUM(CASE WHEN silent = 1 THEN run_len ELSE 0 END) AS BIGINT)").alias("n_silent"),
            F.expr("CAST(COALESCE(MAX(CASE WHEN silent = 1 THEN run_len END), 0) AS BIGINT)").alias("longest_silence"),
        )
        .orderBy("doc_id")
    )


@query(
    "mm_video_neardup_shingles",
    oracle="""
WITH vid AS (
  SELECT doc_id, 30 + (doc_id * 17) % 271 AS n_frames
  FROM documents WHERE doc_id % 3 = 1),
frames AS (
  SELECT doc_id, UNNEST(generate_series(0, n_frames - 1, 5)) AS f FROM vid),
sig AS (
  SELECT doc_id, f,
         (doc_id * 7 + (f // 30) * 13 + (f % 3)) % 256 AS s
  FROM frames),
sh AS (
  SELECT doc_id,
         s * 65536 + LEAD(s, 1) OVER w * 256 + LEAD(s, 2) OVER w AS shingle
  FROM sig WINDOW w AS (PARTITION BY doc_id ORDER BY f)),
shd AS (SELECT DISTINCT doc_id, shingle FROM sh WHERE shingle IS NOT NULL),
sizes AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM shd GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS video_a, b.doc_id AS video_b,
         CAST(COUNT(*) AS BIGINT) AS n_shared
  FROM shd a JOIN shd b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id)
SELECT p.video_a, p.video_b, p.n_shared, sa.n AS n_a, sb.n AS n_b,
       CAST(p.n_shared * 1000000 // LEAST(sa.n, sb.n) AS BIGINT)
         AS containment_ppm
FROM pairs p
JOIN sizes sa ON sa.doc_id = p.video_a
JOIN sizes sb ON sb.doc_id = p.video_b
WHERE p.n_shared >= 5
ORDER BY p.video_a, p.video_b
""",
)
def mm_video_neardup_shingles(spark, sf_dir):
    """Video near-duplicate detection by TEMPORAL fingerprint: each
    sampled frame contributes an 8-bit signature of the deterministic
    fake luma plane (a real pipeline swaps only this projection for a
    per-frame pHash), consecutive signature TRIPLES form order-aware
    shingles, and videos pair on shared distinct shingles with >= 5
    matches, scored by min-side containment ppm — re-encoded /
    trimmed copies keep long runs of identical frame signatures even
    when global metadata differs.  The video sibling of
    dedup_containment_ngram.

    Scale shape: signatures and shingles are keyed windows per video
    (linear); the pair stage is a distinct-shingle equi-join — videos
    meet ONLY on shared shingles, never all-pairs; at production scale
    the 24-bit fake shingle becomes a 3x64-bit pHash tuple, making hot
    shingles vanishingly rare (here the 256-value fake luma keeps them
    common enough to exercise the join)."""
    from steampipe_sqlite_spark.plans.registry import presentation_sort

    vids = decode_video_meta(_media(spark, sf_dir))
    frames = sample_frames(vids, every=5).select(
        "doc_id", F.col("frame_idx").alias("f")
    )
    sig = frames.selectExpr(
        "doc_id", "f",
        "(doc_id * 7 + (f div 30) * 13 + (f % 3)) % 256 AS s",
    )
    sh = sig.selectExpr(
        "doc_id",
        "s * 65536"
        " + LEAD(s, 1) OVER (PARTITION BY doc_id ORDER BY f) * 256"
        " + LEAD(s, 2) OVER (PARTITION BY doc_id ORDER BY f) AS shingle",
    )
    shd = sh.where("shingle IS NOT NULL").distinct()
    sizes = shd.groupBy("doc_id").agg(F.count(F.lit(1)).cast("long").alias("n"))
    a = shd.selectExpr("doc_id AS video_a", "shingle")
    b = shd.selectExpr("doc_id AS video_b", "shingle")
    pairs = (
        a.join(b, ["shingle"])
        .where("video_a < video_b")
        .groupBy("video_a", "video_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
        .where("n_shared >= 5")
    )
    out = (
        # sizes is one row PER VIDEO — unbounded at corpus scale, so no
        # broadcast hint: AQE picks broadcast while it fits, shuffle join
        # beyond (the pair frame is keyed on the same ids either way).
        pairs.join(sizes.selectExpr("doc_id AS video_a", "n AS n_a"), "video_a")
        .join(sizes.selectExpr("doc_id AS video_b", "n AS n_b"), "video_b")
        .selectExpr(
            "video_a", "video_b", "n_shared", "n_a", "n_b",
            "CAST(n_shared * 1000000 div LEAST(n_a, n_b) AS BIGINT)"
            " AS containment_ppm",
        )
    )
    # orderBy, not presentation_sort: the pair output scales with the
    # corpus and the post-shuffle tail here is the containment joins —
    # coalesce(1) would run them on one core (r14: the same defect
    # measured at 52-of-55 s in join_fuzzy_blocked_prefix at 5M docs).
    return out.orderBy("video_a", "video_b")
