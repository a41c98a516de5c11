"""The query registry behind ``__spark_entry__``.

A query is registered in exactly one way: define a module-level
``q_<name>(spark, sf_dir) -> DataFrame`` in this module or in
``relational``, ``spatial_queries`` or ``textops``, next to its DuckDB
oracle ``ORACLE["<name>"] = "<SQL>"``. ``QUERIES`` is derived from the
``q_`` functions and ``ORACLE`` from the modules' ``ORACLE`` dicts at
the end of this module (a name in two modules raises), and every query
has an oracle (``set(QUERIES) == set(ORACLE)``, asserted by a test), so
every registered query is exact-value gated, not just row-counted. The
order the gate runs them in is chosen by ``__spark_entry__.queries()``."""

from __future__ import annotations

import sys

from pyspark.sql import functions as F

from ..data import synth
from ..functions.text import fingerprint_udf, langid_udf, quality_udf, token_count_udf
from ..operators.areadist import areadist, areadist_join
from ..operators.dedup import minhash_lsh_pairs, ngram_jaccard_pairs, simhash_signatures
from ..operators.knn import knn_join
from ..operators.multimodal import decode_stats, frame_sample, pixel_embed
from ..scratch import scratch_dir
from ..operators.similarity import (
    cosine_dup_pairs,
    ivf_topk_lloyd,
    ivf_topk_sampled,
    lsh_ann_topk_int,
    matmul_topk,
    semantic_dedup,
)
from . import relational, spatial_queries, textops

# state-store tasks per streaming micro-batch (r08, guide §1.2
# config-last), split by the operator's bottleneck:
# - applyInPandasWithState drains (_STREAM_PARTS_PY): the per-key
#   PYTHON calls dominate addBatch, so parallelism pays — 4 → 8
#   measured the sessionizer drain 13-17 s → ~10 s, identical sink
#   rows; 32 regressed (store overhead).
# - pure-JVM stateful drains (_STREAM_PARTS): per-partition state-
#   store instances dominate (a stream-stream join runs stores on
#   BOTH sides per partition) — 8 measured stream_join ~4.2-4.7 s vs
#   ~3.3-3.5 s at 4 in alternating runs, so these stay at 4.
# Both are drain-scoped; a real deployment sizes state partitions to
# the cluster up front (run_available_now docstring).
_STREAM_PARTS = 4
_STREAM_PARTS_PY = 8
from .spatial_queries import _flagship_select, _keyed_points, rects_df

# this module's own oracles; the end of the module rebinds ORACLE to
# the union over every plan module
ORACLE: dict[str, str] = {}


def _emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


# --- exact cosine top-1 neighbour (brute force, JVM higher-order
# functions). Rounded to 5 dp before ranking on BOTH engines so the
# float accumulation-order difference (≈1e-15) can't flip the winner.
def q_embed_top1(spark, sf_dir):
    e = _emb(spark, sf_dir)
    return (
        matmul_topk(e, e, k=1, round_dp=5)
        .select("qid", "nid")
    )


ORACLE["embed_top1"] = """
SELECT qid, nid FROM (
  SELECT a.vec_id AS qid, b.vec_id AS nid,
         ROW_NUMBER() OVER (
           PARTITION BY a.vec_id
           ORDER BY ROUND(list_cosine_similarity(
                      CAST(a.embedding AS DOUBLE[]),
                      CAST(b.embedding AS DOUBLE[])), 5) DESC,
                    b.vec_id) AS rk
  FROM embeddings a CROSS JOIN embeddings b
  WHERE a.vec_id <> b.vec_id
) WHERE rk = 1
"""


# --- embedding-cosine near-dup pairs (exact broadcast-matmul path;
# threshold on the ROUNDED cosine so both engines decide identically;
# 0.4 is calibrated to the synthetic corpus whose max pair cosine is
# ~0.51 — the operator, not the epsilon, is the point)
def q_embed_dup_pairs(spark, sf_dir):
    e = _emb(spark, sf_dir)
    return cosine_dup_pairs(e, threshold=0.4)


ORACLE["embed_dup_pairs"] = """
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                    CAST(b.embedding AS DOUBLE[])), 6) AS cos
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                   CAST(b.embedding AS DOUBLE[])), 6) >= 0.4
"""


# --- LSH-bucketed approximate NN (the 10⁹-vector scale path). Driver-
# oracled since r03 via the integer-quantized variant: embedding
# components quantize to int64 (floor(x·10⁶+0.5) — exact IEEE ops),
# hyperplane weights come from a two-round Lehmer hash, bucket ids are
# sign patterns of exact int64 dot products — so DuckDB replays the
# bucketing, the capped equi join, and the rounded-cosine ranking in
# full, the way minhash_pairs is replayed. The float-hyperplane
# variant (lsh_ann_topk) stays the engine API; pytest checks recall.
def q_embed_ann_lsh(spark, sf_dir):
    e = _emb(spark, sf_dir)
    return lsh_ann_topk_int(e, e, dim=64, k=1, n_planes=10, n_tables=6)


ORACLE["embed_ann_lsh"] = """
WITH qe AS (
  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS d,
         CAST(FLOOR(CAST(UNNEST(embedding) AS DOUBLE) * 1000000 + 0.5)
              AS BIGINT) AS q
  FROM embeddings
), wts AS (
  SELECT t.t, p.p, d.d,
    ((((((CAST((t.t * 10 + p.p) * 64 + d.d AS BIGINT)) * 48271 + 11)
        % 999983) * 69621 + 7) % 999979) % 2001) - 1000 AS w
  FROM range(6) t(t), range(10) p(p), range(64) d(d)
), pr AS (
  SELECT qe.vec_id, w.t, w.p, SUM(qe.q * w.w) AS proj
  FROM qe JOIN wts w USING (d) GROUP BY 1, 2, 3
), bk AS (
  SELECT vec_id, t, SUM(CASE WHEN proj > 0 THEN 1 << p ELSE 0 END) AS bucket
  FROM pr GROUP BY 1, 2
), bsz AS (
  SELECT t, bucket, COUNT(*) AS n FROM bk GROUP BY 1, 2
), cb AS (
  SELECT bk.* FROM bk JOIN bsz USING (t, bucket) WHERE bsz.n <= 2000
), cand AS (
  SELECT DISTINCT q.vec_id AS qid, c.vec_id AS nid
  FROM bk q JOIN cb c ON q.t = c.t AND q.bucket = c.bucket
  WHERE q.vec_id <> c.vec_id
), scored AS (
  SELECT cand.qid, cand.nid,
    ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                 CAST(b.embedding AS DOUBLE[])), 5) AS cos
  FROM cand
  JOIN embeddings a ON a.vec_id = cand.qid
  JOIN embeddings b ON b.vec_id = cand.nid
)
SELECT qid, rk, nid, cos FROM (
  SELECT qid, nid, cos,
         ROW_NUMBER() OVER (PARTITION BY qid
                            ORDER BY cos DESC, nid) AS rk
  FROM scored
) WHERE rk <= 1
"""


# --- IVF approximate NN (the inverted-file scale path: coarse
# quantizer → cluster equi join → exact refine). Driver-oracled since
# r03 via the corpus-sampled quantizer (centroids = corpus vectors with
# id < n_clusters; random-init IVF without Lloyd refinement), so the
# oracle re-derives the centroids from the same table and replays
# assignment + candidates + ranking. The k-means variant (ivf_topk)
# stays the engine API; pytest checks its recall.
def q_embed_ann_ivf(spark, sf_dir):
    e = _emb(spark, sf_dir)
    return ivf_topk_sampled(e, e, k=1, n_clusters=32, n_probe=8)


ORACLE["embed_ann_ivf"] = """
WITH cent AS (
  SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv
  FROM embeddings WHERE vec_id < 32
), asg AS (
  SELECT e.vec_id, c.cid,
    ROW_NUMBER() OVER (PARTITION BY e.vec_id
      ORDER BY ROUND(list_cosine_similarity(
                 CAST(e.embedding AS DOUBLE[]), c.cv), 5) DESC,
               c.cid) AS ar
  FROM embeddings e CROSS JOIN cent c
), ca AS (
  SELECT vec_id AS nid, cid AS cluster FROM asg WHERE ar = 1
), qa AS (
  SELECT vec_id AS qid, cid AS cluster FROM asg WHERE ar <= 8
), cand AS (
  SELECT DISTINCT qa.qid, ca.nid FROM qa JOIN ca USING (cluster)
  WHERE qa.qid <> ca.nid
), scored AS (
  SELECT cand.qid, cand.nid,
    ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                 CAST(b.embedding AS DOUBLE[])), 5) AS cos
  FROM cand
  JOIN embeddings a ON a.vec_id = cand.qid
  JOIN embeddings b ON b.vec_id = cand.nid
)
SELECT qid, rk, nid, cos FROM (
  SELECT qid, nid, cos,
         ROW_NUMBER() OVER (PARTITION BY qid
                            ORDER BY cos DESC, nid) AS rk
  FROM scored
) WHERE rk <= 1
"""


# --- IVF with genuine Lloyd refinement, driver-oracled (VERDICT r05
# next-#4): the sampled variant above replays a random-init quantizer;
# this row replays the REAL k-means loop. Every quantizer decision is
# exact 64-bit integer arithmetic (components quantized by the
# lsh_ann_topk_int contract, assignment by integer squared-L2 with
# smaller-cid ties, centroid update = floor((2Σ+n)/2n) integer mean,
# empty clusters keep their centroid), so the SQL below replays two
# full Lloyd iterations term-for-term before the shared
# assign→equi-join→rounded-cosine-refine tail.
def q_embed_ann_ivf_lloyd(spark, sf_dir):
    e = _emb(spark, sf_dir)
    return ivf_topk_lloyd(e, e, k=1, n_clusters=32, n_probe=8, iters=2)


_LLOYD_ITER = """
, d{t} AS (
  SELECT q.vec_id, c.cid, SUM((q.qx - c.cx)*(q.qx - c.cx)) AS d2
  FROM q JOIN cent{t} c USING (d) GROUP BY 1, 2
), a{t} AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
    FROM d{t}) WHERE rn = 1
), m{t} AS (
  SELECT a.cid, q.d,
         CAST(floor((2.0*SUM(q.qx) + COUNT(*)) / (2*COUNT(*))) AS BIGINT)
           AS mx
  FROM q JOIN a{t} a USING (vec_id) GROUP BY 1, 2
), cent{t1} AS (
  SELECT c.cid, c.d, COALESCE(m.mx, c.cx) AS cx
  FROM cent{t} c LEFT JOIN m{t} m USING (cid, d)
)"""

ORACLE["embed_ann_ivf_lloyd"] = """
WITH comp AS (
  SELECT vec_id, generate_subscripts(CAST(embedding AS DOUBLE[]), 1) AS d,
         unnest(CAST(embedding AS DOUBLE[])) AS x
  FROM embeddings
), q AS (
  SELECT vec_id, d, CAST(floor(x * 1000000 + 0.5) AS BIGINT) AS qx FROM comp
), cent0 AS (
  SELECT vec_id AS cid, d, qx AS cx FROM q WHERE vec_id < 32
)""" + _LLOYD_ITER.format(t=0, t1=1) + _LLOYD_ITER.format(t=1, t1=2) + """
, dfin AS (
  SELECT q.vec_id, c.cid, SUM((q.qx - c.cx)*(q.qx - c.cx)) AS d2
  FROM q JOIN cent2 c USING (d) GROUP BY 1, 2
), af AS (
  SELECT vec_id, cid,
         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS ar
  FROM dfin
), ca AS (
  SELECT vec_id AS nid, cid AS cluster FROM af WHERE ar = 1
), qa AS (
  SELECT vec_id AS qid, cid AS cluster FROM af WHERE ar <= 8
), cand AS (
  SELECT DISTINCT qa.qid, ca.nid FROM qa JOIN ca USING (cluster)
  WHERE qa.qid <> ca.nid
), scored AS (
  SELECT cand.qid, cand.nid,
         ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                      CAST(b.embedding AS DOUBLE[])), 5)
           AS cos
  FROM cand JOIN embeddings a ON a.vec_id = cand.qid
            JOIN embeddings b ON b.vec_id = cand.nid
)
SELECT qid, rk, nid, cos FROM (
  SELECT qid, nid, cos,
         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rk
  FROM scored) WHERE rk <= 1
"""


# --- semantic dedup (r06): the SemDeDup recipe — cluster with the
# corpus-sampled quantizer, canonical = per-cluster MIN id, flag
# members whose ROUNDED cosine to the canonical clears the threshold.
# The scalable embedding-dedup shape: no all-pairs sweep; the oracle
# replays assignment (rounded cosine, smaller-cid ties), the
# per-cluster min, and the member→canonical scoring.
def q_semantic_dedup(spark, sf_dir):
    return semantic_dedup(_emb(spark, sf_dir), n_clusters=32,
                          threshold=0.3)


ORACLE["semantic_dedup"] = """
WITH cent AS (
  SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv
  FROM embeddings WHERE vec_id < 32
), asg AS (
  SELECT e.vec_id, c.cid,
    ROW_NUMBER() OVER (PARTITION BY e.vec_id
      ORDER BY ROUND(list_cosine_similarity(
                 CAST(e.embedding AS DOUBLE[]), c.cv), 5) DESC,
               c.cid) AS ar
  FROM embeddings e CROSS JOIN cent c
), mem AS (
  SELECT vec_id, cid AS cluster FROM asg WHERE ar = 1
), canon AS (
  SELECT cluster, MIN(vec_id) AS canonical_id FROM mem GROUP BY cluster
)
SELECT m.vec_id, m.cluster, c.canonical_id,
       ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                    CAST(b.embedding AS DOUBLE[])), 5)
         AS cos_canon,
       (ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                     CAST(b.embedding AS DOUBLE[])), 5)
          >= 0.3 AND m.vec_id <> c.canonical_id) AS is_dup
FROM mem m JOIN canon c USING (cluster)
JOIN embeddings a ON a.vec_id = m.vec_id
JOIN embeddings b ON b.vec_id = c.canonical_id
"""


# --- MinHash+LSH near-dup pairs (rows-only; pytest oracle on planted dups)
def q_minhash_pairs(spark, sf_dir):
    d = _docs(spark, sf_dir)
    return minhash_lsh_pairs(d, threshold=0.5)


# --- SimHash signatures (rows-only; deterministic — pytest-checked)
def q_simhash(spark, sf_dir):
    d = _docs(spark, sf_dir)
    return simhash_signatures(d).select("doc_id", "simhash")


# --- n-gram Jaccard pairs within language blocks (rows-only)
def q_ngram_jaccard(spark, sf_dir):
    d = _docs(spark, sf_dir)
    return ngram_jaccard_pairs(d, threshold=0.2, block_col="lang")


# --- document fingerprint + BPE-ish token count + n-gram langid +
# quality struct (rows-only; pytest oracles in tests/test_text_ops.py)
def q_text_features(spark, sf_dir):
    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id",
        fingerprint_udf()(F.col("text")).alias("fingerprint"),
        token_count_udf()(F.col("text")).alias("n_bpe_tokens"),
        langid_udf()(F.col("text")).alias("pred_lang"),
        quality_udf()(F.col("text")).alias("quality"),
    ).select("doc_id", "fingerprint", "n_bpe_tokens", "pred_lang", "quality.*")


# --- the flagship circle-kernel spatial extraction (areadist.age) on
# deterministically geotagged points vs rectangle features. Driver-
# oracled since r02: DuckDB evaluates the closed-form circular-segment
# area (spatial_queries._sql_circle_rect_area) against the engine's
# Green's-theorem kernel; both sides ROUND per FLAGSHIP_ROUND (digits
# ≥3 orders above the ≤4e-9 measured cross-formula error). The
# unrounded kernel stays pytest-oracled at 1e-9 (tests/).
def _circle_inputs(spark, sf_dir):
    polys = rects_df(spark, sf_dir).select(
        F.col("fid").alias("feature_id"), F.lit("rects").alias("layer"),
        F.col("ryear").alias("YEAR"), "geom",
    )
    return _keyed_points(spark, sf_dir), polys


def q_areadist_circle(spark, sf_dir):
    # the planner (VERDICT r01 wrong-#3): the feature-side count picks
    # the fused single-stage mapInPandas kernel when it fits an
    # executor (it does here), else the tiled kernel below —
    # result-identical either way
    # dissolve="sum": this query's DuckDB oracle evaluates the
    # per-clip Σ (the reference's second area notion, C_…R:156); the
    # dissolved-union semantics get their own oracled driver query
    # (areadist_dissolve) and 1e-9 pytest oracles
    pts, polys = _circle_inputs(spark, sf_dir)
    return _flagship_select(
        areadist(pts, polys, validity_filter=False, dissolve="sum"))


def q_areadist_circle_join(spark, sf_dir):
    # the tiled kernel (the fused body per coarse tile, the plan for
    # feature sides too large to broadcast) — same results
    pts, polys = _circle_inputs(spark, sf_dir)
    return _flagship_select(
        areadist_join(pts, polys, validity_filter=False, dissolve="sum"))


# --- kNN ring expansion (uncapped k nearest; brute-force SQL oracle)
def q_knn_ring(spark, sf_dir):
    pts, polys = _circle_inputs(spark, sf_dir)
    out = knn_join(pts.filter(F.col("PKEY").cast("long") % 50 == 0), polys,
                   k=3, r0=None, max_radius=32000.0)
    return out.select("PKEY", "rk", "feature_id",
                      F.round("dist", 6).alias("dist"))


# --- multimodal decode/stat/embed over the synthetic image table
# (generated in-session; deterministic, no external data). Driver-
# oracled since r03: the pixels are a closed-form integer Lehmer hash
# (data/synth.pixel_plane), so DuckDB re-derives every pixel value with
# the same 64-bit arithmetic and recomputes mean_r/g/b exactly — the
# decode side exercises the real PNG codec round-trip (fmt="png" for
# 16/17 of rows), so a codec bit-error breaks the means and the hash.
def q_multimodal_stats(spark, sf_dir):
    n = 240  # constant: the table is generated in-session, and the
    # static oracle SQL below re-derives the same 240 images
    images = spark.createDataFrame(synth.images_pdf(n))
    stats = decode_stats(images)
    emb = pixel_embed(images)
    return stats.join(emb, "image_id").select(
        "image_id", "mean_r", "mean_g", "mean_b", "phash_ok",
        F.size("embedding").alias("embed_dim"),
    )


# n=240 matches the driver's sf0.01 comparison run; per-channel sums
# are exact integers (< 2^53) and the /(w*h) division is one IEEE op,
# so both engines produce bit-identical doubles — no rounding needed.
ORACLE["multimodal_stats"] = """
WITH imgs AS (
  SELECT i,
    printf('img%08d', i) AS image_id,
    CASE i % 3 WHEN 0 THEN 32 WHEN 1 THEN 64 ELSE 96 END AS w,
    CASE (i // 3) % 3 WHEN 0 THEN 32 WHEN 1 THEN 64 ELSE 96 END AS h,
    42 * 1000003 + i AS base
  FROM range(240) t(i)
), px AS (
  SELECT image_id, w, h,
    xor((((base + j * 2654435761) % 4294967291) * 279470273) % 4294967291,
        ((((base + j * 2654435761) % 4294967291) * 279470273) % 4294967291)
        >> 16) % 256 AS v,
    j % 3 AS ch
  FROM imgs, LATERAL (SELECT UNNEST(range(w*h*3)) AS j)
)
SELECT image_id,
  SUM(CASE WHEN ch = 0 THEN v END)::DOUBLE / (w*h) AS mean_r,
  SUM(CASE WHEN ch = 1 THEN v END)::DOUBLE / (w*h) AS mean_g,
  SUM(CASE WHEN ch = 2 THEN v END)::DOUBLE / (w*h) AS mean_b,
  TRUE AS phash_ok,
  64 AS embed_dim
FROM px GROUP BY image_id, w, h
"""


# --- video frame sampling over the from-scratch CPNV container
# (VERDICT r03 next-#4 — the stub is gone): every_n=2 selection over
# 48 synthetic videos (3..7 frames each), sampled frames decoded
# through the real PNG codec to per-channel means. The oracle
# re-derives the frame COUNT per video (3 + i%5, j%2=0), the sampling
# rule, and every pixel of every sampled frame from the same Lehmer
# closed form (base = 42·1000003 + 500000 + i·64 + j) — so a container
# mis-slice, an off-by-one in every_n, or a codec bit-error all break
# the hash.
def q_frame_sample(spark, sf_dir):
    import numpy as np
    import pandas as pd

    from ..data import codec

    n = 48  # constant: generated in-session, mirrored by the static SQL
    videos = spark.createDataFrame(synth.videos_pdf(n))
    frames = frame_sample(videos, every_n=2)
    schema = ("image_id string, frame_idx int, "
              "mean_r double, mean_g double, mean_b double")

    def gen(batches):
        for pdf in batches:
            rows = []
            for r in pdf.itertuples():
                img = codec.decode_image(bytes(r.bytes), r.fmt, r.w, r.h)
                px = img.astype(np.float64)
                rows.append((r.image_id, r.frame_idx,
                             float(px[..., 0].mean()),
                             float(px[..., 1].mean()),
                             float(px[..., 2].mean())))
            yield pd.DataFrame(rows, columns=[
                "image_id", "frame_idx", "mean_r", "mean_g", "mean_b"])

    return frames.mapInPandas(gen, schema)


# per-channel sums are exact integers (< 2^53) and /(w·h) is one IEEE
# op → bit-identical doubles, no rounding (the multimodal_stats
# contract).
ORACLE["frame_sample"] = """
WITH vids AS (
  SELECT i,
    printf('vid%08d', i) AS image_id,
    32 AS w,
    CASE i % 2 WHEN 0 THEN 32 ELSE 48 END AS h,
    3 + i % 5 AS nf
  FROM range(48) t(i)
), sel AS (
  SELECT image_id, w, h, i, j
  FROM vids, LATERAL (SELECT UNNEST(range(nf)) AS j)
  WHERE j % 2 = 0
), px AS (
  SELECT image_id, j, w, h,
    xor((((base + k * 2654435761) % 4294967291) * 279470273) % 4294967291,
        ((((base + k * 2654435761) % 4294967291) * 279470273) % 4294967291)
        >> 16) % 256 AS v,
    k % 3 AS ch
  FROM (SELECT *, 42 * 1000003 + 500000 + i * 64 + j AS base FROM sel),
       LATERAL (SELECT UNNEST(range(w*h*3)) AS k)
)
SELECT image_id,
  CAST(j AS INT) AS frame_idx,
  SUM(CASE WHEN ch = 0 THEN v END)::DOUBLE / (w*h) AS mean_r,
  SUM(CASE WHEN ch = 1 THEN v END)::DOUBLE / (w*h) AS mean_g,
  SUM(CASE WHEN ch = 2 THEN v END)::DOUBLE / (w*h) AS mean_b
FROM px GROUP BY image_id, j, w, h
"""


# --- per-user sessionization (gaps-and-islands): the batch twin of
# the applyInPandasWithState custom stateful operator
# (streaming/sessions.py; stream ≡ batch proven in pytest). Oracle:
# the same LAG → break-flag → running-SUM shape in DuckDB.
def q_sessions(spark, sf_dir):
    from ..streaming.sessions import sessionize_batch
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    # 10h gap: the fixture's mean per-user inter-event gap is ~9h, so
    # sessions genuinely merge and split (a 30min gap would make every
    # event its own island)
    return sessionize_batch(ev, gap_minutes=600)


ORACLE["sessions"] = """
WITH o AS (
  SELECT user_id, ts, event_id, value,
         CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER (
                PARTITION BY user_id ORDER BY ts, event_id)
              > 36000000000 THEN 1 ELSE 0 END AS brk
  FROM events
), s AS (
  SELECT *, SUM(brk) OVER (
    PARTITION BY user_id ORDER BY ts, event_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM o
)
SELECT user_id, MIN(ts) AS session_start, MAX(ts) AS session_end,
       COUNT(*) AS n_events, ROUND(SUM(value), 4) AS sum_value
FROM s GROUP BY user_id, sid
"""

ORACLE["sessions_stream"] = ORACLE["sessions"]
ORACLE["windowed_stream"] = relational.ORACLE["tumbling_window"]


# --- LIVE stream-static enrichment (r06): the third canonical
# streaming shape after windowed aggregation and stream-stream joins —
# a micro-batch stream joined against a BROADCAST static dimension
# (the 100 TB pattern: the dim ships once per executor, the stream
# never shuffles before its windowed groupBy). user_id maps to a
# nation key row-locally; the far-future flush sentinel (user_id −1)
# pmods onto a real key but lands in the filtered-out future window.
def q_stream_enrich(spark, sf_dir):

    from ..streaming import events as SE

    d = _stage_events(sf_dir)
    stream = spark.readStream.schema(SE.EVENTS_SCHEMA) \
        .option("maxFilesPerTrigger", 2).parquet(d)
    dim = spark.read.parquet(f"{sf_dir}/nation.parquet") \
        .select(F.col("n_nationkey").alias("nk"), "n_name")
    enr = (stream.withWatermark("ts", "1 hour")
           .withColumn("nk", F.pmod("user_id", F.lit(25)).cast(
               dim.schema["nk"].dataType))
           .join(F.broadcast(dim), "nk")
           .groupBy(F.window("ts", "1 hour").alias("win"), "n_name")
           .agg(F.count(F.lit(1)).alias("n"),
                F.round(F.sum("value"), 4).alias("sum_value"))
           .select(F.col("win.start").alias("hour"), "n_name",
                   "n", "sum_value"))
    ck = scratch_dir("stream_enrich_ck_")
    SE.run_available_now(enr, "stream_enrich_sink", ck,
                         shuffle_partitions=_STREAM_PARTS)
    return (spark.table("stream_enrich_sink")
            .filter(F.col("hour") < F.lit("2025-01-01").cast("timestamp"))
            .select("hour", "n_name", "n", "sum_value"))


ORACLE["stream_enrich"] = """
SELECT date_trunc('hour', e.ts) AS hour, n.n_name,
       COUNT(*) AS n, ROUND(SUM(e.value), 4) AS sum_value
FROM events e JOIN nation n ON n.n_nationkey = e.user_id % 25
GROUP BY 1, 2
"""


# --- the reference's CAPSTONE artifact (VERDICT r03 next-#1): the
# multi-layer wide-merged extraction table. The reference runs
# areadist per footprint layer (14-way merge, C_…R:1194-1208) and
# areadist.wet per wetland class (5-way, D_…R:595-608), suffix-renames
# each layer's metric columns, and inner-merges everything on
# (PKEY, SS, YEAR). Here: the two feature sides are unioned (ids made
# unique per side) and ONE areadist call answers all 19 layers — the 14
# footprint layers with the temporal theta and MEANAGE (the
# areadist.age variant), the 5 wetland classes with neither
# (areadist.wet) — and emits the <layer>_<METRIC> row per point
# directly: no pivot, no key join (one join over the union of the
# branches instead of one per branch, as in Teradata's joins over
# UNION ALL, SIGMOD 2018). 19 layers × metrics = 123 metric columns,
# the reference's "give me the output table" answer in one call. The
# planner picks the kernel on the union: one fused pass over one
# broadcast index, or past the broadcast gate the tiled kernel, which
# runs the same body per coarse tile and emits the same columns. Every
# point is emitted densely (LEFT semantics) by both, so the point count
# is preserved — the reference's 83,439-row invariant (C_…R:707-709),
# asserted in tests/test_wide_merge.py.
_WM_LAYERS = [f"L{i:02d}" for i in range(14)]
_WM_CLASSES = ["Bog", "Fen", "Marsh", "Open_Water", "Swamp"]
# the wetland side's feature ids move past every footprint id
_WM_SIDE_SHIFT = 40


def _wide_select(df, blocks):
    """The keys and the rounded <layer>_<METRIC> blocks, in `blocks`
    order ((layer, has MEANAGE) pairs), in one selectExpr."""
    return df.selectExpr("PKEY", "SS", "YEAR", *[
        e for name, with_age in blocks
        for e in spatial_queries._flagship_exprs(f"{name}_", with_age)])


def _wide_merge(spark, sf_dir, foot_polys, wet_polys, dissolve):
    """14 footprint layers (temporal + age) and 5 wetland classes per
    point, rounded, one row per point with a <layer>_<METRIC> block per
    layer. `foot_polys` / `wet_polys` build the feature sides (layer
    columns `layer` / `CWCS_Class`)."""
    shared = set(_WM_LAYERS) & set(_WM_CLASSES)
    if shared:
        raise ValueError(f"wide_merge: layer names {sorted(shared)} are in "
                         f"both the footprint and the wetland side")
    blocks = [(L, True) for L in _WM_LAYERS] + [(C, False) for C in _WM_CLASSES]
    pts = _keyed_points(spark, sf_dir)
    foot, wet = foot_polys(), wet_polys()

    def side(polys, layer_col, layers, n):
        return polys.selectExpr(
            f"feature_id + {n << _WM_SIDE_SHIFT} AS feature_id",
            f"`{layer_col}` AS layer", "YEAR", "geom",
        ).filter(F.col("layer").isin(*layers))

    union = side(foot, "layer", _WM_LAYERS, 0).unionByName(
        side(wet, "CWCS_Class", _WM_CLASSES, 1))
    return _wide_select(areadist(
        pts, union, temporal=frozenset(_WM_LAYERS), age=frozenset(_WM_LAYERS),
        validity_filter=False, dissolve=dissolve,
        wide=(*_WM_LAYERS, *_WM_CLASSES)), blocks)


def q_wide_merge_sum(spark, sf_dir):
    def foot_polys():
        lay = F.format_string("L%02d",
                              F.pmod(F.col("fid"), F.lit(14)).cast("int"))
        return rects_df(spark, sf_dir).select(
            F.col("fid").alias("feature_id"), lay.alias("layer"),
            F.col("ryear").alias("YEAR"), "geom")

    def wet_polys():
        cls = F.element_at(
            F.array(*[F.lit(c) for c in _WM_CLASSES]),
            (F.pmod(F.col("fid"), F.lit(5)) + 1).cast("int"))
        return rects_df(spark, sf_dir).select(
            F.col("fid").alias("feature_id"), cls.alias("CWCS_Class"),
            F.lit(0).cast("int").alias("YEAR"), "geom")

    return _wide_merge(spark, sf_dir, foot_polys, wet_polys, dissolve="sum")


def _wide_merge_sum_oracle() -> str:
    """Programmatically composed DuckDB oracle: the same closed-form
    circular-segment area + per-layer conditional-aggregation pivot,
    14 temporal+age footprint blocks and 5 wetland blocks, merged on
    pid. Column names match the Spark pivot's <layer>_<METRIC>."""
    ca150 = spatial_queries._sql_circle_rect_area(150.0)
    ca565 = spatial_queries._sql_circle_rect_area(565.0)
    R = spatial_queries._R
    rects = f"""
  SELECT p_partkey AS fid,
         printf('L%02d', CAST(p_partkey % 14 AS INT)) AS layer,
         CASE p_partkey % 5 WHEN 0 THEN 'Bog' WHEN 1 THEN 'Fen'
              WHEN 2 THEN 'Marsh' WHEN 3 THEN 'Open_Water'
              ELSE 'Swamp' END AS cls,
         {R['rxmin']} AS rxmin, {R['rymin']} AS rymin,
         {R['rxmax']} AS rxmax, {R['rymax']} AS rymax,
         {R['ryear']} AS ryear
  FROM part
"""
    dist = """SQRT(GREATEST(rxmin - x, x - rxmax, 0.0)
                * GREATEST(rxmin - x, x - rxmax, 0.0)
              + GREATEST(rymin - y, y - rymax, 0.0)
                * GREATEST(rymin - y, y - rymax, 0.0))"""
    # footprint pivot: per (pid, layer) aggregates → MAX(CASE) pivot
    fpiv_cols, fsel_cols = [], []
    for L in _WM_LAYERS:
        for m in ("near", "a150", "a565", "n150", "d150", "n565", "d565"):
            fpiv_cols.append(
                f"MAX(CASE WHEN layer = '{L}' THEN {m} END) AS {m}_{L}")
        fsel_cols.append(
            f"ROUND(LEAST(COALESCE(near_{L}, 1000.0), 1000.0), 4) "
            f"AS {L}_NEAR_DIST")
        for r in (150, 565):
            fsel_cols.append(
                f"ROUND(COALESCE(a{r}_{L}, 0.0), 2) AS {L}_AREA{r}")
            fsel_cols.append(
                f"ROUND(COALESCE(a{r}_{L}, 0.0) / (3.14 * {r} * {r}), 6) "
                f"AS {L}_PROP{r}")
            fsel_cols.append(
                f"CASE WHEN ROUND(COALESCE(a{r}_{L}, 0.0), 2) > 0 "
                f"THEN ROUND(n{r}_{L} / d{r}_{L}, 4) END "
                f"AS {L}_MEANAGE_{r}")
    wpiv_cols, wsel_cols = [], []
    for C in _WM_CLASSES:
        for m in ("near", "a150", "a565"):
            wpiv_cols.append(
                f"MAX(CASE WHEN cls = '{C}' THEN {m} END) AS {m}_{C}")
        wsel_cols.append(
            f"ROUND(LEAST(COALESCE(near_{C}, 1000.0), 1000.0), 4) "
            f"AS {C}_NEAR_DIST")
        for r in (150, 565):
            wsel_cols.append(
                f"ROUND(COALESCE(a{r}_{C}, 0.0), 2) AS {C}_AREA{r}")
            wsel_cols.append(
                f"ROUND(COALESCE(a{r}_{C}, 0.0) / (3.14 * {r} * {r}), 6) "
                f"AS {C}_PROP{r}")
    return f"""
WITH mpts AS (
  SELECT * FROM ({spatial_queries._PTS_SQL}) WHERE pid % 10 = 0
), mrects AS ({rects}),
oldest AS (
  SELECT layer, MIN(ryear) AS oldestyear FROM mrects
  WHERE ryear > 0 GROUP BY layer
), fpairs AS (
  SELECT pid, layer, ryear, pyear, oldestyear, dist,
         CASE WHEN dist < 150.0 THEN {ca150} ELSE 0.0 END AS ca150,
         CASE WHEN dist < 565.0 THEN {ca565} ELSE 0.0 END AS ca565
  FROM (
    SELECT p.pid, p.x, p.y, p.pyear, r.*, o.oldestyear, {dist} AS dist
    FROM mpts p CROSS JOIN mrects r
    LEFT JOIN oldest o ON r.layer = o.layer
    WHERE r.ryear < p.pyear
  )
), fagg AS (
  SELECT pid, layer, MIN(dist) AS near,
         SUM(ca150) AS a150, SUM(ca565) AS a565,
         SUM(CASE WHEN ca150 > 0 AND (ryear > 0 OR oldestyear IS NOT NULL)
               THEN (pyear - CASE WHEN ryear = 0 THEN oldestyear
                                  ELSE ryear END) * ca150 END) AS n150,
         SUM(CASE WHEN ca150 > 0 AND (ryear > 0 OR oldestyear IS NOT NULL)
               THEN ca150 END) AS d150,
         SUM(CASE WHEN ca565 > 0 AND (ryear > 0 OR oldestyear IS NOT NULL)
               THEN (pyear - CASE WHEN ryear = 0 THEN oldestyear
                                  ELSE ryear END) * ca565 END) AS n565,
         SUM(CASE WHEN ca565 > 0 AND (ryear > 0 OR oldestyear IS NOT NULL)
               THEN ca565 END) AS d565
  FROM fpairs GROUP BY pid, layer
), fpiv AS (
  SELECT pid, {', '.join(fpiv_cols)} FROM fagg GROUP BY pid
), wpairs AS (
  SELECT pid, cls, dist,
         CASE WHEN dist < 150.0 THEN {ca150} ELSE 0.0 END AS ca150,
         CASE WHEN dist < 565.0 THEN {ca565} ELSE 0.0 END AS ca565
  FROM (
    SELECT p.pid, p.x, p.y, r.*, {dist} AS dist
    FROM mpts p CROSS JOIN mrects r
  )
), wagg AS (
  SELECT pid, cls, MIN(dist) AS near,
         SUM(ca150) AS a150, SUM(ca565) AS a565
  FROM wpairs GROUP BY pid, cls
), wpiv AS (
  SELECT pid, {', '.join(wpiv_cols)} FROM wagg GROUP BY pid
)
SELECT CAST(p.pid AS VARCHAR) AS PKEY,
       CAST(p.pid % 97 AS VARCHAR) AS SS,
       p.pyear AS YEAR,
       {', '.join(fsel_cols)},
       {', '.join(wsel_cols)}
FROM mpts p
LEFT JOIN fpiv ON p.pid = fpiv.pid
LEFT JOIN wpiv ON p.pid = wpiv.pid
"""


ORACLE["wide_merge_sum"] = _wide_merge_sum_oracle()


# --- wide_merge, the PRIMARY-path capstone (VERDICT r04 next-#2): the
# same 19-layer wide-merged output table, but run over the controlled-
# overlap pair-rect fixtures so both feature sides take the
# reference's primary st_union dissolve (C_…R:99,154; D_…R:35,42) —
# dissolve left at its "auto" DEFAULT, overlap corrections kick in
# with no caller hint. The footprint side additionally carries
# independent per-rect construction years (0-sentinels included), so
# the temporal theta prunes corrections by max(member years) and the
# YEAR-recode age math runs over the union fixture. The oracle
# evaluates the three-term inclusion–exclusion closed form per term
# (A +1, B +1, A∩B −1 at GREATEST(yA, yB)) through the same pivot.
# The superseded Σ-of-clips capstone stays driver-visible as
# wide_merge_sum (arbitrary-overlap geotag rects, where no closed-form
# union oracle exists).
def q_wide_merge(spark, sf_dir):
    # _pair_rect_polys is looked up on the module at call time, so a
    # wrapper installed on spatial_queries (perfbench tracing) sees it
    def foot_polys():
        return spatial_queries._pair_rect_polys(spark, sf_dir, foot14=True)

    def wet_polys():
        return spatial_queries._pair_rect_polys(
            spark, sf_dir, with_class=True, classes=tuple(_WM_CLASSES),
            layer_col="CWCS_Class")

    return _wide_merge(spark, sf_dir, foot_polys, wet_polys, dissolve="auto")


def _wide_merge_oracle() -> str:
    """The union-path capstone's oracle: per part key three weighted
    terms (rect A +1, rect B +1, overlap A∩B −1) with theta year
    GREATEST(yA, yB) on the overlap; the footprint blocks apply the
    temporal filter + YEAR-recode age math, the wetland blocks the
    plain per-class union — all through the same conditional-
    aggregation pivot as the sum capstone."""
    ca150 = spatial_queries._sql_circle_rect_area(150.0)
    ca565 = spatial_queries._sql_circle_rect_area(565.0)
    SLOT = spatial_queries._SLOT
    k = f"(p_partkey % {SLOT * SLOT})"
    sx = f"({k} % {SLOT})"
    sy = f"CAST(({k} - {sx}) / {SLOT} AS BIGINT)"
    ox, oy = f"({sx} * 100 + 10)", f"({sy} * 100 + 10)"
    hw, hh = "(10 + p_partkey % 15)", "(8 + p_partkey % 11)"
    terms = f"""
  SELECT p_partkey AS fid, kind,
         printf('L%02d', CAST(p_partkey % 14 AS INT)) AS layer,
         CASE p_partkey % 5 WHEN 0 THEN 'Bog' WHEN 1 THEN 'Fen'
              WHEN 2 THEN 'Marsh' WHEN 3 THEN 'Open_Water'
              ELSE 'Swamp' END AS cls,
         CAST({ox} + CASE WHEN kind IN (1, 2) THEN {hw} ELSE 0 END
              AS DOUBLE) AS rxmin,
         CAST({oy} AS DOUBLE) AS rymin,
         CAST({ox} + 2 * {hw} + CASE WHEN kind = 1 THEN {hw} ELSE 0 END
              AS DOUBLE) AS rxmax,
         CAST({oy} + 2 * {hh} AS DOUBLE) AS rymax,
         CASE WHEN kind = 2 THEN -1.0 ELSE 1.0 END AS w,
         CASE WHEN kind = 0 THEN ya WHEN kind = 1 THEN yb
              ELSE GREATEST(ya, yb) END AS ryear
  FROM (
    SELECT p_partkey,
           CASE WHEN p_partkey % 20 = 0 THEN 0
                ELSE 1990 + (p_partkey % 29) END AS ya,
           CASE WHEN p_partkey % 17 = 0 THEN 0
                ELSE 1992 + ((p_partkey * 3) % 27) END AS yb
    FROM part
  ) CROSS JOIN (SELECT unnest([0, 1, 2]) AS kind)
"""
    dist = """SQRT(GREATEST(rxmin - x, x - rxmax, 0.0)
                * GREATEST(rxmin - x, x - rxmax, 0.0)
              + GREATEST(rymin - y, y - rymax, 0.0)
                * GREATEST(rymin - y, y - rymax, 0.0))"""
    fpiv_cols, fsel_cols = [], []
    for L in _WM_LAYERS:
        for m in ("near", "a150", "a565", "n150", "d150", "n565", "d565"):
            fpiv_cols.append(
                f"MAX(CASE WHEN layer = '{L}' THEN {m} END) AS {m}_{L}")
        fsel_cols.append(
            f"ROUND(LEAST(COALESCE(near_{L}, 1000.0), 1000.0), 4) "
            f"AS {L}_NEAR_DIST")
        for r in (150, 565):
            fsel_cols.append(
                f"ROUND(COALESCE(a{r}_{L}, 0.0), 2) AS {L}_AREA{r}")
            fsel_cols.append(
                f"ROUND(COALESCE(a{r}_{L}, 0.0) / (3.14 * {r} * {r}), 6) "
                f"AS {L}_PROP{r}")
            fsel_cols.append(
                f"CASE WHEN ROUND(COALESCE(a{r}_{L}, 0.0), 2) > 0 "
                f"THEN ROUND(n{r}_{L} / d{r}_{L}, 4) END "
                f"AS {L}_MEANAGE_{r}")
    wpiv_cols, wsel_cols = [], []
    for C in _WM_CLASSES:
        for m in ("near", "a150", "a565"):
            wpiv_cols.append(
                f"MAX(CASE WHEN cls = '{C}' THEN {m} END) AS {m}_{C}")
        wsel_cols.append(
            f"ROUND(LEAST(COALESCE(near_{C}, 1000.0), 1000.0), 4) "
            f"AS {C}_NEAR_DIST")
        for r in (150, 565):
            wsel_cols.append(
                f"ROUND(COALESCE(a{r}_{C}, 0.0), 2) AS {C}_AREA{r}")
            wsel_cols.append(
                f"ROUND(COALESCE(a{r}_{C}, 0.0) / (3.14 * {r} * {r}), 6) "
                f"AS {C}_PROP{r}")
    return f"""
WITH mpts AS (
  SELECT * FROM ({spatial_queries._PTS_SQL}) WHERE pid % 10 = 0
), mterms AS ({terms}),
oldest AS (
  SELECT layer, MIN(ryear) AS oldestyear FROM mterms
  WHERE kind <> 2 AND ryear > 0 GROUP BY layer
), fpairs AS (
  SELECT pid, layer, kind, w, ryear, pyear, oldestyear, dist,
         CASE WHEN dist < 150.0 THEN {ca150} ELSE 0.0 END AS ca150,
         CASE WHEN dist < 565.0 THEN {ca565} ELSE 0.0 END AS ca565
  FROM (
    SELECT p.pid, p.x, p.y, p.pyear, r.*, o.oldestyear, {dist} AS dist
    FROM mpts p CROSS JOIN mterms r
    LEFT JOIN oldest o ON r.layer = o.layer
    WHERE r.ryear < p.pyear
  )
), fagg AS (
  SELECT pid, layer,
         MIN(CASE WHEN kind <> 2 THEN dist END) AS near,
         SUM(w * ca150) AS a150, SUM(w * ca565) AS a565,
         SUM(CASE WHEN kind <> 2 AND ca150 > 0
                   AND (ryear > 0 OR oldestyear IS NOT NULL)
               THEN (pyear - CASE WHEN ryear = 0 THEN oldestyear
                                  ELSE ryear END) * ca150 END) AS n150,
         SUM(CASE WHEN kind <> 2 AND ca150 > 0
                   AND (ryear > 0 OR oldestyear IS NOT NULL)
               THEN ca150 END) AS d150,
         SUM(CASE WHEN kind <> 2 AND ca565 > 0
                   AND (ryear > 0 OR oldestyear IS NOT NULL)
               THEN (pyear - CASE WHEN ryear = 0 THEN oldestyear
                                  ELSE ryear END) * ca565 END) AS n565,
         SUM(CASE WHEN kind <> 2 AND ca565 > 0
                   AND (ryear > 0 OR oldestyear IS NOT NULL)
               THEN ca565 END) AS d565
  FROM fpairs GROUP BY pid, layer
), fpiv AS (
  SELECT pid, {', '.join(fpiv_cols)} FROM fagg GROUP BY pid
), wpairs AS (
  SELECT pid, cls, kind, w, dist,
         CASE WHEN dist < 150.0 THEN {ca150} ELSE 0.0 END AS ca150,
         CASE WHEN dist < 565.0 THEN {ca565} ELSE 0.0 END AS ca565
  FROM (
    SELECT p.pid, p.x, p.y, r.*, {dist} AS dist
    FROM mpts p CROSS JOIN mterms r
  )
), wagg AS (
  SELECT pid, cls,
         MIN(CASE WHEN kind <> 2 THEN dist END) AS near,
         SUM(w * ca150) AS a150, SUM(w * ca565) AS a565
  FROM wpairs GROUP BY pid, cls
), wpiv AS (
  SELECT pid, {', '.join(wpiv_cols)} FROM wagg GROUP BY pid
)
SELECT CAST(p.pid AS VARCHAR) AS PKEY,
       CAST(p.pid % 97 AS VARCHAR) AS SS,
       p.pyear AS YEAR,
       {', '.join(fsel_cols)},
       {', '.join(wsel_cols)}
FROM mpts p
LEFT JOIN fpiv ON p.pid = fpiv.pid
LEFT JOIN wpiv ON p.pid = wpiv.pid
"""


ORACLE["wide_merge"] = _wide_merge_oracle()


# --- as-of (point-in-time) join (r04): for every probe row, the
# latest event of the same user at or before the probe timestamp —
# the leakage-free feature-join primitive Spark lacks natively.
# Probes derive deterministically from orders (user = o_custkey % 150,
# ts = 2024-01-01 + (o_orderkey mod 30 days) seconds, inside the
# events window); the oracle is DuckDB's NATIVE ASOF LEFT JOIN, so the
# window-fill implementation answers to an independent engine's
# definition of as-of semantics, not a replay of itself.
def q_asof_join(spark, sf_dir):
    from ..operators.asof import asof_join
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    probes = o.select(
        F.col("o_orderkey").alias("probe_id"),
        F.pmod("o_custkey", F.lit(150)).alias("user_id"),
        F.expr("timestamp'2024-01-01 00:00:00' + make_interval("
               "0, 0, 0, 0, 0, 0, CAST(o_orderkey % 2592000 AS INT))")
        .alias("ts"))
    out = asof_join(probes, ev, on="user_id",
                    payload=("event_id", "value"), tie_breaker="event_id")
    return out.select("probe_id", "user_id", "event_id_asof",
                      "value_asof", "ts_asof")


ORACLE["asof_join"] = """
SELECT p.probe_id, p.user_id,
       e.event_id AS event_id_asof,
       e.value AS value_asof,
       e.ts AS ts_asof
FROM (
  SELECT o_orderkey AS probe_id,
         o_custkey % 150 AS user_id,
         TIMESTAMP '2024-01-01 00:00:00'
           + (o_orderkey % 2592000) * INTERVAL 1 SECOND AS ts
  FROM orders
) p
ASOF LEFT JOIN events e
  ON p.user_id = e.user_id AND e.ts <= p.ts
"""


# the forward direction (earliest event AT OR AFTER the probe) against
# the flipped-inequality native ASOF join
def q_asof_join_fwd(spark, sf_dir):
    from ..operators.asof import asof_join
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    probes = o.select(
        F.col("o_orderkey").alias("probe_id"),
        F.pmod("o_custkey", F.lit(150)).alias("user_id"),
        F.expr("timestamp'2024-01-01 00:00:00' + make_interval("
               "0, 0, 0, 0, 0, 0, CAST(o_orderkey % 2592000 AS INT))")
        .alias("ts"))
    out = asof_join(probes, ev, on="user_id",
                    payload=("event_id", "value"), direction="forward",
                    tie_breaker="event_id")
    return out.select("probe_id", "user_id", "event_id_asof",
                      "value_asof", "ts_asof")


ORACLE["asof_join_fwd"] = """
SELECT p.probe_id, p.user_id,
       e.event_id AS event_id_asof,
       e.value AS value_asof,
       e.ts AS ts_asof
FROM (
  SELECT o_orderkey AS probe_id,
         o_custkey % 150 AS user_id,
         TIMESTAMP '2024-01-01 00:00:00'
           + (o_orderkey % 2592000) * INTERVAL 1 SECOND AS ts
  FROM orders
) p
ASOF LEFT JOIN events e
  ON p.user_id = e.user_id AND e.ts >= p.ts
"""


# --- the NEAREST direction (r05): whichever of the backward/forward
# matches is closer in time, ties → backward (pandas merge_asof
# convention). The oracle composes DuckDB's two native ASOF joins and
# replays the tie rule — so the engine's two-pass nearest composition
# answers to an independent engine's primitives.
def q_asof_nearest(spark, sf_dir):
    from ..operators.asof import asof_join
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    probes = o.select(
        F.col("o_orderkey").alias("probe_id"),
        F.pmod("o_custkey", F.lit(150)).alias("user_id"),
        F.expr("timestamp'2024-01-01 00:00:00' + make_interval("
               "0, 0, 0, 0, 0, 0, CAST(o_orderkey % 2592000 AS INT))")
        .alias("ts"))
    out = asof_join(probes, ev, on="user_id",
                    payload=("event_id", "value"), direction="nearest",
                    tie_breaker="event_id")
    return out.select("probe_id", "user_id", "event_id_asof",
                      "value_asof", "ts_asof")


ORACLE["asof_nearest"] = """
WITH probes AS (
  SELECT o_orderkey AS probe_id,
         o_custkey % 150 AS user_id,
         TIMESTAMP '2024-01-01 00:00:00'
           + (o_orderkey % 2592000) * INTERVAL 1 SECOND AS ts
  FROM orders
), b AS (
  SELECT p.probe_id, p.user_id, p.ts,
         e.event_id AS eb, e.value AS vb, e.ts AS tb
  FROM probes p ASOF LEFT JOIN events e
    ON p.user_id = e.user_id AND e.ts <= p.ts
), f AS (
  SELECT p.probe_id, e.event_id AS ef, e.value AS vf, e.ts AS tf
  FROM probes p ASOF LEFT JOIN events e
    ON p.user_id = e.user_id AND e.ts >= p.ts
)
SELECT b.probe_id, b.user_id,
  CASE WHEN tb IS NOT NULL AND (tf IS NULL OR (b.ts - tb) <= (tf - b.ts))
       THEN eb ELSE ef END AS event_id_asof,
  CASE WHEN tb IS NOT NULL AND (tf IS NULL OR (b.ts - tb) <= (tf - b.ts))
       THEN vb ELSE vf END AS value_asof,
  CASE WHEN tb IS NOT NULL AND (tf IS NULL OR (b.ts - tb) <= (tf - b.ts))
       THEN tb ELSE tf END AS ts_asof
FROM b JOIN f USING (probe_id)
"""


# --- interval-overlap join (r04): the hex-cell candidate pattern in
# 1-D time — intervals explode over coarse buckets, equi join on
# (user, bucket), JVM overlap refine, exactly-once via the
# first-shared-bucket owner trick. Probes are 30-min windows derived
# from orders; events carry (event_id % 7 + 1)-minute windows; the
# oracle is the plain-SQL overlap theta join.
def q_interval_join(spark, sf_dir):
    from ..operators.intervals import interval_join
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id", "event_id", F.col("ts").alias("es"),
        F.expr("ts + make_interval(0, 0, 0, 0, 0, "
               "CAST(event_id % 7 + 1 AS INT), 0)").alias("ee"))
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    probes = o.select(
        F.col("o_orderkey").alias("probe_id"),
        F.pmod("o_custkey", F.lit(150)).alias("user_id"),
        F.expr("timestamp'2024-01-01 00:00:00' + make_interval("
               "0, 0, 0, 0, 0, 0, CAST(o_orderkey % 2592000 AS INT))")
        .alias("ps"))
    probes = probes.withColumn(
        "pe", F.expr("ps + make_interval(0, 0, 0, 0, 0, 30, 0)"))
    out = interval_join(probes, ev, "ps", "pe", "es", "ee",
                        key="user_id", bucket_width_seconds=1800)
    return out.select(
        F.col("probe_id_l").alias("probe_id"), "user_id",
        F.col("event_id_r").alias("event_id"))


ORACLE["interval_join"] = """
SELECT p.probe_id, p.user_id, e.event_id
FROM (
  SELECT o_orderkey AS probe_id,
         o_custkey % 150 AS user_id,
         TIMESTAMP '2024-01-01 00:00:00'
           + (o_orderkey % 2592000) * INTERVAL 1 SECOND AS ps,
         TIMESTAMP '2024-01-01 00:00:00'
           + (o_orderkey % 2592000) * INTERVAL 1 SECOND
           + INTERVAL 30 MINUTE AS pe
  FROM orders
) p
JOIN (
  SELECT user_id, event_id, ts AS es,
         ts + (event_id % 7 + 1) * INTERVAL 1 MINUTE AS ee
  FROM events
) e ON p.user_id = e.user_id AND p.ps <= e.ee AND e.es <= p.pe
"""


# --- resize as a driver-oracled query (r04 — was pytest-only): decode
# → area-resize 16×16 → PNG re-encode → decode → exact per-channel
# integer SUMS. The oracle replays the block-mean resize in integer
# SQL, including NumPy's round-HALF-TO-EVEN on exact .5 block means
# (2·(s mod k²) vs k² comparisons — no float division, so the k=6
# blocks of 96-px images can't drift). Sums are integers < 2^53 →
# bit-identical, no rounding contract needed.
def q_resize_stats(spark, sf_dir):
    import numpy as np
    import pandas as pd

    from ..data import codec
    from ..operators.multimodal import resize_images

    n = 240  # matches the multimodal_stats fixture and the SQL below
    images = spark.createDataFrame(synth.images_pdf(n))
    rs = resize_images(images, 16, 16)
    schema = "image_id string, sum_r long, sum_g long, sum_b long"

    def gen(batches):
        for pdf in batches:
            rows = []
            for r in pdf.itertuples():
                img = codec.decode_image(bytes(r.bytes), r.fmt, r.w, r.h)
                s = img.astype(np.int64).sum(axis=(0, 1))
                rows.append((r.image_id, int(s[0]), int(s[1]), int(s[2])))
            yield pd.DataFrame(rows, columns=["image_id", "sum_r",
                                              "sum_g", "sum_b"])

    return rs.mapInPandas(gen, schema)


ORACLE["resize_stats"] = """
WITH imgs AS (
  SELECT i,
    printf('img%08d', i) AS image_id,
    CASE i % 3 WHEN 0 THEN 32 WHEN 1 THEN 64 ELSE 96 END AS w,
    CASE (i // 3) % 3 WHEN 0 THEN 32 WHEN 1 THEN 64 ELSE 96 END AS h,
    42 * 1000003 + i AS base
  FROM range(240) t(i)
), px AS (
  SELECT image_id, w, h, j,
    xor((((base + j * 2654435761) % 4294967291) * 279470273) % 4294967291,
        ((((base + j * 2654435761) % 4294967291) * 279470273) % 4294967291)
        >> 16) % 256 AS v,
    j % 3 AS ch,
    (j // 3) // w AS py,
    (j // 3) % w AS pxx
  FROM imgs, LATERAL (SELECT UNNEST(range(w*h*3)) AS j)
), blk AS (
  SELECT image_id, ch,
    SUM(v) AS s, (h // 16) * (w // 16) AS k2
  FROM px
  GROUP BY image_id, ch, h, w, py // (h // 16), pxx // (w // 16)
), rb AS (
  SELECT image_id, ch,
    s // k2 + CASE WHEN 2 * (s % k2) > k2 THEN 1
                   WHEN 2 * (s % k2) = k2 AND (s // k2) % 2 = 1 THEN 1
                   ELSE 0 END AS rv
  FROM blk
)
SELECT image_id,
  CAST(SUM(CASE WHEN ch = 0 THEN rv END) AS BIGINT) AS sum_r,
  CAST(SUM(CASE WHEN ch = 1 THEN rv END) AS BIGINT) AS sum_g,
  CAST(SUM(CASE WHEN ch = 2 THEN rv END) AS BIGINT) AS sum_b
FROM rb GROUP BY image_id
"""


# --- Sobel edge statistics (r06): the 3×3 integer convolution on
# channel 0, exact int64 both sides. Spark runs the shuffle-free
# mapInPandas kernel (operators/multimodal.sobel_stats); DuckDB
# re-derives every pixel from the Lehmer closed form and evaluates the
# SAME convolution as a 9-offset SCATTER equi join (the focal_mean
# oracle pattern at image altitude) — independent data path, identical
# integers.
def q_sobel_stats(spark, sf_dir):
    from ..operators.multimodal import sobel_stats
    n = 120  # first half of the 240-image fixture; matches range(120)
    images = spark.createDataFrame(synth.images_pdf(n))
    return sobel_stats(images)


ORACLE["sobel_stats"] = """
WITH imgs AS (
  SELECT printf('img%08d', i) AS image_id,
    CASE i % 3 WHEN 0 THEN 32 WHEN 1 THEN 64 ELSE 96 END AS w,
    CASE (i // 3) % 3 WHEN 0 THEN 32 WHEN 1 THEN 64 ELSE 96 END AS h,
    42 * 1000003 + i AS base
  FROM range(120) t(i)
), px AS (
  SELECT image_id, w, h,
    (j // 3) // w AS py,
    (j // 3) % w AS pxx,
    xor((((base + j * 2654435761) % 4294967291) * 279470273) % 4294967291,
        ((((base + j * 2654435761) % 4294967291) * 279470273) % 4294967291)
        >> 16) % 256 AS v
  FROM imgs, LATERAL (SELECT UNNEST(range(w*h*3)) AS j)
  WHERE j % 3 = 0
), offs AS (
  SELECT dr.dr, dc.dc
  FROM (VALUES (-1), (0), (1)) dr(dr), (VALUES (-1), (0), (1)) dc(dc)
), tgt AS (
  -- materialize the 9 scatter targets as plain columns so the n-side
  -- join is a composite-key HASH join (image_id, py, pxx) — the
  -- inlined `n.py = c.py + o.dr` form degrades to a single-key join
  -- on image_id with a 4096²-per-image filter
  SELECT c.image_id, c.py, c.pxx, o.dr, o.dc,
         c.py + o.dr AS npy, c.pxx + o.dc AS npx
  FROM px c CROSS JOIN offs o
  WHERE c.py >= 1 AND c.py <= c.h - 2
    AND c.pxx >= 1 AND c.pxx <= c.w - 2
), g AS (
  SELECT t.image_id, t.py, t.pxx,
    SUM(n.v * t.dc * (2 - ABS(t.dr))) AS gx,
    SUM(n.v * t.dr * (2 - ABS(t.dc))) AS gy
  FROM tgt t
  JOIN px n ON n.image_id = t.image_id
           AND n.py = t.npy AND n.pxx = t.npx
  GROUP BY t.image_id, t.py, t.pxx
)
SELECT image_id,
  CAST(SUM(ABS(gx) + ABS(gy)) AS BIGINT) AS edge_energy,
  CAST(MAX(ABS(gx) + ABS(gy)) AS BIGINT) AS max_grad
FROM g GROUP BY image_id
"""


# --- blob detection (r06): threshold channel 0 at 192 (foreground
# density 1/4 — safely below the 4-connected site-percolation
# threshold, so blobs stay small and the oracle's closure stays
# bounded), label the 4-connected components per image, report
# n_fg / n_blobs / max_blob. The engine runs per-image union-find
# inside mapInPandas (operators/multimodal.blob_stats); the oracle
# settles the SAME pixel graph with a RECURSIVE transitive closure —
# union-find vs closure, the grid_clusters adversarial pattern at
# image altitude. Neighbor edges join on the packed pixel key
# (i·10000 + flat, flat < 9216) via key+1 / key+w arithmetic — a
# single-key equi join, not an inlined coordinate predicate (the
# sobel oracle's lesson: inlined forms degrade to a per-image
# quadratic filter).
def q_blob_stats(spark, sf_dir):
    from ..operators.multimodal import blob_stats
    images = spark.createDataFrame(synth.images_pdf(40))
    return blob_stats(images)


ORACLE["blob_stats"] = """
WITH RECURSIVE imgs AS (
  SELECT i, printf('img%08d', i) AS image_id,
    CASE i % 3 WHEN 0 THEN 32 WHEN 1 THEN 64 ELSE 96 END AS w,
    CASE (i // 3) % 3 WHEN 0 THEN 32 WHEN 1 THEN 64 ELSE 96 END AS h,
    42 * 1000003 + i AS base
  FROM range(40) t(i)
), fg AS MATERIALIZED (
  SELECT image_id, i * 10000 + (j // 3) AS key,
         (j // 3) % w AS pxx, w
  FROM imgs, LATERAL (SELECT UNNEST(range(w*h*3)) AS j)
  WHERE j % 3 = 0
    AND xor((((base + j * 2654435761) % 4294967291) * 279470273) % 4294967291,
        ((((base + j * 2654435761) % 4294967291) * 279470273) % 4294967291)
        >> 16) % 256 >= 192
), e0 AS (
  SELECT a.key AS src, b.key AS dst
  FROM fg a JOIN fg b ON b.key = a.key + 1
  WHERE a.pxx < a.w - 1
  UNION ALL
  SELECT a.key, b.key FROM fg a JOIN fg b ON b.key = a.key + a.w
), edges AS MATERIALIZED (
  SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0
), reach(src, dst) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
), comp AS (
  SELECT src AS key, LEAST(src, MIN(dst)) AS comp_id FROM reach GROUP BY src
), blobs AS (
  SELECT f.image_id, COALESCE(c.comp_id, f.key) AS lab, COUNT(*) AS sz
  FROM fg f LEFT JOIN comp c ON c.key = f.key
  GROUP BY 1, 2
), agg AS (
  SELECT image_id, CAST(SUM(sz) AS BIGINT) AS n_fg,
         COUNT(*) AS n_blobs, CAST(MAX(sz) AS BIGINT) AS max_blob
  FROM blobs GROUP BY image_id
)
SELECT i.image_id, COALESCE(n_fg, 0) AS n_fg,
       COALESCE(n_blobs, 0) AS n_blobs, COALESCE(max_blob, 0) AS max_blob
FROM imgs i LEFT JOIN agg USING (image_id)
"""


# --- histogram equalization (r06): the contrast-normalization remap
# eq(v) = ((cdf(v) − cdf_min)·255) // (n − cdf_min) in exact integer
# arithmetic. The engine's per-image bincount+cumsum (mapInPandas) is
# replayed by the oracle as a per-(image, value) GROUP BY plus a
# CUMULATIVE WINDOW SUM ordered by value — a genuinely different
# formulation (window algebra vs array scan) over the same Lehmer
# pixels; integer // keeps both engines bit-identical.
# --- mathematical morphology (r06): erosion / dilation / opening
# with the 3×3 cross over the thresholded channel-0 mask — the
# despeckle diagnostics of vision data filtering. Engine: four
# whole-array NumPy shifts per pass inside mapInPandas. Oracle: the
# SAME sets derived relationally — erosion as a 4-way self equi join
# on packed neighbour keys (all 4 neighbours present), dilation and
# opening as a 5-arm UNION-ALL scatter + DISTINCT — set algebra vs
# array shifts, agreeing pixel-for-pixel through the codec
# round-trip and the Lehmer closed form.
def q_morph_stats(spark, sf_dir):
    from ..operators.multimodal import morph_stats
    images = spark.createDataFrame(synth.images_pdf(48))
    return morph_stats(images)


_PIX_FG = """xor((((base + j * 2654435761) % 4294967291) * 279470273)
        % 4294967291,
        ((((base + j * 2654435761) % 4294967291) * 279470273)
        % 4294967291) >> 16) % 256 >= 192"""

ORACLE["morph_stats"] = f"""
WITH imgs AS (
  SELECT i, printf('img%08d', i) AS image_id,
    CASE i % 3 WHEN 0 THEN 32 WHEN 1 THEN 64 ELSE 96 END AS w,
    CASE (i // 3) % 3 WHEN 0 THEN 32 WHEN 1 THEN 64 ELSE 96 END AS h,
    42 * 1000003 + i AS base
  FROM range(48) t(i)
), fg AS MATERIALIZED (
  SELECT image_id, i * 10000 + (j // 3) AS key,
         (j // 3) % w AS px, (j // 3) // w AS py, w, h
  FROM imgs, LATERAL (SELECT UNNEST(range(w*h*3)) AS j) u
  WHERE j % 3 = 0 AND {_PIX_FG}
), er AS MATERIALIZED (
  SELECT a.image_id, a.key, a.px, a.py, a.w, a.h
  FROM fg a
  JOIN fg nr ON nr.key = a.key + 1
  JOIN fg nl ON nl.key = a.key - 1
  JOIN fg nd ON nd.key = a.key + a.w
  JOIN fg nu ON nu.key = a.key - a.w
  WHERE a.px BETWEEN 1 AND a.w - 2 AND a.py BETWEEN 1 AND a.h - 2
), dil AS (
  SELECT DISTINCT image_id, key FROM (
    SELECT image_id, key FROM fg
    UNION ALL SELECT image_id, key + 1 FROM fg WHERE px < w - 1
    UNION ALL SELECT image_id, key - 1 FROM fg WHERE px > 0
    UNION ALL SELECT image_id, key + w FROM fg WHERE py < h - 1
    UNION ALL SELECT image_id, key - w FROM fg WHERE py > 0
  ) s
), op AS (
  SELECT DISTINCT image_id, key FROM (
    SELECT image_id, key FROM er
    UNION ALL SELECT image_id, key + 1 FROM er WHERE px < w - 1
    UNION ALL SELECT image_id, key - 1 FROM er WHERE px > 0
    UNION ALL SELECT image_id, key + w FROM er WHERE py < h - 1
    UNION ALL SELECT image_id, key - w FROM er WHERE py > 0
  ) s
)
SELECT i.image_id,
       COALESCE(f.n, 0) AS n_fg, COALESCE(e.n, 0) AS n_eroded,
       COALESCE(d.n, 0) AS n_dilated, COALESCE(o.n, 0) AS n_opened
FROM imgs i
LEFT JOIN (SELECT image_id, COUNT(*) AS n FROM fg GROUP BY 1) f
  USING (image_id)
LEFT JOIN (SELECT image_id, COUNT(*) AS n FROM er GROUP BY 1) e
  USING (image_id)
LEFT JOIN (SELECT image_id, COUNT(*) AS n FROM dil GROUP BY 1) d
  USING (image_id)
LEFT JOIN (SELECT image_id, COUNT(*) AS n FROM op GROUP BY 1) o
  USING (image_id)
"""


def q_hist_equalize(spark, sf_dir):
    from ..operators.multimodal import hist_equalize_stats
    images = spark.createDataFrame(synth.images_pdf(60))
    return hist_equalize_stats(images)


ORACLE["hist_equalize"] = """
WITH imgs AS (
  SELECT i, printf('img%08d', i) AS image_id,
    CASE i % 3 WHEN 0 THEN 32 WHEN 1 THEN 64 ELSE 96 END AS w,
    CASE (i // 3) % 3 WHEN 0 THEN 32 WHEN 1 THEN 64 ELSE 96 END AS h,
    42 * 1000003 + i AS base
  FROM range(60) t(i)
), px AS (
  SELECT image_id, w * h AS n,
    xor((((base + j * 2654435761) % 4294967291) * 279470273) % 4294967291,
        ((((base + j * 2654435761) % 4294967291) * 279470273) % 4294967291)
        >> 16) % 256 AS v
  FROM imgs, LATERAL (SELECT UNNEST(range(w*h*3)) AS j)
  WHERE j % 3 = 0
), byval AS (
  SELECT image_id, n, v, COUNT(*) AS cnt FROM px GROUP BY 1, 2, 3
), cdf AS (
  SELECT image_id, n, v, cnt,
         SUM(cnt) OVER (PARTITION BY image_id ORDER BY v) AS c
  FROM byval
), eqv AS (
  SELECT image_id, cnt,
         ((c - MIN(c) OVER (PARTITION BY image_id)) * 255)
           // (n - MIN(c) OVER (PARTITION BY image_id)) AS eq
  FROM cdf
)
SELECT image_id,
  CAST(SUM(eq * cnt) AS BIGINT) AS eq_sum,
  COUNT(DISTINCT eq) AS eq_distinct,
  CAST(MAX(eq) AS BIGINT) AS eq_max
FROM eqv GROUP BY image_id
"""


# --- chip extraction (r06): the decode→crop step of a vision
# training pipeline fused with the geotag — each image's 16×16 chip
# is cut at a PER-ROW offset (data columns, not parameters:
# ox = 7i mod (w−15), oy = 11i mod (h−15)), and the image's point
# lands in a fishnet tile, yielding (chip stats, tile) training rows.
# The oracle re-derives the chip's pixels from the Lehmer closed form
# restricted to the crop window — one row off in either axis breaks
# every sum.
def q_chip_extract(spark, sf_dir):
    from ..data import geotag as G
    from ..operators.multimodal import crop_stats

    n, TILE = 120, 1250
    imgs = spark.createDataFrame(synth.images_pdf(n)) \
        .withColumn("i", F.expr("CAST(substring(image_id, 4, 8) AS BIGINT)")) \
        .withColumn("ox", (F.col("i") * 7 % (F.col("w") - 15)).cast("int")) \
        .withColumn("oy", (F.col("i") * 11 % (F.col("h") - 15)).cast("int"))
    chips = crop_stats(imgs, "ox", "oy", size=16)
    pts = imgs.select(
        "image_id",
        F.floor(F.expr(G.sql_point_x("i")) / TILE).cast("int").alias("tile_x"),
        F.floor(F.expr(G.sql_point_y("i")) / TILE).cast("int").alias("tile_y"))
    return pts.join(chips, "image_id")


def _chip_oracle() -> str:
    from ..data import geotag as G
    return f"""
WITH imgs AS (
  SELECT i, printf('img%08d', i) AS image_id,
    CASE i % 3 WHEN 0 THEN 32 WHEN 1 THEN 64 ELSE 96 END AS w,
    CASE (i // 3) % 3 WHEN 0 THEN 32 WHEN 1 THEN 64 ELSE 96 END AS h,
    42 * 1000003 + i AS base
  FROM range(120) t(i)
), win AS (
  SELECT *, (i * 7) % (w - 15) AS ox, (i * 11) % (h - 15) AS oy FROM imgs
), chip AS (
  SELECT image_id,
    CAST(SUM(v) AS BIGINT) AS chip_sum, CAST(MAX(v) AS BIGINT) AS chip_max
  FROM (
    SELECT image_id,
      xor((((base + j * 2654435761) % 4294967291) * 279470273) % 4294967291,
          ((((base + j * 2654435761) % 4294967291) * 279470273) % 4294967291)
          >> 16) % 256 AS v
    FROM win, LATERAL (SELECT UNNEST(range(w*h*3)) AS j)
    WHERE j % 3 = 0
      AND (j // 3) // w BETWEEN oy AND oy + 15
      AND (j // 3) % w BETWEEN ox AND ox + 15
  ) GROUP BY image_id
)
SELECT image_id,
  CAST(FLOOR({G.sql_point_x('i')} / 1250) AS INT) AS tile_x,
  CAST(FLOOR({G.sql_point_y('i')} / 1250) AS INT) AS tile_y,
  chip_sum, chip_max
FROM imgs JOIN chip USING (image_id)
"""


ORACLE["chip_extract"] = _chip_oracle()


# --- the NORTH-STAR chain in one driver row (r06): the Iceberg-shaped
# image+caption table (BASELINE.json input_hint) → distributed decode
# → deterministic geotag → cell-indexed spatial join against the
# footprint layer → per-image tile assignment + capped nearest
# distance, with the graft invariants DRIVER-VISIBLE: caption rides
# through byte-equal (the oracle REBUILDS it with printf), the decoded
# pixels are pinned exactly (channel-0 sum re-derived from the Lehmer
# closed form through the PNG/raw round-trip). Everything else in the
# registry proves these pieces separately; this row proves the chain.
# --- summed-area table probe (r06): the integral-image primitive.
# The engine answers a per-row box query THROUGH the SAT's 4-corner
# identity after two whole-array cumsums; the oracle sums the same
# three regions DIRECTLY from the Lehmer closed form (prefix-sum
# algebra vs plain region filters — any cumsum/corner off-by-one
# breaks a column). Windows at per-row data-driven offsets.
def q_sat_probe(spark, sf_dir):
    from ..operators.multimodal import sat_stats
    n = 60
    imgs = (spark.createDataFrame(synth.images_pdf(n))
            .withColumn("i", F.expr("CAST(substring(image_id, 4, 8) "
                                    "AS BIGINT)"))
            .withColumn("ox", (F.col("i") * 5 % (F.col("w") - 16)))
            .withColumn("oy", (F.col("i") * 9 % (F.col("h") - 16))))
    return sat_stats(imgs, x0="ox", y0="oy", size=16)


ORACLE["sat_probe"] = """
WITH imgs AS (
  SELECT i, printf('img%08d', i) AS image_id,
    CASE i % 3 WHEN 0 THEN 32 WHEN 1 THEN 64 ELSE 96 END AS w,
    CASE (i // 3) % 3 WHEN 0 THEN 32 WHEN 1 THEN 64 ELSE 96 END AS h,
    42 * 1000003 + i AS base
  FROM range(60) t(i)
), px AS MATERIALIZED (
  SELECT image_id, w, h, (i * 5) % (w - 16) AS ox, (i * 9) % (h - 16) AS oy,
         (j // 3) % w AS x, (j // 3) // w AS y,
         xor((((base + j * 2654435761) % 4294967291) * 279470273)
             % 4294967291,
             ((((base + j * 2654435761) % 4294967291) * 279470273)
             % 4294967291) >> 16) % 256 AS v
  FROM imgs, LATERAL (SELECT UNNEST(range(w*h*3)) AS j) u
  WHERE j % 3 = 0
)
SELECT image_id,
  CAST(SUM(v) AS BIGINT) AS total,
  CAST(SUM(CASE WHEN x <= w // 2 AND y <= h // 2 THEN v ELSE 0 END)
       AS BIGINT) AS mid_sat,
  CAST(SUM(CASE WHEN x >= ox AND x < ox + 16
                 AND y >= oy AND y < oy + 16 THEN v ELSE 0 END)
       AS BIGINT) AS win_sum
FROM px GROUP BY image_id
"""


# --- median mosaic composite (r06): the multi-image compositing step
# of every satellite/aerial pipeline (cloud-free mosaic = per-tile
# MEDIAN across overlapping acquisitions), on the input_hint table:
# distributed decode → deterministic geotag → fishnet tile → exact
# per-tile median of the channel-0 integral. Median interpolation at
# p = 0.5 over integer-valued doubles is exact on both engines
# ((a+b)/2 — one add, one halving), so NO rounding; the oracle
# re-derives every pixel sum from the Lehmer closed form and applies
# DuckDB's type-7 quantile_cont (parity pinned by dist_quantiles).
def q_mosaic_median(spark, sf_dir):
    import numpy as np
    import pandas as pd

    from ..data import codec
    from ..data import geotag as G

    imgs = spark.createDataFrame(synth.images_pdf(240))

    def gen(batches):
        for pdf in batches:
            rows = []
            for r in pdf.itertuples():
                img = codec.decode_image(bytes(r.bytes), r.fmt, r.w, r.h)
                rows.append((r.image_id,
                             int(img[..., 0].astype(np.int64).sum())))
            yield pd.DataFrame(rows, columns=["image_id", "sum_r"])

    stats = imgs.mapInPandas(gen, "image_id string, sum_r long")
    pts = (stats
           .withColumn("i", F.expr("CAST(substring(image_id, 4, 8) "
                                   "AS BIGINT)"))
           .withColumn("tile_x", F.floor(
               F.expr(G.sql_point_x("i")) / 2500).cast("long"))
           .withColumn("tile_y", F.floor(
               F.expr(G.sql_point_y("i")) / 2500).cast("long")))
    return (pts.groupBy("tile_x", "tile_y")
            .agg(F.count(F.lit(1)).alias("n_imgs"),
                 F.expr("percentile(sum_r, 0.5)").alias("med_sum"),
                 F.min("sum_r").alias("min_sum"),
                 F.max("sum_r").alias("max_sum")))


def _mosaic_oracle() -> str:
    from ..data import geotag as G
    pix = """xor((((base + j * 2654435761) % 4294967291) * 279470273)
        % 4294967291,
        ((((base + j * 2654435761) % 4294967291) * 279470273)
        % 4294967291) >> 16) % 256"""
    return f"""
WITH imgs AS (
  SELECT i, printf('img%08d', i) AS image_id,
    CASE i % 3 WHEN 0 THEN 32 WHEN 1 THEN 64 ELSE 96 END AS w,
    CASE (i // 3) % 3 WHEN 0 THEN 32 WHEN 1 THEN 64 ELSE 96 END AS h,
    42 * 1000003 + i AS base
  FROM range(240) t(i)
), sums AS (
  SELECT i, CAST(SUM({pix}) AS BIGINT) AS sum_r
  FROM imgs, LATERAL (SELECT UNNEST(range(w*h*3)) AS j) u
  WHERE j % 3 = 0 GROUP BY i
), pts AS (
  SELECT sum_r,
    CAST(FLOOR({G.sql_point_x('i')} / 2500) AS BIGINT) AS tile_x,
    CAST(FLOOR({G.sql_point_y('i')} / 2500) AS BIGINT) AS tile_y
  FROM sums
)
SELECT tile_x, tile_y, COUNT(*) AS n_imgs,
       quantile_cont(sum_r, 0.5) AS med_sum,
       MIN(sum_r) AS min_sum, MAX(sum_r) AS max_sum
FROM pts GROUP BY 1, 2
"""


ORACLE["mosaic_median"] = _mosaic_oracle()


def q_image_extract(spark, sf_dir):
    import numpy as np
    import pandas as pd

    from ..data import codec
    from ..data import geotag as G
    from ..geo import index as I
    from ..operators.range_join import explode_bbox_cells, with_cell

    n = 240
    imgs = spark.createDataFrame(synth.images_pdf(n))

    def gen(batches):
        for pdf in batches:
            rows = []
            for r in pdf.itertuples():
                img = codec.decode_image(bytes(r.bytes), r.fmt, r.w, r.h)
                rows.append((r.image_id,
                             int(img[..., 0].astype(np.int64).sum())))
            yield pd.DataFrame(rows, columns=["image_id", "sum_r"])

    stats = imgs.mapInPandas(gen, "image_id string, sum_r long")

    MAXDIST, TILE = 1000.0, 1250
    pts = imgs.select(
        "image_id", "caption",
        F.expr("CAST(substring(image_id, 4, 8) AS BIGINT)").alias("i"))
    pts = pts.withColumn("x", F.expr(G.sql_point_x("i"))) \
             .withColumn("y", F.expr(G.sql_point_y("i")))
    code = I.code_for_radius(MAXDIST / 4.0)
    p = with_cell(pts, code)
    rects = explode_bbox_cells(
        spatial_queries.rects_df(spark, sf_dir).drop("geom"),
        MAXDIST, code)
    pairs = p.join(F.broadcast(rects), "cell")
    dx = F.greatest(F.col("rxmin") - F.col("x"),
                    F.col("x") - F.col("rxmax"), F.lit(0.0))
    dy = F.greatest(F.col("rymin") - F.col("y"),
                    F.col("y") - F.col("rymax"), F.lit(0.0))
    pairs = pairs.withColumn("dist", F.sqrt(dx * dx + dy * dy)) \
        .filter(F.col("dist") < MAXDIST)
    agg = pairs.groupBy("image_id").agg(
        F.count(F.lit(1)).alias("n_cand"),
        F.min("dist").alias("near_dist"))
    return (pts.join(agg, "image_id", "left").join(stats, "image_id")
            .select(
                "image_id", "caption", "sum_r",
                F.floor(F.col("x") / TILE).cast("int").alias("tile_x"),
                F.floor(F.col("y") / TILE).cast("int").alias("tile_y"),
                F.coalesce("n_cand", F.lit(0)).alias("n_cand"),
                F.coalesce("near_dist", F.lit(MAXDIST)).alias("near_dist")))


def _image_extract_oracle() -> str:
    from ..data import geotag as G
    rects = spatial_queries._RECTS_SQL
    return f"""
WITH imgs AS (
  SELECT i, printf('img%08d', i) AS image_id,
    printf('A caption for image %08d in tone %d about subject %d.',
           i, i % 7, i % 13) AS caption,
    CASE i % 3 WHEN 0 THEN 32 WHEN 1 THEN 64 ELSE 96 END AS w,
    CASE (i // 3) % 3 WHEN 0 THEN 32 WHEN 1 THEN 64 ELSE 96 END AS h,
    42 * 1000003 + i AS base,
    {G.sql_point_x('i')} AS x, {G.sql_point_y('i')} AS y
  FROM range(240) t(i)
), px AS (
  SELECT image_id,
    xor((((base + j * 2654435761) % 4294967291) * 279470273) % 4294967291,
        ((((base + j * 2654435761) % 4294967291) * 279470273) % 4294967291)
        >> 16) % 256 AS v
  FROM imgs, LATERAL (SELECT UNNEST(range(w*h*3)) AS j)
  WHERE j % 3 = 0
), sums AS (
  SELECT image_id, CAST(SUM(v) AS BIGINT) AS sum_r FROM px GROUP BY 1
), near AS (
  SELECT image_id, COUNT(*) AS n_cand, MIN(dist) AS near
  FROM (
    SELECT p.image_id,
           SQRT(GREATEST(rxmin - x, x - rxmax, 0.0)
                * GREATEST(rxmin - x, x - rxmax, 0.0)
              + GREATEST(rymin - y, y - rymax, 0.0)
                * GREATEST(rymin - y, y - rymax, 0.0)) AS dist
    FROM imgs p CROSS JOIN ({rects})
  ) WHERE dist < 1000.0 GROUP BY image_id
)
SELECT i.image_id, i.caption, s.sum_r,
       CAST(FLOOR(i.x / 1250) AS INT) AS tile_x,
       CAST(FLOOR(i.y / 1250) AS INT) AS tile_y,
       COALESCE(n.n_cand, 0) AS n_cand,
       COALESCE(n.near, 1000.0) AS near_dist
FROM imgs i JOIN sums s ON i.image_id = s.image_id
LEFT JOIN near n ON i.image_id = n.image_id
"""


ORACLE["image_extract"] = _image_extract_oracle()


# --- the LOSSY codec leg of the multimodal path (VERDICT r04 next-#8):
# every fixture image re-encodes as CJPG (the from-scratch DCT +
# quantization codec), decodes DISTRIBUTED through the same
# mapInPandas plumbing as resize_stats, and the per-image PSNR vs the
# regenerated Lehmer ground truth is computed Spark-side. CJPG is
# lossy, so no SQL can re-derive the pixels; instead the oracle pins
# the verdict column — psnr_ge_40 = TRUE for every image — so a hash
# match proves the codec's provable PSNR ≥ 40 dB bound (pytest proves
# it analytically; this row makes it driver-visible end-to-end).
def q_resize_stats_cjpg(spark, sf_dir):
    import numpy as np
    import pandas as pd

    from ..data import codec

    n = 240
    pdf = synth.images_pdf(n)
    rows = []
    for r in pdf.itertuples():  # fixture construction, like shapefile_scan
        img = codec.decode_image(bytes(r.bytes), r.fmt, r.w, r.h)
        rows.append({"image_id": r.image_id, "bytes": codec.cjpg_encode(img),
                     "w": int(r.w), "h": int(r.h), "fmt": "cjpg"})
    images = spark.createDataFrame(pd.DataFrame(rows))
    schema = "image_id string, w int, h int, psnr_ge_40 boolean"

    def gen(batches):
        for b in batches:
            out = []
            for r in b.itertuples():
                dec = codec.decode_image(bytes(r.bytes), r.fmt, r.w, r.h) \
                    .astype(np.float64)
                i = int(r.image_id[3:])
                truth = synth.pixel_plane(
                    42 * 1_000_003 + i, r.h * r.w * 3) \
                    .reshape(r.h, r.w, 3).astype(np.float64)
                mse = ((dec - truth) ** 2).mean()
                psnr = float("inf") if mse == 0 else \
                    10.0 * np.log10(255.0 ** 2 / mse)
                out.append((r.image_id, int(r.w), int(r.h),
                            bool(psnr >= 40.0)))
            yield pd.DataFrame(out, columns=["image_id", "w", "h",
                                             "psnr_ge_40"])

    return images.mapInPandas(gen, schema)


ORACLE["resize_stats_cjpg"] = """
SELECT printf('img%08d', i) AS image_id,
       CAST(CASE i % 3 WHEN 0 THEN 32 WHEN 1 THEN 64 ELSE 96 END AS INT) AS w,
       CAST(CASE (i // 3) % 3 WHEN 0 THEN 32 WHEN 1 THEN 64 ELSE 96 END
            AS INT) AS h,
       TRUE AS psnr_ge_40
FROM range(240) t(i)
"""


# --- perceptual image dedup (r05): the image twin of the text
# exact-dedup family. Fixture plants near-duplicates (every i≡1 mod 4
# re-renders i−1's plane with +1 mod 256 on sparse flat indices
# j≡0 mod 701 — byte-different after encode, visually identical);
# the engine decodes through the real codec, computes the
# integer-exact 64-bit aHash (block_sum·64 vs total_sum — no float
# compare), and groups on the hash. The oracle re-derives every
# perturbed channel-0 pixel from the Lehmer closed form, replays the
# same integer bit rule, and reassembles the 64-char hash with
# string_agg — so a codec bit-error, a block-index swap, or a wrong
# threshold all break the hash. Knife-edge bits are honest aHash
# behavior: a planted pair whose block sum sits exactly at the image
# mean may split (2 of 48 pairs at n=192 do) — BOTH engines replay
# the same arithmetic, and the Hamming-tolerant variant is pytest's
# job (tests/test_multimodal.py).
def q_image_dedup(spark, sf_dir):
    from ..operators.multimodal import image_dup_groups
    n = 192  # constant: generated in-session, mirrored by the SQL
    images = spark.createDataFrame(synth.neardup_images_pdf(n))
    return image_dup_groups(images)


ORACLE["image_dedup"] = """
WITH imgs AS (
  SELECT i,
    printf('img%08d', i) AS image_id,
    i - CASE WHEN i % 4 = 1 THEN 1 ELSE 0 END AS orig,
    CASE WHEN i % 4 = 1 THEN 1 ELSE 0 END AS pert
  FROM range(192) t(i)
), dims AS (
  SELECT image_id, pert,
    CASE orig % 3 WHEN 0 THEN 32 WHEN 1 THEN 64 ELSE 96 END AS w,
    CASE (orig // 3) % 3 WHEN 0 THEN 32 WHEN 1 THEN 64 ELSE 96 END AS h,
    42 * 1000003 + 900000 + orig AS base
  FROM imgs
), raw AS (
  -- channel-0 plane only: flat index j = 3*p over the h*w grid
  SELECT image_id, pert, w, h, p,
    xor((((base + 3*p * 2654435761) % 4294967291) * 279470273)
        % 4294967291,
        ((((base + 3*p * 2654435761) % 4294967291) * 279470273)
        % 4294967291) >> 16) % 256 AS v0
  FROM dims, LATERAL (SELECT UNNEST(range(w*h)) AS p)
), px AS (
  SELECT image_id,
    (p // w) // (h // 8) AS by,
    (p % w) // (w // 8) AS bx,
    CASE WHEN pert = 1 AND (3*p) % 701 = 0 THEN (v0 + 1) % 256
         ELSE v0 END AS v
  FROM raw
), blk AS (
  SELECT image_id, by, bx, SUM(v) AS bsum FROM px GROUP BY 1, 2, 3
), tot AS (
  SELECT image_id, SUM(v) AS tsum FROM px GROUP BY 1
), bits AS (
  SELECT b.image_id,
    string_agg(CASE WHEN bsum * 64 > tsum THEN '1' ELSE '0' END, ''
               ORDER BY by, bx) AS ahash
  FROM blk b JOIN tot USING (image_id)
  GROUP BY b.image_id
)
SELECT image_id, ahash,
  MIN(image_id) OVER (PARTITION BY ahash) AS canonical_id,
  COUNT(*) OVER (PARTITION BY ahash) AS group_size
FROM bits
"""


# --- the LIVE streaming sessionizer as a driver-oracled query
# (VERDICT r03 next-#5 — stream correctness no longer rests on pytest
# alone): stage the events table as 6 time-ordered files + a
# far-future flush sentinel (strictly increasing mtimes = trigger
# order), run the REAL applyInPandasWithState query with
# Trigger.AvailableNow over the staged sequence, and return the
# drained memory sink. Every real session closes (the sentinel pushes
# the watermark past last+gap for all of them), so the output is the
# batch twin's session set — oracled by the SAME gaps-and-islands SQL
# as `sessions`.
def _stage_events(sf_dir: str, n_files: int = 6,
                  flush_days: int = 430, duplicate: bool = False,
                  flush_pair: bool = False) -> str:
    """Stage the events table as `n_files` time-ordered parquet files
    plus a far-future flush sentinel (user_id = −1) that pushes the
    watermark past every real event. Strictly increasing mtimes make
    FileStreamSource's trigger order the event-time order.
    `duplicate=True` writes every chunk TWICE (adjacent files) — the
    replayed-upstream scenario a streaming dedup must collapse.
    `flush_pair=True` writes TWO sentinel rows with one even and one
    odd event_id, so a query that parity-splits the source into two
    streams (stream_join_outer) advances BOTH watermarks — under the
    default min-of-inputs global-watermark policy a single sentinel
    would leave one side's watermark at the real maximum and the
    outer join's tail state unresolved."""
    import os
    import time

    import numpy as np
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = pq.read_table(f"{sf_dir}/events.parquet").sort_by("ts")
    d = scratch_dir("stream_src_")
    cuts = np.linspace(0, t.num_rows, n_files + 1).astype(int)
    for i in range(n_files):
        chunk = t.slice(cuts[i], cuts[i + 1] - cuts[i])
        pq.write_table(chunk, os.path.join(d, f"part-{i:03d}-a.parquet"))
        if duplicate:
            pq.write_table(chunk, os.path.join(d, f"part-{i:03d}-b.parquet"))
    fpdf = t.slice(0, 1).to_pandas()
    if flush_pair:
        fpdf = pd.concat([fpdf, fpdf], ignore_index=True)
        fpdf["event_id"] = [999_999_998, 999_999_999]
    else:
        fpdf["event_id"] = 999_999_999
    fpdf["user_id"] = -1
    fpdf["ts"] = fpdf["ts"] + pd.Timedelta(days=flush_days)
    pq.write_table(pa.Table.from_pandas(fpdf, schema=t.schema),
                   os.path.join(d, "part-zz-flush.parquet"))
    base = time.time() - 3600
    for i, f in enumerate(sorted(os.listdir(d))):
        os.utime(os.path.join(d, f), (base + 10 * i, base + 10 * i))
    return d


# --- geofence transition alerts (r06): the second custom stateful
# operator (streaming/geofence.py) — per-user enter/exit detection
# against a static fence layer, LIVE (staged files → AvailableNow
# drain → memory sink) and as the batch twin; both answer the same
# LAG-based SQL oracle, so stream ≡ batch ≡ DuckDB is driver-visible.
def _geofence_inputs(spark, sf_dir):
    from ..data import geotag as G
    fences = spatial_queries.rects_df(spark, sf_dir) \
        .filter(F.pmod("fid", F.lit(97)) == 0) \
        .select("rxmin", "rymin", "rxmax", "rymax").toPandas()
    cols = ["user_id", "ts", "event_id",
            F.expr(G.sql_point_x("event_id")).alias("x"),
            F.expr(G.sql_point_y("event_id")).alias("y")]
    return fences, cols


def q_geofence(spark, sf_dir):
    from ..streaming.geofence import geofence_batch, with_inside
    fences, cols = _geofence_inputs(spark, sf_dir)
    e = spark.read.parquet(f"{sf_dir}/events.parquet") \
        .repartition(spark.sparkContext.defaultParallelism) \
        .select(*cols)
    return geofence_batch(with_inside(e, fences, buffer=500.0))


def q_geofence_stream(spark, sf_dir):

    from ..streaming import events as SE
    from ..streaming.geofence import geofence_stream, with_inside

    fences, cols = _geofence_inputs(spark, sf_dir)
    d = _stage_events(sf_dir)
    stream = spark.readStream.schema(SE.EVENTS_SCHEMA) \
        .option("maxFilesPerTrigger", 2).parquet(d)
    s = with_inside(stream.select(*cols), fences, buffer=500.0)
    out = geofence_stream(s, watermark="1 hour")
    ck = scratch_dir("geofence_ck_")
    SE.run_available_now(out, "geofence_sink", ck, shuffle_partitions=_STREAM_PARTS_PY)
    return (spark.table("geofence_sink")
            .filter(F.col("user_id") >= 0)
            .select("user_id", "ts", "event_id", "kind"))


def _geofence_oracle() -> str:
    from ..data import geotag as G
    rects = spatial_queries._RECTS_SQL
    return f"""
WITH f AS (
  SELECT rxmin - 500 AS x0, rxmax + 500 AS x1,
         rymin - 500 AS y0, rymax + 500 AS y1
  FROM ({rects}) WHERE fid % 97 = 0
), p AS (
  SELECT user_id, ts, event_id,
         {G.sql_point_x('event_id')} AS x,
         {G.sql_point_y('event_id')} AS y
  FROM events
), i AS (
  SELECT user_id, ts, event_id,
         CASE WHEN EXISTS (SELECT 1 FROM f
              WHERE x >= x0 AND x <= x1 AND y >= y0 AND y <= y1)
              THEN 1 ELSE 0 END AS ins
  FROM p
), s AS (
  SELECT *, LAG(ins) OVER (PARTITION BY user_id
                           ORDER BY ts, event_id) AS prev
  FROM i
)
SELECT user_id, ts, event_id,
       CASE WHEN ins = 1 THEN 'enter' ELSE 'exit' END AS kind
FROM s
WHERE (prev IS NULL AND ins = 1) OR (prev IS NOT NULL AND prev <> ins)
"""


ORACLE["geofence"] = _geofence_oracle()
ORACLE["geofence_stream"] = ORACLE["geofence"]


def q_sessions_stream(spark, sf_dir):

    from ..streaming import events as SE
    from ..streaming.sessions import sessionize_stream

    d = _stage_events(sf_dir)
    # 2 files/trigger -> 4 micro-batches: state still crosses batch
    # boundaries (the pytest twin proves per-boundary equivalence) at a
    # third of the 8-batch drain cost the 1-file trigger paid
    stream = spark.readStream.schema(SE.EVENTS_SCHEMA) \
        .option("maxFilesPerTrigger", 2).parquet(d)
    sess = sessionize_stream(stream, gap_minutes=600, watermark="1 hour")
    ck = scratch_dir("sess_stream_ck_")
    SE.run_available_now(sess, "sessions_stream_sink", ck, shuffle_partitions=_STREAM_PARTS_PY)
    return (
        spark.table("sessions_stream_sink")
        .filter(F.col("user_id") >= 0)
        .select("user_id", "session_start", "session_end", "n_events",
                F.round("sum_value", 4).alias("sum_value"))
    )


# --- the LIVE watermarked windowed aggregation (r04): the real
# Structured Streaming tumbling-window query drained with
# Trigger.AvailableNow over the staged file sequence; the flush
# sentinel closes every real window, whose own far-future window is
# filtered out. Answers the SAME SQL oracle as the batch twin
# (tumbling_window) — stream ≡ batch, driver-visible.
# --- LIVE streaming HLL (r06): the distinct-count sketch under a
# watermark — approximate distinct users per hour as a live register
# table. The max() register fold is the ideal streaming state shape
# (bounded, monotone); the drained sink must equal the batch register
# table over the same rows, which the DuckDB oracle re-derives
# bit-for-bit (same md5/'0x'/bin arithmetic as hll_users, grouped by
# hour). The far-future flush sentinel's window is cut by the same
# 2025 filter windowed_stream uses.
def q_hll_stream(spark, sf_dir):

    from ..streaming import events as SE

    d = _stage_events(sf_dir)
    stream = spark.readStream.schema(SE.EVENTS_SCHEMA) \
        .option("maxFilesPerTrigger", 2).parquet(d)
    hs = SE.windowed_hll(stream, window="1 hour", watermark="1 hour")
    ck = scratch_dir("hll_stream_ck_")
    SE.run_available_now(hs, "hll_stream_sink", ck, shuffle_partitions=_STREAM_PARTS)
    return (
        spark.table("hll_stream_sink")
        .filter(F.col("hour") < F.lit("2025-01-01").cast("timestamp"))
        .select("hour", "register", "max_rho")
    )


ORACLE["hll_stream"] = """
WITH h AS (
  SELECT date_trunc('hour', ts) AS hour,
         CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR) || ':hll'),
                              1, 15)) AS BIGINT) AS hv
  FROM events
)
SELECT hour, hv % 512 AS register,
       MAX(CASE WHEN hv // 512 = 0 THEN 52
                ELSE 52 - length(bin(hv // 512)) END) AS max_rho
FROM h GROUP BY 1, 2
"""


def q_windowed_stream(spark, sf_dir):

    from ..streaming import events as SE

    d = _stage_events(sf_dir)
    stream = spark.readStream.schema(SE.EVENTS_SCHEMA) \
        .option("maxFilesPerTrigger", 2).parquet(d)
    wc = SE.windowed_counts(stream, window="1 hour", watermark="1 hour")
    ck = scratch_dir("win_stream_ck_")
    SE.run_available_now(wc, "windowed_stream_sink", ck, shuffle_partitions=_STREAM_PARTS)
    return (
        spark.table("windowed_stream_sink")
        .filter(F.col("hour") < F.lit("2025-01-01").cast("timestamp"))
        .select("hour", "event_type", "n", "sum_value")
    )


# --- the LIVE within-watermark streaming dedup (r04): every staged
# chunk is written TWICE (the replayed-upstream scenario);
# dropDuplicatesWithinWatermark must collapse each event back to one
# row, so the per-type counts/sums over the drained sink equal the
# base table's — any leaked duplicate doubles a count and breaks the
# hash.
def q_dedup_stream(spark, sf_dir):

    from ..streaming import events as SE

    d = _stage_events(sf_dir, duplicate=True)
    stream = spark.readStream.schema(SE.EVENTS_SCHEMA) \
        .option("maxFilesPerTrigger", 2).parquet(d)
    dd = SE.dedup_stream(stream, watermark="1 hour")
    ck = scratch_dir("dedup_stream_ck_")
    SE.run_available_now(dd, "dedup_stream_sink", ck, shuffle_partitions=_STREAM_PARTS)
    return (
        spark.table("dedup_stream_sink")
        .filter(F.col("user_id") >= 0)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"),
             F.round(F.sum("value"), 4).alias("sum_value"))
    )


ORACLE["dedup_stream"] = """
SELECT event_type, COUNT(*) AS n, ROUND(SUM(value), 4) AS sum_value
FROM events GROUP BY 1
"""


# --- LIVE stream-stream funnel join (r05): even-id events pair with
# odd-id events of the same user within 30 minutes, both sides
# watermarked, drained via AvailableNow — the attribution primitive
# whose left state Spark evicts once the right watermark passes
# l.ts + 30 min. The staged files are event-time-ordered so nothing is
# late; the drained sink must equal the batch self-join exactly.
def q_stream_join(spark, sf_dir):

    from ..streaming import events as SE

    d = _stage_events(sf_dir)

    def src():
        return spark.readStream.schema(SE.EVENTS_SCHEMA) \
            .option("maxFilesPerTrigger", 2).parquet(d)

    left = src().filter((F.col("event_id") % 2 == 0)
                        & (F.col("user_id") >= 0))
    right = src().filter((F.col("event_id") % 2 == 1)
                         & (F.col("user_id") >= 0))
    j = SE.funnel_join(left, right, within="30 minutes", watermark="1 hour")
    ck = scratch_dir("stream_join_ck_")
    SE.run_available_now(j, "stream_join_sink", ck, shuffle_partitions=_STREAM_PARTS)
    return (spark.table("stream_join_sink")
            .select("user_id", "left_event_id", "right_event_id"))


ORACLE["stream_join"] = """
SELECT a.user_id,
       a.event_id AS left_event_id,
       b.event_id AS right_event_id
FROM events a JOIN events b
  ON a.user_id = b.user_id
WHERE a.event_id % 2 = 0 AND b.event_id % 2 = 1
  AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 30 MINUTE
"""


# --- the LEFT-OUTER leg (r05): unmatched left events must ALSO emit,
# with NULL right columns — and they only emit when the GLOBAL
# watermark (min across both parity-split inputs) passes
# left.ts + within, which is why the staged dir carries a PAIR of
# far-future sentinels (one per parity; a single one leaves half the
# tail unresolved — the subtle outer-stream-join failure mode this row
# exists to pin). Sentinels are excluded AFTER the join (user_id ≥ 0),
# so they advance watermarks without appearing in the result.
def q_stream_join_outer(spark, sf_dir):

    from ..streaming import events as SE

    d = _stage_events(sf_dir, flush_pair=True)

    def src():
        return spark.readStream.schema(SE.EVENTS_SCHEMA) \
            .option("maxFilesPerTrigger", 2).parquet(d)

    left = src().filter(F.col("event_id") % 2 == 0)
    right = src().filter(F.col("event_id") % 2 == 1)
    j = SE.funnel_join(left, right, within="30 minutes",
                       watermark="1 hour", how="left_outer")
    ck = scratch_dir("stream_join_outer_ck_")
    SE.run_available_now(j, "stream_join_outer_sink", ck,
                         shuffle_partitions=_STREAM_PARTS)
    return (spark.table("stream_join_outer_sink")
            .filter(F.col("user_id") >= 0)
            .select("user_id", "left_event_id", "right_event_id"))


ORACLE["stream_join_outer"] = """
SELECT a.user_id,
       a.event_id AS left_event_id,
       b.event_id AS right_event_id
FROM events a LEFT JOIN events b
  ON a.user_id = b.user_id
 AND b.event_id % 2 = 1
 AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 30 MINUTE
WHERE a.event_id % 2 = 0
"""


# --- 3×3 median rank filter (r06): the NONLINEAR stencil next to the
# linear ones (Sobel, focal mean) — salt-and-pepper denoise / impulse
# noise screen. Engine: one np.partition per image inside shuffle-free
# mapInPandas. Oracle: the 9-offset gather join (sobel pattern) with
# DuckDB's median() per pixel — the median of 9 ints is the 5th order
# statistic, no interpolation, so every per-pixel value is exact and
# the per-image sums/counts hash bit-identically.
def q_median_filter(spark, sf_dir):
    from ..operators.multimodal import median_stats
    n = 60  # first 60 of the 240-image fixture; matches range(60)
    images = spark.createDataFrame(synth.images_pdf(n))
    return median_stats(images)


ORACLE["median_filter"] = """
WITH imgs AS (
  SELECT printf('img%08d', i) AS image_id,
    CASE i % 3 WHEN 0 THEN 32 WHEN 1 THEN 64 ELSE 96 END AS w,
    CASE (i // 3) % 3 WHEN 0 THEN 32 WHEN 1 THEN 64 ELSE 96 END AS h,
    42 * 1000003 + i AS base
  FROM range(60) t(i)
), px AS (
  SELECT image_id, w, h,
    (j // 3) // w AS py,
    (j // 3) % w AS pxx,
    xor((((base + j * 2654435761) % 4294967291) * 279470273) % 4294967291,
        ((((base + j * 2654435761) % 4294967291) * 279470273) % 4294967291)
        >> 16) % 256 AS v
  FROM imgs, LATERAL (SELECT UNNEST(range(w*h*3)) AS j)
  WHERE j % 3 = 0
), offs AS (
  SELECT dr.dr, dc.dc
  FROM (VALUES (-1), (0), (1)) dr(dr), (VALUES (-1), (0), (1)) dc(dc)
), tgt AS (
  SELECT c.image_id, c.py, c.pxx, c.v AS ctr,
         c.py + o.dr AS npy, c.pxx + o.dc AS npx
  FROM px c CROSS JOIN offs o
  WHERE c.py >= 1 AND c.py <= c.h - 2
    AND c.pxx >= 1 AND c.pxx <= c.w - 2
), m AS (
  SELECT t.image_id, t.py, t.pxx, t.ctr,
         CAST(median(n.v) AS BIGINT) AS med
  FROM tgt t
  JOIN px n ON n.image_id = t.image_id
           AND n.py = t.npy AND n.pxx = t.npx
  GROUP BY t.image_id, t.py, t.pxx, t.ctr
)
SELECT image_id,
  CAST(SUM(med) AS BIGINT) AS sum_median,
  CAST(SUM(CASE WHEN med <> ctr THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
  CAST(MAX(ABS(med - ctr)) AS BIGINT) AS max_absdiff
FROM m GROUP BY image_id
"""


# --- gradient-orientation histogram / HOG-lite (r06): the HOG/SIFT
# descriptor core with the angle binning reduced to exact sign +
# magnitude comparisons (obin = 4·[gy<0] + 2·[gx<0] + [|gy|>|gx|],
# flat pixels → −1) — no atan2, so both engines agree bit-for-bit.
def q_orient_hist(spark, sf_dir):
    from ..operators.multimodal import orient_hist
    images = spark.createDataFrame(synth.images_pdf(60))
    return orient_hist(images)


ORACLE["orient_hist"] = """
WITH imgs AS (
  SELECT printf('img%08d', i) AS image_id,
    CASE i % 3 WHEN 0 THEN 32 WHEN 1 THEN 64 ELSE 96 END AS w,
    CASE (i // 3) % 3 WHEN 0 THEN 32 WHEN 1 THEN 64 ELSE 96 END AS h,
    42 * 1000003 + i AS base
  FROM range(60) t(i)
), px AS (
  SELECT image_id, w, h,
    (j // 3) // w AS py,
    (j // 3) % w AS pxx,
    xor((((base + j * 2654435761) % 4294967291) * 279470273) % 4294967291,
        ((((base + j * 2654435761) % 4294967291) * 279470273) % 4294967291)
        >> 16) % 256 AS v
  FROM imgs, LATERAL (SELECT UNNEST(range(w*h*3)) AS j)
  WHERE j % 3 = 0
), offs AS (
  SELECT dr.dr, dc.dc
  FROM (VALUES (-1), (0), (1)) dr(dr), (VALUES (-1), (0), (1)) dc(dc)
), tgt AS (
  SELECT c.image_id, c.py, c.pxx, o.dr, o.dc,
         c.py + o.dr AS npy, c.pxx + o.dc AS npx
  FROM px c CROSS JOIN offs o
  WHERE c.py >= 1 AND c.py <= c.h - 2
    AND c.pxx >= 1 AND c.pxx <= c.w - 2
), g AS (
  SELECT t.image_id, t.py, t.pxx,
    SUM(n.v * t.dc * (2 - ABS(t.dr))) AS gx,
    SUM(n.v * t.dr * (2 - ABS(t.dc))) AS gy
  FROM tgt t
  JOIN px n ON n.image_id = t.image_id
           AND n.py = t.npy AND n.pxx = t.npx
  GROUP BY t.image_id, t.py, t.pxx
)
SELECT image_id,
  CAST(CASE WHEN gx = 0 AND gy = 0 THEN -1
       ELSE 4 * (CASE WHEN gy < 0 THEN 1 ELSE 0 END)
          + 2 * (CASE WHEN gx < 0 THEN 1 ELSE 0 END)
          + (CASE WHEN ABS(gy) > ABS(gx) THEN 1 ELSE 0 END)
       END AS INT) AS obin,
  CAST(COUNT(*) AS BIGINT) AS n
FROM g GROUP BY 1, 2
"""


# --- GLCM texture moments (r06): Haralick's gray-level co-occurrence
# matrix over horizontally-adjacent 4-level pairs; contrast and energy
# over RAW counts (no normalization → everything integer-exact). The
# oracle rebuilds the full GLCM from an adjacency self-join.
def q_glcm_texture(spark, sf_dir):
    from ..operators.multimodal import glcm_stats
    images = spark.createDataFrame(synth.images_pdf(120))
    return glcm_stats(images)


ORACLE["glcm_texture"] = """
WITH imgs AS (
  SELECT printf('img%08d', i) AS image_id,
    CASE i % 3 WHEN 0 THEN 32 WHEN 1 THEN 64 ELSE 96 END AS w,
    CASE (i // 3) % 3 WHEN 0 THEN 32 WHEN 1 THEN 64 ELSE 96 END AS h,
    42 * 1000003 + i AS base
  FROM range(120) t(i)
), px AS (
  SELECT image_id, w, h,
    (j // 3) // w AS py,
    (j // 3) % w AS pxx,
    (xor((((base + j * 2654435761) % 4294967291) * 279470273) % 4294967291,
        ((((base + j * 2654435761) % 4294967291) * 279470273) % 4294967291)
        >> 16) % 256) // 64 AS lv
  FROM imgs, LATERAL (SELECT UNNEST(range(w*h*3)) AS j)
  WHERE j % 3 = 0
), glcm AS (
  SELECT a.image_id, a.lv AS i, b.lv AS j, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM px a JOIN px b
    ON b.image_id = a.image_id AND b.py = a.py AND b.pxx = a.pxx + 1
  GROUP BY 1, 2, 3
)
SELECT image_id,
  CAST(SUM((i - j) * (i - j) * cnt) AS BIGINT) AS contrast,
  CAST(SUM(cnt * cnt) AS BIGINT) AS energy,
  CAST(SUM(cnt) AS BIGINT) AS n_pairs
FROM glcm GROUP BY 1
"""


# --- video motion energy (r06): frame differencing over the CPNV
# container — the scene-cut / static-clip screen. Every consecutive
# channel-0 frame pair scores Σ|Δ| and max|Δ|, exact int64; the
# oracle re-derives BOTH frames of every pair from the Lehmer closed
# form (per-frame bases) and joins them on pixel position — codec
# round-trip vs closed form, the multimodal family's strongest
# pattern.
def q_motion_energy(spark, sf_dir):
    from ..operators.multimodal import motion_stats
    videos = spark.createDataFrame(synth.videos_pdf(24))
    return motion_stats(videos)


ORACLE["motion_energy"] = """
WITH vids AS (
  SELECT i, printf('vid%08d', i) AS image_id, 32 AS w,
         CASE i % 2 WHEN 0 THEN 32 ELSE 48 END AS h,
         3 + i % 5 AS nf
  FROM range(24) t(i)
), fr AS (
  SELECT image_id, w, h, j,
         42 * 1000003 + 500000 + i * 64 + j AS base
  FROM vids, LATERAL (SELECT UNNEST(range(nf)) AS j)
), px AS (
  SELECT image_id, j, k,
    xor((((base + k * 2654435761) % 4294967291) * 279470273) % 4294967291,
        ((((base + k * 2654435761) % 4294967291) * 279470273) % 4294967291)
        >> 16) % 256 AS v
  FROM fr, LATERAL (SELECT UNNEST(range(w*h*3)) AS k)
  WHERE k % 3 = 0
)
SELECT a.image_id, CAST(a.j AS INT) AS frame_idx,
       CAST(SUM(ABS(a.v - b.v)) AS BIGINT) AS motion_l1,
       CAST(MAX(ABS(a.v - b.v)) AS BIGINT) AS max_px_diff
FROM px a JOIN px b
  ON b.image_id = a.image_id AND b.j = a.j - 1 AND b.k = a.k
GROUP BY 1, 2
"""


# --- LIVE streaming Count-Min grid (r06): the ADDITIVE sketch under a
# watermark (the distinct/frequency pair with hll_stream). Counts sum
# under the windowed aggregation, state ≤ depth·width rows per open
# window; the batch grid per hour is the oracle (same md5('key:cms'
# || row) cell arithmetic, replayed in SQL).
def q_cms_stream(spark, sf_dir):

    from ..streaming import events as SE

    d = _stage_events(sf_dir)
    stream = spark.readStream.schema(SE.EVENTS_SCHEMA) \
        .option("maxFilesPerTrigger", 2).parquet(d)
    cs = SE.windowed_cms(stream, window="1 hour", watermark="1 hour")
    ck = scratch_dir("cms_stream_ck_")
    SE.run_available_now(cs, "cms_stream_sink", ck, shuffle_partitions=_STREAM_PARTS)
    return (
        spark.table("cms_stream_sink")
        .filter(F.col("hour") < F.lit("2025-01-01").cast("timestamp"))
        .select("hour", "sk_row", "cell", "cnt")
    )


ORACLE["cms_stream"] = """
WITH s AS (
  SELECT date_trunc('hour', ts) AS hour, user_id, i AS sk_row,
         CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR) || ':cms'
                                  || CAST(i AS VARCHAR)), 1, 15))
              AS BIGINT) % 256 AS cell
  FROM events, LATERAL (SELECT UNNEST(range(0, 4)) AS i) u
)
SELECT hour, sk_row, cell, CAST(COUNT(*) AS BIGINT) AS cnt
FROM s GROUP BY 1, 2, 3
"""


# --- streaming → lakehouse sink (r06): the ingestion loop every
# production pipeline runs — a watermarked file stream lands in the
# IceLite table via foreachBatch, ONE SNAPSHOT PER MICRO-BATCH
# (atomic pointer-swap commits, so readers only ever see whole
# batches; bounded AvailableNow never replays a batch — a continuous
# deployment would record the batch id in the snapshot for idempotent
# re-commit, the standard txn-id pattern). The drained table must
# answer the batch SQL exactly, and the snapshot count must equal the
# micro-batch count (pinned as a column).
def q_stream_sink(spark, sf_dir):

    from ..sources.tables import IceLiteTable
    from ..streaming import events as SE

    d = _stage_events(sf_dir)
    t = IceLiteTable(scratch_dir("icelite_sink_"))
    stream = spark.readStream.schema(SE.EVENTS_SCHEMA) \
        .option("maxFilesPerTrigger", 2).parquet(d)
    ck = scratch_dir("sink_ck_")
    q = (stream.writeStream
         .foreachBatch(lambda df, _bid: t.append(df))
         .option("checkpointLocation", ck)
         .trigger(availableNow=True).start())
    q.awaitTermination()
    n_snaps = len(t.snapshots())
    return (t.read(spark)
            .filter(F.col("user_id") >= 0)      # drop the flush sentinel
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.sum("value"), 4).alias("sum_value"))
            .withColumn("n_snapshots", F.lit(n_snaps).cast("int")))


ORACLE["stream_sink"] = """
SELECT event_type, COUNT(*) AS n, ROUND(SUM(value), 4) AS sum_value,
       4 AS n_snapshots
FROM events GROUP BY 1
"""


# --- streaming top-k heavy hitters (r07, VERDICT r06 next-#4): the
# natural completion of the live Count-Min grid — drain a DAY-windowed
# watermarked CMS (per-hour per-user counts are too thin in this
# fixture to rank), then answer "which keys cleared the threshold in
# each window" with the classic CMS point query: probe a bounded
# candidate dictionary (broadcast) against all 4 hash rows, est = min
# of the 4 cell counts, emit est ≥ 5. The oracle replays the md5 cell
# arithmetic AND the probe exactly, so collisions that promote a key
# are reproduced, not fudged.
def q_cms_topk(spark, sf_dir):
    from ..streaming import events as SE

    d = _stage_events(sf_dir)
    stream = spark.readStream.schema(SE.EVENTS_SCHEMA) \
        .option("maxFilesPerTrigger", 2).parquet(d)
    cs = SE.windowed_cms(stream, window="1 day", watermark="1 day")
    ck = scratch_dir("cms_topk_ck_")
    SE.run_available_now(cs, "cms_topk_sink", ck, shuffle_partitions=_STREAM_PARTS)
    grid = (spark.table("cms_topk_sink")
            .filter(F.col("hour") < F.lit("2025-01-01").cast("timestamp"))
            .withColumnRenamed("hour", "day"))
    cand = spark.read.parquet(f"{sf_dir}/events.parquet").select("user_id")
    return SE.cms_heavy_hitters(grid, cand, threshold=5)


ORACLE["cms_topk"] = """
WITH grid AS (
  SELECT date_trunc('day', ts) AS day, i AS sk_row,
         CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR) || ':cms'
                                  || CAST(i AS VARCHAR)), 1, 15))
              AS BIGINT) % 256 AS cell,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM events, LATERAL (SELECT UNNEST(range(0, 4)) AS i) u
  GROUP BY 1, 2, 3
), probe AS (
  SELECT user_id, i AS sk_row,
         CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR) || ':cms'
                                  || CAST(i AS VARCHAR)), 1, 15))
              AS BIGINT) % 256 AS cell
  FROM (SELECT DISTINCT user_id FROM events) c,
       LATERAL (SELECT UNNEST(range(0, 4)) AS i) u
)
SELECT day, user_id, MIN(cnt) AS est
FROM grid JOIN probe USING (sk_row, cell)
GROUP BY 1, 2
HAVING COUNT(*) = 4 AND MIN(cnt) >= 5
"""


# --- band-math classification (r07): remote sensing's NDVI pattern
# over the image fixture — exact integer class boundary (10·(nir−red)
# > nir+red ⇔ NDVI > 0.1, never a float ratio). Oracle re-derives BOTH
# channels of every pixel from the Lehmer closed form (j = 3p red,
# 3p+2 nir).
def q_band_class(spark, sf_dir):
    from ..operators.multimodal import band_class
    return band_class(spark.createDataFrame(synth.images_pdf(120)))


ORACLE["band_class"] = """
WITH imgs AS (
  SELECT printf('img%08d', i) AS image_id,
    CASE i % 3 WHEN 0 THEN 32 WHEN 1 THEN 64 ELSE 96 END AS w,
    CASE (i // 3) % 3 WHEN 0 THEN 32 WHEN 1 THEN 64 ELSE 96 END AS h,
    42 * 1000003 + i AS base
  FROM range(120) t(i)
), px AS (
  SELECT image_id,
    xor((((base + (3*p) * 2654435761) % 4294967291) * 279470273)
          % 4294967291,
        ((((base + (3*p) * 2654435761) % 4294967291) * 279470273)
          % 4294967291) >> 16) % 256 AS red,
    xor((((base + (3*p+2) * 2654435761) % 4294967291) * 279470273)
          % 4294967291,
        ((((base + (3*p+2) * 2654435761) % 4294967291) * 279470273)
          % 4294967291) >> 16) % 256 AS nir
  FROM imgs, LATERAL (SELECT UNNEST(range(w*h)) AS p)
)
SELECT image_id,
  CAST(SUM(CASE WHEN 10*(nir-red) > (nir+red) THEN 1 ELSE 0 END)
       AS BIGINT) AS n_veg,
  CAST(SUM(CASE WHEN 10*(red-nir) > (nir+red) THEN 1 ELSE 0 END)
       AS BIGINT) AS n_water,
  CAST(SUM(CASE WHEN 10*(nir-red) <= (nir+red)
                 AND 10*(red-nir) <= (nir+red) THEN 1 ELSE 0 END)
       AS BIGINT) AS n_neutral,
  CAST(SUM(nir - red) AS BIGINT) AS diff_sum
FROM px GROUP BY 1
"""


# --- Otsu automatic threshold (r07): the histogram-based binarization
# every raster/vision pipeline reaches for, in the exact-integer
# formulation (operators/multimodal.otsu_stats): maximize the
# 2^20-scaled floored between-class objective over the image's
# distinct channel-0 values, ties to the lowest t. The square peaks
# ~5e20 — past int64 — so the kernel runs Python big-ints and the
# oracle replays the identical argmax in DuckDB HUGEINT; q crosses
# engines as a digit string.
def q_otsu_threshold(spark, sf_dir):
    from ..operators.multimodal import otsu_stats
    return otsu_stats(spark.createDataFrame(synth.images_pdf(90)))


ORACLE["otsu_threshold"] = """
WITH imgs AS (
  SELECT printf('img%08d', i) AS image_id,
    CASE i % 3 WHEN 0 THEN 32 WHEN 1 THEN 64 ELSE 96 END AS w,
    CASE (i // 3) % 3 WHEN 0 THEN 32 WHEN 1 THEN 64 ELSE 96 END AS h,
    42 * 1000003 + i AS base
  FROM range(90) t(i)
), px AS (
  SELECT image_id, w*h AS n_tot,
    xor((((base + (3*p) * 2654435761) % 4294967291) * 279470273)
          % 4294967291,
        ((((base + (3*p) * 2654435761) % 4294967291) * 279470273)
          % 4294967291) >> 16) % 256 AS v
  FROM imgs, LATERAL (SELECT UNNEST(range(w*h)) AS p)
), hist AS (
  SELECT image_id, n_tot, v, COUNT(*) AS c FROM px GROUP BY 1, 2, 3
), cum AS (
  SELECT image_id, n_tot, v,
    SUM(c) OVER (PARTITION BY image_id ORDER BY v) AS n0,
    SUM(v*c) OVER (PARTITION BY image_id ORDER BY v) AS s0,
    SUM(v*c) OVER (PARTITION BY image_id) AS s_tot
  FROM hist
), sc AS (
  SELECT image_id, v, n0, n_tot - n0 AS n1,
    ((CAST(s0 AS HUGEINT)*(n_tot-n0) - CAST(s_tot - s0 AS HUGEINT)*n0)
     * (CAST(s0 AS HUGEINT)*(n_tot-n0) - CAST(s_tot - s0 AS HUGEINT)*n0)
     * 1048576) // (CAST(n0 AS HUGEINT) * (n_tot - n0)) AS q
  FROM cum WHERE n_tot - n0 > 0
), rk AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY image_id
                               ORDER BY q DESC, v ASC) AS rn
  FROM sc
)
SELECT image_id, CAST(v AS INT) AS otsu_t, CAST(n0 AS BIGINT) AS n0,
       CAST(n1 AS BIGINT) AS n1, CAST(q AS VARCHAR) AS q_scaled
FROM rk WHERE rn = 1
"""


# --- snapshot expiry + orphan cleanup (r07): the vacuum half of
# table maintenance next to compact_files — appends land one dir per
# orderkey bucket, a partial DELETE rewrites only the hit dirs (their
# originals become unreferenced), then expire_snapshots(keep_last=1)
# drops every older manifest and unlinks the orphaned dirs. The read
# AFTER vacuum must still answer the batch SQL exactly (proof no
# referenced dir was unlinked), and all three audit counters are
# derivable from the bucket/predicate structure, so the oracle pins
# them: snapshots_removed = n_buckets (appends + delete − the one
# kept), orphans_removed = hit buckets, dirs_kept = carried + 1
# rewrite dir.
_VAC_PRED = "(o_orderkey div 2048) % 3 = 1 AND o_orderkey % 5 < 2"


def q_vacuum_table(spark, sf_dir):
    from ..sources.tables import IceLiteTable

    t = IceLiteTable(scratch_dir("icelite_vac_"))
    orders = (spark.read.parquet(f"{sf_dir}/orders.parquet")
              .coalesce(1).cache())
    buckets = sorted(r.bkt for r in orders.select(
        F.expr("o_orderkey div 2048").alias("bkt")).distinct().collect())
    for k in buckets:
        t.append(orders.filter(F.expr(f"o_orderkey div 2048 = {k}")))
    orders.unpersist()
    t.delete_where(spark, _VAC_PRED)
    audit = t.expire_snapshots(keep_last=1)
    return (t.read(spark)
            .groupBy("o_orderstatus")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum("o_orderkey").alias("sum_key"))
            .withColumn("snapshots_removed",
                        F.lit(audit["snapshots_removed"]).cast("int"))
            .withColumn("orphans_removed",
                        F.lit(audit["orphans_removed"]).cast("int"))
            .withColumn("dirs_kept",
                        F.lit(audit["dirs_kept"]).cast("int")))


ORACLE["vacuum_table"] = f"""
WITH b AS (
  SELECT o_orderkey // 2048 AS bkt,
         MAX(CASE WHEN {_VAC_PRED.replace("div", "//")} THEN 1 ELSE 0 END)
           AS hit
  FROM orders GROUP BY 1
)
SELECT o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(o_orderkey) AS BIGINT) AS sum_key,
       CAST((SELECT COUNT(*) FROM b) AS INT) AS snapshots_removed,
       CAST((SELECT SUM(hit) FROM b) AS INT) AS orphans_removed,
       CAST((SELECT COUNT(*) - SUM(hit)
                    + CASE WHEN SUM(hit) > 0 THEN 1 ELSE 0 END FROM b)
            AS INT) AS dirs_kept
FROM orders WHERE NOT ({_VAC_PRED.replace("div", "//")})
GROUP BY 1
"""


# --- histogram quantile sketch, batch (r07): the fourth sketch next
# to HLL / Bloom / Count-Min — bounded mergeable state (≤256 bins per
# key) answering p50/p90/p99 where an exact sort of a trillion values
# is off the table. All rank arithmetic integer (rank = ceil(n·q) via
# (n·num + den−1) div den); the answer is the lower edge of the rank's
# bin, so error ≤ one bin width by construction — and the oracle
# replays every step exactly, approximation included.
def q_hist_quantiles(spark, sf_dir):
    from ..operators.sketch import hist_bins, hist_quantiles
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    bins = hist_bins(e, "value", ("event_type",))
    return hist_quantiles(bins, ("event_type",))


ORACLE["hist_quantiles"] = """
WITH h AS (
  SELECT event_type,
         LEAST(GREATEST(CAST(FLOOR(value / 2.0) AS INT), 0), 255) AS bin,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2
), cum AS (
  SELECT event_type, bin, c,
         SUM(c) OVER (PARTITION BY event_type ORDER BY bin) AS cum,
         SUM(c) OVER (PARTITION BY event_type) AS n
  FROM h
)
SELECT event_type, CAST(MAX(n) AS BIGINT) AS n,
       MIN(CASE WHEN cum >= (n*1 + 1)//2   THEN bin END) * 2.0 AS p50_lo,
       MIN(CASE WHEN cum >= (n*9 + 9)//10  THEN bin END) * 2.0 AS p90_lo,
       MIN(CASE WHEN cum >= (n*99 + 99)//100 THEN bin END) * 2.0 AS p99_lo
FROM cum GROUP BY 1
"""


# --- histogram quantile sketch, LIVE (r07): the same bounded-state
# histogram under a day window + watermark (streaming/events.py::
# windowed_hist), drained and finished with the identical integer rank
# arithmetic — the live "p99 latency per day" row every event pipeline
# dashboards on. Batch replay over the same rows is the oracle.
def q_quantile_stream(spark, sf_dir):
    from ..streaming import events as SE

    d = _stage_events(sf_dir)
    stream = spark.readStream.schema(SE.EVENTS_SCHEMA) \
        .option("maxFilesPerTrigger", 2).parquet(d)
    h = SE.windowed_hist(stream, window="1 day", watermark="1 day")
    ck = scratch_dir("quantile_stream_ck_")
    SE.run_available_now(h, "quantile_stream_sink", ck,
                         shuffle_partitions=_STREAM_PARTS)
    from ..operators.sketch import hist_quantiles
    bins = (spark.table("quantile_stream_sink")
            .filter(F.col("day") < F.lit("2025-01-01").cast("timestamp")))
    return hist_quantiles(bins, ("day", "event_type"))


ORACLE["quantile_stream"] = """
WITH h AS (
  SELECT date_trunc('day', ts) AS day, event_type,
         LEAST(GREATEST(CAST(FLOOR(value / 2.0) AS INT), 0), 255) AS bin,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2, 3
), cum AS (
  SELECT day, event_type, bin, c,
         SUM(c) OVER (PARTITION BY day, event_type ORDER BY bin) AS cum,
         SUM(c) OVER (PARTITION BY day, event_type) AS n
  FROM h
)
SELECT day, event_type, CAST(MAX(n) AS BIGINT) AS n,
       MIN(CASE WHEN cum >= (n*1 + 1)//2   THEN bin END) * 2.0 AS p50_lo,
       MIN(CASE WHEN cum >= (n*9 + 9)//10  THEN bin END) * 2.0 AS p90_lo,
       MIN(CASE WHEN cum >= (n*99 + 99)//100 THEN bin END) * 2.0 AS p99_lo
FROM cum GROUP BY 1, 2
"""


# --- caption × pixel joint analytics (r07): the multimodal JOIN the
# north-star table exists for — caption-side attributes (subject/tone,
# parsed from the caption STRING with regexp, so a corrupted caption
# breaks the hash) grouped against exact decoded pixel sums from the
# binary side. One mapInPandas decode + one broadcast-sized join + one
# groupBy; the oracle re-derives the attributes from the fixture's
# closed form and every pixel from the Lehmer hash — caption parsing
# and codec round-trip are both load-bearing.
def q_caption_stats(spark, sf_dir):
    import numpy as np
    import pandas as pd

    from ..data import codec

    imgs = spark.createDataFrame(synth.images_pdf(240))

    def gen(batches):
        for pdf in batches:
            rows = []
            for r in pdf.itertuples():
                img = codec.decode_image(bytes(r.bytes), r.fmt, r.w, r.h)
                rows.append((r.image_id,
                             int(img[..., 0].astype(np.int64).sum()),
                             int(r.w) * int(r.h)))
            yield pd.DataFrame(rows, columns=["image_id", "sum0", "n_px"])

    stats = imgs.mapInPandas(gen, "image_id string, sum0 long, n_px long")
    subj = F.regexp_extract("caption", r"about subject (\d+)", 1).cast("int")
    tone = F.regexp_extract("caption", r"in tone (\d+)", 1).cast("int")
    return (imgs.select("image_id", subj.alias("subject"),
                        tone.alias("tone"))
            .join(stats, "image_id")
            .groupBy("subject", "tone")
            .agg(F.count(F.lit(1)).alias("n_images"),
                 F.sum("sum0").alias("sum_px"),
                 F.sum("n_px").alias("n_px")))


ORACLE["caption_stats"] = """
WITH imgs AS (
  SELECT i, i % 13 AS subject, i % 7 AS tone,
    CASE i % 3 WHEN 0 THEN 32 WHEN 1 THEN 64 ELSE 96 END AS w,
    CASE (i // 3) % 3 WHEN 0 THEN 32 WHEN 1 THEN 64 ELSE 96 END AS h,
    42 * 1000003 + i AS base
  FROM range(240) t(i)
), px AS (
  SELECT i, subject, tone, w, h,
    xor((((base + (3*p) * 2654435761) % 4294967291) * 279470273)
          % 4294967291,
        ((((base + (3*p) * 2654435761) % 4294967291) * 279470273)
          % 4294967291) >> 16) % 256 AS v
  FROM imgs, LATERAL (SELECT UNNEST(range(w*h)) AS p)
)
SELECT CAST(subject AS INT) AS subject, CAST(tone AS INT) AS tone,
       CAST(COUNT(DISTINCT i) AS BIGINT) AS n_images,
       CAST(SUM(v) AS BIGINT) AS sum_px,
       CAST(COUNT(*) AS BIGINT) AS n_px
FROM px GROUP BY 1, 2
"""


# --- Harris corner response (r07): the interest-point detector next
# to Sobel/HOG/GLCM, exact-integer (k=1/16 cleared of the division:
# R16 = 16·(A·B−C²) − (A+B)², int64-safe at ≤~1.4e15). Restricted to
# the 32×32 images so the oracle's TWO chained 9-offset scatter joins
# (gradients, then box window sums) stay tractable; the positives-only
# floor-scaled sum keeps div/// equivalent. Threshold tuned to split
# the noise-fixture response distribution (n_pos > n_corners > 0).
_HARRIS_THR = 2_000_000_000_000


def q_harris_corners(spark, sf_dir):
    from ..operators.multimodal import harris_stats
    imgs = spark.createDataFrame(synth.images_pdf(216)) \
        .filter("w = 32 AND h = 32")
    return harris_stats(imgs, thresh=_HARRIS_THR)


ORACLE["harris_corners"] = f"""
WITH imgs AS (
  SELECT printf('img%08d', i) AS image_id, 42 * 1000003 + i AS base
  FROM range(216) t(i) WHERE i % 9 = 0
), px AS (
  SELECT image_id, (p // 32) AS py, (p % 32) AS pxx,
    xor((((base + (3*p) * 2654435761) % 4294967291) * 279470273)
          % 4294967291,
        ((((base + (3*p) * 2654435761) % 4294967291) * 279470273)
          % 4294967291) >> 16) % 256 AS v
  FROM imgs, LATERAL (SELECT UNNEST(range(1024)) AS p)
), offs AS (
  SELECT dr.dr, dc.dc
  FROM (VALUES (-1), (0), (1)) dr(dr), (VALUES (-1), (0), (1)) dc(dc)
), tgt AS (
  SELECT c.image_id, c.py, c.pxx, o.dr, o.dc,
         c.py + o.dr AS npy, c.pxx + o.dc AS npx
  FROM px c CROSS JOIN offs o
  WHERE c.py BETWEEN 1 AND 30 AND c.pxx BETWEEN 1 AND 30
), g AS (
  SELECT t.image_id, t.py, t.pxx,
    SUM(n.v * t.dc * (2 - ABS(t.dr))) AS gx,
    SUM(n.v * t.dr * (2 - ABS(t.dc))) AS gy
  FROM tgt t
  JOIN px n ON n.image_id = t.image_id
           AND n.py = t.npy AND n.pxx = t.npx
  GROUP BY 1, 2, 3
), t2 AS (
  SELECT c.image_id, c.py, c.pxx,
         c.py + o.dr AS npy, c.pxx + o.dc AS npx
  FROM g c CROSS JOIN offs o
  WHERE c.py BETWEEN 2 AND 29 AND c.pxx BETWEEN 2 AND 29
), w2 AS (
  SELECT t.image_id, t.py, t.pxx,
    SUM(n.gx * n.gx) AS a, SUM(n.gy * n.gy) AS b,
    SUM(n.gx * n.gy) AS c2
  FROM t2 t
  JOIN g n ON n.image_id = t.image_id
          AND n.py = t.npy AND n.pxx = t.npx
  GROUP BY 1, 2, 3
), r AS (
  SELECT image_id, 16*(a*b - c2*c2) - (a+b)*(a+b) AS r16 FROM w2
)
SELECT image_id,
  CAST(SUM(CASE WHEN r16 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
  CAST(SUM(CASE WHEN r16 > {_HARRIS_THR} THEN 1 ELSE 0 END)
       AS BIGINT) AS n_corners,
  CAST(MAX(r16) AS BIGINT) AS max_r16,
  CAST(SUM(CASE WHEN r16 > 0 THEN r16 // 1048576 ELSE 0 END)
       AS BIGINT) AS sum_r16_m
FROM r GROUP BY 1
"""


# --- incremental (CDC append) read (r07): Iceberg incremental scan /
# Delta readChangeFeed for an append-only history — the consumer that
# polls a huge table and reads ONLY the files added since its last
# checkpoint. Appends land one snapshot per orderkey bucket;
# read_incremental(from=0) is a manifest set difference (no data read
# to plan), returning every bucket but the first. The audit counters
# are structural, so the oracle pins them: files_new = n_buckets − 1,
# files_total = n_buckets.
def q_incremental_read(spark, sf_dir):
    from ..sources.tables import IceLiteTable

    t = IceLiteTable(scratch_dir("icelite_incr_"))
    orders = (spark.read.parquet(f"{sf_dir}/orders.parquet")
              .coalesce(1).cache())
    buckets = sorted(r.bkt for r in orders.select(
        F.expr("o_orderkey div 4096").alias("bkt")).distinct().collect())
    for k in buckets:
        t.append(orders.filter(F.expr(f"o_orderkey div 4096 = {k}")))
    orders.unpersist()
    inc, files_new, files_total = t.read_incremental(spark, from_snapshot=0)
    return (inc.groupBy("o_orderstatus")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum("o_orderkey").alias("sum_key"))
            .withColumn("files_new", F.lit(files_new).cast("int"))
            .withColumn("files_total", F.lit(files_total).cast("int")))


ORACLE["incremental_read"] = """
WITH b AS (SELECT COUNT(DISTINCT o_orderkey // 4096) AS nb FROM orders)
SELECT o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(o_orderkey) AS BIGINT) AS sum_key,
       CAST((SELECT nb - 1 FROM b) AS INT) AS files_new,
       CAST((SELECT nb FROM b) AS INT) AS files_total
FROM orders
WHERE o_orderkey // 4096 > (SELECT MIN(o_orderkey // 4096) FROM orders)
GROUP BY 1
"""


# --- integer RGB→YCbCr conversion (r07): the color-space transform
# every JPEG/video encoder and augmentation pipeline runs first, and
# the first query touching all THREE channels (the rest read channel
# 0). BT.601-shaped weights scaled ×256 (77/150/29 etc.) keep every
# plane exact-integer; the oracle re-derives all three channels from
# the pixel closed form at byte offsets j = 3p, 3p+1, 3p+2.
def _px_chan(c: int) -> str:
    j = f"(3*p + {c})"
    lehmer = f"(((base + {j} * 2654435761) % 4294967291) * 279470273) " \
             f"% 4294967291"
    return f"xor({lehmer}, ({lehmer}) >> 16) % 256"


def q_ycbcr_stats(spark, sf_dir):
    from ..operators.multimodal import ycbcr_stats
    return ycbcr_stats(spark.createDataFrame(synth.images_pdf(240)))


ORACLE["ycbcr_stats"] = f"""
WITH imgs AS (
  SELECT i, 'img' || lpad(CAST(i AS VARCHAR), 8, '0') AS image_id,
    CASE i % 3 WHEN 0 THEN 32 WHEN 1 THEN 64 ELSE 96 END AS w,
    CASE (i // 3) % 3 WHEN 0 THEN 32 WHEN 1 THEN 64 ELSE 96 END AS h,
    42 * 1000003 + i AS base
  FROM range(240) t(i)
), px AS (
  SELECT image_id,
         {_px_chan(0)} AS r, {_px_chan(1)} AS g, {_px_chan(2)} AS b
  FROM imgs, LATERAL (SELECT UNNEST(range(w*h)) AS p) u
)
SELECT image_id,
       CAST(SUM(77*r + 150*g + 29*b) AS BIGINT) AS sum_y,
       CAST(MIN(77*r + 150*g + 29*b) AS BIGINT) AS min_y,
       CAST(MAX(77*r + 150*g + 29*b) AS BIGINT) AS max_y,
       CAST(SUM(-43*r - 85*g + 128*b) AS BIGINT) AS sum_cb,
       CAST(SUM(128*r - 107*g - 21*b) AS BIGINT) AS sum_cr
FROM px GROUP BY 1
"""


# --- audio waveform features (r07): the AUDIO leg of the multimodal
# family — zero-crossing count, abs/energy sums, and an energy-VAD
# frame count (librosa zcr/RMS, WebRTC-VAD shape), exact-integer over
# the synthetic s16le PCM clips (data/synth.py::audio_pdf — same
# Lehmer closed form as the pixel plane, mod 2^16, recentred signed).
# Compressed clips (fmt='opus', every 17th) are a DOCUMENTED decode
# stub (codec.decode_audio raises) and are filtered out here, like
# the inter-frame video codecs. The oracle re-derives every sample
# AND its successor in closed form — no joins for the sign-change
# term — and replays the frame-energy VAD as a two-level aggregate.
def _smp(t: str) -> str:
    lehmer = (f"(((base + ({t}) * 2654435761) % 4294967291)"
              f" * 279470273) % 4294967291")
    return f"(xor({lehmer}, ({lehmer}) >> 16) % 65536 - 32768)"


def q_waveform_stats(spark, sf_dir):
    from ..operators.multimodal import waveform_stats
    clips = spark.createDataFrame(synth.audio_pdf(240)) \
        .filter("fmt = 's16le'")
    return waveform_stats(clips)


ORACLE["waveform_stats"] = f"""
WITH clips AS (
  SELECT i, 'clip' || lpad(CAST(i AS VARCHAR), 8, '0') AS clip_id,
         CASE i % 3 WHEN 0 THEN 2048 WHEN 1 THEN 4096 ELSE 8192 END AS ns,
         42 * 1000003 + 900000 + i AS base
  FROM range(240) t(i)
  WHERE i % 17 <> 0
), px AS (
  SELECT clip_id, ns, t, {_smp('t')} AS s,
         CASE WHEN t < ns - 1 THEN {_smp('t + 1')} END AS snext
  FROM clips, LATERAL (SELECT UNNEST(range(ns)) AS t) u
), fr AS (
  SELECT clip_id, t // 1024 AS f, CAST(SUM(s * s) AS BIGINT) AS fe
  FROM px GROUP BY 1, 2
), vad AS (
  SELECT clip_id, CAST(COUNT(*) AS BIGINT) AS n_frames,
         COUNT(CASE WHEN fe >= 366592000000 THEN 1 END) AS n_voiced
  FROM fr GROUP BY 1
)
SELECT p.clip_id,
       CAST(COUNT(*) AS BIGINT) AS n_samples,
       CAST(MAX(ABS(s)) AS BIGINT) AS max_abs,
       CAST(SUM(ABS(s)) AS BIGINT) AS sum_abs,
       COUNT(CASE WHEN s * snext < 0 THEN 1 END) AS zero_cross,
       CAST(SUM(s * s) AS BIGINT) AS energy,
       v.n_frames, v.n_voiced
FROM px p JOIN vad v USING (clip_id)
GROUP BY 1, v.n_frames, v.n_voiced
"""


# --- autocorrelation pitch estimation (r07 wave D): the ACF pitch
# tracker (YIN/RAPT first stage) over the s16le clips — R(L) =
# Σ_{t<512} s_t·s_{t+L} on a fixed lag grid (32..96 step 8), argmax
# with ties → smallest lag, f0_milli = sr·1000 div best_lag. Exact
# int64; the oracle re-derives both sample streams (s_t and the
# lag-shifted s_{t+L}) from the Lehmer closed form and replays the
# deterministic argmax as max-then-min-lag. Compressed clips
# (fmt='opus') are the documented decode stub and are filtered.
def q_audio_pitch(spark, sf_dir):
    from ..operators.multimodal import audio_pitch
    clips = spark.createDataFrame(synth.audio_pdf(240)) \
        .filter("fmt = 's16le'")
    return audio_pitch(clips)


ORACLE["audio_pitch"] = f"""
WITH clips AS (
  SELECT i, 'clip' || lpad(CAST(i AS VARCHAR), 8, '0') AS clip_id,
         CASE i % 3 WHEN 0 THEN 8000 WHEN 1 THEN 16000
                    ELSE 22050 END AS sr,
         42 * 1000003 + 900000 + i AS base
  FROM range(240) t(i)
  WHERE i % 17 <> 0
), acf AS (
  SELECT clip_id, sr, lag,
         CAST(SUM(({_smp('t')}) * ({_smp('t + lag')})) AS BIGINT) AS r
  FROM clips,
       LATERAL (SELECT UNNEST(range(32, 97, 8)) AS lag) lg,
       LATERAL (SELECT UNNEST(range(512)) AS t) u
  GROUP BY 1, 2, 3
), best AS (
  SELECT clip_id, MAX(r) AS r_best FROM acf GROUP BY 1
), sel AS (
  SELECT a.clip_id, MIN(a.lag) AS best_lag
  FROM acf a JOIN best b ON b.clip_id = a.clip_id AND a.r = b.r_best
  GROUP BY 1
)
SELECT s.clip_id,
       CAST(s.best_lag AS BIGINT) AS best_lag,
       b.r_best,
       a32.r AS r_lag32,
       CAST(a32.sr * 1000 // s.best_lag AS BIGINT) AS f0_milli
FROM sel s
JOIN best b ON b.clip_id = s.clip_id
JOIN acf a32 ON a32.clip_id = s.clip_id AND a32.lag = 32
"""


# --- run-length encoding statistics (r07 wave D): the RLE
# compressibility probe (fax G3 / PackBits shape) — channel 0
# quantized to 4 levels (v >> 6), runs are maximal same-level spans
# within each pixel ROW (scanline semantics: runs never cross row
# boundaries), per image run count / longest run / exact mean run
# length in milli-pixels. The oracle replays runs as gaps-and-islands
# windows (run start ⇔ row start or level change) over the
# closed-form pixel plane.
def q_run_length(spark, sf_dir):
    from ..operators.multimodal import run_length_stats
    return run_length_stats(spark.createDataFrame(synth.images_pdf(240)))


ORACLE["run_length"] = f"""
WITH imgs AS (
  SELECT i, 'img' || lpad(CAST(i AS VARCHAR), 8, '0') AS image_id,
    CASE i % 3 WHEN 0 THEN 32 WHEN 1 THEN 64 ELSE 96 END AS w,
    CASE (i // 3) % 3 WHEN 0 THEN 32 WHEN 1 THEN 64 ELSE 96 END AS h,
    42 * 1000003 + i AS base
  FROM range(240) t(i)
), px AS (
  SELECT image_id, w, h, p, ({_px_chan(0)}) // 64 AS q
  FROM imgs, LATERAL (SELECT UNNEST(range(w*h)) AS p) u
), st AS (
  SELECT image_id, w, h, p, q,
         CASE WHEN p % w = 0 THEN 1
              WHEN q <> LAG(q) OVER (PARTITION BY image_id ORDER BY p)
                THEN 1 ELSE 0 END AS start
  FROM px
), isl AS (
  SELECT image_id, w, h,
         SUM(start) OVER (PARTITION BY image_id ORDER BY p
                          ROWS UNBOUNDED PRECEDING) AS run_id
  FROM st
), runs AS (
  SELECT image_id, w, h, run_id, COUNT(*) AS run_len
  FROM isl GROUP BY 1, 2, 3, 4
)
SELECT image_id,
       CAST(MAX(w) * MAX(h) AS BIGINT) AS n_px,
       CAST(COUNT(*) AS BIGINT) AS n_runs,
       CAST(MAX(run_len) AS BIGINT) AS max_run,
       CAST(MAX(w) * MAX(h) * 1000 // COUNT(*) AS BIGINT)
         AS mean_run_milli
FROM runs GROUP BY 1
"""


# --- raw + central image moments (r07 wave E): cv2.moments / Hu-
# moment stage-one on channel 0 — mass, centroid numerators, and
# M-scaled central second moments µ20·M = M·m20 − m10² (exact int64;
# the M scaling clears the centroid division), plus the integer
# anisotropy verdict sign(µ20M − µ02M). The oracle re-derives every
# moment term from the closed-form pixel plane.
def q_image_moments(spark, sf_dir):
    from ..operators.multimodal import image_moments
    return image_moments(spark.createDataFrame(synth.images_pdf(240)))


ORACLE["image_moments"] = f"""
WITH imgs AS (
  SELECT i, 'img' || lpad(CAST(i AS VARCHAR), 8, '0') AS image_id,
    CASE i % 3 WHEN 0 THEN 32 WHEN 1 THEN 64 ELSE 96 END AS w,
    CASE (i // 3) % 3 WHEN 0 THEN 32 WHEN 1 THEN 64 ELSE 96 END AS h,
    42 * 1000003 + i AS base
  FROM range(240) t(i)
), px AS (
  SELECT image_id, p % w AS x, p // w AS y, {_px_chan(0)} AS v
  FROM imgs, LATERAL (SELECT UNNEST(range(w*h)) AS p) u
), m AS (
  SELECT image_id,
         CAST(SUM(v) AS BIGINT) AS mass,
         CAST(SUM(v * x) AS BIGINT) AS m10,
         CAST(SUM(v * y) AS BIGINT) AS m01,
         CAST(SUM(v * x * x) AS BIGINT) AS m20,
         CAST(SUM(v * y * y) AS BIGINT) AS m02,
         CAST(SUM(v * x * y) AS BIGINT) AS m11
  FROM px GROUP BY 1
)
SELECT image_id, mass, m10, m01,
       mass * m20 - m10 * m10 AS mu20m,
       mass * m02 - m01 * m01 AS mu02m,
       mass * m11 - m10 * m01 AS mu11m,
       CAST(SIGN(mass * m20 - m10 * m10
                 - (mass * m02 - m01 * m01)) AS BIGINT) AS elong
FROM m
"""


# --- Hough line detection (r07 wave F): Duda–Hart voting with
# 1024-scaled integer trig over the Sobel edge mask (interior L1 ≥
# 800); ρ bucket floor-safe via the +131072 offset. Per image the
# strongest (θ, ρ) accumulator cell, ties → smallest θ then ρ —
# replayed in SQL as max-count → min-θ → min-ρ over the identical
# integer votes (edge mask re-derived with the sobel oracle's
# materialized-scatter join).
def q_hough_lines(spark, sf_dir):
    from ..operators.multimodal import hough_lines
    return hough_lines(spark.createDataFrame(synth.images_pdf(120)))


ORACLE["hough_lines"] = """
WITH imgs AS (
  SELECT printf('img%08d', i) AS image_id,
    CASE i % 3 WHEN 0 THEN 32 WHEN 1 THEN 64 ELSE 96 END AS w,
    CASE (i // 3) % 3 WHEN 0 THEN 32 WHEN 1 THEN 64 ELSE 96 END AS h,
    42 * 1000003 + i AS base
  FROM range(120) t(i)
), px AS (
  SELECT image_id, w, h,
    (j // 3) // w AS py,
    (j // 3) % w AS pxx,
    xor((((base + j * 2654435761) % 4294967291) * 279470273) % 4294967291,
        ((((base + j * 2654435761) % 4294967291) * 279470273) % 4294967291)
        >> 16) % 256 AS v
  FROM imgs, LATERAL (SELECT UNNEST(range(w*h*3)) AS j)
  WHERE j % 3 = 0
), offs AS (
  SELECT dr.dr, dc.dc
  FROM (VALUES (-1), (0), (1)) dr(dr), (VALUES (-1), (0), (1)) dc(dc)
), tgt AS (
  SELECT c.image_id, c.py, c.pxx, o.dr, o.dc,
         c.py + o.dr AS npy, c.pxx + o.dc AS npx
  FROM px c CROSS JOIN offs o
  WHERE c.py >= 1 AND c.py <= c.h - 2
    AND c.pxx >= 1 AND c.pxx <= c.w - 2
), g AS (
  SELECT t.image_id, t.py, t.pxx,
    SUM(n.v * t.dc * (2 - ABS(t.dr))) AS gx,
    SUM(n.v * t.dr * (2 - ABS(t.dc))) AS gy
  FROM tgt t
  JOIN px n ON n.image_id = t.image_id
           AND n.py = t.npy AND n.pxx = t.npx
  GROUP BY t.image_id, t.py, t.pxx
), edges AS (
  SELECT image_id, pxx AS x, py AS y
  FROM g WHERE ABS(gx) + ABS(gy) >= 800
), ne AS (
  SELECT image_id, CAST(COUNT(*) AS BIGINT) AS n_edges
  FROM edges GROUP BY 1
), acc AS (
  SELECT image_id, th.t,
         (x * th.c + y * th.s + 131072) // 4096 AS rho,
         COUNT(*) AS cnt
  FROM edges,
       (VALUES (0, 1024, 0), (1, 887, 512), (2, 512, 887),
               (3, 0, 1024), (4, -512, 887), (5, -887, 512))
       th(t, c, s)
  GROUP BY 1, 2, 3
), mx AS (
  SELECT image_id, MAX(cnt) AS best_count FROM acc GROUP BY 1
), t1 AS (
  SELECT a.image_id, MIN(a.t) AS best_theta
  FROM acc a JOIN mx ON mx.image_id = a.image_id
  WHERE a.cnt = mx.best_count GROUP BY 1
), r1 AS (
  SELECT a.image_id, MIN(a.rho) AS best_rho
  FROM acc a
  JOIN mx ON mx.image_id = a.image_id
  JOIN t1 ON t1.image_id = a.image_id
  WHERE a.cnt = mx.best_count AND a.t = t1.best_theta
  GROUP BY 1
)
SELECT i.image_id,
       COALESCE(ne.n_edges, 0) AS n_edges,
       CAST(COALESCE(mx.best_count, 0) AS BIGINT) AS best_count,
       CAST(COALESCE(t1.best_theta, -1) AS BIGINT) AS best_theta,
       CAST(COALESCE(r1.best_rho, -1) AS BIGINT) AS best_rho
FROM imgs i
LEFT JOIN ne ON ne.image_id = i.image_id
LEFT JOIN mx ON mx.image_id = i.image_id
LEFT JOIN t1 ON t1.image_id = i.image_id
LEFT JOIN r1 ON r1.image_id = i.image_id
"""


# --- product quantization encode (r07 wave G): Jégou-style PQ over
# the embeddings table — the compression half of IVF+PQ (the IVF
# coarse quantizer + Lloyd refinement are embed_ann_ivf*). Codebook
# components are exact binary fractions and every subdistance is the
# SAME fixed-order 8-term IEEE expression in both engines, so the
# argmin needs no epsilon (operators/similarity.py::pq_dist_sql is
# shared verbatim between the Spark plan and this oracle).
def q_pq_encode(spark, sf_dir):
    from ..operators.similarity import pq_encode
    return pq_encode(_emb(spark, sf_dir))


def _pq_oracle() -> str:
    from ..operators.similarity import (PQ_CODES, PQ_SUBS, pq_code_sql,
                                        pq_dist_sql)

    def elem(k: int) -> str:
        return f"CAST(embedding[{k}] AS DOUBLE)"

    dists = ",\n    ".join(
        f"{pq_dist_sql(s, c, elem)} AS d{s}_{c}"
        for s in range(PQ_SUBS) for c in range(PQ_CODES))
    codes = ",\n    ".join(
        f"{pq_code_sql(s)} AS c{s}" for s in range(PQ_SUBS))
    errs = ",\n    ".join(
        f"LEAST(d{s}_0, d{s}_1, d{s}_2, d{s}_3) AS e{s}"
        for s in range(PQ_SUBS))
    packed = " + ".join(f"c{s} * {4 ** s}" for s in range(PQ_SUBS))
    err = " + ".join(f"e{s}" for s in range(PQ_SUBS))
    return f"""
WITH d AS (
  SELECT vec_id,
    {dists}
  FROM embeddings
), coded AS (
  SELECT vec_id,
    {codes},
    {errs}
  FROM d
)
SELECT vec_id,
       CAST({packed} AS BIGINT) AS packed,
       ROUND({err}, 6) AS err6
FROM coded
"""


ORACLE["pq_encode"] = _pq_oracle()


# --- banded audio-fingerprint dedup (r07 wave G): the audio analog
# of simhash banding — 16-bit energy-delta fingerprints
# (operators/multimodal.py::audio_fingerprint), LSH-banded into
# (5,5,6)-bit bands so hamming ≤ 2 pairs are GUARANTEED to share a
# band (3 bands > max hamming — the pigeonhole completeness rule),
# candidate pairs join on band equality and refine on
# bit_count(xor) ≤ 2 (probed engine-identical). The oracle
# re-derives every frame energy from the closed-form sample plane,
# replays the bits as a LEAD window and the banding arithmetic
# verbatim — completeness comes from replaying the SAME bands, while
# tests pin banding recall against the unbanded quadratic screen.
def q_audio_fp_dedup(spark, sf_dir):
    from ..operators.multimodal import audio_fingerprint
    clips = spark.createDataFrame(synth.audio_pdf(240)) \
        .filter("fmt = 's16le'")
    fp = audio_fingerprint(clips)
    bands = fp.select(
        "clip_id", "fp",
        F.explode(F.expr(
            "array(struct(0L AS band_id, fp % 32 AS band_val),"
            " struct(1L AS band_id, (fp div 32) % 32 AS band_val),"
            " struct(2L AS band_id, (fp div 1024) % 64 AS band_val))"
        )).alias("b")).select("clip_id", "fp", "b.band_id", "b.band_val")
    a = bands.select(F.col("clip_id").alias("id_a"),
                     F.col("fp").alias("fp_a"), "band_id", "band_val")
    b = bands.select(F.col("clip_id").alias("id_b"),
                     F.col("fp").alias("fp_b"), "band_id", "band_val")
    return (a.join(b, ["band_id", "band_val"])
            .filter("id_a < id_b")
            .select("id_a", "id_b", "fp_a", "fp_b").distinct()
            .withColumn("ham", F.expr("bit_count(fp_a ^ fp_b)")
                        .cast("long"))
            .filter("ham <= 2")
            .select("id_a", "id_b", "ham"))


ORACLE["audio_fp_dedup"] = f"""
WITH clips AS (
  SELECT i, 'clip' || lpad(CAST(i AS VARCHAR), 8, '0') AS clip_id,
         42 * 1000003 + 900000 + i AS base
  FROM range(240) t(i)
  WHERE i % 17 <> 0
), en AS (
  SELECT clip_id, t // 64 AS f,
         CAST(SUM(({_smp('t')}) * ({_smp('t')})) AS BIGINT) AS e
  FROM clips, LATERAL (SELECT UNNEST(range(1088)) AS t) u
  GROUP BY 1, 2
), bits AS (
  SELECT clip_id, f,
         CASE WHEN LEAD(e) OVER (PARTITION BY clip_id ORDER BY f) > e
              THEN 1 ELSE 0 END AS bit
  FROM en
), fp AS (
  SELECT clip_id,
         CAST(SUM(bit << f) AS BIGINT) AS fp
  FROM bits WHERE f < 16 GROUP BY 1
), bands AS (
  SELECT clip_id, fp, v.band_id,
         CASE v.band_id WHEN 0 THEN fp % 32
                        WHEN 1 THEN (fp // 32) % 32
                        ELSE (fp // 1024) % 64 END AS band_val
  FROM fp, (VALUES (0), (1), (2)) v(band_id)
), pairs AS (
  SELECT DISTINCT a.clip_id AS id_a, b.clip_id AS id_b,
         a.fp AS fp_a, b.fp AS fp_b
  FROM bands a JOIN bands b
    ON a.band_id = b.band_id AND a.band_val = b.band_val
   AND a.clip_id < b.clip_id
)
SELECT id_a, id_b, CAST(bit_count(xor(fp_a, fp_b)) AS BIGINT) AS ham
FROM pairs WHERE bit_count(xor(fp_a, fp_b)) <= 2
"""


# --- local binary patterns (r07 wave J): Ojala's LBP texture codes
# over channel-0 interior pixels — bit k ⟺ neighbor_k ≥ centre
# (counterclockwise from east), per image the code sum, the UNIFORM
# count (≤ 2 circular transitions: bit_count(code XOR rol8(code)) ≤ 2)
# and a 4-bin coarse histogram. Engine = mapInPandas NumPy shifted
# views (operators/multimodal.py::lbp_stats, zero shuffle); the
# oracle re-derives the centre AND all 8 neighbor bytes from the
# Lehmer pixel closed form (9 expressions per pixel) and replays the
# rol8/popcount uniformity test in SQL.
def _lbp_nb(dr: int, dc: int) -> str:
    j = f"(3*(p + ({dr})*w + ({dc})))"
    lehmer = f"(((base + {j} * 2654435761) % 4294967291) * 279470273) " \
             f"% 4294967291"
    return f"(xor({lehmer}, ({lehmer}) >> 16) % 256)"


def q_lbp_hist(spark, sf_dir):
    from ..operators.multimodal import lbp_stats
    return lbp_stats(spark.createDataFrame(synth.images_pdf(120)))


_LBP_CODE = " + ".join(
    f"(CASE WHEN {_lbp_nb(dr, dc)} >= ctr THEN {1 << k} ELSE 0 END)"
    for k, (dr, dc) in enumerate(
        ((0, 1), (-1, 1), (-1, 0), (-1, -1),
         (0, -1), (1, -1), (1, 0), (1, 1))))

ORACLE["lbp_hist"] = f"""
WITH imgs AS (
  SELECT i, 'img' || lpad(CAST(i AS VARCHAR), 8, '0') AS image_id,
    CASE i % 3 WHEN 0 THEN 32 WHEN 1 THEN 64 ELSE 96 END AS w,
    CASE (i // 3) % 3 WHEN 0 THEN 32 WHEN 1 THEN 64 ELSE 96 END AS h,
    42 * 1000003 + i AS base
  FROM range(120) t(i)
), px AS (
  SELECT image_id, base, w, h, p, p // w AS r, p % w AS c,
         {_lbp_nb(0, 0).replace('p +', 'p + 0*w +')} AS ctr
  FROM imgs, LATERAL (SELECT UNNEST(range(w*h)) AS p) u
), coded AS (
  SELECT image_id, ({_LBP_CODE}) AS code
  FROM px
  WHERE r BETWEEN 1 AND h - 2 AND c BETWEEN 1 AND w - 2
), uni AS (
  SELECT image_id, code,
         bit_count(CAST(xor(code, (code * 2) % 256 + code // 128)
                        AS BIGINT)) AS trans
  FROM coded
)
SELECT image_id,
       CAST(COUNT(*) AS BIGINT) AS n_interior,
       CAST(SUM(code) AS BIGINT) AS sum_code,
       CAST(SUM(CASE WHEN trans <= 2 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_uniform,
       CAST(SUM(CASE WHEN code < 64 THEN 1 ELSE 0 END) AS BIGINT) AS n_q0,
       CAST(SUM(CASE WHEN code >= 64 AND code < 128 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_q1,
       CAST(SUM(CASE WHEN code >= 128 AND code < 192 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_q2,
       CAST(SUM(CASE WHEN code >= 192 THEN 1 ELSE 0 END) AS BIGINT) AS n_q3
FROM uni GROUP BY 1
"""


# --- Bayer ordered dithering (r07 wave K): halftoning chosen over
# Floyd–Steinberg because the threshold matrix is position-local
# (error diffusion is a serial scan — wrong shape at 100 TB). ON ⟺
# px ≥ 16·B4[r%4][c%4] + 9; per image the total ON count and the
# 2×2 quadrant densities. Engine = mapInPandas NumPy tiling
# (operators/multimodal.py::ordered_dither); the oracle re-derives
# every pixel from the Lehmer closed form and indexes the same
# matrix with one 16-way CASE.
_B4 = (0, 8, 2, 10, 12, 4, 14, 6, 3, 11, 1, 9, 15, 7, 13, 5)


def q_bayer_dither(spark, sf_dir):
    from ..operators.multimodal import ordered_dither
    return ordered_dither(spark.createDataFrame(synth.images_pdf(180)))


_B4_CASE = ("CASE (r % 4) * 4 + (c % 4) "
            + " ".join(f"WHEN {i} THEN {v}" for i, v in enumerate(_B4))
            + " END")

ORACLE["bayer_dither"] = f"""
WITH imgs AS (
  SELECT i, 'img' || lpad(CAST(i AS VARCHAR), 8, '0') AS image_id,
    CASE i % 3 WHEN 0 THEN 32 WHEN 1 THEN 64 ELSE 96 END AS w,
    CASE (i // 3) % 3 WHEN 0 THEN 32 WHEN 1 THEN 64 ELSE 96 END AS h,
    42 * 1000003 + i AS base
  FROM range(180) t(i)
), px AS (
  SELECT image_id, w, h, p // w AS r, p % w AS c,
         {_px_chan(0)} AS v
  FROM imgs, LATERAL (SELECT UNNEST(range(w*h)) AS p) u
), bit AS (
  SELECT image_id,
         (r * 2) // h AS qr, (c * 2) // w AS qc,
         CASE WHEN v >= 16 * ({_B4_CASE}) + 9 THEN 1 ELSE 0 END AS onb
  FROM px
)
SELECT image_id,
       CAST(SUM(onb) AS BIGINT) AS n_on,
       CAST(SUM(CASE WHEN qr = 0 AND qc = 0 THEN onb ELSE 0 END)
            AS BIGINT) AS q00,
       CAST(SUM(CASE WHEN qr = 0 AND qc = 1 THEN onb ELSE 0 END)
            AS BIGINT) AS q01,
       CAST(SUM(CASE WHEN qr = 1 AND qc = 0 THEN onb ELSE 0 END)
            AS BIGINT) AS q10,
       CAST(SUM(CASE WHEN qr = 1 AND qc = 1 THEN onb ELSE 0 END)
            AS BIGINT) AS q11
FROM bit GROUP BY 1
"""


# --- template matching (r07 wave L): raw integer cross-correlation
# of the fixed 5×5 signed template (operators/multimodal.py::TMPL5)
# over channel 0 — argmax position with ties → smallest (r, c). The
# oracle re-derives all 25 window terms from the Lehmer pixel closed
# form at every offset and replays the deterministic argmax as a
# ROW_NUMBER window.
def _tm_px(r: str, c: str) -> str:
    j = f"(3*(({r})*w + ({c})))"
    lehmer = f"(((base + {j} * 2654435761) % 4294967291) * 279470273) " \
             f"% 4294967291"
    return f"(xor({lehmer}, ({lehmer}) >> 16) % 256)"


def q_template_match(spark, sf_dir):
    from ..operators.multimodal import template_match
    return template_match(spark.createDataFrame(synth.images_pdf(120)))


_TM_SCORE = " + ".join(
    f"({(i*7 + j*3 + 1) % 5 - 2})*({_tm_px(f'(r + {i})', f'(c + {j})')})"
    for i in range(5) for j in range(5))

ORACLE["template_match"] = f"""
WITH imgs AS (
  SELECT i, 'img' || lpad(CAST(i AS VARCHAR), 8, '0') AS image_id,
    CASE i % 3 WHEN 0 THEN 32 WHEN 1 THEN 64 ELSE 96 END AS w,
    CASE (i // 3) % 3 WHEN 0 THEN 32 WHEN 1 THEN 64 ELSE 96 END AS h,
    42 * 1000003 + i AS base
  FROM range(120) t(i)
), sc AS (
  SELECT image_id, p // (w - 4) AS r, p % (w - 4) AS c,
         ({_TM_SCORE}) AS score
  FROM imgs, LATERAL (SELECT UNNEST(range((h-4)*(w-4))) AS p) u
), best AS (
  SELECT image_id, r, c, score,
         ROW_NUMBER() OVER (PARTITION BY image_id
                            ORDER BY score DESC, r, c) AS rn
  FROM sc
)
SELECT image_id, CAST(r AS BIGINT) AS best_r, CAST(c AS BIGINT) AS best_c,
       CAST(score AS BIGINT) AS best_score
FROM best WHERE rn = 1
"""


# --- rational 2/3 audio resample (r07 wave M): linear-interp
# downsampling kept exact by 2×-scaled output samples (even k reads
# one sample, odd k the midpoint SUM — never a /2, whose
# floor-vs-trunc would diverge on signed values across engines).
# Oracle re-derives both source samples per output position from the
# Lehmer closed form.
def q_audio_resample(spark, sf_dir):
    from ..operators.multimodal import audio_resample
    clips = spark.createDataFrame(synth.audio_pdf(240)) \
        .filter("fmt = 's16le'")
    return audio_resample(clips)


ORACLE["audio_resample"] = f"""
WITH clips AS (
  SELECT i, 'clip' || lpad(CAST(i AS VARCHAR), 8, '0') AS clip_id,
         CASE i % 3 WHEN 0 THEN 2048 WHEN 1 THEN 4096 ELSE 8192 END AS ns,
         42 * 1000003 + 900000 + i AS base
  FROM range(240) t(i)
  WHERE i % 17 <> 0
), o AS (
  SELECT clip_id, 2 * (ns - 1) // 3 + 1 AS n_out,
         CASE WHEN k % 2 = 0 THEN 2 * ({_smp('3 * k // 2')})
              ELSE ({_smp('(3 * k - 1) // 2')})
                   + ({_smp('(3 * k + 1) // 2')}) END AS out2
  FROM clips,
       LATERAL (SELECT UNNEST(range(2 * (ns - 1) // 3 + 1)) AS k) u
)
SELECT clip_id, CAST(MAX(n_out) AS BIGINT) AS n_out,
       CAST(SUM(ABS(out2)) AS BIGINT) AS sum_abs2,
       CAST(SUM(out2 * out2) AS BIGINT) AS energy4,
       CAST(MAX(ABS(out2)) AS BIGINT) AS max_abs2
FROM o GROUP BY 1
"""


# --- median-cut first split (r07 wave M): Heckbert's palette
# construction — widest-range channel (ties → R, G, B), lower
# median in value order, per-half pixel counts. The oracle computes
# the three ranges per image, CASE-selects the split channel's
# value, and replays the lower median as a ROW_NUMBER pick.
def q_color_mediancut(spark, sf_dir):
    from ..operators.multimodal import mediancut_split
    return mediancut_split(spark.createDataFrame(synth.images_pdf(120)))


ORACLE["color_mediancut"] = f"""
WITH imgs AS (
  SELECT i, 'img' || lpad(CAST(i AS VARCHAR), 8, '0') AS image_id,
    CASE i % 3 WHEN 0 THEN 32 WHEN 1 THEN 64 ELSE 96 END AS w,
    CASE (i // 3) % 3 WHEN 0 THEN 32 WHEN 1 THEN 64 ELSE 96 END AS h,
    42 * 1000003 + i AS base
  FROM range(120) t(i)
), px AS (
  SELECT image_id, w, h,
         {_px_chan(0)} AS r, {_px_chan(1)} AS g, {_px_chan(2)} AS b
  FROM imgs, LATERAL (SELECT UNNEST(range(w*h)) AS p) u
), rng AS (
  SELECT image_id, MAX(r) - MIN(r) AS dr, MAX(g) - MIN(g) AS dg,
         MAX(b) - MIN(b) AS db, COUNT(*) AS n
  FROM px GROUP BY 1
), sp AS (
  SELECT image_id, n,
         CASE WHEN dr >= dg AND dr >= db THEN 0
              WHEN dg >= db THEN 1 ELSE 2 END AS split_c
  FROM rng
), sel AS (
  SELECT p.image_id, s.split_c, s.n,
         CASE s.split_c WHEN 0 THEN p.r WHEN 1 THEN p.g
              ELSE p.b END AS v
  FROM px p JOIN sp s USING (image_id)
), rk AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY image_id ORDER BY v) AS rn
  FROM sel
), med AS (
  SELECT image_id, MAX(CASE WHEN rn = (n + 1) // 2 THEN v END) AS med_v
  FROM rk GROUP BY 1
)
SELECT s.image_id, CAST(MAX(s.split_c) AS BIGINT) AS split_c,
       CAST(MAX(m.med_v) AS BIGINT) AS med_v,
       CAST(SUM(CASE WHEN s.v <= m.med_v THEN 1 ELSE 0 END) AS BIGINT)
         AS n_lo,
       CAST(SUM(CASE WHEN s.v > m.med_v THEN 1 ELSE 0 END) AS BIGINT)
         AS n_hi
FROM sel s JOIN med m USING (image_id)
GROUP BY 1
"""


# --- scene-cut detection (r07 wave N): the shot-boundary screen a
# video curation pipeline runs on motion_stats' per-pair output —
# a pair (j−1, j) is a CUT when its L1 frame difference exceeds the
# 85·n_px threshold (85 ≈ the mean |Δ| of independent uniform
# bytes, so the verdict stays integer: motion_l1 > 85·w·h). Per
# video: pair count, cut count, FIRST cut frame (−1 when none —
# LEFT-join default), and the peak L1. Engine = motion_stats (zero
# shuffle) + one metadata join + one groupBy; oracle extends the
# motion_energy closed-form replay with the same threshold.
def q_scene_cuts(spark, sf_dir):
    from ..operators.multimodal import motion_stats
    videos = spark.createDataFrame(synth.videos_pdf(24))
    m = motion_stats(videos).join(
        videos.select("image_id", "w", "h"), "image_id")
    return (m.groupBy("image_id")
            .agg(F.count(F.lit(1)).alias("n_pairs"),
                 F.sum(F.when(F.col("motion_l1")
                              > 85 * F.col("w") * F.col("h"), 1)
                       .otherwise(0)).cast("long").alias("n_cuts"),
                 F.min(F.when(F.col("motion_l1")
                              > 85 * F.col("w") * F.col("h"),
                              F.col("frame_idx"))).alias("fc"),
                 F.max("motion_l1").alias("max_l1"))
            .select("image_id", "n_pairs", "n_cuts",
                    F.coalesce(F.col("fc").cast("long"), F.lit(-1))
                    .alias("first_cut"), "max_l1"))


ORACLE["scene_cuts"] = """
WITH vids AS (
  SELECT i, printf('vid%08d', i) AS image_id, 32 AS w,
         CASE i % 2 WHEN 0 THEN 32 ELSE 48 END AS h,
         3 + i % 5 AS nf
  FROM range(24) t(i)
), fr AS (
  SELECT image_id, w, h, j,
         42 * 1000003 + 500000 + i * 64 + j AS base
  FROM vids, LATERAL (SELECT UNNEST(range(nf)) AS j)
), px AS (
  SELECT image_id, w, h, j, k,
    xor((((base + k * 2654435761) % 4294967291) * 279470273) % 4294967291,
        ((((base + k * 2654435761) % 4294967291) * 279470273) % 4294967291)
        >> 16) % 256 AS v
  FROM fr, LATERAL (SELECT UNNEST(range(w*h*3)) AS k)
  WHERE k % 3 = 0
), pairs AS (
  SELECT a.image_id, a.w, a.h, a.j,
         CAST(SUM(ABS(a.v - b.v)) AS BIGINT) AS motion_l1
  FROM px a JOIN px b
    ON b.image_id = a.image_id AND b.j = a.j - 1 AND b.k = a.k
  GROUP BY 1, 2, 3, 4
)
SELECT image_id,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(SUM(CASE WHEN motion_l1 > 85 * w * h THEN 1 ELSE 0 END)
            AS BIGINT) AS n_cuts,
       CAST(COALESCE(MIN(CASE WHEN motion_l1 > 85 * w * h THEN j END),
                     -1) AS BIGINT) AS first_cut,
       CAST(MAX(motion_l1) AS BIGINT) AS max_l1
FROM pairs GROUP BY 1
"""


# --- cross-modal correlation (r07 wave O): the image↔caption JOINT
# statistic a multimodal curation pipeline monitors — Pearson
# correlation between caption length and image brightness (channel-0
# pixel sum), with ALL three moment numerators exact integer
# (n·Σxy − ΣxΣy and both variance numerators; the r value itself
# needs a √ and is deliberately left to the caller). Engine decodes
# via mapInPandas (one pass, zero shuffle, 1-row agg); the oracle
# re-derives the pixel sums from the Lehmer closed form AND the
# caption length from the same printf construction synth uses.
def q_crossmodal_corr(spark, sf_dir):
    from ..operators.multimodal import decode_stats  # noqa: F401
    imgs = spark.createDataFrame(synth.images_pdf(240))
    import pandas as _pd

    from pyspark.sql import types as _T

    schema = _T.StructType([
        _T.StructField("x", _T.LongType()),
        _T.StructField("y", _T.LongType()),
    ])

    def gen(batches):
        from ..data import codec as _codec
        import numpy as _np
        for pdf in batches:
            rows = []
            for r in pdf.itertuples():
                v = _codec.decode_image(r.bytes, r.fmt, r.w, r.h)[..., 0]
                rows.append((len(r.caption),
                             int(v.astype(_np.int64).sum())))
            yield _pd.DataFrame(rows, columns=["x", "y"])
    xy = imgs.mapInPandas(gen, schema)
    return (xy.agg(F.count(F.lit(1)).alias("n"),
                   F.sum("x").alias("sum_x"), F.sum("y").alias("sum_y"),
                   F.sum(F.col("x") * F.col("y")).alias("sum_xy"),
                   F.sum(F.col("x") * F.col("x")).alias("sum_x2"),
                   F.sum(F.col("y") * F.col("y")).alias("sum_y2"))
            .select("n", "sum_x", "sum_y",
                    (F.col("n") * F.col("sum_xy")
                     - F.col("sum_x") * F.col("sum_y")).alias("cov_num"),
                    (F.col("n") * F.col("sum_x2")
                     - F.col("sum_x") * F.col("sum_x")).alias("var_x_num"),
                    (F.col("n") * F.col("sum_y2")
                     - F.col("sum_y") * F.col("sum_y")).alias("var_y_num"))
            .withColumn("positive", F.col("cov_num") > 0))


ORACLE["crossmodal_corr"] = f"""
WITH imgs AS (
  SELECT i,
    CASE i % 3 WHEN 0 THEN 32 WHEN 1 THEN 64 ELSE 96 END AS w,
    CASE (i // 3) % 3 WHEN 0 THEN 32 WHEN 1 THEN 64 ELSE 96 END AS h,
    42 * 1000003 + i AS base,
    length('A caption for image ' || lpad(CAST(i AS VARCHAR), 8, '0')
           || ' in tone ' || CAST(i % 7 AS VARCHAR)
           || ' about subject ' || CAST(i % 13 AS VARCHAR) || '.') AS x
  FROM range(240) t(i)
), ysum AS (
  SELECT i, x, CAST(SUM({_px_chan(0)}) AS BIGINT) AS y
  FROM imgs, LATERAL (SELECT UNNEST(range(w*h)) AS p) u
  GROUP BY 1, 2
)
SELECT CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(x) AS BIGINT) AS sum_x,
       CAST(SUM(y) AS BIGINT) AS sum_y,
       CAST(COUNT(*) * SUM(x * y) - SUM(x) * SUM(y) AS BIGINT)
         AS cov_num,
       CAST(COUNT(*) * SUM(x * x) - SUM(x) * SUM(x) AS BIGINT)
         AS var_x_num,
       CAST(COUNT(*) * SUM(y * y) - SUM(y) * SUM(y) AS BIGINT)
         AS var_y_num,
       COUNT(*) * SUM(x * y) - SUM(x) * SUM(y) > 0 AS positive
FROM ysum
"""


# --- LIVE streaming spatial hotspot grid (r07 wave P): tumbling
# 1-hour per-2km-tile counts under a watermark
# (streaming/events.py::windowed_tile_counts) — the streaming twin
# of the batch tile rollups; the oracle is the batch GROUP BY
# date_trunc/tile query (UTC session). The far-future flush
# sentinel closes every real window; its own row is excluded by the
# hour filter like windowed_stream.
def q_hotspot_stream(spark, sf_dir):
    from ..streaming import events as SE

    d = _stage_events(sf_dir)
    stream = spark.readStream.schema(SE.EVENTS_SCHEMA) \
        .option("maxFilesPerTrigger", 2).parquet(d)
    out = SE.windowed_tile_counts(stream, cell=2000, window="1 hour",
                                  watermark="1 hour")
    ck = scratch_dir("hotspot_stream_ck_")
    SE.run_available_now(out, "hotspot_stream_sink", ck,
                         shuffle_partitions=_STREAM_PARTS)
    return (spark.table("hotspot_stream_sink")
            .filter(F.col("hour") < F.lit("2025-01-01").cast("timestamp"))
            .select("hour", "gx", "gy", "n", "sum_value"))


ORACLE["hotspot_stream"] = """
SELECT date_trunc('hour', ts) AS hour,
       (((event_id * 48271 + 13) % 999983) % 20000) // 2000 AS gx,
       (((event_id * 69621 + 7) % 999979) % 20000) // 2000 AS gy,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(SUM(value), 4) AS sum_value
FROM events
GROUP BY 1, 2, 3
"""


# --- Laplacian noise estimate (r07 wave Q): Immerkær's estimator,
# integer core |4v − N − S − E − W| per interior pixel
# (operators/multimodal.py::noise_estimate); the oracle re-derives
# all 5 bytes from the Lehmer closed form.
def q_noise_estimate(spark, sf_dir):
    from ..operators.multimodal import noise_estimate
    return noise_estimate(spark.createDataFrame(synth.images_pdf(150)))


ORACLE["noise_estimate"] = f"""
WITH imgs AS (
  SELECT i, 'img' || lpad(CAST(i AS VARCHAR), 8, '0') AS image_id,
    CASE i % 3 WHEN 0 THEN 32 WHEN 1 THEN 64 ELSE 96 END AS w,
    CASE (i // 3) % 3 WHEN 0 THEN 32 WHEN 1 THEN 64 ELSE 96 END AS h,
    42 * 1000003 + i AS base
  FROM range(150) t(i)
), lap AS (
  SELECT image_id,
         ABS(4 * ({_lbp_nb(0, 0)}) - ({_lbp_nb(-1, 0)})
             - ({_lbp_nb(1, 0)}) - ({_lbp_nb(0, -1)})
             - ({_lbp_nb(0, 1)})) AS l
  FROM imgs, LATERAL (SELECT UNNEST(range(w*h)) AS p) u
  WHERE p // w BETWEEN 1 AND h - 2 AND p % w BETWEEN 1 AND w - 2
)
SELECT image_id, CAST(COUNT(*) AS BIGINT) AS n_interior,
       CAST(SUM(l) AS BIGINT) AS lap_sum,
       CAST(MAX(l) AS BIGINT) AS lap_max
FROM lap GROUP BY 1
"""


# --- IceLite snapshot diff (r07 wave Q): the "what changed between
# snapshots" audit query every lakehouse exposes — the orders table
# is committed in 4 bucket appends (snapshots 0-3), a COW
# delete_where removes a key-sliced set (snapshot 4), and the diff
# reads BOTH snapshots via time travel and anti-joins them per
# status: rows only-in-before = deleted, only-in-after = added
# (zero here — the predicate only removes). Counts + the carried/
# rewritten file split prove file-scoped COW (untouched dirs carry
# by reference).
def q_snapshot_diff(spark, sf_dir):
    from ..sources.tables import IceLiteTable

    t = IceLiteTable(scratch_dir("icelite_snapdiff_"))
    orders = (spark.read.parquet(f"{sf_dir}/orders.parquet")
              .select("o_orderkey", "o_orderstatus", "o_totalprice")
              .coalesce(1).cache())
    for k in range(4):
        t.append(orders.filter(F.expr(f"o_orderkey % 4 = {k}")))
    orders.unpersist()
    t.delete_where(spark, "o_orderstatus = 'F' AND o_orderkey % 10 < 3")
    before = t.read(spark, snapshot_id=3)
    after = t.read(spark)
    deleted = before.join(after.select("o_orderkey"), "o_orderkey",
                          "left_anti")
    added = after.join(before.select("o_orderkey"), "o_orderkey",
                       "left_anti")
    b = before.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_before"))
    a = after.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_after"))
    d = deleted.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_deleted"))
    n_add = added.count()   # proves the delete added nothing
    return (b.join(a, "o_orderstatus", "left")
            .join(d, "o_orderstatus", "left")
            .select("o_orderstatus", "n_before",
                    F.coalesce("n_after", F.lit(0)).alias("n_after"),
                    F.coalesce("n_deleted", F.lit(0)).alias("n_deleted"))
            .withColumn("n_added", F.lit(n_add).cast("long")))


ORACLE["snapshot_diff"] = """
SELECT o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_before,
       CAST(SUM(CASE WHEN NOT (o_orderstatus = 'F'
                               AND o_orderkey % 10 < 3)
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_after,
       CAST(SUM(CASE WHEN o_orderstatus = 'F' AND o_orderkey % 10 < 3
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_deleted,
       CAST(0 AS BIGINT) AS n_added
FROM orders GROUP BY 1
"""


# --- LIVE sliding-window stream (r07 wave T): 2-hour windows
# sliding hourly (streaming/events.py::sliding_counts) — the overlap
# semantics tumbling windows cannot express; every event lands in
# exactly two windows, which the oracle replays by UNNESTing each
# event into both window starts. Sentinel excluded by the win_start
# filter.
def q_sliding_stream(spark, sf_dir):
    from ..streaming import events as SE

    d = _stage_events(sf_dir)
    stream = spark.readStream.schema(SE.EVENTS_SCHEMA) \
        .option("maxFilesPerTrigger", 2).parquet(d)
    out = SE.sliding_counts(stream)
    ck = scratch_dir("sliding_stream_ck_")
    SE.run_available_now(out, "sliding_stream_sink", ck,
                         shuffle_partitions=_STREAM_PARTS)
    return (spark.table("sliding_stream_sink")
            .filter(F.col("win_start") < F.lit("2025-01-01")
                    .cast("timestamp"))
            .select("win_start", "event_type", "n", "sum_value"))


ORACLE["sliding_stream"] = """
WITH starts AS (
  SELECT event_type, value,
         date_trunc('hour', ts) - d.h * INTERVAL 1 HOUR AS win_start
  FROM events, (VALUES (0), (1)) d(h)
)
SELECT win_start, event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(SUM(value), 4) AS sum_value
FROM starts GROUP BY 1, 2
"""


# --- aHash bit-balance audit (r07 wave U): hash-quality check over
# the corpus perceptual AVERAGE hashes (operators/multimodal.py::
# ahash_bits — integer-exact, unlike the float-DCT phash64) — per
# bit position the set-count and the balance deviation
# |2·n_set − n|: a biased bit breaks LSH banding recall. The engine
# unpacks the 64-char bit string row-locally; the oracle re-derives
# every image's 8×8 block sums from the Lehmer closed form and
# replays bit = bsum·64 > total bit-for-bit.
def q_ahash_balance(spark, sf_dir):
    from ..operators.multimodal import ahash_bits
    ah = ahash_bits(spark.createDataFrame(synth.images_pdf(240)))
    bits = ah.select(F.explode(F.expr(
        "transform(sequence(0, 63), "
        "b -> struct(b, CASE WHEN substring(ahash, b + 1, 1) = '1' "
        "THEN 1 ELSE 0 END AS v))")).alias("s")) \
        .select("s.b", "s.v")
    n = ah.agg(F.count(F.lit(1)).alias("n_images"))
    return (bits.groupBy("b")
            .agg(F.sum("v").cast("long").alias("n_set"))
            .crossJoin(F.broadcast(n))
            .select("b", "n_set", "n_images",
                    F.abs(2 * F.col("n_set") - F.col("n_images"))
                    .alias("imbalance")))


ORACLE["ahash_balance"] = f"""
WITH imgs AS (
  SELECT i,
    CASE i % 3 WHEN 0 THEN 32 WHEN 1 THEN 64 ELSE 96 END AS w,
    CASE (i // 3) % 3 WHEN 0 THEN 32 WHEN 1 THEN 64 ELSE 96 END AS h,
    42 * 1000003 + i AS base
  FROM range(240) t(i)
), px AS (
  SELECT i, w, h, p // w AS r, p % w AS c, {_px_chan(0)} AS v
  FROM imgs, LATERAL (SELECT UNNEST(range(w*h)) AS p) u
), blocks AS (
  SELECT i, (r * 8) // h AS br, (c * 8) // w AS bc,
         CAST(SUM(v) AS BIGINT) AS bsum
  FROM px GROUP BY 1, 2, 3
), tot AS (
  SELECT i, CAST(SUM(bsum) AS BIGINT) AS tsum FROM blocks GROUP BY 1
), bits AS (
  SELECT b.i, b.br * 8 + b.bc AS bit,
         CASE WHEN b.bsum * 64 > t.tsum THEN 1 ELSE 0 END AS v
  FROM blocks b JOIN tot t USING (i)
), agg AS (
  SELECT bit AS b, CAST(SUM(v) AS BIGINT) AS n_set FROM bits GROUP BY 1
)
SELECT b, n_set, CAST(240 AS BIGINT) AS n_images,
       ABS(2 * n_set - 240) AS imbalance
FROM agg
"""


# --- caption subject extraction (r07 wave U): the regex field-
# extraction every caption/metadata pipeline runs — parse
# "about subject N" out of the caption STRING with regexp_extract
# (probed engine-parity) and roll up the per-subject image count and
# pixel budget. The oracle never sees the string: it re-derives the
# subject as i % 13 from the synth construction — agreement proves
# the regex path end-to-end against ground truth.
def q_caption_subjects(spark, sf_dir):
    imgs = spark.createDataFrame(synth.images_pdf(240))
    return (imgs.select(
        F.regexp_extract("caption", r"about subject (\d+)", 1)
        .cast("long").alias("subject"),
        (F.col("w").cast("long") * F.col("h")).alias("px"))
        .groupBy("subject")
        .agg(F.count(F.lit(1)).alias("n_images"),
             F.sum("px").alias("sum_px")))


ORACLE["caption_subjects"] = """
WITH imgs AS (
  SELECT i % 13 AS subject,
    CASE i % 3 WHEN 0 THEN 32 WHEN 1 THEN 64 ELSE 96 END
      * (CASE (i // 3) % 3 WHEN 0 THEN 32 WHEN 1 THEN 64 ELSE 96 END)
      AS px
  FROM range(240) t(i)
)
SELECT CAST(subject AS BIGINT) AS subject,
       CAST(COUNT(*) AS BIGINT) AS n_images,
       CAST(SUM(px) AS BIGINT) AS sum_px
FROM imgs GROUP BY 1
"""


# --- letterbox detection (r07 wave W): dark-border screen
# (operators/multimodal.py::letterbox_detect) — border-vs-interior
# channel-0 sums with the verdict 2·border_sum·interior_n <
# interior_sum·border_n (⟺ border mean < half interior mean). The
# oracle partitions every pixel into border/interior by its (r, c)
# and replays the cross-multiplied verdict.
def q_letterbox(spark, sf_dir):
    from ..operators.multimodal import letterbox_detect
    return letterbox_detect(spark.createDataFrame(synth.images_pdf(150)))


ORACLE["letterbox"] = f"""
WITH imgs AS (
  SELECT i, 'img' || lpad(CAST(i AS VARCHAR), 8, '0') AS image_id,
    CASE i % 3 WHEN 0 THEN 32 WHEN 1 THEN 64 ELSE 96 END AS w,
    CASE (i // 3) % 3 WHEN 0 THEN 32 WHEN 1 THEN 64 ELSE 96 END AS h,
    42 * 1000003 + i AS base
  FROM range(150) t(i)
), px AS (
  SELECT image_id, p // w AS r, p % w AS c, {_px_chan(0)} AS v, w, h
  FROM imgs, LATERAL (SELECT UNNEST(range(w*h)) AS p) u
), split AS (
  SELECT image_id,
         CASE WHEN r >= 2 AND r <= h - 3 AND c >= 2 AND c <= w - 3
              THEN 0 ELSE 1 END AS is_border, v
  FROM px
), agg AS (
  SELECT image_id,
         CAST(SUM(is_border) AS BIGINT) AS border_n,
         CAST(SUM(CASE WHEN is_border = 1 THEN v ELSE 0 END) AS BIGINT)
           AS border_sum,
         CAST(SUM(1 - is_border) AS BIGINT) AS interior_n,
         CAST(SUM(CASE WHEN is_border = 0 THEN v ELSE 0 END) AS BIGINT)
           AS interior_sum
  FROM split GROUP BY 1
)
SELECT image_id, border_n, border_sum, interior_n, interior_sum,
       2 * border_sum * interior_n < interior_sum * border_n
         AS letterboxed
FROM agg
"""


# --- mirror symmetry score (r07 wave X): horizontal-mirror
# asymmetry Σ|v[r,c] − v[r,w−1−c]| over the left half of channel 0
# (operators/multimodal.py::symmetry_score); the oracle re-derives
# BOTH bytes of every mirror pair from the Lehmer closed form
# (pixel index p and its mirror r·w + (w−1−c)).
def _sym_px(j: str) -> str:
    lehmer = f"(((base + ({j}) * 2654435761) % 4294967291)" \
             f" * 279470273) % 4294967291"
    return f"(xor({lehmer}, ({lehmer}) >> 16) % 256)"


def q_symmetry_score(spark, sf_dir):
    from ..operators.multimodal import symmetry_score
    return symmetry_score(spark.createDataFrame(synth.images_pdf(150)))


ORACLE["symmetry_score"] = f"""
WITH imgs AS (
  SELECT i, 'img' || lpad(CAST(i AS VARCHAR), 8, '0') AS image_id,
    CASE i % 3 WHEN 0 THEN 32 WHEN 1 THEN 64 ELSE 96 END AS w,
    CASE (i // 3) % 3 WHEN 0 THEN 32 WHEN 1 THEN 64 ELSE 96 END AS h,
    42 * 1000003 + i AS base
  FROM imgs_range
), d AS (
  SELECT image_id,
         ABS(({_sym_px('3 * p')})
             - ({_sym_px('3 * ((p // w) * w + (w - 1 - p % w))')})) AS ad
  FROM imgs, LATERAL (SELECT UNNEST(range(w*h)) AS p) u
  WHERE p % w < w // 2
)
SELECT image_id, CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(SUM(ad) AS BIGINT) AS asym_sum,
       CAST(MAX(ad) AS BIGINT) AS asym_max
FROM d GROUP BY 1
""".replace("FROM imgs_range", "FROM range(150) t(i)")


_PLAN_MODULES = (sys.modules[__name__], relational, spatial_queries, textops)
QUERIES = {name[2:]: fn
           for mod in _PLAN_MODULES for name, fn in vars(mod).items()
           if name.startswith("q_") and fn.__module__ == mod.__name__}


def _all_oracles(modules) -> dict[str, str]:
    out: dict[str, str] = {}
    for mod in modules:
        for name, sql in mod.ORACLE.items():
            if name in out:
                raise ValueError(f"oracle {name!r} is defined in more "
                                 f"than one plan module")
            out[name] = sql
    return out


ORACLE = _all_oracles(_PLAN_MODULES)
