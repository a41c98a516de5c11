"""Text-analysis queries over the documents table (training-data
pipeline ops: token counting, quality scoring, language-ID heuristic,
dedup). SQL-parity subset here (DuckDB-oracled); the richer NumPy
variants (n-gram langid, fingerprints, MinHash) live in functions/ and
operators/ and are checked by pytest oracles instead.

Determinism: outputs are integers, strings, or ratios of exact
integers — all hash bit-identically across engines.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions import hashing as _H
from ..functions.text import LANG_PROFILES

ORACLE: dict[str, str] = {}


# ---------------------------------------------------------------------------
# SQL-parity hash primitives (VERDICT r01 #3): the engine's NumPy hash
# pipeline re-expressed as DuckDB integer arithmetic so the driver can
# value-check simhash / minhash_pairs / text_features exactly. HUGEINT
# (int128) carries the 64-bit wraparound math; xor runs in UBIGINT.
# All verified token-for-token against functions/hashing.py.
# ---------------------------------------------------------------------------

_M64 = "18446744073709551616::HUGEINT"  # 2^64
_GOLD = "11400714819323198485::HUGEINT"  # shingle-combine multiplier
_P61 = "2305843009213693951::HUGEINT"   # fingerprint modulus 2^61-1

# FNV-1a 64 over the bytes of `tok` (ASCII corpus: unicode == byte)
_FNV_TOK = f"""list_reduce(
  list_prepend(CAST(14695981039346656037 AS HUGEINT),
               list_transform(string_split(tok, ''),
                              c -> CAST(unicode(c) AS HUGEINT))),
  (h, b) -> (CAST(xor(CAST(h AS UBIGINT), CAST(b AS UBIGINT)) AS HUGEINT)
             * 1099511628211) % {_M64})"""


def _mul64(expr: str) -> str:
    """(expr · GOLD) mod 2^64 without overflowing int128: split expr
    into 32-bit halves (hi·GOLD mod 2^32 carries, lo·GOLD < 2^96)."""
    return (f"(((({expr}) // 4294967296 * {_GOLD}) % 4294967296) "
            f"* 4294967296 + (({expr}) % 4294967296) * {_GOLD}) % {_M64}")


# word-3-shingles from token hashes: acc = (th[i]·G + th[i+1])·G + th[i+2]
_ACC1 = f"({_mul64('th[i]')} + th[i+1]) % {_M64}"
_SHINGLES = (f"CASE WHEN len(th) < 3 THEN list_distinct(th) ELSE "
             f"list_distinct(list_transform(range(1, len(th) - 1), "
             f"i -> ({_mul64(_ACC1)} + th[i+2]) % {_M64})) END")

_TOKS_CTE = f"""
  SELECT doc_id, list_transform(string_split(text, chr(32)),
                                tok -> {_FNV_TOK}) AS th
  FROM documents
"""


def _docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


# --- exact dedup via content hash (hash-groupBy; md5 identical on both
# engines). Degenerate on this corpus (all texts distinct) but the
# operator is the point.
def q_dedup_exact(spark, sf_dir):
    d = _docs(spark, sf_dir)
    return (
        d.withColumn("content_hash", F.md5(F.col("text")))
        .groupBy("content_hash")
        .agg(F.min("doc_id").alias("canonical_id"),
             F.count(F.lit(1)).alias("n_copies"))
    )


ORACLE["dedup_exact"] = """
SELECT md5(text) AS content_hash,
       MIN(doc_id) AS canonical_id,
       COUNT(*) AS n_copies
FROM documents GROUP BY 1
"""


# --- bucket dedup (blocking key = (lang, n_chars)): the grouping shape
# of LSH banding with a trivial key
def q_dedup_bucket(spark, sf_dir):
    d = _docs(spark, sf_dir)
    return (
        d.groupBy("lang", "n_chars")
        .agg(F.min("doc_id").alias("canonical_id"),
             F.count(F.lit(1)).alias("bucket_size"))
        .filter(F.col("bucket_size") > 1)
    )


ORACLE["dedup_bucket"] = """
SELECT lang, n_chars, MIN(doc_id) AS canonical_id, COUNT(*) AS bucket_size
FROM documents GROUP BY 1, 2 HAVING COUNT(*) > 1
"""


# --- token counting (whitespace tokenizer; corpus is single-spaced —
# verified in tests)
def q_token_stats(spark, sf_dir):
    d = _docs(spark, sf_dir)
    n_tokens = F.size(F.split(F.col("text"), " "))
    return d.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        F.length("text").alias("len_chars"),
        (F.length("text").cast("double") / n_tokens).alias("avg_token_span"),
    )


ORACLE["token_stats"] = """
SELECT doc_id,
       len(string_split(text, ' ')) AS n_tokens,
       length(text) AS len_chars,
       CAST(length(text) AS DOUBLE) / len(string_split(text, ' ')) AS avg_token_span
FROM documents
"""


# --- quality scoring: structural ratios (length / marker-word counts)
def q_text_quality(spark, sf_dir):
    d = _docs(spark, sf_dir)
    n_the = (F.length("text") - F.length(F.expr("replace(text, 'the', '')"))) / 3
    n_data = (F.length("text") - F.length(F.expr("replace(text, 'data', '')"))) / 4
    return d.select(
        "doc_id",
        n_the.cast("long").alias("n_the"),
        n_data.cast("long").alias("n_data"),
        (n_the.cast("double") * 1000 / F.length("text")).alias("the_density"),
    )


ORACLE["text_quality"] = """
SELECT doc_id,
       CAST((length(text) - length(replace(text, 'the', ''))) / 3 AS BIGINT) AS n_the,
       CAST((length(text) - length(replace(text, 'data', ''))) / 4 AS BIGINT) AS n_data,
       CAST((length(text) - length(replace(text, 'the', ''))) / 3 AS DOUBLE) * 1000
         / length(text) AS the_density
FROM documents
"""


# --- BM25 relevance scoring (r05): Okapi BM25 of every document
# against a fixed 3-term topic query, +1-smoothed idf, k1=1.2 b=0.75.
# Both engines compute ln() through their own libm (≤1 ulp apart), so
# the score is rounded to 6 decimals on both sides; dl/df/tf/N are
# exact integers and avgdl one IEEE division, identical by
# construction. Tokenization is the corpus convention (split on one
# space — token_stats above).
_BM25_TERMS = ("table", "join", "spark")


def q_bm25(spark, sf_dir):
    from ..operators.ranking import bm25_scores
    return bm25_scores(_docs(spark, sf_dir), _BM25_TERMS)


ORACLE["bm25"] = f"""
WITH q(term) AS (VALUES {', '.join(f"('{t}')" for t in _BM25_TERMS)}),
base AS (
  SELECT doc_id, len(string_split(text, chr(32))) AS dl,
         string_split(text, chr(32)) AS toks
  FROM documents
), stats AS (
  SELECT COUNT(*) AS n, AVG(dl) AS avgdl FROM base
), hits AS (
  SELECT doc_id, dl, unnest(toks) AS term FROM base
), qh AS (
  SELECT * FROM hits WHERE term IN (SELECT term FROM q)
), dfreq AS (
  SELECT term, COUNT(DISTINCT doc_id) AS df FROM qh GROUP BY 1
), tf AS (
  SELECT doc_id, dl, term, COUNT(*) AS tf FROM qh GROUP BY 1, 2, 3
), sc AS (
  SELECT tf.doc_id,
    SUM(ln((stats.n - df + 0.5) / (df + 0.5) + 1.0)
        * tf * 2.2
        / (tf + 1.2 * (1.0 - 0.75 + 0.75 * tf.dl / stats.avgdl))) AS s
  FROM tf JOIN dfreq USING (term), stats
  GROUP BY 1
)
SELECT base.doc_id, base.dl AS dl,
       ROUND(COALESCE(sc.s, 0.0), 6) AS bm25
FROM base LEFT JOIN sc USING (doc_id)
"""


def _word_grams(n: int) -> "F.Column":
    """Word n-gram array from a pre-split `ws` column — pure Column
    (transform over sequence; no UDF). Empty for docs under n words
    (sequence() would otherwise count DOWNWARD and fabricate grams)."""
    terms = ", ".join(f"ws[i+{k}]" if k else "ws[i]" for k in range(n))
    return F.expr(
        f"CASE WHEN size(ws) >= {n} THEN transform(sequence(0, "
        f"size(ws)-{n}), i -> concat_ws(' ', {terms})) "
        "ELSE cast(array() as array<string>) END")


# --- repetition quality (r06): the Gopher-style "fraction of
# duplicated n-grams" filter — the standard screen for boilerplate /
# template spam in LLM training corpora. dup_frac = 1 − distinct/total
# word-3-grams; top_frac = the most common 3-gram's share. Pure JVM
# (split → transform → explode → two groupBys, partial-agg friendly);
# all outputs are exact-integer ratios, divided once (bit-parity).
def q_rep_ngram(spark, sf_dir):
    d = _docs(spark, sf_dir)
    g = (d.select("doc_id", F.split("text", " ").alias("ws"))
         .select("doc_id", F.explode(_word_grams(3)).alias("gram")))
    per = g.groupBy("doc_id", "gram").agg(F.count(F.lit(1)).alias("c"))
    agg = per.groupBy("doc_id").agg(
        F.sum("c").alias("n_grams"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.max("c").alias("cmax"))
    return (d.select("doc_id").join(agg, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
        F.coalesce("n_distinct", F.lit(0)).alias("n_distinct"),
        F.when(F.col("n_grams") > 0,
               (F.col("n_grams") - F.col("n_distinct")).cast("double")
               / F.col("n_grams")).alias("dup_frac"),
        F.when(F.col("n_grams") > 0,
               F.col("cmax").cast("double") / F.col("n_grams"))
         .alias("top_frac")))


ORACLE["rep_ngram"] = """
WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
g AS (
  SELECT doc_id, list_aggregate(ws[i:i+2], 'string_agg', ' ') AS gram
  FROM w, LATERAL (SELECT UNNEST(range(1, len(ws) - 1)) AS i) u
), per AS (
  SELECT doc_id, COUNT(*) AS c FROM g GROUP BY doc_id, gram
), agg AS (
  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_grams,
         COUNT(*) AS n_distinct, MAX(c) AS cmax
  FROM per GROUP BY doc_id
)
SELECT d.doc_id, COALESCE(n_grams, 0) AS n_grams,
       COALESCE(n_distinct, 0) AS n_distinct,
       CASE WHEN n_grams > 0 THEN
         CAST(n_grams - n_distinct AS DOUBLE) / n_grams END AS dup_frac,
       CASE WHEN n_grams > 0 THEN
         CAST(cmax AS DOUBLE) / n_grams END AS top_frac
FROM documents d LEFT JOIN agg USING (doc_id)
"""


# --- benchmark contamination check (r06): which training docs share
# a word-4-gram with the held-out "benchmark" slice (doc_id % 97 = 0)
# — the decontamination sweep every LLM data pipeline runs before
# training. Engine: benchmark grams are DISTINCT (gram, bench_id)
# pairs and tiny → broadcast; the 100 TB train side never shuffles
# before its per-doc aggregation. Exact counts, no hashing (the
# MinHash/SimHash family handles the fuzzy variant).
def q_contam_check(spark, sf_dir):
    d = _docs(spark, sf_dir)
    g = (d.select("doc_id", F.split("text", " ").alias("ws"))
         .select("doc_id", F.explode(_word_grams(4)).alias("gram")))
    bench = (g.filter(F.col("doc_id") % 97 == 0)
             .select("gram", F.col("doc_id").alias("bench_id")).distinct())
    train = g.filter(F.col("doc_id") % 97 != 0)
    return (train.join(F.broadcast(bench), "gram")
            .groupBy("doc_id")
            .agg(F.countDistinct("gram").alias("n_shared"),
                 F.countDistinct("bench_id").alias("n_bench_docs")))


ORACLE["contam_check"] = """
WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
g AS (
  SELECT doc_id, list_aggregate(ws[i:i+3], 'string_agg', ' ') AS gram
  FROM w, LATERAL (SELECT UNNEST(range(1, len(ws) - 2)) AS i) u
), bench AS (
  SELECT DISTINCT gram, doc_id AS bench_id FROM g WHERE doc_id % 97 = 0
)
SELECT g.doc_id, COUNT(DISTINCT g.gram) AS n_shared,
       COUNT(DISTINCT bench_id) AS n_bench_docs
FROM g JOIN bench USING (gram)
WHERE g.doc_id % 97 <> 0
GROUP BY g.doc_id
"""


# --- deterministic split + stratified sampling (r05): assignment is
# md5(doc_id ':' salt) → 32-bit bucket vs integer thresholds — md5 is
# bit-identical across engines, so the oracle replays every row's
# split label and every sampling decision exactly (membership, not
# just counts, for the stratified row).
def q_hash_split(spark, sf_dir):
    from ..operators.sampling import hash_split
    d = hash_split(_docs(spark, sf_dir))
    return d.groupBy("split", "lang").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("n_chars").alias("sum_chars"))


ORACLE["hash_split"] = """
WITH b AS (
  SELECT lang, n_chars,
    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':split'), 1, 8))
         AS BIGINT) % 1000000 AS bkt
  FROM documents
)
SELECT CASE WHEN bkt < 800000 THEN 'train'
            WHEN bkt < 900000 THEN 'val'
            ELSE 'test' END AS split,
       lang,
       COUNT(*) AS n,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars
FROM b GROUP BY 1, 2
"""


_STRAT_RATES = {"en": 0.25, "de": 1.0, "fr": 0.5}


def q_stratified_sample(spark, sf_dir):
    from ..operators.sampling import stratified_sample
    out = stratified_sample(_docs(spark, sf_dir), _STRAT_RATES,
                            default_rate=0.1)
    return out.select("doc_id", "lang")


ORACLE["stratified_sample"] = """
SELECT doc_id, lang
FROM (
  SELECT doc_id, lang,
    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':sample'), 1, 8))
         AS BIGINT) % 1000000 AS bkt
  FROM documents
)
WHERE bkt < CASE lang WHEN 'en' THEN 250000
                      WHEN 'de' THEN 1000000
                      WHEN 'fr' THEN 500000
                      ELSE 100000 END
"""


# --- language-ID heuristic (marker-token decision list; deterministic
# CASE chain on both engines)
def q_lang_markers(spark, sf_dir):
    d = _docs(spark, sf_dir)
    pred = (
        F.when(F.col("text").like("% the %"), F.lit("en"))
        .when(F.col("text").like("% la %") | F.col("text").like("% le %"), F.lit("fr"))
        .when(F.col("text").like("% der %") | F.col("text").like("% und %"), F.lit("de"))
        .otherwise(F.lit("unknown"))
    )
    return (
        d.withColumn("pred_lang", pred)
        .groupBy("lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("n"))
    )


ORACLE["lang_markers"] = """
SELECT lang,
       CASE WHEN text LIKE '% the %' THEN 'en'
            WHEN text LIKE '% la %' OR text LIKE '% le %' THEN 'fr'
            WHEN text LIKE '% der %' OR text LIKE '% und %' THEN 'de'
            ELSE 'unknown' END AS pred_lang,
       COUNT(*) AS n
FROM documents GROUP BY 1, 2
"""

# --- SimHash (full 64-bit signature; oracle = token FNV → per-bit
# ±1 majority vote in SQL, bit-identical to functions/hashing.simhash64)
ORACLE["simhash"] = f"""
WITH toks AS (
  SELECT doc_id, unnest(th) AS th FROM ({_TOKS_CTE})
), bits AS (
  SELECT doc_id, b.bit,
         SUM(CASE WHEN (CAST(th AS UBIGINT) >> b.bit) & 1 = 1
                  THEN 1 ELSE -1 END) AS score
  FROM toks CROSS JOIN (SELECT unnest(range(64)) AS bit) b
  GROUP BY doc_id, b.bit
), v AS (
  SELECT doc_id,
         SUM(CASE WHEN score > 0
                  THEN CAST(CAST(1 AS UBIGINT) << bit AS HUGEINT)
                  ELSE 0 END) AS hv
  FROM bits GROUP BY doc_id
)
SELECT doc_id,
       CAST(CASE WHEN hv >= 9223372036854775808::HUGEINT
                 THEN hv - {_M64} ELSE hv END AS BIGINT) AS simhash
FROM v
"""


# --- SimHash banded-hamming near-dup PAIRS (r04 — the docstring-
# promised blocking join): 4 × 16-bit slices; pigeonhole ⇒ any pair
# with hamming ≤ 3 collides on ≥ 1 slice. The oracle replays the
# signature derivation (same CTEs as `simhash`), the slicing, the
# bucket cap, the equi join, and the xor-popcount verify.
def q_simhash_pairs(spark, sf_dir):
    from ..operators.dedup import simhash_pairs
    d = _docs(spark, sf_dir)
    return simhash_pairs(d).select(
        "id_a", "id_b", F.col("hamming").cast("int").alias("hamming"))


ORACLE["simhash_pairs"] = f"""
WITH toks AS (
  SELECT doc_id, unnest(th) AS th FROM ({_TOKS_CTE})
), bits AS (
  SELECT doc_id, b.bit,
         SUM(CASE WHEN (CAST(th AS UBIGINT) >> b.bit) & 1 = 1
                  THEN 1 ELSE -1 END) AS score
  FROM toks CROSS JOIN (SELECT unnest(range(64)) AS bit) b
  GROUP BY doc_id, b.bit
), v AS (
  SELECT doc_id,
         SUM(CASE WHEN score > 0
                  THEN CAST(CAST(1 AS UBIGINT) << bit AS HUGEINT)
                  ELSE 0 END) AS hv
  FROM bits GROUP BY doc_id
), u AS (
  SELECT doc_id, CAST(hv AS UBIGINT) AS us FROM v
), bande AS (
  SELECT doc_id, us, b.band, (us >> (16 * b.band)) & 65535 AS key
  FROM u CROSS JOIN (SELECT unnest(range(4)) AS band) b
), sized AS (
  SELECT band, key, COUNT(*) AS n FROM bande GROUP BY 1, 2
), kept AS (
  SELECT bande.* FROM bande JOIN sized USING (band, key)
  WHERE sized.n <= 1000
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                  a.us AS ua, b.us AS ub
  FROM kept a JOIN kept b
    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
)
SELECT id_a, id_b, CAST(bit_count(xor(ua, ub)) AS INT) AS hamming
FROM cand WHERE bit_count(xor(ua, ub)) <= 3
"""


def _minhash_perms_values() -> str:
    """The MinHash (a, b) parameters as literal SQL VALUES — the same
    rng(7) stream the engine uses (functions/hashing._minhash_params)."""
    a, b = _H._minhash_params(64, 7)
    return ", ".join(f"({i}, {int(a[i])}, {int(b[i])})" for i in range(64))


# --- MinHash+LSH near-dup pairs. The oracle replays the whole pipeline
# in SQL: shingle → 64 Carter-Wegman perms mod 2^31-1 → 16 bands of 4 →
# bucket equi-join (on the raw band signature; Spark buckets its
# xxhash64, identical modulo 2^-64 collisions) → max_bucket=200 cap →
# exact shingle-set Jaccard ≥ 0.5.
_MINHASH_SQL = f"""
WITH sh AS (
  SELECT doc_id, {_SHINGLES} AS shingles FROM ({_TOKS_CTE})
), perms(perm, pa, pb) AS (VALUES {{PERMS}}),
mins AS (
  SELECT doc_id, perm // 4 AS band, perm,
         MIN((pa * CAST(x % 2147483647 AS BIGINT) + pb) % 2147483647) AS mh
  FROM (SELECT doc_id, unnest(shingles) AS x FROM sh)
  CROSS JOIN perms
  GROUP BY doc_id, perm
), bands AS (
  SELECT doc_id, band,
         string_agg(CAST(mh AS VARCHAR), ',' ORDER BY perm) AS sigstr
  FROM mins GROUP BY doc_id, band
), sized AS (
  SELECT *, COUNT(*) OVER (PARTITION BY band, sigstr) AS bsz FROM bands
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM (SELECT * FROM sized WHERE bsz <= 200) a
  JOIN (SELECT * FROM sized WHERE bsz <= 200) b
    ON a.band = b.band AND a.sigstr = b.sigstr AND a.doc_id < b.doc_id
), j AS (
  SELECT id_a, id_b,
         CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
         / (len(sa.shingles) + len(sb.shingles)
            - len(list_intersect(sa.shingles, sb.shingles))) AS jaccard
  FROM cand
  JOIN sh sa ON sa.doc_id = id_a
  JOIN sh sb ON sb.doc_id = id_b
)
SELECT id_a, id_b, jaccard FROM j WHERE jaccard >= 0.5
""".replace("{PERMS}", _minhash_perms_values())
ORACLE["minhash_pairs"] = _MINHASH_SQL


# --- blocked exact n-gram Jaccard pairs (block key = lang, the same
# blocking the Spark operator uses): all in-block pairs, exact
# shingle-set Jaccard ≥ 0.2. Ratio of exact ints → bit-identical.
ORACLE["ngram_jaccard"] = f"""
WITH sh0 AS (
  SELECT doc_id, lang, {_SHINGLES} AS shingles
  FROM (
    SELECT t.doc_id, d.lang, t.th
    FROM ({_TOKS_CTE}) t JOIN documents d ON t.doc_id = d.doc_id
  )
), sh AS (  -- mirror the operator's max_bucket=500 block-skew cap
  SELECT * FROM (
    SELECT *, COUNT(*) OVER (PARTITION BY lang) AS bsz FROM sh0
  ) WHERE bsz <= 500
), j AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
         / (len(a.shingles) + len(b.shingles)
            - len(list_intersect(a.shingles, b.shingles))) AS jaccard
  FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id
)
SELECT id_a, id_b, jaccard FROM j WHERE jaccard >= 0.2
"""


def _langid_sql(t: str) -> str:
    """langid_score as SQL: non-overlapping marker counts per profile,
    first language reaching the (positive) running max wins — iteration
    order en, fr, de, es exactly as functions/text.LANG_PROFILES."""
    cnt = {}
    for lang, grams in LANG_PROFILES.items():
        terms = [
            f"(length({t}) - length(replace({t}, '{g}', ''))) // {len(g)}"
            for g in grams
        ]
        cnt[lang] = "(" + " + ".join(terms) + ")"
    m = f"GREATEST({cnt['en']}, {cnt['fr']}, {cnt['de']}, {cnt['es']})"
    return (f"CASE WHEN {m} <= 0 THEN 'unknown' "
            f"WHEN {cnt['en']} = {m} THEN 'en' "
            f"WHEN {cnt['fr']} = {m} THEN 'fr' "
            f"WHEN {cnt['de']} = {m} THEN 'de' ELSE 'es' END")


_BPE_RE_SQL = r"[A-Za-z]+|[0-9]+|[^\sA-Za-z0-9]+"
_STOP_SQL = "('the', 'a', 'and', 'of', 'to', 'in', 'is')"

# --- text_features: rolling-hash fingerprint + BPE-ish token count +
# n-gram langid + structural quality struct, all replayed in SQL
ORACLE["text_features"] = f"""
SELECT doc_id,
       CAST(list_reduce(
         list_prepend(0::HUGEINT,
                      list_transform(string_split(text, ''),
                                     c -> CAST(unicode(c) AS HUGEINT))),
         (h, b) -> (h * 1000003 + b) % {_P61}) AS BIGINT) AS fingerprint,
       len(regexp_extract_all(text, '{_BPE_RE_SQL}')) AS n_bpe_tokens,
       {_langid_sql('lower(text)')} AS pred_lang,
       length(text) AS n_chars,
       len(string_split(text, chr(32))) AS n_words,
       CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS DOUBLE)
         / length(text) AS punct_ratio,
       CAST(len(list_filter(string_split(text, chr(32)),
                            w -> lower(w) IN {_STOP_SQL})) AS DOUBLE)
         / len(string_split(text, chr(32))) AS stopword_ratio,
       CAST(list_aggregate(list_transform(string_split(text, chr(32)),
                                          w -> length(w)), 'sum') AS DOUBLE)
         / len(string_split(text, chr(32))) AS mean_word_len
FROM documents
"""


# --- near-dup clustering + canonical-representative selection (the
# pipeline step AFTER pair mining): MinHash pairs → connected
# components (min-label propagation) → keep the min-id doc per
# cluster. Oracle: the full minhash SQL replay feeds a RECURSIVE
# transitive-closure CTE — DuckDB recomputes the clusters
# independently, so a hash match proves the distributed propagation
# reaches the same fixpoint.
def q_dedup_canonical(spark, sf_dir):
    from ..operators.dedup import dedup_canonical, minhash_lsh_pairs
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pairs = minhash_lsh_pairs(docs, threshold=0.5)
    return dedup_canonical(docs, pairs)


# the large-star/small-star path (r04): identical semantics, the
# O(log n)-round contraction engine — answers the same recursive
# transitive-closure oracle, so the star algorithm itself is
# driver-oracled, not just pytest-checked
def q_dedup_canonical_star(spark, sf_dir):
    from ..operators.dedup import dedup_canonical, minhash_lsh_pairs
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pairs = minhash_lsh_pairs(docs, threshold=0.5)
    return dedup_canonical(docs, pairs, method="star")


ORACLE["dedup_canonical"] = f"""
WITH RECURSIVE pairs AS MATERIALIZED (
  -- MATERIALIZED: edges references pairs twice and the recursion
  -- references edges per iteration; without it DuckDB re-evaluates
  -- the full MinHash replay each time (9.3 s -> 2.6 s at sf0.01)
  SELECT id_a, id_b FROM ({_MINHASH_SQL})
), edges AS MATERIALIZED (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
), reach(src, dst) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
), comp AS (
  SELECT src AS jdoc, LEAST(src, MIN(dst)) AS canon
  FROM reach GROUP BY src
)
SELECT d.doc_id,
       COALESCE(c.canon, d.doc_id) AS canonical_id,
       COALESCE(c.canon, d.doc_id) <> d.doc_id AS is_dup
FROM documents d LEFT JOIN comp c ON c.jdoc = d.doc_id
"""

ORACLE["dedup_canonical_star"] = ORACLE["dedup_canonical"]

# --- concat-and-chunk sequence packing (r05): the training-batch
# layout op — per-language token streams cut into 512-token chunks,
# each doc assigned the chunk holding its first token. The engine runs
# ONE cumulative-sum window (operators/packing.py); the oracle replays
# the same prefix sums with DuckDB's window engine — straddle counts
# (n_chunks_spanned) make any off-by-one at a chunk boundary visible.
def q_pack_chunks(spark, sf_dir):
    from ..operators.packing import pack_chunks
    d = _docs(spark, sf_dir)
    n_tokens = F.size(F.split(F.col("text"), " "))
    return pack_chunks(
        d.select("doc_id", "lang", n_tokens.alias("n_tokens")),
        tokens="n_tokens", budget=512, stream_cols=["lang"],
    )


ORACLE["pack_chunks"] = """
WITH t AS (
  SELECT doc_id, lang,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
  FROM documents
), c AS (
  SELECT doc_id, lang, n_tokens,
         COALESCE(SUM(n_tokens) OVER (
            PARTITION BY lang ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS tok_before
  FROM t
)
SELECT doc_id, lang, n_tokens,
       CAST(tok_before // 512 AS BIGINT) AS chunk_id,
       CAST(tok_before % 512 AS BIGINT) AS chunk_offset,
       CAST((tok_before + n_tokens - 1) // 512 - tok_before // 512 + 1
            AS BIGINT) AS n_chunks_spanned
FROM c
"""


# --- domain mixing (r06): exact integer-proportion corpus rebalance
# ("2 parts en to 1 part each other lang"): B = min_s floor(n_s/w_s),
# stratum s keeps the w_s·B smallest rows by (md5 bucket, doc_id).
# Engine: exact distributed k-th order-statistic selection (histogram
# pass + filter + boundary-bin-only rank — no stratum-wide sort);
# oracle: the one-window QUALIFY formulation. Same EXACT membership
# from two very different plans.
_MIX_WEIGHTS = {"en": 2, "de": 1, "es": 1, "fr": 1, "zh": 1}


def q_domain_mix(spark, sf_dir):
    from ..operators.sampling import domain_mix
    out = domain_mix(_docs(spark, sf_dir), _MIX_WEIGHTS, salt="mix")
    return out.select("doc_id", "lang")


ORACLE["domain_mix"] = f"""
WITH b AS (
  SELECT doc_id, lang,
    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':mix'), 1, 8))
         AS BIGINT) % 1000000 AS bkt
  FROM documents
  WHERE lang IN ({', '.join(f"'{k}'" for k in _MIX_WEIGHTS)})
), w(lang, wt) AS (
  VALUES {', '.join(f"('{k}', {v})" for k, v in _MIX_WEIGHTS.items())}
), cnt AS (
  SELECT lang, COUNT(*) AS n FROM b GROUP BY 1
), base AS (
  SELECT MIN(n // wt) AS bsz FROM cnt JOIN w USING (lang)
), kept AS (
  SELECT lang, wt * bsz AS k FROM w, base
), r AS (
  SELECT doc_id, lang,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY bkt, doc_id) AS rn
  FROM b
)
SELECT r.doc_id, r.lang FROM r JOIN kept USING (lang) WHERE rn <= k
"""


# --- BPE vocabulary induction (r06): tokenizer training, distributed.
# Corpus → (word, count) → 3 merge rounds, each ONE weighted
# pair-count aggregation + a driver argmax (the iterative-algorithm
# pattern: Lloyd, Weiszfeld) + a pure-Column double-replace rewrite
# (literal replace semantics probed identical JVM vs DuckDB,
# two passes fold odd run members = greedy left-to-right BPE). Ties
# break lexicographically on both engines. Oracle unrolls the three
# rounds into SQL CTEs — pair extraction via 1-based list lateral,
# best-of via ORDER BY/LIMIT, the same padded double replace.
def q_bpe_vocab(spark, sf_dir):
    from ..operators.bpe import bpe_token_freqs, learn_bpe
    w = (_docs(spark, sf_dir)
         .select(F.explode(F.split("text", " ")).alias("word"))
         .groupBy("word").agg(F.count(F.lit(1)).alias("cnt")))
    _, reprs = learn_bpe(w, iters=3)
    return bpe_token_freqs(reprs)


def _bpe_oracle(iters: int = 3) -> str:
    parts = ["""
WITH w AS (
  SELECT word, COUNT(*) AS cnt FROM (
    SELECT UNNEST(string_split(text, ' ')) AS word FROM documents) s
  GROUP BY 1
), r0 AS (
  SELECT word, cnt,
         ' ' || list_aggregate(string_split(word, ''), 'string_agg', ' ')
             || ' ' AS repr
  FROM w
)"""]
    for k in range(1, iters + 1):
        # the r{{k}} rewrite replays TRUE left-greedy merging
        # positionally: pair-match flags, run parity (within a maximal
        # run of consecutive matches only every even offset merges —
        # same-symbol runs), consumed-successor suppression.
        parts.append(f""", p{k} AS (
  SELECT t[i] || ' ' || t[i+1] AS p, SUM(cnt) AS total
  FROM (SELECT cnt, string_split(trim(repr), ' ') AS t FROM r{k-1}) s,
       LATERAL (SELECT UNNEST(range(1, len(t))) AS i) u
  GROUP BY 1
), b{k} AS (
  SELECT p, replace(p, ' ', '') AS m,
         string_split(p, ' ')[1] AS p1, string_split(p, ' ')[2] AS p2
  FROM p{k} ORDER BY total DESC, p LIMIT 1
), tk{k} AS (
  SELECT word, cnt, i, t[i] AS tok, len(t) AS n
  FROM (SELECT word, cnt, string_split(trim(repr), ' ') AS t
        FROM r{k-1}) s,
       LATERAL (SELECT UNNEST(range(1, len(t) + 1)) AS i) u
), mt{k} AS (
  SELECT word, cnt, i, tok,
         CASE WHEN i < n AND tok = b{k}.p1
                   AND LEAD(tok) OVER (PARTITION BY word ORDER BY i)
                       = b{k}.p2
              THEN 1 ELSE 0 END AS mtch,
         b{k}.m AS m
  FROM tk{k}, b{k}
), rp{k} AS (
  SELECT *,
    i - COALESCE(MAX(CASE WHEN mtch = 0 THEN i END)
          OVER (PARTITION BY word ORDER BY i
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        0) - 1 AS run_pos
  FROM mt{k}
), mg{k} AS (
  SELECT *, CASE WHEN mtch = 1 AND run_pos % 2 = 0 THEN 1 ELSE 0 END
            AS mrg,
         COALESCE(LAG(CASE WHEN mtch = 1 AND run_pos % 2 = 0
                           THEN 1 ELSE 0 END)
           OVER (PARTITION BY word ORDER BY i), 0) AS consumed
  FROM rp{k}
), r{k} AS (
  SELECT word, cnt,
         ' ' || string_agg(CASE WHEN mrg = 1 THEN m ELSE tok END,
                           ' ' ORDER BY i) || ' ' AS repr
  FROM mg{k} WHERE consumed = 0
  GROUP BY word, cnt
)""")
    parts.append(f"""
SELECT tok AS token, CAST(SUM(cnt) AS BIGINT) AS freq
FROM (SELECT cnt, UNNEST(string_split(trim(repr), ' ')) AS tok
      FROM r{iters}) s
GROUP BY 1
""")
    return "".join(parts)


ORACLE["bpe_vocab"] = _bpe_oracle()


# --- BPE tokenizer APPLICATION (r07): the other half of the
# tokenizer lifecycle — bpe_vocab trains the merges, this applies them
# and scores every document's tokenization: exact per-doc BPE token
# count vs the character-token baseline (the compression a tokenizer
# buys). Merges apply per word TYPE (the (word, repr) table is the
# dimension side — at corpus scale it is the vocabulary, orders of
# magnitude smaller than the corpus, the same collapse bpe_vocab
# exploits), then one join back to the exploded corpus and a per-doc
# sum. The oracle re-learns the identical merges in unrolled CTEs and
# replays the join.
def q_bpe_encode(spark, sf_dir):
    from ..operators.bpe import learn_bpe
    d = _docs(spark, sf_dir).select(
        "doc_id", F.explode(F.split("text", " ")).alias("word"))
    w = d.groupBy("word").agg(F.count(F.lit(1)).alias("cnt"))
    _, reprs = learn_bpe(w, iters=3)
    wt = reprs.select(
        "word",
        F.size(F.split(F.trim("repr"), " ")).cast("long").alias("ntok"),
        F.length("word").cast("long").alias("nchar"))
    return (d.join(wt, "word")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_words"),
                 F.sum("ntok").alias("n_tokens_bpe"),
                 F.sum("nchar").alias("n_tokens_char")))


def _bpe_encode_oracle(iters: int = 3) -> str:
    base = _bpe_oracle(iters)
    head = base[:base.rindex("\nSELECT tok AS token")]
    return head + f"""
, wt AS (
  SELECT word, CAST(len(string_split(trim(repr), ' ')) AS BIGINT) AS ntok,
         CAST(length(word) AS BIGINT) AS nchar
  FROM r{iters}
), d AS (
  SELECT doc_id, UNNEST(string_split(text, ' ')) AS word FROM documents
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(ntok) AS BIGINT) AS n_tokens_bpe,
       CAST(SUM(nchar) AS BIGINT) AS n_tokens_char
FROM d JOIN wt USING (word)
GROUP BY 1
"""


ORACLE["bpe_encode"] = _bpe_encode_oracle()


# --- PMI collocation mining (r06): bigram pointwise mutual
# information over the corpus, kept EXACT by cross-multiplication —
# "PMI > ln 2" becomes the integer predicate c_xy·N > 2·c_x·c_y, so
# no log/float ever enters the comparison and both engines hash
# identically. c_x / c_y are positional marginals over the bigram
# table (count as first / as second element), the standard bigram-PMI
# convention. All c_xy ≥ 3 bigrams are returned with their exact
# numerator/denominator and the collocation verdict as a flag, so the
# driver checks the predicate on every candidate, not just the
# survivors. The guarded sequence() explode avoids Spark's
# descending-sequence trap on single-token docs.
def q_pmi_bigrams(spark, sf_dir):
    d = _docs(spark, sf_dir).select(F.split("text", " ").alias("t"))
    bi = d.select(F.explode(F.when(
        F.size("t") >= 2,
        F.expr("transform(sequence(0, size(t)-2), "
               "i -> struct(t[i] AS w1, t[i+1] AS w2))")
    ).otherwise(F.expr("array()"))).alias("b")).select("b.w1", "b.w2")
    c = bi.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c_xy"))
    cx = c.groupBy("w1").agg(F.sum("c_xy").alias("c_x"))
    cy = c.groupBy("w2").agg(F.sum("c_xy").alias("c_y"))
    n = c.agg(F.sum("c_xy").alias("n_bigrams"))
    return (c.join(cx, "w1").join(cy, "w2").crossJoin(F.broadcast(n))
            .filter(F.col("c_xy") >= 3)
            .select("w1", "w2", "c_xy", "c_x", "c_y",
                    (F.col("c_xy") * F.col("n_bigrams")).alias("pmi_num"),
                    (2 * F.col("c_x") * F.col("c_y")).alias("pmi_den2"),
                    (F.col("c_xy") * F.col("n_bigrams") >
                     2 * F.col("c_x") * F.col("c_y")).alias("is_colloc")))


ORACLE["pmi_bigrams"] = """
WITH t AS (
  SELECT string_split(text, ' ') AS t FROM documents
), b AS (
  SELECT t[i] AS w1, t[i+1] AS w2
  FROM t, LATERAL (SELECT UNNEST(range(1, len(t))) AS i) u
), c AS (
  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c_xy FROM b GROUP BY 1, 2
), cx AS (
  SELECT w1, CAST(SUM(c_xy) AS BIGINT) AS c_x FROM c GROUP BY 1
), cy AS (
  SELECT w2, CAST(SUM(c_xy) AS BIGINT) AS c_y FROM c GROUP BY 1
), n AS (
  SELECT CAST(SUM(c_xy) AS BIGINT) AS n_bigrams FROM c
)
SELECT w1, w2, c_xy, c_x, c_y,
       CAST(c_xy * n_bigrams AS BIGINT) AS pmi_num,
       CAST(2 * c_x * c_y AS BIGINT) AS pmi_den2,
       c_xy * n_bigrams > 2 * c_x * c_y AS is_colloc
FROM c JOIN cx USING (w1) JOIN cy USING (w2), n
WHERE c_xy >= 3
"""


# --- blocked edit-distance near-dup screen (r06): the third dedup
# modality next to MinHash-Jaccard and SimHash-Hamming. Candidate
# pairs are blocked on (lang, n_chars div 64) — length-incompatible
# pairs can't be near-dups at small thresholds — and scored with
# levenshtein() over a 120-char prefix (probed bit-identical between
# the JVM and DuckDB on this corpus). Per-block aggregates keep the
# output non-degenerate on an all-distinct corpus; the positive-pair
# path (perturbed near-dups actually caught) is pytest-covered.
#
# r07 (VERDICT r06 wrong-#3): the self-join is CAPPED — at 100 TB a
# corpus concentrates into few length buckets per language, and an
# uncapped 1M-doc block means 5·10¹¹ levenshtein pairs. Each block
# keeps its `cap` lowest doc_ids (deterministic: row_number over
# doc_id, the same cap the oracle replays), bounding the per-block
# cost at cap²/2 pairs; every output row carries the TRUE block size
# (n_docs) and a loud `truncated` flag so a capped block can never
# masquerade as fully screened.
def q_edit_blocks(spark, sf_dir, cap: int = 256):
    from pyspark.sql import Window as W

    base = _docs(spark, sf_dir).select(
        "doc_id", "lang",
        F.expr("n_chars div 64").alias("bkt"),
        F.substring("text", 1, 120).alias("pfx"))
    rnk = F.row_number().over(
        W.partitionBy("lang", "bkt").orderBy("doc_id"))
    kept = (base.withColumn("rnk", rnk)
            .filter(F.col("rnk") <= cap).drop("rnk"))
    a, b = kept.alias("a"), kept.alias("b")
    pairs = (a.join(b, (F.col("a.lang") == F.col("b.lang")) &
                       (F.col("a.bkt") == F.col("b.bkt")) &
                       (F.col("a.doc_id") < F.col("b.doc_id")))
             .select(F.col("a.lang").alias("lang"),
                     F.col("a.bkt").alias("bkt"),
                     F.levenshtein("a.pfx", "b.pfx").alias("dist")))
    agg = pairs.groupBy("lang", "bkt").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.min("dist").alias("min_dist"),
        F.sum(F.when(F.col("dist") <= 60, 1).otherwise(0)).alias("n_close"))
    sizes = base.groupBy("lang", "bkt").agg(
        F.count(F.lit(1)).alias("n_docs"))
    return (agg.join(sizes, ["lang", "bkt"])
            .withColumn("truncated", F.col("n_docs") > F.lit(cap)))


ORACLE["edit_blocks"] = """
WITH d AS (
  SELECT doc_id, lang, n_chars // 64 AS bkt, substr(text, 1, 120) AS pfx,
         ROW_NUMBER() OVER (PARTITION BY lang, n_chars // 64
                            ORDER BY doc_id) AS rnk
  FROM documents
), sizes AS (
  SELECT lang, bkt, CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM d GROUP BY 1, 2
), k AS (
  SELECT * FROM d WHERE rnk <= 256
), agg AS (
  SELECT a.lang, a.bkt,
         CAST(COUNT(*) AS BIGINT) AS n_pairs,
         MIN(levenshtein(a.pfx, b.pfx)) AS min_dist,
         CAST(SUM(CASE WHEN levenshtein(a.pfx, b.pfx) <= 60
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_close
  FROM k a JOIN k b
    ON a.lang = b.lang AND a.bkt = b.bkt AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT agg.lang, agg.bkt, n_pairs, min_dist, n_close, n_docs,
       n_docs > 256 AS truncated
FROM agg JOIN sizes ON agg.lang = sizes.lang AND agg.bkt = sizes.bkt
"""


# --- TextRank keyword scoring (r06): the damped integer-mass walk
# (operators/graph.py — the PageRank kernel) over the word
# co-occurrence graph: vocabulary = words with corpus count ≥ 5,
# edges = adjacent vocab-word pairs, UNDIRECTED (both directions
# emitted, bigram-count weighted). Mihalcea & Tarau's keyword ranker,
# exact in integers, 3 unrolled rounds replayed by the oracle.
def q_textrank(spark, sf_dir):
    from ..operators.graph import damped_walk
    toks = (_docs(spark, sf_dir)
            .select(F.split("text", " ").alias("t")))
    bi = toks.select(F.explode(F.when(
        F.size("t") >= 2,
        F.expr("transform(sequence(0, size(t)-2), "
               "i -> struct(t[i] AS w1, t[i+1] AS w2))")
    ).otherwise(F.expr("array()"))).alias("b")).select("b.w1", "b.w2")
    vocab = (bi.select(F.col("w1").alias("w"))
             .unionByName(bi.select(F.col("w2").alias("w")))
             .groupBy("w").agg(F.count(F.lit(1)).alias("n"))
             .filter("n >= 5").select("w"))
    e = (bi.join(F.broadcast(vocab.withColumnRenamed("w", "w1")), "w1")
         .join(F.broadcast(vocab.withColumnRenamed("w", "w2")), "w2")
         .filter("w1 <> w2")
         .groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c")))
    und = (e.select(F.col("w1").alias("src"), F.col("w2").alias("dst"), "c")
           .unionByName(
           e.select(F.col("w2").alias("src"), F.col("w1").alias("dst"), "c"))
           .groupBy("src", "dst").agg(F.sum("c").alias("c")))
    return damped_walk(und, iters=3).withColumnRenamed("node", "word")


def _textrank_oracle(iters: int = 3) -> str:
    base = 1_000_000
    parts = ["""
WITH t AS (
  SELECT string_split(text, ' ') AS t FROM documents
), bi AS (
  SELECT t[i] AS w1, t[i+1] AS w2
  FROM t, LATERAL (SELECT UNNEST(range(1, len(t))) AS i) u
), vocab AS (
  SELECT w FROM (
    SELECT w1 AS w FROM bi UNION ALL SELECT w2 FROM bi
  ) GROUP BY 1 HAVING COUNT(*) >= 5
), e AS (
  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c
  FROM bi
  WHERE w1 IN (SELECT w FROM vocab) AND w2 IN (SELECT w FROM vocab)
    AND w1 <> w2
  GROUP BY 1, 2
), g AS (
  SELECT src, dst, CAST(SUM(c) AS BIGINT) AS c FROM (
    SELECT w1 AS src, w2 AS dst, c FROM e
    UNION ALL
    SELECT w2 AS src, w1 AS dst, c FROM e
  ) GROUP BY 1, 2
), tot AS (
  SELECT src, CAST(SUM(c) AS BIGINT) AS tot FROM g GROUP BY 1
), nodes AS (
  SELECT DISTINCT src AS node FROM g
  UNION
  SELECT DISTINCT dst FROM g
), m0 AS (
  SELECT node, CAST(%d AS BIGINT) AS mass FROM nodes
)""" % base]
    for k in range(1, iters + 1):
        parts.append(f""", c{k} AS (
  SELECT g.dst AS node, SUM(m.mass * g.c // t.tot) AS inc
  FROM g JOIN tot t USING (src) JOIN m{k-1} m ON m.node = g.src
  GROUP BY 1
), m{k} AS (
  SELECT n.node,
         CAST((85 * COALESCE(c.inc, 0) + 15 * {base}) // 100
              AS BIGINT) AS mass
  FROM nodes n LEFT JOIN c{k} c USING (node)
)""")
    parts.append(f"""
SELECT node AS word, mass FROM m{iters}
""")
    return "".join(parts)


ORACLE["textrank"] = _textrank_oracle()


# --- per-document top-3 tf·idf keywords (r07): keyword extraction
# over the corpus (operators/ranking.py::tfidf_topk). Raw-ratio idf
# N/df (monotone in ln(N/df)) keeps the score ONE exact IEEE division
# of integers — no libm, no rounding; ties break by term ascending.
def q_tfidf_topk(spark, sf_dir):
    from ..operators.ranking import tfidf_topk
    return tfidf_topk(_docs(spark, sf_dir), k=3, min_len=4)


ORACLE["tfidf_topk"] = """
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term
  FROM documents
), ftoks AS (
  SELECT doc_id, term FROM toks WHERE length(term) >= 4
), n AS (SELECT COUNT(*) AS n_docs FROM documents),
tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM ftoks GROUP BY 1, 2
), dfreq AS (
  SELECT term, COUNT(DISTINCT doc_id) AS df FROM ftoks GROUP BY 1
), sc AS (
  SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
         CAST(tf.tf * n.n_docs AS DOUBLE) / dfreq.df AS score
  FROM tf JOIN dfreq USING (term), n
), rk AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                               ORDER BY score DESC, term ASC) AS rnk
  FROM sc
)
SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
       CAST(rnk AS INT) AS rnk, score
FROM rk WHERE rnk <= 3
"""


# --- cross-document duplicate n-token windows (r07): the EXACT
# SUBSTRING dedup signal (Lee et al. 2022, "Deduplicating Training
# Data Makes Language Models Better" — their suffix-array pass finds
# repeated spans; at fixed span length the same signal is a rolling
# 8-token window equality, which distributes as plain groupBy). Per
# doc: total 8-token windows and how many occur in ≥2 DISTINCT docs —
# the contaminated-span fraction a dedup pipeline thresholds on.
# Window extraction is scan-side (transform over sequence — a
# row-local fan-out, no shuffle of raw text); the dup vocabulary
# groupBy is the only wide exchange, and at 100 TB the window strings
# would be 64-bit rolling hashes instead (same plan shape, smaller
# shuffle payload — strings kept here so the oracle is exact).
_WIN8 = ("CASE WHEN size(tk) >= 8 THEN transform(sequence(0, size(tk) - 8),"
         " i -> array_join(slice(tk, i + 1, 8), ' '))"
         " ELSE CAST(array() AS array<string>) END")


def q_substring_dups(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    wins = (docs.select("doc_id", F.split("text", " ").alias("tk"))
            .select("doc_id", F.explode(F.expr(_WIN8)).alias("win")))
    dup = (wins.groupBy("win")
           .agg(F.countDistinct("doc_id").alias("nd"))
           .filter(F.col("nd") >= 2)
           .select("win"))
    per = (wins.join(dup.withColumn("isdup", F.lit(1)), "win", "left")
           .groupBy("doc_id")
           .agg(F.count(F.lit(1)).alias("n_win"),
                F.count("isdup").alias("n_dup_win")))
    return (docs.select("doc_id").join(per, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("n_win", F.lit(0)).alias("n_win"),
                    F.coalesce("n_dup_win", F.lit(0)).alias("n_dup_win")))


ORACLE["substring_dups"] = """
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS tk FROM documents
), w AS (
  SELECT doc_id, array_to_string(tk[i+1:i+8], ' ') AS win
  FROM toks, LATERAL (SELECT UNNEST(range(GREATEST(len(tk) - 7, 0))) AS i) u
), dup AS (
  SELECT win FROM w GROUP BY 1 HAVING COUNT(DISTINCT doc_id) >= 2
), per AS (
  SELECT w.doc_id, COUNT(*) AS n_win, COUNT(d.win) AS n_dup_win
  FROM w LEFT JOIN dup d USING (win) GROUP BY 1
)
SELECT doc_id,
       CAST(COALESCE(per.n_win, 0) AS BIGINT) AS n_win,
       CAST(COALESCE(per.n_dup_win, 0) AS BIGINT) AS n_dup_win
FROM documents LEFT JOIN per USING (doc_id)
"""


# --- bigram novelty / hapax screen (r07 wave L): the corpus-internal
# novelty signal LLM curation uses next to contamination checks —
# per document, how many of its bigram POSITIONS carry a bigram that
# is globally unique (corpus count 1 ⇒ it lives only here) or rare
# (count ≤ 3). High-unique docs are novel or noisy; zero-unique docs
# are boilerplate. Shape: one bigram-count groupBy + ONE equi join
# of occurrences against counts + one doc groupBy — all map-side
# combinable; the count table is the corpus vocabulary (bounded,
# Zipf), and skewed head bigrams broadcast fine under AQE.
def q_lm_novelty(spark, sf_dir):
    d = _docs(spark, sf_dir).select("doc_id",
                                    F.split("text", " ").alias("t"))
    bi = d.select("doc_id", F.explode(F.when(
        F.size("t") >= 2,
        F.expr("transform(sequence(0, size(t)-2), "
               "i -> struct(t[i] AS w1, t[i+1] AS w2))")
    ).otherwise(F.expr("array()"))).alias("b")).select(
        "doc_id", "b.w1", "b.w2")
    tot = bi.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c_tot"))
    return (bi.join(tot, ["w1", "w2"])
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_bigrams"),
                 F.sum(F.when(F.col("c_tot") == 1, 1).otherwise(0))
                 .cast("long").alias("n_unique"),
                 F.sum(F.when(F.col("c_tot") <= 3, 1).otherwise(0))
                 .cast("long").alias("n_rare")))


ORACLE["lm_novelty"] = """
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
), b AS (
  SELECT doc_id, t[i] AS w1, t[i+1] AS w2
  FROM t, LATERAL (SELECT UNNEST(range(1, len(t))) AS i) u
), c AS (
  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c_tot FROM b GROUP BY 1, 2
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       CAST(SUM(CASE WHEN c_tot = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_unique,
       CAST(SUM(CASE WHEN c_tot <= 3 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_rare
FROM b JOIN c USING (w1, w2)
GROUP BY 1
"""


# --- RAKE keyword scores (r07 wave P): Rapid Automatic Keyword
# Extraction's word-level statistics — phrases are maximal stopword-
# free token runs ({'a','the'} are the corpus stopwords), a word's
# degree is the summed length of every phrase it appears in, and the
# RAKE score deg/freq is emitted as the truncated integer
# score_milli = 1000·deg div freq (positive operands ⇒ trunc ≡
# floor across engines). Shape: positions via posexplode, the
# phrase id is a running stopword count (doc-partitioned window),
# one phrase-length groupBy, one word groupBy.
def q_rake_scores(spark, sf_dir):
    from pyspark.sql import Window as W
    d = _docs(spark, sf_dir).select("doc_id",
                                    F.split("text", " ").alias("t"))
    tok = d.select("doc_id", F.posexplode("t").alias("pos", "w")) \
        .withColumn("is_stop", F.col("w").isin("a", "the"))
    seg = tok.withColumn(
        "seg", F.sum(F.when(F.col("is_stop"), 1).otherwise(0)).over(
            W.partitionBy("doc_id").orderBy("pos")))
    words = seg.filter(~F.col("is_stop"))
    plen = (words.groupBy("doc_id", "seg")
            .agg(F.count(F.lit(1)).alias("plen")))
    return (words.join(plen, ["doc_id", "seg"])
            .groupBy("w")
            .agg(F.count(F.lit(1)).alias("freq"),
                 F.sum("plen").alias("deg"))
            .select("w", "freq", "deg",
                    F.expr("1000 * deg div freq").alias("score_milli")))


ORACLE["rake_scores"] = """
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
), tok AS (
  SELECT doc_id, i AS pos, t[i] AS w, t[i] IN ('a', 'the') AS is_stop
  FROM t, LATERAL (SELECT UNNEST(range(1, len(t) + 1)) AS i) u
), seg AS (
  SELECT *, SUM(CASE WHEN is_stop THEN 1 ELSE 0 END)
              OVER (PARTITION BY doc_id ORDER BY pos) AS seg
  FROM tok
), words AS (
  SELECT doc_id, seg, w FROM seg WHERE NOT is_stop
), plen AS (
  SELECT doc_id, seg, CAST(COUNT(*) AS BIGINT) AS plen
  FROM words GROUP BY 1, 2
)
SELECT w, CAST(COUNT(*) AS BIGINT) AS freq,
       CAST(SUM(plen) AS BIGINT) AS deg,
       1000 * CAST(SUM(plen) AS BIGINT) // COUNT(*) AS score_milli
FROM words JOIN plen USING (doc_id, seg)
GROUP BY 1
"""
