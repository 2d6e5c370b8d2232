"""Pipeline-operator queries (dedup / similarity / text analysis) for the
correctness gate — imported by tdengine_spark.queries for registration.

Oracle notes:
  - exact dedup groups by *normalized text* in DuckDB vs its xxhash64
    fingerprint in Spark — identical grouping absent 64-bit collisions;
  - token/quality/langid oracles replicate the regex pipelines in DuckDB
    (both engines' regexp_extract_all use the same character-class
    syntax);
  - cosine top-k: DuckDB list_cosine_similarity is the oracle; ranking
    uses the unrounded score with id tiebreak on both sides;
  - MinHash/SimHash are hash-algorithm-specific (xxhash64) → rows-only.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from tdengine_spark.pipeline import dedup as dd
from tdengine_spark.pipeline import similarity as sim
from tdengine_spark.pipeline import text as tx
from tdengine_spark.queries import q, t

_NORM = "regexp_replace(lower(trim(text)), '\\s+', ' ')"
_TOKS = "regexp_extract_all(lower(text), '[a-z]+')"


@q(
    "dedup_exact_documents",
    f"""
    SELECT min(doc_id) AS doc_id, COUNT(*) AS dup_count
    FROM documents GROUP BY {_NORM}
    """,
)
def q_dedup_exact(spark, sf_dir):
    """Exact dedup on normalized-text fingerprint (one hash groupBy)."""
    docs = t(spark, sf_dir, "documents")
    return dd.exact_dedup(docs)


@q(
    "token_counts",
    r"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^\sA-Za-z0-9]'))
                AS INT) AS n_tokens,
           CAST(CASE WHEN len(trim(text)) = 0 THEN 0
                ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS INT)
                AS n_ws_tokens
    FROM documents
    """,
)
def q_token_counts(spark, sf_dir):
    # spread: the single-file local scan otherwise runs the regex
    # pipeline on one core (tx.spread is a no-op on multi-split inputs)
    docs = tx.spread(t(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id",
        tx.token_count("text").alias("n_tokens"),
        tx.whitespace_token_count("text").alias("n_ws_tokens"),
    )


@q(
    "quality_features",
    f"""
    WITH s AS (
      SELECT doc_id, text, {_TOKS} AS toks,
             greatest(len(text), 1) AS safe_chars
      FROM documents
    )
    SELECT doc_id,
           CAST(len(text) AS INT) AS n_chars,
           CAST(len(toks) AS INT) AS n_tokens,
           CAST(len(list_distinct(toks)) AS INT) AS n_distinct_tokens,
           (ROUND(len(list_distinct(toks)) / greatest(len(toks), 1)
                  + 0.0000001, 4) + 0) AS distinct_ratio,
           (ROUND(list_aggregate(list_transform(toks, x -> len(x)), 'sum')
                  / CAST(greatest(len(toks), 1) AS DOUBLE) + 0.0000001, 4) + 0)
                AS avg_token_len,
           (ROUND(len(regexp_extract_all(text, '[.,;:!?]'))
                  / CAST(safe_chars AS DOUBLE) + 0.0000001, 4) + 0) AS punct_ratio,
           (ROUND(len(regexp_extract_all(text, '[0-9]'))
                  / CAST(safe_chars AS DOUBLE) + 0.0000001, 4) + 0) AS digit_ratio,
           (ROUND(len(regexp_extract_all(text, '[A-Z]'))
                  / CAST(safe_chars AS DOUBLE) + 0.0000001, 4) + 0) AS upper_ratio,
           (ROUND(len(list_filter(toks, x -> list_contains(
                  ['the','and','of','to','is','in','that','it'], x)))
                  / CAST(greatest(len(toks), 1) AS DOUBLE) + 0.0000001, 4) + 0)
                AS stopword_ratio
    FROM s
    """,
)
def q_quality(spark, sf_dir):
    docs = tx.spread(t(spark, sf_dir, "documents").select("doc_id", "text"))
    feat = tx.quality_features(docs)
    eps = lambda c: F.round(F.col(c) + F.lit(1e-7), 4) + F.lit(0.0)
    return feat.select(
        "doc_id",
        "n_chars",
        "n_tokens",
        "n_distinct_tokens",
        eps("distinct_ratio").alias("distinct_ratio"),
        eps("avg_token_len").alias("avg_token_len"),
        eps("punct_ratio").alias("punct_ratio"),
        eps("digit_ratio").alias("digit_ratio"),
        eps("upper_ratio").alias("upper_ratio"),
        eps("stopword_ratio").alias("stopword_ratio"),
    )


_LANG_SQL_SETS = {
    "en": "['the','and','of','to','is','in','that','it']",
    "de": "['der','die','das','und','ist','nicht','ein','zu']",
    "fr": "['le','la','les','et','est','une','que','dans']",
    "es": "['el','la','los','es','una','que','de','por']",
}

_SCORE_COLS = ",\n".join(
    f"""           len(list_filter(toks, x -> list_contains({lst}, x)))
               / CAST(greatest(len(toks), 1) AS DOUBLE) AS s_{lang}"""
    for lang, lst in _LANG_SQL_SETS.items()
)


@q(
    "language_id",
    f"""
    WITH s AS (
      SELECT doc_id,
             regexp_extract_all(lower(text), '[a-zà-ÿäöüß]+') AS toks
      FROM documents
    ), scores AS (
      SELECT doc_id,
{_SCORE_COLS}
      FROM s
    ), ranked AS (
      SELECT doc_id, lang, score,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY score DESC, lang DESC) AS rn
      FROM scores
      UNPIVOT (score FOR lang IN (s_en AS 'en', s_de AS 'de',
                                  s_fr AS 'fr', s_es AS 'es'))
    )
    SELECT doc_id,
           CASE WHEN score > 0.02 THEN lang ELSE 'und' END AS lang_pred,
           (ROUND(score + 0.0000001, 4) + 0) AS lang_score
    FROM ranked WHERE rn = 1
    """,
)
def q_langid(spark, sf_dir):
    docs = tx.spread(t(spark, sf_dir, "documents").select("doc_id", "text"))
    out = tx.language_id(docs)
    return out.select(
        "doc_id",
        "lang_pred",
        (F.round(F.col("lang_score") + F.lit(1e-7), 4) + F.lit(0.0)).alias(
            "lang_score"
        ),
    )


@q(
    "cosine_topk_bruteforce",
    """
    WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 10),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                    CAST(c.embedding AS DOUBLE[])) AS raw
      FROM embeddings c, q WHERE c.vec_id <> q.vec_id
    )
    SELECT query_id, neighbor_id,
           (ROUND(raw + 0.0000001, 4) + 0) AS cosine,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY (ROUND(raw + 0.0000001, 4) + 0) DESC,
                                            neighbor_id) AS BIGINT) AS rank
    FROM scored
    QUALIFY rank <= 5
    """,
)
def q_cosine_topk(spark, sf_dir):
    """Brute-force exact ANN baseline: broadcast queries × one corpus scan."""
    emb = t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 10)
    return sim.cosine_topk(emb, queries, k=5)


#: brute-force word-3-gram shingle Jaccard in SQL — the oracle for both
#: the exact baseline AND the MinHash pipeline (whose Jaccard-verify step
#: makes its output EQUAL to the exact pairs whenever the banded LSH
#: finds every true pair; the synthetic corpus' near-dups sit at
#: jaccard ≥ 0.9, where 16-band/4-row collision is deterministic)
_JACCARD_PAIRS_SQL = r"""
    WITH toks AS (
      SELECT doc_id,
             string_split(regexp_replace(lower(trim(text)), '\s+', ' ',
                                         'g'), ' ') AS tk
      FROM documents
    ), sh AS (
      SELECT doc_id,
        CASE WHEN len(tk) >= 3 THEN
          list_distinct([tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
                         FOR i IN generate_series(1, len(tk)-2)])
        ELSE [list_aggregate(tk, 'string_agg', ' ')] END AS sh
      FROM toks
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      ROUND(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
            GREATEST(CAST(len(a.sh) + len(b.sh)
                          - len(list_intersect(a.sh, b.sh)) AS DOUBLE),
                     1.0), 4) AS jaccard
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    WHERE jaccard >= 0.5
"""


@q("minhash_near_dup_pairs", _JACCARD_PAIRS_SQL)
def q_minhash(spark, sf_dir):
    """MinHash(64)+LSH(16 bands) near-dup pairs, Jaccard-verified ≥ 0.5.

    Value-oracled against brute-force exact Jaccard: the verify step
    emits EXACT similarities, so the output equals the brute-force pair
    set whenever LSH recall is 1 — deterministic here (fixed xxhash64
    family, corpus near-dups at jaccard ≥ 0.9)."""
    docs = t(spark, sf_dir, "documents")
    return dd.minhash_dedup(docs, threshold=0.5)


@q("jaccard_pairs_exact", _JACCARD_PAIRS_SQL)
def q_jaccard_exact(spark, sf_dir):
    """Exact all-pairs shingle-Jaccard ≥ 0.5 (the n² verification
    baseline the LSH path approximates; value-oracles the shingle and
    Jaccard machinery directly)."""
    docs = t(spark, sf_dir, "documents")
    return dd.jaccard_pairs_bruteforce(docs, threshold=0.5)


@q("simhash_near_pairs")  # rows-only: xxhash64-specific
def q_simhash(spark, sf_dir):
    """SimHash-64 near-dup pairs at hamming ≤ 6 (block-permutation join)."""
    docs = t(spark, sf_dir, "documents")
    sims = dd.simhash(docs)
    return dd.simhash_near_pairs(sims, max_hamming=6)


@q("simhash_verified_pairs", _JACCARD_PAIRS_SQL)
def q_simhash_verified(spark, sf_dir):
    """SimHash candidates Jaccard-verified ≥ 0.5 — value-oracled against
    brute-force exact Jaccard. Deterministic on a fixed corpus (fixed
    xxhash64 family); hamming ≤ 12 (13-block permutation join) gives
    recall 1 on the synthetic near-dups — SHORT high-jaccard docs carry
    noisy simhashes (observed hamming up to 9 at jaccard 0.98), which a
    6-bit bound misses."""
    docs = t(spark, sf_dir, "documents")
    sims = dd.simhash(docs)
    pairs = dd.simhash_near_pairs(sims, max_hamming=12)
    return dd.jaccard_verify(
        docs, pairs.select("id_a", "id_b"), threshold=0.5
    )


# ---------------------------------------------------------------------------
# Quantized-LSH value oracles: the hyperplane bucket kernel is integer-
# exact (floor-quantized planes and vectors, int64 dot product — see
# similarity.lsh_bucket_int), so DuckDB can replay the SAME algorithm
# bit-identically: same buckets, same candidate join, same rounded
# cosine. This oracles the LSH path itself (recall-independent), not a
# brute-force stand-in.
# ---------------------------------------------------------------------------

_LSH_PLANES_LIT = "[" + ",".join(
    "[" + ",".join(str(x) for x in row) + "]"
    for row in sim.quantized_planes(sim.random_hyperplanes(64, 8, 42))
) + "]"

#: bucket CTEs shared by the three LSH oracles (b = corpus buckets,
#: qp = multi-probe fan-out of radius 1). ``qv`` carries the floor-
#: quantized int64 vector — scoring runs on it so the compared cosine
#: is integer-exact cross-engine (see _cos_int_sql)
_LSH_BUCKET_CTE = f"""
    pl AS (SELECT {_LSH_PLANES_LIT}::BIGINT[][] AS p),
    e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                 [CAST(FLOOR(x*4096) AS BIGINT) FOR x IN
                  CAST(embedding AS DOUBLE[])] AS qv
          FROM embeddings),
    b AS (SELECT vec_id, v, qv,
            list_sum([CASE WHEN list_dot_product(qv, p[j]) > 0
                      THEN 1<<(j-1) ELSE 0 END
                      FOR j IN generate_series(1,8)]) AS bucket
          FROM e, pl)
"""


def _cos_int_sql(qa: str, qb: str) -> str:
    """Integer-exact cosine of two quantized BIGINT[] columns — the SQL
    twin of similarity.pair_cosine_int: exact integer dot/norms (every
    partial sum < 2^53, so summation order can't matter), then the same
    correctly-rounded IEEE multiply/sqrt/divide and the same half-up
    round to 4 decimals. Bit-identical to the Spark side by
    construction, including AT threshold/rank boundaries."""
    num = f"CAST(list_dot_product({qa}, {qb}) AS DOUBLE)"
    den = (f"GREATEST(sqrt(CAST(list_dot_product({qa}, {qa}) AS DOUBLE)"
           f" * CAST(list_dot_product({qb}, {qb}) AS DOUBLE)), 1e-30)")
    c = f"({num} / {den})"
    return (f"(CASE WHEN {c} >= 0 THEN FLOOR({c} * 10000 + 0.5) / 10000"
            f" ELSE -FLOOR(-{c} * 10000 + 0.5) / 10000 END + 0)")

_LSH_ANN_TOPK_SQL = f"""
    WITH {_LSH_BUCKET_CTE},
    s AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             {_cos_int_sql("q.qv", "c.qv")} AS cosine
      FROM b q JOIN b c ON q.bucket = c.bucket
      WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id
    )
    SELECT query_id, neighbor_id, cosine,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank
    FROM s QUALIFY rank <= 5
"""

_ANN_MULTIPROBE_SQL = f"""
    WITH {_LSH_BUCKET_CTE},
    qp AS (
      SELECT vec_id, qv,
             unnest([bucket] || [xor(bucket, 1<<(i-1))
                                 FOR i IN generate_series(1,8)]) AS bucket
      FROM b WHERE vec_id < 10
    ),
    s AS (
      SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             {_cos_int_sql("q.qv", "c.qv")} AS cosine
      FROM qp q JOIN b c ON q.bucket = c.bucket
      WHERE c.vec_id <> q.vec_id
    )
    SELECT query_id, neighbor_id, cosine,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank
    FROM s QUALIFY rank <= 5
"""

_EMB_NEAR_DUP_LSH_SQL = f"""
    WITH {_LSH_BUCKET_CTE},
    qp AS (
      SELECT vec_id, qv,
             unnest([bucket] || [xor(bucket, 1<<(i-1))
                                 FOR i IN generate_series(1,8)]) AS bucket
      FROM b
    ),
    pairs AS (
      SELECT DISTINCT a.vec_id AS id_a, b2.vec_id AS id_b,
             a.qv AS qva, b2.qv AS qvb
      FROM qp a JOIN b b2 ON a.bucket = b2.bucket
      WHERE a.vec_id < b2.vec_id
    )
    SELECT id_a, id_b,
           {_cos_int_sql("qva", "qvb")} AS cosine
    FROM pairs WHERE cosine >= 0.35
"""


@q("lsh_ann_topk", _LSH_ANN_TOPK_SQL)
def q_lsh_ann(spark, sf_dir):
    """LSH-bucketed approximate top-k (the 100 TB path for ANN) —
    integer-exact bucket kernel, value-oracled by a DuckDB replay of
    the same buckets/join/rank."""
    emb = t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 10)
    return sim.lsh_ann_topk(emb, queries, dim=64, k=5, nbits=8, quantized=True)


# ---------------------------------------------------------------------------
# interp / TimeSlice (§2.6) — registered here to keep queries.py stable
# ---------------------------------------------------------------------------

from tdengine_spark.operators.interp import interp  # noqa: E402


@q(
    "interp_linear_daily",
    """
    WITH spine AS (
      SELECT u.user_id, unnest(generate_series(TIMESTAMP '2024-01-05',
             TIMESTAMP '2024-01-25', INTERVAL 1 DAY)) AS _irowts
      FROM (SELECT DISTINCT user_id FROM events) u
    ), ev AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events
    ), prevj AS (
      SELECT s.user_id, s._irowts, e.ts AS pt, e.value AS pv
      FROM spine s ASOF LEFT JOIN ev e
        ON s.user_id = e.user_id AND s._irowts >= e.ts
    ), nextj AS (
      SELECT s.user_id, s._irowts, e.ts AS nt, e.value AS nv
      FROM spine s ASOF LEFT JOIN ev e
        ON s.user_id = e.user_id AND s._irowts <= e.ts
    )
    SELECT p.user_id, p._irowts,
           (ROUND(CASE WHEN p.pt = p._irowts THEN p.pv
                      WHEN p.pt IS NULL OR n.nt IS NULL THEN NULL
                      ELSE p.pv + (n.nv - p.pv) *
                           (CAST(epoch_us(p._irowts) - epoch_us(p.pt) AS DOUBLE)
                            / CAST(epoch_us(n.nt) - epoch_us(p.pt) AS DOUBLE))
                 END + 0.0000001, 4) + 0) AS value,
           COALESCE(p.pt <> p._irowts, TRUE) AS _isfilled
    FROM prevj p JOIN nextj n ON p.user_id = n.user_id AND p._irowts = n._irowts
    WHERE p.pt IS NOT NULL AND n.nt IS NOT NULL
    """,
)
def q_interp_linear(spark, sf_dir):
    """interp ... RANGE('2024-01-05','2024-01-25') EVERY(1d) FILL(LINEAR).

    Each user's instants are filled from that user's own bucket rows,
    so the fact table is scanned exactly once per plan."""
    ev = t(spark, sf_dir, "events")
    out = interp(
        ev, "ts", "value", "2024-01-05", "2024-01-25", "1d",
        mode="linear", partition_by=["user_id"],
        ordered=False,
    )
    return out.select(
        "user_id", "_irowts",
        (F.round(F.col("value") + F.lit(1e-7), 4) + F.lit(0.0)).alias("value"),
        "_isfilled",
    )


@q(
    "interp_prev_6h",
    """
    WITH spine AS (
      SELECT u.event_type, unnest(generate_series(TIMESTAMP '2024-01-10',
             TIMESTAMP '2024-01-12', INTERVAL 6 HOUR)) AS _irowts
      FROM (SELECT DISTINCT event_type FROM events) u
    ), ev AS (
      SELECT event_type, CAST(ts AS TIMESTAMP) AS ts, value FROM events
    )
    SELECT s.event_type, s._irowts,
           (ROUND(e.value + 0.0000001, 4) + 0) AS value,
           COALESCE(e.ts <> s._irowts, TRUE) AS _isfilled
    FROM spine s ASOF JOIN ev e
      ON s.event_type = e.event_type AND s._irowts >= e.ts
    """,
)
def q_interp_prev(spark, sf_dir):
    """interp ... EVERY(6h) FILL(PREV) partitioned by tag.

    The groups come from the bucket rows themselves (single fact
    scan)."""
    ev = t(spark, sf_dir, "events")
    out = interp(
        ev, "ts", "value", "2024-01-10", "2024-01-12", "6h",
        mode="prev", partition_by=["event_type"],
        ordered=False,
    )
    return out.select(
        "event_type", "_irowts",
        (F.round(F.col("value") + F.lit(1e-7), 4) + F.lit(0.0)).alias("value"),
        "_isfilled",
    )


@q(
    "embedding_near_dup_pairs",
    """
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    p AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             (ROUND(list_cosine_similarity(a.v, b.v) + 0.0000001, 4) + 0) AS cosine
      FROM e a JOIN e b ON a.vec_id < b.vec_id
    )
    SELECT id_a, id_b, cosine FROM p WHERE cosine >= 0.35
    """,
)
def q_embedding_near_dup(spark, sf_dir):
    """Embedding-cosine near-dup pairs, exact method (the verification
    baseline; the LSH-bucketed variant below is the 100 TB path)."""
    emb = t(spark, sf_dir, "embeddings")
    return sim.cosine_near_dup_pairs(emb, threshold=0.35, method="exact")


@q("embedding_near_dup_lsh", _EMB_NEAR_DUP_LSH_SQL)
def q_embedding_near_dup_lsh(spark, sf_dir):
    """Embedding-cosine near-dup via hyperplane buckets + multi-probe —
    candidate generation is a bucket equi-join, no all-pairs product.
    Integer-exact buckets; value-oracled by a DuckDB replay of the
    same algorithm (recall-independent)."""
    emb = t(spark, sf_dir, "embeddings")
    return sim.cosine_near_dup_pairs(
        emb, threshold=0.35, method="lsh", dim=64, nbits=8, probe_radius=1,
        quantized=True,
    )
