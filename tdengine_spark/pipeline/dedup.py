"""Deduplication at training-data scale: exact, MinHash+LSH, SimHash,
n-gram Jaccard.

Scale design:
  - exact dedup = one hash-groupBy on a 64-bit fingerprint (map-side
    partial collapse → shuffle carries one row per distinct doc);
  - MinHash+LSH avoids the O(n²) pair space: signatures are computed
    JVM-side (transform/aggregate over shingle hashes — no Python), bands
    bucket the candidates, and only within-bucket pairs are verified;
  - SimHash = 64 weighted bit-sums per doc, again pure expressions;
  - the verify step (exact Jaccard) runs only on LSH candidates.

Everything is expressed so Catalyst sees plain projections + equi-joins:
no UDFs, no driver loops, no cartesian products.
"""

from __future__ import annotations

import pandas as pd  # module-level: pandas_udf resolves "pd.Series" hints here

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from tdengine_spark.pipeline.text import fingerprint, shingles, spread

# MinHash universal-hash parameters: h_i(x) = (a_i * x + b_i) mod p.
# p = 2^31 - 1 (Mersenne prime) keeps a*h < 2^62 — no int64 overflow in
# the JVM expression.
_MERSENNE_P = (1 << 31) - 1

#: input bytes per task for the Arrow-crossing kernels (see
#: ``text.spread``): each mapInArrow task pays a fixed Python-worker
#: round-trip, so small inputs are sliced to ~task-overhead-sized
#: pieces instead of cluster-wide; large inputs still cap at the
#: cluster parallelism (and multi-split scans bypass spread entirely).
#: Chosen when that round-trip cost ~50-60 ms of wall and ~180-220 ms of
#: worker CPU per task (4 cores); under ``session.get_spark``'s worker
#: daemon it is ~14 ms and ~15-18 ms (``text.spread``); not re-tuned.
_ARROW_BYTES_PER_TASK = 128 << 10


def _hash_params(num: int, seed: int = 42) -> list[tuple[int, int]]:
    import random

    rnd = random.Random(seed)
    return [
        (rnd.randrange(1, _MERSENNE_P), rnd.randrange(0, _MERSENNE_P))
        for _ in range(num)
    ]


def _shingle_hashes(text_col: str, shingle_n: int) -> Column:
    """array<long> of xxhash64(shingle) mod p, in [0, p).

    ONE hash family for every minhash method: the hashing runs JVM-side
    (codegen'd xxhash64 — no Python), so ``method="arrow"`` and
    ``method="expr"`` signatures are identical by construction and
    persisted signatures stay valid across a method switch. pmod (not
    abs-then-%) so the Long.MIN_VALUE edge can't go negative.
    NULL text folds to "" so the array is never NULL (and always ≥1
    element) — both methods see the same input."""
    sh = shingles(F.coalesce(F.col(text_col), F.lit("")), shingle_n)
    return F.transform(sh, lambda s: F.pmod(F.xxhash64(s), F.lit(_MERSENNE_P)))


def _token_hashes(text_col: str) -> Column:
    """array<long> of raw xxhash64(token) — the shared SimHash input.
    Tokenization: lower/trim, collapse whitespace, split (NULL/empty
    text → one "" token, so the array is never NULL/empty)."""
    txt = F.coalesce(F.col(text_col), F.lit(""))
    # one regex pass (split on \s+) — token-identical to the old
    # collapse-then-split form since trim leaves no edge separators
    toks = F.split(F.lower(F.trim(txt)), r"\s+")
    return F.transform(toks, lambda w: F.xxhash64(w))


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact duplicate removal keyed on the normalized-text fingerprint;
    keeps the smallest id per group, adds the group's duplicate count."""
    fp = fingerprint(text_col)
    return (
        df.withColumn("_fp", fp)
        .groupBy("_fp")
        .agg(
            F.min(id_col).alias(id_col),
            F.count(F.lit(1)).alias("dup_count"),
        )
        .drop("_fp")
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    shingle_n: int = 3,
    seed: int = 42,
    method: str = "arrow",
) -> DataFrame:
    """(id, signature array<long>) — MinHash over word-shingle hashes.

    Shingle hashing ALWAYS runs JVM-side (``_shingle_hashes``: codegen'd
    xxhash64 mod p) so both methods share one hash family — signatures
    from either method are interchangeable, and a persisted signature
    table survives a method switch.

    ``method="arrow"`` (default): the (h·a+b) mod p min-reduction runs
    in numpy — the whole Arrow batch's hashes become ONE
    |shingles|×num_hashes broadcast with ``minimum.reduceat`` per doc.
    Spark's higher-order functions evaluate *interpreted* (no
    whole-stage codegen), so at 64 hashes the JVM fold costs ~2× the
    Arrow round-trip; profiled at sf0.1 on local[32].

    ``method="expr"``: the pure-expression fold (no Python workers, no
    Arrow) — keep for environments where Python UDFs are barred.
    """
    hashed = _shingle_hashes(text_col, shingle_n)
    if method == "arrow":
        return _minhash_signatures_arrow(df, hashed, id_col, num_hashes, seed)
    params = _hash_params(num_hashes, seed)
    a_arr = F.array(*[F.lit(a).cast("long") for a, _ in params])
    b_arr = F.array(*[F.lit(b).cast("long") for _, b in params])
    init = F.array_repeat(F.lit(_MERSENNE_P).cast("long"), num_hashes)
    # h < p < 2^31 and a < p ⇒ h·a + b < 2^62: no int64 overflow
    sig = F.aggregate(
        hashed,
        init,
        lambda acc, h: F.zip_with(
            acc,
            F.zip_with(a_arr, b_arr, lambda a, b: (h * a + b) % _MERSENNE_P),
            lambda x, y: F.least(x, y),
        ),
    )
    return df.select(F.col(id_col), sig.alias("signature"))


def _list_buffers(col):
    """(values, offsets) numpy views of an Arrow list<int64> column —
    zero-copy via the Arrow buffers. The pandas path materialized every
    element as a Python object (Series of Python lists), which was the
    dominant cost of both signature kernels (profiled ~60% of the
    simhash gate's wall at sf0.1)."""
    import numpy as np
    import pyarrow as pa

    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    offsets = np.asarray(col.offsets)
    values = np.asarray(col.values)
    # a sliced batch shares the parent buffers: rebase to the slice
    values = values[offsets[0]: offsets[-1]]
    offsets = offsets - offsets[0]
    return values, offsets


def _minhash_signatures_arrow(
    df: DataFrame,
    hashed: Column,
    id_col: str,
    num_hashes: int,
    seed: int,
) -> DataFrame:
    """Arrow min-reduction over JVM-computed shingle hashes (array<long>
    in [0, p)). No hashing and no per-row Python — mapInArrow reads the
    list column's raw (values, offsets) buffers, so the whole batch is
    one numpy broadcast + segmented minima with zero per-row object
    conversion."""
    import numpy as np

    params = _hash_params(num_hashes, seed)
    a_vec = np.array([a for a, _ in params], dtype=np.uint64)
    b_vec = np.array([b for _, b in params], dtype=np.uint64)
    p = np.uint64(_MERSENNE_P)

    def sig_batches(batches):
        import pyarrow as pa

        for batch in batches:
            n = batch.num_rows
            if not n:
                continue
            h_raw, offsets = _list_buffers(batch.column(1))
            h = h_raw.astype(np.uint64)
            segs = offsets[:-1]
            # one 1-D pass per hash function: the (|shingles| × 64)
            # broadcast matrix this replaces peaked at ~8 bytes ×
            # shingles × 64 per batch — far past cache, and allocating
            # it dominated the kernel (§1.2 step 2)
            mins = np.empty((num_hashes, n), dtype=np.int64)
            for i in range(num_hashes):
                # h < p and a < p ⇒ h·a + b < 2^62: no uint64 wrap
                hi = (h * a_vec[i] + b_vec[i]) % p
                # shingles() guarantees ≥1 element per doc, so every
                # reduceat segment is non-empty
                mins[i] = np.minimum.reduceat(hi, segs).astype(np.int64)
            mins = mins.T.copy()
            sig = pa.ListArray.from_arrays(
                pa.array(
                    np.arange(n + 1, dtype=np.int32) * num_hashes
                ),
                pa.array(mins.ravel()),
            )
            yield pa.record_batch(
                [batch.column(0), sig], names=[id_col, "signature"]
            )

    id_t = df.schema[id_col].dataType.simpleString()
    return df.select(F.col(id_col), hashed.alias("_h")).mapInArrow(
        sig_batches, f"{id_col} {id_t}, signature array<long>"
    )


#: band-fold constant (FNV-1a prime). The band key only has to satisfy
#: "equal 4-hash slices ⇔ equal key" up to 64-bit collisions — and a
#: collision merely adds a candidate pair that the exact-Jaccard verify
#: step filters, so the pipeline OUTPUT is collision-proof.
_BAND_FOLD_C = 1099511628211


def _minhash_bands_arrow(
    df: DataFrame,
    hashed: Column,
    id_col: str,
    num_hashes: int,
    bands: int,
    seed: int,
) -> DataFrame:
    """(id, bands array<long>) — the LSH band keys computed INSIDE the
    signature kernel (r14): the per-band minima are folded into one
    64-bit key per band while the signature matrix is still a numpy
    array, replacing the JVM's per-band slice→cast-to-string→xxhash64
    pass over every doc. Only ``minhash_dedup`` uses this fused path;
    ``minhash_signatures`` keeps emitting raw signatures (its documented
    contract — persisted signature tables stay valid)."""
    import numpy as np

    params = _hash_params(num_hashes, seed)
    a_vec = np.array([a for a, _ in params], dtype=np.uint64)
    b_vec = np.array([b for _, b in params], dtype=np.uint64)
    p = np.uint64(_MERSENNE_P)
    rows_per_band = num_hashes // bands
    C = np.uint64(_BAND_FOLD_C)

    def band_batches(batches):
        import pyarrow as pa

        for batch in batches:
            n = batch.num_rows
            if not n:
                continue
            h_raw, offsets = _list_buffers(batch.column(1))
            h = h_raw.astype(np.uint64)
            segs = offsets[:-1]
            mins = np.empty((num_hashes, n), dtype=np.uint64)
            for i in range(num_hashes):
                mins[i] = np.minimum.reduceat((h * a_vec[i] + b_vec[i]) % p, segs)
            bnd = np.empty((bands, n), dtype=np.uint64)
            for b in range(bands):
                acc = np.zeros(n, dtype=np.uint64)
                for r in range(rows_per_band):
                    acc = acc * C + mins[b * rows_per_band + r]
                bnd[b] = acc
            arr = pa.ListArray.from_arrays(
                pa.array(np.arange(n + 1, dtype=np.int32) * bands),
                pa.array(bnd.T.copy().ravel().view(np.int64)),
            )
            yield pa.record_batch(
                [batch.column(0), arr], names=[id_col, "bands"]
            )

    id_t = df.schema[id_col].dataType.simpleString()
    return df.select(F.col(id_col), hashed.alias("_h")).mapInArrow(
        band_batches, f"{id_col} {id_t}, bands array<long>"
    )


def _bucket_pairs(
    keyed: DataFrame,
    key_cols: list[str],
    id_col: str,
    extra: "list[str] | None" = None,
    distinct: bool = True,
) -> DataFrame:
    """(id_a < id_b) pairs of ids sharing a bucket key — ONE groupBy +
    pair explode instead of a bucket self-join: the shuffle runs once
    (collect_list per bucket), so the join, its second exchange, and
    the cache/count materialization the self-join needed all disappear
    (r14). Buckets of size 1 are dropped before any pair work.
    ``extra``: per-id payload columns to carry into the pairs (emitted
    as <name>_a / <name>_b). ``distinct=False`` skips the cross-bucket
    dedup exchange — for callers that dedup with a cheaper filter (see
    simhash's first-agreeing-block test); the bucket key columns stay
    in the output then."""
    extra = extra or []
    payload = F.struct(F.col(id_col).alias("_i"), *[F.col(c) for c in extra])
    buckets = (
        keyed.groupBy(*key_cols)
        .agg(F.collect_list(payload).alias("_m"))
        .where(F.size("_m") > 1)
    )
    # two chained explodes + an id<id filter — streamed through codegen
    # Generate nodes. (A nested transform() building the i<j combination
    # array was profiled 6× slower end-to-end: higher-order lambdas
    # evaluate interpreted, and the per-bucket O(b²) struct array was
    # built in one allocation instead of streamed.)
    out = (
        buckets.select(*key_cols, F.explode("_m").alias("_pa"), F.col("_m"))
        .select(*key_cols, "_pa", F.explode("_m").alias("_pb"))
        .where(F.col("_pa._i") < F.col("_pb._i"))
        .select(
            *key_cols,
            F.col("_pa._i").alias("id_a"),
            F.col("_pb._i").alias("id_b"),
            *[F.col(f"_pa.{c}").alias(f"{c}_a") for c in extra],
            *[F.col(f"_pb.{c}").alias(f"{c}_b") for c in extra],
        )
    )
    if not distinct:
        return out
    return out.drop(*key_cols).distinct()


def minhash_lsh_candidates(
    sigs: DataFrame,
    id_col: str = "doc_id",
    bands: int = 16,
    rows_per_band: int = 4,
) -> DataFrame:
    """Candidate near-dup pairs: band the signature, bucket the bands.

    posexplode(bands) → groupBy (band_idx, band_hash) — a single shuffle
    whose key cardinality ~ n_docs × bands; pairs are exploded from each
    bucket's sorted id list (skew-safe: genuine mega-buckets mean
    genuine dup clusters, and their pair count is identical to what the
    old within-bucket self-join produced). Returns distinct
    (id_a < id_b) pairs.
    """
    banded = sigs.select(
        F.col(id_col),
        F.posexplode(
            F.array(
                *[
                    F.xxhash64(
                        F.slice(F.col("signature"), b * rows_per_band + 1, rows_per_band)
                        .cast("array<string>")
                        .cast("string")
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band_idx", "band_hash"),
    )
    return _bucket_pairs(banded, ["band_idx", "band_hash"], id_col)


def jaccard_verify(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    threshold: float = 0.7,
) -> DataFrame:
    """Exact shingle-Jaccard on candidate pairs only (the expensive step
    runs on |candidates|, not n²). Returns pairs ≥ threshold.

    Preconditions (same contract as ``simhash_near_pairs``): ``id_col``
    values are unique in ``df`` and ``pairs`` rows are distinct. The
    groupBy reassembly collapses duplicate candidate pairs to ONE
    output row, and a doc id appearing twice in ``df`` contributes one
    arbitrary shingle row (``F.first``) — the pre-r14 two-join form
    emitted a row per match instead. Callers with non-canonical input
    should ``pairs.distinct()`` / dedup ids upstream.

    The pair is melted into its two member ids and joined against the
    corpus ONCE (r14): the old two-join form computed the shingle regex
    pipeline over the full corpus twice (once per join branch — plan
    branches cannot share a subtree). The candidate side is tiny, so
    AQE broadcasts it and the corpus side is never shuffled — and the
    shingle expression is computed AFTER the join, so the regex/array
    pipeline runs only on the candidate-member rows that survive the
    probe (|2·pairs| rows) instead of every corpus document; the
    groupBy then reassembles each pair's two shingle arrays (two rows
    per pair key)."""
    sh = df.select(
        F.col(id_col).alias("_jid"), F.col(text_col).alias("_jtx")
    )
    melted = pairs.select(
        F.struct("id_a", "id_b").alias("_p")
    ).select(
        "_p", F.explode(F.array("_p.id_a", "_p.id_b")).alias("_jid")
    )
    j = (
        melted.join(sh, "_jid")
        .select("_p", "_jid", shingles(F.col("_jtx"), shingle_n).alias("_sh"))
        .groupBy("_p")
        .agg(
            F.first(
                F.when(F.col("_jid") == F.col("_p.id_a"), F.col("_sh")),
                ignorenulls=True,
            ).alias("_sa"),
            F.first(
                F.when(F.col("_jid") == F.col("_p.id_b"), F.col("_sh")),
                ignorenulls=True,
            ).alias("_sb"),
        )
    )
    inter = F.size(F.array_intersect("_sa", "_sb")).cast("double")
    union = F.size(F.array_union("_sa", "_sb")).cast("double")
    return (
        j.withColumn("jaccard", F.round(inter / F.greatest(union, F.lit(1.0)), 4))
        .where(F.col("jaccard") >= threshold)
        .select(
            F.col("_p.id_a").alias("id_a"),
            F.col("_p.id_b").alias("id_b"),
            "jaccard",
        )
    )


def jaccard_pairs_bruteforce(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact all-pairs shingle Jaccard ≥ threshold — the n² verification
    baseline the LSH path approximates. O(n²) by construction: use for
    oracle checks and small corpora only; the scale path is
    ``minhash_dedup`` (same shingles, same verify arithmetic)."""
    sh = df.select(
        F.col(id_col), shingles(text_col, shingle_n).alias("_sh")
    )
    sh = spread(sh)
    a = sh.select(
        F.col(id_col).alias("id_a"), F.col("_sh").alias("_sa")
    )
    b = sh.select(
        F.col(id_col).alias("id_b"), F.col("_sh").alias("_sb")
    )
    j = a.join(b, F.col("id_a") < F.col("id_b"))
    inter = F.size(F.array_intersect("_sa", "_sb")).cast("double")
    union = F.size(F.array_union("_sa", "_sb")).cast("double")
    return (
        j.withColumn(
            "jaccard", F.round(inter / F.greatest(union, F.lit(1.0)), 4)
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.7,
) -> DataFrame:
    """Full near-dup pipeline: signatures → LSH candidates → Jaccard
    verify. Returns confirmed near-dup pairs (id_a, id_b, jaccard)."""
    # spread(): a single large parquet file otherwise serializes the
    # whole signature computation on one core — and on an
    # already-parallel production scan it is a no-op, so no shuffle of
    # the full text column is added at scale (§2). The bucket-pair
    # candidate kernel consumes the band keys exactly once, so the
    # cache + eager count() the old self-join needed are gone (r14) —
    # every bench reread recomputes from parquet. Band keys come fused
    # out of the signature kernel (``_minhash_bands_arrow``).
    wide = spread(df, bytes_per_task=_ARROW_BYTES_PER_TASK)
    hashed = _shingle_hashes(text_col, 3)
    sigs_b = _minhash_bands_arrow(
        wide, hashed, id_col, num_hashes, bands, seed=42
    )
    banded = sigs_b.select(
        F.col(id_col), F.posexplode("bands").alias("band_idx", "band_hash")
    )
    # The candidate distinct stays: near-dup pairs agree in nearly every
    # band (measured dup factor ~16 at sf0.1), so skipping the dedup
    # exchange would multiply the verify join ~16× — the tiny distinct
    # is the cheaper side of that trade. The verify side gets the
    # ORIGINAL df, not the spread: shingles are computed after the
    # broadcast probe on |2·pairs| rows, so the round-robin exchange of
    # the full text column bought nothing on that branch.
    cands = _bucket_pairs(banded, ["band_idx", "band_hash"], id_col)
    return jaccard_verify(df, cands, text_col, id_col, threshold=threshold)


def simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 64,
    method: str = "arrow",
) -> DataFrame:
    """64-bit SimHash: per-bit weighted sums of token hashes.

    tokens → 64-bit hash → for each bit b, sum(sign(bit_b)) → sign → bit.

    Token hashing ALWAYS runs JVM-side (``_token_hashes``: codegen'd
    xxhash64) — both methods share one hash family, so simhashes from
    either method are bit-identical and interchangeable.

    ``method="arrow"`` (default): the sign-matrix reduction runs in
    numpy — the batch's token hashes become one |tokens|×64 sign matrix
    with ``add.reduceat`` per doc (C-speed; shares the python worker
    pool with the MinHash path).

    ``method="expr"``: pure-expression fold — ONE F.aggregate walks the
    token-hash array updating all 64 bit-sums per element via zip_with.
    Higher-order functions evaluate interpreted (not codegen'd); keep
    for environments where Python UDFs are barred.

    Either way the input goes through ``spread()`` first so a
    single-file scan doesn't serialize the computation on one core —
    and an already-parallel production scan passes through untouched.
    """
    df = spread(df, bytes_per_task=_ARROW_BYTES_PER_TASK)
    hashes = _token_hashes(text_col)
    if method == "arrow":
        return _simhash_arrow(df, hashes, id_col, bits)
    def bit_mask(b: int) -> int:
        # bit 63 of a signed long is the sign bit: 1<<63 must be the
        # negative two's-complement value, not a Python bignum
        return (1 << b) if b < 63 else -(1 << 63)

    masks = F.array(*[F.lit(bit_mask(b)).cast("long") for b in range(bits)])
    zeros = F.array_repeat(F.lit(0).cast("long"), bits)
    bit_sums = F.aggregate(
        hashes,
        zeros,
        lambda acc, h: F.zip_with(
            acc,
            masks,
            lambda a, m: a + F.when(h.bitwiseAND(m) != 0, 1).otherwise(-1),
        ),
    )
    sim = F.aggregate(
        F.zip_with(
            bit_sums,
            masks,
            lambda s, m: F.when(s > 0, m).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    return df.select(F.col(id_col), sim.alias("simhash"))


def _simhash_arrow(
    df: DataFrame, hashes: Column, id_col: str, bits: int
) -> DataFrame:
    """Arrow sign-matrix reduction over JVM-computed token hashes
    (array<long>, raw xxhash64 bit patterns). No hashing and no per-row
    Python — mapInArrow reads the list column's raw (values, offsets)
    buffers (see ``_list_buffers``), then one numpy bit-unpack +
    segmented sum per record batch."""
    import numpy as np

    def sim_batches(batches):
        import pyarrow as pa

        for batch in batches:
            if not batch.num_rows:
                continue
            h_raw, offsets = _list_buffers(batch.column(1))
            # .view reinterprets the signed xxhash64 two's-complement
            # bits; split("", " ") yields [""] → every doc has ≥1 token
            # hash, so every reduceat segment is non-empty
            h = h_raw.view(np.uint64)
            segs = offsets[:-1]
            n_toks = np.diff(offsets)
            packed = np.zeros(batch.num_rows, dtype=np.uint64)
            # one 1-D pass per bit: sign(2·ones − n) > 0 ⇔ the bit's
            # set-count exceeds half the tokens. The (|tokens| × 64)
            # sign matrix this replaces was the kernel's peak allocation
            for b in range(bits):
                ones = np.add.reduceat(
                    ((h >> np.uint64(b)) & np.uint64(1)).astype(np.int64),
                    segs,
                )
                packed |= (2 * ones > n_toks).astype(np.uint64) << np.uint64(b)
            yield pa.record_batch(
                [batch.column(0), pa.array(packed.view(np.int64))],
                names=[id_col, "simhash"],
            )

    id_t = df.schema[id_col].dataType.simpleString()
    return df.select(F.col(id_col), hashes.alias("_h")).mapInArrow(
        sim_batches, f"{id_col} {id_t}, simhash long"
    )


def simhash_near_pairs(
    sims: DataFrame, id_col: str = "doc_id", max_hamming: int = 3
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance ≤ k, using the
    block-permutation trick: split 64 bits into (k+1) blocks — any pair
    within distance k agrees on ≥1 whole block → bucket per block.
    Candidates come from one groupBy + combination explode
    (``_bucket_pairs``) carrying each id's simhash as payload, so the
    simhash lineage is consumed exactly once — no self-join, no cache
    (r14). Precondition: ``id_col`` values are unique (the pipeline's
    contract upstream) — the first-agreeing-block filter dedups pairs
    across blocks exactly, but a duplicated id would re-emit its pairs
    once per copy (the pre-r14 ``.distinct()`` collapsed those too)."""
    nblocks = max_hamming + 1
    width = 64 // nblocks
    blocks = F.array(
        *[
            F.struct(
                F.lit(i).alias("block_idx"),
                F.shiftrightunsigned(F.col("simhash"), i * width)
                .bitwiseAND(F.lit((1 << width) - 1))
                .alias("block_val"),
            )
            for i in range(nblocks)
        ]
    )
    exploded = sims.select(id_col, "simhash", F.explode(blocks).alias("b")).select(
        id_col, "simhash", "b.block_idx", "b.block_val"
    )
    cands = _bucket_pairs(
        exploded, ["block_idx", "block_val"], id_col, extra=["simhash"],
        distinct=False,
    )
    xor = F.col("simhash_a").bitwiseXOR(F.col("simhash_b"))
    # cross-block dedup WITHOUT a distinct exchange: every block a pair
    # agrees on is computable from the XOR of its two simhashes, so the
    # pair is kept only in its FIRST agreeing block — one codegen'd
    # filter replaces the distinct's shuffle (r14)
    mask = (1 << width) - 1
    first_agree = F.lit(None).cast("int")
    for i in range(nblocks - 1, -1, -1):
        agree = (
            F.shiftrightunsigned(xor, i * width).bitwiseAND(F.lit(mask))
            == 0
        )
        first_agree = F.when(agree, F.lit(i)).otherwise(first_agree)
    hamming = F.bit_count(xor)
    return (
        cands.where(F.col("block_idx") == first_agree)
        .withColumn("hamming", hamming)
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )
