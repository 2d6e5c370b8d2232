"""Text analysis for training-data pipelines: token counting, quality
scoring, language ID, document fingerprinting.

All pure Catalyst expressions (regex/hash built-ins, codegen'd) — no
Python in the hot path, so these run at full scan speed over 100 TB of
documents and the aggregates push down partials map-side.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: BPE-ish token pattern: words, numbers, or single non-space symbols
TOKEN_RE = r"[A-Za-z]+|[0-9]+|[^\sA-Za-z0-9]"

#: tiny per-language stopword sets for the n-gram/stopword heuristic
_LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is", "in", "that", "it"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "zu"],
    "fr": ["le", "la", "les", "et", "est", "une", "que", "dans"],
    "es": ["el", "la", "los", "es", "una", "que", "de", "por"],
}


def spread(
    df: DataFrame,
    target: "int | None" = None,
    bytes_per_task: "int | None" = None,
) -> DataFrame:
    """Round-robin repartition ONLY when the scan parallelism is below
    the cluster's — a single-file single-row-group parquet input (the
    local testdata shape) otherwise serializes a pure-projection regex
    pipeline on one core. Scale-adaptive (guide §2): a production
    multi-split dataset passes through untouched, so no shuffle is
    added where the scan is already parallel.

    ``bytes_per_task``: derive the partition count from the input's
    estimated size instead of using the cluster parallelism outright
    (guide §2 — partitioning derived from input size, not a constant).
    Used by the Python/Arrow-crossing pipelines, where each task pays a
    fixed worker round-trip + Arrow (de)serialization cost: slicing a
    small input cluster-wide makes that overhead dominate (measured at
    sf0.1: simhash/minhash are ~15% faster on size-derived ~5
    partitions than on 32). That cost, from a trivial mapInArrow over
    2,200 rows at 4 vs 64 tasks on a 4-core ``local[4]``: ~50-60 ms of
    wall and ~180-220 ms of worker CPU per extra task while every task
    re-read ``pyspark.zip``'s directory; ~14 ms and ~15-18 ms under the
    worker daemon of ``session.get_spark`` (``tdengine_spark.pydaemon``).
    ``bytes_per_task`` values were tuned at the higher cost. On a large
    input the size estimate exceeds cluster × bytes_per_task, so the
    target caps at the cluster parallelism — production behavior is
    unchanged. Pure JVM regex pipelines (the text gates) keep the plain
    cluster-parallel target: their per-task cost is a codegen'd task
    launch (~1 ms), so finer slicing keeps winning there."""
    sc = df.sparkSession.sparkContext
    cluster = sc.defaultParallelism
    if target is None:
        target = cluster
        if bytes_per_task:
            # Catalyst's relation-size estimate: driver-side, no job
            size = int(
                df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
            )
            target = max(2, min(cluster, -(-size // bytes_per_task)))
    if df.rdd.getNumPartitions() >= max(2, target // 2):
        return df
    return df.repartition(target)


def token_count(text: "Column | str", pattern: str = TOKEN_RE) -> Column:
    """Number of tokens under a BPE-ish regex tokenizer."""
    c = F.col(text) if isinstance(text, str) else text
    return F.size(F.regexp_extract_all(c, F.lit(pattern), F.lit(0)))


def whitespace_token_count(text: "Column | str") -> Column:
    c = F.col(text) if isinstance(text, str) else text
    trimmed = F.trim(c)
    return F.when(F.length(trimmed) == 0, F.lit(0)).otherwise(
        F.size(F.split(trimmed, r"\s+"))
    )


def _marker_count(low: Column, words: list[str], cls: str) -> Column:
    """Count of tokens (maximal ``[cls]+`` runs) equal to one of
    ``words`` — ONE alternation regex with lookaround token boundaries
    instead of materializing the token array and filtering it per word
    (the higher-order ``F.filter`` lambda evaluates interpreted, no
    codegen; profiled ~35% slower end-to-end on the language_id gate).
    Lookbehind/-ahead (zero-width) keep adjacent tokens matchable —
    a consumed separator would make 'the and' miss 'and'."""
    import re

    # escape defensively: every current marker is letters-only, but a
    # future marker with a regex metachar must not corrupt the pattern
    pat = (
        f"(?<![{cls}])(?:" + "|".join(re.escape(w) for w in words) + f")(?![{cls}])"
    )
    return F.size(F.regexp_extract_all(low, F.lit(pat), F.lit(0)))


def _single_char_count(c: Column, cls: str) -> Column:
    """Count of characters matching a single-char class — counted via
    length minus the class-stripped length: one linear regexp_replace
    pass, no per-match array materialization."""
    return F.length(c) - F.length(
        F.regexp_replace(c, f"[{cls}]", "")
    )


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document quality signals: length, token stats, punctuation /
    digit / uppercase ratios, stopword ratio, repetition (distinct-token
    ratio). The standard pre-training quality-filter feature set.

    Char-class ratios count via length-difference (one replace pass per
    class); the stopword ratio counts via one alternation regex; the
    summed token length equals the [a-z] char count (every lowercase
    letter belongs to exactly one ``[a-z]+`` run). Only the
    distinct-token ratio still materializes the token array."""
    c = F.col(text_col)
    low = F.lower(c)
    toks = F.regexp_extract_all(low, F.lit(r"[a-z]+"), F.lit(0))
    n_chars = F.length(c)
    safe_chars = F.greatest(n_chars, F.lit(1)).cast("double")
    n_tokens = F.size(toks)
    safe_toks = F.greatest(n_tokens, F.lit(1)).cast("double")
    return df.withColumns(
        {
            "n_chars": n_chars,
            "n_tokens": n_tokens,
            "n_distinct_tokens": F.size(F.array_distinct(toks)),
            "distinct_ratio": F.round(
                F.size(F.array_distinct(toks)) / safe_toks, 4
            ),
            "avg_token_len": F.round(
                _single_char_count(low, "a-z").cast("double") / safe_toks,
                4,
            ),
            "punct_ratio": F.round(
                _single_char_count(c, ".,;:!?") / safe_chars,
                4,
            ),
            "digit_ratio": F.round(
                _single_char_count(c, "0-9") / safe_chars,
                4,
            ),
            "upper_ratio": F.round(
                _single_char_count(c, "A-Z") / safe_chars,
                4,
            ),
            "stopword_ratio": F.round(
                _marker_count(low, _LANG_MARKERS["en"], "a-z") / safe_toks,
                4,
            ),
        }
    )


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Scalar quality score in [0,1] from the features — a simple
    monotone blend (each signal clamped to its 'healthy' band)."""
    feat = quality_features(df, text_col)
    band = lambda c, lo, hi: F.when(
        (c >= lo) & (c <= hi), 1.0
    ).otherwise(0.0)
    score = (
        band(F.col("n_tokens"), 10, 100000)
        + band(F.col("avg_token_len"), 2.0, 12.0)
        + band(F.col("distinct_ratio"), 0.1, 1.0)
        + band(F.col("punct_ratio"), 0.0, 0.2)
        + band(F.col("digit_ratio"), 0.0, 0.3)
    ) / 5.0
    return feat.withColumn("quality_score", F.round(score, 4))


def language_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Stopword-marker language ID over {en,de,fr,es} + 'und' fallback.
    greatest-of-N scores, all in one projection.

    Marker hits count via one alternation regex per language
    (``_marker_count``) — no token-array materialization and no
    interpreted higher-order filter; only the token total still runs
    extract_all (r14: ~25% faster end-to-end on the language_id gate,
    identical output verified row-for-row)."""
    cls = "a-zà-ÿäöüß"
    low = F.lower(F.col(text_col))
    safe = F.greatest(
        F.size(F.regexp_extract_all(low, F.lit(f"[{cls}]+"), F.lit(0))),
        F.lit(1),
    ).cast("double")
    scores = {
        lang: _marker_count(low, ws, cls) / safe
        for lang, ws in _LANG_MARKERS.items()
    }
    pairs = F.array(
        *[F.struct(s.alias("score"), F.lit(lang).alias("lang")) for lang, s in scores.items()]
    )
    best = F.array_max(pairs)
    return df.withColumn(
        "lang_pred",
        F.when(best["score"] > 0.02, best["lang"]).otherwise(F.lit("und")),
    ).withColumn("lang_score", F.round(best["score"], 4))


def fingerprint(text: "Column | str", normalize: bool = True) -> Column:
    """64-bit content fingerprint (xxhash64 of normalized text) — the
    exact-dup key. Normalization: lowercase, collapse whitespace."""
    c = F.col(text) if isinstance(text, str) else text
    if normalize:
        c = F.regexp_replace(F.lower(F.trim(c)), r"\s+", " ")
    return F.xxhash64(c)


def shingles(text: "Column | str", n: int = 3) -> Column:
    """Word n-gram shingle array (distinct), the MinHash input unit.

    Built by zip_with over n shifted views of the token array, so the
    tokenizing split() expression is bound only n times per ROW. The
    earlier transform(sequence, i -> element_at(toks, i+j)) formulation
    re-inlined the whole split() under every element_at — higher-order
    lambdas get no common-subexpression elimination, so each doc paid
    ~3·|grams| regex splits (profiled ~10x slower end-to-end)."""
    c = F.col(text) if isinstance(text, str) else text
    # ONE regex pass: split directly on \s+ (after trim there is no
    # leading/trailing separator, so the token array is identical to the
    # old collapse-then-split form — "" still yields [""]) instead of a
    # regexp_replace pass followed by a split pass over the same bytes
    toks = F.split(F.lower(F.trim(c)), r"\s+")
    big = 1 << 30
    grams = toks
    for j in range(1, n):
        # zip_with pads the shorter side with NULL; concat(null) → null
        # marks the tail positions past |toks|-n+1, filtered below
        grams = F.zip_with(
            grams,
            F.slice(toks, j + 1, big),
            lambda g, w: F.concat(g, F.lit(" "), w),
        )
    grams = F.filter(grams, lambda g: g.isNotNull())
    return F.when(F.size(toks) >= n, F.array_distinct(grams)).otherwise(
        F.array(F.concat_ws(" ", toks))
    )
