"""TimeSlice / interp — resample a series to exact instants.

Reference: ``SELECT interp(col) ... RANGE(t1,t2[,tol]) EVERY(d) FILL(mode
[, defaults…])`` (executor/src/timesliceoperator.c; grammar
sql.y:3018-3026), with pseudo-columns ``_irowts`` (the instant),
``_isfilled`` and ``_irowts_origin`` (the source sample's ts).

Spark-first design — the BUCKETED kernel (r14):
  1. every sample maps to ONE instant bucket
     ``k = ceil((ts − t1)/every)`` with exact integer arithmetic
     (pmod-based floordiv — no double rounding at bucket edges);
  2. ONE ``groupBy(keys, k)`` keeps, per bucket, the latest usable
     sample (``max_by`` — instant k's prev-candidate) and the earliest
     (``min_by`` — instant k−1's next-candidate: every bucket-k member
     is strictly later than t_{k−1}). The shuffle therefore carries at
     most one row per non-empty bucket, not one row per sample, and
     partial aggregation collapses everything map-side (guide §2.3);
  3. two O(n) growing-frame passes run over the bucket rows alone: a
     forward pass carries the prev tracker, and modes that read the
     next tracker add one reverse-ordered pass over the strictly later
     buckets (a shrinking current→unboundedFollowing frame would
     re-aggregate per output row — O(n²) per key). PREV needs only the
     forward pass; NULL/NONE/VALUE need only the exact-hit detection it
     provides;
  4. each bucket row then explodes into the instants it owns — from
     its own bucket up to the one before the next non-empty bucket —
     and a group's first row also owns the instants before it, where
     no sample is at or before the instant. The instants are made
     after the window shuffle and sort, never inside them, and a group
     exists exactly when it has a sample: no list of groups is needed,
     so every mode reads the fact table once.

The pre-r14 kernel unioned the RAW samples with an instant spine (every
group × every instant) and ran both window passes over |samples| +
|instants| rows — two full sorts of the fact table per query. The
bucketed kernel shuffles and sorts only |non-empty buckets| rows; at
100 TB the difference is the whole fact table. Calendar EVERY (1n/1y)
has no fixed bucket width and non-literal RANGE bounds have no
plan-time origin — both keep the union kernel
(``_interp_union_tracks``), the only one that builds a spine.

Edge semantics follow the reference's goldens
(test/cases/09-DataQuerying/12-Interp/ans): PREV drops instants before
the first sample, NEXT after the last, LINEAR outside both; NEAR / NULL
/ VALUE keep every instant. ``RANGE(t1,t2,tol)`` bounds the fill
distance — a candidate beyond ``tol`` yields the per-column default
(``FILL(PREV, dflt…)``) or NULL.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from tdengine_spark.durations import Duration, parse_duration

IROWTS = "_irowts"
ISFILLED = "_isfilled"
IROWTS_ORIGIN = "_irowts_origin"

INTERP_MODES = ("prev", "next", "linear", "near", "null", "value", "none")


def _as_list(x, n, fill=None):
    if x is None:
        return [fill] * n
    if isinstance(x, (list, tuple)):
        out = list(x) + [fill] * (n - len(x))
        return out[:n]
    return [x] * n


def _epoch_us(v) -> "int | None":
    """Plan-time epoch-us of a literal timestamp bound (session tz is
    UTC — naive values are read as UTC, matching F.lit(...).cast).

    Returns None for anything whose plan-time parse could disagree with
    Spark's ``F.lit(v).cast("timestamp")`` — numeric bounds in
    particular (Spark casts int/float as epoch-SECONDS, pd.Timestamp
    reads them as nanoseconds), so those route to the union kernel,
    which derives everything from F.lit and needs no plan-time value."""
    import datetime
    import re

    import pandas as pd

    if not isinstance(v, (str, datetime.date, datetime.datetime, pd.Timestamp)):
        return None
    if isinstance(v, str) and not re.fullmatch(
        # strict ISO only: pandas and Spark agree on these by
        # construction; looser forms both happen to parse but can
        # disagree silently ('24-01-05' → pandas year 2024, Spark year
        # 0024), which would move the instants off Spark's reading of
        # the bound — anything else routes to the union kernel, which
        # derives every instant from F.lit and needs no plan-time value
        r"\d{4}-\d{2}-\d{2}([ T]\d{2}:\d{2}(:\d{2}(\.\d{1,6})?)?)?",
        v.strip(),
    ):
        return None
    try:
        ts = pd.Timestamp(v)
    except (ValueError, TypeError):
        return None
    if ts.tzinfo is not None:
        ts = ts.tz_convert("UTC").tz_localize(None)
    return ts.value // 1000


def interp(
    df: DataFrame,
    ts_col: str,
    val_col,
    range_start,
    range_end,
    every: "str | int | Duration",
    mode: str = "linear",
    partition_by: "list[str] | None" = None,
    fill_value=None,
    out_col: "str | None" = None,
    tolerance: "str | int | Duration | None" = None,
    defaults=None,
    with_origin: bool = False,
    ignore_null=True,
    ordered: bool = True,
) -> DataFrame:
    """Resample value column(s) to instants range_start, +every, ... ≤
    range_end.

    ``val_col``: a column name, or a list of ``(col, out_name)`` pairs —
    one interp() expression each, sharing the single window pass.
    ``fill_value``: VALUE-mode constant(s), scalar or per-column list.
    ``defaults``: out-of-tolerance fallback(s) for PREV/NEXT/NEAR.
    ``tolerance``: RANGE's third argument — max distance to a usable
    sample. ``with_origin``: emit ``_irowts_origin``. ``ignore_null``
    (scalar or per-column): True skips NULL-valued samples (the
    reference's ``interp(col, 1)``); False treats a NULL sample as a
    real row — exact hits return NULL unfilled, prev/next can carry
    NULL.

    Returns (partition..., _irowts, <out cols…>, _isfilled
    [, _irowts_origin]) ordered by (partition, _irowts). A group is
    resampled when ``df`` has a row for it: the groups come from the
    data itself, so the result follows from ``df`` alone.
    """
    mode = mode.lower()
    if mode not in INTERP_MODES:
        raise ValueError(f"unknown interp fill mode {mode!r}")
    keys = list(partition_by or [])
    if isinstance(val_col, str):
        vals = [(val_col, out_col or val_col)]
    else:
        vals = [(c, o or c) for c, o in val_col]
    nv = len(vals)
    fvals = _as_list(fill_value, nv)
    dflts = _as_list(defaults, nv)
    every_d = parse_duration(every)
    tol_us = parse_duration(tolerance).microseconds if tolerance is not None else None

    # RANGE(t1, t2) with t1 > t2 is an empty instant set in the
    # reference (not an error); the union kernel's sequence()
    # constant-folds and rejects a mismatched step sign at plan time,
    # so clamp the bounds AND blank the source (no sample → no group →
    # no instants)
    import pandas as pd

    try:
        if pd.Timestamp(range_start) > pd.Timestamp(range_end):
            range_end = range_start
            df = df.where(F.lit(False))
    except (ValueError, TypeError):
        pass  # non-literal bounds: let sequence() decide

    ignores = _as_list(ignore_null, nv, fill=True)
    # which side-trackers this mode actually reads — the other side's
    # window pass (and its sort) is skipped entirely
    need_next = mode in ("next", "near", "linear")

    lo_us = _epoch_us(range_start)
    hi_us = _epoch_us(range_end)
    if every_d.is_calendar or lo_us is None or hi_us is None:
        staged = _interp_union_tracks(
            df, ts_col, vals, keys, ignores, need_next,
            range_start, range_end, every_d,
        )
    else:
        staged = _interp_bucket_tracks(
            df, ts_col, vals, keys, ignores, need_next,
            lo_us, hi_us, every_d.microseconds,
        )
    t_us = F.unix_micros(F.col("_t"))

    col_types = dict(df.dtypes)
    out_cols, origin = [], F.lit(None).cast("timestamp")
    for i, (cname, oname) in enumerate(vals):
        pt, pv = F.col(f"_p{i}.t"), F.col(f"_p{i}.v")
        nt, nvv = F.col(f"_n{i}.t"), F.col(f"_n{i}.v")
        exact = pt == t_us
        # the reference C-casts fill constants through the COLUMN type
        # (3 on a bool column → true → 1), then we read back as double
        ctype = col_types.get(cname, "double")
        dflt = F.lit(dflts[i]).cast(ctype).cast("double")
        prev_ok = pt.isNotNull() & (
            F.lit(tol_us is None) | ((t_us - pt) <= F.lit(tol_us or 0))
        )
        next_ok = nt.isNotNull() & (
            F.lit(tol_us is None) | ((nt - t_us) <= F.lit(tol_us or 0))
        )
        if mode == "prev":
            val = F.when(exact, pv).when(prev_ok, pv).otherwise(dflt)
            org = F.when(exact | prev_ok, F.timestamp_micros(pt))
        elif mode == "next":
            val = F.when(exact, pv).when(next_ok, nvv).otherwise(dflt)
            org = F.when(exact, F.timestamp_micros(pt)).when(
                next_ok, F.timestamp_micros(nt)
            )
        elif mode == "near":
            use_prev = prev_ok & (
                ~next_ok | ((t_us - pt) <= (nt - t_us))
            )
            val = (
                F.when(exact, pv)
                .when(use_prev, pv)
                .when(next_ok, nvv)
                .otherwise(dflt)
            )
            org = (
                F.when(exact | use_prev, F.timestamp_micros(pt))
                .when(next_ok, F.timestamp_micros(nt))
            )
        elif mode == "linear":
            frac = (t_us - pt).cast("double") / (nt - pt).cast("double")
            # interpolated values C-cast back through the column type
            # (reference: linear over an int column truncates)
            interp_v = (pv + (nvv - pv) * frac).cast(ctype).cast("double")
            val = (
                F.when(exact, pv)
                .when(pt.isNull() | nt.isNull(), F.lit(None))
                .when(
                    ~prev_ok | ~next_ok, dflt
                )
                .otherwise(interp_v)
            )
            org = F.when(exact, F.timestamp_micros(pt))
        elif mode in ("null", "none"):
            val = F.when(exact, pv)
            org = F.when(exact, F.timestamp_micros(pt))
        else:  # value
            val = F.when(exact, pv).otherwise(
                F.lit(fvals[i]).cast(ctype).cast("double")
            )
            org = F.when(exact, F.timestamp_micros(pt))
        out_cols.append(val.alias(oname))
        if i == 0:
            origin = org

    pt0, nt0 = F.col("_p0.t"), F.col("_n0.t")
    exact0 = pt0 == t_us
    # reference edge semantics: no row at all where the mode's source
    # side does not exist (goldens: PREV starts at the first sample,
    # NEXT ends at the last, LINEAR needs both; NEAR/NULL/VALUE emit
    # every instant)
    if mode == "prev":
        staged = staged.where(pt0.isNotNull())
    elif mode == "next":
        staged = staged.where((exact0 & pt0.isNotNull()) | nt0.isNotNull())
    elif mode == "linear":
        staged = staged.where(
            (exact0 & pt0.isNotNull()) | (pt0.isNotNull() & nt0.isNotNull())
        )
    if mode == "none":
        # reference FILL_MODE_NONE (parTranslater.c createDefaultFillNode):
        # emit ONLY instants that coincide with a sample — no filling
        staged = staged.where(exact0)

    extras = [(~exact0 | exact0.isNull()).alias(ISFILLED)]
    if with_origin:
        extras.append(origin.alias(IROWTS_ORIGIN))
    out = staged.select(
        *keys,
        F.col("_t").alias(IROWTS),
        *out_cols,
        *extras,
    )
    # ordered=False: skip the range-exchange global sort and its
    # boundary-sampling pass (registry gates; value hash is
    # order-insensitive — dialect keeps the ordered default)
    return out.orderBy(*keys, IROWTS) if ordered else out


def _sample_pairs(vals, ignores) -> "list[Column]":
    """Per value column: the (ts_us, value) sample pair as a struct,
    gated per the column's ignore_null flag — the pair rides ONE struct
    so the two stay matched even when the value is NULL
    (ignore_null=False keeps NULL-valued samples as real rows)."""
    pairs = []
    for i, (cname, _) in enumerate(vals):
        pair = F.struct(
            F.col("_tus").alias("t"),
            F.col(cname).cast("double").alias("v"),
        )
        if ignores[i]:
            pair = F.when(F.col(cname).isNotNull(), pair)
        pairs.append(pair.alias(f"_w{i}"))
    return pairs


def _null_like(df: DataFrame, src: str, name: str) -> Column:
    """A NULL of ``df[src]``'s type, named ``name``."""
    return F.lit(None).cast(df.schema[src].dataType.simpleString()).alias(name)


def _interp_bucket_tracks(
    df: DataFrame,
    ts_col: str,
    vals,
    keys: list[str],
    ignores,
    need_next: bool,
    lo_us: int,
    hi_us: int,
    w_us: int,
) -> DataFrame:
    """Bucketed prev/next trackers (fixed-width EVERY, literal RANGE).

    Bucket ``k = ceil((ts − t1)/w)`` holds samples in (t_{k−1}, t_k]:
    the groupBy keeps each bucket's max-ts pair (prev-candidate for
    instant k) and min-ts pair (next-candidate for instant k−1).
    Buckets past the last instant clamp to K+1 — the min over them is
    still the earliest sample after t_K; buckets before the first
    instant clamp to 0 (their members are all ≤ t_0, exactly instant
    0's prev-candidates).

    The window passes run over the bucket rows only. A bucket row owns
    instants ``[k, min(next bucket − 1, K)]``: no sample falls between,
    so they share its prev (the forward tracker) and its next (the
    strictly later buckets). A group's first row also owns ``[0, k −
    1]``: nothing is at or before those, and their next is the first
    usable sample from bucket k on. Returns one row per instant with
    _t and _p{i}/_n{i}.
    """
    nv = len(vals)
    kmax = (hi_us - lo_us) // w_us  # index of the last instant
    delta = F.col("_tus") - F.lit(lo_us)
    # exact integer ceil-div: floor((delta + w - 1)/w) via pmod (a
    # double division could round across a bucket edge)
    shifted = delta + F.lit(w_us - 1)
    k_raw = (shifted - F.pmod(shifted, F.lit(w_us))) / F.lit(w_us)
    k = F.least(
        F.greatest(k_raw.cast("long"), F.lit(0)), F.lit(kmax + 1)
    )

    samples = df.select(
        *keys,
        F.unix_micros(F.col(ts_col)).alias("_tus"),
        *[F.col(c) for c, _ in vals],
    ).where(F.col("_tus").isNotNull())
    pairs = _sample_pairs(vals, ignores)
    bucketed = (
        samples.select(*keys, k.alias("_k"), *pairs)
        .groupBy(*keys, "_k")
        .agg(
            *[
                F.max_by(F.col(f"_w{i}"), F.col(f"_w{i}.t")).alias(f"_bp{i}")
                for i in range(nv)
            ],
            *[
                F.min_by(F.col(f"_w{i}"), F.col(f"_w{i}.t")).alias(f"_bn{i}")
                for i in range(nv)
            ],
        )
    )

    asc = Window.partitionBy(*keys).orderBy(F.col("_k").asc())
    # forward pass: a bucket's frame ends with its own prev-candidate
    fwd = asc.rowsBetween(Window.unboundedPreceding, 0)
    track = [
        F.last(F.col(f"_bp{i}"), ignorenulls=True).over(fwd).alias(f"_p{i}")
        for i in range(nv)
    ]
    if need_next:
        # next tracker: in reverse order the strictly-preceding frame
        # of bucket k holds buckets ≥ k+1, i.e. exactly the samples
        # with ts > t_k
        rev = (
            Window.partitionBy(*keys)
            .orderBy(F.col("_k").desc())
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        track += [
            F.last(F.col(f"_bn{i}"), ignorenulls=True).over(rev).alias(f"_n{i}")
            for i in range(nv)
        ]
    else:
        track += [_null_like(bucketed, f"_bn{i}", f"_n{i}") for i in range(nv)]
    first = F.lag("_k").over(asc).isNull()
    tracked = bucketed.select(
        "*",
        *track,
        F.when(first, F.lit(0).cast("long")).otherwise(F.col("_k")).alias("_jlo"),
        # least() skips the last row's NULL lead
        F.least(F.lead("_k").over(asc) - 1, F.lit(kmax)).alias("_jhi"),
    )
    # a row whose range is empty (the clamped bucket K+1 behind an
    # earlier one) explodes NULL → no instant
    owned = tracked.select(
        "*",
        F.explode(
            F.when(
                F.col("_jhi") >= F.col("_jlo"),
                F.sequence(F.col("_jlo"), F.col("_jhi")),
            )
        ).alias("_j"),
    )
    head = F.col("_j") < F.col("_k")
    return owned.select(
        *keys,
        F.timestamp_micros(F.lit(lo_us) + F.col("_j") * F.lit(w_us)).alias("_t"),
        *[F.when(~head, F.col(f"_p{i}")).alias(f"_p{i}") for i in range(nv)],
        *[
            F.when(head, F.coalesce(F.col(f"_bn{i}"), F.col(f"_n{i}")))
            .otherwise(F.col(f"_n{i}"))
            .alias(f"_n{i}")
            for i in range(nv)
        ],
    )


def _interp_union_tracks(
    df: DataFrame,
    ts_col: str,
    vals,
    keys: list[str],
    ignores,
    need_next: bool,
    range_start,
    range_end,
    every_d: Duration,
) -> DataFrame:
    """Raw-sample union kernel (calendar EVERY / non-literal bounds):
    union instants (side=1) with samples (side=0) and run the two O(n)
    ordered passes over one hash partitioning. Samples sort before
    instants at equal ts ascending, so an exact-ts sample is seen by
    the preceding frame (→ _isfilled = false) and not the
    next-tracker. The instants come from a spine of every group ×
    every ``sequence(t1, t2, every)`` instant, the groups from a
    distinct over ``df``'s keys — with no keys, one row if ``df`` has
    any."""
    nv = len(vals)
    samples = df.select(
        *keys,
        F.col(ts_col).alias("_t"),
        F.lit(0).alias("_side"),
        F.unix_micros(F.col(ts_col)).alias("_tus"),
        *[F.col(c) for c, _ in vals],
    )
    samples = samples.select(
        *keys, "_t", "_side", *_sample_pairs(vals, ignores)
    )
    if keys:
        groups = df.select(*keys).distinct()
    else:
        groups = df.select(F.lit(1).alias("_g")).limit(1)
    spine = groups.select(
        *keys,
        F.explode(
            F.sequence(
                F.lit(range_start).cast("timestamp"),
                F.lit(range_end).cast("timestamp"),
                F.expr(f"interval {every_d.interval_string()}"),
            )
        ).alias("_t"),
        F.lit(1).alias("_side"),
        *[_null_like(samples, f"_w{i}", f"_w{i}") for i in range(nv)],
    )
    u = samples.unionByName(spine)

    asc = Window.partitionBy(*keys).orderBy(
        F.col("_t").asc(), F.col("_side").asc()
    )
    fwd = asc.rowsBetween(Window.unboundedPreceding, 0)
    track = [
        F.last(F.col(f"_w{i}"), ignorenulls=True).over(fwd).alias(f"_p{i}")
        for i in range(nv)
    ]
    if need_next:
        # next-sample tracker: a REVERSE-ordered growing frame, not an
        # UnboundedFollowing frame — Spark evaluates shrinking frames by
        # re-aggregating the remaining rows per output row (O(n²) per
        # key), while the reverse pass is a second O(n) scan over the
        # same hash partitioning (one extra sort, no shuffle). Samples
        # sort before instants at equal ts in ascending order, so in
        # the reverse order instants come FIRST — the strictly-
        # preceding frame then sees exactly the rows with _t greater
        # than the instant's, keeping the exact-hit sample out of the
        # next-tracker as before.
        nxt = Window.partitionBy(*keys).orderBy(
            F.col("_t").desc(), F.col("_side").desc()
        ).rowsBetween(Window.unboundedPreceding, -1)
        track += [
            F.last(F.col(f"_w{i}"), ignorenulls=True).over(nxt).alias(f"_n{i}")
            for i in range(nv)
        ]
    else:
        track += [_null_like(samples, f"_w{i}", f"_n{i}") for i in range(nv)]
    return u.select("*", *track).where(F.col("_side") == 1)
