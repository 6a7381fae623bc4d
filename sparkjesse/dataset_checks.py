"""Dataset-level checks — the aggregations the reference never had
(SURVEY.md §2.6): per-column stats, HLL cardinality, key uniqueness,
referential integrity, and KS/PSI distribution drift.

All expression/aggregate-only: partial aggregation is map-side, HLL via
``approx_count_distinct`` sketches, referential checks via broadcast
left-anti joins, drift via fixed-bucket histograms + window cumulative
sums — every check scales to the 10^12-row design point by
construction. The ONE Arrow-batched exception is ``exact_ks_by_group``
(SURVEY §4.2's optional exact-KS-on-raw-samples variant), whose
per-group in-memory sort is the contract, not a shortcut.
"""

from __future__ import annotations

import math
from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


# ---------------------------------------------------------------------------
# column stats
# ---------------------------------------------------------------------------

def column_stats(df: DataFrame, cols: Optional[Sequence[str]] = None,
                 *, rsd: float = 0.02, exact: bool = False) -> DataFrame:
    """One row per column: count, nulls, null_rate, min, max,
    approx_distinct (HLL, relative sd ``rsd``). Single aggregation pass —
    one job, one shuffle-free partial+final agg; min/max rendered as strings
    so the output schema is uniform across column types. ``exact=True``
    swaps HLL for exact ``count_distinct`` (oracle-checkable; the HLL
    sketch remains the 100 TB default)."""
    if cols is None:
        cols = [f.name for f in df.schema.fields]
    aggs: list[Column] = [F.count(F.lit(1)).alias("__n__")]
    for c in cols:
        dt = df.schema[c].dataType
        aggs.append(F.sum(F.col(c).isNull().cast("long")).alias(f"{c}__nulls"))
        sortable = not str(dt).startswith(("ArrayType", "MapType", "StructType"))
        if sortable:
            aggs.append(F.min(c).cast("string").alias(f"{c}__min"))
            aggs.append(F.max(c).cast("string").alias(f"{c}__max"))
        else:
            aggs.append(F.lit(None).cast("string").alias(f"{c}__min"))
            aggs.append(F.lit(None).cast("string").alias(f"{c}__max"))
        if sortable and exact:
            aggs.append(F.count_distinct(F.col(c)).alias(f"{c}__card"))
        elif sortable:
            aggs.append(F.approx_count_distinct(c, rsd).alias(f"{c}__card"))
        else:
            aggs.append(F.lit(None).cast("long").alias(f"{c}__card"))
    row = df.agg(*aggs)
    # unpivot into one row per column with a stack expression (no shuffle)
    n_cols = len(cols)
    stack_args = []
    for c in cols:
        stack_args.append(f"'{c}'")
        stack_args.append(f"`{c}__nulls`")
        stack_args.append(f"`{c}__min`")
        stack_args.append(f"`{c}__max`")
        stack_args.append(f"`{c}__card`")
    expr = (f"stack({n_cols}, {', '.join(stack_args)}) as "
            f"(column, nulls, min, max, approx_distinct)")
    return (row.select(F.col("__n__").alias("count"), F.expr(expr))
               .select("column", "count", "nulls",
                       (F.col("nulls") / F.col("count")).alias("null_rate"),
                       "min", "max", "approx_distinct"))


def column_quantiles(df: DataFrame, cols: Sequence[str],
                     probs: Sequence[float] = (0.25, 0.5, 0.75),
                     *, exact: bool = True,
                     accuracy: int = 10_000) -> DataFrame:
    """Quantiles per numeric column, one row per (column, prob):
    ``(column, prob, value)``, value rounded to 6.

    Single aggregation pass — one partial+final agg computes all probs
    for all columns, then a shuffle-free stack/explode unpivots.

    ``exact=True`` uses ``percentile`` (linear interpolation between
    order statistics — the quantile_cont contract, engine-portable for
    the DuckDB oracle) but buffers each column's values in the one
    aggregation buffer — fine at profile-pass scale, NOT at 10^12 rows.
    ``exact=False`` is the scale path: ``percentile_approx`` keeps a
    fixed-size mergeable sketch per column (error ≤ 1/``accuracy`` in
    rank), map-side combinable, memory O(accuracy) regardless of row
    count — same call shape, same output schema."""
    plist = [float(p) for p in probs]
    parr = F.array(*[F.lit(p) for p in plist])
    if exact:
        aggs = [F.percentile(F.col(c).cast("double"), parr)
                .alias(f"{c}__q") for c in cols]
    else:
        aggs = [F.percentile_approx(F.col(c).cast("double"), parr,
                                    F.lit(accuracy)).alias(f"{c}__q")
                for c in cols]
    row = df.agg(*aggs)
    stack_args = []
    for c in cols:
        for i, p in enumerate(plist):
            stack_args.append(f"'{c}'")
            stack_args.append(f"cast({p!r} as double)")
            stack_args.append(f"`{c}__q`[{i}]")
    expr = (f"stack({len(cols) * len(plist)}, {', '.join(stack_args)})"
            f" as (column, prob, value)")
    return (row.select(F.expr(expr))
               .select("column", "prob",
                       F.round(F.col("value"), 6).alias("value")))


# ---------------------------------------------------------------------------
# uniqueness
# ---------------------------------------------------------------------------

def duplicate_keys(df: DataFrame, key_col: str) -> DataFrame:
    """Keys appearing more than once (exact). groupBy on the key —
    partial counts map-side, so shuffle volume is #distinct keys, not
    #rows."""
    return (df.groupBy(key_col)
              .agg(F.count(F.lit(1)).alias("occurrences"))
              .where(F.col("occurrences") > 1))


def uniqueness_metrics(df: DataFrame, key_col: str) -> dict:
    """{rows, distinct, duplicates, approx_distinct}. The approx figure is
    the cheap 100 TB screen (one HLL pass, no shuffle); exact distinct is
    the confirmatory count."""
    row = df.agg(
        F.count(F.lit(1)).alias("rows"),
        F.count_distinct(F.col(key_col)).alias("distinct"),
        F.approx_count_distinct(key_col, 0.02).alias("approx_distinct"),
    ).collect()[0]
    return {
        "rows": row["rows"],
        "distinct": row["distinct"],
        "duplicates": row["rows"] - row["distinct"],
        "approx_distinct": row["approx_distinct"],
    }


def array_length_profile(df: DataFrame, col: str,
                         expected: int | None = None) -> DataFrame:
    """Length histogram of an array column: ``(length, n[, ok])`` —
    the pre-flight gate for fixed-``dim`` consumers (``label_centroids``,
    LSH sign buckets, IVF assignment), whose ``element_at(emb, i)``
    plans ANSI-abort the whole job on the FIRST ragged row. One
    map-side-combined groupBy on ``size()``; shuffle volume = #distinct
    lengths (a handful). NULL arrays report length NULL; with
    ``expected`` set, ``ok`` marks the conforming length so callers
    can fail fast or route ragged rows to quarantine before the
    expensive pass."""
    out = (df.select(F.size(F.col(col)).alias("length"))
             .groupBy("length").agg(F.count(F.lit(1)).alias("n")))
    if expected is not None:
        out = out.withColumn("ok", F.col("length") == expected)
    return out


# ---------------------------------------------------------------------------
# referential integrity
# ---------------------------------------------------------------------------

def dangling_references(df: DataFrame, fk_col: str, ref_df: DataFrame,
                        ref_col: str, *,
                        broadcast_ref: bool = True) -> DataFrame:
    """Rows of ``df`` whose non-null ``fk_col`` has no match in
    ``ref_df[ref_col]`` — left-anti join, reference side broadcast when it
    fits (dimension tables at 100 TB scale are still small; a broadcast
    anti-join is shuffle-free on the fact side)."""
    ref = ref_df.select(F.col(ref_col).alias("__ref__")).dropDuplicates()
    if broadcast_ref:
        ref = F.broadcast(ref)
    return (df.where(F.col(fk_col).isNotNull())
              .join(ref, F.col(fk_col) == F.col("__ref__"), "left_anti"))


# ---------------------------------------------------------------------------
# histograms + KS / PSI drift
# ---------------------------------------------------------------------------

def fixed_histogram(df: DataFrame, value: Column | str, *, lo: float,
                    hi: float, buckets: int = 20) -> DataFrame:
    """Fixed-bucket histogram (bucket, n, p). Values are clamped into
    [lo, hi]; bucket ids are 0..buckets-1. Pure floor arithmetic so the
    same definition runs in any SQL engine (oracle-checkable)."""
    if buckets < 1:
        raise ValueError("buckets must be >= 1")
    if not hi > lo:
        # fail fast at plan-build time: width 0 would otherwise abort
        # the whole job mid-scan with an ANSI DIVIDE_BY_ZERO (a
        # constant column's observed min == max is the common trigger)
        raise ValueError(f"hi ({hi}) must be > lo ({lo})")
    v = F.col(value) if isinstance(value, str) else value
    width = (hi - lo) / buckets
    bucket = F.least(
        F.lit(buckets - 1),
        F.greatest(F.lit(0), F.floor((v - F.lit(lo)) / F.lit(width)))
    ).cast("int").alias("bucket")
    counts = (df.where(v.isNotNull()).select(bucket)
                .groupBy("bucket").agg(F.count(F.lit(1)).alias("n")))
    total = F.sum("n").over(Window.partitionBy())
    return counts.select("bucket", "n", (F.col("n") / total).alias("p"))


def psi_from_histograms(cur: DataFrame, base: DataFrame, key: str = "bucket",
                        *, eps: float = 1e-6) -> float:
    """Population Stability Index between two histograms sharing ``key``:
    Σ (p−q)·ln(p/q), eps-smoothed. Full outer join on the (tiny) histogram
    rows — driver-side scalar out."""
    joined = (
        cur.select(key, F.col("p").alias("p_cur"))
        .join(base.select(key, F.col("p").alias("p_base")), on=key,
              how="full_outer")
        .select(F.coalesce("p_cur", F.lit(0.0)).alias("p"),
                F.coalesce("p_base", F.lit(0.0)).alias("q"))
        .select(((F.col("p") - F.col("q"))
                 * F.log((F.col("p") + eps) / (F.col("q") + eps)))
                .alias("term"))
    )
    out = joined.agg(F.sum("term")).collect()[0][0]
    return float(out or 0.0)


def ks_from_histograms(cur: DataFrame, base: DataFrame,
                       key: str = "bucket") -> float:
    """Kolmogorov–Smirnov statistic approximated on shared fixed buckets:
    max |CDF_cur − CDF_base| via window cumulative sums."""
    w = Window.orderBy(key).rowsBetween(Window.unboundedPreceding, 0)
    joined = (
        cur.select(key, F.col("p").alias("p_cur"))
        .join(base.select(key, F.col("p").alias("p_base")), on=key,
              how="full_outer")
        .fillna(0.0, ["p_cur", "p_base"])
        .select(key, F.sum("p_cur").over(w).alias("cdf_cur"),
                F.sum("p_base").over(w).alias("cdf_base"))
        .select(F.abs(F.col("cdf_cur") - F.col("cdf_base")).alias("d"))
    )
    out = joined.agg(F.max("d")).collect()[0][0]
    return float(out or 0.0)


def drift_frame(cur: DataFrame, base: DataFrame, value: Column | str, *,
                lo: float, hi: float, buckets: int = 20,
                eps: float = 1e-6) -> DataFrame:
    """One-row DataFrame ``(ks, psi)`` between two distributions on
    shared fixed buckets — the lazy (no-collect) form of
    ``drift_report``. Order-deterministic: both statistics fold over
    buckets in ascending order via a running window sum, so any engine
    replaying the same expression gets the bit-identical double (the
    DuckDB oracle does)."""
    hc = fixed_histogram(cur, value, lo=lo, hi=hi, buckets=buckets)
    hb = fixed_histogram(base, value, lo=lo, hi=hi, buckets=buckets)
    j = (hc.select("bucket", F.col("p").alias("p_cur"))
           .join(hb.select("bucket", F.col("p").alias("p_base")),
                 on="bucket", how="full_outer")
           .select("bucket",
                   F.coalesce("p_cur", F.lit(0.0)).alias("p"),
                   F.coalesce("p_base", F.lit(0.0)).alias("q")))
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    term = (F.col("p") - F.col("q")) \
        * F.log((F.col("p") + F.lit(eps)) / (F.col("q") + F.lit(eps)))
    staged = j.select(
        "bucket",
        F.abs(F.sum("p").over(w) - F.sum("q").over(w)).alias("cdf_diff"),
        F.sum(term).over(w).alias("cum_psi"))
    return staged.agg(
        F.round(F.max("cdf_diff"), 6).alias("ks"),
        F.round(F.max_by("cum_psi", "bucket"), 6).alias("psi"))


def exact_ks_by_group(cur: DataFrame, base: DataFrame,
                      value: Column | str,
                      group_cols: Sequence[str], *,
                      round_to: int = 6) -> DataFrame:
    """EXACT two-sample Kolmogorov–Smirnov per group, on raw samples
    (not bucketed): ``(group_cols..., ks, n_cur, n_base)``.

    The bucketed ``ks_from_histograms`` is the 10^12-row answer for a
    GLOBAL statistic (exact global KS needs one total ordering of the
    data). This is the complementary per-group contract from SURVEY
    §4.2: each group (an Iceberg partition, a language, a cohort) is
    sorted in memory inside one Arrow-batched ``applyInPandas`` task,
    so the operator scales with #groups while the statistic stays
    exact within each. Groups present on only one side are omitted
    (no distribution to compare).

    Determinism: D folds as |cum_cur/n_cur − cum_base/n_base| over
    distinct values in ascending order — one divide each, subtract,
    abs, max, HALF_UP round — the identical op sequence a SQL window
    twin performs, so results are bit-reproducible cross-engine."""
    import numpy as np
    import pandas as pd

    v = F.col(value) if isinstance(value, str) else value
    gcols = list(group_cols)
    u = (cur.select(*gcols, v.alias("__x__"), F.lit(1).alias("__cur__"))
            .where(F.col("__x__").isNotNull())
            .unionByName(
                base.select(*gcols, v.alias("__x__"),
                            F.lit(0).alias("__cur__"))
                    .where(F.col("__x__").isNotNull())))
    gtypes = {f.name: f.dataType.simpleString() for f in u.schema.fields}
    out_schema = ", ".join([f"{c} {gtypes[c]}" for c in gcols]
                           + ["ks double", "n_cur bigint",
                              "n_base bigint"])

    def ks_fn(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        x = pdf["__x__"].to_numpy(dtype=np.float64)
        is_cur = pdf["__cur__"].to_numpy() == 1
        a = np.sort(x[is_cur])
        b = np.sort(x[~is_cur])
        cols = gcols + ["ks", "n_cur", "n_base"]
        if not len(a) or not len(b):
            return pd.DataFrame(columns=cols)
        xs = np.unique(x)
        d = np.abs(np.searchsorted(a, xs, side="right") / len(a)
                   - np.searchsorted(b, xs, side="right") / len(b)).max()
        d = np.floor(d * 10.0 ** round_to + 0.5) / 10.0 ** round_to
        return pd.DataFrame([list(key) + [float(d), len(a), len(b)]],
                            columns=cols)

    return u.groupBy(*gcols).applyInPandas(ks_fn, out_schema)


def drift_report(cur: DataFrame, base: DataFrame, value: Column | str, *,
                 lo: float, hi: float, buckets: int = 20) -> dict:
    hc = fixed_histogram(cur, value, lo=lo, hi=hi, buckets=buckets)
    hb = fixed_histogram(base, value, lo=lo, hi=hi, buckets=buckets)
    hc.cache(); hb.cache()
    try:
        return {"psi": psi_from_histograms(hc, hb),
                "ks": ks_from_histograms(hc, hb)}
    finally:
        hc.unpersist(); hb.unpersist()
