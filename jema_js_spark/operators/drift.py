"""Distribution-drift checks (SURVEY.md §2.9 / north-star metric list).

Two modalities:

- **Categorical drift** (the ``lang`` column): per-group category
  histograms vs the global distribution → total-variation distance and
  a chi-square statistic.  One ``groupBy(group, category).count()``
  shuffle (map-side combined), then a driver-side comparison over the
  (small) category × group matrix.

- **Numeric drift**: two-sample Kolmogorov–Smirnov over quantile
  sketches.  Each side is summarized by ``percentile_approx`` (the
  KLL-style sketch built into Spark — constant memory, mergeable,
  single pass); the KS statistic is then the max CDF gap evaluated on
  the merged quantile grid.  This is the sketch-based path the design
  doc calls for — no raw-data co-shuffle between the two samples.

- **Exact numeric KS** (:func:`ks_exact`): for bounded-cardinality
  numeric columns (ids, lengths, counts, bucketed scores) the exact
  statistic is one ``groupBy(col)`` histogram per side (map-side
  combined), a full-outer join of the O(distinct) histograms, and a
  cumulative-share window — no sketch error at all, and fully
  SQL-expressible (the CORRECTNESS oracle runs this form).
"""

from __future__ import annotations

from typing import List, Optional, Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["categorical_drift", "ks_two_sample", "ks_exact",
           "lang_drift_report"]


def categorical_drift(df: DataFrame, group_col: str, cat_col: str) -> DataFrame:
    """Per-group drift vs the global categorical distribution:
    ``(group, n_rows, tvd, chi2)``.

    TVD = 0.5 * Σ|p_group(c) − p_global(c)|; chi2 uses the global
    distribution as expectation.

    Round 9 (guide §2.4): ONE full pass over the input.  The previous
    shape scanned the table three times per call — the (group, cat)
    histogram for the main plan, the same histogram again under the
    ``totals`` subtree, and a third full aggregation for a driver-side
    ``collect`` of the grand total (an eager job inside plan
    construction).  All three marginals (per-category, per-group,
    grand) are now window sums over the aggregated histogram itself —
    O(groups × categories) rows, thousands at most where the input is
    billions — so the heavy input is scanned once and shuffled once
    (map-side-combined partial counts), and everything downstream is
    small-table algebra with no driver round-trip."""
    counts = df.groupBy(group_col, cat_col).count()
    w_cat = Window.partitionBy(cat_col)
    w_grp = Window.partitionBy(group_col)
    # an unpartitioned window runs in ONE task over every histogram row:
    # cheap for thousands of (group, category) rows, but a
    # high-cardinality category column (ids, free text) funnels
    # millions of rows through one core here; bucket such columns first
    w_all = Window.partitionBy()
    enriched = counts.select(
        group_col, cat_col, "count",
        F.sum("count").over(w_cat).alias("__g_cnt"),
        F.sum("count").over(w_grp).alias("__n"),
        F.sum("count").over(w_all).alias("__grand"))
    # per-(group, cat) drift terms — integer counts divided once into
    # doubles, same arithmetic as the previous array-aggregate form
    n = F.col("__n").cast("double")
    grand = F.col("__grand").cast("double")
    share = F.col("count") / n
    g_share = F.col("__g_cnt") / grand
    expected = n * g_share
    return (enriched.groupBy(group_col)
            .agg(F.sum("count").alias("n_rows"),
                 (F.sum(F.abs(share - g_share)) / 2).alias("tvd"),
                 F.sum(F.pow(F.col("count") - expected, 2) / expected)
                 .alias("chi2")))


def _cdf_at(quantiles: List[float], x: float) -> float:
    """Empirical CDF from an equi-probability quantile grid."""
    import bisect

    if not quantiles:
        return 0.0
    return bisect.bisect_right(quantiles, x) / len(quantiles)


def ks_two_sample(df_a: DataFrame, df_b: DataFrame, col: str,
                  n_quantiles: int = 201, accuracy: int = 10000) -> dict:
    """Two-sample KS statistic from per-side quantile sketches.

    Cost: one sketching pass per side (no shuffle of raw values
    between sides), O(n_quantiles) driver work.  Returns the KS
    statistic and the sketch grids' sizes; with ~200 quantiles the
    statistic resolves drift down to ~0.5% CDF gaps.
    """
    probs = [i / (n_quantiles - 1) for i in range(n_quantiles)]
    qa = df_a.select(F.percentile_approx(col, probs, accuracy).alias("q")).collect()[0]["q"]
    qb = df_b.select(F.percentile_approx(col, probs, accuracy).alias("q")).collect()[0]["q"]
    qa = [float(x) for x in (qa or []) if x is not None]
    qb = [float(x) for x in (qb or []) if x is not None]
    grid = sorted(set(qa) | set(qb))
    ks = max((abs(_cdf_at(qa, x) - _cdf_at(qb, x)) for x in grid), default=0.0)
    return {"ks": ks, "n_grid": len(grid),
            "n_quantiles_a": len(qa), "n_quantiles_b": len(qb)}


def ks_exact(df_a: DataFrame, df_b: DataFrame, col: str,
             partitions: int = 64) -> DataFrame:
    """EXACT two-sample KS statistic as a one-row DataFrame ``(ks)``.

    The heavy work is one ``groupBy(col).count()`` per side (a
    map-side-combined shuffle whose output is O(distinct values), not
    O(rows)).  The cumulative share is then DISTRIBUTED (round 5,
    VERDICT r4 #3 — previously a single global-sort window task): the
    joined histogram is bucketed by value range (``width_bucket`` over
    the observed min/max — monotone in ``v``, so per-bucket cumulative
    sums + lower-bucket offsets compose to the exact global ECDF), the
    in-bucket cumulative runs as ``partitions`` parallel window tasks,
    and the offsets come from a window over the ≤ ``partitions``-row
    bucket-totals table (bounded and tiny by construction — the only
    single-task step left).  This extends the exact regime from
    "fits one task" to ~10⁸+ distinct values; for genuinely unbounded
    continuous columns the sketch-based :func:`ks_two_sample` remains
    the right tool.  Uniform range buckets can be skew-unbalanced on
    pathological value distributions — that costs parallelism, never
    correctness.

    ECDFs are over non-null values; both sides must be non-empty.  All
    arithmetic is exact-integer counts divided once into doubles, so a
    SQL engine replaying the plain cumulative formula reproduces the
    statistic bit-for-bit (the CORRECTNESS oracle relies on this:
    bucketing changes the plan, not the sums).
    """
    a = (df_a.filter(F.col(col).isNotNull())
         .groupBy(F.col(col).alias("v"))
         .agg(F.count(F.lit(1)).alias("ca")))
    b = (df_b.filter(F.col(col).isNotNull())
         .groupBy(F.col(col).alias("v"))
         .agg(F.count(F.lit(1)).alias("cb")))
    u = (a.join(b, "v", "full_outer")
         .select("v", F.coalesce("ca", F.lit(0)).alias("ca"),
                 F.coalesce("cb", F.lit(0)).alias("cb")))
    # lazy broadcast bounds (no driver collect): hi+1 keeps the max
    # value inside the top bucket (width_bucket's range is half-open).
    # Bounds are over FINITE values only and non-finite doubles get
    # explicit edge buckets matching Spark's sort order
    # (−Inf < finite < +Inf < NaN) — a NaN/Inf bound would make
    # width_bucket NULL out every row and silently return a NULL
    # statistic (round-5 review find; the pre-bucketing form handled
    # these values through the plain sort).
    vd = F.col("v").cast("double")
    finite = ~F.isnan(vd) & (vd != float("inf")) & (vd != float("-inf"))
    bounds = u.agg(
        F.min(F.when(finite, vd)).alias("__lo"),
        (F.max(F.when(finite, vd)) + 1.0).alias("__hi"))
    bkt = (F.when(F.isnan(vd), F.lit(partitions + 2))
           .when(vd == float("inf"), F.lit(partitions + 1))
           .when(vd == float("-inf"), F.lit(0))
           .otherwise(F.coalesce(
               F.width_bucket(vd, F.col("__lo"), F.col("__hi"),
                              F.lit(partitions)),
               # all-non-finite input: no finite bounds — one bucket
               F.lit(1))))
    ub = u.crossJoin(F.broadcast(bounds)).withColumn("__bkt", bkt)
    totals = ub.groupBy("__bkt").agg(F.sum("ca").alias("__ta"),
                                     F.sum("cb").alias("__tb"))
    # both unpartitioned windows run in one task, over at most
    # partitions + 3 bucket rows, whatever the input's size
    w_off = Window.orderBy("__bkt").rowsBetween(
        Window.unboundedPreceding, -1)
    w_tot = Window.partitionBy()
    offsets = totals.select(
        "__bkt",
        F.coalesce(F.sum("__ta").over(w_off), F.lit(0)).alias("__oa"),
        F.coalesce(F.sum("__tb").over(w_off), F.lit(0)).alias("__ob"),
        F.sum("__ta").over(w_tot).alias("__na"),
        F.sum("__tb").over(w_tot).alias("__nb"))
    w_in = Window.partitionBy("__bkt").orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow)
    cum = (ub.join(F.broadcast(offsets), "__bkt")
           .select(((F.col("__oa") + F.sum("ca").over(w_in))
                    / F.col("__na")).alias("fa"),
                   ((F.col("__ob") + F.sum("cb").over(w_in))
                    / F.col("__nb")).alias("fb")))
    return cum.agg(
        F.round(F.max(F.abs(F.col("fa") - F.col("fb"))), 6).alias("ks"))


def lang_drift_report(df: DataFrame, group_col: str = "partition_id",
                      lang_col: str = "lang",
                      tvd_threshold: float = 0.10) -> dict:
    """Flagship drift check: is any group's language distribution
    drifting beyond ``tvd_threshold`` from the global mix?"""
    drift = categorical_drift(df, group_col, lang_col)
    worst = drift.orderBy(F.desc("tvd")).limit(5).collect()
    return {
        "worst": [(r[group_col], r["n_rows"], round(r["tvd"], 4)) for r in worst],
        "drifted_groups": sum(1 for r in worst if r["tvd"] > tvd_threshold),
        "ok": all(r["tvd"] <= tvd_threshold for r in worst),
    }
