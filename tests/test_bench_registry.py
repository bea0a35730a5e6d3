"""The bench-entry registry (bench_entries.py) that bench.py and
tools/calibrate_route_cost.py share: its leaves are bench.py's printed
``queries``, and its interleaved kernel-vs-route pair returns each
side's minimum only when both sides agree."""

from __future__ import annotations

import json
from pathlib import Path

import pytest
from pyspark.sql import functions as F

import bench_entries

ROOT = Path(__file__).resolve().parents[1]


def test_leaves_are_the_recorded_bench_queries():
    # BENCH_r09.json holds the last full bench.py output line
    recorded = json.loads((ROOT / "BENCH_r09.json").read_text())
    queries = list(recorded["parsed"]["queries"])
    assert len(queries) == 14
    assert list(bench_entries.LEAF_NAMES) == queries


def test_interleaved_pair_returns_both_minimums_and_the_value(spark):
    df = spark.range(40, numPartitions=2).cache()
    df.count()
    calls = []

    def kernel():
        calls.append("k")
        return df.filter(F.col("id") % 4 == 0).count()

    def route():
        calls.append("r")
        return df.agg(F.sum((F.col("id") % 4 == 0).cast("long"))
                      ).collect()[0][0]

    k, r, value = bench_entries.interleaved_pair(kernel, route)
    df.unpersist()
    assert value == 10
    assert k > 0 and r > 0
    # one warm pass per side, then three interleaved timed passes
    assert calls == ["k", "r"] * 4


def test_interleaved_pair_raises_on_verdict_disagreement():
    with pytest.raises(AssertionError):
        bench_entries.interleaved_pair(lambda: 1, lambda: 2)


def test_kernel_vs_route_counts_agree(spark):
    from jema_js_spark.bench_contracts import (TRIVIAL_CONTRACT,
                                               trivial_json_docs)

    docs = trivial_json_docs(spark, 40, num_partitions=2)
    k, r, n_valid = bench_entries.kernel_vs_route(docs, TRIVIAL_CONTRACT)
    assert n_valid == 40 and k > 0 and r > 0


def test_unknown_entry_is_refused():
    with pytest.raises(ValueError, match="no_such_leaf"):
        bench_entries.run_leaves(None, ["no_such_leaf"])
