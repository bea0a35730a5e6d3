"""The benchmark's workloads.

Each workload is a closed loop of cycles.  Every cycle makes a verdict
call on a contract new to the engine (``cold``), a verdict call on a
contract it has seen (``warm``), and a verdict call and an errors call
over the workload's bulk input (``verdict`` / ``violations``).

``pages_typed``
    600k seeded ``synthetic_pages`` rows in parquet against
    ``PAGE_CONTRACT`` through ``with_valid`` / ``violation_rows``: the
    Plane-A path, all Catalyst and no Python.  Compiler, engine and scan
    changes move it; kernel and JSON-routing changes should not.  The
    new contract is ``PAGE_CONTRACT`` plus a ``$comment`` (a miss in
    every memo, verdicts unchanged) over the same pages; the seen
    contract's call is the bulk verdict call itself.
``json_mixed``
    30k seeded mixed JSON documents (route rate exactly 0.8, about a
    third invalid) against ``REPRESENTATIVE_KERNEL_CONTRACT`` through
    ``with_valid_json`` / ``json_violation_rows``: routing gates, the
    masked Arrow kernel stage and ``iter_errors`` do most of the work.
    Its new contract is seed-derived per cycle -- the representative,
    trivial and page shapes in turn, with varied bounds, enums and
    patterns -- and runs, cold then warm, over a fixed 2k-document
    batch, where driver-side work dominates: ``Schema``, contract
    analysis, compilation, Column construction and planning; the cold
    call fills the engine's memos and the warm call consults them.
"""

from __future__ import annotations

import json
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from jema_js_spark.sources.pages import synthetic_pages
from jema_js_spark.validation.engine import violation_rows, with_valid
from jema_js_spark.validation.json_plane import (json_violation_rows,
                                                 with_valid_json)
from perfbench import inputs


class Call(NamedTuple):
    kind: str           # cold / warm / verdict / violations
    contract: dict
    input: str          # which materialized input the call reads
    ref_key: tuple      # what its output is checked against


class PagesTyped:
    name = "pages_typed"
    n_docs = 600_000
    round_cycles = 1
    json_input = False
    warm_kind = "verdict"
    base = inputs.PAGE_CONTRACT

    def materialize(self, spark: SparkSession, seed: int, scale: float,
                    path: str) -> dict:
        # html is dropped: no check reads it, and writing it doubles the
        # set-up's generation time
        synthetic_pages(spark, max(10, int(self.n_docs * scale)), seed=seed,
                        num_partitions=8)\
            .drop("html").write.parquet(f"{path}/bulk")
        return {"bulk": f"{path}/bulk"}

    def cycle(self, seed: int, tag: str, i: int) -> list:
        ref = ("bulk", "base")     # a $comment leaves verdicts unchanged
        return [Call("cold", inputs.annotated(self.base, tag), "bulk", ref),
                Call("verdict", self.base, "bulk", ref),
                Call("violations", self.base, "bulk", ref)]

    def probe_contract(self, seed: int, tag: str, i: int) -> dict:
        return inputs.annotated(self.base, tag)

    def run(self, kind: str, df: DataFrame, contract: dict) -> DataFrame:
        if kind == "violations":
            return violation_rows(df, contract, id_cols=["url"])
        return with_valid(df, contract)

    def references(self, dfs: dict, calls: list) -> dict:
        return {("bulk", "base"): inputs.page_reference(dfs["bulk"])}


class JsonMixed:
    name = "json_mixed"
    n_docs = 30_000
    # one cycle per contract shape, so every run sees the same mix
    round_cycles = inputs.CHURN_SHAPES
    n_batch_mixed = 1600
    n_batch_pages = 400
    json_input = True
    warm_kind = "warm"
    base = inputs.REPRESENTATIVE_KERNEL_CONTRACT

    def materialize(self, spark: SparkSession, seed: int, scale: float,
                    path: str) -> dict:
        tens = max(1, int(self.n_docs * scale) // 10)
        inputs.mixed_docs(spark, tens * 10, seed).write.parquet(f"{path}/bulk")
        n_mixed = max(10, int(self.n_batch_mixed * scale) // 10 * 10)
        n_pages = max(10, int(self.n_batch_pages * scale))
        inputs.mixed_docs(spark, n_mixed, seed + 1, 2).unionByName(
            inputs.page_docs(spark, n_pages, seed, n_mixed, 2))\
            .coalesce(2).write.parquet(f"{path}/batch")
        return {"bulk": f"{path}/bulk", "batch": f"{path}/batch"}

    def cycle(self, seed: int, tag: str, i: int) -> list:
        new = inputs.churn_contract(seed, tag, i % inputs.CHURN_SHAPES)
        new_ref = ("batch", json.dumps(new, sort_keys=True))
        base_ref = ("bulk", "base")
        return [Call("cold", new, "batch", new_ref),
                Call("warm", new, "batch", new_ref),
                Call("verdict", self.base, "bulk", base_ref),
                Call("violations", self.base, "bulk", base_ref)]

    def probe_contract(self, seed: int, tag: str, i: int) -> dict:
        return inputs.churn_contract(seed, tag, i % inputs.CHURN_SHAPES)

    def run(self, kind: str, df: DataFrame, contract: dict) -> DataFrame:
        if kind == "violations":
            return json_violation_rows(df, "doc", contract, id_cols=["id"])
        return with_valid_json(df, "doc", contract)

    def references(self, dfs: dict, calls: list) -> dict:
        out = {}
        batch = {c.ref_key: c.contract for c in calls if c.input == "batch"}
        if batch:
            out.update(zip(batch, inputs.kernel_references(
                dfs["batch"], list(batch.values()))))
        if any(c.input == "bulk" for c in calls):
            out[("bulk", "base")] = inputs.kernel_references(
                dfs["bulk"], [self.base])[0]
        return out


WORKLOADS = {w.name: w for w in (PagesTyped(), JsonMixed())}


def count_frame(kind: str, out: DataFrame) -> DataFrame:
    """The one-row count a call collects: rows and valid rows of a
    verdict frame, or the number of violation rows."""
    if kind == "violations":
        return out.agg(F.count(F.lit(1)).alias("rows"))
    return out.agg(F.count(F.lit(1)).alias("n"),
                   F.sum(F.col("valid").cast("long")).alias("valid"))
