#!/usr/bin/env python
"""Measure the routed JSON plane against the kernel plane.

Evidence for the size-aware plane choice on ROADMAP item 2: where the
route (``with_valid_json``'s ``auto`` plan) and the kernel UDF cross
over, by contract weight, batch size and stream class.  Three sweeps
of the bench's kernel/route pair (``bench_entries.kernel_vs_route``:
interleaved, MIN-of-3 per side, verdict parity asserted per pass):

1. CONTRACT sweep at 1M canonical docs — graded contracts from
   trivial type/bound up to the representative Plane-B contract.
   Round-8 result: the route wins on EVERY grade (1.13-2.13×); the
   one loss (pattern3, 0.68×) is the number-slot shortcut-miss data
   hazard, not contract weight.
2. BATCH-SIZE sweep — the trivial contract (all-conforming corpus)
   and the representative contract (mixed corpus, real residue) at
   10k..1M docs.  The kernel wins small batches (the route's fixed
   floors are not amortized); the crossover moves with the machine,
   so it is measured, not assumed.
3. SHAPE DECOMPOSITION — kernel vs the routed plan per STREAM CLASS
   (canonical / whitespace-gate / wrong-type residue / malformed
   residue / the 80% mixed stream) at 1M docs.  Round-8 result: the
   route wins 1.47× over the kernel on the mixed stream.

Writes BENCH/route_cost_calibration.json (the machine-readable
evidence twin that bench_scaling.py renders into BENCH/BASELINE.md;
the routed side keeps the ``masked_*`` keys of earlier artifacts).

Usage, from the repository root::

    PYTHONPATH=. python tools/calibrate_route_cost.py
"""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from bench_entries import CPUS, kernel_vs_route

N = int(os.environ.get("CAL_DOCS", "1000000"))


def canonical_docs(spark, fields):
    """n canonical JSON docs with the given (name, col_fn) fields."""
    cols = [fn(F.col("id")).alias(name) for name, fn in fields]
    return spark.range(N, numPartitions=CPUS * 3).select(
        F.to_json(F.struct(*cols)).alias("doc"))


def main():
    from jema_js_spark.bench_contracts import (
        REPRESENTATIVE_KERNEL_CONTRACT, representative_json_docs)
    from jema_js_spark.runtime.session import build_session

    spark = build_session(app_name="jema-cal", master=f"local[{CPUS}]",
                          shuffle_partitions=CPUS)
    spark.sparkContext.setLogLevel("ERROR")

    int_f = lambda c: c % 100
    str_f = lambda c: F.concat(F.lit("user"), c.cast("string"))

    cases = []

    # T2: the round-7 measured loss case — a couple of type/bound checks
    cases.append(("trivial2", {
        "type": "object", "required": ["k"],
        "properties": {"k": {"type": "integer", "minimum": 0},
                       "name": {"type": "string", "maxLength": 64}}},
        [("k", int_f), ("name", str_f)]))

    # T5: five typed+bounded properties
    props5 = {f"f{i}": {"type": "integer", "minimum": 0, "maximum": 10**9}
              for i in range(4)}
    props5["name"] = {"type": "string", "minLength": 1, "maxLength": 64}
    cases.append(("five_props", {
        "type": "object", "required": ["f0", "name"],
        "properties": props5},
        [(f"f{i}", int_f) for i in range(4)] + [("name", str_f)]))

    # T10: ten typed+bounded properties
    props10 = {f"f{i}": {"type": "integer", "minimum": 0, "maximum": 10**9}
               for i in range(9)}
    props10["name"] = {"type": "string", "minLength": 1, "maxLength": 64}
    cases.append(("ten_props", {
        "type": "object", "required": ["f0", "f5", "name"],
        "properties": props10},
        [(f"f{i}", int_f) for i in range(9)] + [("name", str_f)]))

    # P: three properties, one Python-regex pattern on the kernel side
    cases.append(("pattern3", {
        "type": "object", "required": ["k", "name"],
        "properties": {"k": {"type": "integer", "minimum": 0},
                       "name": {"type": "string",
                                "pattern": "^user[0-9]+$"},
                       "m": {"type": "number"}}},
        [("k", int_f), ("name", str_f), ("m", lambda c: c % 7)]))

    # A: array items + enum — per-element kernel work
    cases.append(("array_enum", {
        "type": "object", "required": ["xs", "tag"],
        "properties": {
            "xs": {"type": "array", "minItems": 1,
                   "items": {"type": "integer", "minimum": 0}},
            "tag": {"enum": ["a", "b", "c", "d"]}}},
        [("xs", lambda c: F.array(c % 7, c % 11, c % 13)),
         ("tag", lambda c: F.element_at(
             F.array(F.lit("a"), F.lit("b"), F.lit("c"), F.lit("d")),
             (c % 4 + 1).cast("int")))]))

    # N: nested object + combinator — mid-weight
    cases.append(("nested_mid", {
        "type": "object", "required": ["id", "meta"],
        "properties": {
            "id": {"type": "integer", "minimum": 0},
            "meta": {"type": "object", "required": ["etype"],
                     "properties": {
                         "etype": {"type": "string", "minLength": 2},
                         "v": {"type": "number", "minimum": 0}}},
            "xs": {"type": "array", "items": {"type": "integer"}}},
        "anyOf": [{"required": ["xs"]}, {"required": ["meta"]}]},
        [("id", int_f),
         ("meta", lambda c: F.struct(
             F.concat(F.lit("ev"), (c % 9).cast("string")).alias("etype"),
             (c % 5).cast("double").alias("v"))),
         ("xs", lambda c: F.array(c % 7, c % 11))]))

    # U: unevaluatedProperties over a small claimed layout — the
    # evaluated-set class alone, no other expensive keywords
    cases.append(("uneval_small", {
        "type": "object", "required": ["k"],
        "properties": {"k": {"type": "integer", "minimum": 0},
                       "name": {"type": "string"}},
        "unevaluatedProperties": False},
        [("k", int_f), ("name", str_f)]))

    # R: three $ref hops to a shared def — the ref-chain class alone
    cases.append(("refs3", {
        "type": "object", "required": ["a"],
        "$defs": {"n": {"type": "integer", "minimum": 0,
                        "multipleOf": 1}},
        "properties": {"a": {"$ref": "#/$defs/n"},
                       "b": {"$ref": "#/$defs/n"},
                       "c": {"$ref": "#/$defs/n"}}},
        [("a", int_f), ("b", int_f), ("c", int_f)]))

    def emit(row):
        print(json.dumps(row), flush=True)
        return row

    def pair(name, contract, docs, n):
        k, r, n_valid = kernel_vs_route(docs, contract)
        return emit({"case": name,
                     "kernel_sec": round(k, 3),
                     "route_sec": round(r, 3),
                     "route_vs_kernel": round(k / r, 2),
                     "n_valid": int(n_valid), "n": n})

    contracts = []
    for name, contract, fields in cases + [("representative", None, None)]:
        if contract is None:
            contract = REPRESENTATIVE_KERNEL_CONTRACT
            docs = representative_json_docs(spark, N,
                                            num_partitions=CPUS * 3)
        else:
            docs = canonical_docs(spark, fields)
        contracts.append(pair(name, contract, docs, N))

    # batch-size sweep: trivial (all-conforming → empty residue) vs
    # representative over the MIXED stream (real residue + variant-gate
    # rows — the shape production batches actually have)
    from jema_js_spark.bench_contracts import (TRIVIAL_CONTRACT,
                                               mixed_json_docs,
                                               trivial_json_docs)
    batches = []
    for n in (10_000, 30_000, 100_000, 300_000, 1_000_000):
        batches.append(pair(
            f"trivial@{n}", TRIVIAL_CONTRACT,
            trivial_json_docs(spark, n, num_partitions=CPUS * 3), n))
        batches.append(pair(
            f"representative-mixed@{n}", REPRESENTATIVE_KERNEL_CONTRACT,
            mixed_json_docs(spark, n, num_partitions=CPUS * 3), n))

    # shape decomposition: kernel vs the routed plan per stream class
    def shape_pair(name, contract, docs, n):
        k, r, _ = kernel_vs_route(docs, contract)
        return emit({"stream": name,
                     "kernel_sec": round(k, 3),
                     "masked_sec": round(r, 3),
                     "masked_vs_kernel": round(k / r, 2),
                     "n": n})

    from jema_js_spark.bench_contracts import mixed_json_docs as _mx
    base = spark.range(N, numPartitions=CPUS * 3)
    canonical = F.to_json(F.struct(
        (F.col("id") % 100).alias("k"),
        F.concat(F.lit("user"), F.col("id")).alias("name"),
        F.array(F.col("id") % 7, F.col("id") % 11,
                F.col("id") % 13).alias("xs")))
    spaced = F.concat(
        F.lit('{ "k": '), (F.col("id") % 100).cast("string"),
        F.lit(', "name": "user'), F.col("id").cast("string"),
        F.lit('", "xs": [1, 2, 3] }'))
    wrong = F.concat(F.lit('{"k":"'), F.col("id").cast("string"),
                     F.lit('","name":"user","xs":[1,2,3]}'))
    malformed = F.concat(F.lit('{"k": '), F.col("id").cast("string"))
    shapes = [
        shape_pair("canonical", REPRESENTATIVE_KERNEL_CONTRACT,
                   base.select(canonical.alias("doc")), N),
        shape_pair("whitespace-gate", REPRESENTATIVE_KERNEL_CONTRACT,
                   base.select(spaced.alias("doc")), N),
        shape_pair("wrongtype-residue", REPRESENTATIVE_KERNEL_CONTRACT,
                   base.select(wrong.alias("doc")), N),
        shape_pair("malformed-residue", REPRESENTATIVE_KERNEL_CONTRACT,
                   base.select(malformed.alias("doc")), N),
        shape_pair("mixed-80pct", REPRESENTATIVE_KERNEL_CONTRACT,
                   _mx(spark, N, num_partitions=CPUS * 3), N),
    ]

    out = {"protocol": "interleaved kernel/route pairs, MIN-of-3 per "
                       "side, warm pass first, verdict parity asserted",
           "contract_sweep_docs": N,
           "contracts": contracts,
           "batch_sweep": batches,
           "shape_decomposition": shapes,
           "loadavg_after": [round(x, 2) for x in os.getloadavg()],
           "cpus": CPUS}
    os.makedirs("BENCH", exist_ok=True)
    with open("BENCH/route_cost_calibration.json", "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps({"loadavg": out["loadavg_after"], "cpus": CPUS,
                      "wrote": "BENCH/route_cost_calibration.json"}))
    spark.stop()


if __name__ == "__main__":
    main()
