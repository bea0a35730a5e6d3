#!/usr/bin/env python
"""Benchmark harness: headline engine operations at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}

The flagship number is schema-validation throughput over the synthetic
Common-Crawl-style pages table (pages/sec, reported alongside the
timing dict) — the BASELINE.json "validated docs/sec" metric.

Scaling-efficiency evidence (local[8] vs local[32] per the driver
instruction) lives in bench_scaling.py, which writes BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os

from bench_entries import (CPUS, N_KERNEL_DOCS, N_PAGES, SF_DIR, Inputs,
                           kernel_vs_route, run_leaves)


def _sf_label(path: str) -> float:
    try:
        return float(path.rstrip("/").rsplit("sf", 1)[1])
    except (IndexError, ValueError):
        return -1.0


def _pair(docs, contract, side: str, n_docs: int):
    """The kernel-vs-route ratio and its record for one interleaved
    pair; ``side`` names the routed side's key."""
    load_before = os.getloadavg()
    k, r, _ = kernel_vs_route(docs, contract)
    return round(k / r, 2), {
        "n_docs": n_docs,
        "kernel_sec": round(k, 3),
        f"{side}_sec": round(r, 3),
        "timing": "interleaved_min_of_3",
        "loadavg_before": [round(x, 2) for x in load_before],
        "loadavg_after": [round(x, 2) for x in os.getloadavg()],
    }


def main() -> None:
    from jema_js_spark.bench_contracts import (
        REPRESENTATIVE_KERNEL_CONTRACT, TRIVIAL_CONTRACT,
        representative_json_docs, trivial_json_docs)
    from jema_js_spark.runtime.session import build_session
    from jema_js_spark.validation.engine import compile_for
    from __spark_entry__ import PAGE_CONTRACT

    spark = build_session(app_name="jema-bench", master=f"local[{CPUS}]",
                          shuffle_partitions=CPUS)
    spark.sparkContext.setLogLevel("ERROR")

    # the 14 leaves (bench_entries.LEAVES): flagship contract validation
    # over N_PAGES synthetic pages, violation rows, the operators, then
    # the representative contract on the kernel, the JSON route and the
    # mixed stream; each a warm pass then MIN of 3 timed passes
    inputs = Inputs(spark)
    loadavg_before = os.getloadavg()
    timings, results = run_leaves(inputs)
    # the fraction of the mixed conforming/hostile stream the router
    # sends columnar.  A routing-gate regression (always-kernel) keeps
    # verdicts correct but collapses throughput — this number makes it
    # visible in BENCH diffs; tests/test_bench_contract.py pins it at
    # the stream's designed share.
    route_rate = round(
        results["json_mixed"].get("columnar", 0) / N_KERNEL_DOCS, 4)

    # route_vs_kernel (round 7, VERDICT r6 #3): the headline
    # route-over-kernel ratio, measured HERE so the driver-diffable
    # BENCH artifact carries it instead of only the scaling harness's
    # BASELINE.md.  Protocol: bench_entries.interleaved_pair, on a
    # workload 4× larger so the route's fixed floors (job dispatch,
    # Python worker handshake) amortize the way they do at real scale
    # (margin grows with size — BENCH/BASELINE.md r6 bullet).  MIN per
    # side over the pairs, ratio of the mins; the loadavg fields bound
    # the pressure this specific block endured.
    n_pair = int(os.environ.get("SPARK_GRAFT_BENCH_PAIR_DOCS",
                                str(4 * N_KERNEL_DOCS)))
    route_vs_kernel, route_pair = _pair(
        representative_json_docs(spark, n_pair, num_partitions=CPUS * 3),
        REPRESENTATIVE_KERNEL_CONTRACT, "route", n_pair)

    # route_auto_trivial (round 8, VERDICT r7 #1): the auto-vs-kernel
    # pair on the LIGHTEST contract class — the round-7 suspected loss
    # case.  Auto (which routes it) must hold ≥ parity with the forced
    # kernel plane, else the default plan choice is the measured-slower
    # one.  Same protocol and 4× scale as route_vs_kernel: the routed
    # plan's fixed floor amortizes only over large batches, and the pair
    # must measure the large-batch regime auto is designed for.
    auto_trivial, auto_trivial_pair = _pair(
        trivial_json_docs(spark, n_pair, num_partitions=CPUS * 3),
        TRIVIAL_CONTRACT, "auto", n_pair)

    # plane-coverage pin (VERDICT r3 #6): a silent regression of
    # flagship-contract keywords from Plane A (Catalyst) to Plane B
    # (kernel UDF) must show up in BENCH_r*.json diffs
    cov = compile_for(inputs.get("pages"), PAGE_CONTRACT).coverage()

    total = round(sum(timings.values()), 3)
    out = {
        "metric": "validated docs/sec (pages/sec) at bench scale",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": _sf_label(SF_DIR),
        "pages_per_sec": round(N_PAGES / timings["flagship_validate"], 1),
        "n_pages": N_PAGES,
        "cpus": CPUS,
        "kernel_docs_per_sec": round(
            N_KERNEL_DOCS / timings["kernel_json"], 1),
        "json_columnar_docs_per_sec": round(
            N_KERNEL_DOCS / timings["json_columnar"], 1),
        "json_route_rate": route_rate,
        "route_vs_kernel": route_vs_kernel,
        "route_pair": route_pair,
        "route_auto_trivial": auto_trivial,
        "route_auto_trivial_pair": auto_trivial_pair,
        "n_kernel_docs": N_KERNEL_DOCS,
        "plane_a_pct": round(cov["plane_a_fraction"] * 100, 1),
        # protocol (round 6): each entry is MIN of 3 timed fresh-plan
        # passes after a warm pass; loadavg bounds the ambient pressure
        "timing": "min_of_3",
        "loadavg_before": [round(x, 2) for x in loadavg_before],
        "loadavg_after": [round(x, 2) for x in os.getloadavg()],
    }
    print(json.dumps(out))
    inputs.close()
    spark.stop()


if __name__ == "__main__":
    main()
