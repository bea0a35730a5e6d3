#!/usr/bin/env python
"""Production validation job — the spark-submit deployment surface.

    spark-submit --py-files jema_js_spark.zip jobs/validate_pages.py \
        --input  s3://bucket/pages/            \
        --schema contract.json                 \
        --output s3://bucket/validation-run-1/ \
        --run-id crawl-2024-01 [--resume] [--manifest path]

Per partition-day of ``warc_ts`` (the Iceberg-style partition unit) it
writes: verdict rows, violation rows, per-column metrics — and marks
the day done in the checkpoint ledger, so a killed job re-submitted
with ``--resume`` skips completed days (north-rule resumability).
Dataset-level checks (url uniqueness, warc_ts→manifest referential)
run once over the full input and land in ``<output>/dataset_checks``.

``--json-col doc`` switches the validation surface to a dynamic JSON
string column: verdicts via the routed columnar/kernel planes
(with_valid_json) and violations in the reference's message shape via
json_violation_rows — the same ledger/resume machinery.

``--keys-from hive --partition-col day`` plans the todo list from the
input's hive directory layout (``<input>/day=<key>/``) instead of a
distinct scan — metadata-only planning, and the per-day filter becomes
a partition-pruned scan.  ``--keys-from iceberg:<table>`` reads the
catalog's ``.partitions`` metadata table.

Build the --py-files archive with::

    python -c "import shutil; shutil.make_archive('jema_js_spark', 'zip', '.', 'jema_js_spark')"
"""

from __future__ import annotations

import argparse
import json

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--schema", required=True, help="JSON Schema file")
    ap.add_argument("--output", required=True)
    ap.add_argument("--run-id", required=True)
    ap.add_argument("--manifest", help="crawl-manifest parquet (windows)")
    ap.add_argument("--resume", action="store_true",
                    help="skip partition-days the ledger marks done")
    ap.add_argument("--id-col", default="url")
    ap.add_argument("--ts-col", default="warc_ts")
    ap.add_argument("--json-col",
                    help="validate this JSON string column (routed "
                         "columnar/kernel planes) instead of the typed row")
    ap.add_argument("--keys-from", default="scan",
                    help="'scan' (distinct query), 'hive' (directory "
                         "listing of <input>/<partition-col>=*), or "
                         "'iceberg:<table>' (catalog partitions metadata)")
    ap.add_argument("--partition-col",
                    help="physical partition column for hive/iceberg key "
                         "sources (default: day derived from --ts-col)")
    args = ap.parse_args()

    spark = SparkSession.builder.appName(f"jema-validate-{args.run_id}") \
        .getOrCreate()

    from jema_js_spark.operators.referential import ts_window_violations
    from jema_js_spark.operators.stats import column_stats_long
    from jema_js_spark.operators.uniqueness import uniqueness_report
    from jema_js_spark.runtime.checkpoint import (
        CheckpointLedger, hive_partition_keys, iceberg_partition_keys,
        run_partitioned)
    from jema_js_spark.validation.engine import violation_rows, with_valid
    from jema_js_spark.validation.json_plane import (json_violation_rows,
                                                     with_valid_json)

    with open(args.schema) as f:
        schema = json.load(f)

    pages = spark.read.parquet(args.input)
    ledger = CheckpointLedger(spark, f"{args.output}/ledger", args.run_id)
    if not args.resume:
        # fresh run id implies a fresh ledger namespace; nothing to wipe
        pass

    if args.keys_from == "scan":
        day = F.to_date(F.col(args.ts_col)).cast("string")
        provider = None
    else:
        pcol_name = args.partition_col or "day"
        day = F.col(pcol_name).cast("string")
        if args.keys_from == "hive":
            provider = hive_partition_keys(spark, args.input, pcol_name)
        elif args.keys_from.startswith("iceberg:"):
            provider = iceberg_partition_keys(
                spark, args.keys_from.split(":", 1)[1], pcol_name)
        else:
            raise SystemExit(f"unknown --keys-from {args.keys_from!r}")

    def work(part_df, key: str) -> dict:
        out = f"{args.output}/days/{key}"
        # coalesce: F.sum over an EMPTY partition slice (a key listed
        # by a metadata provider whose rows were compacted away) is
        # SQL NULL, and the n_invalid/n_kernel subtractions below would
        # TypeError on None instead of recording zeros (round-7 review)
        aggs = [F.count(F.lit(1)).alias("n_rows"),
                F.coalesce(F.sum(F.col("valid").cast("long")),
                           F.lit(0)).alias("n_valid")]
        if args.json_col:
            # route_col: the routed/kernel split per partition lands in
            # the ledger metrics (round 7, VERDICT r6 #4) — a routing-
            # gate regression in production keeps verdicts right but
            # collapses throughput, and without these counts it is
            # invisible until someone reads a Spark UI
            valid = with_valid_json(part_df, args.json_col, schema,
                                    route_col="route")
            viol = json_violation_rows(part_df, args.json_col, schema,
                                       id_cols=[args.id_col])
            aggs.append(F.coalesce(
                F.sum((F.col("route") == "columnar").cast("long")),
                F.lit(0)).alias("n_routed"))
        else:
            valid = with_valid(part_df, schema)
            viol = violation_rows(part_df, schema, id_cols=[args.id_col])
        verdict = valid.agg(*aggs).collect()[0]
        viol.write.mode("overwrite").parquet(f"{out}/violations")
        column_stats_long(part_df).write.mode("overwrite") \
            .parquet(f"{out}/metrics")
        metrics = {"n_rows": verdict["n_rows"], "n_valid": verdict["n_valid"],
                   "n_invalid": verdict["n_rows"] - verdict["n_valid"]}
        if args.json_col:
            metrics["n_routed"] = verdict["n_routed"]
            metrics["n_kernel"] = verdict["n_rows"] - verdict["n_routed"]
        return metrics

    results = run_partitioned(spark, pages, day, ledger, work,
                              key_provider=provider)

    checks = {"uniqueness": uniqueness_report(pages, args.id_col)}
    if args.manifest:
        manifest = spark.read.parquet(args.manifest)
        checks["ts_window_orphans"] = ts_window_violations(
            pages, args.ts_col, manifest, "window").count()
    spark.createDataFrame([(json.dumps(checks),)], "checks string") \
        .coalesce(1).write.mode("overwrite") \
        .parquet(f"{args.output}/dataset_checks")

    done = sum(1 for m in results.values() if not m.get("skipped"))
    skipped = sum(1 for m in results.values() if m.get("skipped"))
    print(json.dumps({"run_id": args.run_id, "partitions_done": done,
                      "partitions_skipped": skipped, "checks": checks}))
    spark.stop()


if __name__ == "__main__":
    main()
