"""DataFrame validation engine: the collection-level entry points.

Maps the reference's per-document API onto whole-DataFrame operations
(SURVEY.md §1.3):

========================  ====================================================
reference                 engine
========================  ====================================================
``schema.validate(v)``    :func:`with_valid` — boolean column per row
``schema.errors(v)``      :func:`violation_rows` — exploded violation rows
(per-call)                :func:`partition_verdicts` — per-partition pass/fail
========================  ====================================================

Everything here is lazy DataFrame algebra: one projection computes all
check predicates (the fused-pass idea the reference's experimental
build hints at, tools/schema-probably-faster.js:210-316), violations
are materialized only in the errors path (mirroring the reference's
validate-vs-errors laziness split, schema.js:59-73), and verdicts are a
map-side-combinable aggregation keyed by ``spark_partition_id()``.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from jema_js_spark.compiler.compile import CompiledPlan, SchemaCompiler
from jema_js_spark.runtime.colcache import cached_column
from jema_js_spark.schema.frontend import contract_key

__all__ = ["compile_for", "with_valid", "violation_rows",
           "partition_verdicts"]

# Round 9: session-scoped compiled-plan memo (runtime/colcache.py).
# Compiling a contract is driver-side py4j expression construction —
# hundreds of JVM round trips — and was paid on EVERY
# with_valid/violation_rows call even for an unchanged (schema,
# input-shape) pair.  A CompiledPlan is a bundle of immutable Column
# expression trees addressed by field name, so it is reusable across
# any DataFrame with the same schema in the same Spark application
# (colcache scopes every key to the applicationId, retiring handles
# from stopped sessions).  This caches plan CONSTRUCTION only — every
# query still builds a fresh DataFrame lineage and recomputes from its
# inputs.
def _compile_key(df: DataFrame, schema, format_assertion: bool):
    text = contract_key(schema)
    if text is None:
        return None
    return ("engine.compile_for", text, format_assertion, df.schema.json())


def compile_for(df: DataFrame, schema, format_assertion: bool = False
                ) -> CompiledPlan:
    return cached_column(
        _compile_key(df, schema, format_assertion),
        lambda: SchemaCompiler(
            schema, format_assertion=format_assertion).compile_plan(df))


def with_valid(df: DataFrame, schema, col_name: str = "valid",
               format_assertion: bool = False) -> DataFrame:
    """``validate()`` over every row: adds a boolean column, computed
    entirely JVM-side for Plane-A schemas."""
    plan = compile_for(df, schema, format_assertion)
    return plan.with_valid(df, col_name)


def violation_rows(df: DataFrame, schema, id_cols: Sequence[str],
                   format_assertion: bool = False) -> DataFrame:
    """``errors()`` over every row: one output row per failed check,
    carrying the reference's error fields (message template, schema
    path, data path — schema.js:665-674) plus the row's identifier
    columns.

    Valid rows produce an empty array pre-explode, so the shuffle/write
    volume is proportional to violations, not to table size.

    Round 9 (guide §1.2 "don't compute things you throw away"): for a
    pure-Plane-A plan the valid rows are pre-filtered with the cheap
    AND-of-predicates BEFORE the violation structs are built, so the
    message-formatting expressions (struct + concat + array + filter
    per check) run only on violating rows instead of every row.
    Output-identical: a row passes the ``~valid`` filter iff at least
    one predicate is false, which is exactly "emits ≥1 violation" (a
    NULL predicate emits nothing and NULLs the conjunction — dropped
    by the filter, empty after explode before).  Plane-B-carrying
    plans keep the single-pass shape: their predicates embed pandas
    UDFs, and a filter + re-projection would run the Python stage
    twice per row.
    """
    plan = compile_for(df, schema, format_assertion)
    src = df
    if all(c.plane == "A" for c in plan.checks):
        src = df.filter(~plan.valid_column())
    out = src.select(*[F.col(c) for c in id_cols],
                     F.explode(plan.violations_struct()).alias("violation"))
    return out.select(
        *id_cols,
        F.col("violation.check").alias("check"),
        F.col("violation.keyword").alias("keyword"),
        F.col("violation.schema_path").alias("schema_path"),
        F.col("violation.data_path").alias("data_path"),
        F.col("violation.schema_value").alias("schema_value"),
        F.col("violation.message").alias("message"),
    )


def partition_verdicts(df: DataFrame, schema=None, valid_col: str = "valid",
                       partition_col: Optional[Column] = None) -> DataFrame:
    """Per-partition pass/fail + metrics rows (SURVEY.md §1.3): the unit
    of checkpoint/resume lineage.  Partial (map-side) aggregation makes
    this a near-free pass over the scan."""
    if schema is not None:
        df = with_valid(df, schema, valid_col)
    pid = partition_col if partition_col is not None else F.spark_partition_id()
    return (
        df.groupBy(pid.alias("partition_id"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col(valid_col).cast("long")).alias("n_valid"),
            (F.count(F.lit(1)) - F.sum(F.col(valid_col).cast("long"))).alias("n_invalid"),
        )
        .withColumn("passed", F.col("n_invalid") == 0)
    )

