"""Public column-function API: jema.js semantics as reusable
``pyspark.sql.Column`` builders.

These are the building blocks the compiler emits, exposed for direct
DataFrame use (e.g. ad-hoc filters with ECMAScript regex semantics or
JS float arithmetic) — all JVM-side except the documented Python-regex
fallback of :func:`js_rlike`.
"""

from __future__ import annotations

# module-level: with postponed annotations, pandas_udf resolves the
# pd.Series type hints through the function's globals — a function-local
# import left them unresolvable (latent until round 7, when \p{...}
# support made the Python-regex fallback reachable)
import pandas as pd

from pyspark.sql import Column
from pyspark.sql import functions as F

from jema_js_spark.kernel.regex_js import (
    UnsupportedRegexError,
    java_regex_or_none,
    translate,
)

__all__ = ["js_rlike", "js_length", "js_multiple_of_col", "js_round",
           "canonical_json"]


def js_rlike(col: Column, ecma_pattern: str) -> Column:
    """Unanchored ECMAScript-dialect regex test — the semantics of
    ``new RegExp(p, 'u').test(v)`` (reference schema.js:493-496).

    Fast path: dialect-translated ``rlike`` (pure JVM).  Patterns
    outside the Java-safe subset fall back to an Arrow-batched pandas
    UDF running Python ``re`` on the *single column* — never a
    whole-row kernel round-trip."""
    jre = java_regex_or_none(ecma_pattern)
    if jre is not None:
        return col.rlike(jre)
    py = translate(ecma_pattern, target="python")

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("boolean")
    def _match(s: pd.Series) -> pd.Series:
        import re

        from jema_js_spark.validation.kernel_udf import (
            _skip_unchanged_zip_rereads)

        _skip_unchanged_zip_rereads()
        rx = re.compile(py)
        return s.map(lambda x: None if x is None
                     else rx.search(x) is not None).astype("boolean")

    return _match(col)


def js_rlike_is_jvm(ecma_pattern: str) -> bool:
    """True when :func:`js_rlike` stays on the JVM for this pattern."""
    return java_regex_or_none(ecma_pattern) is not None


def js_length(col: Column) -> Column:
    """Code-point string length — ``[...v].length`` semantics
    (schema.js:486,490).  Spark's ``length`` already counts code
    points; this exists as the documented semantic anchor."""
    return F.length(col)


def js_round(col: Column) -> Column:
    """JS ``Math.round``: nearest integer, ties toward +infinity (NOT
    banker's rounding) — SURVEY.md §7.4.  Doubles ≥ 2^53 are already
    integral (and Spark's long-returning floor would saturate)."""
    f = F.floor(col).cast("double")
    rounded = F.when(col - f < 0.5, f).otherwise(f + 1)
    return F.when(F.abs(col) >= F.lit(float(1 << 53)), col).otherwise(rounded)


def js_multiple_of_col(col: Column, m: float) -> Column:
    """Float-tolerant multipleOf (schema.js:462-468):
    ``q*m == Math.round(q)*m`` in IEEE doubles."""
    v = col.cast("double")
    q = v / F.lit(float(m))
    finite = (~F.isnan(q)) & (q != F.lit(float("inf"))) & (q != F.lit(float("-inf")))
    return finite & (q * F.lit(float(m)) == js_round(q) * F.lit(float(m)))


def canonical_json(col: Column) -> Column:
    """Canonical JSON of a struct/array column for key-order-insensitive
    comparison.  Struct columns already have a fixed field order, so
    ``to_json`` is canonical per shape; use this for equality keys
    (uniqueItems-style) rather than human output."""
    return F.to_json(col)
