"""Plane-B execution: the row kernel inside Arrow-batched pandas UDFs.

The input contract mandates "vectorized pandas/Arrow UDFs (no per-row
Python)" — transport is always Arrow batches; the kernel walks each
JSON document within a batch with one pre-compiled ``Validator`` per
executor (the reference re-derefs nothing per call either — its
compiled form is the deref'd tree, schema.js:103-126).

Executor-side caching: schemas ship as JSON in the UDF closure and are
compiled once per (schema, remotes) key per Python worker, so a
100-executor cluster compiles each schema at most once per worker
process, not per batch.
"""

from __future__ import annotations

import json
import os
import sys
import zipimport
from typing import Any, Dict, Optional

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from jema_js_spark.kernel.kernel import _RECURSION_LIMIT

__all__ = ["kernel_validate_udf", "kernel_error_count_udf", "loads_doc"]

# per-Python-worker compiled-schema cache
_VALIDATOR_CACHE: Dict[str, Any] = {}

_ZIP_HOOK_DONE = False


def _skip_unchanged_zip_rereads() -> None:
    """Make ``zipimporter.invalidate_caches`` skip unchanged archives.

    pyspark's worker calls ``importlib.invalidate_caches()`` at the start
    of every task, and before Python 3.13 each zipimporter then re-reads
    its archive's directory eagerly: a worker that imported pyspark and
    py4j from their zips holds one importer per package directory, so
    every task re-read the 3.5 MB ``pyspark.zip`` about 16 times
    (160-430 ms per task on a 4-vCPU box).  Once installed, an importer
    re-reads only when the archive's ``(st_mtime_ns, st_size, st_ino)``
    differs from the stamp taken at its own last read, so a rewritten or
    replaced archive (a re-added ``addPyFile`` zip) is still picked up.
    Idempotent, one flag test per call; a no-op on Python 3.13+, where
    the re-read is lazy.  Only reused workers benefit: the task that
    installs it has already paid its re-reads."""
    global _ZIP_HOOK_DONE
    if _ZIP_HOOK_DONE:
        return
    _ZIP_HOOK_DONE = True
    if sys.version_info >= (3, 13):
        return
    reread = zipimport.zipimporter.invalidate_caches

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
        except OSError:
            stamp = None
        if stamp is None or stamp != getattr(self, "_jema_stamp", None):
            reread(self)
            self._jema_stamp = stamp

    zipimport.zipimporter.invalidate_caches = invalidate_caches


def _get_validator(schema_json: str, remotes_json: Optional[str],
                   format_assertion: bool):
    _skip_unchanged_zip_rereads()
    key = f"{format_assertion}|{remotes_json or ''}|{schema_json}"
    v = _VALIDATOR_CACHE.get(key)
    if v is None:
        from jema_js_spark.kernel.kernel import Validator
        from jema_js_spark.schema.frontend import Schema, SchemaRegistry

        registry = SchemaRegistry()
        if remotes_json:
            for url, doc in json.loads(remotes_json).items():
                registry.add_document(url, doc)
        schema = Schema(json.loads(schema_json), registry=registry)
        v = Validator(schema, format_assertion=format_assertion)
        _VALIDATOR_CACHE[key] = v
    return v


_NONFINITE = {"NaN": float("nan"), "Infinity": float("inf"),
              "-Infinity": float("-inf")}


def loads_doc(x: Optional[str]):
    """``json.loads`` for DOCUMENTS, under the kernel's recursion
    budget.  Python's default 1000-frame limit is reached by a mere
    ~1000-deep array, and the resulting RecursionError escaped the
    callers' ``except (TypeError, ValueError)`` parse guards — ONE
    hostile document killed the whole Spark job (round-7 probe; at
    100 TB that is a denial-of-service vector).  Matching
    ``Validator.validate``, the limit is raised to _RECURSION_LIMIT
    for the parse (the C scanner checks it and raises cleanly — probed
    to 25k frames on 8 MB stacks), and a document still deeper than
    the budget surfaces as ``ValueError`` so every existing
    "unparseable" path handles it: verdict False / __parse__ row,
    never a dead executor.

    Round 9: when the limit is already at/above the budget (the batch
    loops in this module raise it once per Arrow batch), the per-call
    set/restore syscall pair is skipped — same budget, same failure
    surface (and the imports live at module level: two per-call IMPORT
    statements measured ~1.4 µs/doc on the UDF hot loop)."""
    if x is None:
        return None
    old = sys.getrecursionlimit()
    if old >= _RECURSION_LIMIT:
        try:
            return json.loads(x)
        except RecursionError:
            raise ValueError(
                "document nesting exceeds the kernel depth budget") from None
    try:
        sys.setrecursionlimit(_RECURSION_LIMIT)
        return json.loads(x)
    except RecursionError:
        raise ValueError(
            "document nesting exceeds the kernel depth budget") from None
    finally:
        sys.setrecursionlimit(old)


class _raised_recursion_limit:
    """Context manager: raise the recursion limit to the kernel budget
    for a whole Arrow batch, so the per-row guards in ``loads_doc`` and
    ``Validator.validate`` become no-ops (one syscall pair per batch
    instead of two per row)."""

    __slots__ = ("_old",)

    def __enter__(self):
        self._old = sys.getrecursionlimit()
        if self._old < _RECURSION_LIMIT:
            sys.setrecursionlimit(_RECURSION_LIMIT)
        return self

    def __exit__(self, *exc):
        sys.setrecursionlimit(self._old)
        return False


def _restore_nonfinite(value: Any, paths) -> Any:
    """Undo to_json's stringification of non-finite doubles at known
    float paths ('*' = every array/map element).  A string at a float
    path is unambiguous: a real float column cannot hold strings."""
    def fix(node, path):
        if not path:
            if isinstance(node, str):
                return _NONFINITE.get(node, node)
            return node
        head, rest = path[0], path[1:]
        if head == "*":
            if isinstance(node, list):
                return [fix(x, rest) for x in node]
            if isinstance(node, dict):
                return {k: fix(x, rest) for k, x in node.items()}
            return node
        if isinstance(node, dict) and head in node:
            node = dict(node)
            node[head] = fix(node[head], rest)
        return node

    for p in paths:
        value = fix(value, tuple(p))
    return value


def kernel_validate_udf(schema: Any, remotes: Optional[dict] = None,
                        format_assertion: bool = False,
                        float_paths: Optional[list] = None,
                        unwrap_array: bool = False):
    """Boolean pandas UDF: validates a column of JSON strings against
    ``schema`` with full draft 2020-12 kernel semantics.

    SQL NULL input validates as JSON ``null`` (the undefined≈null
    bridge, schema.js:678).  ``float_paths`` restores NaN/Infinity that
    ``to_json`` had to stringify (JSON has no non-finite literals).
    Rows that exceed the kernel depth limit or hit an unresolvable ref
    count as invalid rather than failing the task."""
    schema_json = json.dumps(schema)
    remotes_json = json.dumps(remotes) if remotes else None
    fpaths = [tuple(p) for p in (float_paths or [])]

    @pandas_udf("boolean")
    def _validate(s: pd.Series) -> pd.Series:
        v = _get_validator(schema_json, remotes_json, format_assertion)

        def one(x):
            try:
                value = loads_doc(x)
            except (TypeError, ValueError):
                return False
            if unwrap_array and isinstance(value, list):
                value = value[0] if value else None
            if fpaths:
                value = _restore_nonfinite(value, fpaths)
            try:
                return v.validate(value)
            except Exception:
                return False

        # Null fast path (round 6): the JSON columnar route masks
        # already-judged rows to SQL NULL before this UDF (a pandas UDF
        # in a CaseWhen branch is still projected for EVERY row by
        # ArrowEvalPython), so a mostly-routed batch is mostly nulls.
        # All nulls share one deterministic verdict — validate(JSON
        # null) — so compute it once and vector-fill instead of walking
        # the kernel per row.  Semantics unchanged: SQL NULL still
        # validates as JSON null (schema.js:678).
        with _raised_recursion_limit():
            notna = s.notna()
            if notna.all():
                return s.map(one).astype("boolean")
            out = pd.Series(one(None), index=s.index, dtype="boolean")
            if notna.any():
                out[notna] = s[notna].map(one).astype("boolean")
            return out

    return _validate


def kernel_validate_pair_udf(remotes: Optional[dict] = None,
                             format_assertion: bool = False):
    """Boolean pandas UDF over (schema_json, data_json) column pairs —
    the suite-fixture evaluation path (FIXTURES.md §1): thousands of
    distinct schemas validated in ONE job, schemas compiled once per
    worker via the executor cache instead of one Spark job per schema."""
    remotes_json = json.dumps(remotes) if remotes else None

    @pandas_udf("boolean")
    def _validate(schemas: pd.Series, datas: pd.Series) -> pd.Series:
        out = []
        with _raised_recursion_limit():
            for schema_json, data_json in zip(schemas, datas):
                try:
                    v = _get_validator(schema_json, remotes_json,
                                       format_assertion)
                    value = loads_doc(data_json)
                    out.append(v.validate(value))
                except Exception:
                    out.append(False)
        return pd.Series(out, dtype="boolean")

    return _validate


def kernel_error_count_udf(schema: Any, remotes: Optional[dict] = None,
                           format_assertion: bool = False):
    """Int pandas UDF: number of violations per JSON document (the
    errors()-materializing twin of :func:`kernel_validate_udf`)."""
    schema_json = json.dumps(schema)
    remotes_json = json.dumps(remotes) if remotes else None

    @pandas_udf("int")
    def _count(s: pd.Series) -> pd.Series:
        v = _get_validator(schema_json, remotes_json, format_assertion)

        def one(x):
            try:
                value = loads_doc(x)
                return len(list(v.iter_errors(value)))
            except Exception:
                return -1

        with _raised_recursion_limit():
            return s.map(one).astype("int32")

    return _count
