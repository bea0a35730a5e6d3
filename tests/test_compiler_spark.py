"""Differential correctness gate for the Plane-A columnar compiler:
for every (schema, row), the compiled Column predicate must agree with
the row kernel (the semantic anchor) under the relational bridge
(SQL NULL ⇔ JSON null/missing — compiler module docstring).
"""

from __future__ import annotations

import datetime as dt
import decimal
import math

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from jema_js_spark.compiler.compile import SchemaCompiler
from jema_js_spark.kernel.kernel import Validator
from jema_js_spark.schema.frontend import Schema
from jema_js_spark.validation.engine import (
    partition_verdicts,
    violation_rows,
    with_valid,
)

ROWS_SCHEMA = T.StructType([
    T.StructField("id", T.LongType()),
    T.StructField("url", T.StringType()),
    T.StructField("text", T.StringType()),
    T.StructField("lang", T.StringType()),
    T.StructField("score", T.DoubleType()),
    T.StructField("n", T.LongType()),
    T.StructField("flag", T.BooleanType()),
    T.StructField("tags", T.ArrayType(T.StringType())),
    T.StructField("nums", T.ArrayType(T.DoubleType())),
    T.StructField("meta", T.StructType([
        T.StructField("zip", T.StringType()),
        T.StructField("depth", T.LongType()),
    ])),
])

ROWS = [
    (0, "https://a.example/x", "hello world", "en", 0.5, 3, True,
     ["a", "b"], [1.0, 2.0], ("8000", 2)),
    (1, "ftp://bad/x", "", "xx", -1.5, 100, False, [], [1.0, 1.0], ("80", None)),
    (2, None, None, None, None, None, None, None, None, None),
    (3, "https://b.example/y", "short", "de", float("nan"), 7, True,
     ["a", "a"], [2.5], ("9999", 1)),
    (4, "https://c.example/z", "x" * 50, "fr", float("inf"), -2, False,
     ["z"], [3.0, 4.0, 5.5], (None, 0)),
    (5, "https://d.example/w", "emoji \U0001F600 text", "es", 2.0, 0, True,
     ["b", "c", "b"], [], ("1234", 9)),
    (6, "https://x.example/\U0001F600", "\U0001F4A9" * 3, "zz", -0.0, -100,
     None, [""], [0.5, -0.0], ("", None)),
    (7, "https://y.example/a$b(c)*", "\n\n", "", 1e308, 1, False,
     None, [float("-inf")], None),
    (8, "https://z.example/q", "x", "en", 1e-7, 9223372036854775807, True,
     ["a", "b", "c", "d", "e"], [1.0, 1.0, 1.0], ("00", 0)),
]

SCHEMAS = [
    {"type": "object"},
    {"required": ["url", "text", "lang"]},
    {"properties": {"url": {"type": "string", "maxLength": 30,
                             "pattern": "^https?://"}}},
    {"properties": {"text": {"type": "string", "minLength": 1}}},
    {"properties": {"lang": {"enum": ["en", "de", "fr", "es"]}}},
    {"properties": {"score": {"type": "number", "minimum": 0}}},
    {"properties": {"score": {"type": "integer"}}},
    {"properties": {"n": {"type": "integer", "multipleOf": 3,
                           "exclusiveMinimum": -5, "maximum": 50}}},
    {"properties": {"flag": {"type": "boolean", "const": True}}},
    {"properties": {"tags": {"type": "array", "minItems": 1, "maxItems": 2,
                              "uniqueItems": True,
                              "items": {"type": "string", "minLength": 1}}}},
    {"properties": {"nums": {"contains": {"minimum": 2}, "minContains": 1,
                              "maxContains": 2}}},
    {"properties": {"nums": {"prefixItems": [{"minimum": 1.5}],
                              "items": {"maximum": 5}}}},
    {"properties": {"meta": {"type": "object",
                              "properties": {"zip": {"minLength": 4}},
                              "required": ["zip"]}}},
    {"properties": {"meta": {"minProperties": 2}}},
    {"dependentRequired": {"url": ["lang"]}},
    {"dependentSchemas": {"url": {"required": ["text"]}}},
    {"anyOf": [{"properties": {"lang": {"const": "en"}}, "required": ["lang"]},
               {"properties": {"n": {"minimum": 50}}, "required": ["n"]}]},
    {"oneOf": [{"required": ["url"]}, {"required": ["score"]}]},
    {"not": {"properties": {"lang": {"const": "xx"}}, "required": ["lang"]}},
    {"if": {"properties": {"lang": {"const": "en"}}, "required": ["lang"]},
     "then": {"properties": {"n": {"minimum": 0}}},
     "else": {"properties": {"n": {"maximum": 10}}}},
    {"$defs": {"u": {"type": "string", "pattern": "^https://"}},
     "properties": {"url": {"$ref": "#/$defs/u"}}},
    {"allOf": [{"required": ["id"]},
               {"properties": {"id": {"minimum": 0}}}]},
    {"properties": {"lang": {"enum": ["en", None]}}},
    {"properties": {"lang": {"type": ["string", "null"]}}},
    {"propertyNames": {"minLength": 1}},
    {"propertyNames": {"maxLength": 3}},
    {"maxProperties": 9},
    {"minProperties": 10},
    # unevaluated* — static Plane-A analysis
    {"properties": {"meta": {"unevaluatedProperties": False,
                              "properties": {"zip": {}}}}},
    {"unevaluatedProperties": False,
     "properties": {"id": {}, "url": {}, "text": {}, "lang": {}, "score": {},
                     "n": {}, "flag": {}, "tags": {}, "nums": {}, "meta": {}}},
    {"unevaluatedProperties": False,
     "allOf": [{"properties": {"id": {}, "url": {}, "text": {}, "lang": {}}},
               {"properties": {"score": {}, "n": {}, "flag": {}, "tags": {}}}],
     "properties": {"nums": {}, "meta": {}}},
    {"unevaluatedProperties": {"type": "string"},
     "properties": {"id": {}, "url": {}, "text": {}, "lang": {}, "score": {},
                     "n": {}, "flag": {}, "nums": {}, "meta": {}}},
    {"unevaluatedProperties": False,
     "properties": {"id": {}, "url": {}, "text": {}, "lang": {}, "score": {},
                     "n": {}, "flag": {}, "tags": {}, "nums": {}},
     "if": {"properties": {"lang": {"const": "en"}}, "required": ["lang"]},
     "then": {"properties": {"meta": {}}}},
    {"properties": {"nums": {"prefixItems": [{"minimum": 0}],
                              "unevaluatedItems": {"maximum": 3}}}},
    {"properties": {"nums": {"contains": {"minimum": 3},
                              "unevaluatedItems": {"maximum": 2}}}},
    {"properties": {"nums": {"items": {"minimum": 0},
                              "unevaluatedItems": False}}},
    # deep enum/const on struct/array columns — Plane-A typed literals
    {"properties": {"meta": {"enum": [{"zip": "8000", "depth": 2},
                                        {"zip": "9999", "depth": 1}]}}},
    {"properties": {"meta": {"const": {"zip": "8000", "depth": 2}}}},
    {"properties": {"meta": {"const": {"depth": 0}}}},
    {"properties": {"meta": {"enum": [{}]}}},
    {"properties": {"meta": {"const": {"zip": "8000", "depth": 2,
                                         "extra": 1}}}},
    {"properties": {"tags": {"enum": [["a", "b"], ["z"], []]}}},
    {"properties": {"nums": {"const": [1.0, 2.0]}}},
    {"properties": {"nums": {"enum": [[1, 2], [2.5]]}}},
    {"properties": {"tags": {"const": ["a", "a"]}}},
    {"properties": {"meta": {"enum": [{"zip": "8000", "depth": 2}, None]}}},
    # Plane-B handoff fidelity: NaN (score of row 3) must survive the
    # to_json round-trip as a NUMBER, not the string "NaN" — regression
    # from the seed-99 randomized hunt
    {"oneOf": [
        {"if": {"properties": {"n": True, "nums": True, "lang": True,
                                 "tags": True, "meta": True, "id": True,
                                 "flag": True},
                 "unevaluatedProperties": False},
         "then": {"properties": {"lang": {"maxLength": 9}}},
         "else": {"properties": {"lang": {"maxLength": 5, "minLength": 17}}}},
        {"allOf": [{"properties": {"lang": {"maxLength": 24}}},
                    {"properties": {"url": True, "nums": True, "n": True,
                                     "tags": True, "text": True, "flag": True},
                      "unevaluatedProperties": {"type": "string"}},
                    {"properties": {"n": {"maximum": 94, "multipleOf": 0.5,
                                            "minimum": 4}}}]},
        {"properties": {"nums": {"minItems": 2}}}]},
    # unevaluated* with anyOf — must stay on Plane B and still match
    {"unevaluatedProperties": False,
     "anyOf": [{"properties": {"id": {}, "url": {}, "text": {}, "lang": {},
                                 "score": {}, "n": {}, "flag": {}, "tags": {},
                                 "nums": {}, "meta": {}},
                 "required": ["url"]},
                {"properties": {"id": {}}, "required": ["id"]}]},
    # ADVICE r1: the `if` PROBE itself claims keys (the kernel records
    # them even when the probe fails — partial claims) — keys claimed
    # only by the probe must route unevaluatedProperties to Plane B
    {"unevaluatedProperties": False,
     "properties": {"id": {}, "url": {}, "text": {}, "lang": {},
                     "score": {}, "flag": {}, "tags": {}, "nums": {},
                     "meta": {}},
     "if": {"properties": {"n": {"type": "string"}}}},
    {"unevaluatedProperties": False,
     "properties": {"b_never": {}},
     "if": {"properties": {"lang": {"type": "string"}}}},
    # ADVICE r1: $ref inside a Plane-B fallback subtree — the detached
    # mini-schema must still resolve against the root's $defs (was:
    # RefResolutionError swallowed as all-rows-invalid)
    {"$defs": {"everything": {"properties": {
         "id": {}, "url": {}, "text": {}, "lang": {}, "score": {},
         "n": {}, "flag": {}, "tags": {}, "nums": {}, "meta": {}}}},
     "$ref": "#/$defs/everything",
     "unevaluatedProperties": False},
    {"$defs": {"langish": {"enum": ["en", "de", "fr"]}},
     "not": {"properties": {"lang": {"$ref": "#/$defs/langish"}},
              "required": ["lang"],
              "unevaluatedProperties": True}},
    # ADVICE r1: schema-form `dependencies` claims keys — carried into
    # the unevaluated* fallback so the kernel sweep sees them
    {"unevaluatedProperties": False,
     "properties": {"id": {}, "text": {}, "lang": {}, "score": {}, "n": {},
                     "flag": {}, "tags": {}, "nums": {}, "meta": {}},
     "dependencies": {"id": {"properties": {"url": {}}}}},
    # round-2 randomized-hunt find (seed 13/95, minimized): the kernel's
    # evaluated set is SHARED across in-place applicator cousins — the
    # unevaluatedProperties sweep inside allOf[1] sees 'id' claimed by
    # the abandoned anyOf branch in allOf[0].  A branch-detached Plane-B
    # fallback missed that claim; the whole node must be one kernel check.
    {"allOf": [
        {"anyOf": [
            {"properties": {"text": True, "meta": True, "score": True,
                             "url": True, "id": True, "tags": True,
                             "n": True, "lang": True},
             "unevaluatedProperties": {"type": "number"},
             "if": {"properties": {"url": {"type": "string"}},
                     "required": ["url"]},
             "then": {"properties": {"text": True}}},
            {"properties": {"lang": {"maxLength": 45}}}]},
        {"allOf": [
            {"properties": {"tags": True, "meta": True, "score": True,
                             "url": True, "n": True, "lang": True,
                             "nums": True},
             "unevaluatedProperties": False,
             "if": {"properties": {"text": {"type": "boolean"}}},
             "then": {"properties": {"score": True}}}]},
    ]},
    # cousin claims at a CHILD location: allOf[1] claims meta.zip, the
    # sweep lives under allOf[0] — same shared-evaluated-set hazard one
    # descent down
    {"allOf": [
        {"properties": {"meta": {"unevaluatedProperties": False,
                                  "properties": {"depth": True}}}},
        {"properties": {"meta": {"properties": {"zip": True}}}},
    ]},
    # -- round-5 static Plane-A specializations (VERDICT r4 #1) --------
    # anyOf with CLAIM-FREE branches (required/type only): collecting
    # mode probes every branch but none touches the evaluated set, so
    # the sweep is the pure static claim set — Plane A now
    {"unevaluatedProperties": False,
     "properties": {"id": {}, "url": {}, "text": {}, "lang": {},
                     "score": {}, "n": {}, "flag": {}, "tags": {},
                     "nums": {}, "meta": {}},
     "anyOf": [{"required": ["url"]}, {"required": ["id"]}]},
    # ...even when every branch FAILS (row invalid, sweep moot)
    {"unevaluatedProperties": {"type": "string"},
     "properties": {"id": {}, "lang": {}},
     "anyOf": [{"required": ["zzz_sail"]}, {"properties": {}}]},
    # anyOf branches whose claims are ⊆ the always-claimed set: a
    # failed probe's partial leak can only re-claim covered keys
    {"unevaluatedProperties": False,
     "properties": {"id": {}, "url": {}, "text": {}, "lang": {},
                     "score": {}, "n": {}, "flag": {}, "tags": {},
                     "nums": {}, "meta": {}},
     "anyOf": [{"properties": {"id": {"minimum": 1}}, "required": ["id"]},
                {"properties": {"url": {"minLength": 40}},
                 "required": ["url"]}]},
    # oneOf, same coverage rule
    {"unevaluatedProperties": False,
     "properties": {"id": {}, "url": {}, "text": {}, "lang": {},
                     "score": {}, "n": {}, "flag": {}, "tags": {},
                     "nums": {}, "meta": {}},
     "oneOf": [{"properties": {"lang": {"const": "en"}},
                 "required": ["lang"]},
                {"required": ["flag"]}]},
    # `not` suppresses claim collection entirely (stop_collecting) —
    # ignorable for the claim set when no nested not can plain-reset it
    {"unevaluatedProperties": False,
     "properties": {"id": {}, "url": {}, "text": {}, "lang": {},
                     "score": {}, "n": {}, "flag": {}, "tags": {},
                     "nums": {}, "meta": {}},
     "not": {"properties": {"lang": {"const": "zz"}}, "required": ["lang"]}},
    # nested not-in-not: the inner probe's exit RE-ENABLES collection
    # for the rest of the outer probe (plain reset, schema.js:412) —
    # must stay Plane B and still match the kernel bit-for-bit
    {"unevaluatedProperties": False,
     "properties": {"id": {}, "lang": {}},
     "not": {"not": {"required": ["id"]},
              "properties": {"url": {"type": "string"}}}},
    # $ref target claims flow like an inlined allOf branch — the
    # ADVICE-r1 idiom ($ref + unevaluatedProperties) is Plane A now
    {"$defs": {"half": {"properties": {"id": {}, "url": {}, "text": {},
                                         "lang": {}, "score": {}}}},
     "$ref": "#/$defs/half",
     "properties": {"n": {}, "flag": {}, "tags": {}, "nums": {},
                     "meta": {}},
     "unevaluatedProperties": False},
    # dependentSchemas claims are conditional on trigger-key presence —
    # statically expressible as a presence guard
    {"unevaluatedProperties": False,
     "properties": {"id": {}, "text": {}, "lang": {}, "score": {}, "n": {},
                     "flag": {}, "tags": {}, "nums": {}, "meta": {}},
     "dependentSchemas": {"id": {"properties": {"url": {}}}}},
    # ...and via the draft-4 schema-form dependencies shim; the list
    # form claims nothing
    {"unevaluatedProperties": False,
     "properties": {"id": {}, "text": {}, "lang": {}, "score": {}, "n": {},
                     "flag": {}, "tags": {}, "nums": {}, "meta": {}},
     "dependencies": {"id": {"properties": {"url": {}}},
                       "lang": ["text"]}},
    # trigger key outside the table shape: branch can never run,
    # claims vacuous — 'url' stays unclaimed and MUST be swept
    {"unevaluatedProperties": False,
     "properties": {"id": {}, "text": {}, "lang": {}, "score": {}, "n": {},
                     "flag": {}, "tags": {}, "nums": {}, "meta": {}},
     "dependentSchemas": {"zzz_sail": {"properties": {"url": {}}}}},
    # -- round-5 unevaluatedItems static claims (same frame as keys) --
    # allOf branches: max prefix claim wins, columnar
    {"properties": {"nums": {
        "allOf": [{"prefixItems": [{"minimum": 0}]},
                   {"prefixItems": [True, {"maximum": 5}]}],
        "unevaluatedItems": {"maximum": 3}}}},
    # items inside an allOf branch claims everything
    {"properties": {"nums": {
        "allOf": [{"items": {"minimum": 0}}],
        "unevaluatedItems": False}}},
    # claim-free anyOf beside the sweep
    {"properties": {"nums": {
        "prefixItems": [{"minimum": 0}],
        "anyOf": [{"minItems": 1}, {"maxItems": 0}],
        "unevaluatedItems": {"maximum": 3}}}},
    # anyOf branch claims BEYOND the covered prefix: Plane B, must
    # still match the kernel's partial-claim probe semantics
    {"properties": {"nums": {
        "prefixItems": [{"minimum": 0}],
        "anyOf": [{"prefixItems": [True, {"maximum": 2}]},
                   {"minItems": 0}],
        "unevaluatedItems": False}}},
    # not beside the sweep contributes nothing
    {"properties": {"nums": {
        "prefixItems": [True],
        "not": {"minItems": 4},
        "unevaluatedItems": {"maximum": 2}}}},
    # $ref target's prefix claims like an inlined allOf
    {"$defs": {"head2": {"prefixItems": [True, {"minimum": 1}]}},
     "properties": {"nums": {"$ref": "#/$defs/head2",
                              "unevaluatedItems": {"maximum": 3}}}},
    # covered if/then/else (claims within the node prefix)
    {"properties": {"nums": {
        "prefixItems": [{"minimum": 0}, True],
        "if": {"prefixItems": [{"minimum": 2}]},
        "then": {"prefixItems": [True, {"maximum": 9}]},
        "unevaluatedItems": False}}},
    # the representative bench contract's exact shape (claim-free anyOf
    # + covered if-probe + $ref inside a property): the round-5 target
    {"type": "object", "required": ["id", "url", "nums"],
     "$defs": {"small": {"type": "number", "maximum": 1e6}},
     "properties": {
         "id": {"type": "integer", "minimum": 0},
         "url": {"allOf": [{"type": "string", "minLength": 5}]},
         "nums": {"type": "array", "items": {"$ref": "#/$defs/small"},
                   "contains": {"minimum": 0}, "minContains": 1}},
     "if": {"properties": {"id": {"minimum": 50}}, "required": ["id"]},
     "then": {"properties": {"nums": {"maxItems": 16}}},
     "else": {"properties": {"url": {"maxLength": 40}}},
     "anyOf": [{"required": ["url"]}, {"required": ["alias"]}],
     "unevaluatedProperties": {"type": ["string", "number", "array"]}},
]


def _row_to_json_value(row: Row, schema: T.StructType):
    """Row → plain JSON value under the relational bridge: NULL struct
    fields are *absent* keys; NULL array elements stay JSON null."""
    def conv(value, dtype):
        if value is None:
            return None
        if isinstance(dtype, T.StructType):
            out = {}
            for f in dtype.fields:
                v = conv(value[f.name], f.dataType)
                if v is not None:
                    out[f.name] = v
            return out
        if isinstance(dtype, T.ArrayType):
            return [conv(v, dtype.elementType) for v in value]
        if isinstance(dtype, T.TimestampType):
            return value.strftime("%Y-%m-%dT%H:%M:%SZ")
        if isinstance(dtype, T.BinaryType):
            return bytes(value).decode("utf-8")
        return value

    return conv(row.asDict(recursive=False), schema) or {}


@pytest.fixture(scope="module")
def df(spark):
    return spark.createDataFrame(ROWS, ROWS_SCHEMA)


@pytest.mark.parametrize("i", range(len(SCHEMAS)))
def test_columnar_matches_kernel(spark, df, i):
    schema_dict = SCHEMAS[i]
    out = with_valid(df, schema_dict).select("id", "valid").collect()
    got = {r["id"]: r["valid"] for r in out}

    v = Validator(Schema(dict(schema_dict)))
    rows = df.collect()
    for row in rows:
        value = _row_to_json_value(row, ROWS_SCHEMA)
        expected = v.validate(value)
        assert got[row["id"]] == expected, (
            f"schema={schema_dict}\nrow id={row['id']} value={value}\n"
            f"columnar={got[row['id']]} kernel={expected}")


def test_violation_rows_shape(spark, df):
    schema = {"required": ["url", "text"],
              "properties": {"url": {"pattern": "^https?://"},
                              "text": {"minLength": 1}}}
    viol = violation_rows(df, schema, id_cols=["id"])
    rows = viol.collect()
    assert all({"check", "keyword", "schema_path", "data_path",
                "schema_value", "message"} <= set(r.asDict()) for r in rows)
    # row 1: ftp url (pattern) + empty text (minLength); row 2: both required
    by_id = {}
    for r in rows:
        by_id.setdefault(r["id"], set()).add(r["keyword"])
    assert by_id[1] == {"pattern", "minLength"}
    assert by_id[2] == {"required"}
    msgs = {r["message"] for r in rows if r["id"] == 1}
    assert '"ftp://bad/x" does not match pattern:^https?://' in msgs


def test_violation_messages_match_kernel_errors(spark, df):
    """§2.10 north star: 'byte-identical violation rows' — for Plane-A
    schemas the columnar violation messages must equal the kernel's
    errors() messages exactly (quoted scalars, bare 'array'/'object'
    containers, the special required template)."""
    from jema_js_spark.kernel.kernel import Validator

    schemas = [
        {"required": ["url", "lang"],
         "properties": {"url": {"pattern": "^https://", "maxLength": 25},
                         "n": {"minimum": 0, "multipleOf": 2},
                         "tags": {"minItems": 1}}},
        {"properties": {"meta": {"minProperties": 2},
                         "nums": {"uniqueItems": True, "maxItems": 2},
                         "flag": {"const": True},
                         "lang": {"enum": ["en", "de"]}}},
        {"properties": {"text": {"minLength": 3, "type": "string"}},
         "required": ["text"]},
        # special templates: false-schema prints the child value and the
        # edge name it hangs under
        {"properties": {"text": False}},
        {"properties": {"meta": False}, "required": ["meta"]},
    ]
    for schema in schemas:
        rows = violation_rows(df, schema, id_cols=["id"]).collect()
        got = {}
        for r in rows:
            got.setdefault(r["id"], set()).add(r["message"])
        v = Validator(Schema(dict(schema)))
        for row in df.collect():
            value = _row_to_json_value(row, ROWS_SCHEMA)
            kmsgs = {e.message for e in v.iter_errors(value)}
            assert got.get(row["id"], set()) == kmsgs, (
                schema, row["id"], got.get(row["id"], set()), kmsgs)


def test_partition_verdicts(spark, df):
    schema = {"required": ["url"]}
    verdicts = partition_verdicts(df.repartition(3), schema).collect()
    assert sum(r["n_rows"] for r in verdicts) == len(ROWS)
    assert sum(r["n_invalid"] for r in verdicts) == 1  # row 2 only


def _physical_plan(df_out) -> str:
    return df_out._jdf.queryExecution().executedPlan().toString()


def test_flagship_plan_shape_scale_properties(spark, tmp_path):
    """The properties that make the flagship viable at 100 TB, pinned
    as plan-string assertions: scan → fused predicate projection →
    partial agg, with NO shuffle before the partial agg, NO Python
    eval, and column pruning + predicate pushdown reaching the parquet
    scan."""
    import __spark_entry__ as entry_mod

    p = str(tmp_path / "pages.parquet")
    spark.createDataFrame(
        [(i, f"https://x.example/{i}", "body text", "en") for i in range(64)],
        "doc_id long, url string, text string, lang string",
    ).write.parquet(p)
    pages = spark.read.parquet(p)

    valid = with_valid(pages, entry_mod.PAGE_CONTRACT)
    agg = valid.groupBy().agg(F.sum(F.col("valid").cast("long")))
    plan = _physical_plan(agg)
    assert "EvalPython" not in plan, "Plane-A flagship must not run Python"
    # exactly one exchange: the single-partition final agg; the map-side
    # partial agg must come before it
    assert plan.count("Exchange") <= 1, plan
    assert "HashAggregate" in plan

    # pruning: a 2-column projection must not read text/lang
    slim = pages.filter(F.col("doc_id") > 10).select("doc_id", "url")
    splan = slim._jdf.queryExecution().executedPlan().toString()
    assert "text" not in splan.split("ReadSchema:")[-1]
    assert "PushedFilters: [" in splan and "GreaterThan(doc_id,10)" in splan


def test_round3_operator_plan_shapes(spark, tmp_path):
    """Round-3 perf work pinned as plan-string assertions so the shapes
    can't silently regress:

    - duplicate_keys: fingerprint pre-pass (map-side partial count, no
      key strings in the first shuffle) + semi-join back;
    - brute_force_topk: two Window nodes (partial per-bucket top-k
      before the global per-query window) and a broadcast query side;
    - column_stats: string HLL runs over xxhash64, not raw strings.
    """
    from jema_js_spark.operators.similarity import brute_force_topk
    from jema_js_spark.operators.stats import column_stats
    from jema_js_spark.operators.uniqueness import duplicate_keys

    p = str(tmp_path / "t.parquet")
    spark.createDataFrame(
        [(i, f"https://x.example/{i % 20}", [float(i), 1.0, 0.5]) for i in range(64)],
        "vec_id long, url string, embedding array<double>",
    ).write.parquet(p)
    t = spark.read.parquet(p)

    dup_plan = _physical_plan(duplicate_keys(t, "url"))
    assert "partial_count" in dup_plan, "fp pre-pass lost map-side combine"
    assert "xxhash64" in dup_plan.lower(), "fingerprint pre-pass missing"
    assert "LeftSemi" in dup_plan, "candidate semi-join missing"

    q = t.limit(2).select(F.col("vec_id").alias("query_id"), "embedding")
    topk_plan = _physical_plan(brute_force_topk(t, q, k=3))
    assert topk_plan.count("RunningWindowFunction") >= 2 or \
        topk_plan.count("Window") >= 2, \
        "two-phase top-k lost its partial window"
    assert "Broadcast" in topk_plan, "query side must broadcast"

    stats_plan = _physical_plan(column_stats(t, ["url", "vec_id"]))
    # the HLL for the string column must consume a 64-bit pre-hash
    assert "approx_count_distinct(xxhash64" in stats_plan.replace(" ", "") \
        or "xxhash64" in stats_plan.lower(), \
        "string HLL should pre-hash to 8 bytes"


def test_plane_coverage_flagship(spark, df):
    """The flagship page contract must be 100% Plane A (SURVEY.md §7.2)."""
    flagship = {
        "type": "object",
        "required": ["url", "text", "lang"],
        "properties": {
            "url": {"type": "string", "maxLength": 2048, "pattern": "^https?://"},
            "text": {"type": "string", "minLength": 1},
            "lang": {"enum": ["en", "de", "fr", "es", "it", "pt", "nl", "unknown"]},
        },
    }
    plan = SchemaCompiler(flagship).compile_plan(df)
    cov = plan.coverage()
    assert cov["plane_b_checks"] == 0, cov
    assert cov["plane_a_fraction"] == 1.0


def test_uneval_under_pattern_props_and_dependencies_gates(spark, df):
    """Round-2 review find: iter_subschemas yields the patternProperties
    CONTAINER (not its values) and skips draft-4 dependencies, so an
    unevaluated* hidden there slipped past the whole-node Plane-B gate
    and Plane A diverged from the kernel."""
    schemas = [
        {"anyOf": [{"patternProperties": {"^me": {
             "properties": {"zip": True},
             "unevaluatedProperties": False}}},
          {"type": "object"}],
         "properties": {"meta": {"unevaluatedProperties": {"type": "string"}}}},
        {"allOf": [{"dependencies": {"id": {
             "properties": {"meta": {"properties": {"zip": True},
                                      "unevaluatedProperties": False}}}}}],
         "properties": {"meta": {"properties": {"depth": True}}}},
        # reached only through a $ref inside an anyOf branch
        {"anyOf": [{"$ref": "#/$defs/strict"}, {"required": ["id"]}],
         "properties": {"id": True, "url": True},
         "$defs": {"strict": {"properties": {"text": True},
                              "unevaluatedProperties": False}}},
    ]
    from jema_js_spark.kernel.kernel import Validator

    for schema in schemas:
        out = {r["id"]: r["valid"] for r in
               with_valid(df, schema).select("id", "valid").collect()}
        v = Validator(Schema(dict(schema)))
        for row in df.collect():
            value = _row_to_json_value(row, ROWS_SCHEMA)
            assert out[row["id"]] == v.validate(value), (schema, value)


def test_schema_walkers_on_hostile_shapes():
    """Session-free pin of the compiler's two schema walkers.  The
    resolved-graph walk (whole-node unevaluated* gate, nested-not scan)
    must follow $ref targets and reach patternProperties values and
    draft-4 dependencies under anyOf/not/if; the raw-document walk
    (Plane-B ref rebase trigger, dynamic-scope hazard) must skip
    const/enum data and treat name-map keys as names."""
    from jema_js_spark.compiler.compile import (_dynamic_scope_hazard,
                                                _reaches_unevaluated,
                                                _schema_positions)

    for target, want in (({"unevaluatedProperties": False}, True),
                         ({"type": "object"}, False)):
        for via in ({"$ref": "#/$defs/u"},
                    {"patternProperties": {"^a": target}},
                    {"dependencies": {"a": target}}):
            for wrap in ("anyOf", "not", "if"):
                c = SchemaCompiler({wrap: [via] if wrap == "anyOf" else via,
                                    "$defs": {"u": target}})
                got = _reaches_unevaluated(
                    c.schema, *c._inplace_subtrees(c.schema.schema))
                assert got is want, (wrap, via)

    def has_ref(doc):
        return any(isinstance(n.get("$ref"), str)
                   for n in _schema_positions(doc))

    assert has_ref({"anyOf": [{"not": {"$ref": "#/$defs/x"}}]})
    assert has_ref({"properties": {"$ref": {"$ref": "#"}}})
    assert not has_ref({"const": {"$ref": "#x"}, "enum": [{"$ref": "#y"}],
                        "default": {"$ref": "#z"}})
    assert not has_ref({"properties": {"$ref": "#/nowhere"}})

    dyn = {"$dynamicRef": "#node",
           "$defs": {"a": {"$dynamicAnchor": "node"}}}
    assert _dynamic_scope_hazard(Schema(dict(dyn))) is None
    dup = {**dyn, "$defs": {**dyn["$defs"],
                            "b": {"$id": "http://example.com/b",
                                  "$dynamicAnchor": "node"}}}
    assert _dynamic_scope_hazard(Schema(dup)) == "node"
    for data_copy in ({"const": {"$dynamicAnchor": "node"}},
                      {"enum": [{"$dynamicAnchor": "node"}]},
                      {"properties": {"$dynamicAnchor": "node"}}):
        assert _dynamic_scope_hazard(Schema({**dyn, **data_copy})) is None


def test_plane_b_rewrite_never_touches_const_enum_data(spark, df):
    """Round-2 review find: the Plane-B ref rebase must not rewrite a
    '$ref' key INSIDE const/enum literal data, nor treat it as a reason
    to ship remotes."""
    schema = {"properties": {"meta": {
        "anyOf": [{"const": {"$ref": "#section-2"}},
                   {"format": "idn-email"},
                   {"type": "object"}]}},
        # force Plane B for the whole anyOf via an untranslatable format
    }
    plan = SchemaCompiler(schema, format_assertion=True).compile_plan(df)
    out = with_valid(df, schema, format_assertion=True) \
        .select("id", "valid").collect()
    from jema_js_spark.kernel.kernel import Validator
    v = Validator(Schema(dict(schema)), format_assertion=True)
    for row in df.collect():
        value = _row_to_json_value(row, ROWS_SCHEMA)
        got = {r["id"]: r["valid"] for r in out}[row["id"]]
        assert got == v.validate(value), value


def test_format_assert_columnar_matches_kernel(spark):
    """Columnar date/time/date-time format assertions must be
    bit-identical to the kernel's (calendar validity, leap-second rule,
    and the reference's month-00/day-00 quirks) — round-2 fix: the old
    loose regex accepted 2023-02-29 while the kernel rejected it."""
    battery = {
        "date": ["2024-02-29", "2023-02-29", "2024-13-01", "2024-00-10",
                  "2024-04-31", "2024-12-31", "2024-01-00", "0000-01-01",
                  "2400-02-29", "2100-02-29", "1999-1-01", "x", ""],
        "time": ["12:34:56Z", "12:34:56z", "23:59:60Z", "23:59:60+00:00",
                  "12:34:60Z", "08:29:60+05:30", "23:59:60-08:00",
                  "24:00:00Z", "12:60:00Z", "12:34:61Z", "12:34:56",
                  "12:34:56.789+05:30", "12:34:56+24:00", "12:34:56-23:59",
                  "1:34:56Z", ""],
        "date-time": ["2024-02-29T12:34:56Z", "2023-02-29T12:34:56Z",
                       "2024-01-01t23:59:60z", "2024-01-01T24:00:00Z",
                       "2024-01-01 12:34:56Z", "2024-01-01T12:34:56",
                       "2024-01-01T12:34:56.5+01:00", "T", ""],
        "hostname": ["example.com", "a-b.c-d", "-bad.com", "bad-.com",
                      "a..b", ".a", "a.", "a" * 63 + ".com", "a" * 64,
                      "x" * 256, "under_score.com", "caps.EXAMPLE.Com", ""],
        "duration": ["P1D", "PT1H", "P1DT2H3M4S", "P2W", "P2W1D", "P",
                      "PT", "P1DT", "P1DTxx", "PT0S", "P0D", "1D", "",
                      "P1Y2M3D", "P1S", "PT1D"],
        "uri": ["http://example.com/a", "urn:x:y", "mailto:a@b", "//rel",
                 "http://e.com/a b", "1http://x", "", "a:",
                 # Python-\S vs Java-\S: non-ASCII whitespace after the
                 # scheme must fail like the kernel says
                 "a:\xa0", "b:\u2028", "c:\x85", "d:\x1c", "e:\u3000"],
        "uri-reference": ["/a/b", "", "a b", "\trel", "#frag",
                           "http://x/y"],
        # trailing line terminators: JS $ (the reference) is absolute
        # end-of-string; Python $ would allow one trailing \n and Java $
        # any trailing line terminator — both planes must now be strict
        "uuid": ["123e4567-e89b-12d3-a456-426614174000",
                  "123e4567-e89b-12d3-a456-426614174000\n",
                  "123e4567-e89b-12d3-a456-426614174000\r"],
        "ipv4": ["1.2.3.4", "1.2.3.4\n", "1.2.3.4\r", "1.2.3.4 "],
        "ipv6": ["::", "::1", "1:2:3:4:5:6:7:8", "1:2:3:4:5:6:7:8:9",
                  "::1\n", "::1\r",
                  "::ffff:1.2.3.4", "1:2:3:4:5:6:1.2.3.4", "1::2::3",
                  "fe80::1%eth0", "12345::", "1:2:3:4:5:6:7", "g::1",
                  "1:2::3:4:1.2.3.4", "::ffff:01.2.3.4", ""],
        "email": ["a@example.com", "a.b@x.y", ".a@x.y", "a.@x.y",
                   "a..b@x.y", "\"quoted\"@x.y", "\"q@q\"@x.y",
                   "a@-bad.com", "A@x.y", "a@[1.2.3.4]", "a@[IPv6:::1]",
                   "a@[IPv6:zz]", "a@[256.1.1.1]", "@x.y", "a@", "ab",
                   "x@y@z.example", "a!#$%@x.y", ""],
    }
    from jema_js_spark.kernel.kernel import Validator
    from jema_js_spark.validation.engine import with_valid

    for fmt, values in battery.items():
        schema = {"properties": {"v": {"format": fmt}}}
        kv = Validator(Schema(dict(schema)), format_assertion=True)
        dfv = spark.createDataFrame([(x,) for x in values], "v string")
        got = {r["v"]: r["valid"] for r in
               with_valid(dfv, schema, format_assertion=True).collect()}
        plan = SchemaCompiler(schema, format_assertion=True).compile_plan(dfv)
        assert plan.coverage()["plane_b_checks"] == 0, fmt
        for x in values:
            expected = kv.validate({"v": x})
            assert got[x] == expected, (fmt, x, got[x], expected)


def test_untranslatable_pattern_props_falls_back(spark, df):
    """ADVICE r1: an untranslatable patternProperties regex paired with
    additionalProperties / unevaluatedProperties must fall back to
    Plane B instead of crashing compile_plan with
    UnsupportedRegexError.  (\\p{Lu} — this test's original specimen —
    became TRANSLATABLE in round 7; script properties remain outside.)"""
    for schema in (
        {"patternProperties": {r"^\p{Script=Greek}": {}},
         "additionalProperties": {"type": "string"}},
        {"patternProperties": {r"^\p{Script=Greek}": {}},
         "unevaluatedProperties": False},
    ):
        plan = SchemaCompiler(schema).compile_plan(df)  # must not raise
        assert plan.coverage()["plane_b_checks"] >= 1

    # round 7 upgrade pin: a \p general-category key regex now expands
    # statically — pure Plane A, no kernel fallback
    plan = SchemaCompiler(
        {"patternProperties": {r"^\p{Lu}": {}},
         "additionalProperties": {"type": "string"}}).compile_plan(df)
    assert plan.coverage()["plane_b_checks"] == 0


def test_coverage_reports_nested_plane_b(spark, df):
    """ADVICE r1: a combinator that folds a Plane-B sub-predicate into
    its Column must be reported as plane 'B' — coverage() may not claim
    plane_a_fraction 1.0 while kernel UDFs execute."""
    schema = {"properties": {"text": {
        "anyOf": [{"format": "idn-email"}, {"minLength": 1000}]}}}
    plan = SchemaCompiler(schema, format_assertion=True).compile_plan(df)
    cov = plan.coverage()
    assert cov["plane_b_checks"] >= 1, cov
    assert cov["plane_a_fraction"] < 1.0, cov


def test_plane_b_ref_fallback_not_all_false(spark, df):
    """ADVICE r1 regression: the $ref+unevaluatedProperties idiom used
    to compile into an always-False kernel predicate (detached
    mini-schema lost the root's $defs)."""
    schema = {"$defs": {"everything": {"properties": {
                  "id": {}, "url": {}, "text": {}, "lang": {}, "score": {},
                  "n": {}, "flag": {}, "tags": {}, "nums": {}, "meta": {}}}},
              "$ref": "#/$defs/everything",
              "unevaluatedProperties": False}
    out = with_valid(df, schema).select("valid").collect()
    assert all(r["valid"] for r in out)  # every key is claimed via the ref


def test_static_unevaluated_is_plane_a(spark, df):
    """The strict-contract idiom (properties + allOf +
    unevaluatedProperties) must compile without kernel fallback."""
    schema = {"unevaluatedProperties": False,
              "allOf": [{"properties": {"id": {}, "url": {}, "text": {},
                                          "lang": {}, "score": {}}}],
              "properties": {"n": {}, "flag": {}, "tags": {}, "nums": {},
                              "meta": {}}}
    cov = SchemaCompiler(schema).compile_plan(df).coverage()
    assert cov["plane_b_checks"] == 0, cov
    # ...while probing combinators with UNCOVERED claims still fall back
    schema_b = {"unevaluatedProperties": False,
                "anyOf": [{"properties": {"id": {}}}]}
    cov_b = SchemaCompiler(schema_b).compile_plan(df).coverage()
    assert cov_b["plane_b_checks"] >= 1


def test_round5_static_unevaluated_specializations_plane(spark, df):
    """Round-5 claim-analysis extensions (VERDICT r4 #1): claim-free /
    claim-covered probing combinators, $ref targets, not-suppression,
    and presence-guarded dependentSchemas all compile Plane A; the
    leak-hazard shapes stay Plane B."""
    all_props = {k: {} for k in ("id", "url", "text", "lang", "score",
                                   "n", "flag", "tags", "nums", "meta")}
    plane_a = [
        {"unevaluatedProperties": False, "properties": all_props,
         "anyOf": [{"required": ["url"]}, {"required": ["id"]}]},
        {"unevaluatedProperties": False, "properties": all_props,
         "oneOf": [{"required": ["url"]}, {"required": ["id"]}]},
        {"unevaluatedProperties": False, "properties": all_props,
         "anyOf": [{"properties": {"id": {"minimum": 1}}}]},
        {"unevaluatedProperties": False, "properties": all_props,
         "not": {"required": ["zz"]}},
        {"$defs": {"h": {"properties": all_props}}, "$ref": "#/$defs/h",
         "unevaluatedProperties": False},
        {"unevaluatedProperties": False, "properties": all_props,
         "dependentSchemas": {"id": {"properties": {"url": {}}}}},
    ]
    for schema in plane_a:
        cov = SchemaCompiler(schema).compile_plan(df).coverage()
        assert cov["plane_b_checks"] == 0, (schema, cov)
    plane_b = [
        # branch claims outside the always set: failed-probe leak hazard
        {"unevaluatedProperties": False,
         "anyOf": [{"properties": {"id": {}}}, {"required": ["url"]}]},
        # nested not-in-not: plain stop_collecting reset
        {"unevaluatedProperties": False, "properties": all_props,
         "not": {"not": {"required": ["id"]}}},
        # recursive $ref in the claim chain
        {"$defs": {"loop": {"$ref": "#/$defs/loop"}},
         "$ref": "#/$defs/loop", "unevaluatedProperties": False},
    ]
    for schema in plane_b:
        cov = SchemaCompiler(schema).compile_plan(df).coverage()
        assert cov["plane_b_checks"] >= 1, (schema, cov)


def test_round5_static_unevaluated_items_planes(spark, df):
    """unevaluatedItems claim analysis (round-5 symmetric extension):
    allOf/$ref prefix claims, claim-free probes, and not-suppression
    compile Plane A; uncovered probe claims stay Plane B."""
    plane_a = [
        {"properties": {"nums": {
            "allOf": [{"prefixItems": [True, True]}],
            "unevaluatedItems": False}}},
        {"properties": {"nums": {
            "prefixItems": [True],
            "anyOf": [{"minItems": 1}, {"maxItems": 0}],
            "unevaluatedItems": False}}},
        {"properties": {"nums": {
            "prefixItems": [True],
            "not": {"minItems": 9},
            "unevaluatedItems": False}}},
        {"$defs": {"h": {"prefixItems": [True, True]}},
         "properties": {"nums": {"$ref": "#/$defs/h",
                                  "unevaluatedItems": False}}},
        {"properties": {"nums": {
            "allOf": [{"items": {"minimum": 0}}],
            "unevaluatedItems": False}}},
    ]
    for schema in plane_a:
        cov = SchemaCompiler(schema).compile_plan(df).coverage()
        assert cov["plane_b_checks"] == 0, (schema, cov)
    plane_b = [
        {"properties": {"nums": {
            "anyOf": [{"prefixItems": [True, True]}],
            "unevaluatedItems": False}}},
        {"properties": {"nums": {
            "prefixItems": [True],
            "not": {"not": {"minItems": 1}},
            "unevaluatedItems": False}}},
        {"properties": {"nums": {
            "allOf": [{"contains": {"minimum": 2}}],
            "unevaluatedItems": False}}},
    ]
    for schema in plane_b:
        cov = SchemaCompiler(schema).compile_plan(df).coverage()
        assert cov["plane_b_checks"] >= 1, (schema, cov)


def test_representative_contract_is_plane_a(spark):
    """The shared bench contract (bench_contracts.py) — the round-4
    kernel-plane workload — now compiles 100% Plane A against its
    struct shape: the 17× plane gap closed for this contract class."""
    from jema_js_spark.bench_contracts import REPRESENTATIVE_KERNEL_CONTRACT

    df = spark.range(4).select(
        (F.col("id") % 100).alias("k"),
        F.concat(F.lit("user"), F.col("id")).alias("name"),
        F.array(F.col("id") % 7, F.col("id") % 11,
                F.col("id") % 13).alias("xs"))
    cov = SchemaCompiler(REPRESENTATIVE_KERNEL_CONTRACT) \
        .compile_plan(df).coverage()
    assert cov["plane_a_fraction"] == 1.0, cov["plane_b_names"]


def test_multiple_of_boundary_matches_kernel(spark):
    """Round-5 review find: an exact-pmod fast path diverged from the
    kernel's float dance near 2^53 ((2^53−1) IS a multiple of 3 in JS
    arithmetic).  The fast path is now ±1-only; pin the boundary
    values differentially on integral and double columns."""
    from jema_js_spark.kernel.kernel import validate

    vals = [(1 << 53) - 1, 1 << 53, -(1 << 53), (1 << 53) + 2,
            (1 << 52) + 1, 97, -97, 0, 9223372036854775807]
    df = spark.createDataFrame([(i, v, float(v)) for i, v in enumerate(vals)],
                               "i long, n long, d double")
    for m in (1, 2, 3, 7):
        schema = {"properties": {"n": {"multipleOf": m},
                                  "d": {"multipleOf": m}}}
        plan = SchemaCompiler(schema).compile_plan(df)
        got = {r["i"]: r["v"] for r in
               df.select("i", plan.valid_column().alias("v")).collect()}
        for i, v in enumerate(vals):
            expected = validate({"properties": {
                "n": {"multipleOf": m}, "d": {"multipleOf": m}}},
                {"n": v, "d": float(v)})
            assert got[i] == expected, (m, v, got[i], expected)


MAP_CONTRACTS = [
    {"type": "object", "propertyNames": {"pattern": "^[a-z]+$"},
     "additionalProperties": {"type": "integer", "minimum": 0}},
    {"type": "object",
     "patternProperties": {"^x": {"minimum": 5}},
     "additionalProperties": {"maximum": 100}},
    {"type": "object", "required": ["a"], "minProperties": 1,
     "maxProperties": 3,
     "properties": {"a": {"type": "integer", "maximum": 10}}},
    {"type": "object",
     "dependentRequired": {"a": ["b"]},
     "additionalProperties": {"type": "integer"}},
    {"type": "object", "propertyNames": {"minLength": 2, "maxLength": 4},
     "additionalProperties": True},
    {"type": "object", "additionalProperties": False},
    {"type": "object", "properties": {"a": {"minimum": 0}},
     "additionalProperties": False},
    {"type": "object", "dependentSchemas": {"a": {"required": ["b"]}}},
    {"type": "object",
     "patternProperties": {"^a": {"minimum": 0}, "b$": {"maximum": 5}}},
    {"type": "object",
     "dependencies": {"a": ["b"], "c": {"minProperties": 2}}},
]

MAP_DATA = [
    {"a": 1, "b": 2}, {"a": -1}, {"x1": 7, "y": 3}, {"x1": 2},
    {"abcde": 5}, {}, {"a": 1, "b": 2, "c": 3, "d": 4},
    {"A": 1}, {"ab": 1}, {"a": None}, {"a": 11}, {"b": 9},
    {"ab": 2, "b": 9}, {"c": 1}, {"c": 1, "d": 2, "e": 3}, None,
]


@pytest.mark.parametrize("contract", MAP_CONTRACTS,
                         ids=[str(i) for i in range(len(MAP_CONTRACTS))])
def test_map_column_object_keywords_match_kernel(spark, contract):
    """Round 6 (VERDICT r5 #6): object keywords compile against
    ``map<string, T>`` columns as map lambdas — dynamic keys, pure
    Plane A — and every verdict equals the kernel's under the bridge
    (null map value ⇔ absent key)."""
    mt = T.MapType(T.StringType(), T.LongType())
    df = spark.createDataFrame([(d,) for d in MAP_DATA],
                               T.StructType([T.StructField("m", mt, True)]))
    plan = SchemaCompiler(Schema(contract)).compile_plan_for_column(
        F.col("m"), mt)
    cov = plan.coverage()
    assert cov["plane_b_checks"] == 0, cov["plane_b_names"]
    got = [r[0] for r in df.select(plan.valid_column()).collect()]
    v = Validator(Schema(contract))
    for d, g in zip(MAP_DATA, got):
        kd = None if d is None else {k: x for k, x in d.items()
                                     if x is not None}
        assert bool(g) == v.validate(kd), (contract, d, g)


def test_map_column_unevaluated_falls_back(spark):
    """unevaluatedProperties over dynamic keys needs the kernel's
    evaluated-set — the whole node lands on Plane B, published via
    coverage, with kernel-exact verdicts."""
    mt = T.MapType(T.StringType(), T.LongType())
    contract = {"type": "object",
                "patternProperties": {"^x": {"minimum": 0}},
                "unevaluatedProperties": False}
    df = spark.createDataFrame([(d,) for d in MAP_DATA],
                               T.StructType([T.StructField("m", mt, True)]))
    plan = SchemaCompiler(Schema(contract)).compile_plan_for_column(
        F.col("m"), mt)
    assert plan.coverage()["plane_b_checks"] > 0
    got = [r[0] for r in df.select(plan.valid_column()).collect()]
    v = Validator(Schema(contract))
    for d, g in zip(MAP_DATA, got):
        kd = None if d is None else {k: x for k, x in d.items()
                                     if x is not None}
        assert bool(g) == v.validate(kd), (d, g)


def test_nested_map_null_entries_bridge_on_plane_b(spark):
    """Round-6 review find (confirmed repro): the Plane-B to_json
    handoff must drop null-valued map entries at EVERY nesting level —
    a nested {"a": null} must read as absent on BOTH planes, or one
    plan returns different verdicts for the same data depending on
    which plane judged it."""
    mt = T.MapType(T.StringType(), T.MapType(T.StringType(), T.LongType()))
    contract = {"type": "object",
                "patternProperties": {"^x": {"required": ["a"]}},
                "unevaluatedProperties": {"required": ["a"]}}
    data = [{"y": {"a": None}}, {"x1": {"a": None}}, {"y": {"a": 1}},
            {"x1": {"a": 1}}, {"y": {}}, {"x1": {"b": 2, "a": None}},
            None, {}]
    df = spark.createDataFrame([(d,) for d in data],
                               T.StructType([T.StructField("m", mt, True)]))
    plan = SchemaCompiler(Schema(contract)).compile_plan_for_column(
        F.col("m"), mt)
    assert plan.coverage()["plane_b_checks"] > 0   # unevaluated* → kernel
    got = [r[0] for r in df.select(plan.valid_column()).collect()]
    v = Validator(Schema(contract))

    def bridge(d):
        if d is None:
            return None
        return {k: (None if x is None
                    else {kk: xx for kk, xx in x.items() if xx is not None})
                for k, x in d.items() if x is not None}

    for d, g in zip(data, got):
        assert bool(g) == v.validate(bridge(d)), (d, g)


def test_map_column_enum_const_deep_equality(spark):
    """enum/const against map columns go through the Plane-B deep-
    equality fallback — the cleaned handoff must make {"a":1,"b":null}
    equal the schema value {"a":1} (bridge: null value ⇔ absent), at
    the top level and nested."""
    mt = T.MapType(T.StringType(), T.LongType())
    data = [{"a": 1}, {"a": 1, "b": None}, {"a": 2}, {"b": None},
            {}, None, {"a": None}]
    df = spark.createDataFrame([(d,) for d in data],
                               T.StructType([T.StructField("m", mt, True)]))
    for contract in ({"const": {"a": 1}},
                     {"enum": [{"a": 1}, {}]},
                     {"not": {"const": {"a": 1}}}):
        plan = SchemaCompiler(Schema(contract)).compile_plan_for_column(
            F.col("m"), mt)
        got = [r[0] for r in df.select(plan.valid_column()).collect()]
        v = Validator(Schema(contract))
        for d, g in zip(data, got):
            kd = None if d is None else {k: x for k, x in d.items()
                                         if x is not None}
            assert bool(g) == v.validate(kd), (contract, d, g)


# the keyword type gate: keyword → (affects type, a constraining value)
GATED_KEYWORDS = {
    "minimum": ("number", 5), "maximum": ("number", -5),
    "exclusiveMinimum": ("number", 5), "exclusiveMaximum": ("number", -5),
    "multipleOf": ("number", 7),
    "minLength": ("string", 5), "maxLength": ("string", 0),
    "pattern": ("string", "^z$"), "format": ("string", "email"),
    "required": ("object", ["zz"]), "properties": ("object", {"a": False}),
    "patternProperties": ("object", {"^a": False}),
    "additionalProperties": ("object", False),
    "propertyNames": ("object", {"maxLength": 0}),
    "minProperties": ("object", 5), "maxProperties": ("object", 0),
    "dependentRequired": ("object", {"a": ["zz"]}),
    "dependentSchemas": ("object", {"a": False}),
    "dependencies": ("object", {"a": ["zz"]}),
    "unevaluatedProperties": ("object", False),
    "minItems": ("array", 5), "maxItems": ("array", 0),
    "uniqueItems": ("array", True), "items": ("array", False),
    "prefixItems": ("array", [False]), "contains": ("array", False),
    "unevaluatedItems": ("array", False),
}
# gated keywords that emit no check off their type (they only descend
# into members); every other gated keyword emits one vacuous check
SILENT_OFF_TYPE = {"properties", "patternProperties", "additionalProperties",
                   "items", "prefixItems", "contains"}

# bridge column shapes: name → (dtype, JSON type, values incl. NULL)
GATE_COLUMNS = {
    "bigint": (T.LongType(), "number", [1, -3, None]),
    "double": (T.DoubleType(), "number", [2.5, None]),
    "decimal": (T.DecimalType(10, 2), "number",
                [decimal.Decimal("1.50"), None]),
    "string": (T.StringType(), "string", ["ab", "", None]),
    "boolean": (T.BooleanType(), "boolean", [True, None]),
    "array": (T.ArrayType(T.LongType()), "array", [[1, 1], [], None]),
    "struct": (T.StructType([T.StructField("a", T.LongType()),
                             T.StructField("b", T.StringType())]),
               "object", [(1, "x"), (None, None), None]),
    "map": (T.MapType(T.StringType(), T.LongType()), "object",
            [{"a": 1}, {}, None]),
}


@pytest.mark.parametrize("shape", list(GATE_COLUMNS))
def test_keyword_type_gate_matrix(spark, shape):
    """The one keyword type gate (schema.js:199): every gated keyword
    compiled against a column whose JSON type differs from its affects
    type emits exactly one vacuous Plane-A ``true`` check named after
    the keyword — or nothing at all for the keywords that only descend
    into members — and its verdicts equal the kernel's."""
    from jema_js_spark.compiler.compile import _AFFECTS

    assert _AFFECTS == {k: t for k, (t, _v) in GATED_KEYWORDS.items()}
    dtype, jtype, values = GATE_COLUMNS[shape]
    df = spark.createDataFrame([(v,) for v in values],
                               T.StructType([T.StructField("c", dtype)]))
    cols, contracts = [], []
    for kw, (affects, sval) in GATED_KEYWORDS.items():
        if affects == jtype:
            continue
        contract = {kw: sval}
        plan = SchemaCompiler(Schema(dict(contract)), format_assertion=True) \
            .compile_plan_for_column(F.col("c"), dtype)
        want = [] if kw in SILENT_OFF_TYPE else [kw]
        assert [c.name for c in plan.checks] == want, (shape, kw)
        for c in plan.checks:
            assert (c.plane, c.note) == ("A", None), (shape, kw)
            assert str(c.predicate) == "Column<'true'>", (shape, kw)
        cols.append(plan.valid_column().alias(kw))
        contracts.append(contract)
    assert cols
    for row in df.select("c", *cols).collect():
        value = _row_to_json_value(row, df.schema).get("c")
        if isinstance(value, decimal.Decimal):
            value = float(value)
        for contract, got in zip(contracts, row[1:]):
            want = Validator(Schema(dict(contract)),
                             format_assertion=True).validate(value)
            assert got == want, (shape, contract, value)


def test_dynamic_scope_sensitive_ref_hoists_to_root(spark):
    """Round-7 find (dyn-b through the JSON route): a $dynamicRef whose
    anchor name has ≥2 $dynamicAnchor definitions resolves through the
    runtime chain of entered resources — a Plane-B fallback detached
    below the root rebases it lexically and lands on the WRONG anchor.
    Such contracts must compile as ONE root-level kernel check
    ('(dynamic-scope)'), and the verdicts must match the kernel."""
    contract = {
        "$id": "http://example.com/hoist-dyn/outer.json",
        "$defs": {
            "strict": {"$dynamicAnchor": "T", "type": "integer"},
            "inner": {"$id": "inner.json",
                      "$defs": {"loose": {"$dynamicAnchor": "T"}},
                      "properties": {"v": {"$dynamicRef": "#T"}}}},
        "$ref": "inner.json"}
    ct = T.StructType([T.StructField("v", T.StringType(), True)])
    df = spark.createDataFrame([(("s",),), ((None,),), (None,)],
                               T.StructType([T.StructField("d", ct, True)]))
    plan = SchemaCompiler(Schema(contract)).compile_plan_for_column(
        F.col("d"), ct)
    cov = plan.coverage()
    assert cov["plane_b_names"] == ["(dynamic-scope)"]
    got = [r[0] for r in df.select(plan.valid_column()).collect()]
    v = Validator(Schema(contract))
    # bridge: NULL field ⇔ absent key; "s" must FAIL (outer's bookended
    # anchor asserts integer — the lexical rebase would wrongly pass it)
    assert [bool(g) for g in got] == [v.validate({"v": "s"}),
                                      v.validate({}), v.validate(None)]
    assert got[0] is False


def test_dynamic_ref_single_anchor_stays_detached(spark):
    """One $dynamicAnchor definition ⇒ resolution is scope-independent:
    the detached lexical-rebase fallback is exact and the plan must NOT
    hoist (the hoist would needlessly kernel sibling Plane-A checks)."""
    contract = {
        "$id": "http://example.com/nohoist-dyn/root.json",
        "$defs": {"base": {"$dynamicAnchor": "T", "type": "string"}},
        "properties": {"x": {"$dynamicRef": "#T"},
                       "n": {"type": "integer"}}}
    ct = T.StructType([T.StructField("x", T.StringType(), True),
                       T.StructField("n", T.LongType(), True)])
    df = spark.createDataFrame([(("s", 1),), ((None, 2),)],
                               T.StructType([T.StructField("d", ct, True)]))
    plan = SchemaCompiler(Schema(contract)).compile_plan_for_column(
        F.col("d"), ct)
    cov = plan.coverage()
    assert "(dynamic-scope)" not in cov["plane_b_names"]
    assert cov["plane_a_checks"] > 0          # sibling n stays Plane A
    got = [r[0] for r in df.select(plan.valid_column()).collect()]
    assert [bool(g) for g in got] == [True, True]


def test_reused_contract_dict_hits_compile_memo(spark):
    """Schema() injects "$schema" into the contract dict it is given, so
    a compile memo keyed on the dict's text as-is missed on the second
    call with the SAME dict object and compiled the contract again.
    The key text includes the injected default, so repeated calls with
    one dict add ONE engine.compile_for entry, and an equal contract
    that spells the default out shares it."""
    from jema_js_spark.runtime import colcache

    contract = {"$comment": "compile memo pin", "type": "object",
                "properties": {"n": {"type": "integer", "minimum": 0}}}
    df = spark.createDataFrame([(1,), (-1,)], "n long")

    def entries():
        # colcache keys: (applicationId, namespace, *memo key)
        return sum(1 for k in colcache._CACHE
                   if k[1] == "engine.compile_for"
                   and "compile memo pin" in k[2])

    for _ in range(3):
        assert [r.valid for r in with_valid(df, contract)
                .orderBy("n").collect()] == [False, True]
    violation_rows(df, contract, ["n"])
    assert "$schema" in contract          # the premise: Schema() ran
    with_valid(df, {k: v for k, v in contract.items() if k != "$schema"})
    assert entries() == 1
