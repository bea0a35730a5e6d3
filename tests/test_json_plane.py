"""JSON columnar route (validation/json_plane.py): every row's verdict
must equal the kernel UDF's, whatever plane judged it — the routing
gates only decide speed, never outcome.  The hostile battery aims one
doc at every gate: parse failures, duplicate keys, non-objects, extra
keys, JSON-null fields, wrong types, numeric-exactness hazards (big
ints, long decimals), unicode, empty containers."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from jema_js_spark.kernel.kernel import Validator
from jema_js_spark.schema.frontend import Schema
from jema_js_spark.validation.json_plane import (
    analyze_json_contract,
    plan_choice,
    with_valid_json,
)

CONTRACT = {
    "type": "object", "required": ["k", "name", "xs"],
    "$defs": {"small_int": {"type": "integer", "maximum": 12}},
    "properties": {
        "k": {"type": "integer", "minimum": 0, "multipleOf": 1},
        "name": {"allOf": [{"type": "string", "minLength": 5},
                           {"pattern": "^user[0-9]+$"}]},
        "xs": {"type": "array", "items": {"$ref": "#/$defs/small_int"},
               "minItems": 3, "uniqueItems": True,
               "contains": {"minimum": 0}, "minContains": 1},
    },
    "if": {"properties": {"k": {"minimum": 50}}, "required": ["k"]},
    "then": {"properties": {"xs": {"maxItems": 16}}},
    "else": {"properties": {"name": {"maxLength": 40}}},
    "anyOf": [{"required": ["name"]}, {"required": ["alias"]}],
    "unevaluatedProperties": {"type": ["string", "number", "array"]},
}

NUM_CONTRACT = {
    "type": "object",
    "properties": {
        "x": {"type": "number", "minimum": 0.1,
              "maximum": 10000000000000000000.0},
        "b": {"type": "boolean", "const": True},
        "ds": {"type": "array", "items": {"type": "number",
                                           "exclusiveMaximum": 1e19}},
        "ss": {"type": "array", "items": {"type": "string",
                                           "minLength": 1}},
    },
    "required": ["x"],
    "additionalProperties": False,
}

HOSTILE_DOCS = [
    # clean conforming shapes
    '{"k": 5, "name": "user5", "xs": [1,2,3]}',
    '{"k": 99, "name": "user99", "xs": [0,1,2,3]}',
    '{"k": 5, "name": "user5", "xs": [1,2,3], "extra": "ok"}',
    '{"k": 5, "name": "user5", "xs": [1,2,3], "extra": {"deep": 1}}',
    # violations that still route columnar
    '{"k": -1, "name": "user1", "xs": [1,2,3]}',
    '{"k": 5, "name": "nope", "xs": [1,2,3]}',
    '{"k": 5, "name": "user5", "xs": [1,1,1]}',
    '{"k": 5, "name": "user5", "xs": []}',
    '{"name": "user5", "xs": [1,2,3]}',
    '{}',
    # kernel-route shapes: JSON null values (present ≠ absent)
    '{"k": null, "name": "user5", "xs": [1,2,3]}',
    '{"k": 5, "name": null, "xs": [1,2,3]}',
    # wrong types
    '{"k": "5", "name": "user5", "xs": [1,2,3]}',
    '{"k": 5.0, "name": "user5", "xs": [1,2,3]}',
    '{"k": 5.7, "name": "user5", "xs": [1,2,3]}',
    '{"k": 5, "name": 7, "xs": [1,2,3]}',
    '{"k": 5, "name": "user5", "xs": "nope"}',
    '{"k": 5, "name": "user5", "xs": [1, "a", 3]}',
    '{"k": 5, "name": "user5", "xs": [1, null, 3]}',
    '{"k": 5, "name": "user5", "xs": [[1]]}',
    '{"k": 5, "name": "user5", "xs": {"0": 1}}',
    # numeric exactness hazards
    '{"k": 9007199254740993, "name": "user5", "xs": [1,2,3]}',
    '{"k": 9223372036854775807, "name": "user5", "xs": [1,2,3]}',
    '{"k": 10000000000000000001, "name": "user5", "xs": [1,2,3]}',
    '{"k": 100000000000000000000000000000000000000001, "name": "user5", '
    '"xs": [1,2,3]}',
    '{"k": 5, "name": "user5", "xs": [9007199254740993, 1, 2]}',
    # malformed / duplicate keys / non-objects
    'not json at all',
    '{"k": 1, "k": 2, "name": "user1", "xs": [1,2,3]}',
    '[1, 2, 3]',
    '"a string document"',
    '17',
    'true',
    'null',
    None,
    # unicode
    '{"k": 5, "name": "user5", "xs": [1,2,3], "emoji": "\\ud83d\\ude00"}',
    '{"k": 5, "name": "us\\u00e9r5", "xs": [1,2,3]}',
]

NUM_DOCS = [
    '{"x": 1.5}', '{"x": 0.1}', '{"x": 0.09999999999999999}',
    '{"x": 5}', '{"x": -0.0}', '{"x": 1e308}', '{"x": 1e-300}',
    '{"x": 0.30000000000000004}', '{"x": 0.1234567890123456789}',
    '{"x": 10000000000000000000}',      # == maximum as exact int: kernel
    '{"x": 10000000000000000001}',      # > maximum only in exact ints
    '{"x": 9999999999999999999.5}',
    '{"x": 123456789012345678901234567890123456789012}',
    '{"x": 1.5, "b": true}', '{"x": 1.5, "b": false}',
    '{"x": 1.5, "b": null}', '{"x": 1.5, "b": 1}',
    '{"x": 1.5, "ds": []}', '{"x": 1.5, "ds": [0.5, 2]}',
    '{"x": 1.5, "ds": [null]}', '{"x": 1.5, "ds": [1e19]}',
    '{"x": 1.5, "ds": [9999999999999999999]}',
    '{"x": 1.5, "ds": [10000000000000000001, 1.5]}',
    '{"x": 1.5, "ds": [0.1234567890123456789, 2]}',
    '{"x": 1.5, "ds": [1, 2.5, -3]}',
    '{"x": 1.5, "ss": ["a", "b"]}', '{"x": 1.5, "ss": [""]}',
    '{"x": 1.5, "ss": ["a", null]}', '{"x": 1.5, "ss": [1]}',
    '{"x": 1.5, "zzz": 1}',
]


def _kernel_verdicts(contract, docs):
    v = Validator(Schema(contract))
    out = {}
    for d in docs:
        try:
            value = None if d is None else json.loads(d)
        except (TypeError, ValueError):
            out[d] = False
            continue
        try:
            out[d] = v.validate(value)
        except Exception:
            out[d] = False
    return out


@pytest.mark.parametrize("contract,docs", [
    (CONTRACT, HOSTILE_DOCS),
    (NUM_CONTRACT, NUM_DOCS),
])
def test_route_matches_kernel_on_hostile_docs(spark, contract, docs):
    df = spark.createDataFrame([(i, d) for i, d in enumerate(docs)],
                               "i long, doc string")
    out = with_valid_json(df, "doc", contract, route_col="route").collect()
    expected = _kernel_verdicts(contract, docs)
    bad = [(r["doc"], r["route"], r["valid"], expected[r["doc"]])
           for r in out if r["valid"] != expected[r["doc"]]]
    assert not bad, bad
    assert len(out) == len(docs)          # no row is lost


ROUNDTRIP_HAZARDS = [
    # docs aimed specifically at the round-6 to_json(from_json) == doc
    # shortcut: every way the canonical re-rendering could collide
    '{"k": 9007199254740993, "name": "user5", "xs": [1,2,3]}',  # 2^53+1
    '{"k":9007199254740992,"name":"user5","xs":[]}',    # exactly 2^53
    '{"k":-9007199254740993,"name":"user5","xs":[]}',   # -(2^53+1)
    '{"k":9223372036854775807,"name":"user5","xs":[]}',  # int64 max
    '{"k":5,"name":"user5","xs":[9007199254740993]}',   # big elem
    '{"k":5,"name":"user5","xs":[1,null,3]}',           # null elem
    '{"k":5,"name":"user5","xs":[null]}',
    '{"xs":[1,null]}',                                  # partial + null
    '{}',                                               # all absent
    '{"name":"user5"}',
    '{"k":1,"name":"user5","xs":[1,2,3]}',              # canonical hit
    '{"name":"user5","k":1,"xs":[1,2,3]}',              # key order swap
    '{ "k": 1, "name": "user5", "xs": [1,2,3] }',       # whitespace
    '{"k":1,"k":2,"name":"user5","xs":[]}',             # dup keys
    '{"k":null,"name":"user5","xs":[]}',                # present null
    '{"K":1,"name":"user5","xs":[]}',                   # case collision
    '{"k":1.0,"name":"user5","xs":[]}',                 # float-for-int
    '{"k":1e2,"name":"user5","xs":[]}',
    '{"k":1,"name":"us\\u00e9r5","xs":[]}',             # escape form
    '{"k":1,"name":"usér5","xs":[]}',                   # raw form
    '{"k":1,"name":"user5","xs":[],"z":1}',             # extra key
    '"{}"', '[]', '5', 'null', 'true', '',
]


def test_roundtrip_shortcut_hazards(spark):
    df = spark.createDataFrame([(d,) for d in ROUNDTRIP_HAZARDS],
                               "doc string")
    out = with_valid_json(df, "doc", CONTRACT, route_col="route").collect()
    expected = _kernel_verdicts(CONTRACT, ROUNDTRIP_HAZARDS)
    bad = [(r["doc"], r["route"], r["valid"], expected[r["doc"]])
           for r in out if r["valid"] != expected[r["doc"]]]
    assert not bad, bad
    routes = {r["doc"]: r["route"] for r in out}
    # the JS-float hazards MUST have taken the kernel plane
    for d in ('{"k": 9007199254740993, "name": "user5", "xs": [1,2,3]}',
              '{"k":9223372036854775807,"name":"user5","xs":[]}',
              '{"k":5,"name":"user5","xs":[9007199254740993]}'):
        assert routes[d] == "kernel", d
    # the canonical doc took the columnar plane via the shortcut
    assert routes['{"k":1,"name":"user5","xs":[1,2,3]}'] == "columnar"


def test_clean_docs_route_columnar(spark):
    from jema_js_spark.bench_contracts import (
        REPRESENTATIVE_KERNEL_CONTRACT, representative_json_docs)

    docs = representative_json_docs(spark, 500, num_partitions=4)
    out = with_valid_json(docs, "doc", REPRESENTATIVE_KERNEL_CONTRACT,
                          route_col="route")
    routes = {r["route"]: r["count"]
              for r in out.groupBy("route").count().collect()}
    assert routes == {"columnar": 500}


def test_fast_plane_has_no_python_stage(spark):
    """The columnar subset's physical plan must be UDF-free — the whole
    point of the route (the kernel stage may appear only on the
    non-conforming subset)."""
    from jema_js_spark.bench_contracts import (
        REPRESENTATIVE_KERNEL_CONTRACT, representative_json_docs)
    from jema_js_spark.compiler.compile import SchemaCompiler
    from jema_js_spark.validation.json_plane import JsonColumnPlan

    plan = analyze_json_contract(REPRESENTATIVE_KERNEL_CONTRACT)
    compiled = SchemaCompiler(REPRESENTATIVE_KERNEL_CONTRACT) \
        .compile_plan_for_column(F.lit(None).cast(plan.struct_type()),
                                 plan.struct_type())
    cov = compiled.coverage()
    assert cov["plane_a_fraction"] == 1.0, cov["plane_b_names"]


def test_unroutable_contracts_fall_back_whole(spark):
    """Nested objects / arrays of objects, heuristic slots (union
    types, keyword affinity, enum types, typeless defaults),
    scalar/array roots, nested dynamic-key slots, layoutless
    object-affine objects at any depth (keys-only variant maps),
    unknown type names, tag-affine heterogeneity (union-typed slots,
    mixed-type patternProperties — variant slots, round 7 session 5),
    and — round 8 — recursive $refs / past-_MAX_NEST nesting (bounded
    unroll, variant-leaf tails) ALL route now.  One layout analysis
    judges the root and nested slots alike, so what stays unroutable
    does so at any depth: property names with quote/backslash/control
    chars, and dynamic-key value schemas that disagree through
    VALUE-READING keywords with no fixed properties to fall back on.
    Three rules are the root's own: boolean roots, layoutless roots
    carrying unevaluated* (an empty-struct root: 100% Plane-B plan —
    routing buys nothing), and scope-sensitive $dynamicRef (same
    hoist)."""
    docs = ['{"a": {"b": 1}}', '{"a": null}', 'junk', '{"a": [1, {"z": 2}]}']
    contracts = [
        {"minProperties": 2,             # layoutless root + unevaluated*
         "unevaluatedProperties": False},  # = 100% Plane-B plan
        True,                                                  # boolean root
        {"properties": {"q'r": {"type": "integer"}}},  # quote in name:
        # the bracket path form has no escape syntax (a/b, dashes,
        # spaces, the empty name all route via $['…'] since r7 s4)
        {"properties": {"a": {          # dynamic values disagreeing
            "type": "object",           # through VALUE-READING keywords
            "patternProperties": {"^x": {"type": "integer",
                                         "minimum": 0},
                                  "^y": {"type": "string",
                                         "minLength": 2}}}}},
        {"$id": "http://example.com/unroutable-dyn/outer.json",
         "$defs": {                        # scope-sensitive $dynamicRef
             "strict": {"$dynamicAnchor": "T", "type": "integer"},
             "inner": {"$id": "inner.json",
                       "$defs": {"loose": {"$dynamicAnchor": "T"}},
                       "properties": {"a": {"$dynamicRef": "#T"}}}},
         "$ref": "inner.json"},
    ]
    for contract in contracts:
        plan = analyze_json_contract(contract)
        assert not plan.routable, contract
        df = spark.createDataFrame([(d,) for d in docs], "doc string")
        out = with_valid_json(df, "doc", contract, route_col="route")
        rows = out.collect()
        expected = _kernel_verdicts(contract, docs)
        assert all(r["route"] == "kernel" for r in rows)
        assert all(r["valid"] == expected[r["doc"]] for r in rows)


def test_reserved_columns_guarded(spark):
    df = spark.createDataFrame([("{}", 1)], "doc string, __jv long")
    with pytest.raises(ValueError, match="__jv"):
        with_valid_json(df, "doc", CONTRACT)


def test_decimal_double_cast_parity(spark):
    """The gate admits DECIMAL-tagged fractions on the premise that
    Spark's decimal→double conversion equals Python strtod for p−s ≤ 15
    — pin it on adversarial literals."""
    lits = ["0.1", "5.7", "0.30000000000000004", "123456.789012345",
            "0.000001", "999999999999999.9", "0.12345678901234568",
            "-0.3000000000000001", "2.2250738585072011e-308"]
    docs = ['{"x": %s}' % s for s in lits]
    df = spark.createDataFrame([(d,) for d in docs], "doc string")
    got = {r["doc"]: r["x"] for r in df.select(
        "doc", F.try_variant_get(F.try_parse_json("doc"), "$.x",
                                 "double").alias("x")).collect()}
    for s, d in zip(lits, docs):
        assert got[d] == float(s), (s, got[d])


def test_random_docs_route_matches_kernel(spark):
    """Fuzz axis: random documents over the contract's key space with
    hostile values in every slot — parity on all of them."""
    import random

    rng = random.Random(515)
    k_pool = [0, 5, 50, 99, -1, 5.0, 5.7, "5", None, True,
              9007199254740993, 2**53, 2**53 - 1, 10**20, [1], {"z": 1}]
    name_pool = ["user1", "user123456", "nope", "", None, 7, 1.5,
                 "usér5", True, ["user1"]]
    xs_pool = [[1, 2, 3], [], [0], [1, 1, 2], [12, 13, 1], [1, None, 2],
               [1.5, 2, 3], ["a"], [[1]], [10**17, 1, 2], None, "xs", 5,
               [1, 2, 3, 4] * 5]
    extra_pool = [None, "s", 5, 1.5, [1], {"d": 1}, True]

    def gen():
        doc = {}
        if rng.random() < 0.9:
            doc["k"] = rng.choice(k_pool)
        if rng.random() < 0.9:
            doc["name"] = rng.choice(name_pool)
        if rng.random() < 0.9:
            doc["xs"] = rng.choice(xs_pool)
        if rng.random() < 0.3:
            doc["extra"] = rng.choice(extra_pool)
        if rng.random() < 0.1:
            doc["alias"] = "a"
        return json.dumps(doc)

    docs = list({gen() for _ in range(300)})
    df = spark.createDataFrame([(d,) for d in docs], "doc string")
    out = with_valid_json(df, "doc", CONTRACT, route_col="route").collect()
    expected = _kernel_verdicts(CONTRACT, docs)
    bad = [(r["doc"], r["route"], r["valid"], expected[r["doc"]])
           for r in out if r["valid"] != expected[r["doc"]]]
    assert not bad, f"{len(bad)} mismatches; first: {bad[:3]}"


def test_json_violation_rows_matches_kernel_errors(spark):
    """errors() over a JSON column: per-doc rows must equal the
    kernel's iter_errors stream byte-for-byte (messages are the
    reference's), valid rows emit nothing, unparseable docs get the
    synthetic __parse__ row, and id columns ride along."""
    from jema_js_spark.validation.json_plane import json_violation_rows

    docs = [(i, d) for i, d in enumerate(HOSTILE_DOCS)]
    df = spark.createDataFrame(docs, "i long, doc string")
    out = json_violation_rows(df, "doc", CONTRACT, id_cols=["i"])
    got = {}
    for r in out.collect():
        got.setdefault(r["i"], []).append((r["keyword"], r["message"]))

    v = Validator(Schema(CONTRACT))
    for i, d in docs:
        try:
            value = None if d is None else json.loads(d)
        except (TypeError, ValueError):
            assert got.get(i) == [("__parse__",
                                   "document is not parseable JSON")], d
            continue
        expected = [e.message for e in v.iter_errors(value)]
        messages = [m for _, m in sorted(got.get(i, []))]
        assert sorted(messages) == sorted(expected), (d, messages, expected)
    # every valid doc is absent from the output entirely
    valid_ids = {i for i, d in docs
                 if d is not None and _try_valid(v, d)}
    assert valid_ids.isdisjoint(got), valid_ids & set(got)


def test_json_violation_rows_reports_errors_then_the_raise(spark):
    """A contract whose evaluation records an error and THEN raises (a
    failing ``type`` before a dangling ``$ref``): the kernel yields the
    ``type`` error and then raises RefResolutionError, so the errors
    pass emits the ``type`` row followed by one ``__error__`` row."""
    from jema_js_spark.validation.json_plane import json_violation_rows

    contract = {"type": "string", "$ref": "#/$defs/nope"}
    df = spark.createDataFrame([(0, "5")], "i long, doc string")
    rows = json_violation_rows(df, "doc", contract, id_cols=["i"]).collect()
    got = [(r["i"], r["keyword"], r["message"]) for r in rows]
    assert got[:1] == [(0, "type", '"5" does not match type:string')], got
    assert [(i, k) for i, k, _ in got[1:]] == [(0, "__error__")], got
    assert "$ref-schema not found" in got[1][2], got


def _try_valid(v, d):
    try:
        return v.validate(json.loads(d))
    except Exception:
        return False


def test_json_violation_rows_underscore_and_spaced_id_cols(spark):
    # round-5 review find: itertuples renames non-identifier /
    # underscore-leading columns — positional access must survive a
    # document-store `_id` and a spaced column name
    from jema_js_spark.validation.json_plane import json_violation_rows

    df = spark.createDataFrame(
        [(1, "x", '{"k": 1}'), (2, "y", "junk")],
        "`_id` long, `my col` string, doc string")
    out = json_violation_rows(df, "doc", {"required": ["k"],
                                           "properties": {"k": {"minimum": 3}}},
                              id_cols=["_id", "my col"]).collect()
    got = {(r["_id"], r["my col"], r["keyword"]) for r in out}
    assert (1, "x", "minimum") in got
    assert (2, "y", "__parse__") in got


def test_random_numeric_literals_route_matches_kernel(spark):
    """Adversarial numeric-literal fuzz for the routing gates: random
    digit counts (1-45), fractions, exponents, signs — exactly the
    space where BIGINT/DECIMAL/DOUBLE tags, the 2^53 magnitude gate,
    and the raw pure-integer regex must cooperate."""
    import random

    rng = random.Random(808)

    def lit():
        kind = rng.choice(["int", "frac", "exp", "intexp"])
        digits = "".join(rng.choice("0123456789")
                         for _ in range(rng.randint(1, 45)))
        digits = digits.lstrip("0") or "0"
        sign = rng.choice(["", "-"])
        if kind == "int":
            return f"{sign}{digits}"
        if kind == "frac":
            frac = "".join(rng.choice("0123456789")
                           for _ in range(rng.randint(1, 25)))
            return f"{sign}{digits}.{frac}"
        if kind == "exp":
            return f"{sign}{digits}.{rng.randint(0, 99)}e{rng.randint(-200, 200)}"
        return f"{sign}{digits}e{rng.randint(-30, 30)}"

    contract = {"type": "object", "required": ["x"],
                "properties": {
                    "x": {"type": "number", "minimum": -1e30,
                          "exclusiveMaximum": 1e25},
                    "xs": {"type": "array",
                            "items": {"type": "number",
                                      "multipleOf": 0.5}}}}
    docs = []
    for _ in range(250):
        parts = ['"x": ' + lit()]
        if rng.random() < 0.5:
            parts.append('"xs": [' + ", ".join(
                lit() for _ in range(rng.randint(0, 4))) + "]")
        docs.append("{" + ", ".join(parts) + "}")
    docs = sorted(set(docs))
    df = spark.createDataFrame([(d,) for d in docs], "doc string")
    out = with_valid_json(df, "doc", contract, route_col="route").collect()
    expected = _kernel_verdicts(contract, docs)
    bad = [(r["doc"][:80], r["route"], r["valid"], expected[r["doc"]])
           for r in out if r["valid"] != expected[r["doc"]]]
    assert not bad, f"{len(bad)} mismatches; first: {bad[:3]}"


def test_allof_composed_contracts_route(spark):
    """The allOf-composed strict-contract idiom (base schema + $ref'd
    extension) must route like a flat contract — the field layout is
    drawn from every conjunctive position."""
    contract = {
        "$defs": {"base": {"properties": {"k": {"type": "integer",
                                                  "minimum": 0}},
                            "required": ["k"]}},
        "$ref": "#/$defs/base",
        "allOf": [{"properties": {"name": {"type": "string",
                                             "minLength": 2}}},
                   {"properties": {"xs": {"allOf": [
                       {"type": "array"},
                       {"items": {"type": "integer", "maximum": 9}}]}}}],
        "properties": {"flag": {"type": "boolean"}},
        "unevaluatedProperties": False,
    }
    plan = analyze_json_contract(contract)
    assert plan.routable, plan.reasons
    assert plan.root[0] == "object"
    assert set(plan.root[1]) == {"k", "name", "xs", "flag"}
    assert plan.root[1]["xs"] == ("array", "integer")

    docs = [
        '{"k": 1, "name": "ab", "xs": [1, 2], "flag": true}',
        '{"k": 1, "name": "a"}',            # minLength violated
        '{"k": -1}',                        # minimum violated
        '{"name": "ab"}',                   # required k missing
        '{"k": 1, "xs": [10]}',             # ref'd item bound violated
        '{"k": 1, "zz": 1}',                # unevaluated extra
        '{"k": "s"}', '{"k": null}', 'junk',
        '{"k": 1, "xs": "not-an-array"}',
    ]
    df = spark.createDataFrame([(d,) for d in docs], "doc string")
    out = with_valid_json(df, "doc", contract, route_col="route").collect()
    expected = _kernel_verdicts(contract, docs)
    bad = [(r["doc"], r["route"], r["valid"], expected[r["doc"]])
           for r in out if r["valid"] != expected[r["doc"]]]
    assert not bad, bad
    # the well-shaped docs actually took the columnar plane
    routes = {r["doc"]: r["route"] for r in out}
    assert routes['{"k": 1, "name": "ab", "xs": [1, 2], "flag": true}'] \
        == "columnar"
    assert routes['{"k": -1}'] == "columnar"


MAP_CONTRACTS = [
    {"type": "object", "propertyNames": {"pattern": "^[a-z_]+$"},
     "additionalProperties": {"type": "integer", "minimum": 0}},
    {"type": "object",
     "patternProperties": {"^x": {"type": "number", "minimum": 5}},
     "additionalProperties": {"type": "number", "maximum": 100}},
    {"type": "object", "minProperties": 1,
     "additionalProperties": {"type": "array",
                              "items": {"type": "integer", "maximum": 9}}},
    {"type": "object", "required": ["id"],
     "properties": {"id": {"type": "string", "minLength": 2}},
     "additionalProperties": {"type": "string"}},
]

MAP_DOCS = [
    '{"a":1,"b":2}', '{"a":-1}', '{"A":1}', '{"a":1,"a":2}',
    '{"a":null}', '{"x1":7.5}', '{"x1":2}', '{"x1":7,"y":200}',
    '{"a":"s"}', '{}', '[]', '5', 'null', None, 'junk',
    '{"a":9007199254740993}', '{"a":10000000000000000001}',
    '{"k":[1,2]}', '{"k":[10]}', '{"k":[1,null]}', '{"k":["s"]}',
    '{"id":"ab","z":"y"}', '{"id":"a"}', '{"z":"y"}',
    '{"id":"ab","z":7}', '{"weird ~key":3}', '{"a":0.5}',
    '{ "a": 1 }', '{"b":2,"a":1}', '{"a":1e2}', '{"a":100.0}',
    '{"a":0.09999999999999999}', '{"s":"0.5 in a string 1234567890123456"}',
]


@pytest.mark.parametrize("contract", MAP_CONTRACTS,
                         ids=[str(i) for i in range(len(MAP_CONTRACTS))])
def test_map_route_matches_kernel(spark, contract):
    """Round 6 (VERDICT r5 #6): dynamic-key contracts
    (patternProperties / propertyNames / additionalProperties with one
    value type) route via map<string,T> extraction — every verdict
    equals the kernel's, on the routed shape, against duplicate keys,
    JSON-null values (map to_json RENDERS those — gated), huge
    integers, off-type values, and non-objects."""
    plan = analyze_json_contract(contract)
    assert plan.root[0] == "map", plan.reasons
    df = spark.createDataFrame([(i, d) for i, d in enumerate(MAP_DOCS)],
                               "i long, doc string")
    out = with_valid_json(df, "doc", contract, route_col="route").collect()
    expected = _kernel_verdicts(contract, MAP_DOCS)
    bad = [(r["doc"], r["route"], r["valid"], expected[r["doc"]])
           for r in out if r["valid"] != expected[r["doc"]]]
    assert not bad, bad
    assert len(out) == len(MAP_DOCS)


def test_map_route_hazards_stay_kernel(spark):
    """The map-specific shortcut gates: duplicate keys and JSON-null
    values round-trip through from_json/to_json (probed round 6) but
    MUST NOT route columnar — dup-key maps look up first-match while
    the kernel is last-wins, and null values read as absent under the
    bridge."""
    contract = MAP_CONTRACTS[0]
    df = spark.createDataFrame(
        [('{"a":1,"a":2}',), ('{"a":null}',), ('{"a":1}',),
         ('{"a":9007199254740993}',)], "doc string")
    routes = {r["doc"]: r["route"] for r in with_valid_json(
        df, "doc", contract, route_col="route").collect()}
    assert routes['{"a":1,"a":2}'] == "kernel"
    assert routes['{"a":null}'] == "kernel"
    assert routes['{"a":9007199254740993}'] == "kernel"
    assert routes['{"a":1}'] == "columnar"


def test_map_route_fuzz_matches_kernel(spark):
    """Random dynamic-key documents: keys from a hostile pool (unicode,
    empty, dup-prone), values across every tag the gates must classify."""
    import random

    rng = random.Random(909)
    contract = {"type": "object",
                "propertyNames": {"maxLength": 6},
                "patternProperties": {"^n": {"minimum": 0}},
                "additionalProperties": {"type": "number",
                                         "exclusiveMaximum": 1e6}}
    keys = ["a", "n1", "nn", "k", "zz", "é", "ab cd", "toolongkey", ""]
    vals = ["1", "-2", "0.5", "1e2", "100.0", '"s"', "null", "true",
            "[1]", "{}", "9007199254740993", "10000000000000000001",
            "0.30000000000000004", "123456789012345678901234567890123456789012"]

    def gen():
        n = rng.randint(0, 4)
        parts = [f'"{rng.choice(keys)}": {rng.choice(vals)}'
                 for _ in range(n)]
        return "{" + ", ".join(parts) + "}"

    docs = list({gen() for _ in range(300)})
    df = spark.createDataFrame([(d,) for d in docs], "doc string")
    out = with_valid_json(df, "doc", contract, route_col="route").collect()
    expected = _kernel_verdicts(contract, docs)
    bad = [(r["doc"][:90], r["route"], r["valid"], expected[r["doc"]])
           for r in out if r["valid"] != expected[r["doc"]]]
    assert not bad, f"{len(bad)} mismatches; first: {bad[:3]}"


def test_json_violation_rows_map_contract(spark):
    """errors() over a dynamic-key contract: valid maps emit nothing,
    violations carry the kernel's message shape, malformed docs get the
    synthetic __parse__ row — the errors path rides the map route."""
    from jema_js_spark.validation.json_plane import json_violation_rows

    contract = {"type": "object",
                "propertyNames": {"pattern": "^[a-z]+$"},
                "additionalProperties": {"type": "integer", "minimum": 0}}
    docs = [(1, '{"a":1,"b":2}'), (2, '{"a":-1}'), (3, '{"A":5}'),
            (4, 'junk'), (5, '{}')]
    df = spark.createDataFrame(docs, "i long, doc string")
    out = json_violation_rows(df, "doc", contract, id_cols=["i"])
    got = {}
    for r in out.collect():
        got.setdefault(r["i"], []).append((r["keyword"], r["message"]))
    assert 1 not in got and 5 not in got          # valid: no rows
    v = Validator(Schema(contract))
    for i, d in docs:
        if i in (1, 4, 5):
            continue
        expected = sorted(e.message for e in v.iter_errors(json.loads(d)))
        assert sorted(m for _, m in got[i]) == expected, (i, got[i])
    assert got[4] == [("__parse__", "document is not parseable JSON")]


def test_formatting_perturbation_fuzz(spark):
    """The round-trip shortcut matches only canonical renderings; any
    formatting perturbation (whitespace, key order, unicode escapes,
    exponent forms, float respellings) must fall through the gates
    WITHOUT changing a verdict — fail-closed means slower, never
    different."""
    import random

    rng = random.Random(1212)
    base_docs = []
    for i in range(60):
        d = {}
        if rng.random() < 0.9:
            d["k"] = rng.choice([0, 5, 99, -1, 2**53 + 1])
        if rng.random() < 0.9:
            d["name"] = rng.choice(["user1", "usér5", "nope", ""])
        if rng.random() < 0.7:
            d["xs"] = rng.sample([0, 1, 2, 3, 11, 13], rng.randint(0, 4))
        base_docs.append(d)

    def perturb(d):
        mode = rng.randrange(5)
        if mode == 0:                     # canonical compact
            return json.dumps(d, separators=(",", ":"))
        if mode == 1:                     # spaced
            return json.dumps(d, separators=(", ", ": "))
        if mode == 2:                     # indented
            return json.dumps(d, indent=2)
        if mode == 3:                     # escaped unicode
            return json.dumps(d, ensure_ascii=True,
                              separators=(",", ":"))
        # reversed key order
        return "{" + ",".join(
            f"{json.dumps(k)}:{json.dumps(v)}"
            for k, v in reversed(list(d.items()))) + "}"

    docs = sorted({perturb(d) for d in base_docs for _ in range(3)})
    df = spark.createDataFrame([(x,) for x in docs], "doc string")
    out = with_valid_json(df, "doc", CONTRACT, route_col="route").collect()
    expected = _kernel_verdicts(CONTRACT, docs)
    bad = [(r["doc"][:80], r["route"], r["valid"], expected[r["doc"]])
           for r in out if r["valid"] != expected[r["doc"]]]
    assert not bad, f"{len(bad)} mismatches; first: {bad[:3]}"
    # the canonical-compact subset must actually hit the columnar plane
    routes = {r["doc"]: r["route"] for r in out}
    canon = [x for x in docs
             if x == json.dumps(json.loads(x), separators=(",", ":"))
             and "9007199254740993" not in x]
    assert canon and all(routes[x] == "columnar" for x in canon), \
        [x for x in canon if routes[x] != "columnar"][:3]


def test_mixed_value_types_fall_through_to_struct_mode(spark):
    """When dynamic-key value schemas disagree with the fixed
    properties' types through VALUE-READING keywords, map mode is
    impossible — the contract falls back to struct mode (fixed keys
    route, extra keys go kernel) with kernel-exact verdicts.  Purely
    TAG-AFFINE disagreement instead routes as a variant map (round 7
    session 5); only value-reading heterogeneity with no fixed
    properties stays whole on the kernel with a published reason."""
    mixed = {"type": "object",
             "properties": {"id": {"type": "string", "minLength": 2}},
             "additionalProperties": {"type": "integer", "minimum": 0}}
    plan = analyze_json_contract(mixed)
    assert plan.root[0] == "object" and plan.routable
    assert set(plan.root[1]) == {"id"}

    no_fixed = {"type": "object",
                "patternProperties": {"^a": {"type": "integer"},
                                       "^b": {"type": "string"}}}
    plan2 = analyze_json_contract(no_fixed)
    assert plan2.routable and plan2.root == ("map", ("variant", None)), \
        plan2

    no_fixed_reading = {"type": "object",
                        "patternProperties": {
                            "^a": {"type": "integer", "minimum": 0},
                            "^b": {"type": "string"}}}
    plan3 = analyze_json_contract(no_fixed_reading)
    assert not plan3.routable and plan3.reasons, plan3

    docs = ['{"id":"ab"}', '{"id":"a"}', '{"id":"ab","z":3}',
            '{"id":"ab","z":-1}', '{"z":5}', '{"id":7}', 'junk',
            '{"a":1,"b":"x"}', '{"a":"x"}']
    df = spark.createDataFrame([(d,) for d in docs], "doc string")
    for contract in (mixed, no_fixed):
        out = with_valid_json(df, "doc", contract,
                              route_col="route").collect()
        expected = _kernel_verdicts(contract, docs)
        bad = [(r["doc"], r["valid"], expected[r["doc"]])
               for r in out if r["valid"] != expected[r["doc"]]]
        assert not bad, (contract, bad)
    routes = {r["doc"]: r["route"] for r in with_valid_json(
        df, "doc", mixed, route_col="route").collect()}
    assert routes['{"id":"ab"}'] == "columnar"
    assert routes['{"id":"ab","z":3}'] == "kernel"    # extra key


def test_plane_b_compiled_contract_matches_kernel(spark):
    """A routable contract whose COMPILED plan still carries Plane-B
    checks (uncovered unevaluatedProperties claims → whole-node kernel
    fallback): verdicts stay kernel-exact — the routed shape runs the
    embedded kernel check per row (documented cost), never a different
    answer."""
    from jema_js_spark.compiler.compile import SchemaCompiler

    contract = {
        "type": "object",
        "properties": {"k": {"type": "integer"},
                        "name": {"type": "string"}},
        "anyOf": [{"required": ["k"]},
                   {"properties": {"alias": {"type": "string"}},
                    "required": ["alias"]}],
        "unevaluatedProperties": False,
    }
    plan = analyze_json_contract(contract)
    assert plan.routable, plan.reasons
    compiled = SchemaCompiler(Schema(contract)).compile_plan_for_column(
        F.lit(None).cast(plan.struct_type()), plan.struct_type())
    assert compiled.coverage()["plane_b_checks"] > 0   # the premise

    docs = ['{"k":1}', '{"k":1,"name":"a"}', '{"name":"a"}', '{}',
            '{"k":"s"}', '{"k":1,"z":2}', 'junk', '{"alias":"b"}',
            '{"k":null}', '{"alias":"b","name":"c"}']
    df = spark.createDataFrame([(d,) for d in docs], "doc string")
    out = with_valid_json(df, "doc", contract, route_col="route").collect()
    expected = _kernel_verdicts(contract, docs)
    bad = [(r["doc"], r["route"], r["valid"], expected[r["doc"]])
           for r in out if r["valid"] != expected[r["doc"]]]
    assert not bad, bad


def test_errors_path_screen_gating_plans(spark):
    """Physical-plan pins for the errors path's three screening shapes
    (round 6 gating + the round-7 masked screen, VERDICT r6 #5): pure
    Plane A screens with zero Python; a Plane-B-carrying routable plan
    screens with ONE masked whole-doc verdict UDF (ArrowEvalPython).
    Both screened shapes feed the residue straight into MapInPandas
    with no Exchange below it (a residue rebalance would let AQE pack
    the small residue into one Python task); unroutable contracts skip
    screening and add NO shuffle either."""
    from jema_js_spark.validation.json_plane import json_violation_rows

    df = spark.createDataFrame([(1, '{"k":1}')], "i long, doc string")

    def phys(contract):
        out = json_violation_rows(df, "doc", contract, id_cols=["i"])
        return out._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode
            .fromString("simple"))

    # pure Plane A: screened in-stage, no ArrowEvalPython verdict UDF
    pure = {"type": "object", "required": ["k"],
            "properties": {"k": {"type": "integer", "minimum": 0}}}
    p = phys(pure)
    assert "ArrowEvalPython" not in p, p
    assert "Exchange" not in p and "MapInPandas" in p, p

    # Plane-B-carrying routable contract: the masked verdict screen —
    # exactly one ArrowEvalPython stage (inputs nulled on rows the
    # screen can't exonerate), then MapInPandas in the same stage
    from jema_js_spark.compiler.compile import SchemaCompiler

    planeb = {
        "type": "object",
        "properties": {"k": {"type": "integer"},
                        "name": {"type": "string"}},
        "anyOf": [{"required": ["k"]},
                   {"properties": {"alias": {"type": "string"}},
                    "required": ["alias"]}],
        "unevaluatedProperties": False,
    }
    bplan = analyze_json_contract(planeb)
    assert bplan.routable
    bcompiled = SchemaCompiler(Schema(planeb)).compile_plan_for_column(
        F.lit(None).cast(bplan.struct_type()), bplan.struct_type())
    assert bcompiled.coverage()["plane_b_checks"] > 0   # the premise
    p2 = phys(planeb)
    assert p2.count("ArrowEvalPython") == 1, p2
    assert "Exchange" not in p2 and "MapInPandas" in p2, p2

    # unroutable contract: whole-input shape, no screen, no shuffle
    # (layoutless roots route keys-only since round 7 session 4, so
    # the specimen carries unevaluated* — a 100% Plane-B plan stays
    # on the kernel)
    p3 = phys({"type": "object", "minProperties": 1,
               "unevaluatedProperties": False})
    assert "ArrowEvalPython" not in p3, p3
    assert "Exchange" not in p3 and "MapInPandas" in p3, p3


def _group_stage_tasks(spark, group):
    """Task counts per stage (stage id order) of the jobs run under a
    job group, read once every job of the group has finished."""
    import time

    tracker = spark.sparkContext.statusTracker()
    deadline = time.monotonic() + 10
    while True:
        infos = [tracker.getJobInfo(j)
                 for j in tracker.getJobIdsForGroup(group)]
        if all(i is not None and i.status in ("SUCCEEDED", "FAILED")
               for i in infos) or time.monotonic() > deadline:
            break
        time.sleep(0.02)
    stages = [tracker.getStageInfo(sid) for sid in sorted(
        {sid for i in infos if i is not None for sid in i.stageIds})]
    return [st.numTasks for st in stages if st is not None]


@pytest.mark.parametrize("screen,contract", [
    ("plane_a", {"type": "object", "required": ["k"],
                 "properties": {"k": {"type": "integer", "minimum": 0}}}),
    ("masked", {"type": "object",
                "properties": {"k": {"type": "integer", "minimum": 0},
                               "name": {"type": "string"}},
                "anyOf": [{"required": ["k"]},
                          {"properties": {"alias": {"type": "string"}},
                           "required": ["alias"]}],
                "unevaluatedProperties": False}),
])
def test_errors_path_python_parallelism(spark, screen, contract):
    """The screened residue's iter_errors stage runs at the input's
    partitioning (after _maybe_consolidate), not at whatever AQE makes
    of a rebalance of a few-KB residue — which is ONE task, leaving the
    whole Python pass on one core.  Pinned with statusTracker task
    counts under a job group: exactly one stage, one task per input
    partition, and one error row per invalid document."""
    from jema_js_spark.validation.json_plane import (_maybe_consolidate,
                                                     json_violation_rows)

    src = spark.range(0, 400, 1, 4).selectExpr(
        "id as i",
        "concat('{\"k\":', if(id % 4 = 0, -1, id), '}') as doc")
    parts = _maybe_consolidate(src).rdd.getNumPartitions()
    assert parts == 4
    group = f"errors-parallelism-{screen}"
    sc = spark.sparkContext
    sc.setJobGroup(group, "errors path parallelism pin")
    try:
        rows = json_violation_rows(src, "doc", contract,
                                   id_cols=["i"]).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sorted(r["i"] for r in rows) == list(range(0, 400, 4))
    assert {r["keyword"] for r in rows} == {"minimum"}
    assert _group_stage_tasks(spark, group) == [parts]


def test_resubmitted_contract_copy_hits_route_bundle_memo(spark):
    """Schema() injects "$schema" into the contract dict it is given,
    so a memo keyed after that injection misses on a caller's fresh
    copy of an equal contract whenever the analysis memo hit (and no
    Schema() ran).  Every memo keys on the text taken before the
    injection: fresh deep copies through both entry points add ONE
    route-bundle entry."""
    import copy

    from jema_js_spark.runtime import colcache
    from jema_js_spark.validation import json_plane as jp

    contract = {"$comment": "route-bundle memo pin", "type": "object",
                "properties": {"k": {"type": "integer", "minimum": 0}}}
    df = spark.createDataFrame([('{"k":1}',), ('{"k":-1}',)], "doc string")

    def entries():
        # colcache keys: (applicationId, namespace, *memo key)
        return sum(1 for k in colcache._CACHE
                   if k[1] == "json_plane.route_bundle"
                   and "route-bundle memo pin" in k[2])

    jp.with_valid_json(df, "doc", copy.deepcopy(contract))
    jp.with_valid_json(df, "doc", copy.deepcopy(contract))
    jp.json_violation_rows(df, "doc", copy.deepcopy(contract))
    assert entries() == 1


def test_reused_contract_dict_hits_route_bundle_memo(spark):
    """The same contract dict object passed again (after the first
    call's Schema() injected "$schema" into it) keys like a fresh copy:
    repeated calls through both entry points add ONE route-bundle
    entry."""
    from jema_js_spark.runtime import colcache
    from jema_js_spark.validation import json_plane as jp

    contract = {"$comment": "reused dict pin", "type": "object",
                "properties": {"k": {"type": "integer", "minimum": 0}}}
    df = spark.createDataFrame([('{"k":1}',), ('{"k":-1}',)], "doc string")

    jp.with_valid_json(df, "doc", contract)
    jp.with_valid_json(df, "doc", contract)
    jp.json_violation_rows(df, "doc", contract)
    assert "$schema" in contract
    assert sum(1 for k in colcache._CACHE
               if k[1] == "json_plane.route_bundle"
               and "reused dict pin" in k[2]) == 1


def test_masked_memo_hit_builds_no_kernel_udf(spark, monkeypatch):
    """The routed plan's kernel UDF lives inside the masked-verdict
    memo: a second routed call with a fresh copy of the same contract
    constructs no kernel UDF (each construction is a py4j return-type
    parse on the driver)."""
    import copy

    from jema_js_spark.validation import kernel_udf

    built = []
    real = kernel_udf.kernel_validate_udf

    def counting(*a, **k):
        built.append(1)
        return real(*a, **k)

    monkeypatch.setattr(kernel_udf, "kernel_validate_udf", counting)
    contract = {"$comment": "kernel udf build pin", "type": "object",
                "properties": {"k": {"type": "integer", "minimum": 0}}}
    df = spark.createDataFrame([('{"k":1}',), ('{"k":-1}',)], "doc string")
    assert plan_choice(copy.deepcopy(contract))["shape"] == "route"
    for _ in range(2):
        out = with_valid_json(df, "doc", copy.deepcopy(contract))
    assert len(built) == 1
    assert [r["valid"] for r in out.collect()] == [True, False]


def test_errors_path_masked_screen_output_identical(spark):
    """The round-7 masked screen must not change a single emitted row:
    a Plane-B-carrying routable contract's violation rows are compared
    field-for-field against the kernel's own iter_errors over every
    document — including docs the screen exonerates (columnar-valid),
    docs failing only the Plane-B check, docs failing Plane-A checks,
    unrouted shapes, JSON null, and unparseable input."""
    import json as _json

    from jema_js_spark.validation.json_plane import json_violation_rows

    contract = {
        "type": "object",
        "properties": {"k": {"type": "integer"},
                        "name": {"type": "string"}},
        "anyOf": [{"required": ["k"]},
                   {"properties": {"alias": {"type": "string"}},
                    "required": ["alias"]}],
        "unevaluatedProperties": False,
    }
    docs = [
        '{"k": 3}',                       # valid (screened out)
        '{"k": 3, "name": "a"}',          # valid
        '{"alias": "z"}',                 # valid via second anyOf branch
        '{"k": "s"}',                     # Plane-A type failure
        '{"k": 3, "extra": 1}',           # fails ONLY unevaluatedProps (B)
        '{"name": "a"}',                  # fails anyOf
        '[1, 2]',                         # unrouted shape
        'null',                           # JSON null
        'not json',                       # unparseable
        None,                             # SQL NULL → JSON null bridge
    ]
    df = spark.createDataFrame(list(enumerate(docs)), "i long, doc string")
    got = sorted(
        tuple(r) for r in json_violation_rows(
            df, "doc", contract, id_cols=["i"]).collect())

    from jema_js_spark.kernel.jstypes import js_to_string

    v = Schema(contract)
    expected = []
    for i, doc in enumerate(docs):
        try:
            value = None if doc is None else _json.loads(doc)
        except ValueError:
            expected.append((i, "__parse__", "__parse__", "[]", "[]", "",
                             "document is not parseable JSON"))
            continue
        for err in v.errors(value):
            spath = [str(x) for x in err.schema_stack]
            keyword = next((x for x in reversed(spath)
                            if not x.isdigit()), "")
            expected.append((
                i, ".".join(spath), keyword,
                _json.dumps(err.schema_stack), _json.dumps(err.data_stack),
                js_to_string(err.schema_value), err.message))
    assert got == sorted(expected)


def test_oversized_docs_route_matches_kernel(spark):
    """Stress shapes: 10k-element arrays, 100k-char strings, deeply
    nested extra-key values, and a 5k-key map — the gates must stay
    crash-free (no giant-expression hazards) and verdict-exact."""
    big_xs = "[" + ",".join(str(i % 12) for i in range(10000)) + "]"
    big_name = "user" + "9" * 100000
    deep_extra = '{"a":' * 200 + "1" + "}" * 200
    docs = [
        '{"k":1,"name":"user1","xs":%s}' % big_xs,
        '{"k":1,"name":"%s","xs":[1,2,3]}' % big_name,
        '{"k":1,"name":"user1","xs":[1,2,3],"extra":%s}' % deep_extra,
    ]
    df = spark.createDataFrame([(d,) for d in docs], "doc string")
    out = with_valid_json(df, "doc", CONTRACT, route_col="route").collect()
    expected = _kernel_verdicts(CONTRACT, docs)
    for r in out:
        assert r["valid"] == expected[r["doc"]], (r["doc"][:60], r["route"])

    map_contract = {"type": "object",
                    "additionalProperties": {"type": "integer",
                                             "minimum": 0}}
    wide = "{" + ",".join(f'"k{i}":{i % 7}' for i in range(5000)) + "}"
    wide_bad = "{" + ",".join(f'"k{i}":{i % 7}' for i in range(4999)) \
        + ',"z":-1}'
    df2 = spark.createDataFrame([(wide,), (wide_bad,)], "doc string")
    out2 = {r["doc"]: (r["valid"], r["route"]) for r in with_valid_json(
        df2, "doc", map_contract, route_col="route").collect()}
    assert out2[wide] == (True, "columnar")
    assert out2[wide_bad][0] is False


def _route_verdicts(spark, items, batch=16):
    """Every ``(contract, [(label, doc, want), ...])`` item through
    with_valid_json, ``batch`` contracts per job as stacked auto
    columns: the routed shape references its input ONCE per stack
    (linear plan growth).  Every contract judges every row of its job;
    only its own rows are asserted.  Returns the mismatches as
    ``(contract, label, got, want)`` and how many own rows the route
    judged columnar."""
    from tests.suite_cases import REMOTES

    mismatches, routed = [], 0
    for start in range(0, len(items), batch):
        chunk = items[start:start + batch]
        rows = [(si, i, doc) for si, (_c, docs) in enumerate(chunk)
                for i, (_label, doc, _want) in enumerate(docs)]
        if not rows:
            continue
        df = spark.createDataFrame(rows, "sid int, i int, doc string")
        for si, (contract, _docs) in enumerate(chunk):
            df = with_valid_json(df, "doc", contract, col_name=f"v{si}",
                                 route_col=f"r{si}", remotes=REMOTES)
        for r in df.collect():
            contract, docs = chunk[r["sid"]]
            label, _doc, want = docs[r["i"]]
            got = r[f"v{r['sid']}"]
            routed += r[f"r{r['sid']}"] == "columnar"
            if got != want:
                mismatches.append((contract, label, got, want))
    return mismatches, routed


def _corpus_schemas():
    """The corpus's dict schemas, deduped, each with its cases (round 7
    root-value mode: scalar/array data cases run through the route too
    — only the schema must be a dict; boolean roots are unroutable by
    analysis)."""
    from collections import defaultdict

    from tests.suite_cases import CASES

    by_schema = defaultdict(list)
    for c in CASES:
        if not isinstance(c.schema, dict):
            continue
        try:
            key = json.dumps(c.schema, sort_keys=True)
        except (TypeError, ValueError):
            continue
        by_schema[key].append(c)
    return [(key, cs[0].schema, cs) for key, cs in by_schema.items()]


def _dumps_or_none(value):
    try:
        return json.dumps(value)
    except (TypeError, ValueError):
        return None


def test_conformance_corpus_through_route(spark):
    """The conformance corpus itself through with_valid_json: every
    object-data case whose schema the analyzer deems routable must get
    its corpus-expected verdict through the ROUTE (shortcut, gates, or
    kernel residue alike).  Schemas are batched per contract; the
    per-contract docs become a JSON column.  This ties the route to the
    same 48-file suite the kernel parity runs on, beyond the
    hand-built batteries."""
    from tests.suite_cases import expected_for

    routable = []
    for _key, contract, cs in _corpus_schemas():
        try:
            if analyze_json_contract(contract).routable:
                routable.append((contract, cs))
        except Exception:
            continue
    # round 6 (flat layouts): 31 routable schemas / 93 cases; round 7
    # (recursive layouts + heuristic slots): 90 schemas / 251 cases;
    # round 7 root-value mode (scalar/array roots through the {"v":...}
    # wrapper, non-object data cases now admitted): 386; round 7
    # keys-only variant maps (layoutless object-affine roots): 418;
    # round 7 session 5 (bracket-quoted names, variant tag slots): 423;
    # round 8 (recursive $ref bounded unroll, VERDICT r7 #4): 429 of
    # this filter's 434 deduped dict schemas — the 5 holdouts are all
    # deliberate stay-kernel classes (scope-sensitive $dynamicRef ×3,
    # unevaluated*-carrying layoutless roots ×2: 100% Plane-B plans
    # where routing buys nothing).  The floor pins against silent
    # routability regressions.
    assert len(routable) >= 429, len(routable)

    # Round 8 (VERDICT r7 #2): EVERY routable corpus schema, every
    # case — the fixed 60-schema sample left ~363 schemas' routed
    # verdicts to the targeted batteries, and the last two verdict
    # bugs lived exactly in routing-mode interactions.
    items = [(contract, [(c.desc, d, expected_for(c)) for c in cs
                         if (d := _dumps_or_none(c.data)) is not None])
             for contract, cs in routable]
    mismatches, _routed = _route_verdicts(spark, items)
    assert not mismatches, \
        f"{len(mismatches)} mismatches; first: {mismatches[:2]}"


def _ref_free_routable_corpus():
    """Corpus schemas without any reference keyword (wrapping one under
    a property would move what its JSON pointers address), routable on
    their own."""
    out = []
    for key, contract, cs in _corpus_schemas():
        if any(r in key for r in ('"$ref"', '"$dynamicRef"',
                                  '"$recursiveRef"')):
            continue
        if analyze_json_contract(contract).routable:
            out.append((contract, cs))
    return out


def test_root_and_nested_layouts_agree():
    """ONE layout analysis: a subschema gets the same routing node at
    the root as one property level down — analyze_json_contract builds
    the root with _build_node, so no root-only policy can drift from
    the nested one.  Before the root went through _build_node, 34 of
    these schemas got a different layout at the root (variant vs typed
    map values, keys-only vs empty struct, struct fallthrough)."""
    corpus = _ref_free_routable_corpus()
    assert len(corpus) >= 340, len(corpus)
    bad = []
    for s, _cs in corpus:
        want = ("object", {"a": analyze_json_contract(s).root})
        got = analyze_json_contract({"properties": {"a": s}})
        if got.root != want:
            bad.append((s, got.root, want, got.reasons))
    assert not bad, f"{len(bad)} disagree; first: {bad[:2]}"


# layout shifts of the one layout analysis, each pinned: (contract, root)
LAYOUT_SHIFTS = [
    # a nested layoutless object routes keys-only, like a root one
    ({"properties": {"a": {"type": "object", "required": ["x"]}}},
     ("object", {"a": ("map", ("variant", None))})),
    ({"items": {"type": "object"}}, ("array", ("map", ("variant", None)))),
    # a nested map whose values disagree falls through to its fixed-key
    # struct, like a root one (extra keys take the kernel)
    ({"properties": {"a": {
        "properties": {"x": {"type": "integer"}, "y": {"type": "string"}},
        "patternProperties": {"^z": {"type": "integer", "minimum": 0}}}}},
     ("object", {"a": ("object", {"x": ("integer", None),
                                  "y": ("string", None)})})),
    # root map values are built like nested ones: a null-typed value
    # takes the default string slot
    ({"additionalProperties": {"type": "null"}}, ("map", ("string", None))),
    # a root union of tag-affine types is a variant slot
    ({"type": ["object", "array"]}, ("variant", None)),
    # a root's own non-object type wins over its properties
    ({"type": "integer", "properties": {"a": {"type": "string"}}},
     ("integer", None)),
    # unevaluated* keeps a nested layoutless object an empty struct
    ({"properties": {"a": {"minProperties": 2,
                           "unevaluatedProperties": False}}},
     ("object", {"a": ("object", {})})),
]


def test_layout_shifts_pinned():
    for contract, root in LAYOUT_SHIFTS:
        plan = analyze_json_contract(contract)
        assert plan.routable and plan.root == root, (contract, plan)
    # root reasons are labelled like nested ones
    plan = analyze_json_contract({"properties": {"b": {"properties": {
        "q'r": {}}}}})
    assert plan.reasons == [
        "root.b.q'r: name not addressable in a variant path "
        "(quote/backslash/control char) — kernel only"], plan.reasons


def test_nested_layout_shifts_route_columnar(spark):
    """The two nested shifts that widen routing: a document that only
    reached the kernel before now runs columnar, with the kernel's
    verdict."""
    docs = ['{"a":{"x":1,"y":"z"}}', '{"a":{"y":"z"}}', '{"a":{"x":"1"}}',
            '{"a":{"x":1,"x":2}}', '{"a":{"x":1,"z":-1}}', '{"a":null}',
            '{"a":[]}', '{}']
    df = spark.createDataFrame([(d,) for d in docs], "doc string")
    for contract, _root in (LAYOUT_SHIFTS[0], LAYOUT_SHIFTS[2]):
        rows = with_valid_json(df, "doc", contract,
                               route_col="route").collect()
        expected = _kernel_verdicts(contract, docs)
        bad = [(r["doc"], r["valid"]) for r in rows
               if r["valid"] != expected[r["doc"]]]
        assert not bad, (contract, bad)
        routes = {r["doc"]: r["route"] for r in rows}
        assert routes['{"a":{"x":1,"y":"z"}}'] == "columnar", contract


# hazard documents added for every wrapped contract: an empty nested
# object, a JSON-null value, duplicate nested keys, the empty document
NESTED_WRAP_HAZARDS = ['{"a":{}}', '{"a":null}', '{"a":{"k":1,"k":"x"}}',
                       '{}']


def test_nested_wrapped_corpus_differential(spark):
    """Every ref-free corpus schema S one level down — contract
    ``{"properties": {"a": S}}``, documents ``{"a": d}`` plus
    NESTED_WRAP_HAZARDS — through the route: verdicts must equal the
    kernel's on every row.  The routed-row floor pins the nested
    layouts' reach (measured: 974 of 2,760 rows, 342 contracts; 880 of
    2,745 rows, 340 contracts, before nested layouts followed the
    root's policy)."""
    items = []
    for s, cs in _ref_free_routable_corpus():
        contract = {"properties": {"a": s}}
        if not analyze_json_contract(contract).routable:
            continue
        docs = [d for c in cs
                if (d := _dumps_or_none({"a": c.data})) is not None]
        docs += NESTED_WRAP_HAZARDS
        want = _kernel_verdicts(contract, docs)
        items.append((contract, [(d, d, want[d]) for d in docs]))
    assert len(items) >= 340, len(items)
    mismatches, routed = _route_verdicts(spark, items)
    assert not mismatches, \
        f"{len(mismatches)} mismatches; first: {mismatches[:2]}"
    assert routed >= 974, routed


NESTED_CONTRACT = {
    "type": "object", "required": ["id", "profile"],
    "properties": {
        "id": {"type": "integer", "minimum": 0},
        "profile": {
            "type": "object", "required": ["name"],
            "properties": {
                "name": {"type": "string", "minLength": 2},
                "age": {"type": "integer", "minimum": 0, "maximum": 150},
                "nickname": {},            # typeless → heuristic slot
                "address": {
                    "type": "object",
                    "properties": {
                        "zip": {"pattern": "^[0-9]{5}$"},   # affinity
                        "geo": {"type": "array",
                                "items": {"type": "number"}}}}}},
        "events": {
            "type": "array",
            "items": {
                "type": "object", "required": ["ts"],
                "properties": {
                    "ts": {"type": "number", "minimum": 0},
                    "tags": {"type": "array",
                             "items": {"type": "string"}},
                    "n": {"type": "integer"}}}},
    },
}

NESTED_DOCS = [
    # canonical conforming (compact = round-trip shortcut hits)
    '{"id":1,"profile":{"name":"ann","age":30},'
    '"events":[{"ts":1.5,"tags":["a"],"n":2}]}',
    '{"id":2,"profile":{"name":"bo"}}',
    '{"id":3,"profile":{"name":"cy",'
    '"address":{"zip":"12345","geo":[1.5,2.5]}},"events":[]}',
    # violations that still route (typed shape fits, value fails)
    '{"id":-1,"profile":{"name":"ann"}}',
    '{"id":4,"profile":{"name":"x"}}',
    '{"id":5,"profile":{"name":"ann","age":200}}',
    '{"id":6,"profile":{"name":"ann","address":{"zip":"12"}}}',
    '{"id":7,"profile":{"name":"ann"},"events":[{"ts":-5}]}',
    '{"id":8,"profile":{}}',
    # extra key at a NESTED level → key-exactness gate → kernel (valid:
    # no additionalProperties constraint anywhere)
    '{"id":9,"profile":{"name":"ann","unknown":1}}',
    '{"id":10,"profile":{"name":"ann",'
    '"address":{"zip":"12345","what":true}}}',
    # JSON null at each depth (VOID: present ≠ absent → kernel)
    '{"id":11,"profile":null}',
    '{"id":12,"profile":{"name":null}}',
    '{"id":13,"profile":{"name":"ann","address":null}}',
    # null ELEMENT inside array-of-object (representable: element null
    # round-trips; kernel sees JSON null failing items type object)
    '{"id":14,"profile":{"name":"ann"},"events":[null]}',
    '{"id":15,"profile":{"name":"ann"},'
    '"events":[{"ts":1},null,{"ts":2}]}',
    # wrong container types at nested positions
    '{"id":16,"profile":[]}',
    '{"id":17,"profile":"ann"}',
    '{"id":18,"profile":{"name":"ann"},"events":{"ts":1}}',
    '{"id":19,"profile":{"name":"ann"},"events":[["ts"]]}',
    '{"id":20,"profile":{"name":5}}',
    '{"id":21,"profile":{"name":"ann","age":30.5}}',
    '{"id":22,"profile":{"name":"ann","age":"30"}}',
    # integer-exactness hazards DEEP inside array-of-object
    '{"id":23,"profile":{"name":"ann"},'
    '"events":[{"ts":1,"n":9007199254740993}]}',
    '{"id":24,"profile":{"name":"ann"},'
    '"events":[{"ts":12345678901234567}]}',
    '{"id":9007199254740993,"profile":{"name":"ann"}}',
    # long-decimal double inside nested array (doc-wide screen path)
    '{"id":25,"profile":{"name":"ann",'
    '"address":{"geo":[0.30000000000000004]}}}',
    '{"id":26,"profile":{"name":"ann"},'
    '"events":[{"ts":1e309}]}',
    # typeless slot gets hostile values (heuristic string slot must
    # fail closed, never mis-judge)
    '{"id":27,"profile":{"name":"ann","nickname":"nick"}}',
    '{"id":28,"profile":{"name":"ann","nickname":7}}',
    '{"id":29,"profile":{"name":"ann","nickname":{"deep":[1]}}}',
    '{"id":30,"profile":{"name":"ann","nickname":null}}',
    # geo with null element; empty nested object; dup keys nested
    '{"id":31,"profile":{"name":"ann","address":{"geo":[1,null]}}}',
    '{"id":32,"profile":{"name":"ann","address":{}}}',
    '{"id":33,"profile":{"name":"ann","name":"bo"}}',
    # root hostility
    'junk', '[]', '"s"', 'null', '17', '{}',
]


def test_nested_contract_battery_matches_kernel(spark):
    """Round-7 battery: recursive struct routing (nested objects,
    arrays of objects) — every doc aims at one gate (VOID at depth,
    nested extra keys, null array elements, deep integer-exactness,
    heuristic typeless slots), parity with the kernel on all."""
    plan = analyze_json_contract(NESTED_CONTRACT)
    assert plan.routable, plan.reasons
    dt = plan.struct_type()
    assert dt["profile"].dataType["address"].dataType["geo"].dataType \
        .elementType.typeName() == "double"
    assert dt["events"].dataType.elementType["n"].dataType \
        .typeName() == "long"

    df = spark.createDataFrame([(d,) for d in NESTED_DOCS], "doc string")
    out = with_valid_json(df, "doc", NESTED_CONTRACT,
                          route_col="route").collect()
    expected = _kernel_verdicts(NESTED_CONTRACT, NESTED_DOCS)
    bad = [(r["doc"][:90], r["route"], r["valid"], expected[r["doc"]])
           for r in out if r["valid"] != expected[r["doc"]]]
    assert not bad, f"{len(bad)} mismatches; first: {bad[:3]}"
    routes = {r["doc"]: r["route"] for r in out}
    # canonical compact conforming docs take the shortcut → columnar
    assert routes[NESTED_DOCS[0]] == "columnar"
    assert routes[NESTED_DOCS[1]] == "columnar"
    # nested extra key and VOID-at-depth must be kernel
    assert routes['{"id":9,"profile":{"name":"ann","unknown":1}}'] == "kernel"
    assert routes['{"id":11,"profile":null}'] == "kernel"


def test_nested_random_contracts_and_docs_match_kernel(spark):
    """Round-7 fuzz sweep: RANDOM nested layouts (depth ≤3: scalars,
    arrays of scalars, objects, arrays of objects, random constraints
    and required sets) × random documents drawn from hostile value
    pools — route verdict must equal the kernel on every pair."""
    import random

    rng = random.Random(707)
    scalar_specs = [
        {"type": "integer", "minimum": 0},
        {"type": "number", "maximum": 100},
        {"type": "string", "minLength": 2},
        {"type": "boolean"},
        {},
    ]

    def gen_schema(depth):
        r = rng.random()
        if depth >= 3 or r < 0.45:
            return dict(rng.choice(scalar_specs))
        if r < 0.6:
            return {"type": "array", "items": gen_schema(depth + 1)}
        props = {f"f{i}": gen_schema(depth + 1)
                 for i in range(rng.randint(1, 3))}
        sub = {"type": "object", "properties": props}
        req = [k for k in props if rng.random() < 0.3]
        if req:
            sub["required"] = req
        return sub

    val_pool = [0, 5, -3, 2.5, 150, "ab", "x", "", True, False, None,
                9007199254740993, 0.30000000000000004, [1, 2], {"z": 1}]

    def gen_value(sub, depth):
        if rng.random() < 0.25:             # hostile off-schema value
            return rng.choice(val_pool)
        t = sub.get("type")
        if t == "integer":
            return rng.choice([0, 7, 150, -2, 9007199254740993])
        if t == "number":
            return rng.choice([1.5, 99.0, 101.5, 3, 1e20])
        if t == "string":
            return rng.choice(["ab", "x", "hello", ""])
        if t == "boolean":
            return rng.choice([True, False])
        if t == "array":
            return [gen_value(sub.get("items", {}), depth + 1)
                    for _ in range(rng.randint(0, 3))]
        if t == "object":
            out = {}
            for k, s in sub.get("properties", {}).items():
                if rng.random() < 0.8:
                    out[k] = gen_value(s, depth + 1)
            if rng.random() < 0.15:
                out["extra"] = rng.choice(val_pool)
            return out
        return rng.choice(val_pool)

    checked = 0
    for ci in range(20):
        props = {f"p{i}": gen_schema(1) for i in range(rng.randint(1, 4))}
        contract = {"type": "object", "properties": props,
                    "required": [k for k in props if rng.random() < 0.4]}
        if not analyze_json_contract(contract).routable:
            continue
        docs = sorted({json.dumps(gen_value(contract, 0),
                                  separators=(",", ":"))
                       for _ in range(30)})
        df = spark.createDataFrame([(d,) for d in docs], "doc string")
        out = with_valid_json(df, "doc", contract).collect()
        expected = _kernel_verdicts(contract, docs)
        bad = [(r["doc"][:90], r["valid"], expected[r["doc"]])
               for r in out if r["valid"] != expected[r["doc"]]]
        assert not bad, \
            f"contract {contract}: {len(bad)} mismatches; {bad[:3]}"
        checked += 1
    assert checked >= 12, checked   # most random layouts must route


# --- round 7: root-value mode (scalar / array document roots) ----------

ROOT_CONTRACTS = [
    {"type": "integer", "minimum": 3},
    {"type": "number", "exclusiveMaximum": 10},
    {"type": "string", "minLength": 2, "pattern": "^[a-z]+$"},
    {"type": "boolean"},
    {"type": "array", "items": {"type": "integer", "minimum": 0},
     "minItems": 1},
    {"type": "array", "items": {"type": "object", "required": ["a"],
                                "properties": {"a": {"type": "integer"}}}},
    {"enum": ["a", "b"]},
    {"const": 5},
    {"minimum": 0},                      # keyword affinity -> number slot
    {},                                  # empty schema -> string default
    {"type": ["integer", "string"]},     # union -> integer slot
    {"type": "null"},                    # null-typed -> string slot
]

ROOT_DOCS = [
    '5', '2', '3', '-7', '10', '9.5', '"ab"', '"A"', '"a"', 'true',
    'false', '[1,2]', '[]', '[-1]', '[{"a":1}]', '[{"b":2}]',
    '[{"a":null}]', 'null', '{}', '{"v":5}', 'junk', '  5', '5 ', '"b"',
    '9007199254740993', '12345678901234567890123456789012345678901',
    '1.5', '0.1', '-0', 'NaN', '5,"v":6', '5}', '[1,2', '1e308', '1e309',
    '"\\u0041"', '[null]', '', '3.0', '1e2', '5.000000000000001',
    # wrapper-injection attempts: any doc text that changes the wrapped
    # parse fails the round-trip proof, and the gates judge the RAW doc
    '5},"w":{', '[5],"v":[6]', '"a","v":"b"',
]


def test_root_value_route_matches_kernel(spark):
    """Round-7 root-value mode: contracts whose documents are bare
    scalars or arrays route through the {"v": <doc>} wrapper — parity
    with the kernel on hostile docs (whitespace, wrapper injections,
    big ints, wrong types, malformed JSON)."""
    df = spark.createDataFrame([(i, d) for i, d in enumerate(ROOT_DOCS)],
                               "i long, doc string")
    for contract in ROOT_CONTRACTS:
        plan = analyze_json_contract(contract)
        assert plan.routable and plan.wrapped, (contract, plan.reasons)
        out = with_valid_json(df, "doc", contract, route_col="route").collect()
        expected = _kernel_verdicts(contract, ROOT_DOCS)
        bad = [(ROOT_DOCS[r["i"]], r["valid"], expected[ROOT_DOCS[r["i"]]])
               for r in out if r["valid"] != expected[ROOT_DOCS[r["i"]]]]
        assert not bad, f"{contract}: {bad[:5]}"


def test_root_value_canonical_docs_hit_shortcut(spark):
    """Canonical renderings take the round-trip shortcut and route
    columnar; every gate failure routes kernel."""
    contract = {"type": "array", "items": {"type": "number"}}
    docs = ['[1.5,2.5]', '[]', '[1.5, 2.5]', '"x"', '[1,2]', 'null']
    df = spark.createDataFrame([(d,) for d in docs], "doc string")
    out = {r["doc"]: (r["valid"], r["route"]) for r in with_valid_json(
        df, "doc", contract, route_col="route").collect()}
    assert out['[1.5,2.5]'] == (True, "columnar")
    assert out['[]'] == (True, "columnar")
    # whitespace variant: shortcut miss, variant gates still route it
    assert out['[1.5, 2.5]'] == (True, "columnar")
    assert out['"x"'] == (False, "kernel")
    # integer tokens in a number-slot array: DECIMAL/BIGINT tags route
    assert out['[1,2]'][0] is True
    assert out['null'] == (False, "kernel")


def test_root_value_violation_rows_match_kernel(spark):
    """errors() through the root-value screen: per-doc messages equal
    iter_errors byte-for-byte."""
    from jema_js_spark.validation.json_plane import json_violation_rows

    contract = {"type": "array", "minItems": 1,
                "items": {"type": "integer", "minimum": 0}}
    docs = [(i, d) for i, d in enumerate(
        ['[1,2]', '[]', '[-1]', '["x"]', 'junk', '5', '[0]'])]
    df = spark.createDataFrame(docs, "i long, doc string")
    out = json_violation_rows(df, "doc", contract, id_cols=["i"])
    got = {}
    for r in out.collect():
        got.setdefault(r["i"], []).append(r["message"])

    v = Validator(Schema(contract))
    for i, d in docs:
        try:
            value = json.loads(d)
        except ValueError:
            assert got.get(i) == ["document is not parseable JSON"], d
            continue
        expected = [e.message for e in v.iter_errors(value)]
        assert sorted(got.get(i, [])) == sorted(expected), (d, got.get(i))


def test_root_value_fuzz_matches_kernel(spark):
    """Random root-value contracts x random hostile scalar/array docs:
    route verdict equals the kernel on every pair."""
    import random

    rng = random.Random(808)
    roots = [
        {"type": "integer", "multipleOf": 3},
        {"type": "number", "minimum": -5, "maximum": 5},
        {"type": "string", "maxLength": 4},
        {"type": "array", "items": {"type": "number", "minimum": 0},
         "maxItems": 3},
        {"type": "array", "items": {"type": "string"}, "uniqueItems": True},
        {"type": "array",
         "items": {"type": "object",
                   "properties": {"a": {"type": "integer"},
                                  "b": {"type": "string"}},
                   "required": ["a"]}},
        {"enum": [1, 2, 3]},
        {"anyOf": [{"type": "integer"}, {"type": "string"}]},
        {"not": {"type": "string"}},
    ]
    pool = [0, 3, 6, -5, 5.5, 2.5, "ab", "abcde", "", True, None,
            2**53 + 1, 10**20, 0.1, [0, 1.5], [], ["a", "a"], ["a", "b"],
            [{"a": 1}], [{"a": "x"}], [{"b": "y"}], [None], {"a": 1}, {}]
    perturb = [lambda s: s, lambda s: " " + s, lambda s: s + "\n",
               lambda s: s.replace(",", ", "), lambda s: s.replace(":", ": ")]
    checked = 0
    for contract in roots:
        plan = analyze_json_contract(contract)
        if not plan.routable:
            continue
        docs = sorted({rng.choice(perturb)(json.dumps(rng.choice(pool),
                                                      separators=(",", ":")))
                       for _ in range(60)})
        df = spark.createDataFrame([(d,) for d in docs], "doc string")
        out = with_valid_json(df, "doc", contract).collect()
        expected = _kernel_verdicts(contract, docs)
        bad = [(r["doc"], r["valid"], expected[r["doc"]])
               for r in out if r["valid"] != expected[r["doc"]]]
        assert not bad, f"{contract}: {bad[:5]}"
        checked += 1
    assert checked >= 8, checked


def test_trailing_garbage_never_routes(spark):
    """Round-7 find: every Jackson-backed Spark parse is PREFIX-lenient
    ('{"k":1} junk' parses as {"k":1}), so round 6 routed such docs
    columnar and judged them valid while the kernel's json.loads
    rejects them.  The sentinel-array completeness proof must send every
    trailing-garbage doc to the kernel, in all three routing modes."""
    cases = {
        # struct mode
        json.dumps({"type": "object", "required": ["k"],
                    "properties": {"k": {"type": "integer",
                                         "minimum": 0}}}):
        ['{"k":1} junk', '{"k":1},"x":2', '{"k":1}{"k":2}', '{"k":1}]',
         '{"k":1}}', '{"k":1}\x0b', '{"k":1}\x0c', '{"k":1} ,',
         '{"k": 1} null', '{"k":1}'],
        # map mode
        json.dumps({"type": "object",
                    "additionalProperties": {"type": "integer"}}):
        ['{"a":1} junk', '{"a":1},"b":2', '{"a":1}'],
        # root-value mode
        json.dumps({"type": "array", "items": {"type": "integer"}}):
        ['[5],"v":[6]', '[5] ,', '[5]]', '[5] junk', '[1,2] [3]', '[5]'],
    }
    for contract_json, docs in cases.items():
        contract = json.loads(contract_json)
        df = spark.createDataFrame([(d,) for d in docs], "doc string")
        out = {r["doc"]: (r["valid"], r["route"]) for r in with_valid_json(
            df, "doc", contract, route_col="route").collect()}
        expected = _kernel_verdicts(contract, docs)
        for d in docs:
            assert out[d][0] == expected[d], (contract, d, out[d])
            # garbage-suffixed docs must take the kernel plane
            if not expected[d]:
                assert out[d][1] == "kernel", (contract, d, out[d])


# --- round 7: nested dynamic-key (map) nodes ---------------------------

NESTED_MAP_CONTRACTS = [
    {"type": "object", "required": ["id", "labels"],
     "properties": {"id": {"type": "integer"},
                    "labels": {"type": "object",
                               "additionalProperties": {"type": "string",
                                                        "minLength": 1}}}},
    {"properties": {"counts": {"type": "object",
                               "additionalProperties": {"type": "integer",
                                                        "minimum": 0}}}},
    # top-level map of OBJECTS: the root ("map", node) parses the doc
    # directly, like every object or map root
    {"type": "object",
     "additionalProperties": {"type": "object", "required": ["x"],
                              "properties": {"x": {"type": "number"}}}},
    {"additionalProperties": {"type": "array",
                              "items": {"type": "object",
                                        "properties": {
                                            "n": {"type": "integer"}}}}},
    {"properties": {"m": {"type": "object",
                          "additionalProperties": {
                              "type": "object",
                              "additionalProperties": {
                                  "type": "integer"}}}}},
    {"properties": {"tags": {"type": "object",
                             "patternProperties": {
                                 "^[a-z]+$": {"type": "boolean"}},
                             "additionalProperties": {"type": "boolean"}}}},
    # the same top-level map of objects with a bound that first-match
    # and last-wins duplicate keys judge differently
    {"type": "object",
     "additionalProperties": {"type": "object",
                              "properties": {"x": {"type": "number",
                                                   "maximum": 2}}}},
]

NESTED_MAP_DOCS = [
    '{"id":1,"labels":{"a":"x","b":"y"}}', '{"id":1,"labels":{}}',
    '{"id":1,"labels":{"a":""}}', '{"id":1,"labels":{"a":1}}',
    '{"id":1,"labels":{"a":null}}', '{"id":1,"labels":{"a":"x","a":"y"}}',
    '{"id":1}', '{"labels":{"a":"x"}}', '{"id":1,"labels":[]}',
    '{"counts":{"a":1,"b":0}}', '{"counts":{"a":-1}}',
    '{"counts":{"a":1.5}}', '{"counts":{"a":9007199254740993}}',
    '{"counts":{}}', '{}',
    '{"k":{"x":1.5}}', '{"k":{"x":"s"}}', '{"k":{}}',
    '{"k":{"x":1.5,"y":2}}',
    '{"k":[{"n":1}]}', '{"k":[{"n":1},{"n":"s"}]}', '{"k":[]}',
    '{"m":{"a":{"b":1}}}', '{"m":{"a":{"b":1.5}}}', '{"m":{"a":{}}}',
    '{"m":{}}', '{"tags":{"go":true}}', '{"tags":{"GO":true}}',
    '{"tags":{"go":"x"}}', '{"a": {"x": 2}} junk', 'junk', 'null',
    '{"id": 1, "labels": {"a": "x"}}',
    # top-level map-of-objects hazards: a null value, duplicate keys, a
    # big integer below a map value — and a whitespace-variant doc.  The
    # dup-key docs whose values render back verbatim round-trip, so only
    # the shortcut guard keeps them off the columnar plane
    '{"k":null}', '{"k":{"x":1},"k":{"x":"s"}}',
    '{"k":{"x":12345678901234567890}}', '{"k": {"x": 1.5}}',
    '{"k":{"x":1.5},"k":{"x":2.5}}', '{"k": {"x": 1.5}, "k": {"x": 2.5}}',
]

# top-level map-of-objects contracts, parsed without the wrapper
_DIRECT_MAP_CONTRACTS = (NESTED_MAP_CONTRACTS[2], NESTED_MAP_CONTRACTS[6])


def test_nested_map_route_matches_kernel(spark):
    """Round-7 map nodes: dynamic-key slots nested inside struct
    layouts (and top-level dynamic contracts with object values) route
    — parity with the kernel on dup-key, null-value, wrong-type, and
    big-int hazards.  The top-level map of objects parses the doc
    directly: its hazards take the kernel, its whitespace variant the
    gate path."""
    df = spark.createDataFrame([(i, d) for i, d in
                                enumerate(NESTED_MAP_DOCS)],
                               "i long, doc string")
    for contract in NESTED_MAP_CONTRACTS:
        plan = analyze_json_contract(contract)
        assert plan.routable, (contract, plan.reasons)
        out = with_valid_json(df, "doc", contract, route_col="route").collect()
        expected = _kernel_verdicts(contract, NESTED_MAP_DOCS)
        bad = [(NESTED_MAP_DOCS[r["i"]], r["valid"],
                expected[NESTED_MAP_DOCS[r["i"]]])
               for r in out
               if r["valid"] != expected[NESTED_MAP_DOCS[r["i"]]]]
        assert not bad, f"{contract}: {bad[:5]}"
        if any(contract is c for c in _DIRECT_MAP_CONTRACTS):
            assert plan.root[0] == "map" and not plan.wrapped, plan.root
            route = {NESTED_MAP_DOCS[r["i"]]: r["route"] for r in out}
            for d in ('{"k":null}', '{"k":{"x":1},"k":{"x":"s"}}',
                      '{"k":{"x":12345678901234567890}}',
                      '{"k":{"x":1.5},"k":{"x":2.5}}',
                      '{"k": {"x": 1.5}, "k": {"x": 2.5}}'):
                assert route[d] == "kernel", (d, route[d])
            assert route['{"k": {"x": 1.5}}'] == "columnar", route


def test_nested_map_hazards_route_kernel(spark):
    """The map-node hazards must take the kernel plane: duplicate keys
    (first-match vs last-wins), JSON-null values (absent under the
    bridge), beyond-2^53 integers — in canonical form (shortcut
    guards) AND in whitespace-variant form (gate path)."""
    contract = {"properties": {"counts": {
        "type": "object",
        "additionalProperties": {"type": "integer"}}}}
    hazard_docs = [
        '{"counts":{"a":1,"a":2}}',          # dup keys, canonical
        '{"counts":{"a":null}}',             # null value, canonical
        '{"counts":{"a":9007199254740993}}',  # >2^53, canonical
        '{"counts": {"a": 1, "a": 2}}',      # dup keys, gate path
        '{"counts": {"a": null}}',           # null value, gate path
        '{"counts": {"a": 9007199254740993}}',
    ]
    ok_docs = ['{"counts":{"a":1}}', '{"counts": {"a": 1}}']
    df = spark.createDataFrame(
        [(d,) for d in hazard_docs + ok_docs], "doc string")
    out = {r["doc"]: (r["valid"], r["route"]) for r in with_valid_json(
        df, "doc", contract, route_col="route").collect()}
    expected = _kernel_verdicts(contract, hazard_docs + ok_docs)
    for d in hazard_docs:
        assert out[d][0] == expected[d], (d, out[d])
        assert out[d][1] == "kernel", (d, out[d])
    for d in ok_docs:
        assert out[d] == (True, "columnar"), (d, out[d])


def test_nested_map_fuzz_matches_kernel(spark):
    """Random docs over nested-map contracts with hostile values in
    every slot — parity on all of them."""
    import random

    rng = random.Random(909)
    contract = {"type": "object", "required": ["id"],
                "properties": {
                    "id": {"type": "integer", "minimum": 0},
                    "labels": {"type": "object",
                               "additionalProperties": {
                                   "type": "string", "maxLength": 3}},
                    "stats": {"type": "object",
                              "additionalProperties": {
                                  "type": "array",
                                  "items": {"type": "number"}}}}}
    label_vals = ["ab", "abcd", "", 1, None, True, ["x"], {"z": 1}]
    stat_vals = [[1.5], [], [1.5, "x"], [None], "nope", 5,
                 [9007199254740993], [0.1, 2]]
    key_pool = ["a", "b", "ln", "木", "a b", ""]

    def gen():
        doc = {}
        if rng.random() < 0.9:
            doc["id"] = rng.choice([0, 5, -1, 1.5, "x", None])
        if rng.random() < 0.8:
            doc["labels"] = {rng.choice(key_pool): rng.choice(label_vals)
                             for _ in range(rng.randint(0, 3))}
        if rng.random() < 0.6:
            doc["stats"] = {rng.choice(key_pool): rng.choice(stat_vals)
                            for _ in range(rng.randint(0, 2))}
        if rng.random() < 0.1:
            doc["extra"] = 1
        return json.dumps(doc)

    docs = sorted({gen() for _ in range(250)})
    df = spark.createDataFrame([(d,) for d in docs], "doc string")
    out = with_valid_json(df, "doc", contract).collect()
    expected = _kernel_verdicts(contract, docs)
    bad = [(r["doc"], r["valid"], expected[r["doc"]])
           for r in out if r["valid"] != expected[r["doc"]]]
    assert not bad, f"{len(bad)} mismatches; first: {bad[:3]}"


def test_nullable_idiom_routes_on_value_type(spark):
    """anyOf/oneOf where every branch declares a type contribute a
    union type to the slot pick — the ubiquitous nullable idiom
    anyOf[{type: X}, {type: "null"}] routes X-typed documents columnar
    instead of defaulting to the string slot and sending every value
    to the kernel.  Parity pinned; null values still take the kernel
    (the bridge reads SQL NULL as absent)."""
    contract = {"required": ["n"], "properties": {
        "n": {"anyOf": [{"type": "integer", "minimum": 0},
                        {"type": "null"}]}}}
    plan = analyze_json_contract(contract)
    assert plan.root[1]["n"] == ("integer", None), plan.root
    docs = ['{"n":5}', '{"n":0}', '{"n":null}', '{"n":-1}', '{"n":"x"}',
            '{"n":1.5}', '{}']
    df = spark.createDataFrame([(d,) for d in docs], "doc string")
    out = {r["doc"]: (r["valid"], r["route"]) for r in with_valid_json(
        df, "doc", contract, route_col="route").collect()}
    expected = _kernel_verdicts(contract, docs)
    for d in docs:
        assert out[d][0] == expected[d], (d, out[d])
    assert out['{"n":5}'] == (True, "columnar")
    assert out['{"n":null}'][1] == "kernel"


def test_root_and_map_fast_plans_stay_plane_a(spark):
    """Round-7 root values and maps must keep the routed subset
    UDF-free: compile the contract exactly as _route_bundle does
    (``plan.slot`` — a wrapped root targets the extracted value column)
    and assert pure Plane A."""
    from jema_js_spark.compiler.compile import SchemaCompiler

    cases = [
        {"type": "array", "minItems": 1,
         "items": {"type": "number", "minimum": 0}},        # root array
        {"type": "integer", "minimum": 3},                  # root scalar
        {"type": "object",
         "additionalProperties": {"type": "object",
                                  "required": ["x"],
                                  "properties": {
                                      "x": {"type": "number"}}}},
        {"properties": {"labels": {
            "type": "object",
            "additionalProperties": {"type": "string"}}}},  # nested map
    ]
    for contract in cases:
        plan = analyze_json_contract(contract)
        assert plan.routable, (contract, plan.reasons)
        cov = SchemaCompiler(contract).compile_plan_for_column(
            *plan.slot(F.lit(None).cast(plan.struct_type()))).coverage()
        assert cov["plane_a_fraction"] == 1.0, (contract,
                                                cov["plane_b_names"])


def test_pathological_depth_never_kills_the_job(spark):
    """Round-7 hardening: a ~1000-deep document used to RecursionError
    json.loads INSIDE the kernel UDF (the parse ran at Python's
    default 1000-frame limit, outside Validator.validate's raised
    budget, and escaped the except (TypeError, ValueError) guard) —
    one hostile document killed the whole Spark job.  loads_doc parses
    under the kernel budget: docs within it get REAL verdicts (a
    15000-deep array under an integer slot is a type violation), docs
    beyond it degrade to verdict False / a __parse__ row — never a
    dead executor."""
    from jema_js_spark.validation.json_plane import json_violation_rows

    contract = {"properties": {"k": {"type": "integer"}}}
    docs = []
    for i, depth in enumerate((1000, 15000, 100000)):
        docs.append((i, '{"k": ' + "[" * depth + "]" * depth + "}"))
    docs.append((3, '{"k": 1}'))
    df = spark.createDataFrame(docs, "i long, doc string")
    out = {r["i"]: (r["valid"], r["route"]) for r in with_valid_json(
        df, "doc", contract, route_col="route").collect()}
    assert out[0] == (False, "kernel")
    assert out[1] == (False, "kernel")
    assert out[2] == (False, "kernel")
    assert out[3] == (True, "columnar")

    kw = {}
    for r in json_violation_rows(df, "doc", contract,
                                 id_cols=["i"]).collect():
        kw.setdefault(r["i"], set()).add(r["keyword"])
    assert kw[0] == {"type"}          # parses under the budget: real
    assert kw[1] == {"type"}          # error, byte-identical message
    assert kw[2] == {"__parse__"}     # beyond the budget: clean row
    assert 3 not in kw


KEYS_ONLY_CONTRACTS = [
    {"required": ["a"]},
    {"required": ["a"], "minProperties": 2},
    {"propertyNames": {"maxLength": 3}},
    {"propertyNames": {"pattern": "^[a-z]+$"}},
    {"dependentRequired": {"a": ["b"]}},
    {"maxProperties": 2},
    {"minProperties": 1, "maxProperties": 3},
    {"minProperties": 1},
    {"type": "object"},
    {"additionalProperties": True, "required": ["a"]},
    {"dependentSchemas": {"a": {"required": ["b"]}}},
    # value-reading body → the compiler's variant net: ONE kernel
    # check over the value's exact rendering, folded plane B
    {"dependentSchemas": {"a": {"properties": {"b": {"type": "integer"}}}}},
    {"oneOf": [{"required": ["a"]}, {"required": ["b"]}], "type": "object"},
    # value-reading const over a doc whose 1e999 value overflows to
    # Infinity: the variant RENDERS it as the string "Infinity", so
    # the gate must screen big exponents to the kernel (round 7
    # session 5 — this contract × the 1e999 docs below was a LIVE
    # verdict mismatch: rendering judged equal to the const)
    {"type": "object",
     "dependentSchemas": {"a": {"properties": {"a": {"const": "Infinity"}}}}},
    # ... and a GENUINELY value-reading body (maxLength — const of a
    # string is tag-affine since session 5 and never reaches the
    # variant net), so the screen regression stays visible: the net
    # would judge len("Infinity") while the kernel sees a non-finite
    # number (vacuously valid).  The huge-mantissa docs below
    # ('<310 nines>.5', '<310 nines>e1') pin the review-found gap —
    # they overflow with NO 3-digit exponent.
    {"type": "object",
     "dependentSchemas": {"a": {"properties": {"a": {"maxLength": 3}}}}},
]

# object-affine only through NON-conjunctive positions (not/if) — the
# analyzer can't pick one root type, so these route via the root-slot
# default (string docs columnar, objects to the kernel): correct, just
# a different mode.  In the differential battery all the same.
KEYS_ONLY_OTHER_MODE = [
    {"not": {"required": ["zz"]}},
    {"if": {"required": ["a"]}, "then": {"required": ["b"]}},
]

KEYS_ONLY_DOCS = [
    '{"a":1}', '{"a":null}', '{"a": null}',   # variant nulls: present
    '{"b":2}', '{"a":1,"b":2}', '{}',
    '{"a":1,"a":2}',                    # dup keys: first-match vs
    '{"a":1} junk',                     # last-wins — gates → kernel
    '123', '"s"', 'null', '[1]', 'true',  # non-objects: vacuous pass
    '{"abcd":1}', '{"a":1,"b":2,"c":3}',
    '{"a":9007199254740993}',           # int64 > 2^53: exact variant
    '{"a":12345678901234567890123456789012345678901}',  # melts → kernel
    '{"a":{"x":[1,null]},"b":"s"}',     # nested values: opaque
    '{"zz":null}',                      # JSON-null key presence
    'not json', None,
    '{"a":1.50}', '{"a":-0.0}', '{"a":1e2}',  # non-canonical → gates
    '{"b":null,"a":1}',
    '{"a":1e999}', '{"a":-1e999}',      # overflow → Infinity: the
    '{"a":9.9e308}', '{"a":1e308}',     # rendering would be a STRING —
    '{"a":"Infinity"}',                 # big-exponent screen → kernel
    '{"a":1.5e-99}',                    # small exponent: stays routed
    # overflow with NO big exponent (round-7 review gap): a huge
    # mantissa run followed by '.' or 'e' evades the big-int screen's
    # delimiter classes — the 210-digit-run screen catches it
    '{"a":' + "9" * 310 + '.5}',
    '{"a":' + "9" * 310 + 'e1}',
    '{"a":' + "9" * 308 + 'e99}',       # digits+exp ≥ 309: overflow
    '{"a":1.' + "9" * 250 + 'e99}',     # big FRACTION run: finite,
                                        # over-screened to the kernel
]


def test_keys_only_variant_map_analysis():
    """Layoutless object-affine roots (round 7 session 4) route as
    map<string, variant>: keys are real map keys, values opaque
    variants no Plane-A predicate reads."""
    for contract in KEYS_ONLY_CONTRACTS:
        plan = analyze_json_contract(contract)
        assert plan.routable and plan.root == ("map", ("variant", None)), \
            (contract, plan.reasons)
    # unevaluated* in the subtree = 100% Plane-B plan: stays kernel
    for contract in [
            {"minProperties": 1, "unevaluatedProperties": False},
            {"required": ["a"], "allOf": [{"unevaluatedProperties":
                                           {"type": "string"}}]}]:
        plan = analyze_json_contract(contract)
        assert not plan.routable and "unevaluated" in plan.reasons[0], \
            (contract, plan.reasons)


def test_keys_only_variant_map_differential(spark):
    """Every keys-only contract × every hostile doc: the routed verdict
    must equal the kernel's (dup keys, JSON-null values, non-objects,
    big integers, non-canonical number forms, prefix garbage, nested
    values — each hazard either routes faithfully or falls to the
    kernel, never mis-judges)."""
    df = spark.createDataFrame([(d,) for d in KEYS_ONLY_DOCS],
                               "doc string")
    for contract in KEYS_ONLY_CONTRACTS + KEYS_ONLY_OTHER_MODE:
        want = _kernel_verdicts(contract, KEYS_ONLY_DOCS)
        out = with_valid_json(df, "doc", contract,
                              route_col="route").collect()
        for r in out:
            assert r["valid"] == want[r["doc"]], \
                (contract, r["doc"], r["valid"], r["route"])
        # the canonical conforming object must actually take the route
        # (map-mode contracts only; the OTHER_MODE ones route strings)
        if contract in KEYS_ONLY_CONTRACTS:
            routed = {r["doc"]: r["route"] for r in out}
            assert routed['{"a":1,"b":2}'] == "columnar", contract
        if contract == {"minProperties": 1}:
            # JSON-null values parse as variant nulls, never SQL NULLs,
            # so the map guard's null-value check keeps them routed
            # (canonical and whitespace-variant alike)
            assert routed['{"a":null}'] == routed['{"a": null}'] \
                == "columnar", routed


def test_keys_only_fast_plan_stays_plane_a(spark):
    """Keys-only contracts with no value-reading keyword must keep the
    routed rows UDF-free (pure Catalyst map predicates): the compiled
    plan carries no Plane-B check."""
    from jema_js_spark.compiler.compile import SchemaCompiler

    contract = {"required": ["a"], "minProperties": 1,
                "propertyNames": {"maxLength": 8},
                "dependentRequired": {"x": ["y"]}}
    plan = analyze_json_contract(contract)
    assert plan.routable, plan.reasons
    st = plan.struct_type()
    cov = SchemaCompiler(contract).compile_plan_for_column(
        F.lit(None).cast(st), st).coverage()
    assert cov["plane_b_checks"] == 0, cov["plane_b_names"]


def test_keys_only_variant_net_coverage(spark):
    """A value-reading subschema under a variant map compiles as ONE
    kernel check with a published reason — the variant net, honest in
    CompiledPlan.coverage().  (Since round 7 session 5 a body that is
    merely TYPE-reading compiles to Plane-A tag predicates instead —
    the net is only for genuinely value-reading keywords, so the pin
    uses ``minimum``.)"""
    from jema_js_spark.compiler.compile import SchemaCompiler

    reading = {"dependentSchemas": {"a": {"properties":
                                          {"b": {"minimum": 3}}}}}
    plan = analyze_json_contract(reading)
    st = plan.struct_type()
    cp = SchemaCompiler(reading).compile_plan_for_column(
        F.lit(None).cast(st), st)
    cov = cp.coverage()
    assert cov["plane_b_checks"] == 1
    assert "variant" in " ".join(cov["plane_b_reasons"].values())
    # ... while the former specimen (a type-only body) is now pure A
    tag_only = {"dependentSchemas": {"a": {"properties":
                                           {"b": {"type": "integer"}}}}}
    plan_t = analyze_json_contract(tag_only)
    cp_t = SchemaCompiler(tag_only).compile_plan_for_column(
        F.lit(None).cast(plan_t.struct_type()), plan_t.struct_type())
    assert cp_t.coverage()["plane_b_checks"] == 0
    # keys-only keywords stay pure Plane A
    plan2 = analyze_json_contract({"required": ["a"],
                                   "propertyNames": {"maxLength": 3}})
    st2 = plan2.struct_type()
    cp2 = SchemaCompiler({"required": ["a"],
                          "propertyNames": {"maxLength": 3}}) \
        .compile_plan_for_column(F.lit(None).cast(st2), st2)
    assert cp2.coverage()["plane_b_checks"] == 0


def test_keys_only_violation_rows_match_kernel(spark):
    """The errors path over a keys-only contract emits exactly the
    kernel's iter_errors rows (the route only screens; messages stay
    byte-identical)."""
    from jema_js_spark.validation.json_plane import json_violation_rows

    from jema_js_spark.kernel.jstypes import js_to_string

    contract = {"required": ["a"], "minProperties": 2,
                "propertyNames": {"maxLength": 3}}
    docs = ['{"a":1,"b":2}', '{"b":2}', '{"abcdef":1,"a":2}', '{}',
            '123', 'junk', '{"a":null}', None]
    df = spark.createDataFrame(list(enumerate(docs)), "i long, doc string")
    got = sorted(tuple(r) for r in json_violation_rows(
        df, "doc", contract, id_cols=["i"]).collect())
    v = Schema(contract)
    want = []
    for i, d in enumerate(docs):
        try:
            value = None if d is None else json.loads(d)
        except ValueError:
            want.append((i, "__parse__", "__parse__", "[]", "[]", "",
                         "document is not parseable JSON"))
            continue
        for err in v.errors(value):
            spath = [str(x) for x in err.schema_stack]
            keyword = next((x for x in reversed(spath)
                            if not x.isdigit()), "")
            want.append((
                i, ".".join(spath), keyword,
                json.dumps(err.schema_stack), json.dumps(err.data_stack),
                js_to_string(err.schema_value), err.message))
    assert got == sorted(want)


def test_bracket_quoted_field_names_route(spark):
    """Non-identifier property names — dashed keys (content-type), the
    empty name, slashes, dots, spaces — route through the bracket path
    form $['name'] (round 7 session 4); names containing a quote or
    backslash stay kernel (the bracket form has no escape syntax).
    Verdicts differential against the kernel across all of them,
    including a number slot under a quoted name (doc-wide integer
    screen replaces the unaddressable per-path raw screen)."""
    from jema_js_spark.validation.json_plane import _node_needs_doc_screen

    contracts = [
        {"properties": {"a/b": {"type": "integer"}}, "required": ["a/b"]},
        {"properties": {"": {"type": "number", "minimum": 0}}},
        {"properties": {"content-type": {"type": "string"}},
         "required": ["content-type"]},
        {"properties": {"a b": {"type": "object",
                                "properties": {"x": {"type": "integer"}}}}},
        {"properties": {"u.v": {"type": "boolean"}}},
    ]
    unroutable = [
        {"properties": {"q'r": {"type": "integer"}}},
        {"properties": {"b\\c": {"type": "integer"}}},
        {"properties": {"nl\nx": {"type": "integer"}}},
    ]
    docs = ['{"a/b":1}', '{"a/b":"s"}', '{"":3.5}', '{"":-1}',
            '{"":99999999999999999999}',        # big-int under quoted name
            '{"content-type":"text/html"}', '{"content-type":5}',
            '{"a b":{"x":2}}', '{"a b":{"x":"no"}}',
            '{"u.v":true}', '{"u.v":1}', '{}', '123', 'junk', None,
            '{"a/b":9007199254740993}']
    df = spark.createDataFrame([(d,) for d in docs], "doc string")
    for c in contracts:
        plan = analyze_json_contract(c)
        assert plan.routable, (c, plan.reasons)
        want = _kernel_verdicts(c, docs)
        for r in with_valid_json(df, "doc", c, route_col="route").collect():
            assert r["valid"] == want[r["doc"]], (c, r["doc"], r["route"])
    for c in unroutable:
        plan = analyze_json_contract(c)
        assert not plan.routable, c
        want = _kernel_verdicts(c, docs)
        for r in with_valid_json(df, "doc", c).collect():
            assert r["valid"] == want[r["doc"]], (c, r["doc"])
    # the number slot under a quoted name demands the doc-wide screen
    assert _node_needs_doc_screen(
        ("object", {"": ("number", None)}), False)
    assert not _node_needs_doc_screen(
        ("object", {"v": ("number", None)}), False)


def test_quoted_top_level_number_gets_the_doc_wide_screen(spark):
    """A top-level ``number`` field under a bracket-quoted name has no
    per-value raw path, so its gate reads the doc-wide big-int screen:
    non-canonical doubles take the columnar route (they used to fall to
    the kernel — the screen was never computed and the DOUBLE gate
    ANDed with a NULL), a ≥16-digit integer token still takes the
    kernel, and every verdict equals the kernel's."""
    contract = {"properties": {"content-type": {"type": "number",
                                                "minimum": 0}}}
    docs = ['{"content-type": 1.5e1}', '{"content-type": -1.5e1}',
            '{"content-type": 12345678901234567890}']
    df = spark.createDataFrame([(d,) for d in docs], "doc string")
    out = {r["doc"]: (r["valid"], r["route"]) for r in with_valid_json(
        df, "doc", contract, route_col="route").collect()}
    want = _kernel_verdicts(contract, docs)
    assert {d: out[d][0] for d in docs} == want, out
    assert out['{"content-type": 1.5e1}'][1] == "columnar", out
    assert out['{"content-type": -1.5e1}'][1] == "columnar", out
    assert out['{"content-type": 12345678901234567890}'][1] == "kernel", out


# --- variant tag checks (round 7 session 5): type-affine subschemas
# over opaque variant values compile to Plane-A schema_of_variant tag
# predicates, unlocking mixed-type patternProperties and union-typed
# property slots -------------------------------------------------------------

VARIANT_TAG_SUBS = [
    {"type": "string"}, {"type": "integer"}, {"type": "number"},
    {"type": "boolean"}, {"type": "null"}, {"type": "object"},
    {"type": "array"}, {"type": ["string", "integer"]},
    {"type": ["number", "null"]}, {"type": "frob"},      # unknown: nothing
    {"anyOf": [{"type": "string"}, {"type": "boolean"}]},
    {"oneOf": [{"type": "number"}, {"type": "integer"}]},  # ints match BOTH
    {"not": {"type": "object"}},
    {"if": {"type": "string"}, "then": {"type": "string"},
     "else": {"type": "integer"}},
    {"if": {"type": "string"}},                      # bare if: no constraint
    {"allOf": [{"type": ["integer", "string"]}, {"not": {"type": "string"}}]},
    True, False, {}, {"title": "x", "type": "integer"},
    {"anyOf": []}, {"allOf": []}, {"oneOf": []},     # empty combinators
    # affine enum/const members: null (VOID), booleans and strings
    # (tag + lossless extraction); JS === is type-strict so "5"
    # never equals 5 and true never equals 1
    {"const": None}, {"const": True}, {"const": False},
    {"const": "s"}, {"const": "Infinity"}, {"const": ""},
    {"enum": []}, {"enum": [None, True, "s"]},
    {"enum": ["5", "1e2", "true"]},                  # strings, not numbers
    {"not": {"const": "s"}},
    {"anyOf": [{"const": None}, {"type": "number"}]},
]

# every tag shape + every numeric edge the tags must decide exactly:
# scale-normalized decimals, double rounding, big ints (exact BIGINT /
# DECIMAL(38,0) / melted DOUBLE), overflow to Infinity (matches NO
# type, like the kernel's non-finite guard)
VARIANT_TAG_VALUES = [
    '"s"', '5', '5.0', '5.00', '1.5', '-0.0', 'true', 'false', 'null',
    '[1,2]', '[]', '{}', '{"a":1}', '1e2', '1.5e1', '0.5', '-2.0',
    '9007199254740993', '99999999999999999999999999999999999999',
    '999999999999999999999999999999999999999',
    '5.000000000000000000001', '1e999', '-1e999', '"Infinity"',
    '1.5e-99', '123456789012345678.5', '-7', '0.1',
]


def test_variant_tag_checks_match_kernel(spark):
    """Compiler-level differential: every tag-affine subschema over a
    raw variant column judges every hostile value exactly like the
    kernel, with every emitted check on Plane A — and the session-free
    affinity probe agrees with what actually compiled (the two share
    _variant_kw_class, pinned here end-to-end)."""
    from pyspark.sql import types as T
    from jema_js_spark.compiler.compile import (
        SchemaCompiler, _TExpr, _and_all, variant_tag_affine)

    df = spark.createDataFrame([(v,) for v in VARIANT_TAG_VALUES],
                               "doc string")
    texpr = _TExpr(F.try_parse_json(F.col("doc")), T.VariantType())
    for sub in VARIANT_TAG_SUBS:
        assert variant_tag_affine(sub), sub
        c = SchemaCompiler(Schema({"type": "object"}))
        specs = c._compile_node(sub, texpr, (), (), frozenset())
        assert all(s.plane == "A" for s in specs), (sub, specs)
        pred = _and_all([s.predicate for s in specs])
        out = df.select("doc", F.coalesce(pred, F.lit(False)).alias("ok"))
        v = Validator(sub)
        for r in out.collect():
            want = v.validate(json.loads(r["doc"]))
            assert bool(r["ok"]) == want, (sub, r["doc"], r["ok"], want)
    # value-reading subschemas refuse the tag path (probe == compile):
    # NUMERIC enum/const members need the kernel's exact deep_equal
    # (>2^53 int tokens), containers need deep recursion, and lone
    # surrogates don't survive the JVM parse
    for sub in [{"minLength": 3}, {"enum": [1]}, {"const": 5},
                {"const": 5.0}, {"enum": ["a", 2]}, {"const": [1]},
                {"const": {"a": 1}}, {"const": "bad\ud800"},
                {"minimum": 0}, {"properties": {"a": True}},
                {"required": ["a"]}, {"items": {"type": "integer"}},
                {"anyOf": [{"type": "string"}, {"minimum": 3}]},
                {"not": {"enum": [1.5]}}, {"$ref": "#/$defs/x"},
                {"unevaluatedProperties": False}, {"anyOf": 5},
                {"if": {"type": "string"}, "then": {"minLength": 1}}]:
        assert not variant_tag_affine(sub), sub
        c = SchemaCompiler(Schema({"type": "object"}))
        specs = c._compile_node(sub, texpr, (), (), frozenset())
        assert any(s.plane == "B" for s in specs), sub


VARIANT_SLOT_CONTRACTS = [
    # mixed-type patternProperties — the heterogeneous dynamic-value
    # class that previously published a disagreement and stayed kernel
    {"patternProperties": {"^x-": {"type": "string"},
                           "id$": {"type": "integer"}}},
    {"patternProperties": {"f.*": True, "b.*": False}},
    {"patternProperties": {"[0-9]{2,}": {"type": "boolean"},
                           "X_": {"type": "string"}}},
    # union-typed property slots (typed slots would route only the
    # first member's documents)
    {"properties": {"id": {"type": ["integer", "string"]}},
     "required": ["id"]},
    {"properties": {"a": {"type": "frob"}}},         # unknown type name
    {"properties": {"v": {"anyOf": [{"type": "string"},
                                    {"type": "array"}]}}},
    # mixed dynamic + fixed tag-affine properties share the map
    {"properties": {"a": {"type": "boolean"}},
     "patternProperties": {"^x": {"type": "integer"},
                           "y$": {"type": "string"}},
     "required": ["a"], "minProperties": 2},
    # nested object holding a mixed dynamic-key slot
    {"properties": {"meta": {"type": "object",
        "patternProperties": {"^n": {"type": "number"},
                              "^s": {"type": "string"}}}},
     "required": ["meta"]},
    # union slot inside an array of objects
    {"properties": {"xs": {"type": "array", "items": {
        "type": "object",
        "properties": {"v": {"type": ["boolean", "string"]}},
        "required": ["v"]}}}},
    # string-const DISCRIMINATOR beside a typed dynamic value (enum/
    # const of null/bool/string members are tag-affine too)
    {"patternProperties": {"^t": {"const": "click"},
                           "^n": {"type": "integer"}}},
    # union-typed dynamic values "agree" only on the collapsed first
    # member — the variant map routes BOTH member types
    {"additionalProperties": {"type": ["integer", "string"]}},
]

VARIANT_SLOT_DOCS = [
    '{"x-a":"v","aid":3}', '{"x-a":5}', '{"aid":"no"}', '{}',
    '{"foo":1,"bar":2}', '{"bar":2}', '{"foo":"z"}',
    '{"12":true,"X_y":"s"}', '{"12":"no"}',
    '{"id":7}', '{"id":"seven"}', '{"id":7.5}', '{"id":null}',
    '{"id":7.0}', '{"id":7.00}',
    '{"a":1}', '{"a":"s"}', '{"a":true}', '{"a":[1]}', '{"a":{}}',
    '{"a":null}',
    '{"v":"s"}', '{"v":[1,2]}', '{"v":5}',
    '{"a":true,"x1":2}', '{"a":true,"y":3}', '{"a":1,"x1":2}',
    '{"meta":{"n1":1.5,"s1":"x"}}', '{"meta":{"n1":"bad"}}', '{"meta":3}',
    '{"xs":[{"v":true},{"v":"s"}]}', '{"xs":[{"v":5}]}', '{"xs":[{}]}',
    '{"t1":"click"}', '{"t1":"view"}', '{"n1":5,"t2":"click"}',
    '{"t1":null}', '{"t1":true}', '{"n1":"no"}',
    '{"k1":3,"k2":"s"}', '{"k1":3.5}', '{"k1":null}',
    '{"id":9007199254740993}', '{"id":1e999}', '{"id":-1e999}',
    '{"a":1,"a":2}',                               # dup keys → kernel
    '123', '"s"', 'null', 'true', '[1]', 'junk', None,
    '{"x-a":"v"} trailing',                        # completeness proof
    '{"id":99999999999999999999999999999999999999999}',
]


def test_variant_slot_routing_differential(spark):
    """End-to-end: contracts with tag-affine heterogeneity route
    (variant map values / variant struct fields) and every verdict
    matches the kernel across the hostile battery; the canonical
    conforming docs actually take the columnar route."""
    df = spark.createDataFrame([(d,) for d in VARIANT_SLOT_DOCS],
                               "doc string")
    for contract in VARIANT_SLOT_CONTRACTS:
        plan = analyze_json_contract(contract)
        assert plan.routable, (contract, plan.reasons)
        want = _kernel_verdicts(contract, VARIANT_SLOT_DOCS)
        out = with_valid_json(df, "doc", contract,
                              route_col="route").collect()
        assert len(out) == len(VARIANT_SLOT_DOCS)
        for r in out:
            assert r["valid"] == want[r["doc"]], \
                (contract, r["doc"], r["valid"], r["route"])
        routed = {r["doc"] for r in out if r["route"] == "columnar"}
        assert '{}' not in routed or not plan.wrapped
    # analysis shapes: mixed dynamic values land on the variant map,
    # union slots on variant fields
    assert analyze_json_contract(
        VARIANT_SLOT_CONTRACTS[0]).root == ("map", ("variant", None))
    assert analyze_json_contract(
        VARIANT_SLOT_CONTRACTS[3]).root == \
        ("object", {"id": ("variant", None)})
    nested = analyze_json_contract(VARIANT_SLOT_CONTRACTS[7])
    assert nested.root == ("object", {"meta": ("map", ("variant", None))})
    # const-discriminator maps and union-agreed maps pick the variant
    assert analyze_json_contract(
        VARIANT_SLOT_CONTRACTS[9]).root == ("map", ("variant", None))
    assert analyze_json_contract(
        VARIANT_SLOT_CONTRACTS[10]).root == ("map", ("variant", None))
    # a single-typed dynamic value keeps the TYPED map (richer slots
    # for any future value-reading sibling; nothing to gain opaquely)
    assert analyze_json_contract(
        {"additionalProperties": {"type": "integer"}}
    ).root == ("map", ("integer", None))
    # dynamic-value heterogeneity through VALUE-READING keywords still
    # stays kernel; a union-typed slot WITH a value-reading keyword
    # keeps the round-6 typed slot (first member routes, rest kernel)
    assert not analyze_json_contract(
        {"patternProperties": {"^x": {"type": "integer", "minimum": 0},
                               "^y": {"type": "string"}}}).routable
    assert analyze_json_contract(
        {"properties": {"id": {"type": ["integer", "string"],
                               "minLength": 3}}}
    ).root == ("object", {"id": ("integer", None)})


def test_variant_slot_fast_plan_stays_plane_a(spark):
    """A mixed-type patternProperties contract and a union-typed slot
    contract both compile 100% Plane A (coverage honest): the routed
    rows are judged UDF-free."""
    for contract in [VARIANT_SLOT_CONTRACTS[0], VARIANT_SLOT_CONTRACTS[3],
                     VARIANT_SLOT_CONTRACTS[6]]:
        plan = analyze_json_contract(contract)
        from jema_js_spark.compiler.compile import SchemaCompiler
        compiled = SchemaCompiler(Schema(contract)).compile_plan_for_column(
            F.col("p"), plan.struct_type())
        cov = compiled.coverage()
        assert cov["plane_a_fraction"] == 1.0, (contract,
                                                cov["plane_b_names"])


def test_variant_tag_fuzz_matches_kernel(spark):
    """Randomized (seeded) tag-affine subschemas × randomized JSON
    values, compiler-level: every predicate the variant tag path emits
    must equal the kernel verdict.  The generator nests combinators
    (anyOf/oneOf/allOf/not/if) over random type sets to depth 3 —
    composition is where exactness bugs would hide (every member
    predicate sits under potential negation)."""
    import random
    from pyspark.sql import types as T
    from jema_js_spark.compiler.compile import (
        SchemaCompiler, _TExpr, _and_all, variant_tag_affine)

    rng = random.Random(0x7A6)
    types_pool = ["string", "integer", "number", "boolean", "null",
                  "object", "array", "frob"]

    scalars_pool = [None, True, False, "", "s", "click", "5", "1e3",
                    "Infinity", "true"]

    def gen_sub(depth):
        roll = rng.random()
        if depth >= 3 or roll < 0.25:
            ts = rng.sample(types_pool, rng.randint(1, 3))
            return {"type": ts[0] if len(ts) == 1 else ts}
        if roll < 0.35:
            if rng.random() < 0.5:
                return {"const": rng.choice(scalars_pool)}
            return {"enum": rng.sample(scalars_pool, rng.randint(1, 4))}
        if roll < 0.5:
            return {"anyOf": [gen_sub(depth + 1)
                              for _ in range(rng.randint(1, 3))]}
        if roll < 0.62:
            return {"oneOf": [gen_sub(depth + 1)
                              for _ in range(rng.randint(1, 3))]}
        if roll < 0.74:
            return {"allOf": [gen_sub(depth + 1)
                              for _ in range(rng.randint(1, 2))]}
        if roll < 0.86:
            return {"not": gen_sub(depth + 1)}
        return {"if": gen_sub(depth + 1), "then": gen_sub(depth + 1),
                "else": gen_sub(depth + 1)}

    def gen_value():
        roll = rng.random()
        if roll < 0.15:
            return str(rng.randint(-10**rng.randint(1, 25),
                                   10**rng.randint(1, 25)))
        if roll < 0.3:
            return f"{rng.uniform(-1e3, 1e3):.{rng.randint(0, 18)}f}"
        if roll < 0.4:
            return (f"{rng.randint(1, 99)}."
                    f"{rng.randint(0, 9)}e{rng.choice([1, -5, 99, 308, 999])}")
        if roll < 0.5:
            return json.dumps(rng.choice(["", "s", "Infinity", "5", "1e3"]))
        if roll < 0.6:
            return rng.choice(["true", "false", "null"])
        if roll < 0.7:
            return json.dumps([rng.randint(0, 5)] * rng.randint(0, 3))
        if roll < 0.8:
            return json.dumps({"k": rng.randint(0, 5)})
        return rng.choice(["5.0", "5.00", "-0.0", "0.5", "1e2",
                           "9007199254740993", "123456789012345678.5"])

    subs = [gen_sub(0) for _ in range(40)]
    vals = sorted({gen_value() for _ in range(60)})
    df = spark.createDataFrame([(v,) for v in vals], "doc string")
    texpr = _TExpr(F.try_parse_json(F.col("doc")), T.VariantType())
    cols, kernels = [], []
    for i, sub in enumerate(subs):
        assert variant_tag_affine(sub), sub
        specs = SchemaCompiler(Schema({"type": "object"})) \
            ._compile_node(sub, texpr, (), (), frozenset())
        assert all(s.plane == "A" for s in specs), sub
        cols.append(F.coalesce(_and_all([s.predicate for s in specs]),
                               F.lit(False)).alias(f"p{i}"))
        kernels.append(Validator(sub))
    out = df.select("doc", *cols).collect()
    for r in out:
        value = json.loads(r["doc"])
        for i, v in enumerate(kernels):
            assert bool(r[f"p{i}"]) == v.validate(value), \
                (subs[i], r["doc"])


def test_plan_shape_kernel_opt_out(spark):
    """plan_shape="kernel" bypasses routing entirely — the documented
    opt-out for very light contracts over small documents, where the
    kernel's C-scanner path outruns the route's parse + re-render
    (round-7 measurement in the with_valid_json docstring)."""
    contract = {"type": "object",
                "properties": {"k": {"type": "integer"}}}
    docs = ['{"k":1}', '{"k":"s"}', 'junk', None]
    df = spark.createDataFrame([(d,) for d in docs], "doc string")
    out = with_valid_json(df, "doc", contract, route_col="route",
                          plan_shape="kernel").collect()
    want = _kernel_verdicts(contract, docs)
    for r in out:
        assert r["route"] == "kernel"
        assert r["valid"] == want[r["doc"]], r
    phys = with_valid_json(df, "doc", contract, plan_shape="kernel") \
        ._jdf.queryExecution().executedPlan().toString()
    assert "FromJson" not in phys and "from_json" not in phys, phys


def test_variant_affinity_respects_format_assertion(spark):
    """format is inert for tag-affinity only while it is
    annotation-only: under format_assertion the analysis must NOT
    route a variant map whose compiled entries would each carry the
    kernel net (round-7 review — the probe and the compiler share the
    classification, and the with_valid_json call threads its
    format_assertion into the analysis)."""
    contract = {"patternProperties": {"^a": {"type": "string",
                                             "format": "email"},
                                      "^b": {"type": "integer"}}}
    assert analyze_json_contract(contract).root == ("map", ("variant", None))
    off = analyze_json_contract(contract, format_assertion=False)
    on = analyze_json_contract(contract, format_assertion=True)
    assert off.routable and not on.routable, (off, on.reasons)
    docs = ['{"a1":"x@y.zz"}', '{"a1":"not-an-email"}', '{"b1":5}',
            '{"a1":5}', '{}']
    df = spark.createDataFrame([(d,) for d in docs], "doc string")
    for fa in (False, True):
        v = Validator(Schema(contract), format_assertion=fa)
        want = {d: v.validate(json.loads(d)) for d in docs}
        out = with_valid_json(df, "doc", contract,
                              format_assertion=fa).collect()
        for r in out:
            assert r["valid"] == want[r["doc"]], (fa, r["doc"])


def test_variant_slot_violation_rows_match_kernel(spark):
    """The errors path over contracts with VARIANT slots (union-typed
    field, mixed-type patternProperties, string-const discriminator,
    false-schema pattern value) emits exactly the kernel's iter_errors
    rows — the tag checks only SCREEN; flagged rows' messages come
    from the kernel, byte-identical (including the false-schema rows
    whose offending-value prefix prints by tag, round-7 review)."""
    from jema_js_spark.validation.json_plane import json_violation_rows
    from jema_js_spark.kernel.jstypes import js_to_string

    contracts = [
        {"type": "object", "required": ["id"],
         "properties": {"id": {"type": ["integer", "string"]}}},
        {"patternProperties": {"^x-": {"type": "string"},
                               "id$": {"type": "integer"},
                               "^t": {"const": "click"},
                               "^no": False}},
    ]
    docs = ['{"id":7}', '{"id":"s"}', '{"id":7.5}', '{"id":null}', '{}',
            '{"x-a":"v","bid":3}', '{"x-a":5,"bid":"s"}',
            '{"t1":"click"}', '{"t1":"view"}', '{"no1":{"z":1}}',
            '{"no1":null}', '{"no1":[1]}', '{"no1":"s"}',
            '123', 'junk', None, '{"id":1e999}']
    for contract in contracts:
        assert analyze_json_contract(contract).routable
        df = spark.createDataFrame(list(enumerate(docs)),
                                   "i long, doc string")
        got = sorted(tuple(r) for r in json_violation_rows(
            df, "doc", contract, id_cols=["i"]).collect())
        v = Schema(contract)
        want = []
        for i, d in enumerate(docs):
            try:
                value = None if d is None else json.loads(d)
            except ValueError:
                want.append((i, "__parse__", "__parse__", "[]", "[]", "",
                             "document is not parseable JSON"))
                continue
            for err in v.errors(value):
                spath = [str(x) for x in err.schema_stack]
                keyword = next((x for x in reversed(spath)
                                if not x.isdigit()), "")
                want.append((
                    i, ".".join(spath), keyword,
                    json.dumps(err.schema_stack), json.dumps(err.data_stack),
                    js_to_string(err.schema_value), err.message))
        assert got == sorted(want), contract


def test_unicode_and_escape_forms_route_kernel_exact(spark):
    """Escaped (\\uXXXX) and literal forms of the same key/value,
    astral-plane strings (surrogate pairs), unicode property names and
    key regexes, NUL inside strings and KEYS: escaped forms miss the
    round-trip shortcut (from_json decodes them) and re-enter through
    the gates; every verdict must equal the kernel's either way."""
    contracts = [
        {"type": "object", "required": ["k"],
         "properties": {"k": {"type": ["integer", "string"]}}},
        {"patternProperties": {"^x": {"type": "string"},
                               "é$": {"type": "integer"}}},
        {"properties": {"k": {"const": "日本語"}}},
        {"properties": {"k": {"enum": ["𝄞", "é", ""]}}},
        {"properties": {"日本": {"type": "boolean"}}},
        {"additionalProperties": {"type": ["string", "boolean"]}},
        {"minProperties": 1, "propertyNames": {"maxLength": 2}},
    ]
    docs = [
        '{"k":"\\u65e5\\u672c\\u8a9e"}', '{"k":"日本語"}',
        '{"k":"\\ud834\\udd1e"}', '{"k":"𝄞"}',
        '{"k":"é"}', '{"k":"\\u00e9"}', '{"k":""}',
        '{"k":"a\\"b"}', '{"k":"a\\\\b"}', '{"k":"a\\nb"}', '{"k":"\\t"}',
        '{"日本":true}', '{"日本":1}', '{"\\u65e5\\u672c":true}',
        '{"xé":5}', '{"xé":"s"}', '{"aé":7}', '{"é":1}',
        '{"𝄞𝄞":1}', '{"𝄞":2}', '{"ab":3}', '{"abc":4}',
        '{"k":true}', '{"k":false}', '{"k":5}',
        '{"x1":"s","x2":true}', '{"x1":5}',
        '{"k":"\\u0000"}', '{"a\\u0000b":1}',
        '{}', 'null', '"é"', '"\\u00e9"', None, 'junk',
    ]
    df = spark.createDataFrame([(d,) for d in docs], "doc string")
    for c in contracts:
        assert analyze_json_contract(c).routable, c
        want = _kernel_verdicts(c, docs)
        for r in with_valid_json(df, "doc", c, route_col="route").collect():
            assert r["valid"] == want[r["doc"]], (c, r["doc"], r["route"])


def test_lone_surrogate_escapes_route_to_kernel(spark):
    """A \\uD800-\\uDFFF escape in a DOCUMENT is kept by json.loads but
    REPLACED with '?' by the JVM parse, so any content-sensitive check
    would judge the replaced form — const "?" matched a doc holding
    "\\ud800" (round-7 review, CONFIRMED; typed string slots from
    round 6 had the same exposure through const/pattern).  Such docs
    can never round-trip (the re-rendering decodes or replaces the
    escape), and the gate path now screens the escape token to the
    kernel on every routing mode.  Valid astral PAIRS written as
    escapes are over-screened — verdicts stay exact either way."""
    contracts = [
        # variant slot + const (the review's live repro shape)
        {"properties": {"a": {"type": ["string", "boolean"],
                              "const": "?"}}},
        # typed string slot + const/pattern (round-6 machinery)
        {"properties": {"a": {"const": "?"}}},
        {"properties": {"a": {"type": "string", "pattern": "^.$"}}},
        {"properties": {"a": {"type": "string", "minLength": 1}}},
        # keys-only net: the value rendering reaches the kernel check
        {"type": "object",
         "dependentSchemas": {"a": {"properties": {"a": {"const": "?"}}}}},
        # propertyNames reads KEY content
        {"propertyNames": {"pattern": "^[?x]+$"}, "minProperties": 1},
    ]
    docs = ['{"a":"\\ud800"}', '{"a":"?"}', '{"a":"x\\udc00y"}',
            '{"a":"\\uD83F"}', '{"a":"\\ud834\\udd1e"}',  # valid pair
            '{"a":"\\\\ud800"}',        # escaped backslash + text: a
                                        # REAL backslash-u-d800 string,
                                        # faithful and shortcut-exact
            '{"\\ud800":1}', '{"x":"\\udfff"}', '{"a":"𝄞"}', '{}']
    df = spark.createDataFrame([(d,) for d in docs], "doc string")
    for c in contracts:
        assert analyze_json_contract(c).routable, c
        want = _kernel_verdicts(c, docs)
        for r in with_valid_json(df, "doc", c, route_col="route").collect():
            assert r["valid"] == want[r["doc"]], (c, r["doc"], r["route"])
        # the faithful backslash-text doc must still route columnar
        routes = {r["doc"]: r["route"] for r in with_valid_json(
            df, "doc", c, route_col="route").collect()}
        assert routes['{"a":"\\\\ud800"}'] == "columnar", c


# --- round 8: recursive $ref routing via bounded unroll ----------------------

RECURSIVE_LL = {"type": "object", "required": ["v"],
                "properties": {"v": {"type": "integer", "minimum": 0},
                               "next": {"$ref": "#"}}}


def _ll_chain(depth: int, bad_at: int = -1) -> dict:
    d: dict = {"v": 1}
    cur = d
    for i in range(depth):
        nxt = {"v": -1 if bad_at == i + 1 else 1}
        cur["next"] = nxt
        cur = nxt
    return d


def test_recursive_ref_contract_routes(spark):
    """Round 8 (VERDICT r7 #4): a self-recursive $ref contract routes
    via bounded unroll — _MAX_NEST unrolled Plane-A levels, then a
    variant leaf whose (recursive) subschema runs as ONE kernel check
    over the tail's exact rendering.  Parity with the kernel at every
    depth around the horizon, on hostile roots, and on tail-local
    violations BELOW the horizon (the kernel-net path must actually
    judge, not pass)."""
    from jema_js_spark.validation.json_plane import _MAX_NEST

    plan = analyze_json_contract(RECURSIVE_LL)
    assert plan.routable, plan.reasons

    def depth_of(node, d=0):
        decl, extra = node
        if decl == "object":
            return max([depth_of(c, d + 1) for c in extra.values()]
                       + [d + 1])
        return d

    assert depth_of(plan.root) == _MAX_NEST + 1
    docs = []
    for depth in (0, 1, _MAX_NEST - 1, _MAX_NEST, _MAX_NEST + 1,
                  _MAX_NEST + 6):
        docs.append(json.dumps(_ll_chain(depth)))
        docs.append(json.dumps(_ll_chain(depth, bad_at=depth)))
    docs += [json.dumps(_ll_chain(3)) + " junk",
             '{"v": 1, "next": {"v": "s"}}',
             '{"v": 1, "next": null}',
             '{"v": 1, "next": 5}',
             '{"v": %d}' % 2**60,
             '{"v": 1, "next": {"v": 1, "next": {}}}',
             'null', '{}', 'not json']
    df = spark.createDataFrame([(d,) for d in docs], "doc string")
    rows = with_valid_json(df, "doc", RECURSIVE_LL,
                           route_col="route").collect()
    expected = _kernel_verdicts(RECURSIVE_LL, docs)
    bad = [(r["doc"][:60], r["valid"], expected[r["doc"]])
           for r in rows if r["valid"] != expected[r["doc"]]]
    assert not bad, bad[:3]
    by_doc = {r["doc"]: r["route"] for r in rows}
    # the common case — shallow chains — routes columnar…
    assert by_doc[json.dumps(_ll_chain(1))] == "columnar"
    # …and so do PAST-horizon chains (variant tail, kernel-net check)
    assert by_doc[json.dumps(_ll_chain(_MAX_NEST + 6))] == "columnar"
    assert by_doc["not json"] == "kernel"


def test_recursive_unroll_plane_a_share(spark):
    """The unrolled levels compile Plane A (the (node, dtype) cycle
    key in _h_ref) — only the horizon leaf's kernel net is Plane B, so
    shallow documents never touch Python."""
    from jema_js_spark.compiler.compile import SchemaCompiler
    from jema_js_spark.schema.frontend import Schema

    plan = analyze_json_contract(RECURSIVE_LL)
    st = plan.struct_type()
    cp = SchemaCompiler(Schema(RECURSIVE_LL)).compile_plan_for_column(
        F.from_json(F.lit("{}"), st), st)
    cov = cp.coverage()
    assert cov["plane_a_fraction"] > 0.9, cov
    assert any("variant" in (n or "") for n in cov["plane_b_names"]), cov


def test_branching_recursion_bounded_by_slot_budget():
    """A binary-tree recursive contract would unroll 2^_MAX_NEST
    leaves; the per-contract slot budget truncates the walk to variant
    leaves instead — the struct stays compile-sized and the contract
    still routes."""
    from jema_js_spark.validation.json_plane import _MAX_UNROLL_SLOTS

    tree = {"type": "object",
            "properties": {"l": {"$ref": "#"}, "r": {"$ref": "#"},
                           "v": {"type": "integer"}}}
    plan = analyze_json_contract(tree)
    assert plan.routable, plan.reasons

    def count(node):
        decl, extra = node
        if decl == "object":
            return 1 + sum(count(c) for c in extra.values())
        if decl == "array" and not isinstance(extra, str):
            return 1 + count(extra)
        if decl == "map":
            return 1 + count(extra)
        return 1

    n = count(plan.root)
    # budget + the free shallow levels + in-flight nodes
    assert n <= _MAX_UNROLL_SLOTS + 48, n
    assert len(plan.struct_type().simpleString()) < 20_000


def test_branching_recursion_verdict_parity(spark):
    """Budget-truncated tree contract: parity with the kernel on
    balanced trees that cross the truncated leaves."""
    tree = {"type": "object", "required": ["v"],
            "properties": {"l": {"$ref": "#"}, "r": {"$ref": "#"},
                           "v": {"type": "integer", "minimum": 0}}}

    def full_tree(depth, bad=False):
        if depth == 0:
            return {"v": -1 if bad else 0}
        return {"v": depth,
                "l": full_tree(depth - 1),
                "r": full_tree(depth - 1, bad)}

    docs = [json.dumps(full_tree(d)) for d in (0, 2, 5, 9)]
    docs += [json.dumps(full_tree(d, bad=True)) for d in (2, 5, 9)]
    docs += ['{"v": 1, "l": {"v": 1}, "r": 7}', 'junk', '{}']
    df = spark.createDataFrame([(d,) for d in docs], "doc string")
    rows = with_valid_json(df, "doc", tree, route_col="route").collect()
    expected = _kernel_verdicts(tree, docs)
    bad = [(r["doc"][:60], r["valid"], expected[r["doc"]])
           for r in rows if r["valid"] != expected[r["doc"]]]
    assert not bad, bad[:3]
    assert {r["route"] for r in rows} == {"columnar", "kernel"}


def test_auto_shape_rule(spark):
    """auto routes every routable contract through the one masked
    shape: a single pass with no shuffle — also when the compiled plan
    carries Plane-B checks, whose embedded kernel UDF then runs per
    row (measured cheaper than a second scan plus a residue shuffle)."""
    df = spark.createDataFrame([('{"a": 1}',)], "doc string")

    def assert_single_pass(out):
        a = out._jdf.queryExecution().analyzed().toString()
        assert "Repartition " not in a and "rebalance" not in a.lower(), a
        phys = out._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in phys and "Union" not in phys, phys

    # pure-A routable contract
    pure = {"type": "object", "required": ["a"],
            "properties": {"a": {"type": "integer", "minimum": 0}}}
    assert_single_pass(with_valid_json(df, "doc", pure))

    # keys-only contract whose dependentSchemas body READS values →
    # the variant net = a Plane-B check
    netted = {"type": "object",
              "dependentSchemas": {"a": {"properties":
                                         {"b": {"minimum": 3}}}}}
    plan = analyze_json_contract(netted)
    assert plan.routable and plan.root == ("map", ("variant", None)), plan
    out = with_valid_json(df, "doc", netted, route_col="r")
    assert_single_pass(out)
    assert [(r["valid"], r["r"]) for r in out.collect()] == \
        [(True, "columnar")]

    # auto and kernel are the only shapes: asking for a retired one
    # (the fast ∪ slow split, or "masked", which is what auto routes
    # through) is an error, never a silent fall-back to another shape
    for retired in ("union", "masked"):
        with pytest.raises(ValueError, match=retired):
            with_valid_json(df, "doc", pure, plan_shape=retired)


# two properties, a couple of type/bound checks: the lightest routable
# contract class
TRIVIAL = {"type": "object", "required": ["k"],
           "properties": {"k": {"type": "integer", "minimum": 0},
                          "name": {"type": "string", "maxLength": 64}}}


def test_plan_choice_shapes():
    from jema_js_spark.bench_contracts import REPRESENTATIVE_KERNEL_CONTRACT

    # routable contracts route, whatever their kernel weight
    for contract in (TRIVIAL, REPRESENTATIVE_KERNEL_CONTRACT):
        c = plan_choice(contract)
        assert c["shape"] == "route" and c["routable"], c
    # unroutable: boolean root schema
    unroutable = plan_choice(True)
    assert unroutable["shape"] == "kernel" and not unroutable["routable"]
    assert unroutable["unroutable_reasons"]


def test_plan_choice_flags_shortcut_sensitive_layouts():
    """number-typed slots re-render integer-form tokens (5 → 5.0), so
    such data always misses the round-trip proof — the measured 0.68×
    case.  plan_choice must surface the static marker."""
    c = plan_choice({"type": "object",
                     "properties": {"m": {"type": "number"}}})
    assert c["shape"] == "route" and c["shortcut_sensitive"]
    assert "shortcut" in c["why"]
    assert not plan_choice(TRIVIAL)["shortcut_sensitive"]


def test_auto_routes_trivial_without_hint(spark):
    """The lightest contract class routes under auto, with verdicts
    unchanged."""
    docs = ['{"k":1,"name":"a"}', '{"k":-1,"name":"a"}', '{"k":1}',
            '{"name":"a"}', 'junk', None]
    df = spark.createDataFrame([(d,) for d in docs], "doc string")
    out = with_valid_json(df, "doc", TRIVIAL, route_col="route").collect()
    v = Validator(TRIVIAL)
    for r in out:
        if r["doc"] is None or r["doc"] == "junk":
            want, plane = False, "kernel"
        else:
            want, plane = v.validate(json.loads(r["doc"])), "columnar"
        assert r["route"] == plane, r
        assert r["valid"] == want, r


def test_plan_choice_is_the_applied_choice(spark):
    """plan_choice publishes the plane auto applies: over every dict
    schema of the conformance corpus it names the route exactly when
    the analysis finds the contract routable, and with_valid_json puts
    a canonical document on the plane plan_choice names."""
    from tests.suite_cases import CASES

    schemas = {json.dumps(c.schema, sort_keys=True): c.schema
               for c in CASES if isinstance(c.schema, dict)}
    shapes = []
    for contract in schemas.values():
        routable = analyze_json_contract(contract).routable
        shapes.append(plan_choice(contract)["shape"])
        assert shapes[-1] == ("route" if routable else "kernel"), contract
    # both planes are exercised (429 routable, see the corpus test)
    assert shapes.count("route") >= 429 and "kernel" in shapes

    # layoutless root carrying unevaluated*: a whole-plan kernel check
    unroutable = {"minProperties": 1,
                  "unevaluatedProperties": {"type": ["integer", "string"]}}
    df = spark.createDataFrame([('{"k":1,"name":"a"}',)], "doc string")
    plane = {"route": "columnar", "kernel": "kernel"}
    for contract, shape in ((TRIVIAL, "route"), (unroutable, "kernel")):
        assert plan_choice(contract)["shape"] == shape, contract
        [row] = with_valid_json(df, "doc", contract,
                                route_col="plane").collect()
        assert row["plane"] == plane[shape] and row["valid"], (contract, row)


def test_wide_flat_contract_keeps_full_typed_layout():
    """Round-8 review fix: the unroll budget is charged only past
    _BUDGET_FREE_DEPTH — a wide-but-shallow contract (hundreds of flat
    properties) must keep every field typed, exactly as round 7 did;
    only deep (recursion-driven) expansion truncates to variant
    leaves."""
    wide = {"type": "object",
            "properties": {f"f{i}": {"type": "integer", "minimum": 0}
                           for i in range(300)}}
    plan = analyze_json_contract(wide)
    assert plan.routable, plan.reasons
    assert plan.root[0] == "object" and len(plan.root[1]) == 300
    assert all(node == ("integer", None) for node in plan.root[1].values())


def test_recursive_contract_fuzz_matches_kernel(spark):
    """Seeded randomized recursive contracts (linked/tree shapes,
    arrays-of-self, random scalar constraints) × randomized documents
    (depths straddling the unroll horizon, hostile roots, trailing
    garbage) — route vs kernel verdict parity.  This fuzz found the
    round-8 gate-expression OOM (branching recursion × arrays-of-self
    at a 256-slot budget) that set _MAX_UNROLL_SLOTS = 64."""
    import random

    def gen_schema(rng):
        scalar_pool = [
            {"type": "integer", "minimum": rng.randint(-5, 5)},
            {"type": "string", "maxLength": rng.randint(2, 12)},
            {"type": "number"},
            {"type": "boolean"},
            {"enum": ["a", "b", None]},
        ]
        props = {f"s{i}": rng.choice(scalar_pool)
                 for i in range(rng.randint(1, 3))}
        for i in range(rng.randint(1, 2)):
            if rng.random() < 0.5:
                props[f"r{i}"] = {"$ref": "#"}
            else:
                props[f"r{i}"] = {"type": "array", "items": {"$ref": "#"},
                                  "maxItems": 3}
        s = {"type": "object", "properties": props}
        if rng.random() < 0.5:
            s["required"] = [rng.choice(list(props))]
        return s

    def gen_doc(rng, schema, depth):
        if depth <= 0 or rng.random() < 0.25:
            return rng.choice([{}, {"s0": rng.randint(-9, 9)}, 5, "x",
                               None, [1, 2], {"s0": "str"}, {"zzz": 1}])
        d = {}
        for k, sub in schema["properties"].items():
            if rng.random() < 0.35:
                continue
            if k.startswith("r"):
                if isinstance(sub, dict) and sub.get("type") == "array":
                    d[k] = [gen_doc(rng, schema, depth - 1)
                            for _ in range(rng.randint(0, 2))]
                else:
                    d[k] = gen_doc(rng, schema, depth - 1)
            else:
                t = sub.get("type")
                if t == "integer":
                    d[k] = rng.choice([rng.randint(-9, 9), 2**54, "s", 1.5])
                elif t == "string":
                    d[k] = rng.choice(["ab", "x" * 15, 7])
                elif t == "number":
                    d[k] = rng.choice([1.5, 3, -2.25, "n"])
                elif t == "boolean":
                    d[k] = rng.choice([True, False, 0])
                else:
                    d[k] = rng.choice(["a", "b", None, "z", 1])
        return d

    from jema_js_spark.kernel.kernel import Validator

    bad, n_contracts = [], 0
    for seed in (11, 23):
        rng = random.Random(seed)
        for case in range(5):
            schema = gen_schema(rng)
            if not analyze_json_contract(schema).routable:
                continue
            n_contracts += 1
            docs = [json.dumps(gen_doc(rng, schema,
                                       rng.choice([1, 3, 8, 13, 16])))
                    for _ in range(25)]
            docs += ['not json', 'null', '[]',
                     json.dumps(gen_doc(rng, schema, 14)) + " junk"]
            v = Validator(Schema(json.loads(json.dumps(schema))))
            want = []
            for d in docs:
                try:
                    want.append(v.validate(json.loads(d)))
                except Exception:
                    want.append(False)
            df = spark.createDataFrame([(i, d) for i, d in enumerate(docs)],
                                       "i long, doc string")
            got = {r["i"]: r["valid"]
                   for r in with_valid_json(df, "doc", schema).collect()}
            bad += [(seed, case, docs[i][:80], got[i], want[i])
                    for i in range(len(docs)) if got[i] != want[i]]
    assert n_contracts >= 6, n_contracts
    assert not bad, bad[:3]


def test_small_partition_consolidation(spark):
    """Round 9: Python-stage plans coalesce SMALL inputs down to the
    core count (per-task ArrowEvalPython overhead is flat in rows), and
    must leave large inputs' partitioning untouched (retry/straggler
    granularity at scale)."""
    from jema_js_spark.validation import json_plane as jp

    df = spark.range(1000, numPartitions=96) \
        .selectExpr("cast(id as string) as doc").cache()
    df.count()
    out = jp._maybe_consolidate(df)
    assert out.rdd.getNumPartitions() \
        <= max(spark.sparkContext.defaultParallelism, 1)
    # past the size ceiling the input partitioning is preserved
    old = jp._CONSOLIDATE_MAX_INPUT
    jp._CONSOLIDATE_MAX_INPUT = 1
    try:
        assert jp._maybe_consolidate(df).rdd.getNumPartitions() == 96
    finally:
        jp._CONSOLIDATE_MAX_INPUT = old
    df.unpersist()
