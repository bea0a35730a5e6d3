"""Contract mining: the proposed contract must be CLOSED over the
profiled data (with_valid all-true — the self-consistency oracle),
compile 100% Plane A, gate enum mining on the HLL sketch, and detect
out-of-contract rows when the data moves."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from jema_js_spark.schema.inference import propose_contract
from jema_js_spark.validation.engine import compile_for, with_valid

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


def test_proposed_contract_closed_over_data(spark, docs):
    contract = propose_contract(docs)
    out = with_valid(docs, contract)
    n, ok = out.agg(F.count(F.lit(1)),
                    F.sum(F.col("valid").cast("long"))).collect()[0]
    assert n == ok > 0
    # shape: lang/source become enums (low cardinality), text stays a
    # bounded string, n_chars gets closed integer bounds
    assert "enum" in contract["properties"]["lang"]
    assert set(contract["properties"]["text"]) == {"type", "minLength",
                                                   "maxLength"}
    assert contract["properties"]["n_chars"]["type"] == "integer"
    assert contract["properties"]["n_chars"]["minimum"] <= \
        contract["properties"]["n_chars"]["maximum"]
    assert "doc_id" in contract["required"]


def test_proposed_contract_is_plane_a(spark, docs):
    contract = propose_contract(docs)
    cov = compile_for(docs, contract).coverage()
    assert cov["plane_a_fraction"] == 1.0, cov["plane_b_names"]


def test_enum_gate_respects_cardinality(spark, docs):
    # text has ~thousands of distinct values: must NOT be enum-mined
    # even with a generous knob (the HLL gate blocks the collect)
    contract = propose_contract(docs, enum_max_distinct=8)
    assert "enum" not in contract["properties"]["text"]
    # with a tiny knob even lang (7-ish values) stays a string
    tight = propose_contract(docs, enum_max_distinct=2)
    assert "enum" not in tight["properties"]["lang"]


def test_contract_catches_drifted_rows(spark, docs):
    contract = propose_contract(docs)
    lo = contract["properties"]["n_chars"]["minimum"]
    drifted = docs.limit(20).withColumn("n_chars", F.lit(int(lo) - 1)) \
        .withColumn("lang", F.lit("zz"))
    out = with_valid(drifted, contract)
    assert out.filter(F.col("valid")).count() == 0


def test_json_contract_closed_over_sample(spark):
    import json

    from jema_js_spark.kernel.kernel import Validator
    from jema_js_spark.schema.frontend import Schema
    from jema_js_spark.schema.inference import propose_json_contract

    events = spark.read.parquet(f"{SF}/events.parquet")
    contract = propose_json_contract(events, "props", sample_rows=500)
    assert contract.get("type") == "object" or "properties" in contract
    # the EXACT sample the miner saw must validate all-true (same
    # deterministic hash-ordered draw)
    sample = [json.loads(r["doc"]) for r in
              events.select(F.col("props").alias("doc"))
              .filter(F.col("props").isNotNull())
              .orderBy(F.xxhash64(F.col("props"))).limit(500).collect()]
    v = Validator(Schema(contract))
    assert sample and all(v.validate(d) for d in sample)


def test_json_contract_mixed_types_and_enums(spark):
    import json

    from jema_js_spark.kernel.kernel import Validator
    from jema_js_spark.schema.frontend import Schema
    from jema_js_spark.schema.inference import propose_json_contract

    docs = [
        {"k": 1, "tag": "a", "xs": [1, 2]},
        {"k": 2.5, "tag": "b", "xs": [3]},
        {"k": 3, "tag": "a", "xs": [], "extra": None},
    ]
    df = spark.createDataFrame([(json.dumps(d),) for d in docs],
                               "props string")
    c = propose_json_contract(df, "props", sample_rows=10)
    # int ∪ float → number with closed bounds
    assert c["properties"]["k"] == {"type": "number",
                                    "minimum": 1, "maximum": 3}
    # low-cardinality strings → enum
    assert c["properties"]["tag"]["enum"] == ["a", "b"]
    # arrays: element node + closed size bounds
    assert c["properties"]["xs"]["minItems"] == 0
    assert c["properties"]["xs"]["maxItems"] == 2
    assert c["properties"]["xs"]["items"]["type"] == "integer"
    # 'extra' appears in one doc only → not required
    assert "extra" not in c["required"]
    assert set(c["required"]) == {"k", "tag", "xs"}
    v = Validator(Schema(c))
    assert all(v.validate(d) for d in docs)
    # out-of-contract docs are caught
    assert not v.validate({"k": 99, "tag": "a", "xs": [1]})   # k > max
    assert not v.validate({"tag": "zz", "k": 2, "xs": [1]})   # enum miss
    assert not v.validate({"tag": "a", "xs": [1]})            # k missing


def test_nan_rows_mine_finite_bounds_and_surface_as_violations(spark):
    # review pin (round 4): NaN must not poison mined bounds (Spark
    # max() sorts NaN greatest); the NaN row itself is a violation on
    # BOTH planes (non-finite matches no type — engine semantics)
    import json
    import math

    df = spark.createDataFrame(
        [(1, 2.5), (2, 7.5), (3, float("nan"))], "id long, score double")
    c = propose_contract(df)
    assert c["properties"]["score"]["minimum"] == 2.5
    assert c["properties"]["score"]["maximum"] == 7.5
    out = with_valid(df, c).collect()
    verdicts = {r["id"]: r["valid"] for r in out}
    assert verdicts == {1: True, 2: True, 3: False}
    json.dumps(c, allow_nan=False)   # the contract itself is valid JSON

    # JSON miner: same property, and order-independent
    from jema_js_spark.schema.inference import propose_json_contract
    docs_json = [{"v": float("nan")}, {"v": 1}, {"v": 5}]
    jdf = spark.createDataFrame(
        [(json.dumps(d),) for d in docs_json], "props string")
    jc = propose_json_contract(jdf, "props", sample_rows=10)
    assert jc["properties"]["v"]["minimum"] == 1
    assert jc["properties"]["v"]["maximum"] == 5
    assert math.isfinite(jc["properties"]["v"]["minimum"])


def test_json_mining_unparseable_is_loud(spark):
    from jema_js_spark.schema.inference import propose_json_contract

    df = spark.createDataFrame([("not json",), ("{broken",)], "props string")
    with pytest.raises(ValueError, match="no parseable JSON"):
        propose_json_contract(df, "props")


def test_nullable_columns_not_required(spark, docs):
    masked = docs.withColumn(
        "source", F.when(F.col("doc_id") % 2 == 0, F.col("source")))
    contract = propose_contract(masked)
    assert "source" not in contract["required"]
    assert "doc_id" in contract["required"]
    # masked rows still validate: NULL means "key absent" in the bridge
    out = with_valid(masked, contract)
    assert out.filter(~F.col("valid")).count() == 0


def test_decimal_bounds_stay_closed_over_data(spark):
    # decimal128 values not representable in a double: float() rounds
    # to nearest, so a naive cast can emit minimum > observed min /
    # maximum < observed max (ADVICE r4).  The mined contract must
    # nudge one ULP outward so with_valid stays all-true.
    from decimal import Decimal

    df = spark.createDataFrame(
        [(Decimal("0.100000000000000005"),),
         (Decimal("12345678901234567.891"),),
         (Decimal("-0.300000000000000007"),)], "amount decimal(38,18)")
    contract = propose_contract(df, emit_required=False)
    sub = contract["properties"]["amount"]
    assert Decimal(sub["minimum"]) <= Decimal("-0.300000000000000007")
    assert Decimal(sub["maximum"]) >= Decimal("12345678901234567.891")
    out = with_valid(df, contract)
    n, ok = out.agg(F.count(F.lit(1)),
                    F.sum(F.col("valid").cast("long"))).collect()[0]
    assert n == ok == 3


@pytest.fixture(scope="module")
def nested_df(spark):
    rows = [
        (i,
         ("zip%d" % (i % 3), i % 5, float(i)),
         ["tag%d" % (i % 4), "common"],
         [float(i), i / 2.0])
        for i in range(60)]
    return spark.createDataFrame(
        rows, "id long, meta struct<zip:string,depth:long,score:double>, "
              "tags array<string>, nums array<double>")


def test_nested_container_mining(spark, nested_df):
    # round 5 (VERDICT r4 #8): struct/array columns get REAL
    # sub-contracts — per-field properties/bounds for meta, items +
    # size bounds for arrays — and the contract stays closed over the
    # profiled table (sample covers it at this scale)
    contract = propose_contract(nested_df)
    meta = contract["properties"]["meta"]
    assert meta["type"] == "object"
    assert set(meta["properties"]) == {"zip", "depth", "score"}
    assert meta["properties"]["depth"]["minimum"] == 0
    assert meta["properties"]["depth"]["maximum"] == 4
    assert "enum" in meta["properties"]["zip"] \
        or meta["properties"]["zip"]["type"] == "string"
    tags = contract["properties"]["tags"]
    assert tags["type"] == "array"
    assert "items" in tags and tags["minItems"] == tags["maxItems"] == 2
    nums = contract["properties"]["nums"]
    assert nums["items"]["type"] == "number"
    assert nums["items"]["minimum"] == 0.0
    out = with_valid(nested_df, contract)
    assert out.filter(~F.col("valid")).count() == 0
    # and the nested contract still compiles fully columnar
    cov = compile_for(nested_df, contract).coverage()
    assert cov["plane_a_fraction"] == 1.0, cov["plane_b_names"]


def test_nested_mining_catches_drifted_nested_rows(spark, nested_df):
    contract = propose_contract(nested_df)
    drifted = nested_df.limit(10).withColumn(
        "tags", F.array(F.lit("way-out-of-mined-length-bounds-zzzz")))
    out = with_valid(drifted, contract)
    assert out.filter(~F.col("valid")).count() == 10
    # nested struct drift too: depth beyond the mined maximum
    drifted2 = nested_df.limit(7).withColumn(
        "meta", F.struct(F.lit("zip0").alias("zip"),
                         F.lit(999).alias("depth"),
                         F.lit(1.0).alias("score")))
    out2 = with_valid(drifted2, contract)
    assert out2.filter(~F.col("valid")).count() == 7


def test_map_columns_mine_value_type(spark):
    """Dynamic keys are data, not schema — no sampled-key properties —
    but the VALUE type is schema (round 6): the mined
    additionalProperties makes the contract map-routable on the JSON
    columnar plane, and the values still validate."""
    df = spark.createDataFrame(
        [({"a": 1},), ({"b": 2},)], "m map<string,int>")
    contract = propose_contract(df, emit_required=False)
    assert contract["properties"]["m"] == {
        "type": "object", "additionalProperties": {"type": "integer"}}

    from jema_js_spark.validation.json_plane import analyze_json_contract
    plan = analyze_json_contract(contract["properties"]["m"])
    assert plan.root == ("map", ("integer", None)), plan.reasons

    arr_df = spark.createDataFrame(
        [({"a": [0.5]},), ({"b": [1.5, 2.0]},)], "m map<string,array<double>>")
    c2 = propose_contract(arr_df, emit_required=False)
    assert c2["properties"]["m"]["additionalProperties"] == {
        "type": "array", "items": {"type": "number"}}
    # deeper value shapes keep the bare object contract
    deep = spark.createDataFrame(
        [({"a": {"x": 1}},)], "m map<string,map<string,int>>")
    c3 = propose_contract(deep, emit_required=False)
    assert c3["properties"]["m"] == {"type": "object"}


def test_bound_nudging_overflow_ints(spark):
    # round-5 review find: float(10**400) raises OverflowError; the
    # guard must return a bound on the CORRECT side of the value
    import math
    import sys

    from jema_js_spark.schema.inference import _bound_down, _bound_up

    assert _bound_down(10 ** 400) == sys.float_info.max      # ≤ v, finite
    # no finite double is ≤ -(10**400) / ≥ 10**400, and ±Infinity is
    # not serializable JSON (ADVICE r5) — the bound is omitted
    assert _bound_down(-(10 ** 400)) is None
    assert _bound_up(10 ** 400) is None
    assert _bound_up(-(10 ** 400)) == -sys.float_info.max    # ≥ v, finite
    # non-finite column extrema also omit rather than emit Infinity/NaN
    assert _bound_down(-math.inf) is None
    assert _bound_up(math.inf) is None
    assert _bound_down(float("nan")) is None
    assert _bound_up(float("nan")) is None
    # big-but-representable ints still nudge outward correctly
    v = (1 << 53) + 3
    assert _bound_down(v) <= v and _bound_up(v) >= v
