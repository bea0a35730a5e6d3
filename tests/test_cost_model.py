"""Round 8 (VERDICT r7 #1): the auto route-vs-kernel plan choice.

The calibration (tools/calibrate_route_cost.py, evidence in
BENCH/route_cost_calibration.json + BENCH/BASELINE.md) found TWO
regimes: at production batch sizes the route wins on every graded
contract class (so auto routes routable contracts by default — no
hint, no diversion), while below ``SMALL_BATCH_DOCS`` the default
masked plan's fixed floor (the all-rows Python-wave handshake) loses
to the kernel's single stage whatever the contract (auto picks the
kernel under an ``expected_docs`` hint; the floor does not track
contract weight, so the cutoff is one constant).  These tests pin the
knob, the score ordering, and the end-to-end decision on both sides
of the boundary — a silent cutoff change or score drift that flips
the calibrated cases must fail here."""

from __future__ import annotations

from jema_js_spark.bench_contracts import REPRESENTATIVE_KERNEL_CONTRACT
from jema_js_spark.validation import cost_model
from jema_js_spark.validation.cost_model import (
    SMALL_BATCH_DOCS, kernel_cost_score, plan_choice)
from jema_js_spark.validation.json_plane import with_valid_json

# the round-7 suspected-loss case — round 8 measured the route winning
# it at 1M+ docs (union 1.48×, masked 1.06× and growing with scale);
# the kernel wins it only in the small-batch regime
TRIVIAL = {"type": "object", "required": ["k"],
           "properties": {"k": {"type": "integer", "minimum": 0},
                          "name": {"type": "string", "maxLength": 64}}}


def test_cutoff_pinned():
    # calibrated round 8 against the shipped masked default
    # (tools/calibrate_route_cost.py batch sweep, evidence in
    # BENCH/route_cost_calibration.json + BENCH/BASELINE.md): kernel
    # wins every level ≤300k docs, route wins at 1M; 500k splits the
    # bracket.  Changing the knob requires re-measuring.
    assert SMALL_BATCH_DOCS == 500_000


def test_score_orders_contracts_by_kernel_weight():
    """The score is the published win-size predictor: the calibrated
    anchors must keep their ordering and separation (trivial 2.85 →
    1.48×, representative 34.5 → 2.13× at 1M docs)."""
    t = kernel_cost_score(TRIVIAL)
    r = kernel_cost_score(REPRESENTATIVE_KERNEL_CONTRACT)
    assert t < 5, t
    assert r > 25, r


def test_score_monotone_in_contract_weight():
    """More kernel work → higher score, across the classes the model
    weights (properties fan-out, per-element items, expensive
    keywords)."""
    base = kernel_cost_score(TRIVIAL)
    more_props = dict(TRIVIAL)
    more_props["properties"] = {**TRIVIAL["properties"],
                                **{f"f{i}": {"type": "integer"}
                                   for i in range(8)}}
    with_unique = {**TRIVIAL, "properties": {
        **TRIVIAL["properties"],
        "xs": {"type": "array", "uniqueItems": True}}}
    with_uneval = {**TRIVIAL, "unevaluatedProperties": False}
    assert kernel_cost_score(more_props) > base
    assert kernel_cost_score(with_unique) > base + 4
    assert kernel_cost_score(with_uneval) > base + 5
    for extra in (
            {"unevaluatedProperties": False},
            {"properties": {"xs": {"type": "array", "uniqueItems": True,
                                   "items": {"type": "integer"}}}},
            {"$defs": {"n": {"type": "integer", "minimum": 0,
                             "multipleOf": 1}},
             "properties": {"a": {"$ref": "#/$defs/n"},
                            "b": {"$ref": "#/$defs/n"},
                            "c": {"$ref": "#/$defs/n"}}},
    ):
        score = kernel_cost_score({"type": "object", **extra})
        assert score >= base + 3, (extra, score)


def test_recursive_ref_scores_expensive():
    node = {"type": "object",
            "properties": {"next": {"$ref": "#"},
                           "v": {"type": "integer"}}}
    assert kernel_cost_score(node) >= cost_model._RECURSIVE_REF_COST


def test_plan_choice_shapes():
    # no hint → large-batch regime → routable contracts route,
    # whatever the score
    for contract in (TRIVIAL, REPRESENTATIVE_KERNEL_CONTRACT):
        c = plan_choice(contract)
        assert c["shape"] == "route" and c["routable"], c
    # small-batch hint below the cutoff → kernel; at/above → route
    assert plan_choice(TRIVIAL, expected_docs=50_000)["shape"] == "kernel"
    assert plan_choice(REPRESENTATIVE_KERNEL_CONTRACT,
                       expected_docs=50_000)["shape"] == "kernel"
    assert plan_choice(TRIVIAL,
                       expected_docs=SMALL_BATCH_DOCS)["shape"] == "route"
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
    """Production default: no batch hint → the trivial contract routes
    (the route wins it at production batch sizes), with verdicts
    unchanged."""
    docs = ['{"k":1,"name":"a"}', '{"k":-1,"name":"a"}', '{"k":1}',
            '{"name":"a"}', 'junk', None]
    df = spark.createDataFrame([(d,) for d in docs], "doc string")
    out = with_valid_json(df, "doc", TRIVIAL, route_col="route").collect()
    from jema_js_spark.kernel.kernel import Validator
    v = Validator(TRIVIAL)
    import json as _json
    for r in out:
        if r["doc"] is None or r["doc"] == "junk":
            want, plane = False, "kernel"
        else:
            want, plane = v.validate(_json.loads(r["doc"])), "columnar"
        assert r["route"] == plane, r
        assert r["valid"] == want, r


def test_auto_picks_kernel_under_small_batch_hint(spark):
    """An expected_docs hint below the cutoff runs the contract on the
    kernel plane — no from_json in the physical plan, route_col all
    "kernel" — with verdicts unchanged."""
    docs = ['{"k":1,"name":"a"}', '{"k":-1,"name":"a"}', 'junk']
    df = spark.createDataFrame([(d,) for d in docs], "doc string")
    out = with_valid_json(df, "doc", TRIVIAL, route_col="route",
                          expected_docs=10_000).collect()
    want = {'{"k":1,"name":"a"}': True, '{"k":-1,"name":"a"}': False,
            "junk": False}
    for r in out:
        assert r["route"] == "kernel", r
        assert r["valid"] == want[r["doc"]], r
    phys = with_valid_json(df, "doc", TRIVIAL, expected_docs=10_000) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "FromJson" not in phys and "from_json" not in phys, phys


def test_explicit_shapes_override_the_hint(spark):
    """plan_shape="masked" forces the route even under a small-batch
    hint — the oracle surfaces depend on it."""
    df = spark.createDataFrame([('{"k":1,"name":"a"}',)], "doc string")
    out = with_valid_json(df, "doc", TRIVIAL, route_col="route",
                          plan_shape="masked", expected_docs=10).collect()
    assert out[0]["route"] == "columnar", out
