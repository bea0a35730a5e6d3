"""Hand-pinned semantic edge cases replicated from the reference's own
unit tests (/root/reference/tests/tests.html) — FIXTURES.md §3."""

from __future__ import annotations

import math

import pytest

from jema_js_spark.kernel.kernel import Validator, validate
from jema_js_spark.kernel.jstypes import (
    deep_equal,
    get_type,
    js_math_round,
    js_multiple_of,
)
from jema_js_spark.schema.frontend import RefResolutionError, Schema


class TestNumbers:
    def test_infinity_matches_no_type(self):
        # tests.html:52,74-76 — non-finite numbers are 'not supported'
        for bad in (float("inf"), float("-inf"), float("nan")):
            assert get_type(bad) == "not supported"
            assert not validate({"type": "number"}, bad)
            assert not validate({"type": "integer"}, bad)
        # ... and numeric bound keywords gate on 'number', so they pass
        # vacuously on non-finite values (affects mismatch, schema.js:199)
        assert validate({"minimum": 5}, float("inf"))

    def test_float_with_zero_fraction_is_integer(self):
        # schema.js:449
        assert validate({"type": "integer"}, 1.0)
        assert not validate({"type": "integer"}, 1.5)

    def test_multiple_of_float_pins(self):
        # tests.html:60-68
        assert js_multiple_of(-8599.3, 0.01)
        assert not js_multiple_of(1.0000000000000002, 0.5)
        assert js_multiple_of(9, 3)
        assert not js_multiple_of(9, 2)

    def test_js_math_round_exact(self):
        assert js_math_round(2.5) == 3
        assert js_math_round(-2.5) == -2  # ties toward +inf, unlike Python
        assert js_math_round(0.49999999999999994) == 0  # floor(x+.5) would say 1

    def test_multiple_of_zero_divisor(self):
        # JS x/0 → Infinity → isFinite guard → invalid
        assert not js_multiple_of(10, 0)


class TestStrings:
    def test_code_point_lengths(self):
        # schema.js:486,490 — [...v].length counts code points; astral
        # chars count once
        assert validate({"minLength": 2, "maxLength": 2}, "\U0001F600\U0001F600")
        assert not validate({"minLength": 2}, "\U0001F600")


class TestNull:
    def test_null_and_missing_required(self):
        # missing key != null value for required (schema.js:591)
        schema = {"required": ["a"]}
        assert validate(schema, {"a": None})
        assert not validate(schema, {})

    def test_none_is_null_type(self):
        assert validate({"type": "null"}, None)


class TestDeepEquality:
    def test_key_order_insensitive(self):
        # schema.js:831-875
        assert deep_equal({"a": 1, "b": [1, {"c": 2}]},
                          {"b": [1, {"c": 2}], "a": 1})
        assert not deep_equal({"a": 1}, {"a": 1, "b": 2})

    def test_js_strict_typing(self):
        assert not deep_equal(True, 1)
        assert not deep_equal("1", 1)
        assert deep_equal(1, 1.0)  # one JS number type
        assert not deep_equal(float("nan"), float("nan"))  # NaN !== NaN

    def test_unique_items_reordered_objects(self):
        assert not validate({"uniqueItems": True},
                            [{"a": 1, "b": 2}, {"b": 2, "a": 1}])


class TestRefs:
    def test_recursive_ref(self):
        # tests.html:596-606
        schema = {
            "type": "object",
            "properties": {"name": {"type": "string"},
                           "child": {"$ref": "#"}},
        }
        s = Schema(schema)
        assert s.validate({"name": "a", "child": {"name": "b", "child": {}}})
        assert not s.validate({"name": "a", "child": {"name": 1}})

    def test_missing_ref_target_raises(self):
        # tests.html:583-595 — the reference crashes on a missing target
        s = Schema({"$ref": "#/$defs/nope"})
        with pytest.raises(RefResolutionError):
            s.validate(1)


class TestErrorSurface:
    def test_message_template(self):
        # README.md:43-45: '"Li" does not match minLength:3'
        errors = Schema({"minLength": 3}).errors("Li")
        assert len(errors) == 1
        assert errors[0].message == '"Li" does not match minLength:3'
        assert errors[0].schema_stack == ["minLength"]
        assert errors[0].data_stack == []

    def test_nested_paths(self):
        schema = {"properties": {"name": {"minLength": 3}}}
        errors = Schema(schema).errors({"name": "Li"})
        assert len(errors) == 1
        assert errors[0].message == '"Li" does not match minLength:3'
        assert errors[0].schema_stack == ["properties", "name", "minLength"]
        assert errors[0].data_stack == ["name"]

    def test_false_schema_message(self):
        errors = Schema({"properties": {"x": False}}).errors({"x": 1})
        assert len(errors) == 1
        assert "fails, false-schema at:" in errors[0].message

    def test_required_message(self):
        errors = Schema({"required": ["foo"]}).errors({})
        assert len(errors) == 1
        assert "missing required property" in errors[0].message

    def test_first_error_short_circuit(self):
        # validate() pulls one generator step (schema.js:59-61): a
        # multi-violation document still answers False without
        # materializing every error
        schema = {"properties": {"a": {"type": "integer"},
                                 "b": {"type": "integer"}}}
        v = Validator(Schema(schema))
        assert not v.validate({"a": "x", "b": "y"})
        errs = Schema(schema).errors({"a": "x", "b": "y"})
        assert len(errs) == 2  # errors() materializes all


class TestTypeGating:
    def test_vacuous_keywords(self):
        # a keyword whose affects mismatches passes (schema.js:199)
        assert validate({"minLength": 5}, 42)
        assert validate({"minimum": 100}, "tiny")
        assert validate({"maxItems": 0}, {"a": 1})
        assert validate({"required": ["x"]}, "not-an-object")
        assert validate({"minProperties": 3}, [1])


def test_pending_iter_errors_survives_interleaved_validate():
    """Round-3 review: validate() must not leave boolean mode sticky —
    a lazy iter_errors() generator consumed afterwards must still build
    fully formatted reference errors."""
    from jema_js_spark.kernel.kernel import Validator
    from jema_js_spark.schema.frontend import Schema

    v = Validator(Schema({"minimum": 10}))
    pending = v.iter_errors(3)            # lazy — not consumed yet
    assert v.validate(99) is True         # a boolean-mode run in between
    msgs = [e.message for e in pending]
    assert msgs == ['"3" does not match minimum:10'], msgs


def test_pending_iter_errors_ignores_interleaved_failing_residue():
    """A pending iter_errors() starts its run on empty stacks at its
    first next(), so a FAILING validate() in between no longer leaks its
    abandonment residue (here ``["required", 0]``) into the pending
    run's error stacks.  Disclosed behaviour shift: the two-evaluator
    kernel reset the stacks when iter_errors() was called and read the
    residue back as ``["required", 0, "required", 0]`` and
    ``["required", 0, "properties", "a", "minimum"]``."""
    v = Validator(Schema({"properties": {"a": {"minimum": 10}},
                          "required": ["b"]}))
    pending = v.iter_errors({"a": 3})     # lazy — not consumed yet
    assert v.validate({"a": 3}) is False  # leaves ["required", 0] behind
    assert v.schema_stack == ["required", 0]
    errs = [(e.message, e.schema_stack, e.data_stack) for e in pending]
    assert errs == [
        ("object missing required property 0:b", ["required", 0], []),
        ('"3" does not match minimum:10',
         ["properties", "a", "minimum"], ["a"]),
    ], errs


def test_validate_does_not_accumulate_stack_residue():
    """A failing validate() leaves its abandonment residue on the
    stacks; the next call must start from empty stacks, or a Validator
    cached for a worker's lifetime grows them without bound."""
    v = Validator(Schema({"properties": {"a": {"type": "integer"}},
                          "required": ["b"]}))
    assert v.validate({"a": "x"}) is False
    one = len(v.schema_stack) + len(v.data_stack)
    for _ in range(10_000):
        assert v.validate({"a": "x"}) is False
    assert len(v.schema_stack) + len(v.data_stack) <= one


def test_depth_limits_are_clean_on_both_axes():
    """Deep nesting exhausts recursion CLEANLY (DepthLimitExceeded, a
    RecursionError subclass) on both axes: deep DATA against a
    recursive schema (the kernel guard) and deep SCHEMAS at
    construction (round-5 fix — the compile-phase walks previously
    leaked a raw RecursionError at ~1000 levels)."""
    import sys

    import pytest

    from jema_js_spark.kernel.kernel import DepthLimitExceeded
    from jema_js_spark.schema.frontend import Schema

    def deep_schema(n):
        s = {"type": "object"}
        for _ in range(n):
            s = {"properties": {"a": s}}
        return s

    def deep_value(n):
        v = {}
        for _ in range(n):
            v = {"a": v}
        return v

    # a 4000-level schema × document pair compiles and validates
    assert Schema(deep_schema(4000)).validate(deep_value(4000)) is True

    # construction beyond the shared limit: clean, typed, catchable
    old = sys.getrecursionlimit()
    sys.setrecursionlimit(100000)
    try:
        hostile = deep_schema(30000)
    finally:
        sys.setrecursionlimit(old)
    with pytest.raises(DepthLimitExceeded):
        Schema(hostile)

    # deep DATA against a recursive $ref schema: kernel guard
    rec = Schema({"$defs": {"n": {"properties": {"a": {"$ref": "#/$defs/n"}},
                                    "type": "object"}},
                  "$ref": "#/$defs/n"})
    assert rec.validate(deep_value(3000)) is True
    sys.setrecursionlimit(100000)
    try:
        deep_v = deep_value(40000)
    finally:
        sys.setrecursionlimit(old)
    with pytest.raises(DepthLimitExceeded):
        rec.validate(deep_v)


@pytest.mark.parametrize("shape,lo,hi", [
    ("recursive_ref", 4500, 5500),
    ("literal_nesting", 9000, 11000),
])
@pytest.mark.parametrize("path", ["validate", "iter_errors"])
def test_depth_limit_thresholds_are_pinned(shape, lo, hi, path):
    """Where DepthLimitExceeded first fires, per consumer, in a bracket
    (measured under the 20,000-frame budget: 4,998 levels against a
    recursive $ref schema and 9,995 against a literally nested one, the
    same in validate's boolean mode and iter_errors' collect mode — a
    $ref hop costs extra frames per level).  A rewrite of the evaluator
    that moves the threshold out of its bracket must do so on purpose."""
    import sys

    from jema_js_spark.kernel.kernel import DepthLimitExceeded

    def deep_value(n):
        v = {}
        for _ in range(n):
            v = {"a": v}
        return v

    def deep_schema(n):
        s = {"type": "object"}
        for _ in range(n):
            s = {"properties": {"a": s}}
        return s

    rec = {"$defs": {"n": {"properties": {"a": {"$ref": "#/$defs/n"}},
                           "type": "object"}},
           "$ref": "#/$defs/n"}

    def run(n):
        schema = Schema(rec if shape == "recursive_ref" else deep_schema(n))
        v = Validator(schema)
        doc = deep_value(n)
        if path == "validate":
            return v.validate(doc)
        return not any(True for _ in v.iter_errors(doc))

    assert sys.getrecursionlimit() < 20000   # the evaluators raise it
    assert run(lo) is True
    with pytest.raises(DepthLimitExceeded):
        run(hi)


class TestFastPlanConstantFolds:
    """Round 9: the per-vtype plans constant-fold ``type`` checks (and
    ``format`` with assertion off) at plan time
    (Validator._fold_entry).  These pins walk the fold's decision
    boundaries — especially the one data-dependent branch
    (integer-member type vs a number value) — and assert that the
    ``validate`` verdict agrees with the full ``iter_errors`` sequence
    and that the abandonment residue a folded failure leaves is the
    unfolded validator's (pinned as literals)."""

    def _both(self, schema, doc):
        """(validate verdict, iter_errors verdict, validate residue)."""
        vf = Validator(Schema(schema))
        fast = vf.validate(doc)
        errors = list(Validator(Schema(schema)).iter_errors(doc))
        return fast, errors == [], list(vf.schema_stack)

    @pytest.mark.parametrize("schema,doc,residue", [
        ({"type": "integer"}, 3, []),
        ({"type": "integer"}, 3.0, []),      # runtime is_js_integer branch
        ({"type": "integer"}, 3.5, ["type"]),
        ({"type": "integer"}, float(2**53), []),
        ({"type": "integer"}, "3", ["type"]),   # constant-false fold
        ({"type": "number"}, 3, []),
        ({"type": ["string", "integer"]}, "x", []),   # direct-member fold
        ({"type": ["string", "integer"]}, 4.0, []),   # integer member, number value
        ({"type": ["string", "integer"]}, 4.5, ["type"]),
        ({"type": ["number"]}, True, ["type"]),   # bool is not number
        ({"type": 5}, 5, ["type"]),          # hostile non-string type value
        ({"type": {"a": 1}}, {"a": 1}, ["type"]),
        ({"properties": {"a": {"type": "string"}}}, {"a": 1},
         ["properties", "a", "type"]),
        ({"items": {"type": "integer"}}, [1, "x", 3], ["type"]),
        ({"format": "email"}, "not an email", []),   # annotation-only: folded true
        ({"type": [["string"]]}, "x", []),  # nested member list: no fold
        ({"type": [["integer"], "null"]}, 5.0, []),
    ])
    def test_fold_verdict_and_residue_match_generator(self, schema, doc,
                                                      residue):
        fast, gen, f_res = self._both(schema, doc)
        assert fast == gen
        assert f_res == residue   # abandonment residue of the unfolded run

    def test_format_assertion_mode_is_not_folded(self):
        # the fold drops format entries ONLY when assertion is off; an
        # asserting validator must still run the real check
        s = Schema({"format": "email"})
        assert Validator(s).validate("not an email") is True
        assert Validator(s, format_assertion=True).validate("not an email") \
            is False
        assert Validator(s, format_assertion=True).validate("a@b.example") \
            is True
