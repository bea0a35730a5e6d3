"""Property-based differential test: random JSON x random schema ⇒
kernel verdict == jsonschema (spec oracle) verdict — SURVEY.md §5.

Restricted to the spec-aligned keyword subset: regex-dialect-divergent
``pattern``s, legacy ``dependencies``, and float ``multipleOf`` cases
(where the reference deliberately diverges) are generated in dialect-
neutral form or excluded; those divergences are pinned explicitly in
``suite_cases.py`` instead.
"""

from __future__ import annotations

import copy

import jsonschema
from hypothesis import assume, given, settings, strategies as st

from jema_js_spark.kernel.kernel import _VOCABULARY, Validator, validate
from jema_js_spark.schema.frontend import Schema

# Keywords whose subschemas the reference evaluates with annotation
# suppression (``not``, schema.js:183,409-412), as abandonable probes
# (``if``/``anyOf``/``oneOf``/``contains``), or whose claims flow into
# a SHARED per-value evaluated set visible to cousin branches
# (``allOf``/``then``/``else`` — strict spec scopes annotations to the
# branch) — an ``unevaluated*`` keyword inside such a subtree
# deliberately diverges from the strict 2020-12 spec (verified against
# the reference on {"not": {"prefixItems": [true], "unevaluatedItems":
# false}} / [null]: both the reference and the kernel return true,
# jsonschema says false).  Those combinations are pinned below and
# covered by the kernel-vs-compiler differential; the spec oracle only
# grades the spec-aligned remainder.
_SUPPRESSING = ("not", "if", "then", "else", "anyOf", "oneOf", "contains",
                "allOf")


def _unevaluated_under_probe(schema, in_probe=False):
    if isinstance(schema, dict):
        if in_probe and (
            "unevaluatedProperties" in schema or "unevaluatedItems" in schema
        ):
            return True
        for key, sub in schema.items():
            probing = in_probe or key in _SUPPRESSING
            if _unevaluated_under_probe(sub, probing):
                return True
        return False
    if isinstance(schema, list):
        return any(_unevaluated_under_probe(s, in_probe) for s in schema)
    return False

json_values = st.recursive(
    st.none()
    | st.booleans()
    | st.integers(min_value=-(10**6), max_value=10**6)
    | st.floats(allow_nan=False, allow_infinity=False, width=64)
    | st.text(max_size=8),
    lambda children: st.lists(children, max_size=4)
    | st.dictionaries(st.text(max_size=4), children, max_size=4),
    max_leaves=12,
)

_type_names = st.sampled_from(
    ["null", "boolean", "number", "integer", "string", "array", "object"])

simple_schemas = st.recursive(
    st.one_of(
        st.booleans(),
        st.fixed_dictionaries({"type": _type_names}),
        st.fixed_dictionaries({"type": st.lists(_type_names, min_size=1,
                                                max_size=3, unique=True)}),
        st.fixed_dictionaries({"minimum": st.integers(-100, 100)}),
        st.fixed_dictionaries({"maximum": st.integers(-100, 100)}),
        st.fixed_dictionaries({"exclusiveMinimum": st.integers(-100, 100)}),
        st.fixed_dictionaries({"exclusiveMaximum": st.integers(-100, 100)}),
        st.fixed_dictionaries({"multipleOf": st.integers(1, 10)}),
        st.fixed_dictionaries({"minLength": st.integers(0, 5)}),
        st.fixed_dictionaries({"maxLength": st.integers(0, 5)}),
        st.fixed_dictionaries({"minItems": st.integers(0, 4)}),
        st.fixed_dictionaries({"maxItems": st.integers(0, 4)}),
        st.fixed_dictionaries({"minProperties": st.integers(0, 3)}),
        st.fixed_dictionaries({"maxProperties": st.integers(0, 3)}),
        st.fixed_dictionaries({"uniqueItems": st.booleans()}),
        st.fixed_dictionaries({"required": st.lists(st.text(max_size=3),
                                                    max_size=3, unique=True)}),
        st.fixed_dictionaries({"const": json_values}),
        st.fixed_dictionaries({"enum": st.lists(json_values, min_size=1,
                                                max_size=4)}),
        st.fixed_dictionaries({"pattern": st.sampled_from(
            ["^a", "b$", "^[0-9]+$", "x", "^$", "a+b*"])}),
    ),
    lambda children: st.one_of(
        st.fixed_dictionaries({"items": children}),
        st.fixed_dictionaries({"prefixItems": st.lists(children, min_size=1,
                                                       max_size=3)}),
        st.fixed_dictionaries({"contains": children}),
        st.fixed_dictionaries(
            {"contains": children, "minContains": st.integers(0, 3)}),
        st.fixed_dictionaries({"properties": st.dictionaries(
            st.text(max_size=3), children, max_size=3)}),
        st.fixed_dictionaries({"additionalProperties": children}),
        st.fixed_dictionaries({"propertyNames": children}),
        st.fixed_dictionaries({"allOf": st.lists(children, min_size=1,
                                                 max_size=3)}),
        st.fixed_dictionaries({"anyOf": st.lists(children, min_size=1,
                                                 max_size=3)}),
        st.fixed_dictionaries({"oneOf": st.lists(children, min_size=1,
                                                 max_size=3)}),
        st.fixed_dictionaries({"not": children}),
        st.fixed_dictionaries({"if": children, "then": children,
                               "else": children}),
        st.fixed_dictionaries({"dependentRequired": st.dictionaries(
            st.text(max_size=3),
            st.lists(st.text(max_size=3), max_size=2), max_size=2)}),
        st.fixed_dictionaries({"properties": st.dictionaries(
            st.text(max_size=3), children, max_size=2),
            "unevaluatedProperties": children}),
        st.fixed_dictionaries({"prefixItems": st.lists(children, min_size=1,
                                                       max_size=2),
                               "unevaluatedItems": children}),
    ),
    max_leaves=8,
)


def _contains_multiple_of(schema) -> bool:
    if isinstance(schema, dict):
        return "multipleOf" in schema or any(
            _contains_multiple_of(v) for v in schema.values())
    if isinstance(schema, list):
        return any(_contains_multiple_of(v) for v in schema)
    return False


def _huge_number(value) -> bool:
    if isinstance(value, bool):
        return False
    if isinstance(value, (int, float)):
        return abs(value) >= 2 ** 50
    if isinstance(value, list):
        return any(_huge_number(v) for v in value)
    if isinstance(value, dict):
        return any(_huge_number(v) for v in value.values())
    return False


@settings(max_examples=300, deadline=None)
@given(schema=simple_schemas, value=json_values)
def test_kernel_matches_spec_oracle(schema, value):
    assume(not _unevaluated_under_probe(schema))
    # the reference's float-tolerant multipleOf (q*m === round(q)*m in
    # doubles, schema.js:462-468) deliberately diverges from the spec
    # oracle's exact remainder near the double precision limit — e.g.
    # (2^53−1) is "a multiple of 3" in JS arithmetic (a round-5
    # hypothesis find; divisors were already dialect-neutral, huge
    # VALUES were not).  The quirk is pinned explicitly below; the
    # oracle grades the exact-arithmetic remainder.
    assume(not (_contains_multiple_of(schema) and _huge_number(value)))
    expected = jsonschema.Draft202012Validator(
        copy.deepcopy(schema) if isinstance(schema, dict) else schema
    ).is_valid(copy.deepcopy(value))
    got = validate(copy.deepcopy(schema), copy.deepcopy(value))
    assert got == expected, f"schema={schema} value={value!r}"


def test_unevaluated_inside_not_pins_reference_semantics():
    """Reference quirk pins (verified by running /root/reference/schema.js):
    ``stopCollectingEvaluated`` (schema.js:183,409-412) suppresses
    annotation collection inside ``not``, so ``unevaluated*`` there sees
    an empty evaluated set — stricter inside the probe, which flips the
    outer ``not`` relative to the strict spec."""
    cases = [
        # Judge-verified: reference returns true; jsonschema says false.
        ({"not": {"prefixItems": [True], "unevaluatedItems": False}},
         [None], True),
        ({"not": {"properties": {"a": True},
                  "unevaluatedProperties": False}},
         {"a": 1}, True),
        # Control: with no items at all, inner unevaluatedItems trivially
        # holds even suppressed, so both dialects agree the not fails.
        ({"not": {"prefixItems": [True], "unevaluatedItems": False}},
         [], False),
    ]
    for schema, value, expected in cases:
        assert validate(copy.deepcopy(schema), copy.deepcopy(value)) == expected, (
            schema, value)


def test_multiple_of_float_tolerance_near_precision_limit():
    """Reference quirk pin (round 5): js_multiple_of runs the JS double
    dance, so (2^53−1) mod 3 — exactly 1 in integer arithmetic — still
    "is" a multiple of 3: q = v/3 rounds to a value whose round-trip
    q*3 == round(q)*3 holds.  Both planes must keep this verdict (the
    compiler mirrors the same float chain; pmod applies only below
    2^53)."""
    v = 9007199254740991.0            # 2^53 − 1
    assert v % 3 != 0                  # spec-exact arithmetic disagrees
    assert validate({"multipleOf": 3}, v) is True
    # and the sub-2^53 integral regime matches exact arithmetic
    assert validate({"multipleOf": 3}, 9.0) is True
    assert validate({"multipleOf": 3}, 10.0) is False


# Hostile schemas: every keyword may carry any value — nested lists,
# non-dict subschemas, wrongly typed bounds, booleans in schema
# positions, dangling local refs.  No external oracle grades these (the
# spec leaves them undefined), but the kernel serves two consumers from
# one evaluator: the boolean mode behind ``validate`` and the collect
# mode behind ``iter_errors``.  They must agree on every input — same
# verdict, and the same exception type when either raises first.  (The
# abandonment residue and the full error sequences are pinned by
# tests/test_kernel_golden.py.)
_HOSTILE_KEYS = st.sampled_from(
    sorted(k for k in _VOCABULARY if not k.startswith("$"))
    + ["$defs", "$ref"])
_hostile_values = st.recursive(
    st.none() | st.booleans() | st.integers(-3, 3)
    | st.floats(-3, 3, allow_nan=False)
    | st.sampled_from(["integer", "number", "string", "array", "object",
                       "null", "boolean", "a", "", "^a", "[", "email",
                       "date", "#", "#/$defs/a", "#/properties/a",
                       "#/items"]),
    lambda children: st.lists(children, max_size=3)
    | st.dictionaries(_HOSTILE_KEYS | st.sampled_from(["a", "b"]),
                      children, max_size=3),
    max_leaves=10,
)
hostile_schemas = st.dictionaries(_HOSTILE_KEYS, _hostile_values,
                                  min_size=1, max_size=4) | _hostile_values


def _run_path(schema, value, path):
    """(verdict, exception type) of one consumer on a fresh Validator.
    ``iter_errors`` is consumed to the end; a run that yields errors and
    then raises answers False, as ``validate`` stops at its first
    error."""
    try:
        v = Validator(Schema(copy.deepcopy(schema)))
    except Exception as exc:
        return None, type(exc)
    if path == "validate":
        try:
            return v.validate(copy.deepcopy(value)), None
        except Exception as exc:
            return None, type(exc)
    errors = []
    try:
        errors.extend(v.iter_errors(copy.deepcopy(value)))
    except Exception as exc:
        if not errors:
            return None, type(exc)
    return not errors, None


@settings(max_examples=2000, deadline=None, derandomize=True,
          database=None)
@given(schema=hostile_schemas, value=json_values)
def test_fast_path_matches_generator_on_hostile_schemas(schema, value):
    v_ok, v_exc = _run_path(schema, value, "validate")
    e_ok, e_exc = _run_path(schema, value, "iter_errors")
    assert v_exc == e_exc, (schema, value, v_exc, e_exc)
    assert v_ok == e_ok, (schema, value)
