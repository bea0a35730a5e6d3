"""Kernel conformance: every corpus case's verdict must match the
expected verdict (spec oracle / jema pin) — the boolean-only assertion
granularity of the reference's suite runner
(/root/reference/tests/test-suite-deno.js:26-32)."""

from __future__ import annotations

import copy

import pytest

from jema_js_spark.kernel.kernel import Validator
from jema_js_spark.schema.frontend import Schema
from tests.suite_cases import CASES, expected_for, load_remote_registry


def _case_id(i: int) -> str:
    c = CASES[i]
    return f"{c.file}::{c.desc or i}"


@pytest.mark.parametrize("i", range(len(CASES)), ids=_case_id)
def test_suite_case(i: int) -> None:
    case = CASES[i]
    expected = expected_for(case)
    reg = load_remote_registry()
    schema = Schema(copy.deepcopy(case.schema), registry=reg)
    got = Validator(schema).validate(copy.deepcopy(case.data))
    assert got == expected, (
        f"{case.file}: {case.desc}\nschema={case.schema}\ndata={case.data}\n"
        f"expected={expected} got={got}"
        + (f"\n(pinned: {case.pin_why})" if case.pinned is not None else "")
    )


def test_boolean_mode_matches_collect_mode():
    """``validate()`` runs the kernel's evaluator in boolean mode and
    ``iter_errors()`` runs it in collect mode.  The two must agree on
    EVERY corpus case — verdict == (iter_errors emits nothing first) — so
    a failure point that one mode handles differently (side-effect
    ordering, evaluated-set handling, abandonment residue) fails here
    before it can split a Spark verdict from the error surface."""
    reg = load_remote_registry()

    def outcome(fn):
        # loud raises (missing $ref targets, depth) must match too
        try:
            return fn()
        except Exception as e:
            return f"raise:{type(e).__name__}"

    mismatches = []
    for case in CASES:
        schema = Schema(copy.deepcopy(case.schema), registry=reg)
        fast = outcome(
            lambda: Validator(schema).validate(copy.deepcopy(case.data)))
        gen = outcome(
            lambda: next(iter(Validator(schema).iter_errors(
                copy.deepcopy(case.data))), None) is None)
        if fast != gen:
            mismatches.append((case.file, case.desc, fast, gen))
    assert not mismatches, mismatches
