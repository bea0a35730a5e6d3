"""The kernel's outputs must stay byte-identical to the committed golden
pin (``tests/kernel_golden.json``, written by ``tests/kernel_golden.py``):
``validate`` verdicts and their stack residue, and the full
``iter_errors`` sequence, over the corpus and the stored hostile inputs
under both ``format_assertion`` settings."""

from __future__ import annotations

import json

import pytest

from tests.kernel_golden import GOLDEN_PATH, corpus_inputs, digest, record


@pytest.fixture(scope="module")
def golden():
    with open(GOLDEN_PATH) as f:
        return json.load(f)


def _mismatches(inputs):
    """[(label, format_assertion, expected digest, full record)]."""
    bad = []
    for label, schema, value, reg, expected in inputs:
        for fa, want in zip((False, True), expected):
            rec = record(schema, value, fa, reg)
            if digest(rec) != want:
                bad.append((label, fa, want, schema, value, rec))
    return bad


def _report(bad):
    lines = [f"{len(bad)} record(s) differ from the golden pin"]
    for label, fa, want, schema, value, rec in bad[:5]:
        lines.append(
            f"--- {label} format_assertion={fa} (pinned digest {want})\n"
            f"schema={json.dumps(schema, default=repr)}\n"
            f"value={json.dumps(value, default=repr)}\n"
            f"record={json.dumps(rec, default=repr)}")
    return "\n".join(lines)


def test_corpus_outputs_match_golden_pin(golden):
    cases = corpus_inputs()
    assert len(cases) == len(golden["corpus"]), (
        "the corpus changed size; regenerate the pin at a commit whose "
        "kernel outputs are trusted")
    bad = _mismatches(c + (h,) for c, h in zip(cases, golden["corpus"]))
    assert not bad, _report(bad)


def test_hostile_outputs_match_golden_pin(golden):
    assert len(golden["hostile"]) >= 1000
    bad = _mismatches((f"hostile[{i}]", s, d, None, (h0, h1))
                      for i, (s, d, h0, h1) in enumerate(golden["hostile"]))
    assert not bad, _report(bad)
