"""Golden pin of the kernel's observable outputs.

For every input the pin records, on fresh Validators:

- ``validate``: the verdict (or the exception type it raised) and the
  ``schema_stack`` / ``data_stack`` it leaves behind (the abandonment
  residue of a failing document);
- ``iter_errors`` consumed to the end: every error (message, value,
  schema_value, schema_stack, data_stack) in order, then either the
  exception type the run raised after them or, for a run that
  completed, the stacks it left behind (the stacks at a raise are
  scratch state that no caller reads).

Inputs are the conformance corpus (``suite_cases.CASES``) and a stored
set of hostile ``(schema, value)`` pairs drawn from the hostile-schema
strategy of ``test_kernel_property``, each under both
``format_assertion`` settings.  The committed file keeps the hostile
inputs themselves and one truncated sha256 per record, so the pin does
not depend on hypothesis replaying the same examples.

Regenerate with::

    python -m tests.kernel_golden

Regenerating is valid ONLY at a commit whose kernel outputs are
trusted: the file is the reference a kernel rewrite is checked against,
so writing it from a kernel under suspicion pins the suspect outputs.
"""

from __future__ import annotations

import copy
import hashlib
import json
import os

from jema_js_spark.kernel.kernel import Validator
from jema_js_spark.schema.frontend import Schema

GOLDEN_PATH = os.path.join(os.path.dirname(__file__), "kernel_golden.json")
HOSTILE_EXAMPLES = 1200


def _name(exc):
    return None if exc is None else type(exc).__name__


def record(schema, value, format_assertion, registry_factory=None):
    """The full observable record of one (schema, value) input."""
    def build():
        reg = registry_factory() if registry_factory is not None else None
        return Validator(Schema(copy.deepcopy(schema), registry=reg),
                         format_assertion=format_assertion)

    try:
        v = build()
    except Exception as exc:
        return {"schema_raise": _name(exc)}

    verdict, exc = None, None
    try:
        verdict = v.validate(copy.deepcopy(value))
    except Exception as e:
        exc = e
    out = {"validate": [verdict, _name(exc), list(v.schema_stack),
                        list(v.data_stack)]}

    v = build()
    errors, exc = [], None
    try:
        for e in v.iter_errors(copy.deepcopy(value)):
            errors.append([e.message, e.value, e.schema_value,
                           list(e.schema_stack), list(e.data_stack)])
    except Exception as e:
        exc = e
    out["errors"] = errors
    out["errors_raise"] = _name(exc)
    if exc is None:
        out["errors_residue"] = [list(v.schema_stack), list(v.data_stack)]
    return out


def digest(rec) -> str:
    text = json.dumps(rec, ensure_ascii=True, separators=(",", ":"),
                      default=repr)
    return hashlib.sha256(text.encode()).hexdigest()[:16]


def corpus_inputs():
    """[(label, schema, value, registry_factory)] over the corpus."""
    from tests.suite_cases import CASES, load_remote_registry
    return [(f"corpus[{i}] {c.file}: {c.desc}", c.schema, c.data,
             load_remote_registry) for i, c in enumerate(CASES)]


def draw_hostile(n: int):
    """``n`` distinct JSON-serialisable hostile (schema, value) pairs,
    drawn deterministically (hypothesis ``derandomize``)."""
    from hypothesis import HealthCheck, given, settings

    from tests.test_kernel_property import hostile_schemas, json_values

    seen, out = set(), []

    @settings(max_examples=3 * n, deadline=None, derandomize=True,
              database=None, suppress_health_check=list(HealthCheck))
    @given(schema=hostile_schemas, value=json_values)
    def collect(schema, value):
        text = json.dumps([schema, value], ensure_ascii=True)
        if len(out) < n and text not in seen \
                and json.loads(text) == [schema, value]:
            seen.add(text)
            out.append(json.loads(text))

    collect()
    return out


def write(path: str = GOLDEN_PATH) -> None:
    corpus = [[digest(record(s, d, fa, reg)) for fa in (False, True)]
              for _label, s, d, reg in corpus_inputs()]
    hostile = [[s, d] + [digest(record(s, d, fa)) for fa in (False, True)]
               for s, d in draw_hostile(HOSTILE_EXAMPLES)]
    with open(path, "w") as f:
        f.write('{"corpus": [\n')
        f.write(",\n".join(json.dumps(h) for h in corpus))
        f.write('\n], "hostile": [\n')
        f.write(",\n".join(json.dumps(h, ensure_ascii=True, separators=(",", ":"))
                           for h in hostile))
        f.write("\n]}\n")
    print(f"wrote {path}: {len(corpus)} corpus cases, "
          f"{len(hostile)} hostile inputs")


if __name__ == "__main__":
    write()
