"""Plane-B row kernel: full draft 2020-12 evaluation semantics.

A faithful Python mirror of the reference's lazy generator evaluator
(/root/reference/schema.js:185-663), structured 1:1 so that the quirky
behaviors the reference's own tests pin are reproduced exactly:

- lazy first-error short-circuit: ``validate`` pulls one error
  (schema.js:59-61); ``anyOf``/``oneOf``/``not``/``if``/``contains``
  probe only the first generator step (schema.js:386,400,410,419,316)
- the evaluated-set algorithm for ``unevaluated*``: a per-value set
  shared across combinator branches (schema.js:182,191-227,280-282),
  annotation suppression inside ``not`` via a flag
  (schema.js:183,409-412), and the items-failure clear quirk
  (schema.js:306)
- keyword type-gating: a keyword whose ``affects`` mismatches the value
  type passes vacuously (schema.js:199)
- ``format`` is annotation-only in the shipped build (hard
  ``return true`` at schema.js:499); assertion mode is opt-in here
- error objects carry dual provenance (schemaStack/dataStack) and the
  message template ``"<value> <message> <keyword>:<schemaValue>"``
  (schema.js:665-674)

One deliberate departure: ``$dynamicRef`` implements the *spec-correct*
dynamic-scope resolution (outermost in-scope resource with a bookending
``$dynamicAnchor``), where the reference resolves against the root
schema only and its README flags the area as buggy
(schema.js:355-362, README.md:60-62).  The dynamic scope is threaded as
an immutable tuple through evaluation, so abandoned generators (the
first-error probes) can never corrupt it.

This kernel is used two ways (SURVEY.md §7.0): batch-wise inside
Arrow-batched pandas UDFs for keyword subtrees the columnar compiler
cannot vectorize, and as the local differential-test oracle for the
Plane-A compiler.  It is pure Python with no Spark imports.
"""

from __future__ import annotations

import sys
from dataclasses import dataclass, field
from typing import Any, Dict, Iterator, List, Tuple

from jema_js_spark.kernel import formats as _formats
from jema_js_spark.kernel.jstypes import (
    _TYPE_DISPATCH,
    deep_equal,
    get_type,
    is_js_integer,
    js_multiple_of,
    js_to_string,
    unique_value_ignore_key_order,
)
from jema_js_spark.kernel.regex_js import js_regex_search
from jema_js_spark.schema.frontend import RefResolutionError, Schema

__all__ = ["Validator", "ValidationError", "DepthLimitExceeded",
           "validate", "iter_errors"]

_Scope = Tuple[Schema, ...]

# Evaluation recursion is ~4 Python frames per nesting level; this limit
# admits documents ~5000 levels deep (measured threshold ~4900-5100 on a
# self-recursive additionalProperties schema) — far beyond real web-page
# JSON — while still failing *cleanly* on adversarial inputs instead of
# unwinding a 20k-frame traceback inside a Spark task.
_RECURSION_LIMIT = 20000


class DepthLimitExceeded(RecursionError):
    """Document/schema nesting exceeded the kernel's evaluation depth —
    raised instead of a raw RecursionError so batch executors (pandas
    UDFs) can catch and report it as a per-row verdict."""


@dataclass
class ValidationError:
    """Columnar-ready mirror of the reference's error object
    (schema.js:665-674)."""

    message: str
    value: Any
    schema_value: Any
    schema_stack: List[Any] = field(default_factory=list)
    data_stack: List[Any] = field(default_factory=list)


# pre-built error for boolean-mode probes: validate() yields errors
# only to discard them, so one shared empty instance stands in for the
# fully-formatted reference error object (see Validator._boolean_mode)
_SENTINEL_ERROR = ValidationError(message="", value=None, schema_value=None)


def _safe_pop(stack: list) -> None:
    # JS Array.pop on empty returns undefined; mirror (the reference's
    # ``not``/``if`` handlers pop frames they did not push —
    # schema.js:411,420 — which can hit an empty stack)
    if stack:
        stack.pop()


class Validator:
    """One evaluation context — owns the schema/data stacks, the
    evaluated-set table, and the ``not``-suppression flag that the
    reference keeps as module globals (schema.js:7-10,182-183)."""

    def __init__(self, schema, format_assertion: bool = False) -> None:
        if not isinstance(schema, Schema):
            schema = Schema(schema)
        self.root = schema
        self.format_assertion = format_assertion
        self.schema_stack: List[Any] = []
        self.data_stack: List[Any] = []
        # id(value) → set of evaluated keys/indices; the WeakMap analog
        # (schema.js:182).  Values stay alive for the whole call (they
        # are part of the root document), so id() keys are stable.
        self.evaluated: Dict[int, set] = {}
        self.stop_collecting = False  # schema.js:183
        # boolean mode: validate() only ever asks "is there an error",
        # so _error skips message formatting / stack copying (~25% of
        # wall time on failing docs, measured); iter_errors() builds
        # the full reference error objects.  Verdicts are identical —
        # the sentinel is yielded and discarded by the same probes.
        self._boolean_mode = False
        # id(schema node) → precomputed keyword plan.  The reference's
        # compiled form is its deref'd tree (schema.js:109-126); this is
        # the same idea one step further: the vocabulary dispatch for a
        # node never changes, so resolve it once per node instead of on
        # every visit (schema nodes outlive the validator — they're
        # pinned by the registry).
        self._node_plans: Dict[int, tuple] = {}

    def _reset(self) -> None:
        # Fresh per-call state.  Unlike the JS WeakMap (whose keys die
        # with the objects), id()-keyed entries could collide once a
        # prior document's dicts are freed and their addresses reused —
        # a real hazard when one Validator streams a whole Arrow batch.
        self.evaluated = {}
        self.stop_collecting = False

    # -- public API (schema.js:59-73) ------------------------------------
    def validate(self, value: Any) -> bool:
        self._reset()
        self._boolean_mode = True
        old = sys.getrecursionlimit()
        raised = old < _RECURSION_LIMIT
        if raised:
            sys.setrecursionlimit(_RECURSION_LIMIT)
        try:
            return self._fast(value, self.root.schema, (self.root,))
        except RecursionError:
            raise DepthLimitExceeded(
                "document/schema nesting exceeds kernel depth limit") from None
        finally:
            if raised:  # batch loops pre-raise the limit (kernel_udf)
                sys.setrecursionlimit(old)
            # restore: a still-pending iter_errors() generator resumed
            # after this call must keep formatting full errors (review
            # finding: a sticky flag blanked its remaining messages)
            self._boolean_mode = False

    def iter_errors(self, value: Any) -> Iterator[ValidationError]:
        self._reset()
        self._boolean_mode = False
        self.schema_stack = []
        self.data_stack = []
        gen = self._errors(value, self.root.schema, (self.root,))

        def drive():
            while True:
                old = sys.getrecursionlimit()
                try:
                    if old < _RECURSION_LIMIT:
                        sys.setrecursionlimit(_RECURSION_LIMIT)
                    try:
                        err = next(gen)
                    except StopIteration:
                        return
                except RecursionError:
                    raise DepthLimitExceeded(
                        "document/schema nesting exceeds kernel depth limit"
                    ) from None
                finally:
                    sys.setrecursionlimit(old)
                yield err

        return drive()

    # -- helpers ----------------------------------------------------------
    def _probe(self, value: Any, schema: Any, scope: _Scope) -> bool:
        """First-error probe: True iff no errors — the
        ``errors(...).next().done`` idiom (schema.js:60,386,400,410,419).

        Probe errors are discarded by construction, so probes run the
        generator-free boolean evaluator ``_fast`` (round 9): identical
        side effects (evaluated sets, stop_collecting, the quirky
        abandonment residue on the schema/data stacks), no generator
        machinery — the surfaced (non-probe) errors of a surrounding
        ``iter_errors`` still format fully, over the same stack state
        the generator probes left behind."""
        return self._fast(value, schema, scope)

    def _error(self, value: Any, schema_value: Any,
               message: str = "does not match") -> ValidationError:
        # mirror of schemaError (schema.js:665-674); JS typeof null is
        # 'object', so null prints as 'object' too
        if self._boolean_mode:
            return _SENTINEL_ERROR   # content never observed (validate())
        if isinstance(value, list):
            print_value = "array"
        elif isinstance(value, dict) or value is None:
            print_value = "object"
        else:
            print_value = '"' + js_to_string(value) + '"'
        last = self.schema_stack[-1] if self.schema_stack else None
        return ValidationError(
            message=f"{print_value} {message} {js_to_string(last)}:{js_to_string(schema_value)}",
            value=value,
            schema_value=schema_value,
            schema_stack=list(self.schema_stack),
            data_stack=list(self.data_stack),
        )

    def _ref_target(self, node: dict) -> Any:
        return self.root.registry.ref_targets.get(id(node))

    def _node_plan(self, schema: dict) -> tuple:
        """Per-node keyword plan (round 4), shared by the generator and
        fast paths: keyword dispatch (with the fast twin resolved per
        entry — round 9) PLUS the node's resource (the _enter_scope
        lookup) and the presence of unevaluated* keywords — all constant
        per schema node, so the per-visit cost drops to one dict lookup
        (profiled: 19 _enter_scope + 2 `in schema` probes per doc became
        plan reads)."""
        plan = self._node_plans.get(id(schema))
        if plan is None:
            entries = tuple(
                (prop, vocal[0], vocal[1], vocal[2], schema[prop],
                 _FAST_TWINS[vocal[1]] if vocal[2] else vocal[1])
                for prop in schema.keys()
                if (vocal := _VOCABULARY.get(prop)) is not None
                and vocal[1] is not None)
            # pass-skip flags (round 9): an object/array pass over a node
            # with no matching sub-schemas only pushes and pops the data
            # stack (balanced, yields nothing) — skip it outright
            obj_pass = ("properties" in schema
                        or "patternProperties" in schema
                        or "additionalProperties" in schema)
            arr_pass = (isinstance(schema.get("prefixItems"), list)
                        or ("items" in schema
                            and schema.get("items") is not None)
                        or ("contains" in schema
                            and schema.get("contains") is not None))
            # per-vtype pre-split for the fast path: the affects gate
            # (schema.js:199), the unevaluated* keyword name and the
            # object/array pass applicability are all constant per
            # (node, value-type) — resolve them once per node so a
            # visit costs ONE dict lookup instead of a branch ladder
            by_type = {}
            for vt in ("object", "array", "string", "number",
                       "boolean", "null", "not supported"):
                vt_entries = tuple(
                    folded
                    for e in entries
                    if e[1] is None or e[1] == vt
                    if (folded := self._fold_fast_entry(e, vt)) is not None)
                if vt == "object":
                    uneval = "unevaluatedProperties" \
                        if "unevaluatedProperties" in schema else None
                    passes = (obj_pass, False)
                elif vt == "array":
                    uneval = "unevaluatedItems" \
                        if "unevaluatedItems" in schema else None
                    passes = (False, arr_pass)
                else:
                    uneval = None
                    passes = (False, False)
                by_type[vt] = (vt_entries, uneval) + passes
            plan = (entries,
                    self.root.registry.node_resource.get(id(schema)),
                    "unevaluatedProperties" in schema,
                    "unevaluatedItems" in schema,
                    obj_pass, arr_pass, by_type)
            self._node_plans[id(schema)] = plan
        return plan

    def _fold_fast_entry(self, e: tuple, vt: str):
        """Constant-fold one fast-path plan entry for value type ``vt``
        (round 9).  ``e`` = (prop, affects, validator, is_gen,
        keyword_value, fast_twin); returns the (prop, keyword_value,
        fast, oblivious) tuple the fast loop consumes, or ``None`` to
        drop the entry.  Only verdicts that are CONSTANT per (node,
        value-type) fold, and only for keywords in _STACK_OBLIVIOUS
        (success there has zero observable side effects — the push is
        deferred to the failure branch, so dropping an always-true
        entry changes nothing):

        - ``type``: the verdict depends only on the value's type,
          except the integer/number case which reduces to a bare
          ``is_js_integer`` probe (mirror of _v_type, schema.js:424-435)
        - ``format`` with assertion off: the reference's shipped build
          hard-returns true (schema.js:499) — the entry is a no-op

        The generator path (_errors) keeps the unfolded entries, so
        surfaced errors and their stack residue are untouched; parity
        is pinned by test_fast_path_matches_generator_path."""
        prop, _affects, _validator, _is_gen, keyword_value, fast = e
        if prop == "type":
            members = keyword_value if isinstance(keyword_value, list) \
                else [keyword_value]
            if any(isinstance(m, list) for m in members):
                # _v_type recurses into nested member lists: no fold
                return (prop, keyword_value, fast, True)
            if any(m == vt for m in members):
                return None                      # constant true → drop
            if "integer" in members and vt == "number":
                return (prop, keyword_value, _fv_type_integer, True)
            return (prop, keyword_value, _always_false, True)
        if prop == "format" and not self.format_assertion:
            return None                          # hard true (schema.js:499)
        return (prop, keyword_value, fast, prop in _STACK_OBLIVIOUS)

    # -- the evaluation loop (schema.js:185-228) --------------------------
    def _errors(self, value: Any, schema: Any,
                scope: _Scope) -> Iterator[ValidationError]:
        if schema is False:
            yield self._error(value, False, "fails, false-schema at:")
            return
        if schema is True or not isinstance(schema, dict):
            # boolean true schema (schema.js:187); a non-dict schema node
            # has no keywords → vacuously valid
            return

        entries, resource, has_uneval_props, has_uneval_items, \
            obj_pass, arr_pass, _by_type = self._node_plan(schema)

        if resource is not None and (not scope or scope[-1] is not resource):
            scope = scope + (resource,)
        vtype = get_type(value)
        if vtype == "object":
            unevaluated_name = "unevaluatedProperties" if has_uneval_props \
                else None
        elif vtype == "array":
            unevaluated_name = "unevaluatedItems" if has_uneval_items else None
        else:
            unevaluated_name = None

        if unevaluated_name is not None:
            if id(value) not in self.evaluated:
                self.evaluated[id(value)] = set()

        # NOTE: self.schema_stack must be read per operation, not bound
        # to a local — iter_errors() rebinds the stack list, and a
        # paused generator resumed afterwards must see the new list
        # (the interleaving pin in test_kernel_pins.py)
        for prop, affects, validator, is_gen, keyword_value, _fv in entries:
            if affects is not None and affects != vtype:
                continue  # type-gated: vacuously valid (schema.js:199)
            self.schema_stack.append(prop)
            if is_gen:
                yield from validator(self, keyword_value, value, schema, scope)
            else:
                if not validator(self, keyword_value, value, schema, scope):
                    yield self._error(value, keyword_value)
            if self.schema_stack:  # inlined _safe_pop (hot path)
                self.schema_stack.pop()

        if vtype == "object":
            if obj_pass:
                yield from self._object_pass(schema, value, scope)
        elif vtype == "array":
            if arr_pass:
                yield from self._array_pass(schema, value, scope)

        if unevaluated_name is not None and unevaluated_name in schema:
            evaluated = self.evaluated.get(id(value))
            if evaluated is not None:
                keys = list(value.keys()) if vtype == "object" else range(len(value))
                for key in keys:
                    if key in evaluated:
                        continue
                    yield from self._errors(value[key], schema[unevaluated_name], scope)
                self.evaluated.pop(id(value), None)

    # -- fused object pass (schema.js:231-288) ----------------------------
    def _object_pass(self, schema: dict, value: dict,
                     scope: _Scope) -> Iterator[ValidationError]:
        cached = self._node_plans.get(("obj", id(schema)))
        if cached is None:
            cached = (
                schema.get("properties"),
                (list(schema["patternProperties"].items())
                 if isinstance(schema.get("patternProperties"), dict) else None),
                (schema.get("additionalProperties")
                 if "additionalProperties" in schema else None),
            )
            self._node_plans[("obj", id(schema))] = cached
        properties, pattern_properties, additional_properties = cached

        for prop, item in list(value.items()):
            self.data_stack.append(prop)
            additional = True

            prop_schema = properties.get(prop) if isinstance(properties, dict) else None
            if prop_schema is not None:
                self.schema_stack.append("properties")
                self.schema_stack.append(prop)
                yield from self._errors(item, prop_schema, scope)
                _safe_pop(self.schema_stack)
                _safe_pop(self.schema_stack)
                additional = False

            if pattern_properties:
                self.schema_stack.append("patternProperties")
                self.schema_stack.append(prop)
                for pattern, sub in pattern_properties:
                    if js_regex_search(pattern, prop):
                        yield from self._errors(item, sub, scope)
                        additional = False
                _safe_pop(self.schema_stack)
                _safe_pop(self.schema_stack)

            if additional_properties is not None and additional:
                self.schema_stack.append("additionalProperties")
                yield from self._errors(item, additional_properties, scope)
                _safe_pop(self.schema_stack)
                additional = False

            if not additional and not self.stop_collecting:
                ev = self.evaluated.get(id(value))
                if ev is not None:
                    ev.add(prop)

            if self.data_stack:  # inlined _safe_pop (hot path)
                self.data_stack.pop()

    # -- fused array pass (schema.js:289-338) -----------------------------
    def _array_pass(self, schema: dict, value: list,
                    scope: _Scope) -> Iterator[ValidationError]:
        num_contains = 0
        prefix_items = schema.get("prefixItems")
        has_items = "items" in schema and schema.get("items") is not None
        items = schema.get("items")
        has_contains = "contains" in schema and schema.get("contains") is not None
        contains = schema.get("contains")

        for i, item in enumerate(value):
            self.data_stack.append(i)
            additional = True

            prefix = (
                prefix_items[i]
                if isinstance(prefix_items, list) and i < len(prefix_items)
                and prefix_items[i] is not None
                else None
            )
            if prefix is not None:
                yield from self._errors(item, prefix, scope)
                additional = False
            elif has_items:
                for error in self._errors(item, items, scope):
                    # "if items fail, all items are unevaluated" quirk
                    # (schema.js:306)
                    ev = self.evaluated.get(id(value))
                    if ev is not None:
                        ev.clear()
                    yield error
                additional = False

            if has_contains:
                if self._probe(item, contains, scope):
                    num_contains += 1
                    additional = False

            if not additional and not self.stop_collecting:
                ev = self.evaluated.get(id(value))
                if ev is not None:
                    ev.add(i)

            if self.data_stack:  # inlined _safe_pop (hot path)
                self.data_stack.pop()

        if has_contains:
            min_contains = schema.get("minContains", 1)
            max_contains = schema.get("maxContains")
            if num_contains < min_contains:
                yield self._error(
                    value, min_contains,
                    'Array contains too few items that match "contains"')
            if max_contains is not None and num_contains > max_contains:
                yield self._error(
                    value, max_contains,
                    'Array contains too many items that match "contains"')

    # -- generator-free boolean evaluation (round 9) ----------------------
    # ``validate()`` and every probe only ever ask "is there an error":
    # the generator machinery (one generator object per schema node
    # visited, created and torn down ~20× per typical document) was
    # ~35% of kernel wall time under cProfile.  ``_fast`` is a 1:1
    # control-flow mirror of ``_errors`` where the FIRST error point
    # returns False — exactly where a boolean consumer abandons the
    # generator chain — with IDENTICAL side effects along the way:
    # evaluated-set updates, stop_collecting, scope threading, and the
    # schema/data stack pushes/pops *including the abandonment residue*
    # (a failed generator probe leaves its path-to-first-error frames
    # un-popped, which the reference's quirky pops in not/if depend on —
    # schema.js:411,420 — and which surfaced iter_errors() messages
    # observe).  Verdict parity with the generator path is pinned by
    # the conformance suite, the differential batteries, and
    # tests/test_kernel_pins.py::test_fast_path_matches_generator_path.
    def _fast(self, value: Any, schema: Any, scope: _Scope) -> bool:
        if schema is False:
            return False
        if not isinstance(schema, dict):
            # boolean true schema (schema.js:187) or a non-dict node with
            # no keywords → vacuously valid
            return True

        plan = self._node_plans.get(id(schema))
        if plan is None:
            plan = self._node_plan(schema)
        resource = plan[1]

        if resource is not None and (not scope or scope[-1] is not resource):
            scope = scope + (resource,)
        vtype = _TYPE_DISPATCH.get(value.__class__) or get_type(value)
        entries_t, unevaluated_name, obj_pass, arr_pass = plan[6][vtype]

        if unevaluated_name is not None:
            vid = id(value)
            if vid not in self.evaluated:
                self.evaluated[vid] = set()

        stack = self.schema_stack
        for prop, keyword_value, fast, oblivious in entries_t:
            if oblivious:
                # the validator neither reads the stacks nor recurses,
                # so the push/pop pair is observable only through the
                # abandonment residue — push lazily, on failure only
                if not fast(self, keyword_value, value, schema, scope):
                    stack.append(prop)
                    return False
                continue
            stack.append(prop)
            if not fast(self, keyword_value, value, schema, scope):
                return False  # first error: frame stays pushed (abandonment)
            if stack:  # inlined _safe_pop (hot path)
                stack.pop()

        if obj_pass:
            if not self._object_fast(schema, value, scope):
                return False
        elif arr_pass:
            if not self._array_fast(schema, value, scope):
                return False

        if unevaluated_name is not None:
            evaluated = self.evaluated.get(vid)
            if evaluated is not None:
                keys = value.keys() if vtype == "object" else range(len(value))
                sub = schema[unevaluated_name]
                for key in keys:
                    if key in evaluated:
                        continue
                    if not self._fast(value[key], sub, scope):
                        return False
                self.evaluated.pop(vid, None)
        return True

    def _object_fast(self, schema: dict, value: dict, scope: _Scope) -> bool:
        """Boolean mirror of :meth:`_object_pass` (first error → False,
        identical stack/evaluated-set side effects)."""
        cached = self._node_plans.get(("obj", id(schema)))
        if cached is None:
            cached = (
                schema.get("properties"),
                (list(schema["patternProperties"].items())
                 if isinstance(schema.get("patternProperties"), dict) else None),
                (schema.get("additionalProperties")
                 if "additionalProperties" in schema else None),
            )
            self._node_plans[("obj", id(schema))] = cached
        properties, pattern_properties, additional_properties = cached
        has_props = isinstance(properties, dict)
        sstack = self.schema_stack
        dstack = self.data_stack
        # the evaluated-set binding for `value` cannot change while this
        # pass runs (only code evaluating `value` itself creates/pops it,
        # and the pass recurses on item values only) — fetch once
        ev = self.evaluated.get(id(value))

        for prop, item in value.items():
            dstack.append(prop)
            additional = True

            prop_schema = properties.get(prop) if has_props else None
            if prop_schema is not None:
                sstack.append("properties")
                sstack.append(prop)
                if not self._fast(item, prop_schema, scope):
                    return False
                if sstack:  # inlined _safe_pop (hot path)
                    sstack.pop()
                if sstack:
                    sstack.pop()
                additional = False

            if pattern_properties:
                sstack.append("patternProperties")
                sstack.append(prop)
                for pattern, sub in pattern_properties:
                    if js_regex_search(pattern, prop):
                        if not self._fast(item, sub, scope):
                            return False
                        additional = False
                if sstack:  # inlined _safe_pop (hot path)
                    sstack.pop()
                if sstack:
                    sstack.pop()

            if additional_properties is not None and additional:
                sstack.append("additionalProperties")
                if not self._fast(item, additional_properties, scope):
                    return False
                if sstack:  # inlined _safe_pop (hot path)
                    sstack.pop()
                additional = False

            if not additional and ev is not None \
                    and not self.stop_collecting:
                ev.add(prop)

            if dstack:  # inlined _safe_pop (hot path)
                dstack.pop()
        return True

    def _array_fast(self, schema: dict, value: list, scope: _Scope) -> bool:
        """Boolean mirror of :meth:`_array_pass` (first error → False,
        incl. the items-failure evaluated-set clear quirk, which in the
        generator runs *before* the error is yielded — schema.js:306)."""
        cached = self._node_plans.get(("arr", id(schema)))
        if cached is None:
            cached = (
                schema.get("prefixItems"),
                "items" in schema and schema.get("items") is not None,
                schema.get("items"),
                "contains" in schema and schema.get("contains") is not None,
                schema.get("contains"),
                schema.get("minContains", 1),
                schema.get("maxContains"),
            )
            self._node_plans[("arr", id(schema))] = cached
        (prefix_items, has_items, items, has_contains, contains,
         min_contains, max_contains) = cached
        num_contains = 0
        dstack = self.data_stack
        n_prefix = len(prefix_items) if isinstance(prefix_items, list) else 0
        # stable for the whole pass — same argument as _object_fast
        ev = self.evaluated.get(id(value))

        for i, item in enumerate(value):
            dstack.append(i)
            additional = True

            prefix = (
                prefix_items[i]
                if i < n_prefix and prefix_items[i] is not None
                else None
            )
            if prefix is not None:
                if not self._fast(item, prefix, scope):
                    return False
                additional = False
            elif has_items:
                if not self._fast(item, items, scope):
                    # "if items fail, all items are unevaluated" quirk
                    # (schema.js:306) — the clear precedes the error
                    if ev is not None:
                        ev.clear()
                    return False
                additional = False

            if has_contains:
                if self._fast(item, contains, scope):
                    num_contains += 1
                    additional = False

            if not additional and ev is not None \
                    and not self.stop_collecting:
                ev.add(i)

            if dstack:  # inlined _safe_pop (hot path)
                dstack.pop()

        if has_contains:
            if num_contains < min_contains:
                return False
            if max_contains is not None and num_contains > max_contains:
                return False
        return True


# ---------------------------------------------------------------------------
# Vocabulary (schema.js:342-663).  Each entry: (affects, validator, is_gen).
# Boolean validators return truthy/falsy; generator validators yield errors.
# ---------------------------------------------------------------------------

def _v_ref(v: Validator, url: str, value: Any, schema: dict, scope: _Scope):
    target = v._ref_target(schema)
    if target is None:
        # mirror of the reference's missing-ref failure: console.error then
        # a crash on the undefined schema (pinned by tests.html:583-595)
        raise RefResolutionError(f"$ref-schema not found: {url}")
    yield from v._errors(value, target, scope)


def _v_dynamic_ref(v: Validator, url: str, value: Any, schema: dict, scope: _Scope):
    target = v._ref_target(schema)
    frag = url.split("#", 1)[1] if "#" in url else ""
    name = frag if frag and "/" not in frag else None
    if (
        name is not None
        and isinstance(target, dict)
        and target.get("$dynamicAnchor") == name
    ):
        # bookended: hunt the OUTERMOST in-scope resource carrying the
        # $dynamicAnchor (spec §8.2.3.2; improvement over schema.js:355-362)
        for res in scope:
            cand = res.dyn_anchors.get(name)
            if cand is not None:
                target = cand
                break
    if target is None:
        raise RefResolutionError(f"$dynamicRef-schema not found: {url}")
    yield from v._errors(value, target, scope)


def _v_all_of(v: Validator, all_of: list, value: Any, schema: dict, scope: _Scope):
    for i, sub in enumerate(all_of):
        v.schema_stack.append(i)
        yield from v._errors(value, sub, scope)
        _safe_pop(v.schema_stack)


def _v_any_of(v: Validator, any_of: list, value: Any, schema: dict,
              scope: _Scope) -> bool:
    # short-circuits on first pass unless collecting annotations for
    # unevaluated* (schema.js:381-395)
    collecting = id(value) in v.evaluated
    any_ok = False
    for sub in any_of:
        if v._fast(value, sub, scope):
            if not collecting:
                return True
            any_ok = True
    return any_ok


def _v_one_of(v: Validator, one_of: list, value: Any, schema: dict,
              scope: _Scope) -> bool:
    passed = 0
    for sub in one_of:
        passed += 1 if v._fast(value, sub, scope) else 0
        if passed > 1:
            return False
    return passed == 1


def _v_not(v: Validator, sub: Any, value: Any, schema: dict, scope: _Scope) -> bool:
    v.stop_collecting = True
    ok = v._fast(value, sub, scope)
    stack = v.schema_stack
    if stack:  # quirky extra pop, mirror of schema.js:411 (inlined _safe_pop)
        stack.pop()
    v.stop_collecting = False  # plain reset, not restore (schema.js:412)
    return not ok


def _v_if(v: Validator, if_schema: Any, value: Any, schema: dict, scope: _Scope):
    ok = v._probe(value, if_schema, scope)
    _safe_pop(v.schema_stack)  # mirror of schema.js:420
    if ok:
        v.schema_stack.append("then")
        if "then" in schema and schema["then"] is not None:
            yield from v._errors(value, schema["then"], scope)
    else:
        v.schema_stack.append("else")
        if "else" in schema and schema["else"] is not None:
            yield from v._errors(value, schema["else"], scope)
    _safe_pop(v.schema_stack)


def _v_type(v: Validator, type_: Any, value: Any, schema: dict, scope: _Scope) -> bool:
    if isinstance(type_, list):
        return any(_v_type(v, t, value, schema, scope) for t in type_)
    vtype = _TYPE_DISPATCH.get(value.__class__) or get_type(value)
    if vtype == type_:
        return True
    if type_ == "integer" and vtype == "number" and is_js_integer(value):
        return True
    return False


def _v_enum(v: Validator, allowed: list, value: Any, schema: dict,
            scope: _Scope) -> bool:
    return any(deep_equal(a, value) for a in allowed)


def _v_const(v: Validator, constant: Any, value: Any, schema: dict,
             scope: _Scope) -> bool:
    return deep_equal(constant, value)


def _v_format(v: Validator, fmt: str, value: Any, schema: dict,
              scope: _Scope) -> bool:
    # shipped reference: annotation-only, hard `return true` (schema.js:499);
    # assertion mode (the dead-code branch, schema.js:500-523) is opt-in
    if not v.format_assertion:
        return True
    return _formats.check_format(fmt, value)


def _v_unique_items(v: Validator, unique: Any, value: list, schema: dict,
                    scope: _Scope) -> bool:
    if not unique:
        return True
    seen = set()
    for item in value:
        key = unique_value_ignore_key_order(item)
        if key in seen:
            return False
        seen.add(key)
    return True


def _v_required(v: Validator, required: list, value: dict, schema: dict,
                scope: _Scope):
    for i, prop in enumerate(required):
        if prop not in value:
            v.schema_stack.append(i)
            yield v._error(value, prop, "missing required property")
            _safe_pop(v.schema_stack)


def _v_dependent_required(v: Validator, deps: dict, value: dict, schema: dict,
                          scope: _Scope) -> bool:
    for prop, required in deps.items():
        if prop in value:
            for req in required:
                if req not in value:
                    return False
    return True


def _v_dependent_schemas(v: Validator, deps: dict, value: dict, schema: dict,
                         scope: _Scope):
    for prop, sub in deps.items():
        if prop in value:
            yield from v._errors(value, sub, scope)


def _v_dependencies(v: Validator, deps: dict, value: Any, schema: dict,
                    scope: _Scope):
    # draft-4 legacy shim (schema.js:626-642) — no affects gate in the
    # reference either, but Object.hasOwn on non-objects is false
    if not isinstance(value, dict):
        return
    for prop, dep in deps.items():
        if prop in value:
            if isinstance(dep, list):
                for req in dep:
                    if req not in value:
                        yield v._error(value, req, "missing required property")
            else:
                yield from v._errors(value, dep, scope)


def _v_property_names(v: Validator, sub: Any, value: dict, schema: dict,
                      scope: _Scope):
    for prop in list(value.keys()):
        yield from v._errors(prop, sub, scope)


# ---------------------------------------------------------------------------
# Fast (generator-free) twins of the generator validators — used by the
# boolean evaluator ``Validator._fast`` (round 9).  Each is the 1:1
# first-error-returns-False mirror of its generator twin above, with
# identical stack side effects including abandonment residue.
# ---------------------------------------------------------------------------

def _fv_type_integer(v: Validator, t: Any, value: Any, schema: dict,
                     scope: _Scope) -> bool:
    # plan-time residue of a ``type`` check containing "integer" visited
    # with a number: the only data-dependent branch of _v_type
    return is_js_integer(value)


def _always_false(v: Validator, t: Any, value: Any, schema: dict,
                  scope: _Scope) -> bool:
    # plan-time constant-false ``type`` check (wrong value type): the
    # entry stays in the plan so the failure push/abandonment residue
    # lands at the same position as the unfolded validator's
    return False


def _fv_ref(v: Validator, url: str, value: Any, schema: dict,
            scope: _Scope) -> bool:
    target = v._ref_target(schema)
    if target is None:
        raise RefResolutionError(f"$ref-schema not found: {url}")
    return v._fast(value, target, scope)


def _fv_dynamic_ref(v: Validator, url: str, value: Any, schema: dict,
                    scope: _Scope) -> bool:
    target = v._ref_target(schema)
    frag = url.split("#", 1)[1] if "#" in url else ""
    name = frag if frag and "/" not in frag else None
    if (
        name is not None
        and isinstance(target, dict)
        and target.get("$dynamicAnchor") == name
    ):
        for res in scope:
            cand = res.dyn_anchors.get(name)
            if cand is not None:
                target = cand
                break
    if target is None:
        raise RefResolutionError(f"$dynamicRef-schema not found: {url}")
    return v._fast(value, target, scope)


def _fv_all_of(v: Validator, all_of: list, value: Any, schema: dict,
               scope: _Scope) -> bool:
    stack = v.schema_stack
    for i, sub in enumerate(all_of):
        stack.append(i)
        if not v._fast(value, sub, scope):
            return False  # abandonment: frame stays pushed
        if stack:  # inlined _safe_pop (hot path)
            stack.pop()
    return True


def _fv_if(v: Validator, if_schema: Any, value: Any, schema: dict,
           scope: _Scope) -> bool:
    ok = v._fast(value, if_schema, scope)
    stack = v.schema_stack
    if stack:  # mirror of schema.js:420 (inlined _safe_pop)
        stack.pop()
    if ok:
        stack.append("then")
        if "then" in schema and schema["then"] is not None:
            if not v._fast(value, schema["then"], scope):
                return False
    else:
        stack.append("else")
        if "else" in schema and schema["else"] is not None:
            if not v._fast(value, schema["else"], scope):
                return False
    if stack:  # inlined _safe_pop (hot path)
        stack.pop()
    return True


def _fv_required(v: Validator, required: list, value: dict, schema: dict,
                 scope: _Scope) -> bool:
    for i, prop in enumerate(required):
        if prop not in value:
            # generator: push i, yield, pop — a boolean consumer stops
            # at the yield, so the frame stays pushed
            v.schema_stack.append(i)
            return False
    return True


def _fv_dependent_schemas(v: Validator, deps: dict, value: dict, schema: dict,
                          scope: _Scope) -> bool:
    for prop, sub in deps.items():
        if prop in value:
            if not v._fast(value, sub, scope):
                return False
    return True


def _fv_dependencies(v: Validator, deps: dict, value: Any, schema: dict,
                     scope: _Scope) -> bool:
    if not isinstance(value, dict):
        return True
    for prop, dep in deps.items():
        if prop in value:
            if isinstance(dep, list):
                for req in dep:
                    if req not in value:
                        return False
            else:
                if not v._fast(value, dep, scope):
                    return False
    return True


def _fv_property_names(v: Validator, sub: Any, value: dict, schema: dict,
                       scope: _Scope) -> bool:
    for prop in value.keys():
        if not v._fast(prop, sub, scope):
            return False
    return True


# (affects, validator, is_generator) — registration mirror of the
# vocabulary table (schema.js:342-663).  Keywords with no validator are
# traversal-only (subSchema markers live in schema/frontend.py).
_VOCABULARY: Dict[str, tuple] = {
    "$schema": (None, None, False),
    "$vocabulary": (None, None, False),
    "$id": (None, None, False),
    "$anchor": (None, None, False),
    "$dynamicAnchor": (None, None, False),
    "$defs": (None, None, False),
    "$ref": (None, _v_ref, True),
    "$dynamicRef": (None, _v_dynamic_ref, True),
    "allOf": (None, _v_all_of, True),
    "anyOf": (None, _v_any_of, False),
    "oneOf": (None, _v_one_of, False),
    "not": (None, _v_not, False),
    "if": (None, _v_if, True),
    "then": (None, None, False),
    "else": (None, None, False),
    "type": (None, _v_type, False),
    "enum": (None, _v_enum, False),
    "const": (None, _v_const, False),
    "multipleOf": ("number", lambda v, m, val, s, sc: js_multiple_of(val, m), False),
    "maximum": ("number", lambda v, m, val, s, sc: val <= m, False),
    "exclusiveMaximum": ("number", lambda v, m, val, s, sc: val < m, False),
    "minimum": ("number", lambda v, m, val, s, sc: val >= m, False),
    "exclusiveMinimum": ("number", lambda v, m, val, s, sc: val > m, False),
    "maxLength": ("string", lambda v, m, val, s, sc: len(val) <= m, False),
    "minLength": ("string", lambda v, m, val, s, sc: len(val) >= m, False),
    "pattern": ("string", lambda v, p, val, s, sc: js_regex_search(p, val), False),
    "format": ("string", _v_format, False),
    "maxItems": ("array", lambda v, m, val, s, sc: len(val) <= m, False),
    "minItems": ("array", lambda v, m, val, s, sc: len(val) >= m, False),
    "uniqueItems": ("array", _v_unique_items, False),
    "items": (None, None, False),
    "additionalItems": (None, None, False),
    "contains": (None, None, False),
    "prefixItems": (None, None, False),
    "unevaluatedItems": (None, None, False),
    "properties": (None, None, False),
    "additionalProperties": (None, None, False),
    "unevaluatedProperties": (None, None, False),
    "patternProperties": (None, None, False),
    "maxProperties": ("object", lambda v, m, val, s, sc: len(val) <= m, False),
    "minProperties": ("object", lambda v, m, val, s, sc: len(val) >= m, False),
    "required": ("object", _v_required, True),
    "dependentRequired": ("object", _v_dependent_required, False),
    "dependentSchemas": ("object", _v_dependent_schemas, True),
    "dependencies": (None, _v_dependencies, True),
    "propertyNames": ("object", _v_property_names, True),
}

# Boolean keywords whose validators neither read the schema/data
# stacks nor recurse into sub-schemas (no probes, no _fast/_errors
# calls): for these the fast path defers the schema-stack push to the
# failure branch — the push/pop pair is observable only through the
# abandonment residue, which is preserved exactly.  anyOf/oneOf/not
# are NOT here (their probes run nested evaluations that mutate and
# observe the stacks).
_STACK_OBLIVIOUS = frozenset({
    "type", "enum", "const", "multipleOf",
    "maximum", "exclusiveMaximum", "minimum", "exclusiveMinimum",
    "maxLength", "minLength", "pattern", "format",
    "maxItems", "minItems", "uniqueItems",
    "maxProperties", "minProperties", "dependentRequired",
})

# generator validator → its boolean fast twin (round 9); resolved once
# per node into the node plan by Validator._node_plan
_FAST_TWINS: Dict[Any, Any] = {
    _v_ref: _fv_ref,
    _v_dynamic_ref: _fv_dynamic_ref,
    _v_all_of: _fv_all_of,
    _v_if: _fv_if,
    _v_required: _fv_required,
    _v_dependent_schemas: _fv_dependent_schemas,
    _v_dependencies: _fv_dependencies,
    _v_property_names: _fv_property_names,
}


# -- module-level conveniences ------------------------------------------------

def validate(schema, value: Any, format_assertion: bool = False) -> bool:
    """One-shot validate — compiles ``schema`` if it is a raw dict."""
    return Validator(schema, format_assertion=format_assertion).validate(value)


def iter_errors(schema, value: Any, format_assertion: bool = False):
    return Validator(schema, format_assertion=format_assertion).iter_errors(value)
