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
an immutable tuple through evaluation, so abandoned evaluations (the
first-error probes) can never corrupt it.

One evaluator body (``Validator._eval`` with its object/array passes)
serves both consumers; ``Validator._sink`` selects the mode:

- ``None`` (boolean mode, ``validate`` and every probe): the first
  failure point returns False where the reference's consumer abandons
  its generator, leaving the frames pushed so far on the schema/data
  stacks — the abandonment residue the quirky pops in ``not``/``if``
  read (schema.js:411,420);
- a list (collect mode, ``iter_errors``): each failure point appends
  the formatted error and evaluation carries on, popping frames as an
  exhausted generator would — the reference's full error sequence.

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
        # error sink: None = boolean mode (first failure returns False),
        # a list = collect mode (iter_errors); see the module docstring
        self._sink: List[ValidationError] | None = None
        # id(schema node) → precomputed keyword plan.  The reference's
        # compiled form is its deref'd tree (schema.js:109-126); this is
        # the same idea one step further: the vocabulary dispatch for a
        # node never changes, so resolve it once per node instead of on
        # every visit (schema nodes outlive the validator — they're
        # pinned by the registry).
        self._node_plans: Dict[int, tuple] = {}

    def _run(self, value: Any) -> bool:
        """One evaluation of ``value`` from the root in the current sink
        mode, on fresh per-call state.  Unlike the JS WeakMap (whose
        keys die with the objects), id()-keyed evaluated sets could
        collide once a prior document's dicts are freed and their
        addresses reused — a real hazard when one Validator streams a
        whole Arrow batch.  The stacks start empty too: a failing call
        leaves its abandonment residue behind, and a Validator cached
        for a worker's lifetime would otherwise grow them without
        bound."""
        self.evaluated = {}
        self.stop_collecting = False
        if self.schema_stack:
            self.schema_stack.clear()
        if self.data_stack:
            self.data_stack.clear()
        old = sys.getrecursionlimit()
        raised = old < _RECURSION_LIMIT
        if raised:
            sys.setrecursionlimit(_RECURSION_LIMIT)
        try:
            return self._eval(value, self.root.schema, (self.root,))
        except RecursionError:
            raise DepthLimitExceeded(
                "document/schema nesting exceeds kernel depth limit") from None
        finally:
            if raised:  # batch loops pre-raise the limit (kernel_udf)
                sys.setrecursionlimit(old)

    # -- public API (schema.js:59-73) ------------------------------------
    def validate(self, value: Any) -> bool:
        return self._run(value)

    def iter_errors(self, value: Any) -> Iterator[ValidationError]:
        """The reference's full error sequence, in order.  The run
        happens at the first ``next()``, in collect mode; if it raised,
        the errors found before the raise are yielded first and the
        exception is re-raised after them."""
        def drive():
            errors: List[ValidationError] = []
            failure = None
            self._sink = errors
            try:
                self._run(value)
            except Exception as exc:
                failure = exc
            finally:
                self._sink = None
            yield from errors
            if failure is not None:
                raise failure

        return drive()

    # -- helpers ----------------------------------------------------------
    def _error(self, value: Any, schema_value: Any,
               message: str = "does not match") -> ValidationError:
        # mirror of schemaError (schema.js:665-674); JS typeof null is
        # 'object', so null prints as 'object' too
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
        """Per-node plan (round 4): ``(resource, by_type)`` — the node's
        resource (the _enter_scope lookup) and, per value type, the
        keyword entries, the unevaluated* keyword name and the
        object/array pass flags.  All are constant per schema node, so
        a visit costs one dict lookup instead of a vocabulary dispatch
        and a branch ladder."""
        plan = self._node_plans.get(id(schema))
        if plan is None:
            entries = tuple(
                (prop, vocal[0], vocal[1], schema[prop])
                for prop in schema.keys()
                if (vocal := _VOCABULARY.get(prop)) is not None
                and vocal[1] is not None)
            # pass-skip flags (round 9): an object/array pass over a node
            # with no matching sub-schemas only pushes and pops the data
            # stack (balanced, records nothing) — skip it outright
            obj_pass = ("properties" in schema
                        or "patternProperties" in schema
                        or "additionalProperties" in schema)
            arr_pass = (isinstance(schema.get("prefixItems"), list)
                        or ("items" in schema
                            and schema.get("items") is not None)
                        or ("contains" in schema
                            and schema.get("contains") is not None))
            # per-vtype pre-split: the affects gate (schema.js:199) drops
            # the entries whose keyword does not apply to the value type
            by_type = {}
            for vt in ("object", "array", "string", "number",
                       "boolean", "null", "not supported"):
                vt_entries = tuple(
                    folded
                    for e in entries
                    if e[1] is None or e[1] == vt
                    if (folded := self._fold_entry(e, vt)) is not None)
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
            plan = (self.root.registry.node_resource.get(id(schema)), by_type)
            self._node_plans[id(schema)] = plan
        return plan

    def _fold_entry(self, e: tuple, vt: str):
        """Constant-fold one plan entry for value type ``vt`` (round 9).
        ``e`` = (prop, affects, validator, keyword_value); returns the
        (prop, keyword_value, validator, oblivious) tuple the evaluation
        loop consumes, or ``None`` to drop the entry.  Only verdicts
        that are CONSTANT per (node, value-type) fold, and only for
        keywords in _STACK_OBLIVIOUS (success there has zero observable
        side effects — the push is deferred to the failure branch, so
        dropping an always-true entry changes nothing, and a folded
        failure records the same error at the same stack position):

        - ``type``: the verdict depends only on the value's type,
          except the integer/number case which reduces to a bare
          ``is_js_integer`` probe (mirror of _v_type, schema.js:424-435)
        - ``format`` with assertion off: the reference's shipped build
          hard-returns true (schema.js:499) — the entry is a no-op"""
        prop, _affects, validator, keyword_value = e
        if prop == "type":
            members = keyword_value if isinstance(keyword_value, list) \
                else [keyword_value]
            if any(isinstance(m, list) for m in members):
                # _v_type recurses into nested member lists: no fold
                return (prop, keyword_value, validator, True)
            if any(m == vt for m in members):
                return None                      # constant true → drop
            if "integer" in members and vt == "number":
                return (prop, keyword_value, _type_integer, True)
            return (prop, keyword_value, _always_false, True)
        if prop == "format" and not self.format_assertion:
            return None                          # hard true (schema.js:499)
        return (prop, keyword_value, validator, prop in _STACK_OBLIVIOUS)

    # -- the evaluation loop (schema.js:185-228) --------------------------
    # Every failure point tests ``self._sink`` on its failure branch
    # only, so the boolean hot loop does no extra work.  In collect mode
    # the return values of _eval, the passes and the self-recording
    # validators carry no meaning: the errors are in the sink.
    #
    # A probe — the ``errors(...).next().done`` idiom of anyOf, oneOf,
    # not, the if test and contains (schema.js:60,316,386,400,410,419) —
    # runs in boolean mode whatever the caller's mode: it sets the sink
    # to None around its sub-evaluation and restores it afterwards.  Its
    # errors are discarded by construction, and the abandonment residue
    # a failed probe leaves is what the reference's quirky pops read.
    def _eval(self, value: Any, schema: Any, scope: _Scope) -> bool:
        if schema is False:
            if self._sink is not None:
                self._sink.append(
                    self._error(value, False, "fails, false-schema at:"))
            return False
        if not isinstance(schema, dict):
            # boolean true schema (schema.js:187) or a non-dict node with
            # no keywords → vacuously valid
            return True

        plan = self._node_plans.get(id(schema))
        if plan is None:
            plan = self._node_plan(schema)
        resource, by_type = plan

        if resource is not None and (not scope or scope[-1] is not resource):
            scope = scope + (resource,)
        vtype = _TYPE_DISPATCH.get(value.__class__) or get_type(value)
        entries, unevaluated_name, obj_pass, arr_pass = by_type[vtype]

        if unevaluated_name is not None:
            vid = id(value)
            if vid not in self.evaluated:
                self.evaluated[vid] = set()

        stack = self.schema_stack
        for prop, keyword_value, validator, oblivious in entries:
            if oblivious:
                # the validator neither reads the stacks nor recurses,
                # so the push/pop pair is observable only on failure —
                # push lazily, on the failure branch only
                if not validator(self, keyword_value, value, schema, scope):
                    stack.append(prop)
                    if self._sink is None:
                        return False  # abandonment: frame stays pushed
                    self._sink.append(self._error(value, keyword_value))
                    stack.pop()
                continue
            stack.append(prop)
            if not validator(self, keyword_value, value, schema, scope):
                if self._sink is None:
                    return False  # abandonment: frame stays pushed
                if validator not in _SELF_RECORDING:
                    self._sink.append(self._error(value, keyword_value))
            if stack:  # inlined _safe_pop (hot path)
                stack.pop()

        if obj_pass:
            if not self._object_pass(schema, value, scope) \
                    and self._sink is None:
                return False
        elif arr_pass:
            if not self._array_pass(schema, value, scope) \
                    and self._sink is None:
                return False

        if unevaluated_name is not None:
            evaluated = self.evaluated.get(vid)
            if evaluated is not None:
                keys = value.keys() if vtype == "object" else range(len(value))
                sub = schema[unevaluated_name]
                for key in keys:
                    if key in evaluated:
                        continue
                    if not self._eval(value[key], sub, scope) \
                            and self._sink is None:
                        return False
                self.evaluated.pop(vid, None)
        return True

    # -- fused object pass (schema.js:231-288) ----------------------------
    def _object_pass(self, schema: dict, value: dict, scope: _Scope) -> bool:
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
                if not self._eval(item, prop_schema, scope) \
                        and self._sink is None:
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
                        if not self._eval(item, sub, scope) \
                                and self._sink is None:
                            return False
                        additional = False
                if sstack:  # inlined _safe_pop (hot path)
                    sstack.pop()
                if sstack:
                    sstack.pop()

            if additional_properties is not None and additional:
                sstack.append("additionalProperties")
                if not self._eval(item, additional_properties, scope) \
                        and self._sink is None:
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

    # -- fused array pass (schema.js:289-338) -----------------------------
    def _array_pass(self, schema: dict, value: list, scope: _Scope) -> bool:
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
        sink = self._sink
        n_prefix = len(prefix_items) if isinstance(prefix_items, list) else 0
        # stable for the whole pass — same argument as _object_pass
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
                if not self._eval(item, prefix, scope) and sink is None:
                    return False
                additional = False
            elif has_items:
                recorded = 0 if sink is None else len(sink)
                if not self._eval(item, items, scope) \
                        or (sink is not None and len(sink) > recorded):
                    # "if items fail, all items are unevaluated" quirk
                    # (schema.js:306)
                    if ev is not None:
                        ev.clear()
                    if sink is None:
                        return False
                additional = False

            if has_contains:
                self._sink = None   # probe
                if self._eval(item, contains, scope):
                    num_contains += 1
                    additional = False
                self._sink = sink

            if not additional and ev is not None \
                    and not self.stop_collecting:
                ev.add(i)

            if dstack:  # inlined _safe_pop (hot path)
                dstack.pop()

        if has_contains:
            if num_contains < min_contains:
                if sink is None:
                    return False
                sink.append(self._error(
                    value, min_contains,
                    'Array contains too few items that match "contains"'))
            if max_contains is not None and num_contains > max_contains:
                if sink is None:
                    return False
                sink.append(self._error(
                    value, max_contains,
                    'Array contains too many items that match "contains"'))
        return True


# ---------------------------------------------------------------------------
# Vocabulary (schema.js:342-663).  Each entry: (affects, validator).
# A validator returns truthy/falsy; the evaluation loop records one error
# for a falsy result, except for the _SELF_RECORDING validators, which
# evaluate sub-schemas or report per-item errors themselves.
# ---------------------------------------------------------------------------

def _v_ref(v: Validator, url: str, value: Any, schema: dict,
           scope: _Scope) -> bool:
    target = v._ref_target(schema)
    if target is None:
        # mirror of the reference's missing-ref failure: console.error then
        # a crash on the undefined schema (pinned by tests.html:583-595)
        raise RefResolutionError(f"$ref-schema not found: {url}")
    return v._eval(value, target, scope)


def _v_dynamic_ref(v: Validator, url: str, value: Any, schema: dict,
                   scope: _Scope) -> bool:
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
    return v._eval(value, target, scope)


def _v_all_of(v: Validator, all_of: list, value: Any, schema: dict,
              scope: _Scope) -> bool:
    stack = v.schema_stack
    for i, sub in enumerate(all_of):
        stack.append(i)
        if not v._eval(value, sub, scope) and v._sink is None:
            return False  # abandonment: frame stays pushed
        if stack:  # inlined _safe_pop (hot path)
            stack.pop()
    return True


def _v_any_of(v: Validator, any_of: list, value: Any, schema: dict,
              scope: _Scope) -> bool:
    # short-circuits on first pass unless collecting annotations for
    # unevaluated* (schema.js:381-395)
    collecting = id(value) in v.evaluated
    sink, v._sink = v._sink, None   # probes
    any_ok = False
    for sub in any_of:
        if v._eval(value, sub, scope):
            any_ok = True
            if not collecting:
                break
    v._sink = sink
    return any_ok


def _v_one_of(v: Validator, one_of: list, value: Any, schema: dict,
              scope: _Scope) -> bool:
    sink, v._sink = v._sink, None   # probes
    passed = 0
    for sub in one_of:
        if v._eval(value, sub, scope):
            passed += 1
            if passed > 1:
                break
    v._sink = sink
    return passed == 1


def _v_not(v: Validator, sub: Any, value: Any, schema: dict, scope: _Scope) -> bool:
    v.stop_collecting = True
    sink, v._sink = v._sink, None   # probe
    ok = v._eval(value, sub, scope)
    v._sink = sink
    stack = v.schema_stack
    if stack:  # quirky extra pop, mirror of schema.js:411 (inlined _safe_pop)
        stack.pop()
    v.stop_collecting = False  # plain reset, not restore (schema.js:412)
    return not ok


def _v_if(v: Validator, if_schema: Any, value: Any, schema: dict,
          scope: _Scope) -> bool:
    sink, v._sink = v._sink, None   # probe
    ok = v._eval(value, if_schema, scope)
    v._sink = sink
    stack = v.schema_stack
    if stack:  # mirror of schema.js:420 (inlined _safe_pop)
        stack.pop()
    branch = "then" if ok else "else"
    stack.append(branch)
    if branch in schema and schema[branch] is not None:
        if not v._eval(value, schema[branch], scope) and sink is None:
            return False
    if stack:  # inlined _safe_pop (hot path)
        stack.pop()
    return True


def _v_type(v: Validator, type_: Any, value: Any, schema: dict, scope: _Scope) -> bool:
    if isinstance(type_, list):
        return any(_v_type(v, t, value, schema, scope) for t in type_)
    vtype = _TYPE_DISPATCH.get(value.__class__) or get_type(value)
    if vtype == type_:
        return True
    if type_ == "integer" and vtype == "number" and is_js_integer(value):
        return True
    return False


def _type_integer(v: Validator, t: Any, value: Any, schema: dict,
                  scope: _Scope) -> bool:
    # plan-time residue of a ``type`` check containing "integer" visited
    # with a number: the only data-dependent branch of _v_type
    return is_js_integer(value)


def _always_false(v: Validator, t: Any, value: Any, schema: dict,
                  scope: _Scope) -> bool:
    # plan-time constant-false ``type`` check (wrong value type): the
    # entry stays in the plan so the failure push lands at the same
    # position as the unfolded validator's
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
                scope: _Scope) -> bool:
    for i, prop in enumerate(required):
        if prop not in value:
            v.schema_stack.append(i)
            if v._sink is None:
                return False  # abandonment: frame stays pushed
            v._sink.append(v._error(value, prop, "missing required property"))
            _safe_pop(v.schema_stack)
    return True


def _v_dependent_required(v: Validator, deps: dict, value: dict, schema: dict,
                          scope: _Scope) -> bool:
    for prop, required in deps.items():
        if prop in value:
            for req in required:
                if req not in value:
                    return False
    return True


def _v_dependent_schemas(v: Validator, deps: dict, value: dict, schema: dict,
                         scope: _Scope) -> bool:
    for prop, sub in deps.items():
        if prop in value:
            if not v._eval(value, sub, scope) and v._sink is None:
                return False
    return True


def _v_dependencies(v: Validator, deps: dict, value: Any, schema: dict,
                    scope: _Scope) -> bool:
    # draft-4 legacy shim (schema.js:626-642) — no affects gate in the
    # reference either, but Object.hasOwn on non-objects is false
    if not isinstance(value, dict):
        return True
    for prop, dep in deps.items():
        if prop in value:
            if isinstance(dep, list):
                for req in dep:
                    if req not in value:
                        if v._sink is None:
                            return False
                        v._sink.append(v._error(
                            value, req, "missing required property"))
            elif not v._eval(value, dep, scope) and v._sink is None:
                return False
    return True


def _v_property_names(v: Validator, sub: Any, value: dict, schema: dict,
                      scope: _Scope) -> bool:
    for prop in value.keys():
        if not v._eval(prop, sub, scope) and v._sink is None:
            return False
    return True


# (affects, validator) — registration mirror of the vocabulary table
# (schema.js:342-663).  Keywords with no validator are traversal-only
# (subSchema markers live in schema/frontend.py).
_VOCABULARY: Dict[str, tuple] = {
    "$schema": (None, None),
    "$vocabulary": (None, None),
    "$id": (None, None),
    "$anchor": (None, None),
    "$dynamicAnchor": (None, None),
    "$defs": (None, None),
    "$ref": (None, _v_ref),
    "$dynamicRef": (None, _v_dynamic_ref),
    "allOf": (None, _v_all_of),
    "anyOf": (None, _v_any_of),
    "oneOf": (None, _v_one_of),
    "not": (None, _v_not),
    "if": (None, _v_if),
    "then": (None, None),
    "else": (None, None),
    "type": (None, _v_type),
    "enum": (None, _v_enum),
    "const": (None, _v_const),
    "multipleOf": ("number", lambda v, m, val, s, sc: js_multiple_of(val, m)),
    "maximum": ("number", lambda v, m, val, s, sc: val <= m),
    "exclusiveMaximum": ("number", lambda v, m, val, s, sc: val < m),
    "minimum": ("number", lambda v, m, val, s, sc: val >= m),
    "exclusiveMinimum": ("number", lambda v, m, val, s, sc: val > m),
    "maxLength": ("string", lambda v, m, val, s, sc: len(val) <= m),
    "minLength": ("string", lambda v, m, val, s, sc: len(val) >= m),
    "pattern": ("string", lambda v, p, val, s, sc: js_regex_search(p, val)),
    "format": ("string", _v_format),
    "maxItems": ("array", lambda v, m, val, s, sc: len(val) <= m),
    "minItems": ("array", lambda v, m, val, s, sc: len(val) >= m),
    "uniqueItems": ("array", _v_unique_items),
    "items": (None, None),
    "additionalItems": (None, None),
    "contains": (None, None),
    "prefixItems": (None, None),
    "unevaluatedItems": (None, None),
    "properties": (None, None),
    "additionalProperties": (None, None),
    "unevaluatedProperties": (None, None),
    "patternProperties": (None, None),
    "maxProperties": ("object", lambda v, m, val, s, sc: len(val) <= m),
    "minProperties": ("object", lambda v, m, val, s, sc: len(val) >= m),
    "required": ("object", _v_required),
    "dependentRequired": ("object", _v_dependent_required),
    "dependentSchemas": ("object", _v_dependent_schemas),
    "dependencies": (None, _v_dependencies),
    "propertyNames": ("object", _v_property_names),
}

# Validators that record their own errors in collect mode (the
# reference's generator validators): the evaluation loop adds no error
# of its own when one of these reports failure.
_SELF_RECORDING = frozenset({
    _v_ref, _v_dynamic_ref, _v_all_of, _v_if, _v_required,
    _v_dependent_schemas, _v_dependencies, _v_property_names,
})

# Keywords whose validators neither read the schema/data stacks nor
# recurse into sub-schemas (no probes, no _eval calls): for these the
# evaluation loop defers the schema-stack push to the failure branch.
# anyOf/oneOf/not are NOT here (their probes run nested evaluations
# that mutate and observe the stacks).
_STACK_OBLIVIOUS = frozenset({
    "type", "enum", "const", "multipleOf",
    "maximum", "exclusiveMaximum", "minimum", "exclusiveMinimum",
    "maxLength", "minLength", "pattern", "format",
    "maxItems", "minItems", "uniqueItems",
    "maxProperties", "minProperties", "dependentRequired",
})


# -- module-level conveniences ------------------------------------------------

def validate(schema, value: Any, format_assertion: bool = False) -> bool:
    """One-shot validate — compiles ``schema`` if it is a raw dict."""
    return Validator(schema, format_assertion=format_assertion).validate(value)


def iter_errors(schema, value: Any, format_assertion: bool = False):
    return Validator(schema, format_assertion=format_assertion).iter_errors(value)
