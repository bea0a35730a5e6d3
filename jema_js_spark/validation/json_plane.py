"""Columnar (Plane-A) validation for dynamic JSON string columns.

The kernel UDF (``kernel_udf.py``) validates any JSON document with
full draft 2020-12 semantics, but it is the slow plane: Arrow-batched
Python at ~300k docs/s vs the columnar plane's millions of rows/s.
At 100 TB a JSON column with a KNOWN contract should not pay that tax
for the overwhelmingly common well-shaped rows.

This module routes each row at runtime, entirely JVM-side:

1. A **round-trip shortcut** (round 6): the document is parsed once by
   ``from_json`` into the contract's typed struct, and
   ``to_json(struct) == doc`` proves the document IS the canonical
   rendering of that struct — exact key set, exact types, no JSON
   nulls at property level, no formatting the typed plane would lose.
   Anything the struct cannot hold drops out of the re-rendering
   (wrong-typed fields parse to NULL and are omitted; non-objects
   render as ``{}``; duplicate keys collapse; extra keys vanish), so
   any such document fails the equality and falls through — the
   shortcut is fail-closed by construction.  Only residual hazard:
   integer slots hold exact int64 beyond ±2^53 where the kernel's JS
   float semantics diverge — a magnitude guard on the struct covers it.
2. Shortcut misses are re-judged by the **variant gates**:
   ``try_parse_json`` + per-field ``schema_of_variant`` tags decide
   whether the observed shape is exactly representable in the typed
   relational bridge (SQL NULL ⇔ absent key — see compiler/compile.py).
   The tags are authoritative: typed ``variant_get`` extraction COERCES
   (a JSON string "5" extracts as long 5), so the gate must read the
   tag, never rely on extraction failure.  The variant parse is masked
   behind the shortcut (``F.when`` — CaseWhen branches evaluate lazily
   per row), so canonical documents never pay it.  Because every
   Jackson-backed parse is PREFIX-lenient (trailing garbage after one
   complete value is silently ignored — a round-7 find), the gates
   parse the doc inside a sentinel array ``[<doc>,"<md5(doc)>"]`` and
   require exactly two elements with the sentinel second — a
   structural completeness proof no trailing-garbage document can
   satisfy (see the stage-3 comment in ``_routing_pieces``).
3. Routable rows are validated by the columnar compiler
   (``SchemaCompiler.compile_plan_for_column``) over the ``from_json``
   struct — whole-stage-codegen, zero Python compute.  One routing
   layout serves every contract: a single root slot node
   (``JsonColumnPlan.root``) in a recursive grammar — fixed-key
   ``object`` nodes (round 7: nested objects and arrays of objects),
   dynamic-key ``map`` nodes (``map<string, T>``), and ROOT VALUES
   (round 7: the document is a bare scalar or array — ``from_json``
   cannot parse a non-object root, so the route parses ``{"v": <doc>}``
   and validates the single extracted slot; the round-trip proof
   compares against the same wrapped string, so no document text can
   spoof it).  Every stage of the routed plan is one call on that node,
   and ONE analysis builds it: ``analyze_json_contract`` hands the root
   to ``_build_node`` like any nested slot, so a subschema gets the
   same layout at the root as one level down.  Slots with no single
   storable type — union-typed properties
   (``{"type": ["integer", "string"]}``), mixed-type
   patternProperties, keys-only layoutless objects — store the value as
   an OPAQUE VARIANT when every constraint on it is TAG-AFFINE (type
   checks and combinators of type checks): the compiler judges those
   by ``schema_of_variant`` tags, still pure Plane A
   (compile.py ``_compile_variant_node``, round 7 session 5).
4. Every other row (malformed JSON, duplicate keys — ``try_parse_json``
   nulls both — non-objects, extra keys, JSON-null-valued fields,
   wrong-typed fields, numeric-exactness hazards) takes the kernel UDF,
   which is always right.  ONE plan shape (the masked one) delivers this
   split in a single pass over the source: the kernel UDF is projected
   for every row (an ArrowEvalPython node cannot be skipped per-row)
   but its input is masked to SQL NULL for routed rows, and the UDF's
   null fast path (kernel_udf.py) vector-fills those in one validate
   call per batch — no shuffle, no second scan.  A fast ∪ slow split
   (two filters, the residue shuffled before its Python stage) measured
   1.3-2.0× slower than this shape in every run (local[4] on 4 vCPUs,
   100k-400k docs), Plane-B-carrying contracts included: the Python
   stage costs per row and per task, so a second scan and a shuffle
   placed in front of it do not pay for themselves.

Routing gates that protect exact kernel parity (each has a
differential test in tests/test_json_plane.py):

- JSON null values route to the kernel: the bridge reads SQL NULL as
  *absent*, but the kernel sees a present null (e.g. ``required`` must
  still pass) — reference semantics, schema.js:231-288.
- Pure-integer literals beyond ±2^53 route to the kernel: json.loads
  keeps an exact Python int while the struct holds a rounded double
  (tag BIGINT gates on magnitude; a huge literal surfaces as
  DECIMAL(p≥16,0), and one past DECIMAL's 38 digits melts into a
  DOUBLE tag, caught by a raw-token pure-integer regex).
- DECIMAL-tagged values are admitted only while their integer part
  fits 15 digits (p − s ≤ 15): fractional literals are float on both
  planes (and Spark's decimal→double cast is correctly rounded — the
  tests pin parity against Python's strtod), but an integer-valued
  token like ``"10000000000000000001"`` also tags DECIMAL(20,0) and
  is exact only on the kernel plane.

The cost of a mis-routed row is never a wrong verdict — every gate
fails CLOSED onto the kernel; the gates only decide how FAST a row is
judged.

Reference scope: jema.js validates in-memory values one at a time
(schema.js:59-73); two-plane routing over a table is engine design
with no reference analog, mandated by the 10^12-row target.
"""

from __future__ import annotations

import functools
import re
from dataclasses import dataclass, field
from typing import Any, Dict, Iterator, List, NamedTuple, Optional, Tuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from jema_js_spark.compiler.compile import (CompiledPlan, SchemaCompiler,
                                            _dynamic_scope_hazard,
                                            _reaches_unevaluated,
                                            variant_tag_affine)
from jema_js_spark.runtime.colcache import cached_column
from jema_js_spark.schema.frontend import Schema, contract_key

__all__ = ["analyze_json_contract", "plan_choice", "with_valid_json",
           "json_violation_rows", "JsonColumnPlan"]

# struct field names addressable UNQUOTED in a $.name variant path
_NAME_RE = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")


def _routable_name(name: str) -> bool:
    """Field names the route can address: plain identifiers unquoted,
    anything else through the bracket form ``$['name']`` (round 7,
    session 4 — dashed keys like content-type are everywhere in web
    data).  The bracket form has NO escape syntax (probed: both quote
    styles reject backslash escapes at analysis time), so a name
    containing a single quote, a backslash, or a control character
    stays kernel-only."""
    if _NAME_RE.match(name):
        return True
    return not any(c == "'" or c == "\\" or ord(c) < 0x20 for c in name)


def _vpath(name: str) -> str:
    """One child segment of a variant-extraction / JSON path."""
    return f".{name}" if _NAME_RE.match(name) else f"['{name}']"

_SCALAR_SQL = {"integer": "bigint", "number": "double",
               "string": "string", "boolean": "boolean"}
_SCALAR_SPARK = {"integer": T.LongType(), "number": T.DoubleType(),
                 "string": T.StringType(), "boolean": T.BooleanType(),
                 # keys-only map routing (round 7): values parse as
                 # OPAQUE variants — never read by a Plane-A predicate
                 "variant": T.VariantType()}

# largest integer magnitude a double holds exactly
_EXACT_LONG = 1 << 53

# a pure-integer token of ≥16 digits may exceed 2^53 — kernel keeps it
# exact, a double would not.  Array form: the token must be delimited
# by array syntax so digit runs inside fractions don't match.  The
# doc-wide form (map routing: dynamic keys have no per-key raw path)
# also admits ':' and '"' delimiters so a hit anywhere — even a quoted
# token inside a string value — routes to the kernel, which only costs
# speed, never a verdict (string-tagged values fail the number gates
# regardless; the quote classes just keep the comment honest).
_BIG_INT_SCALAR = r"^-?[0-9]{16,}$"
_BIG_INT_IN_ARRAY = r"(^|[\[,\s])-?[0-9]{16,}([,\]\s]|$)"
_BIG_INT_ANYWHERE = "(^|[\\[,:\\s\"])-?[0-9]{16,}([,\\]}\\s\"]|$)"

# a number token may overflow to ±Infinity — the variant stores the
# infinity but ``to_json`` renders it as the STRING
# "Infinity"/"-Infinity", which a Plane-B check over a variant's
# rendering would then misread (variants carry no float_paths
# restoration, unlike typed double columns).  Completeness of the
# screen (round-7 review fix — the big-int screen does NOT bound
# mantissas here: its digit run must end at a delimiter, so
# '<310 nines>.5' matches neither):
#   |token| ≈ 10^(integer_digits + exponent), and the double max is
#   1.79e308, so overflow requires integer_digits + exponent ≥ 309.
#   Tokens with a ≥3-digit exponent are screened outright; with the
#   exponent thus ≤ 99, overflow needs ≥ 210 integer digits — any
#   210-digit run (in any context, fraction included: over-screening
#   only costs route rate) is screened too.  Negative exponents only
#   underflow, and underflow rounds identically on both engines.
# Fired only for plans that carry variant slots (round 7 session 5 —
# fixes a live keys-only verdict bug: {"k":1e999} vs a value-reading
# dependentSchemas body judged the string "Infinity").
_BIG_EXP_ANYWHERE = r"[0-9][eE][+-]?[0-9]{3,}|[0-9]{210}"
_BIG_INT_OR_EXP_ANYWHERE = (
    "(" + _BIG_INT_ANYWHERE + ")|(" + _BIG_EXP_ANYWHERE + ")")

# a surrogate \uXXXX escape token (either half, D800-DFFF).  The JVM
# parse REPLACES a lone surrogate with '?' while json.loads keeps it,
# so any content-sensitive check (const/enum equality, pattern,
# propertyNames — typed string slots and variant values alike) would
# judge the replaced form (round-7 review: route said const "?" matched
# a doc holding "\\ud800").  Raw documents are UTF-8 Spark strings and
# cannot hold a LITERAL lone surrogate, so the escape token is the only
# vector; such docs can never hit the round-trip shortcut (the
# re-rendering decodes or replaces the escape), so screening the GATE
# path alone is complete.  Valid astral PAIRS written as escapes are
# over-screened to the kernel — route-rate only (web JSON overwhelmingly
# carries literal UTF-8).  A doc with an escaped backslash + 'ud8xx'
# text also matches, but it round-trips exactly and never reaches the
# gates.
_SURROGATE_ESC_ANYWHERE = r"\\u[dD][89a-fA-F]"

# DECIMAL(p,s) admitted while the integer part fits 15 digits exactly
_DECIMAL_RE = r"DECIMAL\(([0-9]+),([0-9]+)\)"


# --- the routing type tree (round 7: recursive — nested objects and
# arrays of objects route instead of falling whole to the kernel) ----
#
# A *node* describes one typed slot.  The grammar keeps the flat round-6
# tuples verbatim (so published layouts and their tests read unchanged)
# and extends them structurally:
#
#   ("integer"|"number"|"string"|"boolean", None)   scalar slot
#   ("array", "<scalar>")                           array of scalars
#   ("array", <node>)                               array of objects /
#                                                   nested arrays
#   ("object", {name: <node>, ...})                 nested object
#   ("map", <node>)                                 dynamic-key object
#                                                   (round 7: nested
#                                                   additionalProperties/
#                                                   patternProperties
#                                                   slots — all value
#                                                   sources must agree
#                                                   on ONE node)
#
# Depth is capped (``_MAX_NEST``): past it — including any recursive
# $ref chain, which would otherwise unfold forever — the slot becomes
# an OPAQUE variant leaf (round-8 bounded unroll): shallow documents
# stay pure Plane A, deeper tails run as one kernel check over the
# variant's exact rendering (the compiler's variant net).
_MAX_NEST = 12

# Deep-expansion budget per contract: BRANCHING recursion (a
# binary-tree schema with two self-refs per node) would unroll
# 2^_MAX_NEST leaves — an 8k-field struct type and a plan Catalyst
# chews minutes on.  Past the budget the walk truncates to variant
# leaves exactly like the depth cap (sound anywhere — only the
# Plane-A share of the affected subtrees changes).  The budget is
# charged ONLY to nodes deeper than _BUDGET_FREE_DEPTH: exponential
# growth needs depth, while wide-but-shallow production contracts
# (hundreds of flat properties) live at depth 1-2 and must keep their
# full typed layout (round-8 review: charging breadth truncated a
# 300-property flat contract's tail fields to variant leaves).
# 64 deep slots fully unroll every non-branching shape (a linked list
# consumes ~2-4 slots per level × _MAX_NEST levels) while bounding
# the GATE expression tree: the round-8 recursive fuzz OOMed the JVM
# at 256 deep slots when branching recursion mixed arrays-of-self
# (nested forall/_reprable lambdas multiply per array level — the
# budget bounds compiled-plan size, not just analysis time).
_MAX_UNROLL_SLOTS = 64
_BUDGET_FREE_DEPTH = 3


def _node_dtype(node: Tuple[str, Any]) -> T.DataType:
    decl, extra = node
    if decl == "object":
        return T.StructType([T.StructField(n, _node_dtype(c), True)
                             for n, c in extra.items()])
    if decl == "map":
        return T.MapType(T.StringType(), _node_dtype(extra))
    if decl == "array":
        et = _SCALAR_SPARK[extra] if isinstance(extra, str) \
            else _node_dtype(extra)
        return T.ArrayType(et)
    return _SCALAR_SPARK[decl]


def _node_has(node: Tuple[str, Any], kind: str) -> bool:
    """True when a ``kind`` slot ("integer", "number", "variant",
    "map", …) sits anywhere in ``node``."""
    decl, extra = node
    if decl == kind:
        return True
    if decl == "array":
        return extra == kind if isinstance(extra, str) \
            else _node_has(extra, kind)
    if decl == "object":
        return any(_node_has(c, kind) for c in extra.values())
    if decl == "map":
        return _node_has(extra, kind)
    return False


def _node_needs_doc_screen(node: Tuple[str, Any], no_path: bool) -> bool:
    """True when a ``number`` slot has no per-value raw JSON path — it
    sits below an array-of-node element, a map value, a bracket-quoted
    field name or a wrapped root (``no_path`` marks ``node`` itself as
    such a position) — so the ≥16-digit integer-token screen must run
    doc-wide (computed once per row in the barrier).  Mirrors which
    positions :func:`_reprable` reaches with ``doc=None``."""
    decl, extra = node
    if decl == "number":
        return no_path
    if decl == "variant":
        # opaque slots need the doc-wide screen in EVERY position: big
        # integer tokens melt through the variant parse and big
        # exponents overflow to Infinity, which the variant rendering
        # turns into a string (see _BIG_EXP_ANYWHERE)
        return True
    if decl == "array":
        if isinstance(extra, str):
            return no_path and extra == "number"
        return _node_needs_doc_screen(extra, True)
    if decl == "object":
        # a bracket-quoted field name has no reliable raw path either
        # (get_json_object can't address the empty name) — its subtree
        # uses the doc-wide screen, mirroring _reprable's descent
        return any(_node_needs_doc_screen(
                       c, no_path or not _NAME_RE.match(n))
                   for n, c in extra.items())
    if decl == "map":
        return _node_needs_doc_screen(extra, True)
    return False


@dataclass
class JsonColumnPlan:
    """Static routing analysis of one contract: ONE root slot node in
    the routing grammar above, or the reasons the contract stays whole
    on the kernel plane.  The node's kind is the layout:

    - ``("object", {name: node, ...})`` — fixed-key documents (round 7:
      recursive, nested objects and arrays of objects included);
    - ``("map", node)`` — dynamic-key documents (round 6: contracts
      built from patternProperties / additionalProperties whose value
      sources agree on one node; ``("map", ("variant", None))`` is the
      keys-only layout);
    - any other node — a ROOT VALUE (round 7: documents that are
      scalars or arrays, not objects).

    ``from_json`` parses object and map roots directly; it cannot parse
    a bare scalar, so any other root parses the doc wrapped as
    ``{"v": <doc>}`` and validates the single field (:attr:`wrapped`,
    :meth:`slot`)."""

    schema: Any
    root: Optional[Tuple[str, Any]] = None
    reasons: List[str] = field(default_factory=list)

    @property
    def routable(self) -> bool:
        return not self.reasons and self.root is not None

    @property
    def wrapped(self) -> bool:
        """Defined, like :meth:`slot` and :meth:`struct_type`, only for
        plans with a root (every routable plan)."""
        assert self.root is not None, self.reasons
        return self.root[0] not in ("object", "map")

    def slot(self, parsed: Column) -> Tuple[Column, T.DataType]:
        """The column the contract compiles against inside the parsed
        ``struct_type()`` value, and that column's type."""
        return (parsed["v"] if self.wrapped else parsed,
                _node_dtype(self.root))

    def struct_type(self) -> T.DataType:
        if not self.wrapped:
            return _node_dtype(self.root)
        return T.StructType([T.StructField("v", _node_dtype(self.root),
                                           True)])


def _conjuncts(schema: Schema, node: Any) -> Iterator[Any]:
    """Every subschema in a CONJUNCTIVE position of ``node``, pre-order:
    the node itself, then its ``allOf`` branches, then its ``$ref``
    target, each visited once.  Conjunctive positions all apply to the
    same value, so any one of them may declare the routing type, and a
    value violating another is invalid on whichever plane judges it
    (anyOf/oneOf/not/if force no type and are not walked).  Yields the
    dict subschemas and any ``false`` schema reached — no value
    satisfies that one (:func:`_slot_decl`)."""
    seen: set = set()
    stack = [node]
    while stack:
        node = stack.pop()
        if node is False:
            yield node
            continue
        if not isinstance(node, dict) or id(node) in seen:
            continue
        seen.add(id(node))
        yield node
        if "$ref" in node:
            stack.append(schema.registry.ref_targets.get(id(node)))
        stack.extend(reversed(list(node.get("allOf") or [])))


# keyword → the single JSON type it constrains; used to pick a slot for
# TYPELESS subschemas.  ANY slot choice is sound: the routing gates are
# type-exact and fail closed (a value of any other type takes the
# kernel), and the compiler folds keywords whose affects-type cannot
# match the slot — the choice only decides which documents get the fast
# plane, never a verdict.  Order = pick priority when classes mix.
_AFFINITY: Tuple[Tuple[str, frozenset], ...] = (
    ("object", frozenset({
        "properties", "required", "patternProperties",
        "additionalProperties", "propertyNames", "minProperties",
        "maxProperties", "dependentRequired", "dependentSchemas"})),
    ("array", frozenset({
        "items", "prefixItems", "minItems", "maxItems", "uniqueItems",
        "contains", "minContains", "maxContains"})),
    ("number", frozenset({
        "minimum", "maximum", "exclusiveMinimum", "exclusiveMaximum",
        "multipleOf"})),
    ("string", frozenset({"minLength", "maxLength", "pattern"})),
)

_SLOT_TYPES = ("object", "array", "string", "integer", "number", "boolean")


def _enum_type(values: list) -> Optional[str]:
    """The single scalar JSON type of all enum/const values, or None."""
    kinds = set()
    for v in values:
        if isinstance(v, bool):
            kinds.add("boolean")
        elif isinstance(v, int):
            kinds.add("integer")
        elif isinstance(v, float):
            kinds.add("number")
        elif isinstance(v, str):
            kinds.add("string")
        else:
            return None
    if kinds == {"integer"}:
        return "integer"
    if kinds <= {"integer", "number"} and kinds:
        return "number"
    return kinds.pop() if len(kinds) == 1 else None


class _Signals(NamedTuple):
    """The raw type signals one subschema emits from its conjunctive
    positions, plus those positions' dict subschemas (``nodes``,
    pre-order) for the layout branches of :func:`_build_node`."""

    single: List[str]
    union: List[str]
    enum_t: List[str]
    classes: List[str]
    has_false: bool
    nodes: List[dict]


def _slot_signals(schema: Schema, sub: Any) -> _Signals:
    """ONE :func:`_conjuncts` walk per subschema, read by
    :func:`_slot_decl` (typed-slot pick), :func:`_union_members`
    (variant-slot pick, round 7 session 5) and the array/object layout
    branches of :func:`_build_node`, so none of them can read the
    schema differently."""
    single: List[str] = []
    union: List[str] = []
    enum_t: List[str] = []
    classes: List[str] = []
    has_false = False
    nodes: List[dict] = []
    for node in _conjuncts(schema, sub):
        if node is False:
            has_false = True
            continue
        nodes.append(node)
        t = node.get("type")
        if isinstance(t, str):
            single.append(t)
        elif isinstance(t, list):
            union.extend(str(x) for x in t)
        # anyOf/oneOf where EVERY branch declares a type: the value
        # must satisfy some branch, so the branch types form a union —
        # the nullable idiom anyOf[{type: X}, {type: "null"}] routes
        # on X instead of the string default (slot choice is always
        # verdict-safe; it only decides which rows get the fast plane)
        for combo in ("anyOf", "oneOf"):
            branches = node.get(combo)
            if isinstance(branches, list) and branches and all(
                    isinstance(b, dict)
                    and isinstance(b.get("type"), (str, list))
                    for b in branches):
                for b in branches:
                    bt = b["type"]
                    union.extend([bt] if isinstance(bt, str)
                                 else [str(x) for x in bt])
        ev = node.get("enum")
        if isinstance(ev, list):
            et = _enum_type(ev)
            if et:
                enum_t.append(et)
        if "const" in node:
            et = _enum_type([node["const"]])
            if et:
                enum_t.append(et)
        for name, kws in _AFFINITY:
            if any(k in node for k in kws):
                classes.append(name)
    return _Signals(single, union, enum_t, classes, has_false, nodes)


def _slot_decl(signals: _Signals) -> Optional[str]:
    """The slot type from one subschema's :func:`_slot_signals`.
    Resolution order, all signals gathered from conjunctive positions
    only (:func:`_conjuncts`):

    1. an explicit single ``type`` (the round-6 rule, unchanged);
    2. a ``type`` union list → its first supported non-"null" member
       (the other members' values simply take the kernel plane);
    3. the common scalar type of ``enum``/``const`` values;
    4. keyword affinity — the class of type-specific keywords the
       subschema uses (pick priority ``_AFFINITY`` when mixed);
    5. otherwise None (callers may default — see ``_build_node``).

    A conjunctive ``false`` schema short-circuits to "boolean": no
    value can satisfy it, so the slot is arbitrary and the compiled
    false-check judges whatever routes."""
    single, union, enum_t, classes, has_false, _nodes = signals
    if has_false:
        return "boolean"
    if single:
        return single[0]
    for t in union:
        if t != "null" and t in _SLOT_TYPES:
            return t
    if enum_t:
        return enum_t[0]
    for name, _kws in _AFFINITY:
        if name in classes:
            return name
    return None


def _union_members(signals: _Signals) -> set:
    """The distinct non-null routable types a slot's UNION signals
    (type lists + all-branches-typed anyOf/oneOf) when no conjunctive
    single type pins it — {} otherwise.  ``integer`` collapses into a
    ``number`` member (a number slot already holds both exactly), so
    two members here mean two genuinely different storage shapes and a
    typed slot could route only the first one's documents."""
    single, union, _enum_t, _classes, has_false, _nodes = signals
    if single or has_false:
        return set()
    members = {t for t in union if t != "null" and t in _SLOT_TYPES}
    if {"integer", "number"} <= members:
        members.discard("integer")
    return members


def _promote_numeric(nodes) -> list:
    """Collapse a mixed integer/number slot collection to the wider
    number slot — integers are exactly representable there (the gates
    keep them within 2^53 / DECIMAL-exact).  Used by the one
    dynamic-key decision in :func:`_build_node`'s object branch, which
    serves the root and every nested map alike."""
    reprs = sorted(repr(n) for n in nodes)
    if reprs == [repr(("array", "integer")), repr(("array", "number"))]:
        return [("array", "number")]
    if reprs == [repr(("integer", None)), repr(("number", None))]:
        return [("number", None)]
    return list(nodes)


def _dyn_map_node(schema: Schema, node: Any, sources: list,
                  signals: List[_Signals],
                  typed: Optional[Tuple[str, Any]],
                  fa: bool) -> Optional[Tuple[str, Any]]:
    """The value-node decision for a dynamic-key slot at any depth, the
    root included (there is one layout analysis, :func:`_build_node`).
    ``sources`` are the value schemas (dynamic and fixed) and
    ``signals`` their :func:`_slot_signals`; ``typed`` is the agreed
    typed value node, or None when the sources disagree.  Returns the
    value node to use, or None (the sources disagree; the caller falls
    back to the fixed-key struct or publishes the disagreement):

    - sources that are all TAG-AFFINE under the session's
      format_assertion route as opaque variants — even over an
      agreeing typed node when any source is union-typed (the typed
      slot would route only the collapsed first member's documents);
    - unevaluated* anywhere under ``node`` keeps the kernel: the
      whole node compiles as one kernel check, routing buys nothing."""
    def all_affine() -> bool:
        # lazy: the common single-typed path decides without paying
        # the affinity and unevaluated* walks (round-7 review)
        return (all(variant_tag_affine(s, fa) for s in sources)
                and not _reaches_unevaluated(schema, node))

    if typed is not None:
        if any(len(_union_members(sig)) >= 2 for sig in signals) \
                and all_affine():
            return ("variant", None)
        return typed
    return ("variant", None) if all_affine() else None


def _build_node(schema: Schema, sub: Any, label: str,
                reasons: List[str], depth: int,
                fa: bool = False,
                slots: Optional[list] = None,
                signals: Optional[_Signals] = None
                ) -> Optional[Tuple[str, Any]]:
    """Routing node of one subschema — the contract root (depth 0) or
    any slot below it, by ONE policy — recursing into nested objects
    (fixed-key ``properties`` at any depth), dynamic-key maps and
    arrays of objects; or None with a published reason.  Depth counts
    EVERY recursion step, so a recursive $ref chain hits ``_MAX_NEST``
    and truncates to a variant leaf (round-8 bounded unroll) instead of
    unfolding forever; ``slots`` is the per-contract expansion budget
    (``_MAX_UNROLL_SLOTS``) guarding BRANCHING recursion against an
    exponential unroll.  ``fa`` is the session's format_assertion:
    tag-affinity classes ``format`` as inert only when assertion is
    off, and the probe must match what the compiler will do (round-7
    review).  ``signals`` is ``sub``'s :func:`_slot_signals` when the
    caller has already computed it."""
    if slots is None:
        slots = [0]
    if depth > _BUDGET_FREE_DEPTH:
        slots[0] += 1
    if depth > _MAX_NEST or slots[0] > _MAX_UNROLL_SLOTS:
        # round 8 (VERDICT r7 #4): bounded unroll.  Past the unroll
        # horizon the slot stores the remaining subtree as an OPAQUE
        # variant — exactly the keys-only slot type, so every existing
        # hazard guard applies as-is (doc-wide big-int/big-exp screens
        # via _node_has/_node_needs_doc_screen, dup-key docs
        # null the gate parse, the round-trip equality proves the
        # shortcut rendering byte-exact).  The compiler's variant net
        # turns the (recursive) subschema at this point into ONE
        # kernel check over to_json of the variant, gated on presence:
        # documents no deeper than the horizon never pay it (absent
        # field → SQL NULL → check passes, matching the kernel's
        # absent-property semantics), deep documents pay one kernel
        # call on the sub-horizon TAIL only.  Recursive $ref contracts
        # — previously unroutable — route this way, with the unrolled
        # levels compiled Plane A (see compile.py _h_ref's
        # (node, dtype) cycle key).
        return ("variant", None)
    if signals is None:
        signals = _slot_signals(schema, sub)
    decl = _slot_decl(signals)
    if decl == "null":
        # a null-typed slot has no storable value; any slot works:
        # absent keys route, a present null (or anything routed) is
        # judged by the compiled type-check exactly like the kernel
        decl = "string"
    if decl is None and isinstance(sub, (dict, bool)):
        # no signal at all (empty schema, anyOf-only, …): default slot
        # — sound per _AFFINITY's fail-closed argument; only the route
        # rate for non-string values is affected
        decl = "string"
    if len(_union_members(signals)) >= 2 and variant_tag_affine(sub, fa):
        # round 7 session 5: a slot typed as a genuine UNION (type
        # lists, all-branches-typed anyOf/oneOf) whose constraints are
        # all TAG-AFFINE stores the value as an OPAQUE variant — the
        # compiler's tag predicates judge every member Plane A
        # (_compile_variant_node), where a typed slot would route only
        # the first member's documents and send the rest to the
        # kernel.  Value-reading keywords (bounds, lengths, enum, …)
        # keep the typed slot: they compile Plane A there but would
        # force the whole variant node onto the kernel.
        return ("variant", None)
    if decl in _SCALAR_SQL:
        return (decl, None)
    if decl == "array":
        items = next((n["items"] for n in signals.nodes
                      if n.get("items") is not None), None)
        item_signals = _slot_signals(schema, items)
        elem = _slot_decl(item_signals)
        if elem == "null":
            elem = "string"
        if elem is None and (items is None
                             or isinstance(items, (dict, bool))):
            elem = "string"
        if elem in _SCALAR_SQL:
            return ("array", elem)
        if elem in ("object", "array"):
            child = _build_node(schema, items, f"{label} items",
                                reasons, depth + 1, fa, slots,
                                item_signals)
            return None if child is None else ("array", child)
        reasons.append(
            f"{label}: array items need a single scalar/object/array "
            f"type, got {elem!r}")
        return None
    if decl == "object":
        # fixed property sources by name and dynamic-key VALUE sources
        # (dict additionalProperties, every patternProperties value —
        # boolean additionalProperties and propertyNames constrain keys
        # or presence, not value shape), from every conjunctive position
        srcs: Dict[str, list] = {}
        dyn: list = []
        for n in signals.nodes:
            props = n.get("properties")
            if isinstance(props, dict):
                for k, v in props.items():
                    srcs.setdefault(k, []).append(v)
            ap = n.get("additionalProperties")
            if isinstance(ap, dict):
                dyn.append(ap)
            pp = n.get("patternProperties")
            if isinstance(pp, dict):
                dyn.extend(pp.values())
        merged = {k: subs[0] if len(subs) == 1 else {"allOf": subs}
                  for k, subs in srcs.items()}
        if dyn:
            # dynamic-key slot (round 7): a map<string, V> node.  Every
            # value source — dynamic AND fixed properties (their keys
            # live in the same map) — must agree on ONE routing node,
            # so any conforming document's values fit the value slot.
            probe: List[str] = []
            nodes: List[Any] = []
            sources = dyn + list(merged.values())
            source_signals = [_slot_signals(schema, s) for s in sources]
            for s, sig in zip(sources, source_signals):
                n = _build_node(schema, s, f"{label} values", probe,
                                depth + 1, fa, slots, sig)
                if n not in nodes:          # object nodes hold dicts —
                    nodes.append(n)         # dedup by equality, not hash
            nodes = _promote_numeric(nodes)
            typed = nodes[0] if None not in nodes and len(nodes) == 1 \
                else None
            value_node = _dyn_map_node(schema, sub, sources,
                                       source_signals, typed, fa)
            if value_node is not None:
                return ("map", value_node)
            if not merged:
                reasons.append(
                    f"{label}: dynamic-key value schemas disagree on a "
                    "single routing node — kernel only"
                    + (f" ({probe[0]})" if probe else ""))
                return None
            # the values disagree but fixed properties exist: the
            # fixed-key struct below still routes the documents that
            # use only those keys; extra keys take the kernel
        elif not merged:
            # KEYS-ONLY map routing (round 7, session 4): an object
            # with no fixed properties and no dynamic values (bare
            # ``required``, ``propertyNames``, ``dependentRequired``,
            # ``min/maxProperties``, ``dependentSchemas``,
            # ``{"type": "object"}`` …) never reads a value — its
            # keywords constrain the KEY SET.  Such objects route as
            # ``map<string, variant>``: keys are real map keys, values
            # opaque variants no Plane-A predicate touches (the
            # compiler's variant net turns any value-reading subschema
            # into one kernel check over the value's exact rendering).
            # JSON-null values parse as variant nulls — present,
            # exactly like the kernel — so the typed-map null-value
            # hazard doesn't exist here.  unevaluated* anywhere in the
            # subtree compiles as ONE whole-node kernel check, so such
            # an object keeps the empty struct, which routes only
            # ``{}`` (analyze_json_contract refuses it as a root).
            if _reaches_unevaluated(schema, sub):
                return ("object", {})
            return ("map", ("variant", None))
        fields: Dict[str, Tuple[str, Any]] = {}
        ok = True
        for k, s in merged.items():
            if not _routable_name(k):
                reasons.append(
                    f"{label}.{k}: name not addressable in a variant "
                    "path (quote/backslash/control char) — kernel only")
                ok = False
                continue
            child = _build_node(schema, s, f"{label}.{k}",
                                reasons, depth + 1, fa, slots)
            if child is None:
                ok = False
            else:
                fields[k] = child
        return ("object", fields) if ok else None
    if variant_tag_affine(sub, fa):
        # no typed slot exists for this declaration (an unknown type
        # string like "frob", say) but every constraint is a tag
        # check — store the value opaquely and let the compiled tag
        # predicates judge it (an unknown type matches nothing, on
        # both planes)
        return ("variant", None)
    reasons.append(
        f"{label}: no single scalar/array type (got {decl!r})")
    return None


def analyze_json_contract(schema: Any,
                          format_assertion: bool = False) -> JsonColumnPlan:
    """Decide whether a contract's conforming documents are exactly
    representable in one typed root slot (``plan.root``): an
    ``("object", fields)`` struct (nested objects become nested
    ``StructType`` fields, arrays of objects ``ArrayType(StructType)``),
    a ``("map", node)`` when dynamic-key keywords
    (``patternProperties`` / ``additionalProperties``) agree on one
    value node (``("map", ("variant", None))`` for keys-only objects),
    or a ROOT VALUE slot when the documents are bare scalars or arrays
    rather than objects.  Unroutable contracts are not an error —
    ``with_valid_json`` just runs them whole on the kernel plane — but
    the reasons are published so a pipeline owner can see why a
    contract is stuck on the slow plane.  Layouts are drawn from every
    conjunctive position (root keywords, allOf branches, $ref targets)
    — the ``allOf``-composed strict-contract idiom routes like a flat
    one.

    There is ONE layout analysis: the root is built by
    :func:`_build_node` exactly like any nested slot, so a subschema
    gets the same layout at the root as one level down.  Only three
    rules are the root's own: a boolean root has no shape, a
    scope-sensitive ``$dynamicRef`` hoists the whole contract to one
    kernel check, and an empty-struct root (an object carrying
    unevaluated* with nothing else to route) would route only ``{}``.

    ``format_assertion`` must match the validation call's setting: the
    variant-slot choices probe tag-affinity, which classes ``format``
    as inert only while it is annotation-only (round-7 review — a
    mismatch would route contracts whose compiled plans then carry the
    very kernel checks routing was meant to avoid)."""
    if not isinstance(schema, Schema):
        schema = Schema(schema)
    plan = JsonColumnPlan(schema=schema)
    if not isinstance(schema.schema, dict):
        plan.reasons.append("root schema is boolean — no declared shape")
        return plan
    hazard = _dynamic_scope_hazard(schema)
    if hazard is not None:
        # the compiler hoists such contracts to ONE root-level kernel
        # check (compile.py _compile_root) — routing would pay parse +
        # gates to reach a plan that is 100% Plane B anyway
        plan.reasons.append(
            f"scope-sensitive $dynamicRef '#{hazard}' — whole-plan "
            "kernel check, routing buys nothing")
        return plan
    root = _build_node(schema, schema.schema, "root", plan.reasons, 0,
                       format_assertion)
    if root == ("object", {}):
        plan.reasons.append(
            "root has no properties and carries unevaluated* — "
            "whole-plan kernel check, routing buys nothing")
    else:
        plan.root = root
    return plan


def plan_choice(schema: Any, format_assertion: bool = False) -> Dict[str, Any]:
    """The plane ``with_valid_json(plan_shape="auto")`` runs a contract
    on, with the evidence.  Returns::

        {"shape": "route" | "kernel",
         "routable": bool,
         "why": str,                  # human-readable decision reason
         "shortcut_sensitive": bool,  # number slots in the layout —
                                      # integer-form tokens in the data
                                      # would miss the round-trip proof
         "unroutable_reasons": [...]} # analysis reasons when unroutable

    One rule: a routable contract routes, anything else runs on the
    kernel.  Calling it ahead of a deploy shows which plane a contract
    will run on and why."""
    plan = analyze_json_contract(schema, format_assertion=format_assertion)
    # a number slot re-renders integer-form tokens as ``x.0``, so such
    # documents always miss the round-trip proof and take the (correct
    # but slow) gate path
    sensitive = plan.root is not None and _node_has(plan.root, "number")
    if not plan.routable:
        return {"shape": "kernel", "routable": False,
                "why": "contract not routable: " + "; ".join(plan.reasons),
                "shortcut_sensitive": sensitive,
                "unroutable_reasons": list(plan.reasons)}
    return {"shape": "route", "routable": True,
            "why": "routable contract: canonical documents are judged "
                   "columnar, the rest by the kernel"
                   + (" — NOTE: number-typed slots make the round-trip "
                      "shortcut sensitive to integer-form tokens in "
                      "the data (measured 0.68-0.84× when every doc "
                      "misses); watch route_col/ledger metrics"
                      if sensitive else ""),
            "shortcut_sensitive": sensitive,
            "unroutable_reasons": []}


def _decimal_gate(tag: Column, max_int_digits: int = 15) -> Column:
    p = F.regexp_extract(tag, _DECIMAL_RE, 1)
    s = F.regexp_extract(tag, _DECIMAL_RE, 2)
    return (p != "") & ((p.cast("int") - s.cast("int")) <= max_int_digits)


def _exact_long_range(x: Column) -> Column:
    # NOT F.abs: abs(Long.MIN_VALUE) throws under ANSI
    return x.between(F.lit(-_EXACT_LONG), F.lit(_EXACT_LONG))


def _reprable(base: Column, path: str, node: Tuple[str, Any],
              doc: Optional[Column], clean: Optional[Column]) -> Column:
    """True when the PRESENT variant value at ``path`` under ``base``
    is exactly representable in ``node``'s typed slot — the one
    recursive gate, applied once to the plan's root slot (round 7; it
    subsumes the round-6 flat field gate and map-value gate).

    ``doc`` is the root raw JSON string when per-path raw text exists
    (``get_json_object`` powers the ≥16-digit integer-token screens for
    ``number`` slots); a wrapped root value, array-of-node elements,
    map values and bracket-quoted names have no reliable raw path, so
    ``doc`` is None there and the doc-wide ``clean`` screen applies
    (:func:`_node_needs_doc_screen` mirrors this descent) — computed
    ONCE per row in the barrier (inlining ``doc.rlike`` per value would
    re-scan the document each time, round-6 review find).  A hit routes
    to the kernel: slower, never wrong.

    A VOID tag (present JSON null) is never representable — struct
    ``to_json`` omits null fields, so the bridge would read it as
    absent.  Nested objects check key-exactness (``map<string,
    variant>`` extraction is NULL on non-objects = fail-closed) and
    recurse per fixed key; arrays of objects extract
    ``array<variant>`` (NULL on non-arrays) and recurse per element,
    where a VOID element IS representable: a NULL struct element
    round-trips as JSON null and the bridge reads array elements (which
    cannot be "absent") as JSON null — parity pinned differentially."""
    decl, extra = node

    def vg(cast: str) -> Column:
        return F.try_variant_get(base, path, cast)

    if decl == "variant":
        # keys-only map routing: the slot holds ANY JSON value as an
        # opaque variant — presence alone is representable (a VOID tag
        # included: JSON-null map values stay variant nulls, never SQL
        # nulls, so the bridge hazards of typed maps don't exist).  The
        # doc-wide screen still applies: a ≥16-digit token melts
        # through try_parse_json's DOUBLE tag, a big-exponent token
        # overflows to Infinity (rendered back as a STRING), and a
        # Plane-B check reading the value would judge the unfaithful
        # rendering (`clean` carries both regexes for variant plans).
        return clean if clean is not None else F.lit(True)

    tag = F.schema_of_variant(vg("variant"))
    if decl == "integer":
        return (tag == "BIGINT") & _exact_long_range(vg("bigint"))
    if decl == "number":
        screen = (~F.get_json_object(doc, path).rlike(_BIG_INT_SCALAR)) \
            if doc is not None else clean
        return (((tag == "BIGINT") & _exact_long_range(vg("bigint")))
                | ((tag == "DOUBLE") & screen)
                | _decimal_gate(tag))
    if decl == "string":
        return tag == "STRING"
    if decl == "boolean":
        return tag == "BOOLEAN"
    if decl == "object":
        m = vg("map<string, variant>")
        keys = F.map_keys(m)
        if extra:
            known = F.array(*[F.lit(n) for n in extra])
            ok = m.isNotNull() & (F.size(F.array_except(keys, known)) == 0)
        else:
            # bare {"type": "object"} node: only the empty object is
            # representable in an empty struct; any key → kernel
            ok = m.isNotNull() & (F.size(keys) == 0)
        for name, child in extra.items():
            # bracket-addressed names: get_json_object cannot address
            # every such path (the empty name, e.g.), so number slots
            # below a quoted name fall back to the doc-wide screen
            # (doc=None → clean; _node_needs_doc_screen mirrors this)
            child_doc = doc if _NAME_RE.match(name) else None
            ok = ok & _slot_ok(base, f"{path}{_vpath(name)}", child,
                               child_doc, clean)
        return ok
    if decl == "map":
        # dynamic-key node: any key set; every PRESENT value must be
        # representable in the value node.  A VOID value is not — the
        # bridge reads a NULL map entry as "absent key" while the
        # kernel sees a present null — and _reprable already rejects
        # VOID in every value branch.  Duplicate keys anywhere null
        # the whole-doc variant parse, so the gate path never sees
        # them (the shortcut path is guarded in _exact_guard).
        m = vg("map<string, variant>")
        value_node = extra

        def entry_bad(k: Column, vv: Column) -> Column:
            return ~F.coalesce(_reprable(vv, "$", value_node, None, clean),
                               F.lit(False))

        return m.isNotNull() & (F.size(F.map_filter(m, entry_bad)) == 0)
    # array slots
    if isinstance(extra, str):                    # array of scalars
        elem = extra
        if elem == "integer":
            arr = vg("array<bigint>")
            return (tag == "ARRAY<VOID>") | (
                (tag == "ARRAY<BIGINT>")
                & F.forall(arr, lambda e: e.isNull() | _exact_long_range(e)))
        if elem == "number":
            arr = vg("array<bigint>")
            screen = (~F.get_json_object(doc, path).rlike(_BIG_INT_IN_ARRAY)) \
                if doc is not None else clean
            dec_elem = F.regexp_extract(tag, r"ARRAY<" + _DECIMAL_RE + ">", 0)
            return (
                (tag == "ARRAY<VOID>")
                | ((tag == "ARRAY<BIGINT>")
                   & F.forall(arr, lambda e: e.isNull()
                              | _exact_long_range(e)))
                | ((tag == "ARRAY<DOUBLE>") & screen)
                | ((dec_elem != "")
                   & _decimal_gate(F.replace(F.replace(
                       tag, F.lit("ARRAY<"), F.lit("")),
                       F.lit(">"), F.lit(""))))
            )
        if elem == "string":
            return tag.isin("ARRAY<VOID>", "ARRAY<STRING>")
        return tag.isin("ARRAY<VOID>", "ARRAY<BOOLEAN>")
    # array of nodes: per-element recursion against the ELEMENT variant
    # (no per-element raw path — number screens fall to `clean`)
    arr = vg("array<variant>")
    child_node = extra

    def elem_ok(e: Column) -> Column:
        etag = F.schema_of_variant(e)
        return (etag == "VOID") | F.coalesce(
            _reprable(e, "$", child_node, None, clean), F.lit(False))

    return arr.isNotNull() & F.forall(arr, elem_ok)


def _slot_ok(base: Column, path: str, node: Tuple[str, Any],
             doc: Optional[Column], clean: Optional[Column]) -> Column:
    """Absent-or-representable: absent fields (tag SQL NULL) pass —
    absent maps to struct NULL = absent under the bridge."""
    tag = F.schema_of_variant(F.try_variant_get(base, path, "variant"))
    return tag.isNull() | F.coalesce(
        _reprable(base, path, node, doc, clean), F.lit(False))


def _exact_guard(col: Column, node: Tuple[str, Any]) -> Optional[Column]:
    """Round-trip-shortcut guard.  Two hazard classes the to_json
    equality cannot see:

    - no integer slot anywhere under ``col`` exceeds ±2^53 (an exact
      int64 in (2^53, 2^63] round-trips verbatim but the kernel
      applies JS float semantics there);
    - map nodes (round 7): ``from_json`` KEEPS duplicate keys in the
      map binary and ``to_json`` renders them all back — a dup-key
      canonical doc round-trips, but the map lookup is first-match vs
      the kernel's last-wins; and a JSON-null map value renders back
      while the bridge reads the NULL entry as "absent key".  Both
      route to the kernel.

    None when the subtree has neither hazard — no guard expression
    built.  Null-safe at every level: a NULL struct/array/map (absent /
    JSON null) passes, and NULL propagates through nested field
    access."""
    decl, extra = node
    if decl == "integer":
        return col.isNull() | _exact_long_range(col)
    if decl == "array":
        if isinstance(extra, str):
            if extra != "integer":
                return None
            return col.isNull() | F.forall(
                col, lambda x: x.isNull() | _exact_long_range(x))
        if not (_node_has(extra, "integer") or _node_has(extra, "map")):
            return None
        child_node = extra

        def elem_guard(e: Column) -> Column:
            g = _exact_guard(e, child_node)
            return F.lit(True) if g is None else F.coalesce(g, F.lit(True))

        return col.isNull() | F.forall(col, elem_guard)
    if decl == "object":
        subs = [g for n, c in extra.items()
                if (g := _exact_guard(col.getField(n), c)) is not None]
        if not subs:
            return None
        return functools.reduce(lambda a, b: a & b, subs)
    if decl == "map":
        keys = F.map_keys(col)
        g = ((F.size(keys) == F.size(F.array_distinct(keys)))
             & ~F.exists(F.map_values(col), lambda x: x.isNull()))
        child_node = extra
        if _node_has(child_node, "integer") or _node_has(child_node, "map"):
            def val_guard(x: Column) -> Column:
                vg_ = _exact_guard(x, child_node)
                return F.lit(True) if vg_ is None \
                    else F.coalesce(vg_, F.lit(True))

            g = g & F.forall(F.map_values(col), val_guard)
        return col.isNull() | g
    return None


def with_valid_json(df: DataFrame, json_col: str, schema: Any,
                    col_name: str = "valid",
                    format_assertion: bool = False,
                    remotes: Optional[dict] = None,
                    route_col: Optional[str] = None,
                    plan_shape: str = "auto") -> DataFrame:
    """``validate()`` over a JSON string column: adds a boolean column,
    computed JVM-side for every row whose document fits the contract's
    typed shape, by the row kernel for the rest.  ``route_col`` (when
    set) additionally records which plane judged each row — the
    observability knob for route-rate monitoring at scale.

    ``plan_shape``: ``"auto"`` (default) routes every routable
    contract and runs the rest on the kernel — :func:`plan_choice`
    previews the decision.  The routed plan is one pass (see the module
    docstring): kernel UDF input masked to NULL on routed rows, no
    shuffle, single scan.  Catalyst extracts Python UDFs out of
    CaseWhen branches, so a compiled plan carrying Plane-B checks
    (variant nets, whole-node unevaluated gates, recursive-tail nets)
    runs them on every row; measured, that still beats splitting the
    rows into a fast and a slow branch.  ``"kernel"`` forces the kernel
    UDF on every row (skips the routing analysis entirely): the opt-out
    for data that systematically misses the ``to_json`` round-trip
    proof (integer-form tokens in a ``number``-typed slot —
    ``plan_choice(...)["shortcut_sensitive"]`` flags the layout;
    measured 0.68× when every doc misses; watch ``route_col``/ledger
    metrics), and for small batches where the kernel's single stage
    was measured faster (30k docs, local[4]: the route ran 0.74-0.83×
    the kernel).

    Verdict-equivalent to ``kernel_validate_udf(schema)(json_col)`` on
    every row (differentially pinned in tests/test_json_plane.py)."""
    from jema_js_spark.validation.kernel_udf import kernel_validate_udf

    if plan_shape not in ("auto", "kernel"):
        raise ValueError(f"unknown plan_shape {plan_shape!r}")
    df = _maybe_consolidate(df)
    contract_json = contract_key(schema)
    if plan_shape == "kernel":
        # the kernel opt-out exists for hot paths: skip the routing
        # analysis too, not just the routed plan
        if not isinstance(schema, Schema):
            schema = Schema(schema)
        plan = None
    else:
        schema, plan = _cached_analysis(schema, contract_json,
                                        format_assertion)

    # built only where a plan needs it: constructing the UDF parses its
    # return type over py4j, wasted on a masked-memo hit
    def kernel_verdict(doc_col: Column) -> Column:
        udf = kernel_validate_udf(schema.schema, remotes=remotes,
                                  format_assertion=format_assertion)
        return F.coalesce(udf(doc_col), F.lit(False))

    if plan is None or not plan.routable:
        out = df.withColumn(col_name, kernel_verdict(F.col(json_col)))
        if route_col:
            out = out.withColumn(route_col, F.lit("kernel"))
        return out

    cache_key = _route_bundle_key(json_col, contract_json,
                                  format_assertion)
    b3, route, compiled, work = _routing_pieces(
        df, json_col, schema, plan, format_assertion, cache_key=cache_key)
    doc = F.col(json_col)

    import json as _json
    mkey = None if cache_key is None else (
        "json_plane.masked", cache_key,
        _json.dumps(remotes, sort_keys=True) if remotes else None)
    masked = cached_column(mkey, lambda: F.when(
        route, compiled.valid_column()).otherwise(
        kernel_verdict(F.when(~route, doc))))
    out = b3.withColumn(col_name, masked)
    if route_col:
        out = out.withColumn(route_col, F.when(
            route, F.lit("columnar")).otherwise(F.lit("kernel")))
    return out.drop(*work)


# Small-partition consolidation for Python-stage plans (round 9).  An
# ArrowEvalPython task has a fixed cost regardless of rows: about 65 ms
# of core time per task with the workers' zipimport hook
# (kernel_udf._skip_unchanged_zip_rereads), about 260 ms without it (a
# trivial pandas UDF over 64 vs 4 partitions, local[4] on a 4-vCPU
# box), so a plan whose partitions hold only a few thousand documents
# pays a pure per-task tax: 1M cached docs in 96 partitions ran the masked plan in 1.51 s
# vs 0.95 s after a narrow (no-shuffle) coalesce to the core count.
# This is the no-shuffle analog of AQE's post-shuffle small-partition
# coalescing, decided from the optimizer's size estimate: it fires
# ONLY when the whole input is small (< _CONSOLIDATE_MAX_INPUT), so
# production-scale scans — guide §6 partitions of 128 MB-1 GB, inputs
# of TBs — are never touched and keep their retry/straggler
# granularity.  Streaming plans are left alone: the trigger, not the
# plan, sets a microbatch's size.
_CONSOLIDATE_MAX_INPUT = 8 << 30
_CONSOLIDATE_TARGET_BYTES = 64 << 20


def _maybe_consolidate(df: DataFrame) -> DataFrame:
    if df.isStreaming:
        return df
    try:
        size = int(str(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))
    except Exception:
        return df
    if size <= 0 or size >= _CONSOLIDATE_MAX_INPUT:
        return df
    target = max(df.sparkSession.sparkContext.defaultParallelism,
                 size // _CONSOLIDATE_TARGET_BYTES + 1)
    return df.coalesce(target)   # no-op when target >= current partitions


# Round 9: session-scoped memos (runtime/colcache.py).  Building the
# routed plan's expression trees (parse struct, round-trip guards,
# sentinel wrap, variant gates, compiled Plane-A plan) is driver-side
# py4j work measured at ~0.6 s per with_valid_json call for the
# representative contract — paid per QUERY even when the (contract,
# column) pair is unchanged.  The route bundle is df-independent (every
# expression addresses the input by column name and the generated __j*
# attributes), so it is reusable across DataFrames within one Spark
# application; so is the masked verdict Column (its construction
# registers the kernel UDF with the JVM — the most expensive single
# py4j call in the plan build) and the pure-Python contract analysis
# (one shared Schema instance also keeps the kernel's id()-keyed node
# plans warm).  Caches expression CONSTRUCTION only — each query still
# builds a fresh DataFrame lineage and recomputes from its inputs.
# Only plain-dict contracts are cached (a caller-supplied Schema may
# carry a registry whose remote documents the compiled Plane-B
# fallbacks embed — ``contract_key`` is None for one, so it is analyzed
# uncached); every memo keys on ``contract_key``'s text, taken once per
# call.
def _cached_analysis(schema: Any, contract_json: Optional[str],
                     format_assertion: bool):
    """``(Schema, JsonColumnPlan)`` for a contract dict or a Schema."""
    def build():
        s = schema if isinstance(schema, Schema) else Schema(schema)
        return s, analyze_json_contract(
            s, format_assertion=format_assertion)

    key = None if contract_json is None else (
        "json_plane.analyze", contract_json, format_assertion)
    return cached_column(key, build)


def _route_bundle_key(json_col: str, contract_json: Optional[str],
                      format_assertion: bool):
    if contract_json is None:
        return None
    return ("json_plane.route_bundle", contract_json, format_assertion,
            json_col)


def _routing_pieces(df: DataFrame, json_col: str, schema: Schema,
                    plan: JsonColumnPlan, format_assertion: bool,
                    cache_key: Optional[tuple] = None):
    """The shared routing construction for a ROUTABLE contract: the
    staged DataFrame (parse → round-trip shortcut → lazy variant), the
    per-row ``route`` predicate, the compiled Plane-A plan over the
    typed extraction, and the working-column names to drop.  Used by
    :func:`with_valid_json` (verdicts) and :func:`json_violation_rows`
    (screening — which needs the route and the columnar verdict but NOT
    a kernel verdict pass)."""
    reserved = {"__jp", "__jsc", "__jw", "__jv", "__jr"} & set(df.columns)
    if reserved:
        raise ValueError(
            f"with_valid_json reserves working columns {sorted(reserved)}; "
            "rename or drop them on the input")

    work = ["__jp", "__jsc", "__jw", "__jv", "__jr"]
    bundle = cached_column(cache_key, lambda: _route_bundle(
        json_col, schema, plan, format_assertion))
    b4 = (df.select("*", bundle["jp"])
          .select("*", bundle["jsc"])
          .select("*", bundle["jw"])
          .select("*", bundle["jv"])
          .select("*", bundle["jr"]))
    return b4, bundle["route"], bundle["compiled"], work


def _route_bundle(json_col: str, schema: Schema, plan: JsonColumnPlan,
                  format_assertion: bool) -> dict:
    """The df-independent expression bundle behind
    :func:`_routing_pieces` — see the staging rationale inline."""
    doc = F.col(json_col)
    root = plan.root
    wrapped = plan.wrapped

    # Root values (round 7): ``from_json`` cannot parse a bare scalar,
    # so a plan whose root slot is not an object or a map parses the
    # doc WRAPPED as ``{"v": <doc>}`` into struct<v: T>.  The round-trip
    # proof compares against the same wrapped string: ``to_json(p)``
    # is ``{"v":`` + canonical(v) + ``}`` by construction, so equality
    # forces the raw doc to BE canonical(v) — no document text can
    # spoof it (an injection like ``5,"v":6`` changes the parse, fails
    # the equality, and the variant gates below run on the RAW doc, so
    # wrapper tricks only cost speed, never a verdict).
    parse_src = F.concat(F.lit('{"v":'), doc, F.lit('}')) \
        if wrapped else doc

    # Generate-node barriers (explode of a 1-element array): Catalyst
    # re-inlines a derived column's defining expression into EVERY
    # downstream reference (the documented ~100× minhash hazard,
    # CLAUDE.md).  Each multiply-referenced stage becomes a generated
    # attribute: parsed once per row, referenced for free.  (Round-6
    # measurement: inlining the parse into a single barrier's struct is
    # NOT saved by subexpression elimination — 2.27 s vs 1.24 s at 1M
    # docs — so the stages stay separate.)
    #
    # Stage 1: the typed struct, parsed directly from the string.  This
    # is the ONLY JSON parse canonical documents pay.
    jp = F.explode(F.array(
        F.from_json(parse_src, plan.struct_type()))).alias("__jp")
    p = F.col("__jp")
    slot, slot_type = plan.slot(p)

    # Stage 2: the round-trip shortcut.  ``to_json(p) == doc`` proves
    # the document is exactly the canonical rendering of the struct:
    # wrong types parse to NULL and are OMITTED from the re-rendering,
    # non-objects render as "{}", duplicate keys collapse, extra keys
    # vanish, JSON-null properties are omitted (absent ⇔ SQL NULL under
    # the bridge — a present null must NOT match, and doesn't), and any
    # number the double slot can't render back verbatim (int tokens,
    # 17+ significant digits, exponent-form mismatches) fails the
    # equality.  All hazards fall through to the variant gates =
    # fail-closed.  Residues the equality cannot see: an integer slot
    # holding an exact int64 in (2^53, 2^63) round-trips, but the
    # kernel applies JS float semantics there; and map slots keep
    # duplicate keys and JSON-null values through the round trip —
    # _exact_guard routes all of these to the kernel.  (Null array
    # ELEMENTS round-trip and stay columnar: the bridge reads them as
    # JSON null, parity pinned in tests.)
    guards = [F.to_json(p) == parse_src]
    g = _exact_guard(slot, root)
    if g is not None:
        guards.append(g)
    jsc = F.explode(F.array(F.coalesce(
        functools.reduce(lambda a, b: a & b, guards),
        F.lit(False)))).alias("__jsc")
    sc = F.col("__jsc")

    # Stage 3: the variant, parsed ONLY for shortcut misses (CaseWhen
    # branches evaluate lazily per row) — canonical documents never pay
    # a second parse.
    #
    # COMPLETENESS PROOF (round 7 — closes a live round-6 hole): every
    # Jackson-backed Spark parse (from_json, try_parse_json,
    # get_json_object, json_tuple, …) is PREFIX-lenient — it consumes
    # one complete value and silently ignores trailing content, so
    # '{"k":1} junk' parses as {"k":1} and would route columnar while
    # the kernel's json.loads rejects the document.  No strict JVM
    # parser exists, so the proof is structural: parse the doc wrapped
    # as  [<doc>,"<md5(doc)>"]  and require the result to be an array
    # of EXACTLY two elements whose second equals the sentinel.  A doc
    # that is exactly one JSON value always qualifies; trailing garbage
    # either breaks the array syntax (parse → NULL) or changes the
    # element count; and the only way to fake the shape is a document
    # that CONTAINS its own md5 followed by ']' — a hash fixed point,
    # computationally infeasible.  Canonical-whitespace variants, key
    # order, and number forms are untouched, so the route rate is
    # unchanged; the gates' variant becomes element 0 of the SAME
    # single parse (no second pass).  Jackson also rejects \x0b/\f
    # between the value and our sentinel comma, matching json.loads's
    # stricter whitespace rules.
    #
    # The doc-wide big-int screen is materialized in the same barrier
    # once per row when any number slot lacks a per-value raw path:
    # map values (dynamic keys), slots below an array-of-object element
    # or a bracket-quoted name, or any slot of a wrapped root value —
    # the gates judge the raw doc, which IS the value there, so a
    # per-path get_json_object buys nothing (see _reprable).
    sentinel = F.md5(doc)
    wrapped_arr = F.concat(F.lit('['), doc, F.lit(',"'), sentinel,
                           F.lit('"]'))
    # the sentinel rides the barrier as a real attribute: referencing
    # the raw F.md5(doc) expression again downstream would re-hash the
    # whole document per miss row (Catalyst re-inlines, see above)
    jw = F.explode(F.array(F.when(~sc, F.struct(
        F.try_parse_json(wrapped_arr).alias("w"),
        sentinel.alias("s"))))).alias("__jw")
    vw = F.col("__jw.w")
    complete = (
        vw.isNotNull()
        & F.try_variant_get(vw, "$[2]", "variant").isNull()
        & (F.try_variant_get(vw, "$[1]", "string") == F.col("__jw.s")))
    v_expr = F.when(complete, F.try_variant_get(vw, "$[0]", "variant"))
    if _node_needs_doc_screen(root, wrapped):
        # plans carrying variant slots also screen big exponents: a
        # non-finite double inside an opaque value renders as the
        # string "Infinity" wherever a Plane-B check reads it (variants
        # have no float_paths restoration) — one merged regex, one scan
        screen_re = _BIG_INT_OR_EXP_ANYWHERE \
            if _node_has(root, "variant") else _BIG_INT_ANYWHERE
        jv = F.explode(F.array(F.when(~sc, F.struct(
            v_expr.alias("v"),
            (~doc.rlike(screen_re)).alias("clean"),
        )))).alias("__jv")
        v = F.col("__jv.v")
        clean = F.col("__jv.clean")
    else:
        jv = F.explode(F.array(
            F.when(~sc, v_expr))).alias("__jv")
        v = F.col("__jv")
        clean = None

    # the gates judge the RAW doc (never the wrapped parse): one
    # recursive representability check of the root slot — key
    # exactness and per-value recursion (nested objects, arrays of
    # objects, map values) all live in _reprable.  A VOID root (doc
    # "null") is not representable — p.v NULL would read as absent
    # under the bridge — and _reprable rejects it.
    gates = [
        v.isNotNull(),     # parses COMPLETELY; no duplicate keys
        _reprable(v, "$", root, None if wrapped else doc, clean),
        # documents carrying surrogate escape tokens take the kernel —
        # the JVM parse replaces lone surrogates while the kernel keeps
        # them (see _SURROGATE_ESC_ANYWHERE)
        ~doc.rlike(_SURROGATE_ESC_ANYWHERE),
    ]
    full_gates = functools.reduce(lambda a, b: a & b, gates)
    # shortcut hits skip the gate chain entirely (CaseWhen-lazy).  The
    # route verdict is then MATERIALIZED as a generated attribute
    # (round 8): the masked plan references `route` twice (the
    # CaseWhen + the kernel-input mask), and Catalyst re-inlines the
    # gate expression tree into each reference
    # — on gate-path rows that re-ran schema_of_variant/_reprable
    # trees per consumer (part of the measured 4-5× residue-stream
    # overhead, BENCH/route_cost_calibration.json).
    route_expr = F.when(sc, F.lit(True)) \
        .otherwise(F.coalesce(full_gates, F.lit(False)))
    jr = F.explode(F.array(route_expr)).alias("__jr")
    route = F.coalesce(F.col("__jr"), F.lit(False))

    # a wrapped root compiles against the single extracted value
    # column — the schema root applies to p.v, not the wrapper
    compiled: CompiledPlan = SchemaCompiler(
        schema, format_assertion=format_assertion) \
        .compile_plan_for_column(slot, slot_type)

    return {"jp": jp, "jsc": jsc, "jw": jw, "jv": jv, "jr": jr,
            "route": route, "compiled": compiled}


def json_violation_rows(df: DataFrame, json_col: str, schema: Any,
                        id_cols: Optional[List[str]] = None,
                        format_assertion: bool = False,
                        remotes: Optional[dict] = None) -> DataFrame:
    """``errors()`` over a JSON string column — the errors-path twin of
    :func:`with_valid_json`, completing the reference API triple
    (validate / errors) for dynamic JSON.  One output row per kernel
    error, carrying the reference's error fields in the same column
    shape as the row-plane ``violation_rows`` (check, keyword,
    schema_path, data_path, schema_value, message — schema.js:665-674;
    messages come straight from the kernel, so they are byte-identical
    to the reference's).

    Scale shape (round-6 rework): the columnar route SCREENS, it does
    not verdict — residue = every row except the columnar-routed-and-
    columnar-valid ones, computed with zero Python (the kernel verdict
    pass the round-5 implementation ran over the residue was redundant:
    ``iter_errors`` itself emits nothing for valid documents).  The
    screened residue feeds ``iter_errors`` in the scan's own stage, at
    the input's partitioning as ``_maybe_consolidate`` sizes it.  Do
    not rebalance it: AQE's byte-sized coalescing packs a small residue
    into ONE partition, i.e. one Python task for all the errors work.
    The zero-Python JVM screen applies when the compiled plan is pure
    Plane A; a plan CARRYING Plane-B checks screens with the masked
    whole-doc verdict UDF instead (round 7 — input nulled on rows the
    screen cannot exonerate anyway, so the boolean kernel walk runs
    only on routed rows passing every Plane-A check, and the expensive
    ``iter_errors`` pass shrinks to actually-invalid rows).  Unroutable
    contracts skip screening — ``iter_errors`` does its own.

    Unparseable documents (malformed JSON — a state the reference's
    in-memory API cannot even receive) emit a single synthetic row
    with keyword ``__parse__``.  Duplicate-key documents are NOT
    unparseable here: ``json.loads`` applies last-key-wins (as JS
    ``JSON.parse`` does), so they are judged and error-reported like
    any other document.  Kernel-level failures (depth limit,
    unresolvable refs) emit keyword ``__error__``."""
    import json as _json

    from jema_js_spark.kernel.jstypes import js_to_string

    id_cols = list(id_cols or [])
    base = _maybe_consolidate(df.select(*id_cols, json_col))
    contract_json = contract_key(schema)
    schema, plan = _cached_analysis(schema, contract_json, format_assertion)
    screened = False
    if plan.routable:
        b3, route, compiled, work = _routing_pieces(
            base, json_col, schema, plan, format_assertion,
            cache_key=_route_bundle_key(json_col, contract_json,
                                        format_assertion))
        if compiled.coverage()["plane_b_checks"] == 0:
            residue = b3.filter(~(route & F.coalesce(
                compiled.valid_column(), F.lit(False)))).drop(*work)
            screened = True
        else:
            # Masked-kernel screen (round 7, VERDICT r6 #5).  A Plane-B
            # check cannot sit inside the JVM filter — its kernel UDF
            # would be projected over EVERY row — so round 6 skipped
            # screening entirely for these contracts, leaving the
            # errors pass kernel-bound for exactly the contracts that
            # are already slowest.  Instead: screen with the whole-doc
            # VERDICT UDF (the kernel's boolean mode: it stops at the
            # first failure and formats no messages), its input masked
            # to NULL on rows that are in the residue regardless —
            # unrouted rows (iter_errors self-screens them) and routed
            # rows failing a Plane-A check (invalid without consulting
            # the kernel).  The masked rows cost one vectorized fill
            # (kernel_udf null fast path); only routed-and-Plane-A-ok
            # rows pay a real kernel walk, and of those only the
            # actually-invalid ones reach iter_errors.  Masked rows'
            # verdict values are irrelevant: `keep` is already False.
            from jema_js_spark.validation.kernel_udf import \
                kernel_validate_udf
            verdict_pred = kernel_validate_udf(
                schema.schema, remotes=remotes,
                format_assertion=format_assertion)
            keep = route & F.coalesce(compiled.plane_a_column(),
                                      F.lit(False))
            residue = b3.filter(~(keep & F.coalesce(
                verdict_pred(F.when(keep, F.col(json_col))),
                F.lit(False)))).drop(*work)
            screened = True
    if not screened:
        residue = base                     # iter_errors screens itself
    schema_json = _json.dumps(schema.schema)
    remotes_json = _json.dumps(remotes) if remotes else None

    id_fields = [f"`{f.name}` {f.dataType.simpleString()}"
                 for f in df.select(*id_cols).schema.fields]
    out_schema = ", ".join(id_fields + [
        "check string", "keyword string", "schema_path string",
        "data_path string", "schema_value string", "message string"])

    def run(batches):
        import pandas as pd

        from jema_js_spark.validation.kernel_udf import (_get_validator,
                                                          loads_doc)

        v = _get_validator(schema_json, remotes_json, format_assertion)
        cols = id_cols + ["check", "keyword", "schema_path", "data_path",
                          "schema_value", "message"]
        for pdf in batches:
            rows = []
            # positional column zip, NOT itertuples: pandas renames
            # non-identifier / underscore-leading column names (e.g. a
            # document-store `_id`) to positional `_1`-style fields,
            # which would AttributeError per task (round-5 review find)
            id_arrays = [pdf[c].tolist() for c in id_cols]
            doc_array = pdf[json_col].tolist()
            for row_i, doc in enumerate(doc_array):
                ids = [a[row_i] for a in id_arrays]
                try:
                    value = loads_doc(doc)
                except (TypeError, ValueError):
                    rows.append(ids + ["__parse__", "__parse__", "[]", "[]",
                                       "", "document is not parseable JSON"])
                    continue
                try:
                    for err in v.iter_errors(value):
                        spath = [str(x) for x in err.schema_stack]
                        keyword = next(
                            (x for x in reversed(spath)
                             if not x.isdigit()), "")
                        rows.append(ids + [
                            ".".join(spath), keyword,
                            _json.dumps(err.schema_stack),
                            _json.dumps(err.data_stack),
                            js_to_string(err.schema_value),
                            err.message])
                except Exception as exc:
                    rows.append(ids + ["__error__", "__error__", "[]", "[]",
                                       "", str(exc)[:200]])
            yield pd.DataFrame(rows, columns=cols)

    return residue.mapInPandas(run, out_schema)
