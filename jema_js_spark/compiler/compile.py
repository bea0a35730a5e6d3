"""Plane-A columnar compiler: JSON Schema → Catalyst ``Column``
predicate DAG (SURVEY.md §7.0/§7.3).

Where the reference interprets the schema per document with a recursive
generator (/root/reference/schema.js:185-338), this compiler runs once
on the driver and flattens the schema into named boolean ``Column``
expressions over a typed DataFrame — pure JVM whole-stage-codegen
predicates, zero Python at runtime.  Keyword subtrees outside the
vectorizable subset fall back to Plane B: the row kernel executed
batch-wise inside an Arrow ``pandas_udf`` (never per-row Python UDFs,
per the input contract).

Typed-column semantics (the relational bridge, SURVEY.md §1.1/§7.4):

- SQL ``NULL`` ⇔ JSON ``null`` *and* "missing" — a flat table cannot
  distinguish them, and the reference itself treats ``undefined`` as
  null (schema.js:678).  Hence ``required`` compiles to ``IS NOT
  NULL`` and ``type: 'null'`` to ``IS NULL``.
- a keyword whose ``affects`` type cannot match the column's static
  type is folded to ``TRUE`` at compile time (the columnar analog of
  the vacuous type-gate at schema.js:199, applied once in
  ``_compile_node`` from the kernel's vocabulary) — constant-folding
  erases it from the physical plan.
- non-finite doubles match no JSON type (schema.js:680), so ``type:
  'number'`` on a double column carries an ``isnan``/infinity guard.
- ``TimestampType`` columns stand for ``{type: 'string', format:
  'date-time'}`` strings (the reference's own storage bridge,
  tools/toSql.js:39-41,105-107).
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field as dc_field
from typing import Any, Callable, Dict, Iterator, List, Optional, Tuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from jema_js_spark.kernel.jstypes import js_to_string
from jema_js_spark.kernel.kernel import _VOCABULARY as _KERNEL_VOCABULARY
from jema_js_spark.kernel.regex_js import (
    UnsupportedRegexError,
    compile_js_regex,
    java_regex_explain,
    java_regex_or_none,
)
from jema_js_spark.schema.frontend import Schema, iter_subschemas

__all__ = ["SchemaCompiler", "CompiledPlan", "CheckSpec", "ColumnarUnsupported"]

_DOUBLE_INF = float("inf")


class ColumnarUnsupported(Exception):
    """Keyword subtree has no faithful columnar form → Plane B."""


@dataclass
class CheckSpec:
    """One named constraint — the columnar analog of one reference
    error site (schema.js:665-674)."""

    name: str                 # e.g. 'properties.url.pattern'
    keyword: str
    schema_path: Tuple[Any, ...]
    data_path: Tuple[Any, ...]
    schema_value: Any
    predicate: Column         # True (never NULL) == row passes
    plane: str                # 'A' (pure Catalyst) or 'B' (Arrow kernel)
    value_col: Optional[Column] = None  # offending value for messages
    # WHY a check left pure Plane A (round 7, VERDICT r6 #7): the
    # ColumnarUnsupported reason / regex-translator decision, surfaced by
    # CompiledPlan.coverage() so fallback causes are countable per corpus
    note: Optional[str] = None

    @property
    def message(self) -> str:
        # static part of the reference message template (value prefix is
        # appended columnar-side in the violations projection)
        if self.keyword == "required":
            # special template (schema.js:593): the stack's last keyword
            # is the required-array INDEX, e.g. "missing required
            # property 0:url"
            idx = self.schema_path[-1] if self.schema_path else 0
            return (f"missing required property "
                    f"{idx}:{js_to_string(self.schema_value)}")
        if self.keyword == "false-schema":
            # special template (schema.js:186): the stack ends at the
            # edge NAME under which the false schema sits ('null' at
            # the root, where the stack is empty)
            last = js_to_string(self.schema_path[-1]) \
                if self.schema_path else "null"
            return f"fails, false-schema at: {last}:false"
        # NOTE (bounded divergence, documented): for contains-bounds and
        # combinator errors the reference's lastKeyword is whatever
        # evaluation-order residue sits on its mutable schema stack —
        # data-dependent and not expressible in a static column; the
        # columnar message renders the canonical keyword instead.  All
        # other fields (check, keyword, paths, schema_value) match.
        return f"does not match {self.keyword}:{js_to_string(self.schema_value)}"


@dataclass
class _TExpr:
    """A typed value expression during compilation: either the row
    itself (``is_row``: a non-null struct of top-level columns, its
    ``dtype`` the DataFrame schema) or a column/lambda expression with
    its Spark type."""

    col: Optional[Column]
    dtype: Optional[T.DataType]
    is_row: bool = False

    def json_type(self) -> Optional[str]:
        """Static JSON type when non-null, per the bridge table
        (SURVEY.md §1.1)."""
        d = self.dtype
        if isinstance(d, (T.ByteType, T.ShortType, T.IntegerType, T.LongType,
                          T.FloatType, T.DoubleType, T.DecimalType)):
            return "number"
        if isinstance(d, (T.StringType, T.BinaryType, T.TimestampType,
                          T.TimestampNTZType, T.DateType)):
            return "string"
        if isinstance(d, T.BooleanType):
            return "boolean"
        if isinstance(d, T.ArrayType):
            return "array"
        if isinstance(d, (T.StructType, T.MapType)):
            return "object"
        if isinstance(d, T.NullType):
            return "null"
        return None

    def is_integral_type(self) -> bool:
        return isinstance(self.dtype, (T.ByteType, T.ShortType, T.IntegerType,
                                       T.LongType))

    def is_float_type(self) -> bool:
        return isinstance(self.dtype, (T.FloatType, T.DoubleType))

    def null_col(self) -> Column:
        if self.is_row:
            return F.lit(False)
        return self.col.isNull()

    def string_col(self) -> Column:
        """The value as a JSON-string-semantics column (code points)."""
        d = self.dtype
        if isinstance(d, T.BinaryType):
            return F.decode(self.col, "UTF-8")
        if isinstance(d, (T.TimestampType, T.TimestampNTZType)):
            # the storage bridge: timestamp ⇔ RFC3339 date-time string
            return F.date_format(self.col, "yyyy-MM-dd'T'HH:mm:ss'Z'")
        if isinstance(d, T.DateType):
            return F.date_format(self.col, "yyyy-MM-dd")
        return self.col

    def is_map(self) -> bool:
        """Dynamic-keyed object: ``map<string, V>`` (round 6 — object
        keywords compile to map lambdas instead of falling to the
        kernel; SURVEY §2.6 names this mapping)."""
        return isinstance(self.dtype, T.MapType) \
            and isinstance(self.dtype.keyType, T.StringType)

    def member(self, name: str) -> Optional["_TExpr"]:
        """The value under key ``name`` of an object: the map entry
        (NULL when the key is absent OR its value is JSON null, exactly
        the relational bridge's struct-field semantics), the struct
        field, or None when the struct has no such field — a key that
        can never be present."""
        if self.is_map():
            return _TExpr(F.try_element_at(self.col, F.lit(name)),
                          self.dtype.valueType)
        return self.field(name) if name in self.field_names() else None

    def field_names(self) -> List[str]:
        if isinstance(self.dtype, T.StructType):
            return [f.name for f in self.dtype.fields]
        raise ColumnarUnsupported("dynamic object shape")

    def field(self, name: str) -> "_TExpr":
        if not isinstance(self.dtype, T.StructType):
            raise ColumnarUnsupported("field access on non-struct")
        for f in self.dtype.fields:
            if f.name == name:
                col = F.col(name) if self.is_row else self.col.getField(name)
                return _TExpr(col, f.dataType)
        raise KeyError(name)

    def to_json_col(self) -> Column:
        """JSON serialization for Plane-B handoff (Arrow batch of JSON
        strings)."""
        if self.is_row:
            return F.to_json(F.struct(*[
                _bridge_json_value(F.col(f.name), f.dataType).alias(f.name)
                for f in self.dtype.fields]))
        d = self.dtype
        if isinstance(d, (T.StructType, T.ArrayType, T.MapType)):
            return F.to_json(_bridge_json_value(self.col, d))
        # scalars: wrap in a 1-element array — lossless JSON literals
        # (get_json_object would strip string quoting and break parsing);
        # the kernel UDF unwraps (needs_unwrap)
        return F.to_json(F.array(self.col))

    def needs_unwrap(self) -> bool:
        return not isinstance(self.dtype,
                              (T.StructType, T.ArrayType, T.MapType))

    def float_paths(self) -> list:
        """Paths of float/double fields inside the serialized value —
        JSON cannot carry NaN/Infinity, so ``to_json`` stringifies them
        and the kernel must restore the numbers at exactly these paths
        ('*' = array element)."""
        def walk(dtype, prefix):
            if isinstance(dtype, (T.FloatType, T.DoubleType)):
                return [prefix]
            if isinstance(dtype, T.StructType):
                out = []
                for f in dtype.fields:
                    out += walk(f.dataType, prefix + (f.name,))
                return out
            if isinstance(dtype, T.ArrayType):
                return walk(dtype.elementType, prefix + ("*",))
            if isinstance(dtype, T.MapType):
                return walk(dtype.valueType, prefix + ("*",))
            return []

        return walk(self.dtype, ())


def _contains_map(dtype: T.DataType) -> bool:
    if isinstance(dtype, T.MapType):
        return True
    if isinstance(dtype, T.StructType):
        return any(_contains_map(f.dataType) for f in dtype.fields)
    if isinstance(dtype, T.ArrayType):
        return _contains_map(dtype.elementType)
    return False


def _bridge_json_value(col: Column, dtype: T.DataType) -> Column:
    """The value with null-valued MAP entries dropped at EVERY nesting
    level — struct ``to_json`` omits null fields, but map ``to_json``
    RENDERS them, and the kernel would then read a present JSON null
    where the bridge (and the Plane-A map handlers) read "absent key".
    Applied only where a map actually occurs (round-6 review find: the
    top-level-only filter left NESTED maps divergent between planes).
    Identity for map-free types, so existing handoffs are untouched."""
    if not _contains_map(dtype):
        return col
    if isinstance(dtype, T.MapType):
        cleaned = F.map_filter(col, lambda k, v: v.isNotNull())
        if _contains_map(dtype.valueType):
            vt = dtype.valueType
            cleaned = F.transform_values(
                cleaned, lambda k, v: _bridge_json_value(v, vt))
        return cleaned
    if isinstance(dtype, T.ArrayType):
        et = dtype.elementType
        return F.transform(col, lambda x: _bridge_json_value(x, et))
    # struct: rebuild with cleaned fields, preserving struct-level null
    rebuilt = F.struct(*[
        _bridge_json_value(col.getField(f.name), f.dataType).alias(f.name)
        for f in dtype.fields])
    return F.when(col.isNotNull(), rebuilt)


def _finite(col: Column) -> Column:
    return (~F.isnan(col)) & (col != F.lit(_DOUBLE_INF)) & (col != F.lit(-_DOUBLE_INF))


# -- variant tag checks (round 7 session 5) ----------------------------------
#
# ``schema_of_variant`` tag literals (probed on Spark 4.1): scalars
# STRING / BOOLEAN / VOID / BIGINT / DOUBLE / DECIMAL(p,s) — the decimal
# scale is NORMALIZED ("5.00" tags DECIMAL(1,0)) — containers
# OBJECT<...> / ARRAY<...>.  A JSON ``type`` check needs only the tag
# (plus the double extraction for integer-valuedness and the finite
# guard), so TYPE-AFFINE subschemas over opaque variant values compile
# to pure Catalyst tag predicates instead of the whole-node kernel net:
# mixed-type patternProperties and union-typed property slots route
# Plane A.
#
# EXACTNESS ARGUMENT (the predicates sit under not/oneOf, so they must
# be exact, never merely conservative): every tag decision equals the
# kernel's ``get_type(json.loads(token))`` —
#  * STRING / BOOLEAN / VOID / OBJECT< / ARRAY< tags are structural;
#  * BIGINT and DECIMAL tokens are numbers to both engines, and
#    integer-valuedness survives the double extraction because
#    integral decimals stay integral under IEEE rounding while
#    fractional/exponent tokens round through the SAME
#    correctly-rounded double on both engines (Jackson and CPython),
#    so ``x % 1 == 0`` equals ``float(token).is_integer()``;
#  * tokens overflowing to ±Infinity tag DOUBLE but the kernel types
#    them 'not supported' (schema.js:680) — the ``_finite`` guard
#    excludes them from number AND integer (JSON cannot produce NaN).

_VARIANT_TAG_SUPPORTED = frozenset(
    {"type", "allOf", "anyOf", "oneOf", "not", "if", "const", "enum"})
# inert beside a variant value: resolution-only vocabulary entries and
# the if-consumed branches ('then'/'else' without 'if' are no-ops in
# the kernel's dispatch too)
_VARIANT_TAG_INERT = frozenset(
    {"then", "else", "$schema", "$vocabulary", "$id", "$anchor",
     "$dynamicAnchor", "$defs"})


def _variant_kw_class(kw: str, format_assertion: bool) -> str:
    """'supported' | 'inert' | 'kernel' — ONE classification shared by
    the compile path and the session-free affinity probe
    (:func:`variant_tag_affine`), so analysis-time routing decisions
    can never diverge from what actually compiles."""
    if kw in _VARIANT_TAG_SUPPORTED:
        return "supported"
    if kw in _VARIANT_TAG_INERT:
        return "inert"
    if kw == "format" and not format_assertion:
        return "inert"          # annotation-only by default
    if kw not in _KERNEL_VOCABULARY:
        return "inert"          # the kernel ignores unknown keywords
    return "kernel"


def _affine_scalar(v: Any) -> bool:
    """enum/const members decidable EXACTLY from a variant: null (VOID
    tag), booleans and strings (tag + lossless extraction).  Numbers
    are excluded — the kernel compares them with Python's exact
    int/float ``==`` (deep_equal), which a double extraction cannot
    reproduce for >2^53 integer tokens; containers need deep_equal.
    Strings containing lone surrogates are excluded too: Python keeps
    them while the JVM parse substitutes replacement characters (and
    ``F.lit`` cannot even encode them), so those members compare on
    the kernel."""
    if v is None or isinstance(v, bool):
        return True
    return isinstance(v, str) and not any(
        0xD800 <= ord(ch) <= 0xDFFF for ch in v)


def variant_tag_affine(sub: Any, format_assertion: bool = False) -> bool:
    """True when ``sub`` constrains a value ONLY through type-affine
    keywords — i.e. :func:`_compile_variant_node` will compile it pure
    Plane A.  A structural walk with no Column construction, callable
    at analysis time without an active Spark session (json_plane
    routing decisions)."""
    if isinstance(sub, bool) or not isinstance(sub, dict):
        return True
    for kw, sval in sub.items():
        cls = _variant_kw_class(kw, format_assertion)
        if cls == "kernel":
            return False
        if cls != "supported" or kw == "type":
            continue
        if kw == "const":
            if not _affine_scalar(sval):
                return False
        elif kw == "enum":
            if not (isinstance(sval, list)
                    and all(_affine_scalar(v) for v in sval)):
                return False
        elif kw in ("allOf", "anyOf", "oneOf"):
            # a malformed (non-list) combinator replays on the kernel
            if not isinstance(sval, list):
                return False
            if not all(variant_tag_affine(b, format_assertion)
                       for b in sval):
                return False
        elif kw == "not":
            if not variant_tag_affine(sval, format_assertion):
                return False
        else:                   # if/then/else — one ternary
            if not all(variant_tag_affine(b, format_assertion)
                       for b in (sval, sub.get("then", True),
                                 sub.get("else", True))):
                return False
    return True


def _variant_type_member(t: Any, tag: Column, dbl: Column) -> Column:
    if t == "string":
        return tag == "STRING"
    if t == "boolean":
        return tag == "BOOLEAN"
    if t == "null":
        return tag == "VOID"
    if t == "object":
        return tag.startswith("OBJECT<")
    if t == "array":
        return tag.startswith("ARRAY<")
    if t == "number":
        return ((tag == "BIGINT") | tag.startswith("DECIMAL(")
                | ((tag == "DOUBLE") & _finite(dbl)))
    if t == "integer":
        return (tag == "BIGINT") | (
            (tag.startswith("DECIMAL(") | ((tag == "DOUBLE") & _finite(dbl)))
            & (dbl % F.lit(1.0) == F.lit(0.0)))
    # an unknown type string matches no value (schema.js: typeOf never
    # equals it) — typo'd dialects fail closed, exactly like the kernel
    return F.lit(False)


def _variant_scalar_eq(value: Any, col: Column, tag: Column) -> Column:
    """Exact equality of a present variant value against an affine
    scalar enum/const member: the tag rules out cross-type equality
    (JS === is type-strict) and the matching-tag extraction is
    lossless for null/boolean/string."""
    if value is None:
        return tag == "VOID"
    if isinstance(value, bool):
        b = F.try_variant_get(col, "$", "boolean")
        return (tag == "BOOLEAN") & (b if value else ~b)
    return (tag == "STRING") & (
        F.try_variant_get(col, "$", "string") == F.lit(value))


def _variant_sub_pred(sub: Any, col: Column, tag: Column, dbl: Column,
                      format_assertion: bool) -> Column:
    """Verdict of one subschema against a PRESENT variant value."""
    if sub is False:
        return F.lit(False)
    if sub is True or not isinstance(sub, dict):
        return F.lit(True)      # non-dict schema nodes are vacuous
    preds = [_variant_kw_pred(kw, sval, sub, col, tag, dbl,
                              format_assertion)
             for kw, sval in sub.items()]
    return _and_all([p for p in preds if p is not None])


def _variant_kw_pred(kw: str, sval: Any, node: dict, col: Column,
                     tag: Column, dbl: Column, format_assertion: bool
                     ) -> Optional[Column]:
    """Predicate of ONE keyword of a tag-affine subschema over a present
    variant value — None for inert keywords."""
    if _variant_kw_class(kw, format_assertion) == "inert":
        return None
    if kw == "type":
        members = sval if isinstance(sval, list) else [sval]
        return _or_all([_variant_type_member(t, tag, dbl)
                        for t in members])
    if kw == "const":
        return _variant_scalar_eq(sval, col, tag)
    if kw == "enum":
        return _or_all([_variant_scalar_eq(v, col, tag) for v in sval])
    if kw in ("allOf", "anyOf", "oneOf"):
        branches = [_variant_sub_pred(b, col, tag, dbl, format_assertion)
                    for b in sval]
        if kw == "allOf":
            return _and_all(branches)
        if kw == "anyOf":
            return _or_all(branches)
        n: Column = F.lit(0)
        for b in branches:
            n = n + F.coalesce(b, F.lit(False)).cast("int")
        return n == F.lit(1)
    if kw == "not":
        return ~F.coalesce(
            _variant_sub_pred(sval, col, tag, dbl, format_assertion),
            F.lit(False))
    # if/then/else — evaluated as one ternary at the 'if' keyword
    cond = F.coalesce(
        _variant_sub_pred(sval, col, tag, dbl, format_assertion),
        F.lit(False))
    return F.when(cond, _variant_sub_pred(node.get("then", True), col,
                                          tag, dbl, format_assertion)) \
        .otherwise(_variant_sub_pred(node.get("else", True), col,
                                     tag, dbl, format_assertion))


def _print_variant(col: Column, tag: Column) -> Column:
    """Offending-value print form for a variant slot, mirroring
    ``_print_col``'s policy: containers (and JSON null — JS ``typeof
    null`` is 'object') print bare, scalars print quoted.  Numbers
    render via ``to_json`` — the same '100.0'-style double form typed
    double columns already print through CAST, a bounded and
    consistent divergence from the JS shortest form."""
    return F.when(
        col.isNotNull(),
        F.when(tag.startswith("ARRAY<"), F.lit("array"))
         .when(tag.startswith("OBJECT<") | (tag == "VOID"), F.lit("object"))
         .when(tag == "STRING",
               F.concat(F.lit('"'),
                        F.try_variant_get(col, "$", "string"), F.lit('"')))
         .otherwise(F.concat(F.lit('"'), F.to_json(col), F.lit('"'))))


def _compile_variant_node(c: "SchemaCompiler", node: dict, texpr: "_TExpr",
                          spath: Tuple, dpath: Tuple) -> List["CheckSpec"]:
    """Plane-A tag checks for a tag-affine subschema over an opaque
    variant value, or ColumnarUnsupported (the caller then emits the
    whole-node kernel net).  The session-free probe
    :func:`variant_tag_affine` is the ONE refusal decision: the
    predicate builders below assume it passed.  One CheckSpec per
    constraining keyword, mirroring the typed compiler's shape.  An
    absent value (SQL NULL — absent key under the bridge) passes
    vacuously; a present JSON null is a VOID-tagged variant and is
    judged — exactly the kernel's view of dynamic-key values."""
    if not variant_tag_affine(node, c.format_assertion):
        raise ColumnarUnsupported(
            "subschema reads an opaque variant value")
    col = texpr.col
    tag = F.schema_of_variant(col)
    dbl = F.try_variant_get(col, "$", "double")
    is_null = col.isNull()
    checks: List[CheckSpec] = []
    for kw, sval in node.items():
        pred = _variant_kw_pred(kw, sval, node, col, tag, dbl,
                                c.format_assertion)
        if pred is None:
            continue
        sp = spath + (kw,)
        checks.append(CheckSpec(
            name=".".join(map(str, sp)) or "$", keyword=kw,
            schema_path=sp, data_path=dpath, schema_value=sval,
            predicate=is_null | F.coalesce(pred, F.lit(False)),
            plane="A", value_col=_print_variant(col, tag)))
    return checks


_TWO_53 = float(1 << 53)


def _js_round_col(q: Column) -> Column:
    """JS Math.round as a Column: floor(q), +1 when frac >= 0.5 — exact
    mirror of jstypes.js_math_round for IEEE doubles.

    |q| >= 2^53 shortcut: every such double is already integral AND
    Spark's floor(double) returns LONG (saturating at ±2^63), so the
    floor path is only used where it is exact."""
    f = F.floor(q).cast("double")
    rounded = F.when(q - f < 0.5, f).otherwise(f + 1)
    return F.when(F.abs(q) >= F.lit(_TWO_53), q).otherwise(rounded)


class SchemaCompiler:
    """Compiles one schema against one DataFrame shape.

    ``compile_plan(df)`` returns a :class:`CompiledPlan` of named
    checks.  Checks are emitted at the same granularity the reference
    yields errors (one per boolean-validator keyword, composites for
    combinators), so the violations DataFrame mirrors the reference's
    error stream (§2.10).
    """

    def __init__(self, schema, format_assertion: bool = False) -> None:
        if not isinstance(schema, Schema):
            schema = Schema(schema)
        self.schema = schema
        self.format_assertion = format_assertion
        self._kernel_fallbacks: List[CheckSpec] = []

    # -- public -----------------------------------------------------------
    def compile_plan(self, df: DataFrame) -> "CompiledPlan":
        root = _TExpr(None, df.schema, is_row=True)
        checks = self._compile_root(root)
        return CompiledPlan(checks=checks, compiler=self)

    def compile_plan_for_column(self, col: Column,
                                dtype: T.DataType) -> "CompiledPlan":
        """Compile against a single typed COLUMN instead of the row —
        the JSON columnar route (validation/json_plane.py) parses a
        JSON string column into a struct and validates the struct value
        itself, so the schema's root applies to the column, not the
        row shape."""
        texpr = _TExpr(col, dtype)
        checks = self._compile_root(texpr)
        return CompiledPlan(checks=checks, compiler=self)

    def _compile_root(self, texpr: _TExpr) -> List["CheckSpec"]:
        """Root entry shared by both plan shapes.  DYNAMIC-SCOPE GATE
        (round 7): a scope-sensitive ``$dynamicRef`` (its anchor name
        carries ≥2 ``$dynamicAnchor`` definitions across resources)
        resolves through the runtime chain of ENTERED resources, which
        only exists when the kernel validates from the true root — any
        Plane-B fallback detached below the root would rebase the ref
        lexically and can land on the wrong anchor (see
        ``_dynamic_scope_hazard``).  Such contracts compile as ONE
        root-level kernel check, mirroring the whole-node unevaluated*
        gate."""
        root = self.schema.schema
        if isinstance(root, dict):
            hazard = _dynamic_scope_hazard(self.schema)
            if hazard is not None:
                return [self._plane_b_check(
                    dict(root), texpr, ("(dynamic-scope)",), (),
                    root, "$dynamicRef", owner_node=root,
                    note=f"scope-sensitive $dynamicRef {hazard!r} needs "
                         "the runtime resource chain (root kernel)")]
        return self._compile_node(root, texpr, (), (), set())

    # -- recursive compile ------------------------------------------------
    def _compile_node(self, node: Any, texpr: _TExpr,
                      spath: Tuple, dpath: Tuple,
                      ref_stack: frozenset | set) -> List[CheckSpec]:
        """Compile one schema node into checks; raises
        ColumnarUnsupported to bubble a subtree to Plane B."""
        if node is True:
            return []
        if node is False:
            # variants print by tag ('array'/'object'/quoted scalar —
            # _print_col's CAST would render raw JSON), round-7 review
            vcol = _print_variant(texpr.col, F.schema_of_variant(texpr.col)) \
                if isinstance(texpr.dtype, T.VariantType) \
                else _print_col(texpr)
            return [CheckSpec("/".join(map(str, spath)) or "$", "false-schema",
                              spath, dpath, False, F.lit(False), "A",
                              value_col=vcol)]
        if not isinstance(node, dict):
            return []

        # VARIANT NET (round 7, keys-only map routing): a variant-typed
        # column is an OPAQUE parsed-JSON slot — the map<string,variant>
        # mode routes contracts whose keywords never read values, so no
        # Plane-A predicate may be compiled against one (typed casts on
        # a variant COERCE — "5" extracts as 5 long — and every scalar
        # handler here assumes a typed column).  Any constraining
        # subschema that DOES reach a variant value (a dependentSchemas
        # body with properties, a combinator branch typing the values)
        # runs as ONE kernel check over ``to_json`` of the variant: the
        # rendering is value-exact for everything the route admits (dup
        # keys, ≥16-digit integer tokens, and big-exponent tokens that
        # would overflow to a non-finite double — rendered as the
        # STRING "Infinity" — are all screened to the kernel by the
        # routing gates before this plan ever runs).
        if isinstance(texpr.dtype, T.VariantType):
            # round 7 session 5: TAG-AFFINE nodes (type checks and
            # combinators of type checks) compile to pure Catalyst
            # predicates over schema_of_variant tags — no kernel, no
            # rendering; everything else falls to the net below.
            try:
                return _compile_variant_node(self, node, texpr,
                                             spath, dpath)
            except ColumnarUnsupported:
                pass
            return [self._plane_b_check(
                dict(node), texpr, spath + ("(variant-value)",), dpath,
                node, "variant", owner_node=node,
                note="constraint on an opaque variant value (keys-only "
                     "map routing) — kernel on the exact JSON rendering")]

        # SOUNDNESS GATE (round-2, found by the randomized hunt): the
        # kernel's evaluated set is shared per data value across ALL
        # in-place applicators — an unevaluated* sweep inside one allOf
        # element sees claims made by COUSIN elements (and by abandoned
        # anyOf/oneOf/if probes under collecting mode).  A Plane-B
        # fallback detached at the branch level cannot see those cousin
        # claims, so if ANY in-place branch subtree contains
        # unevaluated*, this whole node must run as ONE kernel check.
        # unevaluated* directly AT this node stays on the existing path
        # (static claim analysis, or a carried-sibling fallback that is
        # whole-node-equivalent).  Because this gate runs first on every
        # dict node, the anyOf/oneOf/not/if handlers below never meet a
        # branch that reaches unevaluated*.
        if _reaches_unevaluated(self.schema, *self._inplace_subtrees(node)):
            return [self._plane_b_check(
                dict(node), texpr, spath + ("(unevaluated-context)",),
                dpath, node, "unevaluated", owner_node=node,
                note="unevaluated* inside an in-place applicator subtree "
                     "(shared evaluated set → whole-node kernel gate)")]

        checks: List[CheckSpec] = []
        # set by descend_pred when a combinator folded a Plane-B (kernel
        # UDF) predicate into the Column it returned — the emitted check
        # must then be recorded as plane 'B' so CompiledPlan.coverage()
        # stays honest (the published-plane invariant, CLAUDE.md).
        # The folded sub-checks' own fallback reasons ride along so
        # coverage() can say WHY (round 7, VERDICT r6 #7).
        saw_plane_b = [False]
        folded_notes: List[str] = []

        def add(keyword: str, schema_value: Any, pred: Column,
                extra_path: Tuple = ()) -> None:
            sp = spath + (keyword,) + extra_path
            vcol = _print_col(texpr)
            plane = "B" if saw_plane_b[0] else "A"
            note = "; ".join(dict.fromkeys(folded_notes)) or None \
                if plane == "B" else None
            saw_plane_b[0] = False
            folded_notes.clear()
            checks.append(CheckSpec(
                name=".".join(map(str, sp)),
                keyword=keyword, schema_path=sp, data_path=dpath,
                schema_value=schema_value, predicate=pred, plane=plane,
                value_col=vcol, note=note))

        def descend_pred(sub: Any, sub_texpr: _TExpr) -> Column:
            """Valid-predicate of a whole subtree (for combinators)."""
            sub_checks = self._compile_node(sub, sub_texpr, spath, dpath, ref_stack)
            if any(c.plane == "B" for c in sub_checks):
                saw_plane_b[0] = True
                folded_notes.extend(
                    c.note or f"kernel check {c.name}"
                    for c in sub_checks if c.plane == "B")
            return _and_all([c.predicate for c in sub_checks])

        jt = texpr.json_type()
        is_null = texpr.null_col()

        for keyword, sval in node.items():
            saw_plane_b[0] = False
            folded_notes.clear()
            try:
                handler = _HANDLERS.get(keyword)
                if handler is None:
                    continue
                affects = _AFFECTS.get(keyword)
                if affects is not None and jt != affects:
                    # the vacuous type gate (schema.js:199): a keyword
                    # whose affects type cannot match the value's static
                    # type passes — one TRUE check, or none for the
                    # applicators that only descend into members
                    if keyword not in _SILENT_OFF_TYPE:
                        add(keyword, sval, F.lit(True))
                    continue
                handler(self, keyword, sval, node, texpr, jt, is_null,
                        add, descend_pred, checks, spath, dpath, ref_stack)
            except ColumnarUnsupported as exc:
                # Plane-B fallback for this keyword's subtree only: run
                # the row kernel on the JSON form via Arrow batches
                checks.append(self._plane_b_check(
                    {keyword: sval, **_carry_siblings(node, keyword)},
                    texpr, spath + (keyword,), dpath, sval, keyword,
                    owner_node=node, note=str(exc)))
        return checks

    # -- soundness-gate helpers --------------------------------------------
    def _inplace_subtrees(self, node: dict) -> List[Any]:
        """Subschemas applied IN PLACE (same data value) — the scopes
        whose annotations flow into a shared evaluated set."""
        subs: List[Any] = []
        for kw in ("allOf", "anyOf", "oneOf"):
            v = node.get(kw)
            if isinstance(v, list):
                subs.extend(v)
        for kw in ("not", "if", "then", "else"):
            if kw in node:
                subs.append(node[kw])
        ds = node.get("dependentSchemas")
        if isinstance(ds, dict):
            subs.extend(ds.values())
        dp = node.get("dependencies")
        if isinstance(dp, dict):
            subs.extend(x for x in dp.values() if isinstance(x, (dict, bool)))
        if "$ref" in node or "$dynamicRef" in node:
            target = self.schema.registry.ref_targets.get(id(node))
            if target is not None:
                subs.append(target)
        return subs

    # -- Plane-B bridge ---------------------------------------------------
    def _plane_b_check(self, sub_schema: dict, texpr: _TExpr,
                       spath: Tuple, dpath: Tuple,
                       schema_value: Any, keyword: str,
                       owner_node: Optional[dict] = None,
                       note: Optional[str] = None) -> CheckSpec:
        from jema_js_spark.validation.kernel_udf import kernel_validate_udf

        # A detached fallback mini-schema loses the owning resource's
        # $defs/anchors/$id context, so any $ref inside it would hit
        # RefResolutionError in the UDF and silently mark every row
        # invalid.  Rebase local refs onto the owning resource's absolute
        # URL and ship the registry documents as remotes so the executor-
        # side kernel resolves them against the real documents.
        remotes = None
        if any(isinstance(n.get("$ref"), str)
               or isinstance(n.get("$dynamicRef"), str)
               for n in _schema_positions(sub_schema)):
            import copy as _copy

            registry = self.schema.registry
            owner = self.schema
            if owner_node is not None:
                owner = registry.node_resource.get(id(owner_node), self.schema)
            base_url = (owner.id or _PLANB_ROOT_URL).split("#")[0]
            sub_schema = _rewrite_local_refs(
                _copy.deepcopy(sub_schema), base_url)
            remotes = {url: doc for url, doc in registry._docs.items()
                       if isinstance(doc, (dict, bool))}
            remotes.setdefault(base_url, owner.schema)

        udf = kernel_validate_udf(sub_schema,
                                  remotes=remotes,
                                  format_assertion=self.format_assertion,
                                  float_paths=texpr.float_paths(),
                                  unwrap_array=texpr.needs_unwrap())
        pred = udf(texpr.to_json_col())
        return CheckSpec(
            name=".".join(map(str, spath)),
            keyword=keyword, schema_path=spath, data_path=dpath,
            schema_value=schema_value,
            predicate=F.coalesce(pred, F.lit(True)), plane="B", note=note)


# base URI for a Plane-B fallback whose owning resource has no $id
_PLANB_ROOT_URL = "http://jema.invalid/planb-root"


# keyword containers whose values are literal DATA, not schemas — a
# '$ref' key inside a const/enum value is part of the value, and the
# Plane-B rebase must not touch or be triggered by it
_DATA_KEYWORDS = ("const", "enum", "default", "examples")
# keyword containers that map NAMES → schemas: their keys are property
# names / patterns / def names, never keywords themselves
_NAME_MAP_KEYWORDS = ("properties", "patternProperties", "$defs",
                      "definitions", "dependentSchemas", "dependencies")


def _schema_positions(doc: Any) -> Iterator[dict]:
    """Every dict in a SCHEMA position of a raw (unresolved) document:
    lists are transparent, ``_DATA_KEYWORDS`` values are literal data
    and are skipped, and the values of a ``_NAME_MAP_KEYWORDS`` dict are
    schemas (its keys are names, never keywords).  No seen-set — raw
    JSON documents are trees."""
    stack = [doc]
    while stack:
        node = stack.pop()
        if isinstance(node, list):
            stack.extend(node)
        elif isinstance(node, dict):
            yield node
            for k, v in node.items():
                if k in _DATA_KEYWORDS:
                    continue
                if k in _NAME_MAP_KEYWORDS and isinstance(v, dict):
                    stack.extend(v.values())
                else:
                    stack.append(v)


def _reachable_subschemas(schema: Schema, *roots: Any) -> Iterator[dict]:
    """Every dict subschema reachable from ``roots`` in the RESOLVED
    schema graph, each once: ``$ref``/``$dynamicRef`` targets are
    followed (a ref'd branch applies exactly like an inline one).
    :func:`iter_subschemas` mirrors the reference's traversal, which
    yields the patternProperties CONTAINER rather than its values and
    skips draft-4 ``dependencies`` — both are walked here too (round-2
    review find: an unevaluated* inside a patternProperties value
    slipped past the whole-node gate)."""
    seen: set = set()
    stack = list(roots)
    while stack:
        node = stack.pop()
        if not isinstance(node, dict) or id(node) in seen:
            continue
        seen.add(id(node))
        yield node
        if "$ref" in node or "$dynamicRef" in node:
            stack.append(schema.registry.ref_targets.get(id(node)))
        for kw in ("patternProperties", "dependencies"):
            if isinstance(node.get(kw), dict):
                stack.extend(node[kw].values())
        stack.extend(iter_subschemas(node))


def _reaches_unevaluated(schema: Schema, *roots: Any) -> bool:
    """unevaluated* anywhere reachable from ``roots``."""
    return any("unevaluatedProperties" in n or "unevaluatedItems" in n
               for n in _reachable_subschemas(schema, *roots))


def _dynamic_scope_hazard(schema: "Schema") -> Optional[str]:
    """Anchor name of a scope-SENSITIVE ``$dynamicRef`` anywhere in the
    contract (root document + every registered remote), or None.

    A ``$dynamicRef`` is scope-sensitive exactly when the runtime
    dynamic scope can change which ``$dynamicAnchor`` it lands on —
    i.e. when its anchor name is defined as a ``$dynamicAnchor`` more
    than once across resources (spec §8.2.3.2; the kernel's
    ``_v_dynamic_ref`` hunts the OUTERMOST in-scope resource).  With a
    single definition, resolution is scope-independent and the
    detached-fallback lexical rebase (``_rewrite_local_refs``) is
    exact; with ≥2, ANY detachment below the validation root loses the
    resources entered above the fallback node, so the whole plan must
    compile as ONE root-level kernel check (round-7 find: the dyn-b
    corpus case routed through the JSON plane and resolved to the
    inner resource's no-op anchor instead of the outer's
    ``type: integer``).  Over-approximation is sound — it only moves a
    contract to Plane B, published via ``coverage()``."""
    anchor_defs: Dict[str, int] = {}
    ref_names: set = set()
    docs = {id(d): d for d in [schema.schema, *schema.registry._docs.values()]}
    for doc in docs.values():
        for node in _schema_positions(doc):
            anchor = node.get("$dynamicAnchor")
            if isinstance(anchor, str):
                anchor_defs[anchor] = anchor_defs.get(anchor, 0) + 1
            ref = node.get("$dynamicRef")
            if isinstance(ref, str):
                frag = ref.split("#", 1)[1] if "#" in ref else ""
                if frag and "/" not in frag:
                    ref_names.add(frag)
    for name in sorted(ref_names):
        if anchor_defs.get(name, 0) >= 2:
            return name
    return None


def _rewrite_local_refs(node: Any, base_url: str,
                        at_schema: bool = True) -> Any:
    """Rebase '#…'-local ``$ref``/``$dynamicRef`` pointers inside a
    detached Plane-B fallback copy to absolute ``<base_url>#…`` refs,
    so they resolve against the registered owning document instead of
    the (context-free) fallback root.  Nested ``$id`` resources switch
    the base, exactly like lexical resolution would; ``$dynamicRef``
    degrades to its lexical anchor — the reference's own behavior
    (schema.js:355-362 resolves dynamic refs against the root only)."""
    if isinstance(node, dict):
        if not at_schema:  # name→schema map: every value is a schema
            return {k: _rewrite_local_refs(v, base_url)
                    for k, v in node.items()}
        nid = node.get("$id")
        if isinstance(nid, str):
            base_url = nid.split("#")[0]
        out = {}
        for k, v in node.items():
            if k in _DATA_KEYWORDS:
                out[k] = v  # literal data — never rewrite inside
            elif (k in ("$ref", "$dynamicRef") and isinstance(v, str)
                    and v.startswith("#")):
                out[k] = base_url + v
            elif k in _NAME_MAP_KEYWORDS and isinstance(v, dict):
                out[k] = _rewrite_local_refs(v, base_url, at_schema=False)
            else:
                out[k] = _rewrite_local_refs(v, base_url)
        return out
    if isinstance(node, list):
        return [_rewrite_local_refs(x, base_url) for x in node]
    return node


def _carry_siblings(node: dict, keyword: str) -> dict:
    """Sibling keywords a fallback keyword depends on (e.g. contains
    needs min/maxContains; if needs then/else; unevaluated* needs the
    whole applicator context)."""
    deps = {
        "contains": ("minContains", "maxContains"),
        "minContains": ("contains", "maxContains"),
        "maxContains": ("contains", "minContains"),
        "if": ("then", "else"),
        "items": ("prefixItems",),
        # additionalProperties only applies to keys unclaimed by its
        # sibling matchers — dropping them would make the kernel treat
        # every key as additional
        "additionalProperties": ("properties", "patternProperties"),
        # unevaluated*: carry the full applicator context, mirroring
        # _DISQUALIFYING — keys/items claimed by any sibling (incl.
        # schema-form dependencies and $dynamicRef targets) must stay
        # visible to the kernel's sweep
        "unevaluatedProperties": ("properties", "patternProperties",
                                   "additionalProperties", "allOf", "anyOf",
                                   "oneOf", "not", "if", "then", "else",
                                   "dependentSchemas", "dependencies",
                                   "$ref", "$dynamicRef"),
        "unevaluatedItems": ("prefixItems", "items", "contains",
                              "minContains", "maxContains", "allOf",
                              "anyOf", "oneOf", "not", "if", "then", "else",
                              "$ref", "$dynamicRef"),
    }
    return {k: node[k] for k in deps.get(keyword, ()) if k in node}


def _print_col(texpr: "_TExpr") -> Optional[Column]:
    """Pre-rendered print form of the offending value, matching the
    reference (schema.js:665-674): containers print as bare
    'array'/'object', scalars as quoted strings; the row itself (and a
    NULL value, JS typeof null == 'object') prints as 'object'."""
    if texpr.is_row:
        return None
    if isinstance(texpr.dtype, T.ArrayType):
        return F.when(texpr.col.isNotNull(), F.lit("array"))
    if isinstance(texpr.dtype, (T.StructType, T.MapType)):
        return F.when(texpr.col.isNotNull(), F.lit("object"))
    return F.concat(F.lit('"'), texpr.col.cast("string"), F.lit('"'))


def _and_all(preds: List[Column]) -> Column:
    if not preds:
        return F.lit(True)
    out = preds[0]
    for p in preds[1:]:
        out = out & p
    return out


def _or_all(preds: List[Column]) -> Column:
    if not preds:
        return F.lit(False)
    out = preds[0]
    for p in preds[1:]:
        out = out | p
    return out


# ---------------------------------------------------------------------------
# keyword handlers — each emits checks via add() or raises
# ColumnarUnsupported.  A keyword with an affects type (``_AFFECTS``)
# reaches its handler only when the value's static JSON type ``jt`` is
# that type: the one type gate in ``_compile_node`` has already emitted
# the vacuous pass otherwise.  Signature:
# (compiler, keyword, sval, node, texpr, jt, is_null, add, descend_pred,
#  checks, spath, dpath, ref_stack)
# ---------------------------------------------------------------------------

def _h_type(c, kw, sval, node, texpr, jt, is_null, add, descend, checks,
            spath, dpath, refs):
    types = sval if isinstance(sval, list) else [sval]
    if texpr.is_row:
        add(kw, sval, F.lit("object" in types))
        return
    col = texpr.col
    # non-null branch
    ok_nonnull = F.lit(False)
    matched = False
    if jt in types:
        if jt == "number" and texpr.is_float_type():
            ok_nonnull = _finite(col)   # Infinity/NaN match no type
        else:
            ok_nonnull = F.lit(True)
        matched = True
    if not matched and "integer" in types and jt == "number":
        if texpr.is_integral_type():
            ok_nonnull = F.lit(True)
        else:
            # x % 1.0 == 0, not floor(x) == x: Spark's floor(double)
            # returns LONG and saturates for |x| >= 2^63 (1e308 would
            # wrongly fail integer-ness)
            ok_nonnull = _finite(col) & (col % F.lit(1.0) == F.lit(0.0))
        matched = True
    if not matched and "number" in types and jt == "number":
        ok_nonnull = _finite(col) if texpr.is_float_type() else F.lit(True)
    add(kw, sval, F.when(is_null, F.lit("null" in types)).otherwise(ok_nonnull))


def _compatible_scalars(values: list, jt: str, texpr: _TExpr) -> Optional[list]:
    """Enum/const values that could equal a non-null value of this
    column type under JS strict equality; None → needs Plane B (deep
    values against a complex column)."""
    out = []
    for v in values:
        if isinstance(v, bool):
            if jt == "boolean":
                out.append(v)
        elif isinstance(v, (int, float)):
            if jt == "number":
                out.append(v)
        elif isinstance(v, str):
            if jt == "string":
                out.append(v)
        elif v is None:
            continue  # null handled via is_null branch
        else:
            if jt in ("object", "array"):
                return None  # deep compare → Plane B
            # complex value can never equal a scalar column: ignore
    return out


class _Incompatible(Exception):
    """Deep literal can never equal any value of this column type."""


def _deep_literal(dtype: T.DataType, v: Any) -> Column:
    """Typed Column literal for a JSON value under the relational
    bridge (missing key ⇔ NULL field), honoring JS strict typing
    (``true`` never equals ``1``).  Raises _Incompatible when no value
    of ``dtype`` can equal ``v``."""
    if v is None:
        return F.lit(None).cast(dtype)
    if isinstance(dtype, T.StructType):
        if not isinstance(v, dict):
            raise _Incompatible
        names = {f.name for f in dtype.fields}
        if set(v.keys()) - names:
            raise _Incompatible  # extra key can never exist on the row
        return F.struct(*[
            _deep_literal(f.dataType, v.get(f.name)).alias(f.name)
            for f in dtype.fields])
    if isinstance(dtype, T.ArrayType):
        if not isinstance(v, list):
            raise _Incompatible
        if not v:
            return F.array().cast(dtype)
        return F.array(*[_deep_literal(dtype.elementType, x) for x in v]) \
            .cast(dtype)
    if isinstance(dtype, T.BooleanType):
        if not isinstance(v, bool):
            raise _Incompatible
        return F.lit(v)
    if isinstance(dtype, (T.ByteType, T.ShortType, T.IntegerType, T.LongType,
                          T.FloatType, T.DoubleType, T.DecimalType)):
        if isinstance(v, bool) or not isinstance(v, (int, float)):
            raise _Incompatible
        return F.lit(v).cast(dtype)
    if isinstance(dtype, (T.StringType,)):
        if not isinstance(v, str):
            raise _Incompatible
        return F.lit(v)
    raise ColumnarUnsupported(f"deep literal for {dtype}")


def _deep_membership(texpr: _TExpr, values: list) -> Column:
    """eqNullSafe-based membership of a struct/array column in a list of
    deep JSON values — the Plane-A form of jema's key-order-insensitive
    deepEqual (struct field order is schema-fixed, so order-insensitivity
    is inherent)."""
    preds = []
    for v in values:
        if v is None:
            continue  # null handled by the is_null branch
        try:
            preds.append(texpr.col.eqNullSafe(_deep_literal(texpr.dtype, v)))
        except _Incompatible:
            continue
    return _or_all(preds)


def _h_enum(c, kw, sval, node, texpr, jt, is_null, add, descend, checks,
            spath, dpath, refs):
    if texpr.is_row:
        raise ColumnarUnsupported("enum on row")
    null_ok = any(v is None for v in sval)
    if jt in ("object", "array"):
        ok = _deep_membership(texpr, sval)
        add(kw, sval, F.when(is_null, F.lit(null_ok)).otherwise(ok))
        return
    compat = _compatible_scalars(sval, jt, texpr)
    if compat is None:
        raise ColumnarUnsupported("deep enum")
    ok = texpr.string_col().isin(compat) if jt == "string" and compat else (
        texpr.col.isin(compat) if compat else F.lit(False))
    add(kw, sval, F.when(is_null, F.lit(null_ok)).otherwise(ok))


def _h_const(c, kw, sval, node, texpr, jt, is_null, add, descend, checks,
             spath, dpath, refs):
    if texpr.is_row:
        raise ColumnarUnsupported("const on row")
    if sval is None:
        add(kw, sval, is_null)
        return
    if jt in ("object", "array"):
        add(kw, sval, F.when(is_null, F.lit(False)).otherwise(
            _deep_membership(texpr, [sval])))
        return
    compat = _compatible_scalars([sval], jt, texpr)
    if compat is None:
        raise ColumnarUnsupported("deep const")
    if not compat:
        add(kw, sval, F.lit(False))
        return
    col = texpr.string_col() if jt == "string" else texpr.col
    add(kw, sval, F.when(is_null, F.lit(False)).otherwise(col == F.lit(compat[0])))


def _numeric_gate(texpr, is_null):
    """Vacuous-pass gate for affects:'number' keywords over a number
    column: null or a non-finite double passes (schema.js:199,680)."""
    gate = is_null
    if texpr.is_float_type():
        gate = gate | ~_finite(texpr.col)
    return gate


def _h_bound(op):
    def h(c, kw, sval, node, texpr, jt, is_null, add, descend, checks,
          spath, dpath, refs):
        gate = _numeric_gate(texpr, is_null)
        col = texpr.col.cast("double") if isinstance(texpr.dtype, T.DecimalType) else texpr.col
        add(kw, sval, gate | op(col, F.lit(sval)))
    return h


def _h_multiple_of(c, kw, sval, node, texpr, jt, is_null, add, descend, checks,
                   spath, dpath, refs):
    gate = _numeric_gate(texpr, is_null)
    # multipleOf ±1 on an integral column is vacuously true in JS float
    # semantics at ANY long magnitude (v/1 is an integral double, which
    # Math.round fixes) — the common "assert integer-ness" idiom costs
    # nothing.  A broader pmod fast path is deliberately NOT taken: the
    # kernel's float dance falsely accepts non-multiples well BELOW
    # 2^53 (q = v/m loses its fractional part once |q| ≥ 2^52 — e.g.
    # (2^53−1) "is" a multiple of 3, round-5 review find), so exact
    # long arithmetic would DIVERGE from the kernel, and a huge
    # integral divisor would overflow the pmod literal besides.
    if texpr.is_integral_type() and isinstance(sval, (int, float)) \
            and not isinstance(sval, bool) and sval in (1, -1, 1.0, -1.0):
        add(kw, sval, F.lit(True))
        return
    v = texpr.col.cast("double")
    q = v / F.lit(float(sval))
    # exact columnar replica of schema.js:462-468 (JS Math.round, not
    # banker's rounding — SURVEY.md §7.4)
    ok = _finite(q) & (q * F.lit(float(sval)) == _js_round_col(q) * F.lit(float(sval)))
    add(kw, sval, gate | ok)


def _h_strlen(op):
    def h(c, kw, sval, node, texpr, jt, is_null, add, descend, checks,
          spath, dpath, refs):
        add(kw, sval, is_null | op(F.length(texpr.string_col()), F.lit(sval)))
    return h


def _h_pattern(c, kw, sval, node, texpr, jt, is_null, add, descend, checks,
               spath, dpath, refs):
    jre, why = java_regex_explain(sval)
    if jre is not None:
        add(kw, sval, is_null | texpr.string_col().rlike(jre))
        return
    # outside the Java-safe subset: column-level Python-regex pandas UDF
    # (still Arrow-batched, but only this one column crosses to Python —
    # never a whole-row kernel round-trip).  Verify translatability
    # first so untranslatable patterns surface as a kernel fallback.
    try:
        compile_js_regex(sval)
    except UnsupportedRegexError as exc:
        raise ColumnarUnsupported(
            f"pattern {sval!r} untranslatable: {exc}") from exc
    from jema_js_spark.functions.columns import js_rlike

    sp = spath + (kw,)
    checks.append(CheckSpec(
        name=".".join(map(str, sp)), keyword=kw, schema_path=sp,
        data_path=dpath, schema_value=sval,
        predicate=is_null | F.coalesce(js_rlike(texpr.string_col(), sval),
                                       F.lit(True)),
        plane="B", value_col=texpr.col.cast("string"),
        note=f"pattern {sval!r} outside the rlike subset ({why}); "
             "single-column pandas-UDF regex"))


# regex-shaped format assertions reusable as rlike (schema.js:513,516-518)
_FORMAT_REGEX = {
    "uuid": r"^[0-9a-fA-F]{8}(?:-[0-9a-fA-F]{4}){3}-[0-9a-fA-F]{12}\z",
    "json-pointer": r"^(?:/(?:[^~/]|~0|~1)*)*\z",
    "relative-json-pointer": r"^(?:0|[1-9][0-9]*)(?:#|(?:/(?:[^~/]|~0|~1)*)*)\z",
    "uri-template": r"^(?:[^{}]|\{[^{}]+\})*\z",
    "ipv4": r"^((25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])\.){3}(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])\z",
}


def _format_date_pred(s: Column) -> Column:
    """Columnar mirror of kernel ``valid_date`` (formats.py:38-56,
    schema.js:692-703), quirks included: month 00 / day 00 pass when
    day <= 28; day > 28 requires a real calendar day (Gregorian leap
    rule)."""
    shape = s.rlike(r"^\d{4}-\d{2}-\d{2}\z")
    y = F.substring(s, 1, 4).try_cast("int")
    mo = F.substring(s, 6, 2).try_cast("int")
    d = F.substring(s, 9, 2).try_cast("int")
    leap = ((F.pmod(y, F.lit(4)) == 0) & (F.pmod(y, F.lit(100)) != 0)) | \
        (F.pmod(y, F.lit(400)) == 0)
    max_days = (F.when(mo == 2, F.when(leap, 29).otherwise(28))
                .when(mo.isin(4, 6, 9, 11), 30).otherwise(31))
    deep = (mo <= 12) & (d <= 31) & \
        ((d <= 28) | ((mo >= 1) & (d <= max_days)))
    return shape & F.coalesce(deep, F.lit(False))


def _format_time_pred(s: Column) -> Column:
    """Columnar mirror of kernel ``valid_time`` (formats.py:59-82,
    schema.js:704-724) incl. the leap-second rule (``:60`` only at
    23:59 UTC / 00:-1 after the offset shift) and the quirk that the
    offset minutes are subtracted unsigned."""
    shape = s.rlike(
        r"^\d{2}:\d{2}:\d{2}(\.\d+)?([Zz]|[+-]\d{2}:\d{2})\z")
    hours = F.substring(s, 1, 2).try_cast("int")
    minutes = F.substring(s, 4, 2).try_cast("int")
    seconds = F.substring(s, 7, 2).try_cast("int")
    has_off = ~F.upper(F.right(s, F.lit(1))).eqNullSafe("Z")
    oh = F.substring(F.right(s, F.lit(6)), 1, 3).try_cast("int")
    om = F.right(s, F.lit(2)).try_cast("int")
    base = (hours <= 23) & (minutes <= 59) & (seconds <= 60)
    off_ok = ~has_off | ((oh <= 23) & (oh >= -23) & (om <= 59))
    m_utc = minutes - F.when(has_off, om).otherwise(F.lit(0))
    h_utc = hours - F.when(has_off, oh).otherwise(F.lit(0))
    leap_ok = (seconds != 60) | (m_utc.isin(59, -1) & h_utc.isin(23, 0))
    return shape & F.coalesce(base & off_ok & leap_ok, F.lit(False))


def _format_date_time_pred(s: Column) -> Column:
    """Kernel ``valid_date_time`` (formats.py:86-90): split once on
    [Tt], both halves must pass their own format."""
    parts = F.split(s, "[Tt]", 2)
    return (F.size(parts) == 2) & \
        _format_date_pred(F.try_element_at(parts, F.lit(1))) & \
        _format_time_pred(F.try_element_at(parts, F.lit(2)))


def _format_hostname_pred(s: Column) -> Column:
    """Kernel ``valid_hostname`` (formats.py:93-104, schema.js:731-741)
    as pure regex algebra: charset, total length, and per-label
    non-empty / ≤63 / no edge-dash rules."""
    return ((F.length(s) <= 255)
            & s.rlike(r"^[a-zA-Z0-9\-.]+\z")
            & ~s.rlike(r"^[.]|[.][.]|[.]$")      # empty label
            & ~s.rlike(r"(^|[.])-")               # label starts with -
            & ~s.rlike(r"-([.]|$)")               # label ends with -
            & ~s.rlike(r"[^.]{64}"))              # label longer than 63


_DUR_DATE_PAT = r"^P(?:(\d+)Y)?(?:(\d+)M)?(?:(\d+)W)?(?:(\d+)D)?\z"
_DUR_TIME_PAT = r"^(?:(\d+)H)?(?:(\d+)M)?(?:(\d+)S)?\z"


def _format_duration_pred(s: Column) -> Column:
    """Kernel ``valid_duration`` (formats.py:215-233, schema.js:794-809),
    quirks included: split on EVERY 'T' but only parts[1] is the time
    part (junk after a second T is ignored), a trailing empty time part
    is invalid, an unparseable time part contributes no components but
    does not itself fail, weeks are exclusive, and at least one
    component must be present."""
    parts = F.split(s, "T")
    date_part = F.try_element_at(parts, F.lit(1))
    time_part = F.try_element_at(parts, F.lit(2))
    dm_ok = date_part.rlike(_DUR_DATE_PAT)

    def dgrp(i: int) -> Column:
        return F.regexp_extract(date_part, _DUR_DATE_PAT, i)

    y, mo, w, d = dgrp(1), dgrp(2), dgrp(3), dgrp(4)
    weeks_ok = (w == "") | ((y == "") & (mo == "") & (d == ""))
    tm_ok = F.coalesce(time_part.rlike(_DUR_TIME_PAT), F.lit(False))

    def tgrp(i: int) -> Column:
        return F.when(tm_ok,
                      F.regexp_extract(time_part, _DUR_TIME_PAT, i)
                      ).otherwise(F.lit(""))

    any_component = _or_all([g != "" for g in
                             (y, mo, w, d, tgrp(1), tgrp(2), tgrp(3))])
    time_not_empty = F.coalesce(time_part != "", F.lit(True))
    return F.coalesce(
        dm_ok & weeks_ok & time_not_empty & any_component, F.lit(False))


# RFC 3986 IPv6address grammar, equivalent to the kernel's
# ipaddress.IPv6Address acceptance (formats.py:176-189; fuzz-verified on
# 120k adversarial strings, zero divergence). '%' zone ids never match.
_H16 = "[0-9A-Fa-f]{1,4}"
# unanchored ipv4 core: strip the leading '^' and trailing '\z'
_V4_CORE = _FORMAT_REGEX["ipv4"][1:-2]
_LS32 = (f"({_H16}:{_H16}|" + _V4_CORE + ")")
_IPV6_PAT = "^(" + "|".join([
    f"({_H16}:){{6}}{_LS32}",
    f"::({_H16}:){{5}}{_LS32}",
    f"({_H16})?::({_H16}:){{4}}{_LS32}",
    f"(({_H16}:){{0,1}}{_H16})?::({_H16}:){{3}}{_LS32}",
    f"(({_H16}:){{0,2}}{_H16})?::({_H16}:){{2}}{_LS32}",
    f"(({_H16}:){{0,3}}{_H16})?::{_H16}:{_LS32}",
    f"(({_H16}:){{0,4}}{_H16})?::{_LS32}",
    f"(({_H16}:){{0,5}}{_H16})?::{_H16}",
    f"(({_H16}:){{0,6}}{_H16})?::",
]) + r")\z"

# Python-\S as an explicit Java class: Python's re.\s (Unicode mode)
# is [ \t-\r] + \x1c-\x1f + NEL + NBSP + the Zs/Zl/Zp categories
_PY_NOT_WS = ("[^ \\t-\\r\\x1C-\\x1F\\x85\\xA0\\u1680"
              "\\u2000-\\u200A\\u2028\\u2029\\u202F\\u205F\\u3000]")
_URI_PAT = r"^[A-Za-z][A-Za-z0-9+.\-]*:" + _PY_NOT_WS + r"*\z"

# mirror of _EMAIL_LOCAL_RE (formats.py:32-33) — Java supports the
# lookarounds verbatim
_EMAIL_LOCAL_PAT = (
    r"^(?!\.)(\"([^\"\r\\]|\\[\"\r\\])*\""
    r"|([-a-z0-9!#$%&'*+/=?^_`{|}~]|(?<!\.)\.)*)(?<!\.)\z")


def _format_email_pred(s: Column) -> Column:
    """Kernel ``valid_email`` (formats.py:191-212, schema.js:774-793):
    split at the LAST '@'; local part must match the quoted/dot-atom
    regex and be non-empty; domain is a hostname, a ``[IPv4]`` literal,
    or a ``[IPv6:…]`` literal."""
    domain = F.substring_index(s, "@", -1)
    local = F.substring(s, F.lit(1),
                        F.length(s) - F.length(domain) - F.lit(1))
    bracketed = domain.startswith("[") & domain.endswith("]")
    is_v6_lit = domain.startswith("[IPv6:")
    inner_v6 = F.substring(domain, F.lit(7), F.length(domain) - F.lit(7))
    inner_v4 = F.substring(domain, F.lit(2), F.length(domain) - F.lit(2))
    domain_ok = (
        F.when(bracketed & is_v6_lit, inner_v6.rlike(_IPV6_PAT))
        .when(bracketed, inner_v4.rlike(_FORMAT_REGEX["ipv4"]))
        .otherwise(_format_hostname_pred(domain)))
    return F.coalesce(
        s.contains("@") & (local != "") & domain_ok
        & local.rlike(_EMAIL_LOCAL_PAT),
        F.lit(False))


_FORMAT_PRED = {
    "date": _format_date_pred,
    "time": _format_time_pred,
    "date-time": _format_date_time_pred,
    "hostname": _format_hostname_pred,
    "duration": _format_duration_pred,
    "ipv6": lambda s: F.coalesce(s.rlike(_IPV6_PAT), F.lit(False)),
    "email": _format_email_pred,
    # reference: `new URL(value)` succeeds — scheme + no raw whitespace
    # (formats.py:236-239, schema.js:510).  The kernel uses Python's
    # Unicode \S; Java's default \S is ASCII-only, so spell Python's
    # whitespace set out explicitly (\x1c-\x1f, NEL, NBSP, Zs/Zl/Zp).
    "uri": lambda s: s.rlike(_URI_PAT),
    "iri": lambda s: s.rlike(_URI_PAT),
    # reference: `new URL(value, base)` — reject only raw whitespace
    # (formats.py:242-246, schema.js:512)
    "uri-reference": lambda s: ~F.coalesce(
        s.rlike("[ \t\n\r]"), F.lit(False)),
    "iri-reference": lambda s: ~F.coalesce(
        s.rlike("[ \t\n\r]"), F.lit(False)),
}


def _h_format(c, kw, sval, node, texpr, jt, is_null, add, descend, checks,
              spath, dpath, refs):
    if not c.format_assertion:
        # annotation-only default — parity with the shipped reference
        # (hard `return true`, schema.js:499)
        add(kw, sval, F.lit(True))
        return
    if isinstance(texpr.dtype, (T.TimestampType, T.TimestampNTZType)) and \
            sval == "date-time":
        add(kw, sval, F.lit(True))  # typed storage is a valid date-time by construction
        return
    if sval in _FORMAT_REGEX:
        add(kw, sval, is_null | texpr.string_col().rlike(_FORMAT_REGEX[sval]))
        return
    if sval in _FORMAT_PRED:
        add(kw, sval, is_null | _FORMAT_PRED[sval](texpr.string_col()))
        return
    raise ColumnarUnsupported(f"format {sval} needs the kernel")


def _h_required(c, kw, sval, node, texpr, jt, is_null, add, descend, checks,
                spath, dpath, refs):
    for i, prop in enumerate(sval):
        child = texpr.member(prop)
        # relational bridge: presence == NOT NULL (see module doc)
        pred = is_null if child is None \
            else is_null | child.col.isNotNull()
        add(kw, prop, pred, extra_path=(i,))


def _wrap_vacuous(sub_checks: List[CheckSpec], gate: Column) -> List[CheckSpec]:
    """Gate child checks to pass vacuously (absent key / null parent —
    the relational bridge, module docstring)."""
    return [CheckSpec(s.name, s.keyword, s.schema_path, s.data_path,
                      s.schema_value, gate | s.predicate, s.plane, s.value_col,
                      note=s.note)
            for s in sub_checks]


def _child_gate(is_null, child: _TExpr) -> Column:
    # NULL column ⇔ key absent ⇒ property subschema is never applied
    # (mirror of the present-key loop, schema.js:237-254); a NULL parent
    # struct likewise has no keys at all
    return child.null_col() | is_null


def _present(texpr: _TExpr, name: str) -> Column:
    """Key ``name`` present on the object (relational bridge: NOT
    NULL); FALSE for a struct field that does not exist."""
    child = texpr.member(name)
    return F.lit(False) if child is None else child.col.isNotNull()


def _map_key_regex(pattern: str) -> str:
    """Java-safe regex for a dynamic map key, or ColumnarUnsupported —
    dynamic keys can't be expanded at compile time, so the match must
    run JVM-side in the JS dialect's Java-safe subset (search
    semantics, same as rlike)."""
    jre = java_regex_or_none(pattern)
    if jre is None:
        raise ColumnarUnsupported(
            f"dynamic-key regex {pattern!r} outside the Java-safe subset")
    return jre


def _h_properties(c, kw, sval, node, texpr, jt, is_null, add, descend, checks,
                  spath, dpath, refs):
    for prop, sub in sval.items():
        child = texpr.member(prop)
        if child is None:
            continue  # key can never be present → vacuous
        sub_checks = c._compile_node(sub, child,
                                     spath + ("properties", prop),
                                     dpath + (prop,), refs)
        checks.extend(_wrap_vacuous(sub_checks, _child_gate(is_null, child)))


def _h_pattern_properties(c, kw, sval, node, texpr, jt, is_null, add, descend,
                          checks, spath, dpath, refs):
    if texpr.is_map():
        vt = texpr.dtype.valueType
        preds = []

        def entry_violates(jre, fn):
            # real closure: pyspark introspects lambda arity, so extra
            # default-arg parameters are rejected (CLAUDE.md lambda note)
            return lambda k, v: (k.rlike(jre) & v.isNotNull()
                                 & ~F.coalesce(fn(v), F.lit(False)))

        for pattern, sub in sval.items():
            jre = _map_key_regex(pattern)
            fn = _elem_pred_fn(c, sub, vt,
                               spath + ("patternProperties", pattern),
                               dpath, refs)
            bad = F.map_filter(texpr.col, entry_violates(jre, fn))
            preds.append(F.size(bad) == 0)
        add(kw, sval, is_null | _and_all(preds))
        return
    # static key set: expand regex matches at compile time with the JS
    # dialect (schema.js:255-269)
    for pattern, sub in sval.items():
        try:
            rx = compile_js_regex(pattern)
        except UnsupportedRegexError as exc:
            raise ColumnarUnsupported(str(exc)) from exc
        for prop in texpr.field_names():
            if rx.search(prop):
                child = texpr.field(prop)
                sub_checks = c._compile_node(
                    sub, child, spath + ("patternProperties", pattern),
                    dpath + (prop,), refs)
                checks.extend(_wrap_vacuous(sub_checks,
                                            _child_gate(is_null, child)))


def _matched_keys(node: dict, texpr: _TExpr) -> set:
    """Keys claimed by properties/patternProperties on a static shape."""
    claimed = set()
    props = node.get("properties")
    if isinstance(props, dict):
        claimed |= set(props.keys())
    pprops = node.get("patternProperties")
    if isinstance(pprops, dict):
        for pattern in pprops:
            try:
                rx = compile_js_regex(pattern)
            except UnsupportedRegexError as exc:
                raise ColumnarUnsupported(str(exc)) from exc
            claimed |= {p for p in texpr.field_names() if rx.search(p)}
    return claimed


def _h_additional_properties(c, kw, sval, node, texpr, jt, is_null, add,
                             descend, checks, spath, dpath, refs):
    if texpr.is_map():
        prop_names = list((node.get("properties") or {})
                          if isinstance(node.get("properties"), dict) else [])
        pats = [_map_key_regex(p)
                for p in (node.get("patternProperties") or {})
                if isinstance(node.get("patternProperties"), dict)]

        def unclaimed(k):
            p = F.lit(True)
            if prop_names:
                p = p & ~k.isin(*prop_names)
            for jre in pats:
                p = p & ~k.rlike(jre)
            return p

        if sval is False:
            bad = F.map_filter(texpr.col,
                               lambda k, v: unclaimed(k) & v.isNotNull())
        else:
            fn = _elem_pred_fn(c, sval, texpr.dtype.valueType,
                               spath + ("additionalProperties",), dpath, refs)
            bad = F.map_filter(
                texpr.col,
                lambda k, v: unclaimed(k) & v.isNotNull()
                & ~F.coalesce(fn(v), F.lit(False)))
        add(kw, sval, is_null | (F.size(bad) == 0))
        return
    claimed = _matched_keys(node, texpr)
    for prop in texpr.field_names():
        if prop in claimed:
            continue
        child = texpr.field(prop)
        if sval is False:
            # presence of an unclaimed field (non-null under the
            # relational bridge) is a violation
            add(kw, False, is_null | child.col.isNull(),
                extra_path=(prop,))
        else:
            sub_checks = c._compile_node(
                sval, child, spath + ("additionalProperties",),
                dpath + (prop,), refs)
            checks.extend(_wrap_vacuous(sub_checks,
                                        _child_gate(is_null, child)))


def _h_property_names(c, kw, sval, node, texpr, jt, is_null, add, descend,
                      checks, spath, dpath, refs):
    if texpr.is_map():
        fn = _elem_pred_fn(c, sval, T.StringType(),
                           spath + ("propertyNames",), dpath, refs)
        bad = F.map_filter(
            texpr.col,
            lambda k, v: v.isNotNull() & ~F.coalesce(fn(k), F.lit(False)))
        add(kw, sval, is_null | (F.size(bad) == 0))
        return
    # static keys: evaluate the subschema against each literal name on
    # the driver with the kernel — free at runtime
    from jema_js_spark.kernel.kernel import validate as kernel_validate
    try:
        bad = [p for p in texpr.field_names()
               if not kernel_validate(
                   sval if isinstance(sval, (dict, bool)) else {}, p)]
    except Exception as exc:  # detached sval (e.g. $ref) → Plane B
        raise ColumnarUnsupported(f"propertyNames needs the kernel: {exc}") \
            from exc
    if not bad:
        add(kw, sval, F.lit(True))
        return
    # a statically-bad name only violates when the field is "present"
    add(kw, sval,
        is_null | _and_all([texpr.field(p).col.isNull() for p in bad]))


def _h_prop_count(op):
    def h(c, kw, sval, node, texpr, jt, is_null, add, descend, checks,
          spath, dpath, refs):
        if texpr.is_map():
            cnt = F.size(F.map_filter(texpr.col,
                                      lambda k, v: v.isNotNull()))
            add(kw, sval, is_null | op(cnt, F.lit(sval)))
            return
        cnt = None
        for p in texpr.field_names():
            term = texpr.field(p).col.isNotNull().cast("int")
            cnt = term if cnt is None else cnt + term
        if cnt is None:
            cnt = F.lit(0)
        add(kw, sval, is_null | op(cnt, F.lit(sval)))
    return h


def _h_dependent_required(c, kw, sval, node, texpr, jt, is_null, add, descend,
                          checks, spath, dpath, refs):
    preds = []
    for prop, reqs in sval.items():
        trigger = _present(texpr, prop)
        need = _and_all([_present(texpr, r) for r in reqs])
        preds.append(~trigger | need)
    add(kw, sval, is_null | _and_all(preds))


def _h_dependent_schemas(c, kw, sval, node, texpr, jt, is_null, add, descend,
                         checks, spath, dpath, refs):
    for prop, sub in sval.items():
        pred = ~_present(texpr, prop) | descend(sub, texpr)
        add(kw, prop, is_null | pred, extra_path=(prop,))


def _h_dependencies(c, kw, sval, node, texpr, jt, is_null, add, descend,
                    checks, spath, dpath, refs):
    for prop, dep in sval.items():
        if isinstance(dep, list):
            _h_dependent_required(c, kw, {prop: dep}, node, texpr, jt, is_null,
                                  add, descend, checks, spath, dpath, refs)
        else:
            _h_dependent_schemas(c, kw, {prop: dep}, node, texpr, jt, is_null,
                                 add, descend, checks, spath, dpath, refs)


# -- arrays ------------------------------------------------------------------

def _h_arrlen(op):
    def h(c, kw, sval, node, texpr, jt, is_null, add, descend, checks,
          spath, dpath, refs):
        add(kw, sval, is_null | op(F.size(texpr.col), F.lit(sval)))
    return h


def _elem_pred_fn(c, sub: Any, elem_type: T.DataType, spath, dpath, refs
                  ) -> Callable[[Column], Column]:
    def fn(x: Column) -> Column:
        sub_checks = c._compile_node(sub, _TExpr(x, elem_type), spath, dpath, refs)
        if any(s.plane == "B" for s in sub_checks):
            raise ColumnarUnsupported("kernel check inside array lambda")
        return _and_all([s.predicate for s in sub_checks])
    return fn


def _h_items(c, kw, sval, node, texpr, jt, is_null, add, descend, checks,
             spath, dpath, refs):
    elem_t = texpr.dtype.elementType
    prefix = node.get("prefixItems")
    n_prefix = len(prefix) if isinstance(prefix, list) else 0
    fn = _elem_pred_fn(c, sval, elem_t, spath + ("items",), dpath, refs)
    tail = F.slice(texpr.col, n_prefix + 1,
                   F.greatest(F.size(texpr.col) - n_prefix, F.lit(0))) \
        if n_prefix else texpr.col
    add(kw, sval, is_null | F.forall(tail, fn))


def _h_prefix_items(c, kw, sval, node, texpr, jt, is_null, add, descend,
                    checks, spath, dpath, refs):
    elem_t = texpr.dtype.elementType
    preds = []
    for i, sub in enumerate(sval):
        if sub is None:
            continue
        fn = _elem_pred_fn(c, sub, elem_t, spath + ("prefixItems", i), dpath, refs)
        # try_element_at: ANSI-safe — boolean OR does not short-circuit
        # evaluation, so a plain element_at would throw out-of-bounds
        preds.append((F.size(texpr.col) <= i)
                     | fn(F.try_element_at(texpr.col, F.lit(i + 1))))
    add(kw, sval, is_null | _and_all(preds))


def _h_contains(c, kw, sval, node, texpr, jt, is_null, add, descend, checks,
                spath, dpath, refs):
    elem_t = texpr.dtype.elementType
    fn = _elem_pred_fn(c, sval, elem_t, spath + ("contains",), dpath, refs)
    n = F.size(F.filter(texpr.col, fn))
    min_c = node.get("minContains", 1)
    max_c = node.get("maxContains")
    pred = n >= F.lit(min_c)
    if max_c is not None:
        pred = pred & (n <= F.lit(max_c))
    add(kw, sval, is_null | pred)


def _h_min_max_contains(c, kw, sval, node, texpr, jt, is_null, add, descend,
                        checks, spath, dpath, refs):
    # folded into _h_contains; only meaningful when contains present
    if "contains" not in node:
        add(kw, sval, F.lit(True))


def _h_unique_items(c, kw, sval, node, texpr, jt, is_null, add, descend,
                    checks, spath, dpath, refs):
    if not sval:
        add(kw, sval, F.lit(True))
        return
    col = texpr.col
    # array_distinct compares structurally (struct field order is fixed
    # by the schema, so key-order insensitivity is inherent); NaN==NaN
    # in Spark matches JS SameValueZero (schema.js:539-551)
    add(kw, sval, is_null | (F.size(F.array_distinct(col)) == F.size(col)))


# -- combinators -------------------------------------------------------------

def _h_all_of(c, kw, sval, node, texpr, jt, is_null, add, descend, checks,
              spath, dpath, refs):
    for i, sub in enumerate(sval):
        sub_checks = c._compile_node(sub, texpr, spath + ("allOf", i), dpath, refs)
        checks.extend(sub_checks)


def _h_any_of(c, kw, sval, node, texpr, jt, is_null, add, descend, checks,
              spath, dpath, refs):
    add(kw, sval, _or_all([descend(sub, texpr) for sub in sval]))


def _h_one_of(c, kw, sval, node, texpr, jt, is_null, add, descend, checks,
              spath, dpath, refs):
    count = None
    for sub in sval:
        term = descend(sub, texpr).cast("int")
        count = term if count is None else count + term
    add(kw, sval, (count if count is not None else F.lit(0)) == F.lit(1))


def _h_not(c, kw, sval, node, texpr, jt, is_null, add, descend, checks,
           spath, dpath, refs):
    add(kw, sval, ~descend(sval, texpr))


def _h_if(c, kw, sval, node, texpr, jt, is_null, add, descend, checks,
          spath, dpath, refs):
    p_if = descend(sval, texpr)
    p_then = descend(node["then"], texpr) \
        if node.get("then") is not None else F.lit(True)
    p_else = descend(node["else"], texpr) \
        if node.get("else") is not None else F.lit(True)
    add(kw, sval, F.when(p_if, p_then).otherwise(p_else))


def _h_ref(c, kw, sval, node, texpr, jt, is_null, add, descend, checks,
           spath, dpath, refs):
    target = c.schema.registry.ref_targets.get(id(node))
    if target is None:
        raise ColumnarUnsupported(f"unresolved $ref {sval}")
    # cycle key = (node, column dtype): a RECURSIVE ref re-enters this
    # node once per unrolled struct level with a strictly narrower
    # dtype (round-8 bounded unroll, json_plane._build_node) and
    # terminates at the VariantType leaf, where the variant net above
    # compiles the remaining subtree as one kernel check — so the
    # unrolled levels stay Plane A.  Re-entry with the SAME dtype is a
    # genuine cycle over one column (e.g. {"allOf": [{"$ref": "#"}]})
    # and still bubbles to Plane B.
    key = (id(node), texpr.dtype)
    if key in refs:
        raise ColumnarUnsupported(f"cyclic $ref {sval}")
    checks.extend(c._compile_node(target, texpr, spath + ("$ref",), dpath,
                                  refs | {key}))


def _h_dynamic_ref(c, kw, sval, node, texpr, jt, is_null, add, descend,
                   checks, spath, dpath, refs):
    raise ColumnarUnsupported("$dynamicRef is inherently runtime-scoped")


# -- static evaluated-set analysis for unevaluated* --------------------------
#
# Soundness argument: the unevaluated-sweep outcome only affects the row
# verdict when every *other* check already passed (any earlier error
# makes the row invalid regardless — the reference's lazy generator
# reaches the sweep with a fully-materialized evaluated set only on the
# no-error path, schema.js:216-227).  On that path the evaluated set is
# statically derivable whenever each applicator's contribution is:
#
# - unconditional and full — properties / patternProperties /
#   additionalProperties / allOf, and (round 5) a non-cyclic ``$ref``
#   target, which the kernel visits exactly like an inlined allOf
#   branch (schema.js:345-353: plain ``yield from`` into the target);
# - nothing at all — ``not`` suppresses collection via the
#   stop_collecting flag (schema.js:410-412), PROVIDED no nested
#   ``not`` anywhere below it can hit the quirky plain-reset (the
#   inner probe's exit sets the flag False, not back to its entry
#   value, re-enabling collection for the rest of the outer probe);
# - conditional on a statically-expressible guard — then/else claims
#   under the if-outcome, and (round 5) dependentSchemas /
#   schema-form dependencies claims under trigger-key presence
#   (schema.js:616-642: the branch runs iff the key is present, and on
#   the no-error path it validates fully, so its claims are its full
#   static set);
# - or covered — probing applicators (``if``, and round 5
#   anyOf/oneOf, which under collecting mode probe EVERY branch,
#   schema.js:381-395) may leak an order-dependent partial claim set
#   from a FAILED probe, which no static predicate can reproduce — but
#   a leaked claim over an always-claimed key changes nothing, so
#   probe branches are admissible exactly when their full static claim
#   set is already always-claimed (claim-free branches like
#   ``{"required": [...]}`` trivially so).
#
# Anything outside these shapes raises ColumnarUnsupported and takes
# the carried-sibling Plane-B fallback (whole-node-equivalent — the
# safety rail the CLAUDE.md invariant demands).  $dynamicRef stays
# kernel-only: its target is runtime-scoped.


def _claimed_keys_static(c, node: Any, texpr: _TExpr, descend,
                         ref_stack: frozenset = frozenset()):
    """Set of statically-claimed property names plus an optional
    per-remaining-key guard Column (for conditional claims).  Returns
    (always_claimed: set, conditional: dict[name, Column]) or raises
    ColumnarUnsupported."""
    if not isinstance(node, dict):
        return set(), {}          # boolean subschemas claim nothing
    if "$dynamicRef" in node:
        raise ColumnarUnsupported(
            "unevaluated* with $dynamicRef needs the kernel "
            "(runtime-scoped target)")
    always: set = set()
    conditional: Dict[str, Column] = {}

    def merge_conditional(name: str, guard: Column) -> None:
        if name in always:
            return
        prev = conditional.get(name)
        conditional[name] = guard if prev is None else (prev | guard)

    props = node.get("properties")
    if isinstance(props, dict):
        always |= set(props.keys())
    pprops = node.get("patternProperties")
    if isinstance(pprops, dict):
        for pattern in pprops:
            try:
                rx = compile_js_regex(pattern)
            except UnsupportedRegexError as exc:
                raise ColumnarUnsupported(str(exc)) from exc
            always |= {p for p in texpr.field_names() if rx.search(p)}
    if "additionalProperties" in node and node["additionalProperties"] is not None:
        always |= set(texpr.field_names())

    all_of = node.get("allOf")
    if isinstance(all_of, list):
        for branch in all_of:
            b_always, b_cond = _claimed_keys_static(c, branch, texpr,
                                                    descend, ref_stack)
            always |= b_always
            for name, guard in b_cond.items():
                merge_conditional(name, guard)

    if "$ref" in node:
        # on the no-error path the target validates fully, so its
        # claims are its full static set — an inlined allOf branch
        target = c.schema.registry.ref_targets.get(id(node))
        if target is None:
            raise ColumnarUnsupported(f"unresolved $ref {node['$ref']}")
        if id(node) in ref_stack:
            raise ColumnarUnsupported(
                "cyclic $ref in unevaluated* claim analysis needs the kernel")
        t_always, t_cond = _claimed_keys_static(
            c, target, texpr, descend, ref_stack | {id(node)})
        always |= t_always
        for name, guard in t_cond.items():
            merge_conditional(name, guard)

    if "not" in node:
        # claims inside `not` are suppressed (stop_collecting) — it
        # contributes nothing — unless a nested `not` below it could
        # plain-reset the flag mid-probe (kernel quirk, schema.js:412)
        if any("not" in n
               for n in _reachable_subschemas(c.schema, node["not"])):
            raise ColumnarUnsupported(
                "unevaluated* with nested not-in-not needs the kernel "
                "(plain stop_collecting reset re-enables collection)")

    for probe_kw in ("anyOf", "oneOf"):
        branches = node.get(probe_kw)
        if not isinstance(branches, list):
            continue
        # collecting mode probes EVERY branch; a failed probe leaks the
        # claims made before its first error — order-dependent, so each
        # branch's full static claim set must already be always-claimed
        # (then leaks change nothing and passing branches add nothing)
        for branch in branches:
            b_always, b_cond = _claimed_keys_static(c, branch, texpr,
                                                    descend, ref_stack)
            uncovered = (b_always | set(b_cond)) - always
            if uncovered:
                raise ColumnarUnsupported(
                    f"unevaluated* with {probe_kw}-branch claims over "
                    f"{sorted(uncovered)} needs the kernel "
                    "(failed probes leave partial claims)")

    for dep_kw in ("dependentSchemas", "dependencies"):
        deps = node.get(dep_kw)
        if not isinstance(deps, dict):
            continue
        field_names = set(texpr.field_names())
        for trigger, branch in deps.items():
            if isinstance(branch, list):
                continue          # draft-4 required-form: no claims
            b_always, b_cond = _claimed_keys_static(c, branch, texpr,
                                                    descend, ref_stack)
            if not (b_always or b_cond):
                continue
            if trigger not in field_names:
                continue          # trigger key can never be present
            present = ~texpr.field(trigger).null_col()
            for name in b_always:
                merge_conditional(name, present)
            for name, sub_guard in b_cond.items():
                merge_conditional(name, present & sub_guard)

    if "if" in node and node.get("if") is not None:
        # the `if` probe itself claims keys (kernel records evaluated
        # keys as the probe runs).  When the probe PASSES its claims are
        # its full static claim set; when it FAILS the reference keeps
        # only the claims made before the first error — an order-
        # dependent partial set no static predicate can reproduce.  So:
        # claims already covered elsewhere are fine, probe-pass claims
        # merge under the p_if guard, and any probe-branch claim not
        # otherwise covered forces Plane B.
        if_branch = node["if"]
        i_always, i_cond = _claimed_keys_static(c, if_branch, texpr,
                                                descend, ref_stack)
        uncovered = (i_always | set(i_cond)) - always
        if uncovered:
            raise ColumnarUnsupported(
                "unevaluated* with if-probe claims over "
                f"{sorted(uncovered)} needs the kernel "
                "(failed probes leave partial claims)")
        p_if = descend(node["if"], texpr)
        for branch_key, guard in (("then", p_if), ("else", ~p_if)):
            branch = node.get(branch_key)
            if isinstance(branch, dict):
                b_always, b_cond = _claimed_keys_static(c, branch, texpr,
                                                        descend, ref_stack)
                for name in b_always:
                    merge_conditional(name, guard)
                for name, sub_guard in b_cond.items():
                    merge_conditional(name, guard & sub_guard)

    conditional = {k: v for k, v in conditional.items() if k not in always}
    return always, conditional


def _h_unevaluated_properties(c, kw, sval, node, texpr, jt, is_null, add,
                              descend, checks, spath, dpath, refs):
    always, conditional = _claimed_keys_static(c, node, texpr, descend, refs)
    preds = []
    for prop in texpr.field_names():
        if prop in always:
            continue
        child = texpr.field(prop)
        # an unclaimed-but-present key must satisfy the unevaluated schema
        sub_pred = descend(sval, child)
        covered = child.null_col() | sub_pred
        if prop in conditional:
            covered = conditional[prop] | covered
        preds.append(covered)
    add(kw, sval, is_null | _and_all(preds))


def _claimed_items_static(c, node: Any,
                          ref_stack: frozenset = frozenset(),
                          at_sweep_node: bool = False):
    """Statically-claimed item positions for the unevaluatedItems
    sweep: returns ``(n_prefix, all_claimed)`` — positions below
    ``n_prefix`` are always claimed; ``all_claimed`` when an ``items``
    keyword evaluates every element — or raises ColumnarUnsupported.

    Same soundness frame as :func:`_claimed_keys_static` (round 5),
    specialized to index claims (schema.js:289-338): allOf branches
    and non-cyclic $ref targets contribute their full static claims on
    the no-error path; probing anyOf/oneOf/if-then-else branches are
    admissible only when their claims are already covered (a failed
    probe's partial leak over covered positions changes nothing);
    ``not`` contributes nothing (stop_collecting) barring the nested
    plain-reset quirk; ``contains`` claims are RUNTIME (whichever
    elements match) and are handled only at the sweep's own node —
    anywhere deeper forces the kernel.  dependentSchemas /
    dependentRequired / draft-4 dependencies are object-gated in the
    kernel (vocabulary ``affects``; _v_dependencies bails on
    non-dicts) and never claim items."""
    if not isinstance(node, dict):
        return 0, False
    if "$dynamicRef" in node:
        raise ColumnarUnsupported(
            "unevaluatedItems with $dynamicRef needs the kernel")
    if not at_sweep_node and "contains" in node \
            and node.get("contains") is not None:
        # contains claims are RUNTIME (whichever elements match); the
        # sweep's own node handles them via the element probe — any
        # deeper occurrence forces the kernel
        raise ColumnarUnsupported(
            "unevaluatedItems with contains inside an in-place branch "
            "needs the kernel (runtime element claims)")
    n_prefix = 0
    all_claimed = False
    prefix = node.get("prefixItems")
    if isinstance(prefix, list):
        n_prefix = len(prefix)
    if "items" in node and node.get("items") is not None:
        all_claimed = True

    for branch in node.get("allOf") or []:
        bn, ball = _claimed_items_static(c, branch, ref_stack)
        n_prefix = max(n_prefix, bn)
        all_claimed |= ball

    if "$ref" in node:
        target = c.schema.registry.ref_targets.get(id(node))
        if target is None:
            raise ColumnarUnsupported(f"unresolved $ref {node['$ref']}")
        if id(node) in ref_stack:
            raise ColumnarUnsupported(
                "cyclic $ref in unevaluatedItems claim analysis "
                "needs the kernel")
        tn, tall = _claimed_items_static(c, target,
                                         ref_stack | {id(node)})
        n_prefix = max(n_prefix, tn)
        all_claimed |= tall

    if "not" in node and any(
            "not" in n for n in _reachable_subschemas(c.schema, node["not"])):
        raise ColumnarUnsupported(
            "unevaluatedItems with nested not-in-not needs the kernel "
            "(plain stop_collecting reset re-enables collection)")
    # (`contains` inside `not` needs no scan: its claims are
    # stop_collecting-suppressed like every other not-subtree claim)

    def covered(bn: int, ball: bool) -> bool:
        return (not ball or all_claimed) and (bn <= n_prefix or all_claimed)

    for probe_kw in ("anyOf", "oneOf"):
        for branch in node.get(probe_kw) or []:
            bn, ball = _claimed_items_static(c, branch, ref_stack)
            if not covered(bn, ball):
                raise ColumnarUnsupported(
                    f"unevaluatedItems with {probe_kw}-branch claims "
                    "beyond the covered prefix needs the kernel "
                    "(failed probes leave partial claims)")

    if "if" in node and node.get("if") is not None:
        for branch_key in ("if", "then", "else"):
            branch = node.get(branch_key)
            if branch is None and branch_key != "if":
                continue
            bn, ball = _claimed_items_static(c, branch, ref_stack)
            # conservative: then/else claims are merged only when
            # already covered (no conditional index guards — unlike
            # the key analysis, a guarded PREFIX LENGTH would need
            # per-position conditionals)
            if not covered(bn, ball):
                raise ColumnarUnsupported(
                    "unevaluatedItems with if/then/else claims beyond "
                    "the covered prefix needs the kernel")
    return n_prefix, all_claimed


def _h_unevaluated_items(c, kw, sval, node, texpr, jt, is_null, add,
                         descend, checks, spath, dpath, refs):
    # claims: prefixItems positions, all items if `items` present,
    # contains-matching elements (schema.js:289-331).  The node's own
    # `contains` keeps its runtime element-probe handling below; the
    # claim analysis (round 5) folds allOf/$ref and covered probing
    # branches — anything else raises to the carried-sibling fallback.
    n_prefix, all_claimed = _claimed_items_static(c, node, refs,
                                                  at_sweep_node=True)
    if all_claimed:
        add(kw, sval, F.lit(True))  # items evaluates every element
        return
    elem_t = texpr.dtype.elementType
    contains = node.get("contains") if "contains" in node else None
    tail = F.slice(texpr.col, n_prefix + 1,
                   F.greatest(F.size(texpr.col) - n_prefix, F.lit(0))) \
        if n_prefix else texpr.col

    def elem_ok(x: Column) -> Column:
        covered = _elem_pred_fn(c, sval, elem_t,
                                spath + ("unevaluatedItems",), dpath, refs)(x)
        if contains is not None:
            claimed = _elem_pred_fn(c, contains, elem_t,
                                    spath + ("contains",), dpath, refs)(x)
            covered = claimed | covered
        return covered

    add(kw, sval, is_null | F.forall(tail, elem_ok))


_HANDLERS: Dict[str, Callable] = {
    "type": _h_type,
    "enum": _h_enum,
    "const": _h_const,
    "minimum": _h_bound(lambda col, lit: col >= lit),
    "maximum": _h_bound(lambda col, lit: col <= lit),
    "exclusiveMinimum": _h_bound(lambda col, lit: col > lit),
    "exclusiveMaximum": _h_bound(lambda col, lit: col < lit),
    "multipleOf": _h_multiple_of,
    "minLength": _h_strlen(lambda n, lit: n >= lit),
    "maxLength": _h_strlen(lambda n, lit: n <= lit),
    "pattern": _h_pattern,
    "format": _h_format,
    "required": _h_required,
    "properties": _h_properties,
    "patternProperties": _h_pattern_properties,
    "additionalProperties": _h_additional_properties,
    "propertyNames": _h_property_names,
    "minProperties": _h_prop_count(lambda n, lit: n >= lit),
    "maxProperties": _h_prop_count(lambda n, lit: n <= lit),
    "dependentRequired": _h_dependent_required,
    "dependentSchemas": _h_dependent_schemas,
    "dependencies": _h_dependencies,
    "minItems": _h_arrlen(lambda n, lit: n >= lit),
    "maxItems": _h_arrlen(lambda n, lit: n <= lit),
    "items": _h_items,
    "prefixItems": _h_prefix_items,
    "contains": _h_contains,
    "minContains": _h_min_max_contains,
    "maxContains": _h_min_max_contains,
    "uniqueItems": _h_unique_items,
    "allOf": _h_all_of,
    "anyOf": _h_any_of,
    "oneOf": _h_one_of,
    "not": _h_not,
    "if": _h_if,
    "$ref": _h_ref,
    "$dynamicRef": _h_dynamic_ref,
    "unevaluatedProperties": _h_unevaluated_properties,
    "unevaluatedItems": _h_unevaluated_items,
}

# the affects types of the keywords the kernel's vocabulary leaves
# ungated: its object/array passes (schema.js:229-338) run only on their
# own type, and the draft-4 dependencies shim bails on non-objects
_PASS_AFFECTS = {
    "properties": "object", "patternProperties": "object",
    "additionalProperties": "object", "unevaluatedProperties": "object",
    "dependencies": "object",
    "items": "array", "prefixItems": "array", "contains": "array",
    "unevaluatedItems": "array",
}
# keyword → the one JSON type it applies to; the type gate in
# _compile_node reads this and nothing else
_AFFECTS: Dict[str, str] = {
    kw: t for kw in _HANDLERS
    if (t := _KERNEL_VOCABULARY.get(kw, (None,))[0]
        or _PASS_AFFECTS.get(kw))}
# gated keywords that emit no check at all off their type: they only
# descend into members, and a value without members has none to judge
_SILENT_OFF_TYPE = frozenset({
    "properties", "patternProperties", "additionalProperties",
    "items", "prefixItems", "contains"})


# ---------------------------------------------------------------------------

@dataclass
class CompiledPlan:
    """The compiled constraint DAG over one DataFrame shape.

    The derived Columns (``valid_column``/``plane_a_column``/
    ``violations_struct``) are memoized per instance (round 9): Column
    construction is driver-side py4j round-trips — one JVM call per
    expression node — and rebuilding a 30-conjunct AND chain (or the
    per-check violation structs) on every query added measurable
    driver latency per call.  Column objects are immutable expression
    trees, safely shared across any number of queries in a session."""

    checks: List[CheckSpec]
    compiler: SchemaCompiler

    def valid_column(self) -> Column:
        col = getattr(self, "_valid_col", None)
        if col is None:
            col = _and_all([c.predicate for c in self.checks])
            object.__setattr__(self, "_valid_col", col)
        return col

    def plane_a_column(self) -> Column:
        """AND of the Plane-A (pure Catalyst) checks only — a sound
        NECESSARY condition for validity (every check is a conjunct of
        the full verdict), evaluable inside a JVM filter with zero
        Python.  ``lit(True)`` when every check is Plane B.  Used by
        the errors-path masked screen (round 7): rows failing any
        Plane-A check are invalid without consulting the kernel."""
        col = getattr(self, "_plane_a_col", None)
        if col is None:
            col = _and_all([c.predicate for c in self.checks
                            if c.plane == "A"])
            object.__setattr__(self, "_plane_a_col", col)
        return col

    def coverage(self) -> Dict[str, Any]:
        """Plane-A share — regressions to Plane B must be visible
        (SURVEY.md §7.0).  ``plane_b_reasons`` (round 7, VERDICT r6 #7)
        names WHY each check left pure Catalyst — the ColumnarUnsupported
        reason or the regex translator's rejection — so fallback causes
        are countable over a corpus, not just counted."""
        a = sum(1 for c in self.checks if c.plane == "A")
        b = sum(1 for c in self.checks if c.plane == "B")
        b_checks = [c for c in self.checks if c.plane == "B"]
        return {"plane_a_checks": a, "plane_b_checks": b,
                "plane_a_fraction": a / max(a + b, 1),
                "plane_b_names": [c.name for c in b_checks],
                "plane_b_reasons": {c.name: c.note or "(unrecorded)"
                                    for c in b_checks},
                "pattern_fallbacks": sum(
                    1 for c in b_checks
                    if c.keyword in ("pattern", "patternProperties",
                                     "propertyNames")
                    or "pattern" in (c.note or ""))}

    def with_valid(self, df: DataFrame, col_name: str = "valid") -> DataFrame:
        return df.withColumn(col_name, self.valid_column())

    def violations_struct(self) -> Column:
        """array<struct> of failed checks for a row — explode downstream
        (mirror of the reference's error stream, §2.10)."""
        col = getattr(self, "_violations_col", None)
        if col is not None:
            return col
        elems = []
        for c in self.checks:
            value_str = (F.coalesce(c.value_col, F.lit("object"))
                         if c.value_col is not None else F.lit("object"))
            elems.append(F.when(~c.predicate, F.struct(
                F.lit(c.name).alias("check"),
                F.lit(c.keyword).alias("keyword"),
                F.lit(json.dumps(list(c.schema_path))).alias("schema_path"),
                F.lit(json.dumps(list(c.data_path))).alias("data_path"),
                F.lit(js_to_string(c.schema_value)).alias("schema_value"),
                # reference message template: `<value> does not match
                # <keyword>:<schemaValue>` (schema.js:665-674)
                F.concat(value_str, F.lit(" " + c.message)).alias("message"),
            )))
        col = (F.filter(F.array(*elems), lambda x: x.isNotNull())
               if elems else F.array())
        object.__setattr__(self, "_violations_col", col)
        return col
