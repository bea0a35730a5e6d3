"""Schema front-end: parse, anchor symbol tables, ``$id`` resource
registration, and ``$ref`` dereferencing — the compile step of the engine.

Semantic mirror of the reference's ``Schema`` class
(/root/reference/schema.js:30-178) with one deliberate architectural
change: **no network**.  The reference fetches remote ``$ref`` targets
over HTTP at ``deref()`` time (schema.js:14-27,128-141); here every
remote document must be pre-registered in a :class:`SchemaRegistry`
(driver-side, compile-time only — executors never resolve refs), per
SURVEY.md §3.5.

Resolved ref targets are stored in a registry-global side table keyed by
node identity — the Python analog of the reference's hidden
``Symbol('ref')`` property (schema.js:5,109-126), which likewise never
shows up in keyword iteration.
"""

from __future__ import annotations

import contextlib
import json
import sys
from typing import Any, Dict, Iterator, Optional
from urllib.parse import urljoin


@contextlib.contextmanager
def _schema_depth_guard():
    """Raised recursion limit + clean DepthLimitExceeded for the
    compile-phase schema walks — the construction-time twin of the
    kernel's validate/iter_errors guard (kernel.py), sharing its limit
    and exception type (imported lazily: kernel imports this module)."""
    from jema_js_spark.kernel.kernel import (
        _RECURSION_LIMIT,
        DepthLimitExceeded,
    )

    old = sys.getrecursionlimit()
    try:
        if old < _RECURSION_LIMIT:
            sys.setrecursionlimit(_RECURSION_LIMIT)
        yield
    except RecursionError:
        raise DepthLimitExceeded(
            "schema nesting exceeds the compile depth limit") from None
    finally:
        sys.setrecursionlimit(old)

__all__ = ["Schema", "SchemaRegistry", "SchemaNotFound", "RefResolutionError"]

DEFAULT_DIALECT = "https://json-schema.org/draft/2020-12/schema"
# ref: schema.js:6 — base URI when no $id is present
DEFAULT_LOCATION = "http://localhost/"


def contract_key(schema: Any) -> Optional[str]:
    """Memo key text of a plain contract: its sorted JSON as ``Schema()``
    sees it, with the dialect default that ``Schema()`` injects into the
    caller's dict (schema.js:37).  A contract dict therefore keys the
    same before and after a ``Schema()`` has run on it.  None for
    anything else (a ``Schema`` instance may carry a registry) and for
    values JSON cannot encode."""
    if isinstance(schema, dict):
        schema = {"$schema": DEFAULT_DIALECT, **schema}
    elif not isinstance(schema, bool):
        return None
    try:
        return json.dumps(schema, sort_keys=True)
    except (TypeError, ValueError):
        return None


class SchemaNotFound(KeyError):
    """A remote ``$ref`` URL has no document registered (the offline
    analog of a failed fetch at schema.js:16)."""


class RefResolutionError(ValueError):
    """A ``$ref`` target could not be resolved at validation time —
    mirror of the reference's missing-ref failure mode (pinned by
    reference tests.html:583-595)."""


# Keywords whose value is a schema / collection of schemas — drives the
# sub-schema traversal, mirror of the vocabulary's subSchema markers
# (schema.js:171-178, 342-663).
_SUBSCHEMA_OBJECT = ("$defs", "properties", "dependentSchemas")
_SUBSCHEMA_ARRAY = ("allOf", "anyOf", "oneOf", "prefixItems")
_SUBSCHEMA_SINGLE = (
    "not",
    "if",
    "then",
    "else",
    "items",
    "additionalItems",
    "contains",
    "unevaluatedItems",
    "additionalProperties",
    "unevaluatedProperties",
    "patternProperties",  # subSchema: true in the reference (schema.js:577-579)
    "required",  # registered subSchema:true in the reference (schema.js:600)
    "propertyNames",
)


def iter_subschemas(schema: Any) -> Iterator[Any]:
    """Yield the direct sub-schema values of a schema node — mirror of
    ``subSchemas`` (schema.js:171-178).

    Note the reference's quirks are preserved: ``patternProperties`` is
    marked ``subSchema: true`` (the *container* is yielded, not its
    values) and ``required`` (an array of strings) is yielded too; both
    are harmless for traversal because non-keyword keys are skipped
    downstream, exactly as in the reference.
    """
    if not isinstance(schema, dict):
        return
    for prop, value in schema.items():
        if prop in _SUBSCHEMA_OBJECT:
            if isinstance(value, dict):
                yield from value.values()
        elif prop in _SUBSCHEMA_ARRAY:
            if isinstance(value, list):
                yield from value
        elif prop in _SUBSCHEMA_SINGLE:
            yield value


def unescape_pointer_part(part: str) -> str:
    """JSON-pointer token unescape: ``~1 ~0 %25 %22`` — exact mirror of
    walk()'s replace chain (schema.js:815)."""
    return (
        part.replace("~1", "/").replace("~0", "~").replace("%25", "%").replace("%22", '"')
    )


def walk_pointer(schema: Any, parts: list) -> Any:
    """Descend ``schema`` by JSON-pointer tokens — mirror of the helper
    ``walk`` (schema.js:812-830).  Returns ``None`` when the path is
    absent (the reference console.warns and returns undefined)."""
    sub = schema
    for raw in parts:
        part = unescape_pointer_part(raw)
        if isinstance(sub, list):
            try:
                idx = int(part)
            except ValueError:
                return None
            if not (0 <= idx < len(sub)):
                return None
            sub = sub[idx]
        elif isinstance(sub, dict):
            if part not in sub:
                return None
            sub = sub[part]
        else:
            return None
    return sub


def _resolve_url(ref: str, base: Optional[str]) -> str:
    return urljoin(base or DEFAULT_LOCATION, ref)


class SchemaRegistry:
    """Driver-side store of schema documents keyed by absolute URL — the
    offline analog of the global ``AllSchemas`` map (schema.js:13-27).

    ``add_document(url, doc)`` registers raw JSON; ``load(url)`` compiles
    (and memoizes) it into a :class:`Schema`, registering *before*
    dereferencing so that cyclic remote refs terminate (the reference
    breaks the same cycle with a queued microtask, schema.js:90-96).
    """

    def __init__(self) -> None:
        self._docs: Dict[str, Any] = {}
        self._schemas: Dict[str, "Schema"] = {}
        # node-identity → resolved target; the Symbol('ref') analog.
        self.ref_targets: Dict[int, Any] = {}
        # node-identity → owning schema resource; drives the kernel's
        # dynamic-scope tracking for $dynamicRef.  (The reference keeps no
        # such map and resolves $dynamicRef against the root only —
        # schema.js:355-362 — which its own README flags as buggy; we
        # implement the spec-correct dynamic scope, a documented
        # improvement over the reference.)
        self.node_resource: Dict[int, "Schema"] = {}
        # keep every registered doc alive so id()-keyed entries stay valid
        self._pinned: list = []

    def add_document(self, url: str, doc: Any) -> None:
        url = url.split("#")[0]
        if url not in self._docs:
            self._docs[url] = doc
            self._pinned.append(doc)

    def has(self, url: str) -> bool:
        url = url.split("#")[0]
        return url in self._docs or url in self._schemas

    def load(self, url: str) -> "Schema":
        url = url.split("#")[0]
        if url in self._schemas:
            return self._schemas[url]
        if url not in self._docs:
            raise SchemaNotFound(url)
        doc = self._docs[url]
        if isinstance(doc, dict):
            doc["$id"] = url  # ref: schema.js:18 pins data.$id = url pre-compile
        schema = Schema(doc, registry=self, _skip_deref=True)
        self._schemas[url] = schema  # memoize before deref → cycles OK
        schema.deref()
        return schema


class Schema:
    """Compiled schema: anchor tables + dereffed ref graph.

    Construction mirrors ``new Schema`` (schema.js:36-43): inject the
    2020-12 dialect, collect ``$anchor``/``$dynamicAnchor`` symbol tables
    (skipping embedded resources with a different ``$id``,
    schema.js:75-80).  ``deref()`` mirrors schema.js:103-141:
    register embedded ``$id`` resources, link external refs from the
    registry, then resolve every ``$ref``/``$dynamicRef`` via
    :meth:`walk` and pin the target in the registry's side table.
    """

    def __init__(self, schema: Any, registry: Optional[SchemaRegistry] = None,
                 _skip_deref: bool = False) -> None:
        if isinstance(schema, dict):
            schema.setdefault("$schema", DEFAULT_DIALECT)  # ref: schema.js:37
        self.schema = schema
        self.registry = registry if registry is not None else SchemaRegistry()
        self.registry._pinned.append(schema)
        self.id: Optional[str] = schema.get("$id") if isinstance(schema, dict) else None
        # '' anchor = the schema itself, reachable as '#' (schema.js:40)
        self.anchors: Dict[str, Any] = {"": self.schema}
        self.dyn_anchors: Dict[str, Any] = {}
        # the compile-phase walks recurse with the SCHEMA's depth, at
        # the same raised limit + clean-exception contract the kernel
        # gives the DATA's depth (a ~1000-deep schema previously leaked
        # a raw RecursionError out of construction — round-5 probe)
        with _schema_depth_guard():
            if isinstance(schema, dict):
                self._find_anchors(schema, _top=True)
            self.foreign: Dict[str, "Schema"] = {}
            self._dereffed = False
            if not _skip_deref:
                self.deref()

    # -- compile phase 1: anchors (schema.js:75-80) ----------------------
    def _find_anchors(self, schema: Any, _top: bool = False) -> None:
        if not isinstance(schema, dict):
            return
        if not _top and schema.get("$id") and schema.get("$id") != self.id:
            return
        self.registry.node_resource.setdefault(id(schema), self)
        a = schema.get("$anchor")
        if isinstance(a, str) and a not in self.anchors:
            self.anchors[a] = schema
        d = schema.get("$dynamicAnchor")
        if isinstance(d, str) and d not in self.dyn_anchors:
            self.dyn_anchors[d] = schema
        for sub in iter_subschemas(schema):
            self._find_anchors(sub)

    # -- compile phase 2: deref (schema.js:103-141) ----------------------
    def deref(self) -> "Schema":
        if self._dereffed:
            return self
        self._dereffed = True
        if isinstance(self.schema, dict):
            self._find_ids(self.schema, self.id or DEFAULT_LOCATION, _top=True)
            self._load_refs(self.schema, self.id or DEFAULT_LOCATION)
            self._deref(self.schema, seen=set())
        return self

    def _find_ids(self, schema: Any, base: str, _top: bool = False) -> None:
        """Register embedded ``$id`` resources as standalone schemas
        (mirror of #findIds, schema.js:83-100)."""
        if not isinstance(schema, dict):
            return
        sid = schema.get("$id")
        if isinstance(sid, str):
            url = _resolve_url(sid, base)
            schema["$id"] = url  # absolutize in place, like the reference
            base = url
            bare = url.split("#")[0]
            if not self.registry.has(bare):
                self.registry.add_document(bare, schema)
                if not _top:
                    # deferred compile, like the queued microtask at
                    # schema.js:90-96 — load() memoizes before deref
                    self.registry.load(bare)
        for sub in iter_subschemas(schema):
            self._find_ids(sub, base)

    def _load_refs(self, schema: Any, basis: str) -> None:
        """Link external ``$ref`` URLs from the registry (mirror of
        #loadRefs, schema.js:128-141; fetch replaced by registry lookup)."""
        if not isinstance(schema, dict):
            return
        if isinstance(schema.get("$id"), str):
            basis = schema["$id"]
        for key in ("$ref", "$dynamicRef"):
            ref = schema.get(key)
            if isinstance(ref, str) and not ref.startswith("#"):
                url = _resolve_url(ref, basis).split("#")[0]
                if url not in self.foreign:
                    try:
                        self.foreign[url] = self.registry.load(url)
                    except SchemaNotFound:
                        # surfaces as RefResolutionError at walk time,
                        # mirroring the reference's console.warn +
                        # undefined → runtime failure path
                        pass
        for sub in iter_subschemas(schema):
            self._load_refs(sub, basis)

    def _deref(self, schema: Any, seen: set) -> None:
        """Resolve every ref node and pin its target (mirror of #deref,
        schema.js:109-126)."""
        if not isinstance(schema, dict) or id(schema) in seen:
            return
        seen.add(id(schema))
        for key in ("$ref", "$dynamicRef"):
            ref = schema.get(key)
            if isinstance(ref, str) and id(schema) not in self.registry.ref_targets:
                target = self.walk(ref)
                if target is not None:
                    self.registry.ref_targets[id(schema)] = target
        for sub in iter_subschemas(schema):
            self._deref(sub, seen)

    # -- resolution (schema.js:143-168) ----------------------------------
    def walk(self, ref: str, dynamic: bool = False) -> Any:
        if not ref.startswith("#"):
            url, hash_ = self.relative_url(ref)
            foreign = self.foreign.get(url)
            if foreign is None:
                try:
                    foreign = self.registry.load(url)
                    self.foreign[url] = foreign
                except SchemaNotFound:
                    return None
            return foreign.walk(hash_)
        anchor, *path = ref[1:].split("/")
        if dynamic:
            sub = self.dyn_anchors.get(anchor)
        else:
            sub = self.anchors.get(anchor) or self.dyn_anchors.get(anchor)
        if sub is None:
            return None
        return walk_pointer(sub, path)

    def relative_url(self, ref: str):
        absolute = _resolve_url(ref, self.id)
        url, _, fragment = absolute.partition("#")
        return url, "#" + fragment

    def ref_target(self, node: dict) -> Any:
        """Resolved target for a ref node (the ``schema[refKey]`` read at
        schema.js:350)."""
        return self.registry.ref_targets.get(id(node))

    def schema_errors(self, format_assertion: bool = True) -> list:
        """Validate THIS schema against its declared meta-schema —
        mirror of ``schemaErrors()`` (schema.js:49-52), resolved from
        the vendored consolidated 2020-12 meta-schema instead of a
        network fetch."""
        from jema_js_spark.kernel.kernel import Validator
        from jema_js_spark.schema.metaschema import META_ID, METASCHEMA_2020_12

        declared = (self.schema.get("$schema", META_ID)
                    if isinstance(self.schema, dict) else META_ID)
        if not self.registry.has(declared):
            import copy

            self.registry.add_document(declared,
                                       copy.deepcopy(METASCHEMA_2020_12))
        meta = self.registry.load(declared)
        return list(Validator(meta, format_assertion=format_assertion)
                    .iter_errors(self.schema))

    # -- evaluation entry points (delegated to the kernel) ----------------
    def validate(self, value: Any) -> bool:
        from jema_js_spark.kernel.kernel import Validator

        return Validator(self).validate(value)

    def errors(self, value: Any) -> list:
        from jema_js_spark.kernel.kernel import Validator

        return list(Validator(self).iter_errors(value))
