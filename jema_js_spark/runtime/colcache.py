"""Session-scoped memo for driver-side expression construction (round 9).

Building a Column is driver-side work — literal conversion and
higher-order-lambda construction cost milliseconds EACH on the py4j
bridge (measured: a 64-element array literal ~37 ms, a zip_with+
aggregate dot ~15 ms, a 7-language stopword-marker bank ~250 ms) — and
operators that rebuild the same constant expression trees on every
call turn that into a fixed driver tax per query.  Column objects are
immutable expression trees addressed by input column NAME, so a
constant fragment is freely reusable across queries and DataFrames
within one Spark application.  The same holds for bundles of them
(compiled plans, routed-plane expression bundles) and for the pure-
Python contract analyses they are built from; every such memo in the
package lives here, each under its own namespace: the first element
of its key.

``cached_column(key, build)`` memoizes ``build()`` under ``key``
scoped to the active application (stopped sessions' JVM handles are
never replayed: a new application gets a new cache slot); a ``None``
key builds without caching.  The store holds ``_CAP`` entries and
evicts the least recently used one when full, so a hot contract
survives a stream of one-off ones.  This caches expression
CONSTRUCTION only — every query still builds a fresh DataFrame
lineage and recomputes results from its inputs.
"""

from __future__ import annotations

from collections import OrderedDict
from typing import Any, Callable, Optional

_CACHE: OrderedDict[tuple, Any] = OrderedDict()
_CAP = 256


def _app_id() -> Any:
    # the context, not the thread's active session: a process runs one
    # context at a time, and a memo lookup is on every call's driver
    # path (getActiveSession measured ~0.6 ms of py4j round trips on
    # a 4-vCPU box)
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    return None if sc is None else sc.applicationId


def cached_column(key: Optional[tuple], build: Callable[[], Any]) -> Any:
    """Return ``build()`` memoized under ``(applicationId,) + key``, or
    unmemoized when ``key`` is None."""
    if key is None:
        return build()
    k = (_app_id(),) + key
    col = _CACHE.get(k)
    if col is not None:
        _CACHE.move_to_end(k)
        return col
    col = build()
    if len(_CACHE) >= _CAP:
        _CACHE.popitem(last=False)
    _CACHE[k] = col
    return col
