"""One per-session store for the derived intermediates the llm
operators share: the quantized embedding components and the
IVF/PQ fits built over them, the corpus shingle frame, the 0.6
exact-Jaccard pair set, the sampled pair graph, the char-bigram
counts, and the small ground-truth frames the recall audits compare
against.

``get(spark, key, build)`` returns the entry under ``key`` or calls
``build()`` once and keeps its result.  ``build`` materializes its
own value (``cache()`` + ``count()`` or ``localCheckpoint(eager=True)``),
so a hit is a finished frame.  Entries are safe to share because the
inputs are immutable testdata files and every derivation is
deterministic, so a hit is bit-identical to a rebuild.  The store is
weakly keyed by session: a stopped session's frames do not stay
pinned.  Past :data:`MAX_ENTRIES` the least-recently-used entry is
evicted and its frames unpersisted.  A checkpointed frame is not in
the cache manager, so its unpersist is a no-op and its blocks go
with the frame.

Rule: a declared query never returns a stored entry.  It returns a
lazy plan, which may read stored intermediates, so a second call
repeats the query's own work.  Only auxiliary consumers (recall
audits, ``crosslingual_mining``, the cluster queries and safe splits)
may read a stored final output.

``tables.load_table`` keeps its own plan memo: a loaded table is a
logical plan with no Spark storage behind it, so there is nothing to
release and nothing to bound.
"""

from __future__ import annotations

import threading
from collections import OrderedDict
from typing import Any, Callable, Hashable
from weakref import WeakKeyDictionary

#: Entries kept per session.  One sweep of every declared llm query
#: builds 13 distinct entries at one ``sf_dir`` (43 of the queries read
#: the store; counted with ``builds`` at sf0.001).  32 keeps two
#: ``sf_dir``s resident (26) with room for a few non-default parameter
#: keys, so alternating scale factors does not thrash.
MAX_ENTRIES = 32


class Store:
    """A session's entries in recency order, plus the counters the
    tests read."""

    def __init__(self) -> None:
        self.entries: OrderedDict[Hashable, Any] = OrderedDict()
        self.hits = 0
        self.builds = 0
        self.evictions = 0

    @property
    def resident(self) -> int:
        return len(self.entries)


_STORES: "WeakKeyDictionary[Any, Store]" = WeakKeyDictionary()

#: Held across a build, so threads sharing a session build each entry
#: once; reentrant because one build may get another entry.
_LOCK = threading.RLock()


def store(spark) -> Store:
    """The session's store (created empty on first use)."""
    with _LOCK:
        st = _STORES.get(spark)
        if st is None:
            st = _STORES[spark] = Store()
        return st


def get(spark, key: Hashable, build: Callable[[], Any]) -> Any:
    """The entry under ``key``, built by ``build()`` on a miss.  A
    value is one frame or a tuple holding frames."""
    with _LOCK:
        st = store(spark)
        if key in st.entries:
            st.entries.move_to_end(key)
            st.hits += 1
            return st.entries[key]
        value = build()
        st.builds += 1
        st.entries[key] = value
        while len(st.entries) > MAX_ENTRIES:
            _, old = st.entries.popitem(last=False)
            st.evictions += 1
            for frame in old if isinstance(old, tuple) else (old,):
                if hasattr(frame, "unpersist"):
                    frame.unpersist()
        return value
