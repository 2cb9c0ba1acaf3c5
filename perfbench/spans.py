"""In-memory spans around calls into the package's public layer functions.

Nothing in the package is instrumented: :func:`installed` swaps the named
attributes (module functions, class methods) for timing wrappers for the
duration of a ``with`` block and puts the originals back on exit. Spans are
kept in memory and written out once, at the end of the run.

Span names follow ``<module>.<function>`` with the package prefix dropped,
so a per-layer metric ``<span>_ms`` reads like the module that owns it.
Functions that only build a lazy DataFrame (``topk_search``) get spans
that time plan construction; the Spark work they describe runs in the
caller's action and shows up as the caller's self time.
"""

from __future__ import annotations

import functools
import importlib
import json
import statistics
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

from eventlog import union_length

_PKG = "vectordb_etl_spark"

# (span name, module, attribute path inside the module). Where a module
# imported a function by name, the importing module's binding is the one
# patched — that is the reference the call site resolves.
PATCH_POINTS = (
    ("pipeline.extract", "pipeline", "PipelineRunner.extract"),
    ("pipeline.transform", "pipeline", "PipelineRunner.transform"),
    ("pipeline.load", "pipeline", "PipelineRunner.load"),
    ("store.upsert_documents", "store.collections",
     "CollectionStore.upsert_documents"),
    ("store.read", "store.collections", "CollectionStore.read"),
    ("store.fanout_search_indexed", "store.collections",
     "CollectionStore.fanout_search_indexed"),
    ("store.open_index", "store.collections", "CollectionStore.open_index"),
    ("ann.index_build", "operators.ann", "IVFIndex.build"),
    ("search.search_with_scores", "search", "search_with_scores"),
    ("functions.filter_expr.parse_filter", "search", "parse_filter"),
    ("functions.language.detect_language_query", "search",
     "detect_language_query"),
    ("embeddings.query_vector", "search", "query_vector"),
    ("operators.topk.topk_search", "search", "topk_search"),
    # fanout_search_indexed imports topk_search from the module at call time.
    # operators.ann binds it at import, so the IVF probe's top-k is not
    # spanned.
    ("operators.topk.topk_search", "operators.topk", "topk_search"),
)


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: str | None

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.op: str | None = None

    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.time(), 0.0, parent, self.op))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.time()

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def write(self, path) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            for s in self.spans:
                fh.write(json.dumps(asdict(s)) + "\n")

    # -- metrics --------------------------------------------------------------

    def _children(self) -> dict[int, list[int]]:
        kids: dict[int, list[int]] = {}
        for i, s in enumerate(self.spans):
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(i)
        return kids

    def per_op_ms(self, name: str, ops, self_time: bool = False) -> list[float]:
        """Per op in ``ops``: total time in spans called ``name`` (minus the
        part covered by their child spans when ``self_time``). Ops that never
        entered the span are left out."""
        kids = self._children() if self_time else {}
        totals: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            if s.name != name or s.op not in ops:
                continue
            # count only the outermost span of a name, never a nested repeat
            p = s.parent
            while p is not None and self.spans[p].name != name:
                p = self.spans[p].parent
            if p is not None:
                continue
            ms = s.ms
            if self_time:
                ms -= union_length(
                    [(self.spans[c].start * 1000, self.spans[c].end * 1000)
                     for c in kids.get(i, [])]
                )
            totals[s.op] = totals.get(s.op, 0.0) + ms
        return list(totals.values())

    def median_ms(self, name: str, ops, self_time: bool = False) -> float:
        vals = self.per_op_ms(name, ops, self_time)
        return statistics.median(vals) if vals else 0.0


@contextmanager
def installed(tracer: Tracer):
    """Wrap every patch point for the duration of the block."""
    saved = []
    try:
        for name, mod_name, attr in PATCH_POINTS:
            owner = importlib.import_module(f"{_PKG}.{mod_name}")
            *path, leaf = attr.split(".")
            for part in path:
                owner = getattr(owner, part)
            orig = owner.__dict__[leaf]
            saved.append((owner, leaf, orig))
            setattr(owner, leaf, tracer.wrap(name, orig))
        yield tracer
    finally:
        for owner, leaf, orig in reversed(saved):
            setattr(owner, leaf, orig)
