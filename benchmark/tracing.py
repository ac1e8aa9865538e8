"""Spans and counters recorded around the package's public functions.

The traced run patches a wrapper over each layer's entry point from
here; the package itself carries no tracing. A span is (name, start,
end, parent, query id); spans stay in memory and are written out when
the run ends. A layer's self time is its span minus the part its child
spans cover. High-frequency calls (codec decodes) only add to counters.
"""

from __future__ import annotations

import functools
import json
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self):
        self.spans: list[list] = []  # [name, start, end, parent_index, query_id]
        self.counters: dict[str, float] = defaultdict(float)
        self.enabled = False
        self.query_id: int | None = None
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        rec = [name, time.perf_counter(), None, parent, self.query_id]
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            rec[2] = time.perf_counter()
            self._stack.pop()

    def add(self, key: str, value: float = 1) -> None:
        if self.enabled:
            self.counters[key] += value

    def patch(self, owner, attr: str, make_wrapper) -> None:
        orig = getattr(owner, attr)
        setattr(owner, attr, functools.wraps(orig)(make_wrapper(orig)))

    def timed(self, name: str, count=None):
        """Wrapper factory: a span per call, plus ``count(args, result)``
        added to counters when given."""

        def make(orig):
            def wrapper(*args, **kwargs):
                with self.span(name):
                    out = orig(*args, **kwargs)
                if count is not None and self.enabled:
                    for k, v in count(args, out).items():
                        self.counters[k] += v
                return out

            return wrapper

        return make

    def _closed(self):
        """(span, total ms, self ms) for every finished span."""
        child = defaultdict(float)
        for name, t0, t1, parent, _ in self.spans:
            if parent is not None and t1 is not None:
                child[parent] += t1 - t0
        for i, rec in enumerate(self.spans):
            if rec[2] is not None:
                total = rec[2] - rec[1]
                yield rec, total * 1000.0, (total - child[i]) * 1000.0

    def self_ms(self) -> dict[str, float]:
        """Total self time (ms) per span name."""
        out: dict[str, float] = defaultdict(float)
        for rec, _, own in self._closed():
            out[rec[0]] += own
        return out

    def per_query_ms(self) -> dict[int, dict[str, list[float]]]:
        """Per query id and span name: [total ms, self ms]."""
        out: dict = defaultdict(lambda: defaultdict(lambda: [0.0, 0.0]))
        for rec, total, own in self._closed():
            acc = out[rec[4]][rec[0]]
            acc[0] += total
            acc[1] += own
        return out

    def total_ms(self, name: str) -> float:
        return 1000.0 * sum(
            t1 - t0 for n, t0, t1, _, _ in self.spans if n == name and t1 is not None
        )

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(
                [
                    {"name": n, "start": t0, "end": t1, "parent": p, "query_id": q}
                    for n, t0, t1, p, q in self.spans
                ],
                f,
            )


def install(tracer: Tracer) -> None:
    """Wrap the serving layers' public entry points."""
    from posik_engine_spark.functions import codec
    from posik_engine_spark.operators import content_store, direct_io, index, search

    tracer.patch(search, "tokenize_py", tracer.timed("search.analyze"))
    tracer.patch(search, "build_snippet", tracer.timed("snippet"))
    tracer.patch(index, "load_index", tracer.timed("index.load_index"))
    tracer.patch(
        content_store.ContentStore, "fetch", tracer.timed("content_store.fetch")
    )
    reader = direct_io.DirectIndexReader
    tracer.patch(
        reader,
        "blocks_for_terms",
        tracer.timed(
            "direct_io.blocks",
            lambda a, out: {
                "direct_io.blocks_calls": 1,
                "direct_io.blocks_rows": len(out),
                "search.block_cache_misses": len(a[1]),
            },
        ),
    )
    tracer.patch(
        reader,
        "resolve_ords",
        tracer.timed(
            "direct_io.resolve", lambda a, out: {"direct_io.resolve_keys": len(a[1])}
        ),
    )
    tracer.patch(
        reader,
        "term_info_rows",
        tracer.timed("direct_io.dict", lambda a, out: {"direct_io.dict_calls": 1}),
    )

    def wand_wrapper(orig):
        def wrapper(ix, term_idfs, term_dfs, k, *args, **kwargs):
            if not tracer.enabled:
                return orig(ix, term_idfs, term_dfs, k, *args, **kwargs)
            resolver = kwargs.get("resolver")
            if resolver is not None:
                kwargs["resolver"] = tracer.timed("wand.resolve")(resolver)
            diag = kwargs.setdefault("diag", {})
            with tracer.span("wand.driver"):
                out = orig(ix, term_idfs, term_dfs, k, *args, **kwargs)
            tracer.add("wand.calls")
            tracer.add("search.block_cache_requests", len(term_idfs))
            for key in ("postings_total", "postings_decoded", "candidates_scored", "tie_overflow"):
                tracer.add(f"wand.{key}", diag.get(key, 0))
            return out

        return wrapper

    tracer.patch(search, "wand_topk_driver", wand_wrapper)

    def decode_wrapper(orig):
        def wrapper(buf, *args, **kwargs):
            if not tracer.enabled:
                return orig(buf, *args, **kwargs)
            t0 = time.perf_counter()
            out = orig(buf, *args, **kwargs)
            tracer.counters["codec.decode_ms"] += (time.perf_counter() - t0) * 1000.0
            tracer.counters["codec.bytes_decoded"] += len(buf)
            return out

        return wrapper

    tracer.patch(codec, "decode_doc_ids", decode_wrapper)
    tracer.patch(codec, "decode_counts", decode_wrapper)
