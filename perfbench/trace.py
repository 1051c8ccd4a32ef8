"""Spans for the traced run, recorded from the benchmark's own files.

A span has a name, start, end, parent span and, for serve spans, the id
of the query it belongs to. Spans stay in memory and are written out
when the run ends. A layer's self time is its spans' duration minus the
part covered by their child spans.

Layers are wrapped by patching module attributes (undone afterwards):
the serve loop's WAND kernel as query.serve imports it, the searcher's
postings and docid lookups, the codec's block decoder, and the public
build, compact and query calls. Code inside Spark's Python workers is
not reached by these wrappers; those layers are timed around their
public calls in this process, with process-tree CPU.
"""

from __future__ import annotations

import contextlib
import functools
import json
import threading
import time
from collections import Counter


class Tracer:
    def __init__(self):
        self.spans: list[list] = []  # [name, start, end, parent, qid]
        self.counts: Counter = Counter()
        self.qid: str | None = None  # query in flight, stamped on serve spans
        self._local = threading.local()

    @contextlib.contextmanager
    def span(self, name: str):
        stack = self._local.__dict__.setdefault("stack", [])
        sid = len(self.spans)
        rec = [name, time.perf_counter(), None, stack[-1] if stack else None, self.qid]
        self.spans.append(rec)
        stack.append(sid)
        try:
            yield
        finally:
            stack.pop()
            rec[2] = time.perf_counter()

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def durations(self, name: str) -> list[float]:
        return [s[2] - s[1] for s in self.spans if s[0] == name]

    def total(self, name: str) -> float:
        return sum(self.durations(name))

    def self_time(self, name: str) -> float:
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s[3] is not None:
                children.setdefault(s[3], []).append((s[1], s[2]))
        total = 0.0
        for sid, s in enumerate(self.spans):
            if s[0] != name:
                continue
            covered, end = 0.0, s[1]
            for a, b in sorted(children.get(sid, [])):
                a, b = max(a, end), min(b, s[2])
                if b > a:
                    covered += b - a
                    end = b
            total += (s[2] - s[1]) - covered
        return total

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for sid, (name, start, end, parent, qid) in enumerate(self.spans):
                f.write(json.dumps({"id": sid, "name": name, "start": start, "end": end,
                                    "parent": parent, "qid": qid}) + "\n")


class NullTracer(Tracer):
    """Tracing off: spans cost one context-manager entry and record nothing."""

    @contextlib.contextmanager
    def span(self, name: str):
        yield


class Patches:
    """Module/class attribute replacements, undone in reverse order."""

    def __init__(self):
        self._undo: list[tuple] = []

    def set(self, obj, attr: str, value) -> None:
        self._undo.append((obj, attr, getattr(obj, attr)))
        setattr(obj, attr, value)

    def undo(self) -> None:
        while self._undo:
            obj, attr, old = self._undo.pop()
            setattr(obj, attr, old)


def instrument_serve(tracer: Tracer, patches: Patches) -> None:
    """Wrap the serve path: the searcher's open, search, postings and
    docid lookups, the WAND kernel (with its stats= counters) and the
    codec's block decoder. Counts are taken outside the timed spans."""
    from ivory_spark.index import codec
    from ivory_spark.query import serve

    cls = serve.LocalSearcher
    patches.set(cls, "__init__", tracer.wrap("serve.open", cls.__init__))
    patches.set(cls, "search", tracer.wrap("serve.search", cls.search))
    patches.set(cls, "docids", tracer.wrap("serve.docids", cls.docids))

    runs_for = cls._runs_for

    def traced_runs_for(self, termids, positions=False):
        cache = self._run_cache_pos if positions else self._run_cache
        missing = {int(t) for t in termids if t not in cache}
        with tracer.span("serve.runs_for"):
            out = runs_for(self, termids, positions)
        fetched = out[out["termid"].isin(missing)]
        tracer.counts["serve.terms_requested"] += len(termids)
        tracer.counts["serve.terms_hit"] += len(termids) - len(missing)
        tracer.counts["serve.runs_fetched"] += len(fetched)
        tracer.counts["serve.blob_bytes_fetched"] += sum(len(b) for b in fetched["blob"])
        return out

    patches.set(cls, "_runs_for", traced_runs_for)

    score_group = serve._score_group

    def traced_score_group(*args, **kwargs):
        stats = kwargs.setdefault("stats", {})
        with tracer.span("wand.score"):
            out = score_group(*args, **kwargs)
        tracer.counts["wand.segments_total"] += stats.get("segments", 0)
        tracer.counts["wand.segments_scored"] += stats.get("scored", 0)
        return out

    patches.set(serve, "_score_group", traced_score_group)

    decode_block = codec.decode_block

    def traced_decode_block(*args, **kwargs):
        tracer.counts["codec.blocks_decoded"] += 1
        with tracer.span("codec.decode_block"):
            return decode_block(*args, **kwargs)

    patches.set(codec, "decode_block", traced_decode_block)


def instrument_spark(tracer: Tracer, patches: Patches) -> None:
    """Wrap the public build, compact and query calls this process makes.
    query.wand imports query_term_rows by name, so both bindings are
    patched. The batch functions return lazy DataFrames: their work is
    timed by the spans the workload puts around .collect()."""
    from ivory_spark.index import build, compact
    from ivory_spark.query import exact, wand

    patches.set(build, "build_index", tracer.wrap("build.build_index", build.build_index))
    patches.set(compact, "append_delta", tracer.wrap("compact.append_delta", compact.append_delta))
    patches.set(compact, "refresh_bounds",
                tracer.wrap("compact.refresh_bounds", compact.refresh_bounds))
    qtr = tracer.wrap("exact.query_term_rows", exact.query_term_rows)
    patches.set(exact, "query_term_rows", qtr)
    patches.set(wand, "query_term_rows", qtr)
