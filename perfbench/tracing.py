"""Spans around the engine's public entry points, recorded from outside.

``Tracer.installed()`` replaces each traced entry point with a wrapper
that records a span (name, operation id, start, end, parent) and puts
the original back on exit. Nothing in ``sparkprep`` is edited: names a
module bound at import time, such as each query module's own ``t``, are
wrapped where they are bound. Spans stay in memory until ``write``.

A span's layer is its name up to the first dot. Its self time is its
duration minus the durations of its child spans; the code is
single-threaded, so children never overlap.
"""

from __future__ import annotations

import functools
import json
import sys
import time
from collections import Counter, defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.counts: Counter = Counter()  # (op id, counter name) -> n
        self.op: int | None = None
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        rec = {
            "name": name,
            "op": self.op,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def count(self, name: str, n: int = 1) -> None:
        self.counts[(self.op, name)] += n

    def wrap(self, fn, name: str):
        """``fn`` with a span named ``name`` around every call."""
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    # -- installing wrappers over the engine's entry points --------------

    def _patch(self, owner, attr: str, replacement) -> None:
        self._patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, replacement)

    def _install(self) -> None:
        import sparkprep.queries as queries_pkg
        from sparkprep import session
        from sparkprep.pipelines import loanstats
        from sparkprep.plans import pipeline
        from sparkprep.queries import shared_frames
        from sparkprep.sources import readers, writers

        orig_t = queries_pkg.t

        @functools.wraps(orig_t)
        def t(*args, **kwargs):
            self.count("queries.t_calls")
            with self.span("queries.t"):
                return orig_t(*args, **kwargs)

        # every module that bound ``t`` at import, the package included
        for mod in list(sys.modules.values()):
            name = getattr(mod, "__name__", "")
            if name.startswith("sparkprep.queries") and getattr(mod, "t", None) is orig_t:
                self._patch(mod, "t", t)

        orig_frame = shared_frames.session_frame

        @functools.wraps(orig_frame)
        def session_frame(spark, name, sf_dir, build):
            def counted_build():
                self.count("shared_frames.builds")
                with self.span("shared_frames.build"):
                    return build()

            self.count("shared_frames.calls")
            with self.span("shared_frames.session_frame"):
                return orig_frame(spark, name, sf_dir, counted_build)

        self._patch(shared_frames, "session_frame", session_frame)
        for owner, attr, span in (
            (shared_frames, "reset", "shared_frames.reset"),
            (session, "build_session", "session.build_session"),
            (readers, "read_csv", "sources.read_csv"),
            (readers, "malformed_drop_count", "sources.malformed_drop_count"),
            (writers, "bq_load_emulated", "sources.bq_load_emulated"),
            (pipeline.Pipeline, "run", "plans.pipeline_run"),
            (loanstats, "run_loanstats_job", "pipelines.run_loanstats_job"),
        ):
            self._patch(owner, attr, self.wrap(getattr(owner, attr), span))

    @contextmanager
    def installed(self):
        self._install()
        try:
            yield self
        finally:
            while self._patches:
                owner, attr, orig = self._patches.pop()
                setattr(owner, attr, orig)

    # -- reading the spans back -------------------------------------------

    def self_times(self, ops: set[int] | None = None) -> dict[str, float]:
        """Seconds of self time per layer over the spans of ``ops``."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            if ops is None or s["op"] in ops:
                layer = s["name"].split(".", 1)[0]
                out[layer] += (s["end"] - s["start"]) - child[i]
        return dict(out)

    def span_total(self, name: str, ops: set[int]) -> float:
        """Summed duration of the spans called ``name`` in ``ops``."""
        return sum(
            s["end"] - s["start"]
            for s in self.spans
            if s["name"] == name and s["op"] in ops
        )

    def counter_total(self, name: str, ops: set[int]) -> int:
        return sum(n for (op, c), n in self.counts.items() if c == name and op in ops)

    def write(self, path: str) -> None:
        """One JSON object per span, in start order."""
        with open(path, "w") as fh:
            for i, s in enumerate(self.spans):
                fh.write(json.dumps({"id": i, **s}) + "\n")
