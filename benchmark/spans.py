"""In-memory span tracer for the traced benchmark run.

A span is (id, trace, name, parent, start, end); spans of one job
iteration share a trace id.  Spans are recorded by the benchmark around
its calls into the program's layers; a few calls the program makes
internally (inside ``pipeline.build``) are spanned by wrapping the module
attribute for the duration of the traced run.  Nothing is written until
:meth:`Tracer.dump` at the end of the run.
"""

from __future__ import annotations

import contextlib
import functools
import json
import time


class Tracer:
    """Records spans when enabled; every method is a cheap no-op otherwise,
    so the untraced run pays nothing but the ``with`` statement."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.trace_id = 0
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {"id": len(self.spans), "trace": self.trace_id, "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def force(self, df, observation=None) -> None:
        """Compute ``df`` at a layer boundary (traced run only) with a noop
        write, which evaluates every column: a count would let the
        optimizer prune the columns nobody reads.  The lazy frame, not a
        materialized copy, flows on, so a downstream layer that re-runs
        this one pays for it inside its own span, as it does untraced."""
        if self.enabled:
            if observation is not None:
                df = df.observe(*observation)
            df.write.format("noop").mode("overwrite").save()

    @contextlib.contextmanager
    def wrapping(self, targets):
        """Span (and force) program functions called from inside other
        program functions.  ``targets`` is a list of (module, attribute,
        span name, observation) where ``observation`` is an
        ``(Observation, *exprs)`` tuple for :meth:`force`, or None."""
        if not self.enabled:
            yield
            return
        saved = []
        for mod, attr, name, observation in targets:
            fn = getattr(mod, attr)
            saved.append((mod, attr, fn))

            @functools.wraps(fn)
            def wrapper(*a, _fn=fn, _name=name, _obs=observation, **kw):
                with self.span(_name):
                    out = _fn(*a, **kw)
                    self.force(out, _obs)
                return out

            setattr(mod, attr, wrapper)
        try:
            yield
        finally:
            for mod, attr, fn in saved:
                setattr(mod, attr, fn)

    def self_times(self, trace_id: int | None = None) -> dict[int, float]:
        """Span id -> duration minus the union of its children's intervals."""
        spans = [s for s in self.spans
                 if trace_id is None or s["trace"] == trace_id]
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out = {}
        for s in spans:
            covered, reach = 0.0, s["start"]
            for lo, hi in sorted(kids.get(s["id"], [])):
                lo, hi = max(lo, reach), min(hi, s["end"])
                if hi > lo:
                    covered += hi - lo
                    reach = hi
            out[s["id"]] = (s["end"] - s["start"]) - covered
        return out

    def dump(self, path: str, extra: dict) -> None:
        selfs = self.self_times()
        spans = [dict(s, self=selfs[s["id"]]) for s in self.spans]
        with open(path, "w") as f:
            json.dump({**extra, "spans": spans}, f, indent=1)
