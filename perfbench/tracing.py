"""In-memory spans for the traced run.

Spans are recorded from the benchmark's own files: wrappers installed
around the engine's public functions for the length of a traced run,
plus spans converted from StreamingQueryProgress events. Nothing inside
the engine is instrumented. Spans stay in memory and are written out
once, at the end of the run.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import threading
import time


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self.phase = "setup"
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._installed: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, request=None, **attrs):
        stack = self._stack()
        rec = {
            "id": next(self._ids),
            "name": name,
            "parent": stack[-1] if stack else None,
            "request": request,
            "phase": self.phase,
            "start": time.time(),
            "end": None,
            **attrs,
        }
        stack.append(rec["id"])
        try:
            yield rec
        except BaseException as e:
            rec["error"] = type(e).__name__
            raise
        finally:
            stack.pop()
            rec["end"] = time.time()
            self.spans.append(rec)

    def add(self, name: str, start: float, end: float, parent=None, request=None, **attrs) -> int:
        sid = next(self._ids)
        self.spans.append(
            {
                "id": sid,
                "name": name,
                "parent": parent,
                "request": request,
                "phase": self.phase,
                "start": start,
                "end": end,
                **attrs,
            }
        )
        return sid

    def wrap(self, owner, attr: str, name: str, before=None, after=None) -> None:
        """Replace ``owner.attr`` with a spanned wrapper until
        :meth:`uninstall`. ``before(args, kwargs)`` returns a context
        handed to ``after(ctx, rec, args, kwargs)``, which can add
        attributes to the span record."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            ctx = before(args, kwargs) if before else None
            with self.span(name) as rec:
                result = orig(*args, **kwargs)
                if after:
                    after(ctx, rec, args, kwargs)
            return result

        self._installed.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def uninstall(self) -> None:
        while self._installed:
            owner, attr, orig = self._installed.pop()
            setattr(owner, attr, orig)

    def named(self, name: str, phase: str | None = None) -> list[dict]:
        return [
            s
            for s in self.spans
            if s["name"] == name and (phase is None or s["phase"] == phase)
        ]

    def self_times(self) -> dict[str, float]:
        """Per span name: total duration minus the time child spans cover
        (children of one span do not overlap: they run on its thread)."""
        child = {}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            d = s["end"] - s["start"] - child.get(s["id"], 0.0)
            out[s["name"]] = out.get(s["name"], 0.0) + max(d, 0.0)
        return out

    def record_cost_s(self, n: int = 2000) -> float:
        """Measured cost of recording one span (the wrappers' overhead on
        the traced path), on a throwaway tracer."""
        t = Tracer()
        t0 = time.perf_counter()
        for _ in range(n):
            with t.span("x"):
                pass
        return (time.perf_counter() - t0) / n

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "self_time_s": self.self_times()}, f)


def progress_spans(tracer: Tracer, progress: list[dict], query: str) -> None:
    """One span per micro-batch from its progress event (start = the
    trigger timestamp), with the durationMs phases as sequential child
    spans. Request id = the segment range the batch read."""
    from datetime import datetime

    for p in progress:
        start = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
        dur = p.get("durationMs", {})
        total = dur.get("triggerExecution", 0) / 1000
        src = p["sources"][0] if p.get("sources") else {}
        req = f"{query}:{src.get('startOffset')}->{src.get('endOffset')}"
        parent = tracer.add(
            f"{query}.batch",
            start,
            start + total,
            request=req,
            batch=p["batchId"],
            rows=p.get("numInputRows", 0),
        )
        t = start
        for phase in ("latestOffset", "queryPlanning", "getBatch", "addBatch", "walCommit", "commitOffsets"):
            d = dur.get(phase, 0) / 1000
            if d:
                tracer.add(f"{query}.{phase}", t, t + d, parent=parent, request=req)
                t += d
