"""Span recording from outside the program, and attribution of Spark jobs
to spans.

``Tracer.wrap`` swaps a package function for a recorder and ``uninstall``
restores every original, so the untraced runs execute the program
exactly as shipped.  A span is ``(id, name, layer, start, end, parent,
iteration, thread, info)``; spans stay in memory and are written out once
at the end of a run.

Wrapping a lazy function prices only its plan construction; its
execution shows up in the Spark jobs attributed to its span.  A job is
attributed to the span whose id it carries as its job description (set
on the launching thread while a span is open), otherwise to the innermost
span open at its submission time.  When several unrelated spans were open
(the program's own thread pools) the job goes to their deepest common
ancestor and is counted as ``overlap``; a job under no layer span at all
is ``unattributed``.
"""

from __future__ import annotations

import importlib
import itertools
import json
import os
import threading
import time
from contextlib import contextmanager

ROOT_LAYER = "bench"
_DESC_PREFIX = "perfbench-span-"


class Tracer:
    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._main = threading.main_thread()
        self._main_stack: list[dict] = []
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []
        self.spans: list[dict] = []
        self.iteration: int | None = None

    # -- spans ------------------------------------------------------------

    def _stack(self) -> list[dict]:
        if threading.current_thread() is self._main:
            return self._main_stack
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, layer: str, name: str, **info):
        stack = self._stack()
        parent = stack[-1] if stack else (self._main_stack[-1] if self._main_stack else None)
        rec = {
            "id": next(self._ids),
            "layer": layer,
            "name": name,
            "parent": parent["id"] if parent else None,
            "iteration": self.iteration,
            "thread": threading.get_ident(),
            "info": dict(info),
            "start": time.time(),
            "end": None,
        }
        prev_desc = self._sc.getLocalProperty("spark.job.description")
        self._sc.setJobDescription(f"{_DESC_PREFIX}{rec['id']}")
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()
            self._sc.setJobDescription(prev_desc)
            with self._lock:
                self.spans.append(rec)

    # -- function wrapping -------------------------------------------------

    def wrap(self, module: str, attr: str, layer: str, name: str | None = None, before=None, after=None):
        """Replace ``module.attr`` (``attr`` may be ``Class.method``) with a
        span recorder.  ``before(args, kwargs)`` and ``after(args, kwargs,
        result)`` return dicts merged into the span's info."""
        owner = importlib.import_module(module)
        parts = attr.split(".")
        for p in parts[:-1]:
            owner = getattr(owner, p)
        original = getattr(owner, parts[-1])
        tracer = self

        def recorder(*args, **kwargs):
            info = before(args, kwargs) if before else {}
            with tracer.span(layer, name or parts[-1], **info) as rec:
                result = original(*args, **kwargs)
                if after:
                    rec["info"].update(after(args, kwargs, result))
                return result

        recorder.__wrapped__ = original
        setattr(owner, parts[-1], recorder)
        self._patches.append((owner, parts[-1], original))

    def uninstall(self) -> None:
        for owner, attr, original in reversed(self._patches):
            setattr(owner, attr, original)
        self._patches.clear()

    def iteration_spans(self, iteration: int) -> list[dict]:
        with self._lock:
            return [s for s in self.spans if s["iteration"] == iteration]

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                fh.write(json.dumps(s, default=str) + "\n")


# ---------------------------------------------------------------------------
# Attribution and per-layer aggregation.
# ---------------------------------------------------------------------------


def attribute(jobs: list[dict], spans: list[dict]) -> None:
    """Set ``job["span"]`` (span id or None) and ``job["overlap"]``."""
    by_id = {s["id"]: s for s in spans}

    def ancestors(sid):
        out = []
        while sid is not None and sid in by_id:
            out.append(sid)
            sid = by_id[sid]["parent"]
        return out

    for j in jobs:
        j["overlap"] = False
        desc = j.get("description") or ""
        if desc.startswith(_DESC_PREFIX) and int(desc[len(_DESC_PREFIX) :]) in by_id:
            j["span"] = int(desc[len(_DESC_PREFIX) :])
            continue
        t = j["t0"]
        open_ids = {s["id"] for s in spans if s["start"] <= t <= s["end"]}
        if not open_ids:
            j["span"] = None
            continue
        inner = set()
        for sid in open_ids:
            inner.update(ancestors(by_id[sid]["parent"]))
        leaves = sorted(open_ids - inner)
        if len(leaves) == 1:
            j["span"] = leaves[0]
            continue
        j["overlap"] = True
        chains = [ancestors(sid) for sid in leaves]
        common = set(chains[0]).intersection(*map(set, chains[1:]))
        j["span"] = next((sid for sid in chains[0] if sid in common), None)


def _covered(intervals) -> float:
    """Length of the union of ``(start, end)`` intervals."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted(intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_seconds(span: dict, spans: list[dict]) -> float:
    """Span duration minus the part of it covered by its child spans."""
    kids = [(max(c["start"], span["start"]), min(c["end"], span["end"])) for c in spans if c["parent"] == span["id"]]
    return (span["end"] - span["start"]) - _covered(kids)


def union_seconds(spans: list[dict]) -> float:
    """Wall seconds during which at least one of ``spans`` was open."""
    return _covered((s["start"], s["end"]) for s in spans)


def subtree_ids(spans: list[dict], pred) -> set:
    """Ids of spans matching ``pred`` and all their descendants."""
    kids: dict = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s["id"])
    out, stack = set(), [s["id"] for s in spans if pred(s)]
    while stack:
        sid = stack.pop()
        if sid in out:
            continue
        out.add(sid)
        stack.extend(kids.get(sid, []))
    return out
