"""Spans recorded from the benchmark's own files, around its calls into
each module's public functions. Nothing here adds tracing to the program.

A span has a name, start, end, parent span and the op it belongs to. Each
span runs under its own Spark job group, and right after the op the stage
metrics of that group's jobs are read from the status store. Spans stay
in memory and are written out when the run ends, each with its self time.
"""

from __future__ import annotations

import contextlib
import json
import time


def self_time(span: dict, children: list[dict]) -> float:
    """Duration minus the part of the span's interval its children cover."""
    covered, cur_s, cur_e = 0.0, None, None
    for c in sorted(children, key=lambda c: c["start"]):
        s, e = max(c["start"], span["start"]), min(c["end"], span["end"])
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return (span["end"] - span["start"]) - covered


class Tracer:
    """In-memory span recorder. A disabled tracer records nothing and
    touches no job group, so untraced ops pay nothing for it."""

    def __init__(self, enabled: bool = True):
        self.enabled = enabled
        self.spark = None
        self.engine = None
        self.spans: list[dict] = []
        self.op_id: str | None = None
        self._stack: list[dict] = []
        self._next = 0
        self._paused = False

    def bind(self, spark, engine) -> None:
        self.spark, self.engine = spark, engine

    @property
    def recording(self) -> bool:
        return self.enabled and not self._paused

    @contextlib.contextmanager
    def op(self, op_id: str, traced: bool = True):
        """Spans opened inside share ``op_id``; their stage metrics are read
        when the op ends. An untraced op records nothing."""
        if not self.enabled:
            yield
            return
        if not traced:
            self._paused = True
            try:
                yield
            finally:
                self._paused = False
            return
        self.op_id = op_id
        first = len(self.spans)
        try:
            yield
        finally:
            self.op_id = None
            for rec in self.spans[first:]:
                if rec["group"] is not None:
                    rec["spark"] = self.engine.group(rec["group"])

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.recording:
            yield {}
            return
        self._next += 1
        parent = self._stack[-1] if self._stack else None
        rec = {"id": self._next, "name": name,
               "parent": parent["id"] if parent else None,
               "op": self.op_id, "group": f"perfbench-{self._next}",
               "attrs": dict(attrs)}
        self._set_group(rec["group"], name)
        self._stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec["attrs"]
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._set_group(parent["group"] if parent else None, "")
            self.spans.append(rec)

    def add(self, name: str, start: float, end: float, parent_id: int) -> None:
        """A child span whose times the program measured itself (the
        loader's ``LoadReport.metrics`` ``t_*`` stage timings)."""
        if not self.recording:
            return
        self._next += 1
        self.spans.append({"id": self._next, "name": name, "parent": parent_id,
                           "op": self.op_id, "group": None, "start": start,
                           "end": end, "attrs": {}})

    def _set_group(self, group: str | None, desc: str) -> None:
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        if group is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(group, desc)

    def by_op(self) -> dict[str, dict[str, dict]]:
        """{op id: {span name: span}} for the traced ops."""
        out: dict[str, dict[str, dict]] = {}
        for s in self.spans:
            if s["op"]:
                out.setdefault(s["op"], {})[s["name"]] = s
        return out

    def write(self, path: str) -> None:
        """One JSON span per line, each with its self time."""
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            kids.setdefault(s["parent"], []).append(s)
        with open(path, "w") as fh:
            for rec in self.spans:
                out = dict(rec, self_s=self_time(rec, kids.get(rec["id"], [])))
                fh.write(json.dumps(out, sort_keys=True) + "\n")


def duration(span: dict) -> float:
    return span["end"] - span["start"]


@contextlib.contextmanager
def patched(target, name: str, wrapper):
    """Replace ``target.name`` by ``wrapper(original)`` for the block."""
    orig = getattr(target, name)
    setattr(target, name, wrapper(orig))
    try:
        yield orig
    finally:
        setattr(target, name, orig)
