"""Spans and Spark event-log reading for the traced run.

Spans are kept in memory and written as JSON when the run ends. A
span's self time is its duration minus the part of its interval that
its children cover. Spark jobs and stages come from the event log the
traced run enables at launch; each job hangs under the phase span whose
job group it carries, or, for jobs from other threads (streaming
micro-batches), under the query span whose window holds its start.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    kind: str
    start: float
    end: float = 0.0
    parent: int | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def union_length(intervals, lo: float = float("-inf"),
                 hi: float = float("inf")) -> float:
    """Length of the union of ``(start, end)`` intervals, each clipped
    to ``[lo, hi]``."""
    clipped = sorted(
        (max(s, lo), min(e, hi)) for s, e in intervals if min(e, hi) > max(s, lo)
    )
    total = 0.0
    cur_s = cur_e = None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Self time of every span: its duration minus the union of its
    children's intervals clipped to it."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.id: s.duration - union_length(children.get(s.id, ()), s.start, s.end)
        for s in spans
    }


class Tracer:
    """In-memory span recorder. Times are wall-clock epoch seconds, the
    clock the Spark event log also uses."""

    def __init__(self) -> None:
        self.spans: list[Span] = []

    def add(self, name: str, kind: str, start: float, end: float,
            parent: Span | None = None, **attrs) -> Span:
        span = Span(len(self.spans), name, kind, start, end,
                    parent.id if parent else None, attrs)
        self.spans.append(span)
        return span

    @contextlib.contextmanager
    def span(self, name: str, kind: str, parent: Span | None = None, **attrs):
        span = self.add(name, kind, time.time(), 0.0, parent, **attrs)
        try:
            yield span
        finally:
            span.end = time.time()

    def write(self, path: str, **header) -> None:
        selfs = self_times(self.spans)
        rows = [
            {"id": s.id, "parent": s.parent, "name": s.name, "kind": s.kind,
             "start": s.start, "end": s.end,
             "duration_s": s.duration, "self_s": selfs[s.id], **s.attrs}
            for s in self.spans
        ]
        tmp = f"{path}.{os.getpid()}"
        with open(tmp, "w") as fh:
            json.dump({**header, "spans": rows}, fh)
        os.replace(tmp, path)


@dataclass
class Job:
    id: int
    group: str | None
    start: float
    end: float
    stage_ids: list[int]
    stage_names: list[str]


@dataclass
class Stage:
    id: int
    attempt: int
    name: str
    group: str | None
    start: float
    end: float
    tasks: int
    metrics: dict[str, float]


def _ms(v) -> float:
    return (v or 0) / 1000.0


def _python_row_ids(node: dict, out: set[int]) -> None:
    """Collect the output-row accumulator of every plan node that talks
    to Python workers (pandas UDFs, ``mapInPandas`` and the like)."""
    names = {m["name"]: m["accumulatorId"] for m in node.get("metrics", ())}
    if "data sent to Python workers" in names and "number of output rows" in names:
        out.add(names["number of output rows"])
    for child in node.get("children", ()):
        _python_row_ids(child, out)


def read_event_log(log_dir: str) -> tuple[list[Job], list[Stage]]:
    """Jobs and completed stages of the single application whose event
    log sits in ``log_dir``. Stage metrics are the stage's accumulables
    by name: task metrics (``internal.metrics.*``) and SQL metrics, with
    the output rows of Python-UDF nodes as ``python output rows``."""
    paths = [p for p in glob.glob(os.path.join(log_dir, "*"))
             if not p.endswith(".inprogress")]
    if len(paths) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, "
                           f"found {len(paths)}")
    starts: dict[int, dict] = {}
    ends: dict[int, float] = {}
    # accumulator ids of the output-row metric of Python-UDF plan nodes
    python_rows: set[int] = set()
    groups: dict[tuple[int, int], str | None] = {}
    stages: list[Stage] = []
    with open(paths[0]) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if "sparkPlanInfo" in ev:
                _python_row_ids(ev["sparkPlanInfo"], python_rows)
            elif kind == "SparkListenerJobStart":
                starts[ev["Job ID"]] = ev
            elif kind == "SparkListenerJobEnd":
                ends[ev["Job ID"]] = _ms(ev["Completion Time"])
            elif kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                props = ev.get("Properties") or {}
                groups[(info["Stage ID"], info["Stage Attempt ID"])] = (
                    props.get("spark.jobGroup.id"))
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                key = (info["Stage ID"], info["Stage Attempt ID"])
                metrics: dict[str, float] = {}
                for acc in info.get("Accumulables", ()):
                    try:
                        value = float(acc["Value"])
                    except (KeyError, TypeError, ValueError):
                        continue
                    name = ("python output rows" if acc.get("ID") in python_rows
                            else acc["Name"])
                    metrics[name] = metrics.get(name, 0.0) + value
                stages.append(Stage(
                    key[0], key[1], info["Stage Name"], groups.get(key),
                    _ms(info.get("Submission Time")),
                    _ms(info.get("Completion Time")),
                    info["Number of Tasks"], metrics,
                ))
    jobs = []
    for jid, ev in sorted(starts.items()):
        props = ev.get("Properties") or {}
        infos = ev.get("Stage Infos", ())
        jobs.append(Job(
            jid, props.get("spark.jobGroup.id"), _ms(ev["Submission Time"]),
            ends.get(jid, _ms(ev["Submission Time"])),
            [i["Stage ID"] for i in infos], [i["Stage Name"] for i in infos],
        ))
    return jobs, stages
