"""Spans around calls into the package, recorded from the benchmark's side.

A span puts every Spark job its body triggers under one job group
(`SparkContext.setJobGroup`) and records its wall-clock bounds; the event
log (`eventlog.py`) then gives the span's jobs, tasks and time split.
Spans nest: a parent's numbers include its children's jobs.

`tag_call_sites` additionally labels each job with the package source
line whose DataFrame action triggered it, so jobs can be attributed to
package modules and statements. PySpark's own call sites for DataFrame
actions name only the JVM reflection frame, so the event log cannot
provide this by itself.

With tracing off, `span` only yields, and the benchmark's timings are
taken on the same code path without job groups or tags.
"""

from __future__ import annotations

import ast
import functools
import linecache
import os
import sys
import time
from contextlib import contextmanager

from eventlog import Job, summarize

_ACTIONS = ("count", "collect", "toPandas", "localCheckpoint", "checkpoint", "take")


def now_ms() -> float:
    return time.time() * 1000.0


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        rec = {
            "name": name,
            "group": f"{len(self.spans) + len(self._stack)}:{name}",
            "parent": self._stack[-1]["group"] if self._stack else None,
        }
        self.sc.setJobGroup(rec["group"], name)
        self._stack.append(rec)
        rec["t0"] = now_ms()
        try:
            yield rec
        finally:
            rec["t1"] = now_ms()
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(self._stack[-1]["group"], self._stack[-1]["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self.spans.append(rec)

    def _descendants(self, group: str) -> set[str]:
        out, todo = {group}, [group]
        while todo:
            g = todo.pop()
            for s in self.spans:
                if s["parent"] == g and s["group"] not in out:
                    out.add(s["group"])
                    todo.append(s["group"])
        return out

    def span_jobs(self, rec: dict, jobs: list[Job]) -> list[Job]:
        groups = self._descendants(rec["group"])
        return [j for j in jobs if j.group in groups]

    def summary(self, rec: dict, jobs: list[Job]) -> dict:
        return summarize(self.span_jobs(rec, jobs), int(rec["t0"]), int(rec["t1"]))

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]


@functools.lru_cache(maxsize=None)
def _statement_spans(path: str) -> tuple[tuple[int, int], ...]:
    """(first line, last line) of every statement in `path`."""
    with open(path) as fh:
        tree = ast.parse(fh.read())
    return tuple((n.lineno, n.end_lineno) for n in ast.walk(tree) if isinstance(n, ast.stmt))


def statement_head(path: str, lineno: int) -> str:
    """First source line of the innermost statement containing `lineno`."""
    inner = min(
        (s for s in _statement_spans(path) if s[0] <= lineno <= s[1]),
        key=lambda s: s[1] - s[0],
        default=(lineno, lineno),
    )
    return linecache.getline(path, inner[0]).strip()


def tag_call_sites(spark, pkg_dir: str) -> None:
    """Wrap the DataFrame actions of this process so each job carries
    `spark.job.description` =
    '<package file>:<line> <function>: <statement head> | <call line>'
    of the innermost package frame that called the action."""
    sc = spark.sparkContext
    cls = type(spark.range(1))
    root = os.path.dirname(pkg_dir)

    def call_site() -> str | None:
        f = sys._getframe(2)
        while f is not None:
            path = f.f_code.co_filename
            if path.startswith(pkg_dir):
                line = linecache.getline(path, f.f_lineno).strip()
                head = statement_head(path, f.f_lineno)
                return (f"{os.path.relpath(path, root)}:{f.f_lineno} "
                        f"{f.f_code.co_name}: {head} | {line}")
            f = f.f_back
        return None

    def wrap(method):
        @functools.wraps(method)
        def tagged(self, *args, **kwargs):
            site = call_site()
            if site is None:
                return method(self, *args, **kwargs)
            prev = sc.getLocalProperty("spark.job.description")
            sc.setLocalProperty("spark.job.description", site)
            try:
                return method(self, *args, **kwargs)
            finally:
                sc.setLocalProperty("spark.job.description", prev)

        return tagged

    for name in _ACTIONS:
        setattr(cls, name, wrap(getattr(cls, name)))
