"""Traced run: spans around the program's public calls, attributed to
Spark jobs through the event log.

Wrappers are installed from this file only — the program is not
edited. Each wrapper records a span (name, kind, start, end, parent,
run id) and sets ``SparkContext.setJobDescription`` to the span id, so
every job, task, shuffle byte, spill byte and GC millisecond in the
event log can be attributed to the span that caused it.

Span kinds:

- ``round``: one ``CrawlRun.run_round`` call, the parent of all others;
- ``plan``: a public operator call (``generate.generate``,
  ``fetch.fetch``, …). Operators return lazy DataFrames, so this is
  driver-side plan construction plus any job the operator runs eagerly;
- ``write``: a materializing write (``SnapshotTable.stage``/``publish``,
  ``DataFrameWriter.parquet``), labelled by target table. The jobs that
  execute a stage's plan run here.

A span's self time is its duration minus the part of it covered by its
child spans; a round's uncovered time is its wall time minus the union
of its children.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import re
import statistics
import time
from dataclasses import asdict, dataclass

# (span name, module, attribute) of the public calls CrawlRun makes
PLAN_CALLS = (
    ("generate", "nutch_spark.operators.generate", "generate"),
    ("fetch", "nutch_spark.operators.fetch", "fetch"),
    ("parse", "nutch_spark.operators.parse", "parse_segment"),
    ("parse.outlink_edges", "nutch_spark.operators.parse", "outlink_edges"),
    ("urlseen.split", "nutch_spark.operators.urlseen", "split_seen"),
    ("urlseen.build", "nutch_spark.operators.urlseen", "build_bloom"),
    ("updatedb", "nutch_spark.operators.updatedb", "updatedb"),
    ("dedup", "nutch_spark.operators.dedup", "dedup"),
    ("linkdb", "nutch_spark.operators.linkdb", "invert_links"),
)

PER_LAYER_METRICS = {
    "generate.plan_s": "s", "generate.exec_s": "s",
    "generate.rows_in": "count", "generate.rows_out": "count",
    "fetch.plan_s": "s", "fetch.exec_s": "s", "fetch.items": "count",
    "fetch.success": "count", "fetch.robots_denied": "count",
    "fetch.queues": "count", "fetch.top_queue_share": "ratio",
    "fetch.task_skew": "ratio", "fetch.virtual_makespan_s": "s",
    "parse.plan_s": "s", "parse.exec_s": "s", "parse.pages": "count",
    "parse.html_mb": "MB", "parse.outlinks": "count",
    "parse.mb_per_s": "MB/s",
    "urlseen.plan_s": "s", "urlseen.build_s": "s",
    "urlseen.linked_in": "count", "urlseen.new_ratio": "ratio",
    "urlseen.false_pos_rate": "ratio",
    "updatedb.plan_s": "s", "dedup.plan_s": "s", "updatedb.exec_s": "s",
    "updatedb.messages_in": "count", "updatedb.rows_out": "count",
    "updatedb.shuffle_mb": "MB", "updatedb.spill_mb": "MB",
    "linkdb.plan_s": "s", "linkdb.exec_s": "s", "linkdb.rows": "count",
    "storage.commit_s": "s", "storage.bytes_written": "B",
    "storage.files_written": "count", "storage.rows_written": "count",
    "storage.pages_commit_s": "s",
    "crawl.plan_s": "s", "crawl.jobs_per_round": "count",
    "crawl.tasks_per_round": "count", "crawl.uncovered_s": "s",
    "crawl.gc_s": "s", "crawl.round_s": "s",
    "crawl.trace_overhead_s": "s",
    "session.start_s": "s", "session.install_s": "s",
}

_ROUND_SUFFIX = re.compile(r"/round=\d+(\.tmp)?$")


@dataclass
class Span:
    id: int
    name: str
    kind: str
    parent: int | None
    run_id: str
    start: float          # time.time() seconds
    end: float = 0.0

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Installs the wrappers, keeps spans in memory, and turns spans +
    event log + post-round counts into per-layer metrics."""

    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._patched: list[tuple[object, str, object]] = []
        self.active = False
        self.base = ""                    # crawl dir: write-span labels

    # --- spans -----------------------------------------------------------
    def begin(self, name: str, kind: str) -> Span:
        parent = self._stack[-1].id if self._stack else None
        sp = Span(len(self.spans), name, kind, parent, self.run_id,
                  time.time())
        self.spans.append(sp)
        self._stack.append(sp)
        self.sc.setJobDescription(f"pb:{sp.id}")
        return sp

    def end(self, sp: Span) -> None:
        sp.end = time.time()
        self._stack.pop()
        self.sc.setJobDescription(
            f"pb:{self._stack[-1].id}" if self._stack else None)

    def _traced(self, name_of, kind: str, fn):
        @functools.wraps(fn)
        def inner(*args, **kwargs):
            if not self.active:
                return fn(*args, **kwargs)
            name = name_of(args, kwargs)
            sp = self.begin(name, kind)
            try:
                return fn(*args, **kwargs)
            finally:
                self.end(sp)
        return inner

    def _patch(self, owner, attr: str, wrapper) -> None:
        self._patched.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, wrapper)

    def install(self) -> None:
        import importlib

        from pyspark.sql.readwriter import DataFrameWriter

        from nutch_spark.storage import SnapshotTable

        for name, mod_name, attr in PLAN_CALLS:
            mod = importlib.import_module(mod_name)
            self._patch(mod, attr, self._traced(
                lambda a, k, n=name: n, "plan", getattr(mod, attr)))
        self._patch(SnapshotTable, "stage", self._traced(
            lambda a, k: f"stage:{a[0].name}", "write", SnapshotTable.stage))
        self._patch(SnapshotTable, "publish", self._traced(
            lambda a, k: f"publish:{a[0].name}", "write",
            SnapshotTable.publish))
        self._patch(DataFrameWriter, "parquet", self._traced(
            lambda a, k: f"write:{self._label(a[1] if len(a) > 1 else k['path'])}",
            "write", DataFrameWriter.parquet))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def _label(self, path: str) -> str:
        rel = os.path.relpath(str(path), self.base) if self.base else path
        return _ROUND_SUFFIX.sub("", rel)

    # --- event log -----------------------------------------------------
    @staticmethod
    def read_event_log(log_dir: str) -> dict[int, dict]:
        """Per-span job statistics from an uncompressed Spark event log:
        jobs, tasks, task durations (ms), GC ms, shuffle write and spill
        bytes, keyed by the span id in the job description."""
        files = [p for p in glob.glob(os.path.join(log_dir, "*"))
                 if os.path.isfile(p)]
        stage_span: dict[int, int] = {}
        stats: dict[int, dict] = {}
        for path in files:
            with open(path) as f:
                for line in f:
                    ev = json.loads(line)
                    kind = ev.get("Event")
                    if kind == "SparkListenerJobStart":
                        desc = (ev.get("Properties") or {}).get(
                            "spark.job.description") or ""
                        if not desc[3:].isdigit():
                            continue      # untraced or post-round job
                        sid = int(desc[3:])
                        st = stats.setdefault(sid, _empty_stats())
                        st["jobs"] += 1
                        for s in ev.get("Stage IDs", []):
                            stage_span.setdefault(s, sid)
                    elif kind == "SparkListenerTaskEnd":
                        sid = stage_span.get(ev.get("Stage ID"))
                        if sid is None:
                            continue
                        st = stats[sid]
                        info = ev.get("Task Info") or {}
                        m = ev.get("Task Metrics") or {}
                        st["tasks"] += 1
                        st["task_ms"].append(info.get("Finish Time", 0)
                                             - info.get("Launch Time", 0))
                        st["gc_ms"] += m.get("JVM GC Time", 0)
                        st["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
                        st["shuffle_bytes"] += (m.get("Shuffle Write Metrics")
                                                or {}).get(
                            "Shuffle Bytes Written", 0)
        return stats

    # --- metrics ---------------------------------------------------------
    def self_times(self) -> dict[int, float]:
        kids: dict[int, list[Span]] = {}
        for sp in self.spans:
            if sp.parent is not None:
                kids.setdefault(sp.parent, []).append(sp)
        return {sp.id: sp.dur - _covered([(c.start, c.end)
                                          for c in kids.get(sp.id, [])])
                for sp in self.spans}

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": [asdict(s) for s in self.spans], **extra},
                      f, indent=1)


def _empty_stats() -> dict:
    return {"jobs": 0, "tasks": 0, "task_ms": [], "gc_ms": 0,
            "spill_bytes": 0, "shuffle_bytes": 0}


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end] intervals."""
    total, reach = 0.0, float("-inf")
    for start, end in sorted(intervals):
        if end > reach:
            total += end - max(start, reach)
            reach = end
    return total


def round_metrics(tracer: Tracer, round_span: Span, events: dict[int, dict],
                  counts: dict) -> dict[str, float]:
    """Per-layer metrics of one traced round. ``counts`` holds the
    figures taken after the round's clock stopped (commit records,
    fetch status breakdown, url-seen split sizes, directory deltas)."""
    selft = tracer.self_times()
    # the tracer is active for one round only: every other span lies
    # inside it
    spans = [s for s in tracer.spans if s.id != round_span.id]

    def t(*names: str) -> float:
        return sum(selft[s.id] for s in spans if s.name in names)

    def ev(ids: list[int]) -> dict:
        out = _empty_stats()
        for i in ids:
            st = events.get(i)
            if st is None:
                continue
            for k in ("jobs", "tasks", "gc_ms", "spill_bytes",
                      "shuffle_bytes"):
                out[k] += st[k]
            out["task_ms"] += st["task_ms"]
        return out

    def named(name: str) -> list[int]:
        return [s.id for s in spans if s.name == name]

    fetch_ev = ev(named("write:segments/crawl_fetch"))
    skew = 0.0
    if fetch_ev["task_ms"]:
        med = statistics.median(fetch_ev["task_ms"])
        skew = max(fetch_ev["task_ms"]) / med if med > 0 else 0.0
    crawldb_ev = ev(named("stage:crawldb"))
    whole = ev([round_span.id] + [s.id for s in spans])
    parse_exec = t("write:segments/parse_text", "write:segments/parse_data")
    html_mb = counts["html_bytes"] / 1e6
    linked = counts["linked_in"]
    negatives = counts["seen_new"] + counts["seen_false_pos"]
    items = counts["fetch_items"]
    plan_names = {s.name for s in spans if s.kind == "plan"}
    write_names = {s.name for s in spans if s.kind == "write"}
    return {
        "generate.plan_s": t("generate"),
        "generate.exec_s": t("write:segments/crawl_generate"),
        "generate.rows_in": counts["db_rows_in"],
        "generate.rows_out": counts["fetchlist_rows"],
        "fetch.plan_s": t("fetch"),
        "fetch.exec_s": t("write:segments/crawl_fetch"),
        "fetch.items": items,
        "fetch.success": counts["fetch_success"],
        "fetch.robots_denied": counts["robots_denied"],
        "fetch.queues": counts["queues"],
        "fetch.top_queue_share": counts["top_queue"] / items if items else 0.0,
        "fetch.task_skew": skew,
        "fetch.virtual_makespan_s": counts["virtual_makespan_s"],
        "parse.plan_s": t("parse", "parse.outlink_edges"),
        "parse.exec_s": parse_exec,
        "parse.pages": counts["parsed_rows"],
        "parse.html_mb": html_mb,
        "parse.outlinks": counts["outlinks"],
        "parse.mb_per_s": html_mb / parse_exec if parse_exec > 0 else 0.0,
        "urlseen.plan_s": t("urlseen.split"),
        "urlseen.build_s": t("urlseen.build", "write:urlseen_bloom"),
        "urlseen.linked_in": linked,
        "urlseen.new_ratio": counts["seen_new"] / linked if linked else 0.0,
        "urlseen.false_pos_rate": (counts["seen_false_pos"] / negatives
                                   if negatives else 0.0),
        "updatedb.plan_s": t("updatedb"),
        "dedup.plan_s": t("dedup"),
        "updatedb.exec_s": t("stage:crawldb"),
        "updatedb.messages_in": counts["messages_in"],
        "updatedb.rows_out": counts["db_rows_out"],
        "updatedb.shuffle_mb": crawldb_ev["shuffle_bytes"] / 1e6,
        "updatedb.spill_mb": crawldb_ev["spill_bytes"] / 1e6,
        "linkdb.plan_s": t("linkdb"),
        "linkdb.exec_s": t("write:linkdb"),
        "linkdb.rows": counts["linkdb_rows"],
        "storage.commit_s": t(*write_names),
        "storage.bytes_written": counts["bytes_written"],
        "storage.files_written": counts["files_written"],
        "storage.rows_written": counts["rows_written"],
        "crawl.plan_s": t(*plan_names),
        "crawl.jobs_per_round": whole["jobs"],
        "crawl.tasks_per_round": whole["tasks"],
        "crawl.uncovered_s": round_span.dur - _covered(
            [(s.start, s.end) for s in spans]),
        "crawl.gc_s": whole["gc_ms"] / 1000.0,
        "crawl.round_s": round_span.dur,
    }
