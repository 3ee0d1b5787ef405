"""Spans around the benchmark's calls into each layer, and the offline
parser that joins them to Spark's own event log.

A traced run wraps every call in its own Spark job group, so each job's
``JobStart`` carries the span's ``spark.jobGroup.id``. After the session
stops, the event log (JSON lines, uncompressed, not rolled) gives per span:

- ``wall_s``: the span's wall time, measured in Python;
- ``driver_s``: wall time not covered by any running job (planning, Python,
  registry file I/O);
- ``jobs``: jobs launched under the span's group;
- ``task_s`` / ``max_task_s``: summed / longest executor run time of their
  tasks;
- ``shuffle_write_mb`` / ``input_mb`` / ``spill_mb``.

Each quantity is the median over the span's calls. Jobs without a group are
counted apart, so nothing vanishes silently.

Re-derive the per-layer table of a traced run, and the tracing overhead
against an untraced run of the same workload, with::

    python3 perfbench/eventlog.py .perfbench/reports/<traced>.json \
        [--untraced .perfbench/reports/<untraced>.json]
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import sys
import time

MB = 1024 * 1024
QUANTITIES = ("wall_s", "driver_s", "jobs", "task_s", "max_task_s",
              "shuffle_write_mb", "input_mb", "spill_mb")


class Spans:
    """Records ``(name, start, end)`` for every call made inside
    ``with spans(name):``. Given a SparkContext it also tags the call's jobs
    with a job group of their own; without one it only times."""

    def __init__(self, sc=None, prefix: str = "span"):
        self.sc, self.prefix = sc, prefix
        self.records: list[dict] = []
        self.raised: str | None = None  # the last span, if its call raised

    @contextlib.contextmanager
    def __call__(self, name: str):
        group = f"perfbench-{self.prefix}-{len(self.records)}"
        if self.sc is not None:
            self.sc.setJobGroup(group, name)
        start, t0 = time.time(), time.perf_counter()
        self.raised = None
        try:
            yield
        except BaseException:
            self.raised = name
            raise
        finally:
            wall = time.perf_counter() - t0
            if self.sc is not None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self.records.append(
                {"name": name, "group": group, "start": start,
                 "end": start + wall, "wall_s": wall}
            )

    def walls(self, name: str) -> list[float]:
        return [r["wall_s"] for r in self.records if r["name"] == name]


def read_eventlogs(directory: str) -> list[dict]:
    """Every finished job in every application log under ``directory``,
    with its group, interval (epoch s) and task totals."""
    jobs: list[dict] = []
    for path in sorted(glob.glob(os.path.join(directory, "*"))):
        starts, ends, stage_tasks = {}, {}, {}
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    starts[ev["Job ID"]] = ev
                elif kind == "SparkListenerJobEnd":
                    ends[ev["Job ID"]] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    stage_tasks.setdefault(ev["Stage ID"], []).append((
                        m.get("Executor Run Time", 0) / 1000.0,
                        (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
                        (m.get("Input Metrics") or {}).get("Bytes Read", 0),
                        m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                    ))
        for jid, ev in starts.items():
            tasks = [t for sid in ev.get("Stage IDs", []) for t in stage_tasks.get(sid, [])]
            jobs.append({
                "group": (ev.get("Properties") or {}).get("spark.jobGroup.id"),
                "start": ev["Submission Time"] / 1000.0,
                "end": ends.get(jid, ev["Submission Time"] / 1000.0),
                "task_s": sum(t[0] for t in tasks),
                "max_task_s": max((t[0] for t in tasks), default=0.0),
                "shuffle_write_mb": sum(t[1] for t in tasks) / MB,
                "input_mb": sum(t[2] for t in tasks) / MB,
                "spill_mb": sum(t[3] for t in tasks) / MB,
            })
    return jobs


def _covered(start: float, end: float, jobs: list[dict]) -> float:
    """Length of ``[start, end]`` covered by the union of job intervals."""
    spans = sorted((max(j["start"], start), min(j["end"], end)) for j in jobs)
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in spans:
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
    return covered


def span_table(spans: list[dict], jobs: list[dict]) -> dict[str, dict]:
    """Per span name, the median over its calls of every quantity."""
    by_group: dict[str, list[dict]] = {}
    for j in jobs:
        by_group.setdefault(j["group"], []).append(j)
    calls: dict[str, list[dict]] = {}
    for s in spans:
        own = by_group.get(s["group"], [])
        calls.setdefault(s["name"], []).append({
            "wall_s": s["wall_s"],
            "driver_s": max(0.0, s["wall_s"] - _covered(s["start"], s["end"], jobs)),
            "jobs": len(own),
            "task_s": sum(j["task_s"] for j in own),
            "max_task_s": max((j["max_task_s"] for j in own), default=0.0),
            "shuffle_write_mb": sum(j["shuffle_write_mb"] for j in own),
            "input_mb": sum(j["input_mb"] for j in own),
            "spill_mb": sum(j["spill_mb"] for j in own),
        })
    return {
        name: {"calls": len(cs), **{q: statistics.median(c[q] for c in cs) for q in QUANTITIES}}
        for name, cs in calls.items()
    }


def window_totals(jobs: list[dict], start: float, end: float) -> dict:
    """Totals over jobs submitted in ``[start, end]``; ``unattributed_*``
    covers the ones that carried no job group."""
    inside = [j for j in jobs if start <= j["start"] <= end]
    loose = [j for j in inside if not j["group"]]
    return {
        "jobs": len(inside),
        "shuffle_write_mb": sum(j["shuffle_write_mb"] for j in inside),
        "spill_mb": sum(j["spill_mb"] for j in inside),
        "unattributed_jobs": len(loose),
        "unattributed_task_s": sum(j["task_s"] for j in loose),
    }


def summarize(report: dict, untraced: dict | None = None) -> tuple[dict, dict, dict | None]:
    """The per-layer tables of a traced run's report (set-up and timed
    spans), the totals of its timed window and, given the untraced report of
    the same workload, the tracing overhead: traced minus untraced
    end-to-end metrics."""
    jobs = read_eventlogs(report["eventlog_dir"])
    tables = {key: span_table(report[key], jobs) for key in ("setup_spans", "spans")}
    totals = window_totals(jobs, *report["timed_window"])
    overhead = None
    if untraced is not None:
        base = untraced["end_to_end"]
        overhead = {k: v - base[k] for k, v in report["end_to_end"].items() if k in base}
    return tables, totals, overhead


def render(tables: dict, totals: dict, overhead: dict | None) -> list[str]:
    """``summarize``'s result as text lines."""
    lines = []
    for title, key in (("set-up and warm pass", "setup_spans"), ("timed region", "spans")):
        lines.append(f"{title}:")
        lines.append(f"{'span':52s} calls " + " ".join(f"{q:>16s}" for q in QUANTITIES))
        for name in sorted(tables[key]):
            row = tables[key][name]
            lines.append(f"{name:52s} {row['calls']:5d} "
                         + " ".join(f"{row[q]:16.4f}" for q in QUANTITIES))
    lines.append("timed window: " + json.dumps(totals))
    if overhead is None:
        lines.append("tracing overhead: no untraced report of this workload to compare with")
    else:
        lines.append("tracing overhead (traced - untraced): "
                     + json.dumps({k: round(v, 4) for k, v in overhead.items()}))
    return lines


def main(argv: list[str]) -> int:
    if len(argv) not in (1, 3) or argv[0] in ("-h", "--help") or (
            len(argv) == 3 and argv[1] != "--untraced"):
        print(__doc__)
        return 2
    reports = []
    for path in argv[::2]:
        with open(path) as fh:
            reports.append(json.load(fh))
    print("\n".join(render(*summarize(*reports))))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
