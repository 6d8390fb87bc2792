"""Traced-run machinery: Python-side spans around the program's public
functions, the Spark event-log parser, and the per-op layer split.

Spans are recorded from the benchmark's side only: each wrapped
function is rebound in every program module that imported it, so calls
between the program's own modules are seen too, and :meth:`Tracer.restore`
puts the originals back.  Spark jobs come from the event log the traced
run enables before session start; they join the op that launched them
by job group, or by time window for jobs Spark runs under its own group
(streaming micro-batches).
"""

from __future__ import annotations

import functools
import glob
import importlib
import inspect
import json
import os
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from stats import median

#: module → layer name; every public function
#: defined in the module is wrapped
LAYER_MODULES = {
    "fxblue_etl_spark.sources.fxblue_csv": "sources",
    "fxblue_etl_spark.sources.rss_feed": "sources",
    "fxblue_etl_spark.operators.cleaning": "operators",
    "fxblue_etl_spark.operators.merge": "operators",
    "fxblue_etl_spark.operators.dedup": "operators",
    "fxblue_etl_spark.operators.similarity": "operators",
    "fxblue_etl_spark.operators.textops": "operators",
    "fxblue_etl_spark.plans.relational": "plans",
    "fxblue_etl_spark.plans.tpch_extra": "plans",
    "fxblue_etl_spark.plans.tpch_more": "plans",
    "fxblue_etl_spark.plans.corpus": "plans",
    "fxblue_etl_spark.streaming.pipelines": "streaming",
}
#: explicitly listed entry points of the io layer (the session layer is
#: timed by the set-up itself: it runs before any op)
LAYER_FUNCS = {
    ("fxblue_etl_spark.io", "table"): "io",
    ("fxblue_etl_spark.io", "swap_cache"): "io",
    ("fxblue_etl_spark.io", "drain_all"): "io",
    ("fxblue_etl_spark.io", "memo_local_checkpoint"): "io",
    ("fxblue_etl_spark.io", "write_partitioned"): "io",
}
PROGRAM_PREFIXES = ("fxblue_etl_spark", "__spark_entry__")
PROBE_GROUP = "perfbench-probe"


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op: str | None = None


@dataclass
class Tracer:
    """In-memory span recorder; written out once, at the end of a run."""

    spans: list[Span] = field(default_factory=list)
    op: str | None = None
    merges: list[tuple] = field(default_factory=list)  # (op, new df, result df)
    _stack: list[int] = field(default_factory=list)
    _patched: list[tuple] = field(default_factory=list)

    @contextmanager
    def span(self, name: str):
        s = Span(len(self.spans), name, time.time(),
                 parent=self._stack[-1] if self._stack else None, op=self.op)
        self.spans.append(s)
        self._stack.append(s.id)
        try:
            yield s
        finally:
            self._stack.pop()
            s.end = time.time()

    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)
        return traced

    def _memo_wrapper(self, fn, name: str):
        """``memo_local_checkpoint`` with its ``build`` callable counted:
        a build is a miss, a call without one is a hit."""
        @functools.wraps(fn)
        def traced(memo, key, spark, fp, build):
            def counted():
                with self.span("io.memo_build"):
                    return build()
            with self.span(name):
                return fn(memo, key, spark, fp, counted)
        return traced

    def _merge_wrapper(self, fn, name: str):
        """``merge_upsert`` remembering its new batch and result, so the
        rows in and out can be counted after the op, outside its span."""
        @functools.wraps(fn)
        def traced(old, new, *args, **kwargs):
            with self.span(name):
                out = fn(old, new, *args, **kwargs)
            self.merges.append((self.op, new, out))
            return out
        return traced

    def install(self) -> int:
        """Wrap every layer function and rebind it in each program
        module that holds it.  Returns the number of functions wrapped."""
        targets: dict[int, tuple] = {}
        for (mod_name, attr), layer in LAYER_FUNCS.items():
            fn = getattr(importlib.import_module(mod_name), attr)
            targets[id(fn)] = (fn, f"{layer}.{attr}")
        for mod_name, layer in LAYER_MODULES.items():
            mod = importlib.import_module(mod_name)
            for attr, fn in vars(mod).items():
                if (inspect.isfunction(fn) and fn.__module__ == mod_name
                        and not attr.startswith("_")):
                    targets.setdefault(id(fn), (fn, f"{layer}.{attr}"))
        wrappers = {}
        for key, (fn, name) in targets.items():
            if name == "io.memo_local_checkpoint":
                wrappers[key] = self._memo_wrapper(fn, name)
            elif name == "operators.merge_upsert":
                wrappers[key] = self._merge_wrapper(fn, name)
            else:
                wrappers[key] = self.wrap(fn, name)
        for mod_name, mod in list(sys.modules.items()):
            if not mod_name.startswith(PROGRAM_PREFIXES):
                continue
            ns = vars(mod)
            for attr, val in list(ns.items()):
                w = wrappers.get(id(val))
                if w is not None and val is targets[id(val)][0]:
                    ns[attr] = w
                    self._patched.append((ns, attr, val))
        return len(wrappers)

    def restore(self) -> None:
        for ns, attr, orig in reversed(self._patched):
            ns[attr] = orig
        self._patched.clear()


# ── span arithmetic ─────────────────────────────────────────────────────

def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id → duration minus the part of it its children cover
    (children clipped to the parent's interval)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    by_id = {s["id"]: s for s in spans}
    for s in spans:
        p = s.get("parent")
        if p is not None and p in by_id:
            ps = by_id[p]
            lo, hi = max(s["start"], ps["start"]), min(s["end"], ps["end"])
            if hi > lo:
                kids.setdefault(p, []).append((lo, hi))
    return {
        s["id"]: (s["end"] - s["start"]) - union_length(kids.get(s["id"], []))
        for s in spans
    }


# ── event log ───────────────────────────────────────────────────────────

_PY_ACCUMS = {
    "time to run Python workers": "py_run_ms",
    "time to start Python workers": "py_boot_ms",
    "time to initialize Python workers": "py_init_ms",
    "data sent to Python workers": "py_sent_b",
    "data returned from Python workers": "py_recv_b",
}
_JOB_SUMS = (
    "tasks", "run_ms", "cpu_ns", "gc_ms", "spill_b", "shuffle_read_b",
    "shuffle_write_b", "input_b", "output_records", *_PY_ACCUMS.values(),
)
KEEP_EVENTS = (
    "SparkListenerJobStart", "SparkListenerJobEnd", "SparkListenerTaskEnd",
    "org.apache.spark.sql.streaming.StreamingQueryListener$QueryProgressEvent",
)


def read_event_logs(root: str) -> list[dict]:
    """Every kept event of every application under ``root`` (Spark 4
    rolling ``eventlog_v2_*/events_*`` directories or flat files).  Job
    and stage ids restart with each application, so every event is
    stamped with its application's index under ``_app``."""
    files = sorted(glob.glob(os.path.join(root, "eventlog_v2_*", "events_*")))
    files += sorted(
        f for f in glob.glob(os.path.join(root, "*"))
        if os.path.isfile(f) and not f.endswith(".crc")
    )
    out = []
    for app, f in enumerate(files):
        with open(f) as fh:
            for line in fh:
                if any(k in line[:200] for k in KEEP_EVENTS):
                    ev = json.loads(line)
                    if ev.get("Event") in KEEP_EVENTS:
                        ev["_app"] = app
                        out.append(ev)
    return out


def _iso_ms(ts: str) -> float:
    from datetime import datetime, timezone

    return datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=timezone.utc).timestamp() * 1000.0


def parse_events(events: list[dict]) -> tuple[list[dict], list[dict]]:
    """``(jobs, stream_batches)`` from raw events.

    A task counts toward the newest job that lists its stage and was
    submitted before the task launched (a stage listed by a later job
    whose output was reused is skipped there, never run twice).  Ids
    are per application (``_app``, 0 when absent)."""
    jobs: dict[tuple, dict] = {}
    stage_jobs: dict[tuple, list[tuple]] = {}
    batches = []
    for ev in events:
        kind, app = ev["Event"], ev.get("_app", 0)
        if kind == "SparkListenerJobStart":
            jid = (app, ev["Job ID"])
            jobs[jid] = {
                "job": f"{app}.{ev['Job ID']}",
                "group": (ev.get("Properties") or {}).get("spark.jobGroup.id"),
                "submit_ms": ev["Submission Time"],
                "end_ms": ev["Submission Time"],
                "stages_run": set(),
                **{k: 0 for k in _JOB_SUMS},
            }
            for sid in ev["Stage IDs"]:
                stage_jobs.setdefault((app, sid), []).append(jid)
        elif kind == "SparkListenerJobEnd":
            if (app, ev["Job ID"]) in jobs:
                jobs[(app, ev["Job ID"])]["end_ms"] = ev["Completion Time"]
        elif kind == "SparkListenerTaskEnd":
            info, m = ev["Task Info"], ev.get("Task Metrics") or {}
            cands = [j for j in stage_jobs.get((app, ev["Stage ID"]), [])
                     if jobs[j]["submit_ms"] <= info["Launch Time"]]
            if not cands:
                continue
            j = jobs[max(cands)]
            j["stages_run"].add(ev["Stage ID"])
            j["tasks"] += 1
            j["run_ms"] += m.get("Executor Run Time", 0)
            j["cpu_ns"] += m.get("Executor CPU Time", 0)
            j["gc_ms"] += m.get("JVM GC Time", 0)
            j["spill_b"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            j["shuffle_read_b"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            j["shuffle_write_b"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            j["input_b"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            j["output_records"] += (m.get("Output Metrics") or {}).get("Records Written", 0)
            for acc in info.get("Accumulables") or []:
                key = _PY_ACCUMS.get(acc.get("Name"))
                if key is not None:
                    j[key] += int(acc.get("Update") or 0)
        else:  # streaming progress
            p = ev["progress"]
            batches.append({
                "batch": p["batchId"],
                "start_ms": _iso_ms(p["timestamp"]),
                "trigger_ms": (p.get("durationMs") or {}).get("triggerExecution", 0),
            })
    for j in jobs.values():
        j["stages"] = len(j.pop("stages_run"))
    return [jobs[k] for k in sorted(jobs)], batches


# ── per-op layer split ──────────────────────────────────────────────────

def assign_jobs(ops: list[dict], jobs: list[dict]) -> dict[str, list[dict]]:
    """Op id → its jobs: by job group, else by the op whose wall window
    holds the job's submission (jobs under the probe group are dropped)."""
    ids = {o["id"] for o in ops}
    out: dict[str, list[dict]] = {o["id"]: [] for o in ops}
    for j in jobs:
        if j["group"] in ids:
            out[j["group"]].append(j)
        elif j["group"] != PROBE_GROUP:
            t = j["submit_ms"] / 1000.0
            for o in ops:
                if o["start"] <= t <= o["end"]:
                    out[o["id"]].append(j)
                    break
    return out


def op_layers(op: dict, jobs: list[dict], spans: list[dict], batches: list[dict]) -> dict:
    """The per-layer figures of one op (seconds, MB and counts)."""
    t0, t1 = op["start"], op["end"]
    ivs = [(max(t0, j["submit_ms"] / 1e3), min(t1, j["end_ms"] / 1e3)) for j in jobs]
    ivs = [(a, b) for a, b in ivs if b > a]
    mine = [s for s in spans if s["op"] == op["id"]]
    own = self_times(mine)
    calls = lambda n: [s for s in mine if s["name"] == n]  # noqa: E731
    dur = lambda ss: sum(s["end"] - s["start"] for s in ss)  # noqa: E731
    tot = {k: sum(j[k] for j in jobs) for k in _JOB_SUMS}
    memo_calls = len(calls("io.memo_local_checkpoint"))
    memo_builds = len(calls("io.memo_build"))
    mb = 1024.0 * 1024.0
    bt = [b["trigger_ms"] / 1e3 for b in batches if t0 <= b["start_ms"] / 1e3 <= t1]
    return {
        "io.table_calls": len(calls("io.table")),
        "io.table_s": dur(calls("io.table")),
        "io.self_s": sum(own[s["id"]] for s in mine if s["name"].startswith("io.")),
        "driver.outside_jobs_s": (t1 - t0) - union_length(ivs),
        "plans.query_fn_s": op["query_fn_s"],
        "plans.action_s": op["action_s"],
        "spark.jobs": len(jobs),
        "spark.stages": sum(j["stages"] for j in jobs),
        "plans.eager_jobs": sum(1 for j in jobs if j["submit_ms"] / 1e3 < op["action_start"]),
        "python.run_s": tot["py_run_ms"] / 1e3,
        "python.boot_s": tot["py_boot_ms"] / 1e3,
        "python.init_s": tot["py_init_ms"] / 1e3,
        "python.sent_mb": tot["py_sent_b"] / mb,
        "python.received_mb": tot["py_recv_b"] / mb,
        "spark.cpu_per_run": (tot["cpu_ns"] / 1e6) / tot["run_ms"] if tot["run_ms"] else 0.0,
        "spark.shuffle_read_mb": tot["shuffle_read_b"] / mb,
        "spark.shuffle_write_mb": tot["shuffle_write_b"] / mb,
        "merge.rows_in_new": op.get("rows_in_new", 0),
        "merge.rows_out": op.get("rows_out", 0),
        "io.write_partitioned_s": dur(calls("io.write_partitioned")),
        "spark.input_mb": tot["input_b"] / mb,
        "io.swap_cache_calls": len(calls("io.swap_cache")),
        "io.storage_peak_mb": op.get("storage_mb", 0.0),
        "io.memo_calls": memo_calls,
        "io.memo_builds": memo_builds,
        "io.memo_hit_ratio": 1.0 - memo_builds / memo_calls if memo_calls else 0.0,
        "spark.tasks": tot["tasks"],
        "spark.executor_run_s": tot["run_ms"] / 1e3,
        "spark.executor_cpu_s": tot["cpu_ns"] / 1e9,
        "spark.gc_s": tot["gc_ms"] / 1e3,
        "spark.spill_mb": tot["spill_b"] / mb,
        "streaming.batches": len(bt),
        "streaming.batch_p50_s": median(bt),
    }


#: figures of layers only some ops use: their median is taken over the
#: ops where the layer ran (named by the second figure being non-zero)
ACTIVE_ONLY = {
    "merge.rows_in_new": "merge.rows_in_new",
    "merge.rows_out": "merge.rows_in_new",
    "streaming.batches": "streaming.batches",
    "streaming.batch_p50_s": "streaming.batches",
    "io.memo_calls": "io.memo_calls",
    "io.memo_builds": "io.memo_calls",
    "io.memo_hit_ratio": "io.memo_calls",
}


def layer_summary(ops: list[dict], spans: list[dict], jobs: list[dict],
                  batches: list[dict]) -> tuple[dict, list[dict]]:
    """Per-op medians of every layer figure, plus the per-op rows."""
    by_op = assign_jobs(ops, jobs)
    rows = [op_layers(o, by_op[o["id"]], spans, batches) for o in ops]
    out = {}
    for k in rows[0] if rows else []:
        gate = ACTIVE_ONLY.get(k)
        out[k] = median([r[k] for r in rows if gate is None or r[gate]])
    return out, rows


def span_records(tracer: Tracer, ops: list[dict], jobs: list[dict]) -> list[dict]:
    """Python spans plus one child span per Spark job under its op."""
    out = [vars(s).copy() for s in tracer.spans]
    next_id = len(out)
    op_span = {s["op"]: s["id"] for s in out if s["name"] == "op"}
    for op_id, js in assign_jobs(ops, jobs).items():
        for j in js:
            out.append({
                "id": next_id, "name": f"spark.job.{j['job']}",
                "start": j["submit_ms"] / 1e3, "end": j["end_ms"] / 1e3,
                "parent": op_span.get(op_id), "op": op_id,
            })
            next_id += 1
    st = self_times(out)
    for s in out:
        s["self_s"] = st[s["id"]]
    return out
