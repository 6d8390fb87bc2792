#!/usr/bin/env python3
"""Seeded end-to-end benchmark of the fxblue-analytics-spark engine.

    python3 perfbench/run.py --workload <ingest_upsert|corpus_dedup>
                             --seed <n> --seconds <s> --trace <0|1>

Run from the repository root.  One closed-loop client in this process
drives a ``local[nproc]`` session.  The seed generates every input under
``.perfbench_work/``; the program sees only those files.  After
``--seconds`` of timed work (whole rounds, at least two, so each run
measures the same op mix) every result is checked against its DuckDB
reference and the last stdout line is one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` enables the
Spark event log and Python-side spans and reports the per-layer split
(see perfbench/README.md).  A context line before it carries the pinned
session settings, load, steal, the tail rule and the names of any
failing ops.
"""

from __future__ import annotations

import argparse
import glob
import importlib
import json
import os
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import stats  # noqa: E402

DRIVER_MEMORY = "2g"
#: ``op_tail_s`` is a median over rounds, so a run on a slow host still
#: measures two, not one round that outlasts ``--seconds``
MIN_ROUNDS = 2


def metric_units(trace: bool) -> dict[str, str]:
    """Name → unit of every metric BENCHMARK.json lists for this mode."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return {m["name"]: m["unit"] for m in bench["per_layer" if trace else "end_to_end"]}


def with_units(values: dict[str, float], units: dict[str, str]) -> dict:
    """The listed metrics, each with its unit; a listed metric the run did
    not produce is an error, never a silent gap."""
    missing = sorted(set(units) - set(values))
    if missing:
        raise KeyError(f"metrics not produced: {missing}")
    return {k: {"value": values[k], "unit": u} for k, u in units.items()}


def tag_for(seed: int) -> str:
    """Directory-name tag unique to the seed (``pb7s`` never prefixes
    ``pb71s``), used in every input basename."""
    return f"pb{seed}s"


def clean_tmp_staging(tag: str, before: set[str] | None = None) -> None:
    """Remove the program's ``/tmp`` staging for this seed's inputs and,
    given the ``/tmp`` listing from run start, the streaming checkpoint
    and warehouse directories this run created there."""
    doomed = glob.glob(f"/tmp/*_{tag}*")
    if before is not None:
        doomed += [os.path.join("/tmp", n) for n in os.listdir("/tmp")
                   if n not in before and (n.startswith("ckpt_") or n == "spark_graft_warehouse")]
    for p in doomed:
        if os.path.isdir(p) and not os.path.islink(p):
            shutil.rmtree(p, ignore_errors=True)
        else:
            try:
                os.unlink(p)
            except FileNotFoundError:
                pass


def pin_env(work: str, trace: bool) -> dict:
    """Identical session settings on every run, set before the JVM starts."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ.pop("SPARK_MASTER", None)
    os.environ.pop("SPARK_SHUFFLE_PARTITIONS", None)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_LOCAL_DIRS": local,
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "TMPDIR": tmp,
    })
    args = [f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData"']
    if trace:
        evl = os.path.join(work, "eventlog")
        os.makedirs(evl, exist_ok=True)
        args += ["--conf spark.eventLog.enabled=true",
                 "--conf spark.eventLog.compress=false",
                 f"--conf spark.eventLog.dir=file://{evl}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args + ["pyspark-shell"])
    import tempfile

    tempfile.tempdir = tmp
    return {"cpus": cpus, "driver_memory": DRIVER_MEMORY, "local_dirs": local}


def process_start() -> float:
    """Wall-clock start of this process, from /proc."""
    with open("/proc/self/stat") as f:
        ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(ln.split()[1]) for ln in f if ln.startswith("btime"))
    return btime + ticks / os.sysconf("SC_CLK_TCK")


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return vals[7], sum(vals)


def descendants(pid: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for p in os.listdir("/proc"):
        if p.isdigit():
            try:
                with open(f"/proc/{p}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
            kids.setdefault(ppid, []).append(int(p))
    out, todo = [], [pid]
    while todo:
        for k in kids.get(todo.pop(), []):
            out.append(k)
            todo.append(k)
    return out


def vm_hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for ln in f:
                if ln.startswith("VmHWM:"):
                    return int(ln.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


class OpRunner:
    """Runs one op under its own job group and times it; with a tracer,
    records the op, query-function and action spans and the post-op
    probes (storage in use, merge input rows)."""

    def __init__(self, spark, tracer=None):
        self.spark, self.tracer = spark, tracer

    def _storage_mb(self) -> float:
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return sum(i.memSize() + i.diskSize() for i in infos) / (1024.0 * 1024.0)

    def run(self, op_id: str, name: str, build, action):
        from tracing import PROBE_GROUP

        sc, tr = self.spark.sparkContext, self.tracer
        sc.setJobGroup(op_id, name)
        rec = {"id": op_id, "name": name, "ok": True, "error": None}
        result = None
        if tr is not None:
            tr.op = op_id
        t0 = time.time()
        ta = t0
        try:
            if tr is None:
                df = build()
                ta = time.time()
                result = action(df)
            else:
                with tr.span("op"):
                    with tr.span("plans.query_fn"):
                        df = build()
                    ta = time.time()
                    with tr.span("plans.action"):
                        result = action(df)
        except Exception as e:  # an op failure is counted, never fatal
            rec.update(ok=False, error=f"{type(e).__name__}: {str(e)[:300]}")
            traceback.print_exc(file=sys.stderr)
        t1 = time.time()
        rec.update(start=t0, end=t1, latency=t1 - t0, query_fn_s=ta - t0,
                   action_s=t1 - ta, action_start=ta)
        if tr is not None:
            tr.op = None
            rec["storage_mb"] = self._storage_mb()
            sc.setJobGroup(PROBE_GROUP, "probe")
            rec["rows_in_new"] = sum(new.count() for (o, new, _) in tr.merges if o == op_id)
        sc.setJobGroup(op_id + "-cleanup", "cleanup")
        return rec, result


def setup(workload, timings: dict):
    """The set-up: import the entry module, build the session (package
    shipping runs inside ``tune``), clear this seed's ``/tmp`` staging
    and run the warm-up round.  Returns the session."""
    t0 = time.time()
    sys.path.insert(0, ROOT)
    entry = importlib.import_module("__spark_entry__")
    queries, oracles = entry.queries(), entry.oracle_sql()
    t1 = time.time()
    from fxblue_etl_spark.session import get_spark

    spark = get_spark("perfbench")
    t2 = time.time()
    clean_tmp_staging(workload.tag)
    workload.bind(spark, queries, oracles)
    workload.warmup()
    t3 = time.time()
    timings["entry.import_s"] = t1 - t0
    timings["session.get_spark_s"] = t2 - t1
    return spark


def stop_jvm(spark) -> None:
    """Stop the session, then the gateway JVM and its Python workers,
    waiting for each process to end."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass
    for pid in descendants(os.getpid()):
        try:
            os.waitpid(pid, 0)
        except ChildProcessError:
            pass


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    t_proc = process_start()

    if not os.path.isfile(os.path.join(ROOT, "__spark_entry__.py")):
        print(f"no program at {ROOT}: __spark_entry__.py is missing", file=sys.stderr)
        return 2
    from workloads import WORKLOADS

    if a.workload not in WORKLOADS:
        print(f"unknown workload {a.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    tag = tag_for(a.seed)
    work = os.path.join(ROOT, ".perfbench_work", f"{a.workload}-{tag}-t{a.trace}")
    shutil.rmtree(work, ignore_errors=True)
    tmp_before = set(os.listdir("/tmp"))
    clean_tmp_staging(tag)
    ctx = pin_env(work, bool(a.trace))
    workload = WORKLOADS[a.workload](tag, work, a.seed)

    t_gen0 = time.time()
    workload.prepare()
    gen_s = time.time() - t_gen0

    timings: dict[str, float] = {}
    spark = setup(workload, timings)
    # process start to the first timed op, input generation excluded
    timings["setup_s"] = time.time() - t_proc - gen_s
    from fxblue_etl_spark.io import drain_all

    drain_all(spark)

    tracer = None
    if a.trace:
        from tracing import Tracer

        tracer = Tracer()
        tracer.install()
    runner = OpRunner(spark, tracer)

    ops: list[dict] = []
    round_lat: list[list[float]] = []
    failures: list[str] = []
    timed = 0.0
    steal0, jif0 = cpu_jiffies()
    rnd = 0
    while True:
        batch = workload.round(rnd)
        r0 = time.time()
        done = []
        for j, (name, build, action, check) in enumerate(batch):
            rec, result = runner.run(f"r{rnd}o{j}-{name}", name, build, action)
            drain_all(spark)
            done.append((rec, result, check))
        timed += time.time() - r0
        round_lat.append([rec["latency"] for rec, _, _ in done])
        for rec, result, check in done:  # outside the timed span
            msg = check(result) if (rec["ok"] and check is not None) else None
            if msg:
                rec.update(ok=False, error=f"oracle mismatch: {msg}")
            if not rec["ok"]:
                failures.append(f"{rec['id']}: {rec['error']}")
            ops.append(rec)
        workload.end_round(rnd)
        rnd += 1
        if timed >= a.seconds and rnd >= MIN_ROUNDS:
            break
    steal1, jif1 = cpu_jiffies()

    jvm = getattr(spark.sparkContext._gateway, "proc", None)
    peak_rss = 0.0
    if jvm is not None:
        peak_rss = sum(vm_hwm_mb(p) for p in [jvm.pid, *descendants(jvm.pid)])
    if tracer is not None:
        tracer.restore()
    stop_jvm(spark)

    lat = [o["latency"] for o in ops]
    per_kind = {k: stats.median([o["latency"] for o in ops if o["name"] == k])
                for k in workload.ops if any(o["name"] == k for o in ops)}
    context = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace, **ctx,
        "loadavg_1m": os.getloadavg()[0],
        "steal_share": (steal1 - steal0) / (jif1 - jif0) if jif1 > jif0 else 0.0,
        "rounds": rnd, "timed_s": timed, "input_gen_s": gen_s, "setup_split_s": timings,
        "tail_rule": "median over rounds of the round's slowest op", "tail_n": len(ops),
        "op_kind_p50_s": per_kind,
        "failed_op_ratio": len(failures) / len(ops),
        "failed_ops": failures,
    }
    if workload.rows_per_round:  # input rows merged, per second of timed wall time
        context["rows_per_s"] = rnd * workload.rows_per_round / timed
    if a.trace:
        values = traced_metrics(work, ops, tracer, timings, context, a)
        # figures structurally zero on a listed workload stay out of
        # BENCHMARK.json (a time that reads the same on every run is
        # refused there); the traced run still reports them here
        context["per_layer_extra"] = {
            k: v for k, v in values.items() if k not in metric_units(True)}
    else:
        values = {
            "setup_s": timings["setup_s"],
            "op_p50_s": stats.median(lat),
            "op_tail_s": stats.tail(round_lat),
            "ops_per_s": sum(o["ok"] for o in ops) / timed,
            "peak_rss_mb": peak_rss,
        }
    metrics = with_units(values, metric_units(bool(a.trace)))
    record = {"context": context, "ops": ops, "metrics": metrics}
    with open(os.path.join(work, "record.json"), "w") as f:
        json.dump(record, f, default=str)
    for d in ("inputs", "eventlog", "spark-local", "tmp"):
        shutil.rmtree(os.path.join(work, d), ignore_errors=True)
    clean_tmp_staging(tag, tmp_before)
    for msg in failures:
        print(f"FAILED {msg}", file=sys.stderr)
    print(json.dumps({"context": context}, default=str))
    print(json.dumps({
        "correct": not failures, "attempted": len(ops), "failed": len(failures),
        "metrics": metrics,
    }))
    return 0


def traced_metrics(work: str, ops: list[dict], tracer, timings: dict, context: dict, a) -> dict:
    """Per-layer figures of a traced run; writes the span file."""
    import tracing as tr

    jobs, batches = tr.parse_events(tr.read_event_logs(os.path.join(work, "eventlog")))
    by_op = tr.assign_jobs(ops, jobs)
    for o in ops:  # rows a merge wrote = output records of the op's jobs
        o["rows_out"] = (sum(j["output_records"] for j in by_op[o["id"]])
                         if o.get("rows_in_new") else 0)
    summary, rows = tr.layer_summary(ops, [vars(s) for s in tracer.spans], jobs, batches)
    summary["session.get_spark_s"] = timings["session.get_spark_s"]
    summary["entry.import_s"] = timings["entry.import_s"]
    summary["trace.op_p50_s"] = stats.median([o["latency"] for o in ops])
    spans_path = os.path.join(ROOT, ".perfbench_work", f"spans-{a.workload}-{tag_for(a.seed)}.json")
    with open(spans_path, "w") as f:
        json.dump({"ops": ops, "per_op_layers": rows,
                   "spans": tr.span_records(tracer, ops, jobs)}, f, default=str)
    context["span_file"] = os.path.relpath(spans_path, ROOT)
    untraced = os.path.join(ROOT, ".perfbench_work",
                            f"{a.workload}-{tag_for(a.seed)}-t0", "record.json")
    if os.path.exists(untraced):
        with open(untraced) as f:
            base = json.load(f)["metrics"]["op_p50_s"]["value"]
        context["tracing_overhead_s"] = summary["trace.op_p50_s"] - base
    return summary


if __name__ == "__main__":
    sys.exit(main())
