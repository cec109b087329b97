"""Benchmark of the engine: SSE landing and a batch mix of registry ops.

    python3 perfbench/run.py --workload batch_mix --seed 1 --seconds 24 --trace 0

Run from the root of a source checkout.  The run generates its inputs from
`--seed` under `.perfbench/` in the checkout, starts the measured process
(`workload.py`), checks every result it produced, and prints one JSON object
as its last stdout line:

    {"correct": true, "attempted": 16, "failed": 0, "metrics": {...}}

`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer
metrics, taken in a separate run with spans, a progress listener, job
counting and the Spark event log on.  Spans are kept in
`.perfbench/traces/<workload>-seed<seed>.json`.  Layers a workload bypasses
report 0.

Workloads (BENCHMARK.json says why each was chosen):
  sse_land   open loop: a generator process paces seeded recentchange
             events (~760 B) at 10k ev/s into `land_sse_to_parquet` for a
             third of `--seconds`, then sends at least four unpaced bursts
             of 80k events, each 50 ms after a trigger boundary.  The run is
             invalid (exit 1) if the generator's p99 lateness behind its
             paced schedule exceeds a tenth of the 500 ms trigger.
  batch_mix  closed loop, one client: the events SQL ops over a seeded
             sf0.01 events/star fixture, then the LLM corpus ops over seeded
             sf0.1 documents/embeddings, after one untimed pass.

End-to-end metrics, each defined for every workload:
  setup_s        process start to first result: Spark session, registry,
                 source registration, then the first op result (batch_mix)
                 or the first landed micro-batch (sse_land).
  pass_s         median wall time of one unit of work: a full mix pass
                 (batch_mix), or landing one burst, from its first send to
                 the commit of the micro-batch holding its last event.
  latency_gmean_s  geometric mean latency, and its p99: of an op, from its
  latency_p99_s    call to its consumed result (batch_mix); of an event,
                   from its scheduled send time to the commit of its
                   micro-batch (sse_land, paced phase).  The geometric mean
                   stands in for the p50, which over 16 ops of 0.15-6 s
                   jumps between neighbouring ops (spread 0.3 over 5 runs).
Tracing overhead is the traced run's `trace.pass_s` / `trace.latency_gmean_s`
minus the untraced run's `pass_s` / `latency_gmean_s` on the same seed.
"""

from __future__ import annotations

import argparse
import contextlib
import glob
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import numpy as np

from check import count_op_failures, id_failures, oracle_hashes
from workload import MAX_LATE_S, MIX, epoch_of, gmean, pct

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("sse_land", "batch_mix")
# batch_mix fixture, as tools/gen_fixture.py runs: every table at sf0.01,
# then the LLM corpus tables again at sf0.1 (5k documents, 2k embeddings).
# At sf0.1 the events ops alone take ~45 s a pass on a 4-core host.
FIXTURE = ((0.01, None), (0.1, "documents"), (0.1, "embeddings"))
CHILD_TIMEOUT_S = 165


def child_env(root: str, work: str, trace: bool) -> dict:
    env = dict(os.environ)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    submit = ["--conf", "spark.ui.showConsoleProgress=false"]
    if trace:
        logdir = os.path.join(work, "eventlog")
        os.makedirs(logdir)
        submit += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{logdir}",
            "--conf", "spark.eventLog.compress=false",
            "--conf", "spark.eventLog.rolling.enabled=false",
        ]
    env.update(
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=tmp,
        # keep the JVM's files in the checkout: native libraries unpack into
        # its temp dir, and its perf counters would be mapped from /tmp
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:+PerfDisableSharedMem",
        # the Python workers of the `sse` data source import the package
        PYTHONPATH=os.pathsep.join(filter(None, [root, env.get("PYTHONPATH")])),
        PYSPARK_SUBMIT_ARGS=" ".join(submit + ["pyspark-shell"]),
    )
    return env


def event_log_totals(work: str, windows: list[tuple[str, int, int]]):
    """Reduce the Spark event log to per-window stage totals.  `windows`
    are (key, first job id, end job id); returns key -> totals."""
    (path,) = glob.glob(os.path.join(work, "eventlog", "*"))
    stage_job: dict[int, int] = {}
    job_stats: dict[int, dict] = {}
    with open(path) as f:
        for line in f:
            if line.startswith('{"Event":"SparkListenerJobStart"'):
                ev = json.loads(line)
                for sid in ev["Stage IDs"]:
                    stage_job.setdefault(sid, ev["Job ID"])
            elif line.startswith('{"Event":"SparkListenerTaskEnd"'):
                ev = json.loads(line)
                m = ev.get("Task Metrics") or {}
                job = stage_job.get(ev["Stage ID"])
                s = job_stats.setdefault(job, {"task_s": 0.0, "shuffle_bytes": 0, "spill_bytes": 0})
                s["task_s"] += m.get("Executor Run Time", 0) / 1000
                s["shuffle_bytes"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                s["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
    out = {}
    for key, j0, j1 in windows:
        tot = out.setdefault(key, {"task_s": 0.0, "shuffle_bytes": 0, "spill_bytes": 0})
        for job in range(j0, j1):
            for k, v in job_stats.get(job, {}).items():
                tot[k] += v
    return out


def batch_metrics(res: dict, trace: bool, work: str) -> dict:
    lat = [r["construct_s"] + r["execute_s"]
           for recs in res["ops"].values() for r in recs if "construct_s" in r]
    e2e = {
        "setup_s": res["setup_s"],
        "pass_s": statistics.median(res["passes"]),
        "latency_gmean_s": gmean(lat),
        "latency_p99_s": pct(lat, 99),
    }
    if not trace:
        return e2e
    m = {}
    n_pass = len(res["passes"])
    windows = [(f"{op}#{i}", r["job0"], r["job1"])
               for op, recs in res["ops"].items() for i, r in enumerate(recs)]
    totals = event_log_totals(work, windows)
    for op, recs in res["ops"].items():
        med = lambda f: statistics.median(f(r) for r in recs)
        m[f"op.{op}.construct_s"] = med(lambda r: r.get("construct_s", 0.0))
        m[f"op.{op}.execute_s"] = med(lambda r: r.get("execute_s", 0.0))
        m[f"op.{op}.jobs"] = med(lambda r: r["job1"] - r["job0"])
        t = [totals[f"{op}#{i}"] for i in range(len(recs))]
        m[f"op.{op}.task_s"] = statistics.median(x["task_s"] for x in t)
        m[f"op.{op}.shuffle_bytes"] = statistics.median(x["shuffle_bytes"] for x in t)
        if op.startswith("s_"):
            progress = [p for p in res["progress"] for r in recs
                        if r["start"] <= epoch_of(p["timestamp"]) <= r["end"]]
            state = [sum(s.get("numRowsTotal", 0) for s in p["stateOperators"]) for p in progress]
            mem = [sum(s.get("memoryUsedBytes", 0) for s in p["stateOperators"]) for p in progress]
            trig = [p["durationMs"]["triggerExecution"] for p in progress]
            m[f"stream.{op}.trigger_ms_p50"] = pct(trig, 50)
            m[f"stream.{op}.state_rows_max"] = max(state, default=0)
            m[f"stream.{op}.state_mem_bytes_max"] = max(mem, default=0)
    per_pass = [sum(recs[i].get("persisted", 0) for recs in res["ops"].values())
                for i in range(n_pass)]
    m["persisted_rdds_left"] = statistics.median(per_pass)
    m["spill_bytes"] = sum(x["spill_bytes"] for x in totals.values()) / n_pass
    m["trace.pass_s"] = e2e["pass_s"]
    m["trace.latency_gmean_s"] = e2e["latency_gmean_s"]
    return m


def sse_metrics(res: dict, trace: bool, lost: int) -> dict:
    pass_s = statistics.median(res["burst_s"])
    e2e = {
        "setup_s": res["setup_s"],
        "pass_s": pass_s,
        "latency_gmean_s": res["latency_gmean_s"],
        "latency_p99_s": res["latency_p99_s"],
    }
    if not trace:
        return e2e
    m = dict(res["layers"])
    m.update({
        "sse_wire.parse_ev_s": res["parse_ev_s"],
        "sse_client.ev_s": res["client_ev_s"],
        # connections the landing stream opened: Spark opens more than one
        # reader per run even with no fault, so this is not a reconnect count
        "sse_client.connections": res["connections"],
        "landing.events_lost": lost,
        "gen.late_p99_s": res["gen_late_p99_s"],
        "trace.pass_s": e2e["pass_s"],
        "trace.latency_gmean_s": e2e["latency_gmean_s"],
    })
    return m


def layer_workload(name: str) -> str | None:
    """The workload whose layer a per-layer metric measures; None for the
    metrics every run reports."""
    if name.split(".")[0] in ("sse_wire", "sse_client", "sse_reader", "landing", "gen"):
        return "sse_land"
    if name.split(".")[0] in ("op", "stream") or name in ("persisted_rdds_left", "spill_bytes"):
        return "batch_mix"
    return None


def metric_units(trace: bool) -> dict[str, str]:
    """Name -> unit of the metrics a run reports, from BENCHMARK.json."""
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # on SIGTERM, unwind through the cleanup below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = os.getcwd()
    for need in ("kafka_connect_sse_spark", "tools/gen_fixture.py", "tools/check_correctness.py"):
        if not os.path.exists(os.path.join(root, need)):
            print(f"not a source checkout: {need} is missing", file=sys.stderr)
            return 2
    sys.path.insert(0, root)

    t_run = time.time()
    base = os.path.join(root, ".perfbench")
    work = os.path.join(base, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        data = None
        if args.workload == "batch_mix":
            data = os.path.join(work, "data")
            for sf, only in FIXTURE:
                subprocess.run(
                    [sys.executable, os.path.join(root, "tools", "gen_fixture.py"),
                     "--sf", str(sf), "--seed", str(args.seed), "--out", data]
                    + (["--only", only] if only else []),
                    check=True, stdout=subprocess.DEVNULL,
                )
        t_child = time.time()
        cmd = [sys.executable, os.path.join(HERE, "workload.py"),
               "--workload", args.workload, "--work", work, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace)]
        if data:
            cmd += ["--data", data]
        log_path = os.path.join(work, "workload.log")
        with open(log_path, "w") as log:
            # own process group: on timeout the JVM and the generator go too
            child = subprocess.Popen(
                cmd, cwd=work, env=child_env(root, work, bool(args.trace)),
                stdout=subprocess.PIPE, stderr=log, text=True, start_new_session=True,
            )
            try:
                stdout, _ = child.communicate(timeout=CHILD_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                print(f"workload process killed after {CHILD_TIMEOUT_S}s", file=sys.stderr)
                return 1
            finally:
                with contextlib.suppress(ProcessLookupError):
                    os.killpg(child.pid, signal.SIGKILL)
                child.wait()
        with open(log_path) as f:
            log_text = f.read()
        sys.stderr.write("".join(l for l in log_text.splitlines(True) if l.startswith("pass ")))
        if child.returncode != 0:
            sys.stderr.write(log_text[-6000:])
            print(f"workload process exited with {child.returncode}", file=sys.stderr)
            return 1
        res = json.loads(stdout.strip().splitlines()[-1])
        t_check = time.time()

        if args.workload == "sse_land":
            print("bursts: " + " ".join(f"{b:.3f}" for b in res["burst_s"])
                  + f" s, steal {res['steal_pct']:.1f}%", file=sys.stderr)
            if res["gen_late_p99_s"] > MAX_LATE_S:
                # latency is taken from each event's scheduled send time, so
                # a late generator would be charged to the program
                print(f"run invalid: the SSE generator ran {res['gen_late_p99_s']:.3f} s "
                      f"behind its schedule at p99 (limit {MAX_LATE_S} s)", file=sys.stderr)
                return 1
            ids = id_failures(np.load(os.path.join(work, "landed_ids.npy")), res["sent"])
            attempted, failed = res["sent"], sum(ids.values())
            metrics = sse_metrics(res, bool(args.trace), ids["missing"])
        else:
            for op, recs in res["ops"].items():
                times = " ".join(f"{r.get('construct_s', 0) + r.get('execute_s', 0):.3f}" for r in recs)
                print(f"{op}: {times} s", file=sys.stderr)
            attempted, failed, bad = count_op_failures(res["ops"], oracle_hashes(data, MIX))
            if bad:
                print(f"ops with wrong or failed results: {' '.join(bad)}", file=sys.stderr)
            metrics = batch_metrics(res, bool(args.trace), work)
        print(f"wall: inputs {t_child - t_run:.1f} s, workload {t_check - t_child:.1f} s, "
              f"checks {time.time() - t_check:.1f} s", file=sys.stderr)
        if args.trace:
            metrics["error_rate"] = failed / attempted
            metrics["peak_rss_mb"] = res["peak_rss_mb"]
            metrics["host.steal_pct"] = res["steal_pct"]
        units = metric_units(bool(args.trace))
        expected = {n for n in units if layer_workload(n) in (None, args.workload)}
        if set(metrics) != expected:
            raise KeyError(f"metrics not measured: {sorted(expected - set(metrics))}; "
                           f"not in BENCHMARK.json: {sorted(set(metrics) - expected)}")
        # only the layers this workload bypasses report 0: no work was done there
        metrics = {name: metrics.get(name, 0) for name in units}
        if args.trace:
            traces = os.path.join(base, "traces")
            os.makedirs(traces, exist_ok=True)
            shutil.move(os.path.join(work, "spans.json"),
                        os.path.join(traces, f"{args.workload}-seed{args.seed}.json"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
