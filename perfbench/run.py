#!/usr/bin/env python3
"""Benchmark of record for the parconnect_spark engine.

Run from the repository root:

    python3 perfbench/run.py --workload transcripts --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 20 --trace 1

One run of one workload, in a fresh process:

1. generates the workload's inputs from ``--seed`` and computes their
   oracle (both cached under ``.perfbench_work/inputs``);
2. set-up (``setup_s``): starts a Spark session on ``local[<cpus>]`` with
   fixed shuffle partitions and warms it up with one full job on a small
   input generated from the same seed;
3. runs jobs back to back (a closed loop, one client) for ``--seconds``,
   at least one, and checks every job's outputs against the oracle outside
   the timed window. The report is the median over the jobs; the CPU
   share the hypervisor stole during each job is printed beside it.

The last line of stdout is one JSON object with ``correct``, ``attempted``,
``failed`` (analytics calls that raised or failed their check) and
``metrics``: the end-to-end metrics with ``--trace 0``; with ``--trace 1``
the per-layer metrics of traced jobs, which alternate with untraced ones so
that the tracing overhead is measured in the same run, and every span is
written to ``.perfbench_work/spans``. ``--workload all`` runs each workload
in its own process and prints every metric per workload.

Exit code 0: every output correct; 1: some output wrong or a call raised;
2: the engine or a dependency is missing (no result is printed).
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import pickle
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

RUN_SECONDS = 10
WORKLOAD_NAMES = ["transcripts", "debruijn"]
SHUFFLE_PARTITIONS = 4
DRIVER_MEMORY = "2g"
#: stop starting jobs this long after process start, so a run on a slow
#: host still exits well inside its time limit
DEADLINE_S = 140

T_PROCESS = time.perf_counter()


def _phase(what: str) -> None:
    print(f"perfbench: {time.perf_counter() - T_PROCESS:6.1f} s {what}", file=sys.stderr)


def _median(xs):
    return statistics.median(xs) if xs else 0.0


# ------------------------------------------------------------------ host


def _cpu_jiffies() -> tuple[int, int]:
    """(total, steal) jiffies from /proc/stat's aggregate cpu line."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return sum(fields[:8]), fields[7]


def _steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Share of CPU time the hypervisor stole between two _cpu_jiffies()."""
    return 100.0 * (after[1] - before[1]) / max(after[0] - before[0], 1)


def _loadavg1() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


# --------------------------------------------------------------- session


def _prepare_env(cpus: int) -> dict:
    """Process-wide settings that must precede the first pyspark import:
    the engine importable by Spark's Python workers, and every scratch
    directory inside the checkout."""
    dirs = {k: os.path.join(WORK, k) for k in ("tmp", "spark-local", "runs", "spans", "inputs")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = os.pathsep.join([ROOT, HERE] + ([path] if path else []))
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = dirs["tmp"]
    os.environ["SPARK_LOCAL_DIRS"] = dirs["spark-local"]
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
    return dirs


def _start_session(cpus: int, dirs: dict, trace: bool):
    from parconnect_spark import get_spark

    # a traced run keeps every job's stage data for span attribution
    retain = {"spark.ui.retainedJobs": "100000", "spark.ui.retainedStages": "100000"}
    return get_spark(
        app_name="perfbench",
        master=f"local[{cpus}]",
        shuffle_partitions=SHUFFLE_PARTITIONS,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": dirs["spark-local"],
            # a fixed-size heap keeps the collector's sizing out of the timings
            "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEMORY} -Djava.io.tmpdir={dirs['tmp']}",
            **(retain if trace else {}),
        },
    )


def _jvm_proc():
    from pyspark import SparkContext

    return getattr(SparkContext._gateway, "proc", None)


def _shutdown(spark) -> None:
    """Stop the session and the driver JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    proc = _jvm_proc()
    spark.stop()
    if SparkContext._gateway is not None:
        SparkContext._gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


# ---------------------------------------------------------------- inputs


def _inputs(wl, seed: int, sizes: dict, threads: int, dirs: dict, with_oracle=True) -> tuple[str, dict]:
    """Generate (or reuse) the inputs and oracle of (workload, sizes, seed)."""
    key = "-".join([wl.name] + [f"{k}{v}" for k, v in sorted(sizes.items())] + [f"s{seed}"])
    d = os.path.join(dirs["inputs"], key)
    done = os.path.join(d, "oracle.pkl")
    if os.path.exists(done):
        with open(done, "rb") as f:
            return d, pickle.load(f)
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    wl.generate(d, seed, sizes)
    o = wl.make_oracle(d, sizes, threads) if with_oracle else {}
    with open(done + ".tmp", "wb") as f:
        pickle.dump(o, f)
    os.rename(done + ".tmp", done)
    return d, o


# ----------------------------------------------------------------- layers


def _layer_metrics(spans, cpus: int) -> dict:
    """Per-layer metrics of one traced job."""
    from catalog import LAYER_COUNTS, SPANS
    from spans import SPAN_COUNTERS, inclusive, self_seconds

    out = {}
    for name in SPANS[1:]:  # the session span belongs to set-up
        mine = [s for s in spans if s.name == name]
        tot = dict.fromkeys(SPAN_COUNTERS, 0.0)
        for s in mine:
            for k, v in inclusive(s, spans).items():
                tot[k] += v
        sec = sum(s.seconds for s in mine)
        out[f"{name}.s"] = sec
        out[f"{name}.self_s"] = sum(self_seconds(s, spans) for s in mine)
        out.update({f"{name}.{k}": v for k, v in tot.items()})
        out[f"{name}.core_util"] = tot["task_s"] / (sec * cpus) if sec else 0.0
    for metric, _, _, src in LAYER_COUNTS:
        if src:
            span, key = src
            out[metric] = sum(s.counts.get(key, 0) for s in spans if s.name == span)
    steps = out["cc.supersteps"]
    out["cc.jobs_per_superstep"] = out["cc.jobs"] / steps if steps else 0.0
    return out


# -------------------------------------------------------------------- run


def _counters(spark) -> tuple[int, int]:
    """(shuffle bytes written, heap bytes allocated) by the session so far.
    The shuffle total is read once every finished task's metrics have
    reached the status store. With a local master the tasks run in the
    driver JVM, so its allocation counter covers them: heap allocated per
    job is the memory the engine's plans ask for (broadcast relations,
    hash-join and aggregation tables, sort buffers), while the heap's peak
    occupancy is set by when the collector runs."""
    from parconnect_spark.streaming import shuffle_totals

    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    threads = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getThreadMXBean()
    return shuffle_totals(spark)[1], threads.getTotalThreadAllocatedBytes()


def _measure(spark, wl, inp: str, o: dict, args, cpus: int, work: str):
    """Run jobs back to back; check each outside its timed window.
    Returns (per-job records, calls attempted, calls failed, tracer)."""
    from spans import JvmTracer, Tracer

    clock = Tracer()
    jvm = JvmTracer(spark) if args.trace else None
    records, attempted, failed = [], 0, 0
    t_stop = time.perf_counter() + args.seconds
    min_jobs = 2 if args.trace else 1
    n = 0

    while (n < min_jobs or time.perf_counter() < t_stop) and (
        time.perf_counter() - T_PROCESS < DEADLINE_S
    ):
        n += 1
        # a traced run alternates untraced and traced jobs, starting
        # untraced, so that the tracing overhead is measured in one process
        traced = bool(args.trace) and n % 2 == 0
        tr = jvm if traced else clock
        tr.start_job(n)
        attempted += len(wl.calls)
        try:
            (sh0, al0), cpu0 = _counters(spark), _cpu_jiffies()
            t0 = time.perf_counter()
            job = wl.job(spark, inp, tr, work)
            job_s = time.perf_counter() - t0
            (sh1, al1), cpu1 = _counters(spark), _cpu_jiffies()
            if traced:
                jvm.collect(n)
            errs = wl.check(o, job.collect())
            job.release(spark)
        except Exception:
            traceback.print_exc()
            failed += len(wl.calls)
            break
        _phase(f"job {n} done and checked")
        failed += sum(1 for e in errs.values() if e)
        for call, msgs in errs.items():
            for m in msgs:
                print(f"perfbench: job {n} {call}: {m}", file=sys.stderr)
        spans = tr.job_spans(n)
        steal = _steal_pct(cpu0, cpu1)
        print(f"job {n}{' traced' if traced else ''}: {job_s:.2f} s = "
              + " + ".join(f"{s.name} {s.seconds:.2f}" for s in spans if s.parent is None)
              + f" (host steal {steal:.1f}%)",
              file=sys.stderr)
        records.append(
            {
                "job": n,
                "traced": traced,
                "job_s": job_s,
                "steal_pct": steal,
                "edge_rows": job.edge_rows,
                "shuffle_mb": (sh1 - sh0) / 1e6,
                "heap_alloc_mb": (al1 - al0) / 1e6,
                "cc_s": sum(s.seconds for s in spans if s.name == wl.cc_span),
                "layers": _layer_metrics(spans, cpus) if traced else None,
            }
        )
    return records, attempted, failed, jvm


def run_one(args) -> int:
    sys.path.insert(0, ROOT)
    missing = [
        m for m in ("parconnect_spark", "pyspark", "duckdb", "numpy", "pyarrow", "pandas")
        if importlib.util.find_spec(m) is None
    ]
    if missing:
        print(f"perfbench: cannot import {', '.join(missing)} from {ROOT}", file=sys.stderr)
        return 2
    cpus = len(os.sched_getaffinity(0))
    dirs = _prepare_env(cpus)

    import catalog
    from spans import Tracer
    from workloads import WORKLOADS

    wl = WORKLOADS[args.workload]
    load0, cpu0 = _loadavg1(), _cpu_jiffies()
    inp, o = _inputs(wl, args.seed, wl.sizes, cpus, dirs)
    warm_inp, _ = _inputs(wl, args.seed, wl.warmup, cpus, dirs, with_oracle=False)
    _phase("inputs and oracle ready")
    work = os.path.join(dirs["runs"], str(os.getpid()))

    # set-up: JVM and session start, then one full job on a small warm-up
    # input so that code paths are compiled before timing. Done once: a
    # second set-up would cost as much as a measured job.
    setup = Tracer()
    spark = None
    try:
        t0 = time.perf_counter()
        with setup.span("session"):
            spark = _start_session(cpus, dirs, bool(args.trace))
        wl.job(spark, warm_inp, Tracer(), work).release(spark)
        setup_s = time.perf_counter() - t0
        _phase("set-up done")
        records, attempted, failed, jvm = _measure(spark, wl, inp, o, args, cpus, work)
    finally:
        if spark is not None:
            _shutdown(spark)
        shutil.rmtree(work, ignore_errors=True)
    _phase("JVM stopped")
    host = {
        "loadavg1_start": load0,
        "loadavg1_end": _loadavg1(),
        "steal_pct": _steal_pct(cpu0, _cpu_jiffies()),
    }
    print(
        f"host: cpus={cpus} loadavg1 start={host['loadavg1_start']:.2f} "
        f"end={host['loadavg1_end']:.2f} steal={host['steal_pct']:.2f}%"
    )

    plain = [r for r in records if not r["traced"]]
    session_s = setup.spans[0].seconds
    if args.trace:
        traced_jobs = [r for r in records if r["traced"]]
        layer_keys = traced_jobs[0]["layers"].keys() if traced_jobs else ()
        values = {k: _median([r["layers"][k] for r in traced_jobs]) for k in layer_keys}
        values["session.s"] = values["session.self_s"] = session_s
        values["trace.overhead_s"] = _median([r["job_s"] for r in traced_jobs]) - _median(
            [r["job_s"] for r in plain]
        )
        values["host.loadavg1"] = max(host["loadavg1_start"], host["loadavg1_end"])
        values["host.steal_pct"] = host["steal_pct"]
        defs = catalog.per_layer()
        path = os.path.join(
            dirs["spans"], f"{wl.name}-seed{args.seed}-{time.strftime('%Y%m%dT%H%M%S')}.json"
        )
        with open(path, "w") as f:
            json.dump(
                {
                    "workload": wl.name,
                    "seed": args.seed,
                    "sizes": wl.sizes,
                    "host": host,
                    "jobs": [{k: v for k, v in r.items() if k != "layers"} for r in records],
                    "targets": {n: catalog.target(n) for n, _, _ in defs},
                    "spans": setup.to_json() + jvm.to_json(),
                },
                f,
                indent=1,
            )
        print(f"spans: {path}")
    else:
        values = {
            "job_s": _median([r["job_s"] for r in plain]),
            "edges_per_s": _median([r["edge_rows"] / r["job_s"] for r in plain]),
            "cc_s": _median([r["cc_s"] for r in plain]),
            "setup_s": setup_s,
            "heap_alloc_mb": _median([r["heap_alloc_mb"] for r in plain]),
            "shuffle_mb": _median([r["shuffle_mb"] for r in plain]),
        }
        defs = [(n, u, b) for n, u, b, _ in catalog.END_TO_END]

    # a layer the workload does not run reports 0
    metrics = {n: {"value": values.get(n, 0.0), "unit": u} for n, u, _ in defs}
    print(f"{wl.name}: jobs {[r['job'] for r in plain]} of {len(records)} reported, "
          f"session start {session_s:.2f} s, set-up {setup_s:.2f} s")
    for name, m in metrics.items():
        print(f"{wl.name} {name} = {m['value']:.6g} {m['unit']}")
    correct = failed == 0 and attempted > 0
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


def run_all(args) -> int:
    """Each workload in a fresh process; prints every metric per workload."""
    merged = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    rc = 0
    for name in WORKLOAD_NAMES:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace)]
        res = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        lines = res.stdout.strip().splitlines()
        print("\n".join(lines[:-1]), flush=True)
        rc = max(rc, res.returncode)
        if res.returncode == 2 or not lines:
            return 2
        one = json.loads(lines[-1])
        merged["correct"] &= one["correct"]
        merged["attempted"] += one["attempted"]
        merged["failed"] += one["failed"]
        merged["metrics"].update({f"{name}.{k}": v for k, v in one["metrics"].items()})
    print(json.dumps(merged))
    return rc


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", choices=WORKLOAD_NAMES + ["all"], required=True)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=RUN_SECONDS)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args()
    return run_all(args) if args.workload == "all" else run_one(args)


if __name__ == "__main__":
    sys.exit(main())
