"""Benchmark of the air-quality ETL engine: one seeded, closed-loop
workload per run, measured from outside the program.

Run from the repository root:

    python3 perfbench/run.py --workload aq_etl --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --smoke      # every workload once, tiny inputs

A run sets up (session start, seeded inputs, one discarded warm-up
pass), then runs passes of the workload until ``--seconds`` have
elapsed and at least three untraced passes are done, then checks every
output it produced. The last line of standard output is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics``. With
``--trace 0`` the metrics are the end-to-end metrics of
``BENCHMARK.json``; with ``--trace 1`` they are the per-layer metrics,
from passes that alternate untraced and traced.
The exit code is 0 only when every operation succeeded and every
output matched its check.

A fuller record (host, versions, seed, row counts, every metric) and
the spans of a traced run are written under ``.bench_work/records``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import platform
import re
import resource
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
PACKAGE = "calidad_del_aire_etl_spark"
# The fewest untraced passes a run measures, however many fit in
# --seconds. On a shared VM a pass now and then runs up to 1.8x as long
# as its neighbours, while the hypervisor gives CPU time to other
# guests; the median of three passes leaves one such pass out.
MIN_PASSES = 3
LOG_LINE = re.compile(r"\s(ERROR|WARN)\s")

WORKLOAD_NAMES = ["aq_etl", "dash_refresh"]
END_TO_END = ["setup_s", "pass_s", "op_p50_s", "op_p90_s", "peak_rss_mb"]
PASS_LAYERS = [
    "registry.load_s", "registry.load_jobs", "queries.construct_s", "spark.construct_jobs",
    "spark.plan_s", "spark.jobs", "spark.stages", "spark.tasks", "spark.driver_gap_s",
    "spark.executor_run_s", "spark.executor_cpu_s", "spark.shuffle_read_bytes",
    "spark.shuffle_write_bytes", "spark.slot_util", "spark.spill_bytes", "spark.gc_s",
    "spark.failed_tasks",
    *[f"plans.{t}.{m}" for t in ("extract", "transform", "load", "validate")
      for m in ("wall_s", "jobs", "executor_run_s")],
    "orchestrator.overhead_s", "orchestrator.retries", "sinks.bytes_written",
    "sinks.files_written",
]
RUN_LAYERS = ["session.start_s", "trace.overhead_s", "log.error_lines", "log.warn_lines",
              "failed_frac", "op_samples"]


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--shape", choices=["full", "smoke"], default="full")
    ap.add_argument("--smoke", action="store_true",
                    help="run every workload once on tiny inputs, traced and untraced, "
                         "and check that every metric of BENCHMARK.json is reported")
    args = ap.parse_args(argv)
    if not args.smoke and args.workload is None:
        ap.error("--workload is required")
    return args


def fit_host(root: str, work: str) -> dict:
    """Pin the program's host-fit settings through its env overrides:
    all the cores this process may use, a heap well under physical
    memory, Spark local dirs, temp files and JVM temp files inside the work
    directory, and the repository root on the Python workers' path."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        mem_mb = int(next(l for l in fh if l.startswith("MemTotal")).split()[1]) // 1024
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{max(512, min(1024, mem_mb // 4))}m",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "SPARK_SUBMIT_OPTS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        "PYTHONPATH": os.pathsep.join(p for p in (root, os.environ.get("PYTHONPATH")) if p),
    }
    os.environ.update(env)
    return {**env, "cpus": cpus, "mem_total_mb": mem_mb}


def cpu_ticks() -> tuple[int, int]:
    """(total, steal) jiffies of the host's CPUs, from /proc/stat."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return sum(fields), fields[7]


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Share of the host's CPU time the hypervisor gave to other guests
    between two ``cpu_ticks`` readings."""
    return (after[1] - before[1]) / max(1, after[0] - before[0])


def host_probe() -> float:
    """Seconds for a fixed CPU-bound loop: context for the record, not a gate."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(500_000):
        acc = (acc * 31 + i) & 0xFFFFFFFF
    return time.perf_counter() - t0


@contextlib.contextmanager
def captured_output(log_path: str):
    """Send fds 1 and 2 (the driver's, the JVM's and the Python
    workers') to ``log_path``; yield a stream on the real stderr."""
    saved = os.dup(1), os.dup(2)
    sys.stdout.flush()
    sys.stderr.flush()
    with open(log_path, "ab") as log:
        os.dup2(log.fileno(), 1)
        os.dup2(log.fileno(), 2)
    real_err = os.fdopen(os.dup(saved[1]), "w", buffering=1)
    try:
        yield real_err
    finally:
        sys.stdout.flush()
        sys.stderr.flush()
        os.dup2(saved[0], 1)
        os.dup2(saved[1], 2)
        for fd in saved:
            os.close(fd)
        real_err.close()


def percentile(values: list[float], q: int) -> float:
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


def pass_layers(tracer, p, cores: int) -> dict:
    """Per-layer metrics of one traced pass, summed over its operations."""
    from spans import SPARK_COUNTERS

    from workloads import AQ_TASKS

    m = dict.fromkeys(PASS_LAYERS, 0.0)
    for op in p.ops:
        sp = op.span
        if sp is None:
            continue
        counters = sp.get("counters", {})
        for k in (*SPARK_COUNTERS, "driver_gap_s"):
            m[f"spark.{k}"] += counters.get(k, 0)
        for child in tracer.children(sp):
            if child["name"] == "construct":
                m["queries.construct_s"] += child["end"] - child["start"]
                m["spark.construct_jobs"] += child["end_job"] - child["first_job"]
            elif child["name"] == "plan":
                m["spark.plan_s"] += child["end"] - child["start"]
        if op.name in AQ_TASKS:
            m[f"plans.{op.name}.wall_s"] += op.seconds
            m[f"plans.{op.name}.jobs"] += counters.get("jobs", 0)
            m[f"plans.{op.name}.executor_run_s"] += counters.get("executor_run_s", 0.0)
    for sp in tracer.spans:
        if sp["name"] == "registry.load" and sp["pass"] == p.pass_id:
            m["registry.load_s"] += sp["end"] - sp["start"]
            m["registry.load_jobs"] += sp["end_job"] - sp["first_job"]
    m["spark.slot_util"] = m["spark.executor_run_s"] / (p.seconds * cores)
    m.update(p.extras)
    return m


def generate_inputs(seed: int, shape: str, out_dir: str) -> dict:
    """Write the seeded ``events`` table in a child process; return its
    row count by table."""
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "inputs.py"), str(seed), shape, out_dir],
        capture_output=True, text=True, check=True, timeout=120)
    return json.loads(out.stdout)


def run(args, root: str, work: str, env: dict, say) -> dict:
    from inputs import SHAPES
    from spans import Tracer
    from workloads import WORKLOADS, Pass

    shape = SHAPES[args.shape]
    tracer = Tracer(enabled=bool(args.trace))
    record: dict = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                    "trace": args.trace, "shape": args.shape, "env": env,
                    "host_probe_s": {"before": host_probe()}}

    # ---- set-up: session, seeded inputs, warm-up pass -------------------
    with tracer.span("session.start"):
        t0 = time.perf_counter()
        from calidad_del_aire_etl_spark.session import get_session

        spark = get_session(f"perfbench-{args.workload}")
        session_s = time.perf_counter() - t0
    sc = spark.sparkContext
    jvm_pid = sc._gateway.proc.pid
    try:
        if args.trace:
            tracer.attach(spark)
        wl_cls = WORKLOADS[args.workload]
        input_dir = os.path.join(work, "inputs")
        with tracer.span("inputs.generate"):
            t0 = time.perf_counter()
            rows = generate_inputs(args.seed, args.shape, input_dir) if wl_cls.loads else {}
            gen_s = time.perf_counter() - t0
        wl = wl_cls(spark, tracer, shape, args.seed, input_dir, work)
        record["inputs"] = {"rows": rows}
        if args.workload == "aq_etl":
            record["inputs"]["stations"] = wl.stations
            rows["air_quality"] = len(wl.stations) * shape.days * 24
        say(f"{args.workload}: session {session_s:.2f}s, inputs {gen_s:.3f}s")

        tracer.pass_id = "warmup"
        with tracer.span("pass"):
            t0 = time.perf_counter()
            warm_ops = wl.run_pass("warmup")[0]
            warmup_s = time.perf_counter() - t0
        setup_s = session_s + gen_s + warmup_s
        say(f"{args.workload}: warm-up pass {warmup_s:.2f}s")

        # ---- measured closed loop -------------------------------------
        passes: list = []
        ticks0 = cpu_ticks()
        t_start = time.perf_counter()
        k = 0
        # A traced run measures as many untraced passes as an untraced
        # one, in the order U T T U U T, so the tracing overhead is not
        # confounded with the warm-up drift between early and late passes.
        min_passes = 2 * MIN_PASSES if args.trace else MIN_PASSES
        while len(passes) < min_passes or time.perf_counter() - t_start < args.seconds:
            k += 1
            pid = f"p{k}"
            # traced runs alternate untraced (U) and traced (T) passes
            tracer.enabled = bool(args.trace) and (k // 2) % 2 == 1
            tracer.pass_id = pid
            if tracer.enabled:
                wl.time_loads()
            before = cpu_ticks()
            with tracer.span("pass"):
                t0 = time.perf_counter()
                ops, extras = wl.run_pass(pid)
                wall = time.perf_counter() - t0
            extras["steal"] = steal_share(before, cpu_ticks())
            extras["traced"] = tracer.enabled
            for op in ops:
                tracer.attach_counters(op.span)
            passes.append(Pass(pid, wall, ops, extras))
            say(f"{args.workload}: pass {pid} {wall:.2f}s, steal {extras['steal']:.3f}"
                + (" (traced)" if tracer.enabled else ""))
        tracer.enabled = False
        measured_s = time.perf_counter() - t_start
        ticks1 = cpu_ticks()
        # Peak memory of the program up to here: the checks below import
        # DuckDB and build frames of their own, which must not count.
        py_rss_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        with open(f"/proc/{jvm_pid}/status") as fh:
            jvm_hwm_kb = int(next(l for l in fh if l.startswith("VmHWM")).split()[1])
        record["steal_frac"] = steal_share(ticks0, ticks1)

        # ---- correctness, outside every timed region ------------------
        pass_ids = ["warmup"] + [p.pass_id for p in passes]
        t0 = time.perf_counter()
        problems = wl.check(pass_ids)
        record["check_s"] = time.perf_counter() - t0
        say(f"{args.workload}: checks {record['check_s']:.2f}s")
        all_ops = [("warmup", op) for op in warm_ops] + [
            (p.pass_id, op) for p in passes for op in p.ops]
        failures = {(pid, op.name): op.error for pid, op in all_ops if op.error}
        failures.update({k: v for k, v in problems.items() if k not in failures})
        for (pid, name), why in sorted(failures.items()):
            say(f"{args.workload}: FAILED {pid}/{name}: {why[:2000]}")

        record["versions"] = {
            "spark": spark.version, "python": platform.python_version(),
            "java": sc._jvm.System.getProperty("java.version"),
            "scala": sc._jvm.scala.util.Properties.versionNumberString(),
        }
        record["resolved"] = {"cores": sc.defaultParallelism,
                              "heap": spark.conf.get("spark.driver.memory")}
    finally:
        stop_spark(spark)

    # ---- metrics ------------------------------------------------------
    untraced = [p for p in passes if not p.extras["traced"]]
    traced = [p for p in passes if p.extras["traced"]]
    op_lat = [op.seconds for p in untraced for op in p.ops]
    e2e = {
        "setup_s": setup_s,
        "pass_s": statistics.median(p.seconds for p in untraced),
        "op_p50_s": statistics.median(op_lat),
        "op_p90_s": percentile(op_lat, 90),
        "peak_rss_mb": (jvm_hwm_kb + py_rss_kb) / 1024.0,
    }
    with open(os.path.join(work, "driver.log"), errors="replace") as fh:
        levels = [m.group(1) for m in map(LOG_LINE.search, fh) if m]
    run_layers = {
        "session.start_s": session_s,
        "trace.overhead_s": (statistics.median(p.seconds for p in traced) - e2e["pass_s"]
                             if traced else 0.0),
        "log.error_lines": levels.count("ERROR"),
        "log.warn_lines": levels.count("WARN"),
        "failed_frac": len(failures) / len(all_ops),
        "op_samples": len(op_lat),
    }
    per_pass = [pass_layers(tracer, p, env["cpus"]) for p in traced]
    layers = {k: statistics.median(m[k] for m in per_pass) if per_pass else 0.0
              for k in PASS_LAYERS}
    layers.update(run_layers)

    record.update({
        "host_probe_s": {**record["host_probe_s"], "after": host_probe()},
        "measured_s": measured_s,
        "passes": [{"id": p.pass_id, "seconds": p.seconds, "traced": p.extras["traced"],
                    "steal": p.extras["steal"],
                    "ops": [[op.name, op.seconds] for op in p.ops]} for p in passes],
        "warmup_s": warmup_s, "warmup_ops": [[op.name, op.seconds] for op in warm_ops],
        "input_gen_s": gen_s,
        "end_to_end": e2e, "per_layer": layers,
        "failures": {f"{pid}/{name}": why for (pid, name), why in failures.items()},
    })
    if args.trace:
        tracer.dump(os.path.join(work, "spans.jsonl"))
    return {"record": record, "attempted": len(all_ops), "failed": len(failures),
            "metrics": layers if args.trace else e2e}


def stop_spark(spark) -> None:
    """Stop the session, then the JVM behind it, and wait for it to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits on EOF from the driver
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def units() -> dict:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}


def smoke() -> int:
    """Every workload once on tiny inputs, untraced and traced; every
    metric BENCHMARK.json names must be reported, with its unit."""
    spec_units = units()
    bad = 0
    for name in WORKLOAD_NAMES:
        for trace in (0, 1):
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", name,
                   "--seed", "7", "--seconds", "0", "--trace", str(trace), "--shape", "smoke"]
            out = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
            lines = out.stdout.strip().splitlines()
            res = json.loads(lines[-1]) if lines else {}
            metrics = res.get("metrics", {})
            wanted = END_TO_END if trace == 0 else PASS_LAYERS + RUN_LAYERS
            missing = [m for m in wanted if m not in metrics
                       or metrics[m].get("unit") != spec_units.get(m)]
            ok = out.returncode == 0 and res.get("correct") is True and not missing
            bad += not ok
            print(f"smoke {name} trace={trace}: {'ok' if ok else 'FAIL'}"
                  + (f" missing/mis-united {missing}" if missing else "")
                  + ("" if out.returncode == 0 else f" exit {out.returncode}: "
                     + out.stderr[-2000:]), flush=True)
    return 1 if bad else 0


def main(argv=None) -> int:
    args = parse_args(sys.argv[1:] if argv is None else argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, PACKAGE, "__init__.py")):
        print(f"perfbench: {PACKAGE}/ not found in {root}; run from the repository root",
              file=sys.stderr)
        return 2
    if args.smoke:
        return smoke()
    spec_units = units()
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = os.path.join(root, ".bench_work", run_id)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    sys.path.insert(0, root)
    env = fit_host(root, work)
    os.chdir(work)  # stray files Spark writes to its working directory land here
    log_path = os.path.join(work, "driver.log")
    with captured_output(log_path) as real_err:
        def say(msg):
            print(f"[perfbench] {msg}", file=real_err, flush=True)

        res = run(args, root, work, env, say)
    os.chdir(root)
    record = res["record"]
    records = os.path.join(root, ".bench_work", "records", run_id)
    os.makedirs(records, exist_ok=True)
    for keep in ("driver.log", "spans.jsonl"):
        if os.path.exists(os.path.join(work, keep)):
            shutil.move(os.path.join(work, keep), os.path.join(records, keep))
    with open(os.path.join(records, "record.json"), "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    shutil.rmtree(work, ignore_errors=True)
    print(f"[perfbench] record: {records}/record.json", file=sys.stderr)
    correct = res["failed"] == 0
    print(json.dumps({
        "correct": correct, "attempted": res["attempted"], "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": spec_units[k]} for k, v in res["metrics"].items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
