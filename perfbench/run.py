"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload serve_mix --seed 1 --seconds 16 --trace 0

Run from the repository root. The last line of standard output is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``: with
``--trace 0`` the end-to-end metrics, with ``--trace 1`` the per-layer
ones. The line before it stamps the environment (master, default
parallelism, heap) and the sample counts behind each figure. See
README.md beside this file for what each workload and metric means.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent

END_TO_END_UNITS = {
    "setup_s": "s",
    "wall_s": "s",
    "op_p50_s": "s",
    "op_tail_s": "s",
    "rows_per_s": "rows/s",
    "peak_rss_mb": "MB",
}

PER_LAYER_UNITS = {
    "session.start_s": "s",
    "io.fixture_build_s": "s",
    "io.fixture_builds": "count",
    "queries.build_s": "s",
    "queries.exec_s": "s",
    "queries.build_share": "ratio",
    "queries.jobs": "count",
    "queries.tasks": "count",
    "queries.task_cpu_s": "s",
    "queries.shuffle_write_mb": "MB",
    "queries.spill_mb": "MB",
    "queries.scan_mb": "MB",
    "queries.gc_s": "s",
    "operators.py_run_s": "s",
    "operators.py_start_s": "s",
    "operators.py_sent_mb": "MB",
    "streaming.batch_s": "s",
    "streaming.add_batch_s": "s",
    "streaming.overhead_s": "s",
    "streaming.batches": "count",
    "streaming.store_rows": "count",
    "streaming.admit_ratio": "ratio",
    "pipeline.diff_s": "s",
    "pipeline.apply_s": "s",
    "sources.write_amp": "ratio",
    "sources.files_written": "count",
    "trace.overhead_s": "s",
    "failed_frac": "ratio",
}

MB = 1024.0 * 1024.0

WORKLOAD_NAMES = ["serve_mix", "llm_curate", "stream_ingest"]

_PYTHONPATH = os.environ.get("PYTHONPATH")


def _process_age() -> float:
    """Seconds since this process was created (from /proc)."""
    with open("/proc/self/stat", "rb") as f:
        stat = f.read()
    start_ticks = int(stat[stat.rindex(b")") + 2 :].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _host_heap_mb() -> int:
    """An eighth of the host's memory, between 1 GiB and 8 GiB: ample for
    the sf0.1 inputs, and small enough to share the host."""
    with open("/proc/meminfo") as f:
        total_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    return max(1024, min(8192, total_kb // 8 // 1024))


def pin_env(work: Path, trace_dir: Path | None) -> dict[str, str]:
    """Pin the engine's environment to this host and this checkout.

    The engine's defaults assume a 32-core host with a 90 GiB heap, and
    its pandas-UDF workers import the package by name, so they need the
    checkout on PYTHONPATH. The heap is fixed at its full size from the
    start, so memory does not hinge on when the collector decides to grow
    it. Every scratch and temp path points inside ``work``."""
    cpus = len(os.sched_getaffinity(0))
    heap_mb = _host_heap_mb()
    tmp = work / "tmp"
    for d in (tmp, work / "spark-local", work / "fixtures"):
        d.mkdir(parents=True, exist_ok=True)
    conf = {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Xms{heap_mb}m -XX:-UsePerfData",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace_dir is not None:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": str(trace_dir),
                "spark.eventLog.compress": "false",
            }
        )
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_mb}m",
        "SPARK_LOCAL_DIRS": str(work / "spark-local"),
        "SPARK_GRAFT_SCRATCH": str(work / "fixtures"),
        "SPARK_GRAFT_EXTRA_CONF": json.dumps(conf),
        "PYTHONPATH": os.pathsep.join(p for p in (str(ROOT), _PYTHONPATH) if p),
        "PYSPARK_PYTHON": sys.executable,
        "TMPDIR": str(tmp),
        # the launcher JVM that spark-submit runs first
        "SPARK_LAUNCHER_OPTS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    os.environ.update(env)
    return env


def host_probe() -> float:
    """Median time of a fixed single-threaded Python loop (0.07–0.1 s on a
    quiet 4-core x86 VM). It does not touch the engine, so it reads the
    host's speed at the moment: a run whose probe is slow ran in a slow
    phase of the host."""
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        acc = 0
        for i in range(1_000_000):
            acc += i * i
        times.append(time.perf_counter() - t0)
    return sorted(times)[1]


def _gc_seconds(spark) -> float:
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(0, b.getCollectionTime()) for b in beans) / 1000.0


def _jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def run_pass(wl, args, base: Path, work: Path, oracle, traced: bool) -> tuple[dict, dict, dict, object]:
    """Session start, warm pass, timed sequence, verification, stop.
    Returns (end-to-end figures, per-layer figures, run notes, the Pass)."""
    from baronbatch_etl_spark import io as bio
    from baronbatch_etl_spark.session import get_spark

    from perfbench import eventlog, stats
    from perfbench.spans import Tracer, self_times
    from perfbench.workloads import Ctx, Pass

    log_dir = work / "eventlog" if traced else None
    if log_dir is not None:
        log_dir.mkdir(parents=True, exist_ok=True)
    env = pin_env(work, log_dir)
    tracer = Tracer()
    out = Pass()
    fixtures0 = dict(bio.FIXTURE_BUILD_SECONDS)

    with tracer.span("session.start", op="setup"):
        t0 = time.perf_counter()
        spark = get_spark(f"perfbench-{wl.name}")
        session_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    ctx = Ctx(spark, base, work, tracer, oracle, args.seed, args.seconds)
    wl.prepare(ctx)
    stamp = {
        "master": spark.sparkContext.master,
        "default_parallelism": spark.sparkContext.defaultParallelism,
        "driver_heap": env["SPARK_GRAFT_DRIVER_MEM"],
    }
    with stats.PeakRss(_jvm_pid(spark)) as rss:
        wl.warm(ctx, out)
        setup_end = time.time()
        probe0 = host_probe()
        gc0 = _gc_seconds(spark)
        with tracer.span("timed", op="timed") as timed:
            wl.timed(ctx, out)
        gc_s = _gc_seconds(spark) - gc0
        probe1 = host_probe()
    with tracer.span("verify", op="verify"):
        wl.verify(ctx, out)
    spark.stop()

    built = {k: v - fixtures0.get(k, 0.0) for k, v in bio.FIXTURE_BUILD_SECONDS.items()}
    built = {k: v for k, v in built.items() if v > 0}
    # Every time has the time the hypervisor took from the vCPUs in its
    # window taken out (0 on a host no other guest contends for); see
    # README.md, "Stolen time".
    clock = args.clock

    def own(seconds: float, start: float) -> float:
        return seconds - clock.stolen_s(start, start + seconds)

    setup_raw = args.startup_s + session_s + out.warm_s
    lat_raw = [s.latency for s in out.samples]
    lat = [own(s.latency, s.start) for s in out.samples]
    tail, tail_pct, n = stats.tail(lat)
    wall = own(out.wall_s, timed.start)
    e2e = {
        "setup_s": setup_raw - clock.stolen_s(args.proc_start, setup_end),
        "wall_s": wall,
        "op_p50_s": stats.median(lat),
        "op_tail_s": tail,
        "rows_per_s": out.input_rows / wall if wall else 0.0,
        "peak_rss_mb": rss.peak / MB,
    }
    layer = {name: 0.0 for name in PER_LAYER_UNITS}
    layer.update(out.layer)
    layer.update(
        {
            "session.start_s": session_s,
            "io.fixture_build_s": sum(built.values()),
            "io.fixture_builds": float(len(built)),
            "queries.gc_s": gc_s,
        }
    )
    info = {
        **stamp,
        "host": {
            "probe_before_s": probe0,
            "probe_after_s": probe1,
            **clock.shares(timed.start, timed.end),
            "stolen_s": out.wall_s - wall,
        },
        "raw": {
            "setup_s": setup_raw,
            "wall_s": out.wall_s,
            "op_p50_s": stats.median(lat_raw),
            "op_tail_s": stats.tail(lat_raw)[0],
        },
        "n": n,
        "op_tail_percentile": tail_pct,
        "ops": [[s.kind, x, s.latency] for s, x in zip(out.samples, lat)],
        "fixtures_built": built,
        "peak_rss_split_mb": {
            "jvm": rss.at_peak.get("root", 0) / MB,
            "python_workers": rss.at_peak.get("children", 0) / MB,
            "n_workers": rss.at_peak.get("n_children", 0),
        },
        "warm_s": {sp.op: sp.end - sp.start for sp in tracer.spans if sp.name == "warm"},
        "p50_by_kind": {
            k: stats.median(x for s, x in zip(out.samples, lat) if s.kind == k)
            for k in sorted({s.kind for s in out.samples})
        },
        "failed_kinds": out.bad,
        "errors": {s.op_id: s.error for s in out.samples if s.error},
    }
    if traced:
        job_list = eventlog.jobs(eventlog.read_events(log_dir))
        by_op = eventlog.attribute(job_list, out.windows)
        ops_n = max(1, len(out.samples))
        timed_jobs = [j for js in by_op.values() for j in js]
        layer.update(
            {
                "queries.jobs": len(timed_jobs) / ops_n,
                "queries.tasks": sum(j.tasks for j in timed_jobs) / ops_n,
                "queries.task_cpu_s": sum(j.cpu_ns for j in timed_jobs) / 1e9 / ops_n,
                "queries.shuffle_write_mb": sum(j.shuffle_write_bytes for j in timed_jobs) / MB / ops_n,
                "queries.spill_mb": sum(j.spill_bytes for j in timed_jobs) / MB / ops_n,
                "queries.scan_mb": sum(j.read_bytes for j in timed_jobs) / MB / ops_n,
                "operators.py_run_s": sum(j.py.get(eventlog.PY_RUN, 0) for j in timed_jobs) / 1000.0,
                "operators.py_start_s": sum(j.py.get(eventlog.PY_START, 0) for j in timed_jobs) / 1000.0,
                "operators.py_sent_mb": sum(j.py.get(eventlog.PY_SENT, 0) for j in timed_jobs) / MB,
            }
        )
        info["per_op_jobs"] = {op: [len(js), sum(j.tasks for j in js)] for op, js in by_op.items()}
        info["self_s"] = self_times(tracer.spans)
        info["unattributed_jobs"] = len(job_list) - len(timed_jobs)
        tracer.write(args.trace_out / f"{wl.name}-seed{args.seed}.spans.jsonl")
    return e2e, layer, info, out


def _shutdown_jvm() -> None:
    """Stop the JVM and wait for it to exit. The gateway JVM exits when
    its standard input closes (py4j's own shutdown can block on the
    callback server that foreachBatch started)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if proc is None:
        return
    proc.stdin.close()
    try:
        proc.wait(timeout=10)
    except subprocess.TimeoutExpired:  # a shutdown hook hangs: stop it
        proc.kill()
        proc.wait(timeout=10)


def main(argv: list[str] | None = None) -> int:
    startup_s = _process_age()
    proc_start = time.time() - startup_s
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=[*WORKLOAD_NAMES, "all"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args(argv)
    if not (ROOT / "baronbatch_etl_spark" / "__init__.py").is_file():
        print(f"perfbench: no baronbatch_etl_spark package under {ROOT}; run from a full checkout", file=sys.stderr)
        return 2
    if args.workload == "all":
        return run_all(args)
    sys.path.insert(0, str(ROOT))
    os.chdir(ROOT)

    t0 = time.perf_counter()
    from perfbench import gen, stats, verify
    from perfbench.workloads import WORKLOADS

    args.startup_s = startup_s + time.perf_counter() - t0
    args.proc_start = proc_start

    state = ROOT / ".perfbench"
    args.trace_out = state / "traces"
    work = state / "runs" / f"{os.getpid()}-{args.workload}-{args.seed}"
    shutil.rmtree(work, ignore_errors=True)
    args.clock = stats.CpuClock().start()
    try:
        base = gen.ensure_base(state / "data")
        wl = WORKLOADS[args.workload]()
        oracle = verify.OracleCache(base)
        # every query workload's oracle answers, so only a checkout's
        # first run pays for them
        for make in WORKLOADS.values():
            oracle.ensure(make().specs())
        code = code_hash()
        if args.trace:
            reference = _untraced_walls(state, args, code)
            e2e, layer, info, out_pass = run_pass(wl, args, base, work, oracle, traced=True)
            layer["trace.overhead_s"] = e2e["wall_s"] - statistics.median(reference)
            info["untraced_wall_s"] = {"median": statistics.median(reference), "runs": len(reference)}
        else:
            e2e, layer, info, out_pass = run_pass(wl, args, base, work, oracle, traced=False)
            row = {"code": code, "workload": args.workload, "seconds": args.seconds, "seed": args.seed,
                   "wall_s": e2e["wall_s"]}
            with open(state / "history.jsonl", "a") as f:
                f.write(json.dumps(row) + "\n")
    finally:
        args.clock.stop()
        _shutdown_jvm()
        shutil.rmtree(work, ignore_errors=True)

    kinds = [s.kind for s in out_pass.samples]
    raised = {i for i, s in enumerate(out_pass.samples) if s.error}
    failed, attempted = stats.failed_frac(kinds, raised, set(out_pass.bad))
    layer["failed_frac"] = failed / attempted if attempted else 1.0
    info.update({"workload": args.workload, "seed": args.seed, "failed_frac": layer["failed_frac"]})
    metrics, units = (layer, PER_LAYER_UNITS) if args.trace else (e2e, END_TO_END_UNITS)
    print(json.dumps(info, sort_keys=True, default=str))
    print(
        json.dumps(
            {
                "correct": failed == 0 and attempted > 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
            }
        )
    )
    return 0


def code_hash() -> str:
    """Digest of the engine's and the benchmark's Python sources, which
    tells two versions of the code apart in a checkout that has no git
    metadata."""
    h = hashlib.sha256()
    for pkg in ("baronbatch_etl_spark", "perfbench"):
        for path in sorted((ROOT / pkg).rglob("*.py")):
            h.update(str(path.relative_to(ROOT)).encode())
            h.update(path.read_bytes())
    return h.hexdigest()[:16]


def _untraced_walls(state: Path, args, code: str) -> list[float]:
    """``wall_s`` of the untraced runs of this code, workload and
    ``--seconds`` in this checkout (seeds only reorder the same work).
    With none recorded yet, one is made now in a child process, which
    records its own."""
    path = state / "history.jsonl"

    def recorded() -> list[float]:
        if not path.exists():
            return []
        rows = [json.loads(line) for line in path.read_text().splitlines() if line.strip()]
        key = (code, args.workload, args.seconds)
        return [r["wall_s"] for r in rows if (r.get("code"), r["workload"], r["seconds"]) == key]

    walls = recorded()
    if not walls:
        cmd = [sys.executable, str(Path(__file__).resolve()), "--workload", args.workload,
               "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"]
        subprocess.run(cmd, cwd=ROOT, stdout=subprocess.DEVNULL, check=True)
        walls = recorded()
    return walls


def run_all(args) -> int:
    """Every workload, each in a fresh process; prints each one's metrics
    as ``workload metric value unit`` lines, then one JSON line with every
    workload's result."""
    results = {}
    for name in WORKLOAD_NAMES:
        cmd = [sys.executable, str(Path(__file__).resolve()), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace)]
        proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True, check=False)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or len(lines) < 2:
            print(f"{name}: exited {proc.returncode}", file=sys.stderr)
            return 1
        info, result = json.loads(lines[-2]), json.loads(lines[-1])
        results[name] = result
        for metric, m in result["metrics"].items():
            print(f"{name:14} {metric:26} {m['value']:14.6g} {m['unit']}")
        print(f"{name:14} {'failed_frac':26} {info['failed_frac']:14.6g} ratio "
              f"(n={info['n']}, tail at p{info['op_tail_percentile']:.0f})")
    print(json.dumps(results))
    return 0 if all(r["correct"] for r in results.values()) else 1


if __name__ == "__main__":
    raise SystemExit(main())
