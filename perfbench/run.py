"""Sketch-library benchmark: two workloads, one command, checked outputs.

    python3 perfbench/run.py --workload gather_family --seed 1 --seconds 1 --trace 0
    python3 perfbench/run.py --smoke      # every workload at a tiny size, traced

Run from the root of a checkout that holds the `honas_spark` package.  One
invocation starts a Spark session fitted to the machine (cores from the
CPU affinity mask, driver memory from /proc/meminfo, every scratch
directory under `.perfbench_work/` in the checkout), generates the inputs
several times, builds what the workload reads, runs the workload in a
closed loop for `--seconds` (at least once) and checks its outputs.  With
`--trace 1` it adds one traced run and reports per-layer metrics instead of
end-to-end ones.

The last stdout line is one JSON object:
    {"correct": bool, "attempted": int, "failed": int,
     "metrics": {name: {"value": float, "unit": str}}}
A full report (machine stamp, per-run times, check results, spans) goes to
`.perfbench_out/<workload>-seed<seed>-trace<t>.json`.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import sys
import threading
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent

# Sizes: on 4 vCPU one invocation (JVM start, two input generations, store
# build, one run, checks) takes about a minute, which fits the benchmark's
# time budget for two workloads.
SIZES = {
    # family_window: the generated corpus's first 6-hour window
    "gather_family": {"rows": 20_000, "hours": 72, "m_bits": 1 << 21,
                      "family_window": "2024-01-01 00:00:00"},
    "search_hourly": {"rows": 20_000, "hours": 12, "m_bits": 1 << 14,
                      "job_keys": 2000, "keys_per_group": 100},
}
SMOKE_SIZES = {
    "gather_family": {"rows": 2_000, "hours": 72, "m_bits": 1 << 16,
                      "family_window": "2024-01-01 00:00:00"},
    "search_hourly": {"rows": 2_000, "hours": 12, "m_bits": 1 << 12,
                      "job_keys": 200, "keys_per_group": 50},
}
SETUP_REPS = 2

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "files_per_s": "rows/s",
    "keys_per_s": "1/s",
    "worker_rss_mb": "MB",
    "store_mb": "MB",
}


def fit_environment(work: Path) -> dict:
    """Size the session to this machine and keep every scratch file in
    the checkout; returns the machine stamp.  Must run before pyspark
    starts its JVM (and before anything caches tempfile's directory)."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    driver_mb = max(1024, mem_kb // 1024 // 4)
    tmp, local = work / "tmp", work / "spark-local"
    tmp.mkdir(parents=True, exist_ok=True)
    local.mkdir(parents=True, exist_ok=True)
    java_opts = f"-Djava.io.tmpdir={tmp}"
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_DRIVER_MEM": f"{driver_mb}m",
        "SPARK_LOCAL_DIRS": str(local),
        "TMPDIR": str(tmp),
        "TZ": "UTC",
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_SUBMIT_ARGS": " ".join([
            "--conf", shlex.quote(f"spark.driver.extraJavaOptions={java_opts}"),
            "--conf", "spark.ui.showConsoleProgress=false",
            # full scan locations in plan descriptions (attribution by path)
            "--conf", "spark.sql.maxMetadataStringLength=4096",
            "--conf", shlex.quote(f"spark.hadoop.hadoop.tmp.dir={tmp}"),
            "pyspark-shell",
        ]),
    })
    time.tzset()
    return {"nproc": cores, "ram_mb": mem_kb // 1024, "driver_mem_mb": driver_mb}


def versions() -> dict:
    import numpy
    import pandas
    import pyarrow
    import pyspark

    return {
        "python": sys.version.split()[0], "pyspark": pyspark.__version__,
        "pandas": pandas.__version__, "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__,
    }


def _proc_table() -> dict[int, tuple[int, str]]:
    """pid -> (ppid, command name) for every visible process."""
    out = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        rp = stat.rfind(")")
        out[int(entry)] = (int(stat[rp + 2:].split()[1]), stat[stat.find("(") + 1: rp])
    return out


def descendants(pid: int) -> dict[int, str]:
    table = _proc_table()
    kids: dict[int, list[int]] = {}
    for p, (pp, _) in table.items():
        kids.setdefault(pp, []).append(p)
    out, todo = {}, list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out[p] = table[p][1]
        todo.extend(kids.get(p, []))
    return out


class RssSampler:
    """One thread summing the RSS of this process's Python descendants
    (the PySpark daemon and its workers); `take_peak` returns and resets
    the peak since the last call."""

    def __init__(self, interval: float = 0.1, rescan: float = 1.0):
        self.interval, self.rescan = interval, rescan
        self._peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _loop(self):
        me, pids, scanned = os.getpid(), [], 0.0
        while not self._stop.wait(self.interval):
            if time.monotonic() - scanned > self.rescan:
                pids = [p for p, comm in descendants(me).items() if comm.startswith("python")]
                scanned = time.monotonic()
            total = 0
            for pid in pids:
                try:
                    with open(f"/proc/{pid}/statm") as f:
                        total += int(f.read().split()[1]) * self._page
                except OSError:
                    pass
            with self._lock:
                self._peak = max(self._peak, total)

    def take_peak(self) -> int:
        with self._lock:
            peak, self._peak = self._peak, 0
        return peak

    def close(self):
        self._stop.set()
        self._thread.join(timeout=10)


def start_session():
    from honas_spark.session import get_spark

    spark = get_spark(app="perfbench", cpus=int(os.environ["SPARK_GRAFT_CPUS"]))
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def warm_python_workers(spark) -> None:
    """Start the PySpark worker pool, package import included, so a
    measured run does not pay the first Python job's process start."""
    import pandas as pd

    def touch(batches):
        import honas_spark.state  # noqa: F401

        for pdf in batches:
            yield pd.DataFrame({"n": [len(pdf)]})

    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    spark.range(cores * 100, numPartitions=cores).mapInPandas(touch, "n long").count()


def stop_session(spark) -> None:
    """Stop Spark, its JVM and its Python workers, and wait for them."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()
    deadline = time.time() + 30
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.1)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, 9)
        except OSError:
            pass


def quiesce(spark) -> None:
    """Drop cached tables and collect JVM and Python garbage between runs."""
    import gc

    spark.catalog.clearCache()
    spark.sparkContext._jvm.System.gc()
    gc.collect()


def set_up(wl, ctx, work: Path, spark, reps: int) -> tuple[dict, list[float], float]:
    """-> (state, input-generation times, once-only set-up time)."""
    times = []
    # input generation only: interpreted expressions skip compiling the
    # generator's large projection, which no measured run uses
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    for rep in range(reps):
        d = work / f"setup{rep}"
        t0 = time.perf_counter()
        state = wl.setup(ctx, d)
        times.append(time.perf_counter() - t0)
        if rep + 1 < reps:
            shutil.rmtree(d, ignore_errors=True)
        quiesce(spark)
    spark.conf.unset("spark.sql.codegen.wholeStage")
    t0 = time.perf_counter()
    warm_python_workers(spark)
    wl.prepare(ctx, state)
    return state, times, time.perf_counter() - t0


def traced_run(wl, ctx, state: dict, work: Path, spark) -> tuple[dict, dict, list[str]]:
    """One run with spans, then an untraced run as warm as it (the
    overhead's reference); -> (per-layer metrics, report part, problems)."""
    from perfbench import layers, sparkmetrics, tracing

    quiesce(spark)
    tracer = tracing.Tracer(spark, f"trace-{wl.name}-{ctx.seed}")
    ctx.tracer = tracer
    try:
        with tracer.patched(), tracer.span("run", "run") as root:
            facts = wl.run(ctx, state, work / "traced", "traced")
    finally:
        ctx.tracer = None
    checks = wl.check_run(ctx, state, work / "traced", "traced", facts)
    shutil.rmtree(work / "traced", ignore_errors=True)
    quiesce(spark)
    t0 = time.perf_counter()
    wl.run(ctx, state, work / "untraced", "untraced")
    untraced_s = time.perf_counter() - t0
    shutil.rmtree(work / "untraced", ignore_errors=True)

    groups = {s["id"] for s in tracer.spans}
    execs = sparkmetrics.read_executions(spark, groups)
    jobs = {j for j, g in sparkmetrics.job_groups(spark).items() if g in groups}
    metrics = layers.compute(
        tracer.spans, execs, sparkmetrics.read_stages(spark, jobs),
        {
            "input_path": state["input"], "store_path": state.get("store"),
            "traced_wall": root["end"] - root["start"], "untraced_wall": untraced_s,
            "hostnames": facts.get("hostnames", 0),
        },
        int(os.environ["SPARK_GRAFT_CPUS"]),
    )
    report = {
        "untraced_after_s": untraced_s,
        "spans": layers.span_report(tracer.spans),
        "executions": [
            {"id": e.id, "group": e.group, "dur_s": e.duration,
             "udfs": sorted({n.udf for n in e.nodes.values() if n.udf}),
             "scans": [[n.desc, n.metrics.get("number of output rows", 0.0)]
                       for n in e.find("Scan parquet")]}
            for e in execs
        ],
    }
    return metrics, report, [f"traced: {c[0]}: {c[2]}" for c in checks.failed]


def bench(name: str, seed: int, seconds: float, trace: bool, sizes: dict,
          work: Path, spark, session_s: float, sampler: RssSampler,
          setup_reps: int = SETUP_REPS) -> tuple[dict, dict]:
    """Set up, run for `seconds` (at least once), check; -> (result, report)."""
    from perfbench import layers
    from perfbench.workloads import WORKLOADS, Ctx

    wl = WORKLOADS[name]
    ctx = Ctx(spark=spark, seed=seed, sizes=sizes)
    state, setup_times, prepare_s = set_up(wl, ctx, work, spark, setup_reps)

    attempted = failed = 0
    problems: list[str] = []
    runs: list[dict] = []
    last_out = None
    t_start = time.perf_counter()
    while (not runs or time.perf_counter() - t_start < seconds) and failed < 3:
        quiesce(spark)
        out = work / f"run{attempted}"
        run_id = f"run{attempted}"
        attempted += 1
        sampler.take_peak()
        try:
            t0 = time.perf_counter()
            facts = wl.run(ctx, state, out, run_id)
            wall = time.perf_counter() - t0
            rss = sampler.take_peak()
            checks = wl.check_run(ctx, state, out, run_id, facts)
        except Exception as e:  # a failed run counts; the loop goes on
            failed += 1
            problems.append(f"{run_id}: {type(e).__name__}: {e}")
            shutil.rmtree(out, ignore_errors=True)
            continue
        if checks.failed:
            failed += 1
            problems.extend(f"{run_id}: {c[0]}: {c[2]}" for c in checks.failed)
        runs.append({"wall_s": wall, "rss_bytes": rss, **facts})
        if last_out is not None:
            shutil.rmtree(last_out, ignore_errors=True)
        last_out = out

    diag, checks_s = {}, 0.0
    if last_out is not None:
        quiesce(spark)
        t0 = time.perf_counter()
        full = wl.check_output(ctx, state, last_out, runs[-1])
        checks_s = time.perf_counter() - t0
        attempted += len(full.results)
        failed += len(full.failed)
        problems.extend(f"output: {c[0]}: {c[2]}" for c in full.failed)
        diag = full.diag
        diag["checks"] = [list(c) for c in full.results]
        shutil.rmtree(last_out, ignore_errors=True)

    med = statistics.median(r["wall_s"] for r in runs) if runs else 0.0
    rates = [
        r["lookups"] / r["search_s"] if "lookups" in r else diag.get("keys", 0) / r["wall_s"]
        for r in runs
    ]
    e2e = {
        "setup_s": session_s + statistics.median(setup_times) + prepare_s,
        "wall_s": med,
        "files_per_s": state["rows"] / med if med else 0.0,
        "keys_per_s": statistics.median(rates) if rates else 0.0,
        "worker_rss_mb": statistics.median(r["rss_bytes"] for r in runs) / 1e6 if runs else 0.0,
        "store_mb": diag.get("store_bytes", 0) / 1e6,
    }
    report = {"runs": runs, "setup_times_s": setup_times, "session_s": session_s,
              "prepare_s": prepare_s, "checks_s": checks_s, "problems": problems,
              "diag": diag, "end_to_end": {k: [v, END_TO_END[k]] for k, v in e2e.items()}}
    metrics, units = e2e, END_TO_END
    if trace:
        attempted += 1
        metrics, part, tproblems = traced_run(wl, ctx, state, work, spark)
        failed += bool(tproblems)
        problems.extend(tproblems)
        report.update(part)
        units = {k: v[0] for k, v in layers.PER_LAYER.items()}
    report["fail_frac"] = failed / attempted if attempted else 1.0
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    return result, report


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload")
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=1)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true",
                   help="every workload at a tiny size, checked and traced")
    args = p.parse_args(argv)
    if not (ROOT / "honas_spark" / "__init__.py").is_file():
        print(f"perfbench: no honas_spark package at {ROOT}", file=sys.stderr)
        return 2
    names = [args.workload] if args.workload else list(SIZES) if args.smoke else []
    if not names or names[0] not in SIZES:
        print(f"perfbench: --workload must be one of {sorted(SIZES)}", file=sys.stderr)
        return 2

    work = ROOT / ".perfbench_work" / f"{os.getpid()}"
    out_dir = ROOT / ".perfbench_out"
    stamp = fit_environment(work)
    sys.path.insert(0, str(ROOT))
    stamp.update(versions())
    results = {}
    sampler = RssSampler()
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_session()
        session_s = time.perf_counter() - t0
        for name in names:
            sizes = SMOKE_SIZES[name] if args.smoke else SIZES[name]
            result, report = bench(
                name, args.seed, 0 if args.smoke else args.seconds,
                args.trace == 1 or args.smoke, sizes, work / name, spark,
                session_s, sampler, setup_reps=1 if args.smoke else SETUP_REPS,
            )
            report["stamp"] = dict(stamp, workload=name, seed=args.seed, sizes=sizes,
                                   trace=int(args.trace == 1 or args.smoke),
                                   seconds=args.seconds)
            out_dir.mkdir(exist_ok=True)
            tag = "smoke" if args.smoke else f"seed{args.seed}-trace{args.trace}"
            (out_dir / f"{name}-{tag}.json").write_text(
                json.dumps({"result": result, **report}, indent=1, default=str)
            )
            for k, v in result["metrics"].items():
                print(f"{name} {k} = {v['value']:.6g} {v['unit']}", file=sys.stderr)
            for prob in report["problems"]:
                print(f"{name} FAILED {prob}", file=sys.stderr)
            results[name] = result
    finally:
        if spark is not None:
            stop_session(spark)
        sampler.close()
        shutil.rmtree(work, ignore_errors=True)
        if work.parent.is_dir() and not any(work.parent.iterdir()):
            work.parent.rmdir()
    print(json.dumps({"stamp": stamp, "seed": args.seed}))
    if args.smoke:
        print(json.dumps({"correct": all(r["correct"] for r in results.values()),
                          "workloads": results}))
        return 0 if all(r["correct"] for r in results.values()) else 1
    print(json.dumps(results[args.workload]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
