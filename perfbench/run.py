"""Repository benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload write_mix --seed 1 --seconds 10 --trace 0

Run from the root of a source checkout. The engine is used from source
through its public surface only: ``SparqlHttpServer`` over HTTP,
``Repository`` and ``HarnessQuery.raw_fn``. Everything the run writes
(Spark scratch, the persistent store, generated data, trace files) stays
under ``.perfbench_work/`` in the checkout. ``--trace 1`` wraps each
layer's public functions in spans and reports per-layer metrics instead
of the end-to-end ones. See ``perfbench/README.md``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PACKAGE = ROOT / "dublin_smart_city_graphdb_spark"
WORKLOADS = ("write_mix", "pipeline_batch", "read_repeat", "read_param")
# end-to-end metrics printed by an untraced run (BENCHMARK.json
# "end_to_end"); a workload's other figures go to stderr
END_TO_END = (
    "setup_s", "load_quads_per_s", "queries_per_s", "query_p50_ms", "batch_s",
)


def log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


def tail(values: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest nearest-rank percentile with at
    least 10 samples beyond it; the maximum when there are fewer than 11."""
    v = sorted(values)
    n = len(v)
    if n < 11:
        return v[-1], 100.0
    return v[n - 11], 100.0 * (n - 10) / n


def context(args, cpus: str) -> dict:
    commit = None
    if (ROOT / ".git").exists():
        try:
            commit = subprocess.run(
                ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                text=True, timeout=10,
            ).stdout.strip() or None
        except (OSError, subprocess.SubprocessError):
            pass
    import pyspark

    return {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": os.cpu_count(),
        "SPARK_GRAFT_CPUS": cpus, "spark": pyspark.__version__,
        "python": platform.python_version(), "git_commit": commit,
    }


def cpu_jiffies() -> tuple[int, int]:
    """(stolen, total) CPU time of the host's ``/proc/stat``: the share a
    hypervisor gave to other guests shows why runs on one box differ."""
    try:
        with open("/proc/stat") as f:
            fields = [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return 0, 0
    return (fields[7] if len(fields) > 7 else 0), sum(fields)


def peak_rss_mb() -> float:
    """Peak resident memory of the engine: the JVM plus this process."""
    from pyspark import SparkContext

    kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    proc = getattr(SparkContext._gateway, "proc", None)
    try:
        with open(f"/proc/{proc.pid}/status") as f:
            kb += sum(
                int(line.split()[1]) for line in f if line.startswith("VmHWM:")
            )
    except (AttributeError, OSError):  # no JVM handle or no procfs
        pass
    return kb / 1024.0


def start_spark(run_dir: Path):
    from dublin_smart_city_graphdb_spark.session import get_spark

    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    return get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.local.dir": str(run_dir / "spark-local"),
            "spark.sql.warehouse.dir": str(run_dir / "spark-warehouse"),
            # no hsperfdata file in the system temp directory either
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            # per-span job counters are read from the status store after
            # the run; keep every job of a run in it
            "spark.ui.retainedJobs": "20000",
            "spark.ui.retainedStages": "40000",
        },
    )


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    try:
        gateway.shutdown()
    except Exception:  # noqa: BLE001 — the JVM may already be gone
        pass
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


# -- workloads ------------------------------------------------------------------

def run_sparql(args, spark, run_dir: Path, tracer) -> dict:
    import sparql_load as S

    bench = S.SparqlBench(spark, str(run_dir), args.seed, tracer)
    log(f"spark up at {time.perf_counter() - T_START:.1f} s")
    try:
        tracer.enabled = bool(args.trace)  # the bulk load's layers
        load_s, load_req = bench.load()
        tracer.enabled = False
        log(f"loaded at {time.perf_counter() - T_START:.1f} s ({load_s:.1f} s)")
        source = (
            S.RepeatSource() if args.workload == "read_repeat"
            else S.ParamSource(args.seed)
        )
        bench.warm()
        setup_s = time.perf_counter() - T_START
        tracer.enabled = bool(args.trace)

        readers = [
            threading.Thread(target=bench.reader, args=(source,))
            for _ in range(2)
        ]
        for th in readers:
            th.start()
        try:
            if args.workload == "write_mix":
                # a read phase of half the run after each commit
                bench.write_cycles(
                    time.perf_counter() + args.seconds, args.seconds / 2
                )
            else:
                bench.read_phase(args.seconds, 0)
        finally:
            bench.finish()
            for th in readers:
                th.join()
        tracer.enabled = False
        rss = peak_rss_mb()
    finally:
        bench.stop()
    attempted, failed = bench.verify()
    for f in bench.failures[:20]:
        log(f"FAILED {f}")

    lat = [s["s"] * 1000.0 for s in bench.samples]
    tail_ms, tail_pct = tail(lat)
    out = {
        "setup_s": (setup_s, "s"),
        "load_quads_per_s": (bench.explicit_quads / load_s, "1/s"),
        "queries_per_s": (len(lat) / bench.read_s, "1/s"),
        "query_p50_ms": (statistics.median(lat), "ms"),
        "query_tail_ms": (tail_ms, "ms"),
        "peak_rss_mb": (rss, "MB"),
    }
    info = {
        "samples": len(lat), "tail_percentile": tail_pct,
        "explicit_quads": bench.explicit_quads, "store_quads": bench.base_count,
        "error_rate": failed / attempted,
    }
    if bench.commits:
        for kind in ("append", "delete"):
            out[f"{kind}_p50_ms"] = (
                statistics.median(c[kind]["s"] for c in bench.commits) * 1000.0,
                "ms",
            )
        out["batch_s"] = (
            statistics.median(
                c["append"]["s"] + c["delete"]["s"] for c in bench.commits
            ),
            "s",
        )
        info["commits"] = [
            {k: c[k] for k in ("append", "delete")} for c in bench.commits
        ]
    return {
        "metrics": out, "info": info, "attempted": attempted,
        "failed": failed, "bench": bench, "load_req": load_req,
    }


def run_pipeline(args, spark, run_dir: Path, tracer) -> dict:
    import datagen
    import pipeline_load as P

    data = run_dir / "data"
    rows = datagen.generate(str(data), args.seed, P.SCALE)
    bench = P.PipelineBench(spark, str(data), tracer)
    log(f"data ready at {time.perf_counter() - T_START:.1f} s")
    quads, load_s = bench.load_quads()
    log(f"loaded at {time.perf_counter() - T_START:.1f} s ({load_s:.1f} s)")
    # the oracle check builds and fully collects every operator once: it
    # is also the JVM and code-generation warm-up of the timed sweeps
    failures = bench.verify()
    setup_s = time.perf_counter() - T_START
    tracer.enabled = bool(args.trace)

    t0 = time.perf_counter()
    runs = bench.measure(t0 + args.seconds)
    run_s = time.perf_counter() - t0
    tracer.enabled = False
    rss = peak_rss_mb()

    for f in failures:
        log(f"FAILED {f}")
    bad = {f.split(":", 1)[0] for f in failures}
    lat = [op["s"] * 1000.0 for ops in bench.samples.values() for op in ops]
    tail_ms, tail_pct = tail(lat)
    # every operator counts once, at its median, however many times the
    # run reached it: a run that ends partway into a second sweep does
    # not shift the operator mix
    op_median = {
        name: statistics.median(op["s"] for op in ops)
        for name, ops in bench.samples.items()
    }
    sweep_s = sum(op_median.values())
    out = {
        "setup_s": (setup_s, "s"),
        "load_quads_per_s": (quads / load_s, "1/s"),
        "queries_per_s": (len(op_median) / sweep_s, "1/s"),
        "query_p50_ms": (statistics.median(op_median.values()) * 1000.0, "ms"),
        "query_tail_ms": (tail_ms, "ms"),
        "batch_s": (sweep_s, "s"),
        "peak_rss_mb": (rss, "MB"),
    }
    info = {
        "runs": runs, "run_s": run_s, "runs_per_s": runs / run_s,
        "tail_percentile": tail_pct, "rows": rows, "quads": quads,
        "op_median_s": op_median,
    }
    return {
        "metrics": out, "info": info, "attempted": runs,
        "failed": sum(len(bench.samples[name]) for name in bad), "bench": bench,
    }


# -- main ---------------------------------------------------------------------------

def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not (PACKAGE / "__init__.py").is_file():
        log(f"engine sources not found at {PACKAGE}; run from a checkout")
        return 2

    work = ROOT / ".perfbench_work"
    run_dir = work / f"run-{os.getpid()}"
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(min(4, os.cpu_count() or 1))
    os.environ["SPARK_GRAFT_CPUS"] = cpus
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "3g")
    # Python workers Spark forks must import the engine from this checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["TMPDIR"] = str(run_dir / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "spark-local")
    (run_dir / "tmp").mkdir(parents=True, exist_ok=True)
    sys.path[:0] = [str(HERE), str(ROOT), str(ROOT / "tools")]

    import tracing

    ctx = context(args, cpus)
    log("context " + json.dumps(ctx))
    steal0 = cpu_jiffies()
    spark = None
    try:
        spark = start_spark(run_dir)
        tracer = tracing.Tracer(spark.sparkContext, enabled=False)
        if args.trace:
            tracing.instrument(tracer)
        runner = run_pipeline if args.workload == "pipeline_batch" else run_sparql
        res = runner(args, spark, run_dir, tracer)
        if args.trace:
            tracer.resolve_counters()
            import report

            metrics, detail = report.per_layer(args.workload, res, tracer)
            report.write_trace(work, ctx, res, tracer, detail)
        else:
            metrics = {
                k: res["metrics"][k] for k in END_TO_END if k in res["metrics"]
            }
            work.mkdir(exist_ok=True)
            with open(work / f"last-{args.workload}-seed{args.seed}.json", "w") as f:
                json.dump({"context": ctx, "metrics": metrics}, f)
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    steal1 = cpu_jiffies()
    res["info"]["cpu_steal_share"] = (steal1[0] - steal0[0]) / max(
        1, steal1[1] - steal0[1]
    )
    for name, (value, unit) in res["metrics"].items():
        log(f"{name} = {value:.6g} {unit}")
    log("info " + json.dumps(res["info"], default=str))
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }), flush=True)
    return 0 if res["failed"] == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
