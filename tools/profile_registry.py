"""Registry profiler: build+execute time per entry, best of N sweeps.

Times registry entries at a given sf dir with the noop sink — which
eagerly computes every column of every row — so the number is the
computation, not the count()-pruned subtree or a real sink. Each entry
is timed as build+execute per sweep (plan construction included:
fixpoint operators do real work at build time), best-of-N across
interleaved sweeps, jobs labelled ``profile:<name>``.

With ``--plans-dir DIR`` it also writes each entry's
``.explain("formatted")`` to ``DIR/<name>_<suffix>.txt`` (first sweep).

Usage::

    python tools/profile_registry.py SF_DIR OUT_JSON [--rounds N]
        [--plans-dir DIR [--plans-suffix before|after]] [name ...]
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))


def main() -> None:
    args = sys.argv[1:]
    sf_dir = args.pop(0)
    out_json = args.pop(0)
    rounds = 3
    plans_dir = None
    plans_suffix = "plan"
    names: list[str] = []
    while args:
        a = args.pop(0)
        if a == "--rounds":
            rounds = int(args.pop(0))
        elif a == "--plans-dir":
            plans_dir = Path(args.pop(0))
        elif a == "--plans-suffix":
            plans_suffix = args.pop(0)
        else:
            names.append(a)

    from dublin_smart_city_graphdb_spark import harness
    from dublin_smart_city_graphdb_spark.session import get_spark

    spark = get_spark(app_name="profile")
    if not names:
        names = sorted(harness.REGISTRY)

    # The quad store is the engine's LOADED state (same rationale as
    # bench.py): build it once outside the timed region.
    from dublin_smart_city_graphdb_spark.harness.sparql_gate import _quads

    _quads(spark, sf_dir).count()

    if plans_dir is not None:
        plans_dir.mkdir(parents=True, exist_ok=True)

    samples: dict[str, list[float]] = {n: [] for n in names}
    errs: dict[str, str] = {}
    for rnd in range(rounds):
        for name in names:
            if name in errs:
                continue
            fn = harness.REGISTRY[name].fn
            sc = spark.sparkContext
            sc.setJobDescription(f"profile:{name}")
            t0 = time.time()
            try:
                df = fn(spark, sf_dir)
                df.write.format("noop").mode("overwrite").save()
            except Exception as e:  # record, keep sweeping
                errs[name] = repr(e)[:300]
                continue
            finally:
                sc.setJobDescription(None)
            samples[name].append(time.time() - t0)
            if rnd == 0 and plans_dir is not None:
                qe = df._jdf.queryExecution()
                mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
                (plans_dir / f"{name}_{plans_suffix}.txt").write_text(
                    qe.explainString(mode)
                )
        print(f"# sweep {rnd + 1}/{rounds} done", file=sys.stderr, flush=True)

    timings = {
        n: round(min(s), 3) for n, s in samples.items() if s
    }
    result = {
        "sf_dir": sf_dir,
        "rounds": rounds,
        "total": round(sum(timings.values()), 3),
        "queries": dict(sorted(timings.items(), key=lambda kv: -kv[1])),
        "errors": errs,
    }
    Path(out_json).write_text(json.dumps(result, indent=1))
    for n, t in list(result["queries"].items())[:30]:
        print(f"{t:8.3f}s  {n}", file=sys.stderr)
    print(json.dumps({"total": result["total"], "n": len(timings)}))


if __name__ == "__main__":
    main()
