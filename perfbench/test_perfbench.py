"""Tests of the benchmark itself: its declared metrics, its query stream,
its SPARQL oracle, and that every timed pipeline plan materializes the
operator's full projection.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

import pytest
from py4j.protocol import Py4JJavaError

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(HERE), str(ROOT), str(ROOT / "tools")]

import pipeline_load  # noqa: E402
import report  # noqa: E402
import run  # noqa: E402
import sparql_load  # noqa: E402


def test_benchmark_json_declares_what_the_runs_print():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert spec["command"] == ["python3", "perfbench/run.py"]
    assert {w["name"] for w in spec["workloads"]} <= set(run.WORKLOADS)
    assert [m["name"] for m in spec["end_to_end"]] == list(run.END_TO_END)
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == report.PER_LAYER
    assert any(
        m["name"] == "setup_s" and m["unit"] == "s" and m["better"] == "lower"
        for m in spec["end_to_end"]
    )


def test_tail_is_the_highest_percentile_with_ten_samples_beyond():
    values = list(range(1, 101))
    value, pct = run.tail(values)
    assert value == 90 and pct == 90.0
    assert sum(v > value for v in values) == 10
    assert run.tail([3.0, 1.0, 2.0]) == (3.0, 100.0)


def test_param_stream_is_seeded_unseen_and_round_robin():
    def draw(seed):
        src = sparql_load.ParamSource(seed)
        return [src.next() for _ in range(400)]

    a, b = draw(5), draw(5)
    assert [t for _, _, t in a] == [t for _, _, t in b]
    texts = [t for _, _, t in a]
    assert len(set(texts)) == len(texts)
    assert [tpl for tpl, _, _ in a[:8]] == sparql_load.TEMPLATES
    fixed = {
        sparql_load.query_text(t, sparql_load.REPEAT_PARAMS[t])
        for t in sparql_load.TEMPLATES
    }
    assert not fixed & set(texts)


def test_oracle_answers_the_acceptance_queries():
    from dublin_smart_city_graphdb_spark import fixtures
    from dublin_smart_city_graphdb_spark.sources.turtle import parse_turtle

    m = sparql_load.FacilityModel.from_triples(
        parse_turtle(fixtures.full_fixture_ttl(300, 3))
    )
    assert len(m.fac) == 300

    def body(rows):
        return json.dumps({"results": {"bindings": rows}}).encode()

    nw = sparql_load.EX + "NorthWest"
    no_park = body([{"area": {"type": "uri", "value": nw}}])
    p = sparql_load.REPEAT_PARAMS["areas_without_type"]
    assert sparql_load.check("areas_without_type", p, no_park, m, 0)
    wrong = body([])
    assert not sparql_load.check("areas_without_type", p, wrong, m, 0)
    count = body([{"count": {"type": "literal", "value": "42"}}])
    assert sparql_load.check("count_all", {}, count, m, 42)
    assert not sparql_load.check("count_all", {}, count, m, 41)


def test_write_batches_round_trip_through_the_oracle():
    from dublin_smart_city_graphdb_spark import fixtures
    from dublin_smart_city_graphdb_spark.sources.turtle import parse_turtle

    areas = [sparql_load.EX + a for a in fixtures.AREAS]
    types = [sparql_load.EX + t for t in fixtures.FACILITY_TYPES]
    batch = sparql_load.batch_facilities(7, 0, types, areas)
    turtle = sparql_load.PROLOG.replace("PREFIX ", "@prefix ").replace(
        ">\n", "> .\n"
    ) + sparql_load.batch_triples(batch)
    parsed = sparql_load.FacilityModel.from_triples(parse_turtle(turtle))
    for iri, f in batch.items():
        assert parsed.fac[iri]["type"] == f["type"]
        assert parsed.fac[iri]["lat"] == f["lat"]


def test_bare_benchmark_directory_fails_without_a_result(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "write_mix",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=170,
    )
    assert p.returncode != 0
    assert p.stdout.strip() == ""


@pytest.fixture(scope="module")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ["PYTHONPATH"] = str(ROOT)
    from dublin_smart_city_graphdb_spark.session import get_spark

    return get_spark(app_name="perfbench-tests")


def _seq(seq) -> list:
    return [seq.apply(i) for i in range(seq.size())]


def _hash_arity(plan) -> int:
    """Number of expressions the optimized plan's xxhash64 call hashes
    (the optimizer may inline a column's defining expression, so count
    them rather than match names)."""
    nodes = [plan]
    while nodes:
        node = nodes.pop()
        exprs = _seq(node.expressions())
        while exprs:
            e = exprs.pop()
            if e.getClass().getSimpleName() == "XxHash64":
                return e.children().size()
            exprs.extend(_seq(e.children()))
        nodes.extend(_seq(node.children()))
    raise AssertionError("no xxhash64 in the plan")


def test_every_timed_plan_materializes_the_full_projection(spark, tmp_path):
    import datagen
    from dublin_smart_city_graphdb_spark import harness

    data = str(tmp_path / "data")
    datagen.generate(data, 1, 0.05)
    for name in pipeline_load.HEADLINE:
        df = harness.REGISTRY[name].raw_fn(spark, data)
        sink = pipeline_load.full_sink(df)
        plan = sink._jdf.queryExecution().optimizedPlan()
        assert _hash_arity(plan) == len(df.columns), name


@pytest.mark.xfail(
    strict=True,
    raises=Py4JJavaError,
    reason="QuadStore.write(overwrite) deletes the files that a read planned "
    "before the commit still scans (FILE_NOT_EXIST), so write_mix runs reads "
    "and commits in alternation; once a commit leaves earlier files readable "
    "this passes and write_mix can overlap them again",
)
def test_a_read_planned_before_a_commit_survives_it(spark, tmp_path):
    from dublin_smart_city_graphdb_spark import fixtures
    from dublin_smart_city_graphdb_spark.engine import Engine

    repo = Engine(spark, warehouse=str(tmp_path / "wh")).create_repository(
        "r", ruleset="none"
    )
    repo.load_turtle_text(fixtures.full_fixture_ttl(20, 1))
    # a read in flight: its files were listed before the commit lands
    df = repo.sparql("SELECT ?s ?p ?o WHERE { ?s ?p ?o }")
    ex = sparql_load.EX
    repo.update(f"DELETE DATA {{ <{ex}facility_00000> a <{ex}Facility> }}")
    assert len(df.collect()) == repo.count() + 1
