"""Self-tests of the benchmark.  Run from the repository root:

    python -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import filecmp
import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402

WORKLOADS = ("ts_ops", "frame_etl", "dedup_corpus")


def _files(root: str) -> list[str]:
    return sorted(os.path.relpath(os.path.join(d, f), root)
                  for d, _, fs in os.walk(root) for f in fs)


@pytest.mark.parametrize("workload", WORKLOADS)
def test_generator_is_deterministic_per_seed(tmp_path, workload):
    a, b, c = (str(tmp_path / x) for x in "abc")
    assert gen.generate(workload, 7, a) == gen.generate(workload, 7, b)
    gen.generate(workload, 8, c)
    files = _files(a)
    assert files == _files(b)
    match, mismatch, errors = filecmp.cmpfiles(a, b, files, shallow=False)
    assert mismatch == [] and errors == []
    other = set(_files(c))
    assert any(f not in other or not filecmp.cmp(os.path.join(a, f), os.path.join(c, f),
                                                 shallow=False) for f in files)


@pytest.mark.skipif(not os.environ.get("SPARK_GRAFT_TESTDATA"),
                    reason="SPARK_GRAFT_TESTDATA names no test-table directory")
@pytest.mark.parametrize("workload", WORKLOADS)
def test_generated_schemas_match_the_test_tables(tmp_path, workload):
    import pyarrow.dataset as ds

    ref = os.environ["SPARK_GRAFT_TESTDATA"]
    out = str(tmp_path)
    for name in gen.generate(workload, 1, out)["rows"]:
        ref_path = os.path.join(ref, f"{name}.parquet")
        if not os.path.exists(ref_path):
            continue  # a benchmark-only table (the upsert batch)
        got = ds.dataset(os.path.join(out, f"{name}.parquet")).schema
        want = ds.dataset(ref_path).schema
        assert got.remove_metadata() == want.remove_metadata(), name


def _benchmark_json() -> dict:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return json.load(f)


def _fake_record() -> dict:
    m = {"exec_s": 0.3, "jobs": 2.0, "tasks": 8.0, "failed_tasks": 0.0, "cpu_s": 0.25,
         "read_mb": 1.0, "write_mb": 0.0, "shuffle_mb": 0.1, "spill_mb": 0.0, "gc_s": 0.01}
    op = {"layer": "frame", "build_s": 0.1, "run_s": 0.2, "by_layer": {"frame": m}}
    return {"pass_latencies": [[0.5, 0.7, 0.9]], "rows_done": 100, "timed_s": 2.0,
            "setup_s": 10.0, "peak_rss_mb": 900.0, "passes": 1, "op_stats": [op],
            "start_s": 5.0, "warmup_s": 4.0, "yields": {"functions.dedup": 0.5},
            "trace_s": 0.01, "attempted": 6, "failed": 0}


@pytest.mark.parametrize("traced,key", [(False, "end_to_end"), (True, "per_layer")])
def test_printed_metric_names_match_benchmark_json(traced, key):
    line = run.result_line(_fake_record(), traced)
    declared = {m["name"]: m["unit"] for m in _benchmark_json()[key]}
    assert {k: v["unit"] for k, v in line["metrics"].items()} == declared
    assert set(line) == {"correct", "attempted", "failed", "metrics"}


def test_oracle_edits_apply_and_round_the_decimal_repr_half_up():
    import duckdb

    import workloads

    sys.path.insert(0, os.path.dirname(HERE))
    for workload in WORKLOADS:
        workloads.ops_for(workload)  # raises if an edit no longer applies
    con = duckdb.connect()
    # Spark's F.round: 3.8890624999999996 -> 3.889062, 64.97625 -> 64.9763
    for x, places, want in ((3.8890624999999996, 6, 3.889062), (64.97625, 4, 64.9763)):
        _, edited = workloads._round_repr("x", places)
        assert con.execute(f"SELECT {edited} FROM (SELECT ?::DOUBLE AS x)",
                           [x]).fetchone()[0] == want


def test_tail_is_the_highest_percentile_with_ten_samples_beyond():
    assert run.tail([float(i) for i in range(100)]) == (89.0, 90.0)
    assert run.tail([float(i) for i in range(12)]) == (11.0, 100.0)


def test_op_tail_does_not_change_percentile_with_the_pass_count():
    one_pass = [0.2, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9, 1.0, 1.1, 1.3, 4.0]
    assert run.op_tail([one_pass]) == 4.0
    assert run.op_tail([one_pass, one_pass]) == 4.0
    assert run.op_tail([one_pass] * 3) == 4.0


def test_jobs_are_credited_to_the_layer_whose_module_launched_them():
    import tracing

    import fsharp_dataframe_spark

    pkg = os.path.dirname(fsharp_dataframe_spark.__file__)
    sites = tracing.CallSiteLayers(None, run._ATTRIBUTED)
    for rel, layer in (("operators/asof.py", "operators.asof"), ("frame.py", "frame"),
                       ("sources/parquet.py", "sources"), ("series.py", "series"),
                       ("functions/similarity.py", "functions.similarity"),
                       ("functions/util.py", None), ("operators/bucketed.py", None),
                       ("session.py", None)):
        assert sites.layer_of(os.path.join(pkg, rel)) == layer, rel
    assert sites.layer_of(run.__file__) is None


def _fail_first_attempt(batches):
    from pyspark import TaskContext

    ctx = TaskContext.get()
    if ctx.partitionId() == 0 and ctx.attemptNumber() == 0:
        raise RuntimeError("planted task failure")
    yield from batches


def test_planted_failures_are_counted(tmp_path, monkeypatch):
    """One run with a correct op, an op whose result disagrees with its
    oracle, an op whose result drifts after the verify pass, and an op
    with a task that fails once and is retried."""
    import fsharp_dataframe_spark
    from fsharp_dataframe_spark.sources.parquet import load_table
    from workloads import Op

    real = fsharp_dataframe_spark.get_spark
    # local[2,2]: two cores, and a failed task is retried once
    monkeypatch.setattr(fsharp_dataframe_spark, "get_spark",
                        lambda **kw: real(master="local[2,2]", shuffle_partitions=2, **kw))
    calls = []

    def drifting(spark, inputs):
        calls.append(1)
        return spark.range(len(calls))

    def docs(spark, inputs):
        return load_table(spark, inputs, "documents").select("doc_id")

    def flaky(spark, inputs):
        return docs(spark, inputs).repartition(2).mapInPandas(_fail_first_attempt,
                                                              "doc_id long")

    ops = [
        Op("good", "functions.dedup", docs, ("documents",), "SELECT doc_id FROM documents"),
        Op("wrong", "functions.dedup", docs, ("documents",),
           "SELECT doc_id + 1 AS doc_id FROM documents"),
        Op("drifting", "functions.text", drifting, (), "SELECT 0::BIGINT AS id"),
        Op("flaky", "functions.graph", flaky, ("documents",), "SELECT doc_id FROM documents"),
    ]
    work = str(tmp_path)
    for k in ("PYTHONPATH", "SPARK_LOCAL_DIRS", "TMPDIR", "JAVA_TOOL_OPTIONS",
              "SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM"):
        monkeypatch.delenv(k, raising=False)  # restored after the test
    run._environment(work)
    rec = run.run("dedup_corpus", 1, 0.1, True, work, ops=ops)
    assert sorted(rec["failures"]) == ["drifting", "wrong"]
    assert rec["failures"]["drifting"] == ["wrong result"]
    assert rec["attempted"] == 2 * len(ops) and rec["failed"] == 3
    line = run.result_line(rec, traced=True)
    assert line["correct"] is False
    assert line["metrics"]["spark.failed_tasks"]["value"] >= 1
    assert line["metrics"]["functions.graph.jobs"]["value"] >= 1
    # load_table, in the sources layer, lists the input files in a job
    assert line["metrics"]["sources.jobs"]["value"] >= 1
