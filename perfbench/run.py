"""Repository benchmark: seeded ts_ops / frame_etl / dedup_corpus workloads.

Run from the repository root::

    python3 perfbench/run.py --workload ts_ops --seed 1 --seconds 6 --trace 0

Each workload is a closed loop driven by one client: one driver thread
issues the workload's fixed op list (``workloads.py``), and the next op
starts only after the previous one has finished.  An op is one call
into one layer's public function plus a full materialization of its
result: a ``noop``-sink write with an ``observe`` fingerprint (row count
and the sum of a 64-bit hash over every output column), so no operator
can be pruned from the plan the way ``count()`` lets Catalyst prune it.

A run:

1. generates the workload's inputs from ``--seed`` (``gen.py``) under
   ``.perfbench_work/`` in the current directory, and removes them at
   the end;
2. sets up: starts the session (``local[nproc]``, shuffle partitions =
   nproc), stages the inputs through the ``sources`` readers, and makes
   one untimed full pass of the op list.  That pass is also the verify
   pass: every result is compared with its DuckDB oracle on the
   generated inputs by ``tools/check_oracle.py``'s canon/compare rules,
   and its fingerprint is recorded.  A workload whose ops keep speeding
   up after one pass gets more untimed passes (``workloads.EXTRA_WARMUP``);
3. measures whole passes of the op list, stopping at the pass boundary
   nearest to ``--seconds``.  Every timed result's fingerprint must
   equal the verified one.  An op that raises or returns a wrong result
   is a failed op; it is counted, never dropped.  ``op_tail_s`` is
   taken per pass and its median reported, so its percentile does not
   change with the number of passes a run manages;
4. prints, as its last stdout line, one JSON object.  With ``--trace 0``
   its metrics are the end-to-end metrics.  With ``--trace 1`` each op
   runs in its own Spark job group, every job is tagged with the layer
   whose code launched it (``tracing.CallSiteLayers``), the job, stage
   and task metrics are read from Spark's status store after the op
   ends, the metrics are the per-layer ones, and the spans are written
   to ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import time

import gen
import tracing
import workloads

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

E2E_UNITS = {"setup_s": "s", "rows_per_s": "rows/s", "op_p50_s": "s",
             "op_tail_s": "s", "peak_rss_mb": "MB"}
_LAYER_FIELDS = {"build_s": "s", "run_s": "s", "jobs": "count", "exec_cpu_s": "s",
                 "exec_offcpu_s": "s", "shuffle_mb": "MB"}
LAYER_UNITS = {
    **{f"{layer}.{k}": u for layer in workloads.LAYERS if layer not in ("session", "spark")
       for k, u in _LAYER_FIELDS.items()},
    "sources.read_mb": "MB", "sources.write_mb": "MB",
    "session.start_s": "s", "session.warmup_s": "s",
    "spark.tasks": "count", "spark.failed_tasks": "count",
    "spark.spill_mb": "MB", "spark.gc_s": "s",
    "functions.dedup.candidate_yield": "fraction",
    "functions.similarity.candidate_yield": "fraction",
    "trace.overhead_share": "fraction",
}
# layers a Spark job can be credited to by the code that launched it
_ATTRIBUTED = tuple(la for la in workloads.LAYERS if la not in ("session", "spark"))
_REQUIRED = ("fsharp_dataframe_spark/__init__.py", "__spark_entry__.py",
             "tools/check_oracle.py")


# ------------------------------------------------------------------ metrics

def tail(samples: list[float]) -> tuple[float, float]:
    """(value, percentile) at the highest percentile with at least ten
    samples beyond it.  Below 21 samples that percentile would not be
    above the median, so the maximum is reported (percentile 100).
    It is taken over the ops of one pass, whose number does not depend
    on speed (see :func:`op_tail`)."""
    s = sorted(samples)
    k = len(s) - 11
    if k < len(s) // 2:
        k = len(s) - 1
    return s[k], 100.0 * (k + 1) / len(s)


def op_tail(pass_latencies: list[list[float]]) -> float:
    """The median over passes of each pass's :func:`tail`.  The number
    of timed passes depends on speed, so a tail over all samples would
    change percentile when a pass count changes; this one does not."""
    return statistics.median(tail(p)[0] for p in pass_latencies)


def end_to_end(rec: dict) -> dict[str, float]:
    passes = rec["pass_latencies"]
    return {
        "setup_s": rec["setup_s"],
        "rows_per_s": rec["rows_done"] / rec["timed_s"],
        "op_p50_s": statistics.median(x for p in passes for x in p),
        "op_tail_s": op_tail(passes),
        "peak_rss_mb": rec["peak_rss_mb"],
    }


def per_layer(rec: dict) -> dict[str, float]:
    """Per-layer metrics of a traced run; sums are per pass of the op list."""
    passes = rec["passes"]
    out = dict.fromkeys(LAYER_UNITS, 0.0)
    for op in rec["op_stats"]:
        out[f"{op['layer']}.build_s"] += op["build_s"] / passes
        out[f"{op['layer']}.run_s"] += op["run_s"] / passes
        for layer, m in op["by_layer"].items():
            for k, v in (("jobs", m["jobs"]), ("exec_cpu_s", m["cpu_s"]),
                         ("exec_offcpu_s", m["exec_s"] - m["cpu_s"]),
                         ("shuffle_mb", m["shuffle_mb"])):
                out[f"{layer}.{k}"] += v / passes
            for name, k in (("sources.read_mb", "read_mb"), ("sources.write_mb", "write_mb"),
                            ("spark.tasks", "tasks"), ("spark.failed_tasks", "failed_tasks"),
                            ("spark.spill_mb", "spill_mb"), ("spark.gc_s", "gc_s")):
                out[name] += m[k] / passes
    out["session.start_s"] = rec["start_s"]
    out["session.warmup_s"] = rec["warmup_s"]
    for layer, y in rec["yields"].items():
        out[f"{layer}.candidate_yield"] = y
    out["trace.overhead_share"] = rec["trace_s"] / rec["timed_s"]
    return out


def result_line(rec: dict, traced: bool) -> dict:
    values = per_layer(rec) if traced else end_to_end(rec)
    units = LAYER_UNITS if traced else E2E_UNITS
    return {"correct": rec["failed"] == 0, "attempted": rec["attempted"],
            "failed": rec["failed"],
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()}}


# ------------------------------------------------------------------ running

def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _environment(work: str) -> None:
    """Worker PYTHONPATH, Spark local dirs and temp dirs, all set before
    the JVM starts so every process it forks inherits them.  Python
    workers cannot import the program without the repository on their
    path."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, HERE, path) if p)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    # every JVM the session launches (spark-submit's launcher too) keeps
    # its temp files and perf data out of the shared temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_GRAFT_CPUS"] = str(_nproc())
    # a fixed 1 GiB driver heap: with more headroom, JVM heap growth
    # (not the program) decides peak RSS from run to run
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    for p in (os.path.join(ROOT, "tools"), ROOT):
        if p not in sys.path:
            sys.path.insert(0, p)


def _error(e: Exception) -> str:
    lines = str(e).strip().splitlines() or [type(e).__name__]
    return f"error: {lines[0][:300]}"


def fingerprint(df) -> tuple[int, str]:
    """Materialize ``df`` fully through the noop sink and return
    (rows, sum of xxhash64 over every column) observed on the way."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    named = df.toDF(*[f"c{i}" for i in range(len(df.columns))])
    obs = Observation("fingerprint")
    (named.observe(obs, F.count(F.lit(1)).alias("rows"),
                   F.sum(F.xxhash64(*named.columns).cast("decimal(20,0)")).alias("hash"))
     .write.format("noop").mode("overwrite").save())
    got = obs.get
    return int(got["rows"]), str(got["hash"])


def _oracle_con(inputs: str):
    import duckdb

    con = duckdb.connect()
    for name in sorted(os.listdir(inputs)):
        p = os.path.join(inputs, name)
        src = os.path.join(p, "*.parquet") if os.path.isdir(p) else p
        con.execute(f"CREATE VIEW {name.removesuffix('.parquet')} AS "
                    f"SELECT * FROM read_parquet('{src}')")
    return con


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for both."""
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def run(workload: str, seed: int, seconds: float, traced: bool, work: str,
        ops=None) -> dict:
    """One benchmark run in ``work`` (see the module docstring).  The
    environment must already be set by :func:`_environment`."""
    from fsharp_dataframe_spark import get_spark
    from fsharp_dataframe_spark.sources.parquet import load_table

    inputs = os.path.join(work, "inputs")
    t = time.perf_counter()
    generated = gen.generate(workload, seed, inputs)
    rec: dict = {"workload": workload, "seed": seed, "gen_s": time.perf_counter() - t,
                 "params": generated["params"], "rows": generated["rows"]}
    ops = workloads.ops_for(workload) if ops is None else ops
    spans = tracing.Spans()
    with tracing.RssSampler() as rss:
        t0 = time.perf_counter()
        spark = get_spark(app_name=f"perfbench-{workload}",
                          extra_conf={"spark.ui.showConsoleProgress": "false"})
        try:
            t1 = time.perf_counter()
            for name in rec["rows"]:
                load_table(spark, inputs, name).schema
            t2 = time.perf_counter()
            verified, problems, warm_s = _verify_pass(
                spark, ops, inputs, workloads.EXTRA_WARMUP.get(workload, 0))
            t3 = t2 + warm_s
            rec.update(start_s=t1 - t0, staging_s=t2 - t1, warmup_s=warm_s,
                       setup_s=t3 - t0)
            for name, a, b in (("session.start", t0, t1), ("sources.staging", t1, t2),
                               ("warmup", t2, t3)):
                spans.add(name, a, b, None, None)
            rec.update(_timed(spark, ops, inputs, rec["rows"], seconds, traced,
                              verified, problems, spans))
        finally:
            _stop_spark(spark)
    rec["spans"] = spans
    rec["peak_rss_mb"] = rss.peak_mb
    rec["peak_rss_parts"] = {k: round(v) for k, v in rss.peak_parts.items()}
    return rec


def _verify_pass(spark, ops, inputs, extra_passes: int) -> tuple[dict, dict, float]:
    """The untimed warm-up pass, which also checks every result against
    its oracle, then ``extra_passes`` more untimed passes that only
    materialize.  Returns ({op: fingerprint}, {op: problem}, wall time
    of the passes without the oracles).

    The passes issue each op from a thread of its own, so their cold
    per-job latencies overlap.  The oracles run afterwards, on this
    thread."""
    from concurrent.futures import ThreadPoolExecutor

    import check_oracle

    from fsharp_dataframe_spark.functions.util import release_cached

    def first_run(op):
        try:
            df = op.build(spark, inputs).persist()
            fp = fingerprint(df)
            got = df.toPandas()
            df.unpersist()
            return fp, got, None
        except Exception as e:  # the op raised: a failed op
            return None, None, _error(e)

    def rerun(op):
        try:
            fingerprint(op.build(spark, inputs))
        except Exception:  # counted by the verify pass or the timed passes
            pass

    t = time.perf_counter()
    with ThreadPoolExecutor(max_workers=len(ops)) as pool:
        results = list(pool.map(first_run, ops))
        for _ in range(extra_passes):
            release_cached()
            list(pool.map(rerun, ops))
    warm_s = time.perf_counter() - t
    release_cached()
    con = _oracle_con(inputs)
    verified, problems = {}, {}
    for op, (fp, got, error) in zip(ops, results):
        verified[op.name] = fp
        if error is None:
            try:
                error = "; ".join(check_oracle.compare(op.name, got,
                                                       con.execute(op.oracle_sql).df()))
            except Exception as e:  # the oracle raised: the op is unverified
                error = "oracle " + _error(e)
        if error:
            problems[op.name] = error
    con.close()
    return verified, problems, warm_s


def _timed(spark, ops, inputs, rows, seconds, traced, verified, problems, spans) -> dict:
    """Closed loop over whole passes of ``ops``; stops at the pass
    boundary nearest to ``seconds``."""
    from contextlib import nullcontext

    from fsharp_dataframe_spark.functions.util import release_cached

    store = tracing.StageMetrics(spark, _ATTRIBUTED) if traced else None
    failures = {name: [msg] for name, msg in problems.items()}
    attempted, failed = len(ops), len(problems)
    pass_latencies, by_op, op_stats, yields = [], {}, [], {}
    rows_done, trace_s, passes = 0, 0.0, 0
    t_start = time.perf_counter()
    with store.call_sites if store else nullcontext():
        while True:
            p0 = time.perf_counter()
            latencies = []
            for op in ops:
                group = f"{op.name}#{passes}"
                if store:
                    store.start(group, op.layer)
                fp, error = None, None
                t0 = t1 = time.perf_counter()
                try:
                    df = op.build(spark, inputs)
                    t1 = time.perf_counter()
                    fp = fingerprint(df)
                except Exception as e:  # counted as a failed op
                    error = _error(e)
                t2 = time.perf_counter()
                if error is None and op.name in problems:
                    error = problems[op.name]
                elif error is None and fp != verified[op.name]:
                    error = "wrong result"
                release_cached()
                attempted += 1
                latencies.append(t2 - t0)
                by_op.setdefault(op.name, []).append(t2 - t0)
                # every attempted op's input counts: correctness is
                # reported by attempted/failed, not by throughput
                rows_done += sum(rows[t] for t in op.tables)
                if error:
                    failed += 1
                    failures.setdefault(op.name, []).append(error)
                if store:
                    r0 = time.perf_counter()
                    by_layer = store.read(group, op.layer)
                    store.clear()
                    if passes == 0 and op.name in _YIELD_PROBES and fp is not None:
                        layer, probe = _YIELD_PROBES[op.name]
                        store.start(f"probe#{op.name}", op.layer)
                        yields[layer] = probe(spark, inputs, rows, fp[0])
                        store.clear()
                    sid = spans.add(op.name, t0, t2, None, passes, layer=op.layer,
                                    failed=bool(error))
                    spans.add("build", t0, t1, sid, passes, layer=op.layer)
                    spans.add("run", t1, t2, sid, passes, layer=op.layer, by_layer=by_layer)
                    op_stats.append({"layer": op.layer, "build_s": t1 - t0, "run_s": t2 - t1,
                                     "by_layer": by_layer})
                    trace_s += time.perf_counter() - r0
            pass_latencies.append(latencies)
            passes += 1
            now = time.perf_counter()
            if (now - t_start) + (now - p0) / 2 >= seconds:
                break
    call_site_s = store.call_sites.overhead_s if store else 0.0
    return {"failures": failures, "attempted": attempted, "failed": failed,
            "pass_latencies": pass_latencies, "by_op": by_op, "rows_done": rows_done,
            "timed_s": time.perf_counter() - t_start, "passes": passes,
            "op_stats": op_stats, "yields": yields, "trace_s": trace_s + call_site_s,
            "call_site_s": call_site_s}


def _minhash_yield(spark, inputs, rows, op_rows: int) -> float:
    """Pairs the minhash_pairs op kept over the LSH candidate pairs it
    estimated: the library's own path, with a threshold every estimate
    passes."""
    from fsharp_dataframe_spark.functions.dedup import minhash_lsh_pairs
    from fsharp_dataframe_spark.sources.parquet import load_table

    docs = load_table(spark, inputs, "documents")
    cands = fingerprint(minhash_lsh_pairs(docs, threshold=0.0, hash_family="md5"))[0]
    return op_rows / cands if cands else 0.0


def _cosine_yield(spark, inputs, rows, op_rows: int) -> float:
    """Pairs the hyperplane-LSH cosine path verifies over the distinct
    pairs sharing a bucket in any table, with the parameters of the
    registry's embed_near_dup_lsh query: the library's own cascade, at
    that query's threshold and at one every cosine passes.  The path is
    probed here, not timed as an op (see ``workloads``)."""
    from fsharp_dataframe_spark.functions.similarity import (
        cosine_near_dup_pairs, lsh_params_for,
    )
    from fsharp_dataframe_spark.sources.parquet import load_table

    n = rows["embeddings"]
    n_bits, n_tables = lsh_params_for(threshold=0.4, n_vectors=n,
                                      target_recall=0.999, max_bucket=256)

    def pairs(threshold: float) -> int:
        return fingerprint(cosine_near_dup_pairs(
            load_table(spark, inputs, "embeddings"), threshold=threshold, dim=64,
            n_bits=n_bits, n_tables=n_tables, n_vectors=n))[0]

    cands = pairs(-1.0)
    return pairs(0.4) / cands if cands else 0.0


_YIELD_PROBES = {
    "minhash_pairs": ("functions.dedup", _minhash_yield),
    "embed_near_dup": ("functions.similarity", _cosine_yield),
}


def _report(rec: dict, traced: bool) -> None:
    passes = rec["pass_latencies"]
    _, pct = tail(passes[0])
    print(f"# {rec['workload']} seed={rec['seed']} inputs={rec['rows']} "
          f"params={rec['params']} gen_s={rec['gen_s']:.2f}")
    print(f"# setup: start_s={rec['start_s']:.2f} staging_s={rec['staging_s']:.2f} "
          f"warmup_s={rec['warmup_s']:.2f}")
    print(f"# passes={rec['passes']} timed_s={rec['timed_s']:.2f} op_tail_s=p{pct:.1f} "
          f"of each pass's {len(passes[0])} ops, median of {len(passes)} passes")
    print("# op latency (s): " + " ".join(
        f"{k}={','.join(f'{x:.2f}' for x in v)}" for k, v in rec["by_op"].items()))
    print(f"# peak RSS by process (MB): {rec['peak_rss_parts']}")
    print(f"# failed_op_ratio={rec['failed'] / rec['attempted']:.4f} "
          f"({rec['failed']}/{rec['attempted']})")
    for name, errs in sorted(rec["failures"].items()):
        print(f"# FAILED {name} x{len(errs)}: {errs[0]}")
    if traced:
        jobs: dict[str, float] = {}
        for op in rec["op_stats"]:
            for layer, m in op["by_layer"].items():
                jobs[layer] = jobs.get(layer, 0.0) + m["jobs"]
        print("# jobs by the layer that launched them: "
              + " ".join(f"{k}={v:g}" for k, v in sorted(jobs.items())))
        for family in ("operators", "functions"):
            n = sum(v for k, v in jobs.items() if k.startswith(family + "."))
            print(f"# {family}.* jobs: {n:g}")
        print(f"# tracing overhead: {rec['trace_s']:.3f} s of {rec['timed_s']:.3f} s timed "
              f"(call-site lookup {rec['call_site_s']:.3f} s)")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    t_main = time.perf_counter()
    missing = [p for p in _REQUIRED if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: not a repository checkout, missing {missing}", file=sys.stderr)
        return 2
    work = os.path.join(os.getcwd(), ".perfbench_work",
                        f"{args.workload}-s{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        _environment(work)
        rec = run(args.workload, args.seed, args.seconds, bool(args.trace), work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if args.trace:
        rec["spans"].write(os.path.join(os.getcwd(), ".perfbench_out",
                                        f"{args.workload}-s{args.seed}-trace.json"),
                           workload=args.workload, seed=args.seed, passes=rec["passes"])
    _report(rec, bool(args.trace))
    print(f"# wall_s={time.perf_counter() - t_main:.2f}")
    line = result_line(rec, bool(args.trace))
    if not all(math.isfinite(m["value"]) for m in line["metrics"].values()):
        print("perfbench: non-finite metric", file=sys.stderr)
        return 1
    print(json.dumps(line), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
