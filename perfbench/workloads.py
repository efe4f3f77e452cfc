"""The op lists of the three workloads.

An op is one call into one layer's public function plus a full
materialization of its result (done by the runner).  Most ops are
registry queries from ``__spark_entry__``, each a thin wrapper over the
layer it is attributed to; their DuckDB oracles come from
``__spark_entry__._all_oracle_sql()``.  The two write ops are defined
here and are checked by reading back what they wrote.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class Op:
    name: str
    layer: str
    build: Callable[[SparkSession, str], DataFrame]
    tables: tuple[str, ...]   # input tables read: rows_per_s counts their rows
    oracle_sql: str           # DuckDB SQL over the input tables


LAYERS = ("session", "sources", "frame", "series",
          "operators.asof", "operators.window", "operators.resample", "operators.ewma",
          "functions.text", "functions.dedup", "functions.similarity", "functions.graph",
          "spark")

# (registry query, layer, input tables)
_TS = [
    ("asof_join", "operators.asof", ("events",)),
    ("asof_tolerance", "operators.asof", ("events",)),
    ("ewma", "operators.ewma", ("events",)),
    ("window_moving_avg", "operators.window", ("events",)),
    ("chunk_dist", "operators.window", ("events",)),
    ("fill_forward", "series", ("events",)),
    ("resample_daily", "operators.resample", ("events",)),
    ("sample_time", "operators.resample", ("events",)),
]
_ETL = [
    ("tpch_q1", "frame", ("lineitem",)),
    ("tpch_q5", "frame", ("region", "nation", "customer", "supplier", "orders", "lineitem")),
    ("tpch_q18", "frame", ("lineitem", "orders", "customer")),
    ("group_agg", "frame", ("lineitem",)),
    ("pivot", "frame", ("lineitem",)),
    ("frame_join_left", "frame", ("orders", "customer")),
    ("join_broadcast", "frame", ("lineitem", "orders", "customer", "nation")),
    ("append_frames", "frame", ("events",)),
    ("union_prefer_left", "series", ("events",)),
]
_DEDUP = [
    ("clean_corpus", "functions.text", ("documents",)),
    ("dedup_exact", "functions.dedup", ("documents",)),
    ("minhash_pairs", "functions.dedup", ("documents",)),
    ("dedup_clusters", "functions.graph", ("documents",)),
    ("incremental_dedup", "functions.dedup", ("documents",)),
    ("embed_near_dup", "functions.similarity", ("embeddings",)),
]
# Not ops: near_dedup and embed_near_dup_lsh.  Their oracles are the
# exact all-pairs SQL, which holds only while their LSH recall is total;
# on the generated inputs it is not (near_dedup misses pairs on every
# seed, embed_near_dup_lsh one pair on some seeds), so they would fail
# the correctness check on those seeds.  minhash_pairs times the MinHash
# LSH path with an oracle that replays it; the traced run probes the
# cosine LSH path for its candidate yield.


def _out(inputs: str, name: str) -> str:
    return os.path.join(os.path.dirname(inputs), "out", name)


def csv_roundtrip(spark: SparkSession, inputs: str) -> DataFrame:
    """``Frame.to_csv`` of the orders table, then ``Frame.read_csv`` of
    the written files with schema inference."""
    from fsharp_dataframe_spark import Frame

    path = _out(inputs, "orders_csv")
    Frame.read_parquet(spark, os.path.join(inputs, "orders.parquet")).to_csv(path)
    return Frame.read_csv(spark, path).df


def parquet_upsert(spark: SparkSession, inputs: str) -> DataFrame:
    """``save_parquet`` of the orders table, then a ``merge_parquet``
    upsert of the update batch; the result is the table read back."""
    from fsharp_dataframe_spark.sources.parquet import (
        load_table, merge_parquet, read_parquet, save_parquet,
    )

    path = _out(inputs, "orders_table")
    save_parquet(load_table(spark, inputs, "orders"), path)
    merge_parquet(spark, path, load_table(spark, inputs, "orders_updates"),
                  id_col="o_orderkey")
    return read_parquet(spark, path)


_WRITE_OPS = {
    "frame_etl": [
        Op("csv_roundtrip", "sources", csv_roundtrip, ("orders",),
           "SELECT * FROM orders"),
        Op("parquet_upsert", "sources", parquet_upsert, ("orders", "orders_updates"),
           "SELECT * FROM orders WHERE o_orderkey NOT IN "
           "(SELECT o_orderkey FROM orders_updates) "
           "UNION ALL SELECT * FROM orders_updates"),
    ],
}

# Untimed passes beyond the verify pass.  The ts_ops ops are bound by
# planning and job set-up in the JVM, which keeps speeding up over the
# first passes: after one warm-up pass the first timed pass ran about
# 30% slower than later passes, after two within about 5%.
EXTRA_WARMUP = {"ts_ops": 1}

_REGISTRY_OPS = {"ts_ops": _TS, "frame_etl": _ETL, "dedup_corpus": _DEDUP}
WORKLOADS = tuple(_REGISTRY_OPS)


def _round_repr(expr: str, places: int) -> tuple[str, str]:
    """(old, new) oracle text: ``round(expr, places)`` made to round the
    shortest decimal repr of ``expr`` HALF_UP."""
    return (f"round({expr}, {places})",
            f"round(({expr})::VARCHAR::DECIMAL(38,20), {places})::DOUBLE")


# Edits to registry oracles that round a double differently from the
# program.  Spark's F.round rounds the shortest decimal repr of a double
# HALF_UP; the ewma oracle replays that through ::VARCHAR::DECIMAL, and
# the corrections below make it do so exactly.  On the inputs where the
# unedited oracles disagree, the unrounded values of the two engines are
# bit-identical; only the last rounded digit differs.
# - ewma: DECIMAL(30,15) drops digits of a repr such as
#   3.8890624999999996 (16 decimals), rounding it up to 3.8890625 before
#   the round to 6 places; Spark gives 3.889062.  DECIMAL(38,20) keeps
#   every digit of a repr below 10^18.
# - fill_forward, tpch_q1: round(DOUBLE, k) rounds the binary value, so
#   a mean whose repr is 64.97625 rounds down to 64.9762 (Spark: 64.9763),
#   and a sum of 1e-4 units whose repr ends in ...785 rounds down too.
_ORACLE_EDITS = {
    "ewma": [("::VARCHAR::DECIMAL(30,15)", "::VARCHAR::DECIMAL(38,20)")],
    "fill_forward": [
        _round_repr("sum(round(value * 10000)::BIGINT) / count(value) / 10000.0", 4),
    ],
    "tpch_q1": [
        _round_repr("sdu / 10000.0", 2),
        _round_repr("scu / 1000000.0", 2),
        *(_round_repr(f"({c}::DOUBLE / count_order::DOUBLE) / 100.0", 4)
          for c in ("squ", "sbu", "sdiscu")),
    ],
}


def _edited(name: str, sql: str) -> str:
    for old, new in _ORACLE_EDITS.get(name, ()):
        if sql.count(old) != 1:
            raise ValueError(f"oracle of {name} no longer holds {old!r} once")
        sql = sql.replace(old, new)
    return sql


def ops_for(workload: str) -> list[Op]:
    import __spark_entry__ as entry

    queries, oracles = entry._all_queries(), entry._all_oracle_sql()
    ops = [Op(name, layer, queries[name], tables, _edited(name, oracles[name]))
           for name, layer, tables in _REGISTRY_OPS[workload]]
    return ops + _WRITE_OPS.get(workload, [])
