"""The benchmark's operations, grouped into workloads.

An `Op` is one timed call into the program.  `run(span)` performs it and
returns its output; `check(output)` compares that output with the expected
result outside the timer.  `span(name)` is the tracer's context manager
(a no-op in measured runs), used to split an op into the phases that the
per-layer metrics report.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass
from typing import Any

import numpy as np

import mrtasks

# query_lake's light reads (0.15-0.4 s warm), at least one per read module
# except graph; a warm cycle runs each 10 times.  The order of their warm
# costs puts the median among q30, q31, q52, q74 and q117 and the 90th
# percentile among the q129 runs (README.md).
QUERY_LAKE_READS = [
    "q02_filter_project",                                    # relational
    "q30_wordcount",                                         # text
    "q31_top_words",                                         # text
    "q40_dedup_exact",                                       # dedup
    "q52_label_centroids",                                   # similarity
    "q74_json_extract",                                      # events
    "q117_table_fingerprint",                                # scale
    "q129_map_in_arrow",                                     # functions
    "q60_multimodal_manifest",                               # multimodal
]
# query_lake's heavy ops (1-2.6 s warm), each once a warm cycle.  q168
# reads the session's cached co-purchase graph, built in the cold cycle.
QUERY_LAKE_HEAVY = ["q96_stream_sink_parquet", "q168_triangle_count"]
# Two of the five mrface queries (q80-q84), the word count and the
# secondary sort; README.md says why.
MRFACE = ["q80_mr_wordcount", "q83_mr_secondary_sort"]
TABLE_NAMES = (
    "region nation customer supplier part orders lineitem events documents "
    "embeddings"
).split()


@dataclass
class Op:
    name: str
    layer: str
    run: Callable[[Callable], Any]
    check: Callable[[Any], bool]


def layer_of(fn) -> str:
    """`tinymr_spark.operators.text` -> `operators.text`."""
    return fn.__module__.removeprefix("tinymr_spark.")


# ---------------------------------------------------------------------------
# Registry queries, checked against their DuckDB oracle


class Oracle:
    """DuckDB over the generated tables; expected hashes are computed once
    per query, before the Spark session exists."""

    def __init__(self, sf_dir: str):
        import duckdb

        self.con = duckdb.connect()
        for t in TABLE_NAMES:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
            )

    def expected_hash(self, sql: str) -> str:
        from check_oracle import table_hash

        rel = self.con.sql(sql)
        return table_hash(rel.fetchall(), rel.columns)

    def close(self):
        self.con.close()


def registry_op(spark, sf_dir: str, name: str, fn, layer: str, expected: str) -> Op:
    from check_oracle import table_hash

    def run(span):
        with span("construct"):
            df = fn(spark, sf_dir)
        with span("action"):
            rows = df.collect()
        return rows, df.columns

    def check(out):
        rows, cols = out
        return table_hash([tuple(r) for r in rows], cols) == expected

    return Op(name, layer, run, check)


def registry_ops(spark, sf_dir: str, names: list[str], oracle: Oracle) -> list[Op]:
    """Ops calling the registry through `__spark_entry__.queries()` (which
    ships the package and pins the session confs first)."""
    import __spark_entry__ as entry
    from tinymr_spark.operators import all_queries

    queries, sqls, impl = entry.queries(), entry.oracle_sql(), all_queries()
    return [
        registry_op(spark, sf_dir, n, queries[n], layer_of(impl[n]),
                    oracle.expected_hash(sqls[n]))
        for n in names
    ]


# ---------------------------------------------------------------------------
# MapReduce contract


BIG = 12000


def mapreduce_ops(spark, seed: int) -> tuple[list[Op], list[Op]]:
    """(light, heavy) calls on both sides of `MapReduce.local_threshold`
    (10k items), over Zipf-keyed text at three skews and records of
    uniform keyed triples.  Light: 16 in-process calls on 6k-10k items.
    14 of them (50-200 ms each) set the median latency; the records carry
    12 triples each so that the secondary sort and the generator reducer
    cost about what the mid-skew 10k and hot-skew 6k word counts do, and
    the median falls inside that group rather than on the gap below it.
    The two word counts over long lines (16-48 words, 0.4-0.6 s) set the
    90th percentile.  Heavy: 4 distributed calls on BIG items (1-1.4 s
    each) and, with them, the mrface queries, all beyond the 90th
    percentile."""
    rng = np.random.default_rng([seed, 1])
    threshold = mrtasks.MapReduce.local_threshold
    skews = [(label, mrtasks.zipf_lines(rng, threshold, skew, (6, 18)))
             for label, skew in (("hot", 1.1), ("mid", 1.5), ("flat", 2.0))]
    lines_big = mrtasks.zipf_lines(rng, BIG, 1.3, (2, 8))
    records = mrtasks.uniform_records(rng, threshold, 12)
    records_big = mrtasks.uniform_records(rng, BIG, 2)
    lines_long = mrtasks.zipf_lines(rng, threshold, 1.3, (16, 48))

    def call_op(name, layer, task, items, expected):
        return Op(name, layer, lambda span: task(items), lambda out: out == expected)

    light = []
    for size in (6000, threshold):
        for label, lines in skews:
            part = lines[:size]
            want = mrtasks.expect_wordcount(part)
            light.append(call_op(f"wc_{label}_{size}", "mapreduce.call_local",
                                 mrtasks.WordCount(), part, want))
            light.append(call_op(f"wcc_{label}_{size}", "mapreduce.call_local",
                                 mrtasks.WordCountCombine(), part, want))
    light.append(call_op(f"secsort_{threshold}", "mapreduce.call_local",
                         mrtasks.SecondarySort(), records,
                         mrtasks.expect_secondary_sort(records)))
    light.append(call_op(f"keystats_{threshold}", "mapreduce.call_local",
                         mrtasks.KeyStats(), records, mrtasks.expect_key_stats(records)))
    want_long = mrtasks.expect_wordcount(lines_long)
    light.append(call_op(f"wc_long_{threshold}", "mapreduce.call_local",
                         mrtasks.WordCount(), lines_long, want_long))
    light.append(call_op(f"wcc_long_{threshold}", "mapreduce.call_local",
                         mrtasks.WordCountCombine(), lines_long, want_long))

    want_big = mrtasks.expect_wordcount(lines_big)
    heavy = [
        call_op(f"wc_{BIG}", "mapreduce.call_dist", mrtasks.WordCount(),
                lines_big, want_big),
        call_op(f"wcc_{BIG}", "mapreduce.call_combine", mrtasks.WordCountCombine(),
                lines_big, want_big),
        call_op(f"secsort_{BIG}", "mapreduce.call_secsort", mrtasks.SecondarySort(),
                records_big, mrtasks.expect_secondary_sort(records_big)),
    ]
    sc = spark.sparkContext
    rdd = sc.parallelize(lines_big, sc.defaultParallelism)

    def to_df(span):
        df = mrtasks.WordCountCombine().to_df(rdd, spark=spark, value_type="bigint")
        return {r[0]: r[1] for r in df.collect()}

    heavy.append(Op(f"to_df_{BIG}", "mapreduce.to_df", to_df,
                    lambda out: out == want_big))
    return light, heavy


def op_items(name: str) -> int:
    """Items a MapReduce op processes (its name ends in the input size)."""
    return int(name.rsplit("_", 1)[1])


# ---------------------------------------------------------------------------
# Lakehouse writes (sources.minitable)


class LakeCycle:
    """One write/append/merge/update/delete/optimize/read/read-as-of
    sequence on a fresh minitable built from the first N_ROWS `orders`,
    with the expected final state computed by DuckDB applying the same
    seeded predicates.  The reads are
    checked on per-status aggregates whose price sum is taken in integer
    cents: a float sum depends on the order rows are added in, which
    differs between the engines."""

    N_ROWS = 4000
    N_FILES = 4

    def __init__(self, spark, sf_dir: str, root: str, seed: int, oracle: Oracle):
        from pyspark.sql import functions as F

        self.spark, self.root = spark, root
        rng = np.random.default_rng([seed, 2])
        n = self.N_ROWS
        orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet")).where(
            F.col("o_orderkey") < n)
        self.base = orders.repartitionByRange(self.N_FILES, "o_orderkey")
        self.schema = orders.schema
        # appended rows: fresh keys past the table
        n_app = 1000
        app_keys = np.arange(n, n + n_app)
        self.append_rows = self._rows(rng, app_keys)
        # merge source: a run of existing keys (update) plus new keys (insert)
        lo = int(rng.integers(n // 2, n - 600))
        self.merge_rows = self._rows(
            rng, np.concatenate([np.arange(lo, lo + 300), np.arange(n + n_app, n + n_app + 200)])
        )
        # update: a narrow key range; delete: every key below a point inside
        # the second range file, so one file drops whole, one is rewritten
        # and the rest stay untouched
        a = int(rng.integers(n // 8, n // 2 - 600))
        self.update_range = (a, a + 500)
        self.delete_below = int(rng.integers(n // self.N_FILES + n // 30,
                                             2 * n // self.N_FILES - n // 30))
        self.agg = [
            F.count("*").alias("n"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias("cents"),
            F.min("o_orderkey").alias("kmin"),
            F.max("o_orderkey").alias("kmax"),
        ]
        self.expected_latest, self.expected_v0 = self._expected(oracle)

    def _rows(self, rng, keys):
        from datetime import datetime, timedelta

        base = datetime(1996, 1, 1)
        return [
            (int(k), int(rng.integers(0, 1500)), str(rng.choice(["F", "O", "P"])),
             round(float(rng.uniform(1000, 500000)), 2),
             base + timedelta(days=int(rng.integers(0, 2000))),
             str(rng.choice(["1-URGENT", "3-MEDIUM", "5-LOW"])))
            for k in keys
        ]

    def _expected(self, oracle: Oracle):
        from check_oracle import table_hash

        con = oracle.con
        con.execute("CREATE OR REPLACE TEMP TABLE lake AS SELECT * FROM orders "
                    f"WHERE o_orderkey < {self.N_ROWS}")
        v0 = self._agg_sql(con)
        con.executemany("INSERT INTO lake VALUES (?, ?, ?, ?, ?, ?)", self.append_rows)
        keys = [r[0] for r in self.merge_rows]
        con.execute(f"DELETE FROM lake WHERE o_orderkey IN ({','.join(map(str, keys))})")
        con.executemany("INSERT INTO lake VALUES (?, ?, ?, ?, ?, ?)", self.merge_rows)
        a, b = self.update_range
        con.execute(
            f"UPDATE lake SET o_orderstatus = 'U' WHERE o_orderkey >= {a} AND o_orderkey < {b}"
        )
        con.execute(f"DELETE FROM lake WHERE o_orderkey < {self.delete_below}")
        latest = self._agg_sql(con)
        con.execute("DROP TABLE lake")
        cols = ["o_orderstatus", "n", "cents", "kmin", "kmax"]
        return table_hash(latest, cols), table_hash(v0, cols)

    @staticmethod
    def _agg_sql(con):
        return con.sql(
            "SELECT o_orderstatus, count(*), sum(CAST(round(o_totalprice * 100) AS BIGINT)), "
            "min(o_orderkey), "
            "max(o_orderkey) FROM lake GROUP BY 1"
        ).fetchall()

    def ops(self, cycle: int) -> list[Op]:
        from tinymr_spark.sources import minitable
        from check_oracle import table_hash

        spark = self.spark
        path = os.path.join(self.root, f"cycle{cycle}")

        def version_is(v):
            return lambda out: out == v

        def read(version):
            def run(span):
                df = minitable.read(spark, path, version=version)
                rows = df.groupBy("o_orderstatus").agg(*self.agg).collect()
                return rows, ["o_orderstatus", "n", "cents", "kmin", "kmax"]
            return run

        def agg_is(expected):
            return lambda out: table_hash([tuple(r) for r in out[0]], out[1]) == expected

        def dml_committed(v):
            return lambda out: out is not None and out[0] == v

        a, b = self.update_range
        mk = "sources.minitable."
        return [
            Op("lake_write", mk + "write",
               lambda span: minitable.write(spark, self.base, path, stats_cols=["o_orderkey"]),
               version_is(0)),
            Op("lake_append", mk + "append",
               lambda span: minitable.write(
                   spark, spark.createDataFrame(self.append_rows, self.schema), path),
               version_is(1)),
            Op("lake_merge", mk + "merge",
               lambda span: minitable.merge(
                   spark, spark.createDataFrame(self.merge_rows, self.schema), path,
                   key="o_orderkey"),
               version_is(2)),
            Op("lake_update", mk + "update",
               lambda span: minitable.update(
                   spark, path, {"o_orderstatus": "'U'"},
                   where=[("o_orderkey", ">=", a), ("o_orderkey", "<", b)]),
               dml_committed(3)),
            Op("lake_delete", mk + "delete",
               lambda span: minitable.delete(
                   spark, path, where=[("o_orderkey", "<", self.delete_below)]),
               dml_committed(4)),
            Op("lake_optimize", mk + "optimize",
               lambda span: minitable.optimize(
                   spark, path, small_bytes=1 << 20, target_bytes=8 << 20),
               lambda out: out is not None),
            Op("lake_read_latest", mk + "read_latest", read(None),
               agg_is(self.expected_latest)),
            Op("lake_read_asof", mk + "read_asof", read(0), agg_is(self.expected_v0)),
        ]


def table_stats(path: str) -> dict:
    """Write amplification of one cycle's table, from its directory."""
    data_files, data_bytes, log_files = 0, 0, 0
    for root, _dirs, files in os.walk(path):
        in_log = os.path.basename(root) == "_log"
        for f in files:
            if in_log:
                log_files += 1
            elif f.endswith(".parquet"):
                data_files += 1
                data_bytes += os.path.getsize(os.path.join(root, f))
    return {"files": data_files, "bytes": data_bytes, "log_files": log_files}
