"""The closed-loop workloads: their inputs, ops and output checks.

Each workload is a list of op kinds run one at a time from one driver
thread (closed loop, one op in flight) on ``local[N]``.  A *pass* runs
every op kind once; the op kinds fall in two groups, ``a`` and ``b``,
timed separately.  Every op's output is checked; a raised error or a
wrong answer counts as a failed op and the run goes on.

* ``seq_io`` — group ``a`` scans a Hadoop-written BLOCK+Snappy directory
  with four user-style DataFrame ops (``full``, ``key``, ``count``,
  ``first_rows``); group ``b`` writes a cached DataFrame of the same
  record generator with ``df.write.format("hadoop_seq")``.
* ``query_mix`` — 5 oracle-checked headline queries over parquet;
  group ``a`` is the SQL set, group ``b`` the pipeline set (ANN,
  streaming).  No SequenceFile is read or written.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass, field
from typing import Callable

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from perfbench import fixtures as fx

# Five of the headline queries, so that a run (JVM launch, warm-up
# pass, timed passes) stays under a minute on 4 cores.
QUERY_GROUPS = {
    "a": [  # sql: aggregate, 5-way shuffle join, window top-k
        "q1_pricing_summary",
        "join_5way_region_rollup_revenue",
        "window_topk_orders_per_customer",
    ],
    "b": [  # pipeline: brute-force ANN, stateful streaming
        "ann_brute_force_topk",
        "stream_stateful_user_stats",
    ],
}
QUERY_MIX = QUERY_GROUPS["a"] + QUERY_GROUPS["b"]

# input sizes: (full run, --smoke run)
SIZES = {
    "read_records": (25_000, 10_000),
    "write_records": (50_000, 10_000),
    "sf": (0.01, 0.002),
}
PARTS = 4  # Hadoop part files read, and write tasks
FIRST_ROWS = 1000
WRITE_SAMPLE = 8  # records per written file checked through Hadoop's reader


@dataclass
class Op:
    kind: str
    group: str  # "a" or "b"
    run: Callable[[], object]
    check: Callable[[object], str | None]  # problem description, or None


@dataclass
class Workload:
    ops: list[Op]
    setup_op: Callable[[], object]  # the op each set-up ends with
    # ({kind: median s}, {group: s}) -> {metric: (value, unit)}
    details: Callable[[dict[str, float], dict[str, float]], dict]
    inputs: dict = field(default_factory=dict)
    session_ready: Callable[[], object] = lambda: None  # after the set-up
    cleanup: Callable[[], object] = lambda: None


def _expect(got, want, what: str) -> str | None:
    return None if got == want else f"{what}: got {got}, expected {want}"


def _size(key: str, smoke: bool):
    return SIZES[key][1 if smoke else 0]


def seq_io(bench) -> Workload:
    n_read, n_write = _size("read_records", bench.smoke), _size("write_records", bench.smoke)
    path, manifest = fx.hadoop_seq_dir(bench.spark, bench.work, bench.seed, n_read, PARTS)
    read_table = fx.kv_records(bench.seed, n_read, stream=0)
    read_keys, read_values = read_table["key"].to_pylist(), read_table["value"].to_pylist()
    totals = (manifest["records"], manifest["key_bytes"], manifest["value_bytes"])
    write_table = fx.kv_records(bench.seed, n_write, stream=1)
    write_values = write_table["value"].to_pylist()
    written = fx.kv_totals(write_table)
    user_bytes = written["key_bytes"] + written["value_bytes"]
    write_src = os.path.join(bench.scratch, "write_input.parquet")
    pq.write_table(write_table, write_src)
    out_dir = os.path.join(bench.scratch, "seq_write_out")
    state: dict = {}

    def df(uses: str):
        return bench.reader(uses).load(path)

    def full():
        return tuple(df("key,value").agg(
            F.count(F.lit(1)), F.sum(F.length("key")), F.sum(F.length("value"))
        ).collect()[0])

    def key():
        return tuple(df("key").select("key").agg(
            F.count("key"), F.sum(F.length("key"))
        ).collect()[0])

    def first_rows():
        return df("key,value").limit(FIRST_ROWS).collect()

    def check_rows(rows) -> str | None:
        if len(rows) != FIRST_ROWS:
            return f"first_rows: {len(rows)} rows"
        bad = [r.key for r in rows if read_keys[fx.record_index(r.key)] != r.key
               or read_values[fx.record_index(r.key)] != r.value]
        return f"first_rows: {len(bad)} rows differ from the input" if bad else None

    def frame():
        # cached once per session, outside the timed ops: the write op
        # starts from a cached DataFrame, as an ETL job's last step would
        if state.get("spark") is not bench.spark:
            frame = bench.spark.read.parquet(write_src).repartition(PARTS).cache()
            frame.count()
            state.update(spark=bench.spark, frame=frame)
        return state["frame"]

    def write():
        bench.writer(frame()).mode("overwrite").save(out_dir)
        return out_dir

    def check_write(d) -> str | None:
        files = sorted(f for f in os.listdir(d) if f.endswith(".seq") and f[0] not in "._")
        if len(files) != PARTS:
            return f"write: {len(files)} part files, expected {PARTS}"
        got = fx.hadoop_count(bench.spark, d)
        if got != n_write:
            return f"write: Hadoop's reader counts {got} records, expected {n_write}"
        for f in files:
            for k, v in fx.hadoop_head(bench.spark, os.path.join(d, f), WRITE_SAMPLE):
                if write_values[fx.record_index(k)] != v:
                    return f"write: record {k} of {f} differs from the input"
        state["file_bytes"] = sum(os.path.getsize(os.path.join(d, f)) for f in files)
        return None

    ops = [
        Op("full", "a", full, lambda r: _expect(r, totals, "full")),
        Op("key", "a", key, lambda r: _expect(r, totals[:2], "key")),
        Op("count", "a", lambda: df("").count(), lambda r: _expect(r, totals[0], "count")),
        Op("first_rows", "a", first_rows, check_rows),
        Op("write", "b", write, check_write),
    ]

    def details(med, _):
        return {
            "read_full_recs_per_s": (n_read / med["full"], "rec/s"),
            "read_key_recs_per_s": (n_read / med["key"], "rec/s"),
            "read_count_recs_per_s": (n_read / med["count"], "rec/s"),
            "read_first_rows_s": (med["first_rows"], "s"),
            "write_recs_per_s": (n_write / med["write"], "rec/s"),
            "write_bytes_per_user_byte": (state["file_bytes"] / user_bytes, "ratio"),
        }

    return Workload(ops, first_rows, details, {
        "read_records": n_read, "read_file_bytes": manifest["file_bytes"],
        "read_snappy_ratio": manifest["snappy_ratio"], "write_records": n_write,
        "write_user_bytes": user_bytes, "parts": PARTS,
    }, session_ready=frame, cleanup=lambda: shutil.rmtree(out_dir, ignore_errors=True))


def query_mix(bench) -> Workload:
    from hadoop_formats_spark.queries.registry import QUERIES

    sf = _size("sf", bench.smoke)
    sf_dir, manifest = fx.sf_tables(bench.work, bench.seed, sf, QUERY_MIX)

    def query(name):
        return lambda: QUERIES[name].builder(bench.spark, sf_dir).toPandas()

    def expect(name):
        return lambda pdf: _expect(fx.result_answer(pdf), manifest["oracle"][name], name)

    ops = [Op(name, group, query(name), expect(name))
           for group, names in QUERY_GROUPS.items() for name in names]

    def details(_, groups):
        return {
            "mix_sql_s": (groups["a"], "s"),
            "mix_pipeline_s": (groups["b"], "s"),
        }

    return Workload(ops, query(QUERY_MIX[0]), details, {"sf": sf, "rows": manifest["rows"]})


WORKLOADS = {"seq_io": seq_io, "query_mix": query_mix}
