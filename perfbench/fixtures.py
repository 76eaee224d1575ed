"""Seeded benchmark inputs.

Every input is a pure function of ``(seed, size, GENERATOR_VERSION)``:

* ``kv_records`` — Text→Text records: ordered keys that encode their
  record index, values drawn as Zipf-distributed words from a seeded
  vocabulary (so Snappy finds real back-references, about 2x).
* ``hadoop_seq_dir`` — those records written by Hadoop itself
  (``saveAsSequenceFile``, BLOCK + ``SnappyCodec``), then on every use
  read back with Hadoop's reader and checked against the generator's
  record count and key/value byte sums.  The program's own writer never
  produces read inputs.
* ``sf_tables`` — TPC-H-shaped star schema plus the ``events``,
  ``documents`` and ``embeddings`` tables the query mix reads, with the
  DuckDB oracle's answer to every query cached beside them.

Directories are cached under ``<work>/fixtures/<key>``, published by
rename once built, and re-verified (file sizes and SHA-256 against
their manifest) on every later use.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time
import uuid

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GENERATOR_VERSION = 2
TEXT = "org.apache.hadoop.io.Text"
SNAPPY = "org.apache.hadoop.io.compress.SnappyCodec"
KEEP_FIXTURES = 4  # most recent fixture dirs kept per kind
MANIFEST = "_manifest.json"  # "_" prefix: skipped by Hadoop and hadoop_seq readers


class FixtureError(RuntimeError):
    pass


# --------------------------------------------------------------------------
# Text→Text records


def kv_records(seed: int, n: int, stream: int = 0) -> pa.Table:
    """``n`` records ``(key, value)``; ``stream`` separates independent
    record sets drawn from the same seed (read input vs write input)."""
    rng = np.random.default_rng([seed, stream, GENERATOR_VERSION])
    vocab_size = 20_000
    letters = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz", dtype=np.uint8)
    # word lengths by Zipf rank are the same for every seed, so every
    # seed gives about the same bytes (the frequent words' lengths would
    # otherwise move the total by +-12%); the seed picks the letters
    word_lens = np.random.default_rng(GENERATOR_VERSION).integers(2, 11, vocab_size)
    chars = letters[rng.integers(0, 26, int(word_lens.sum()))].tobytes().decode()
    ends = np.cumsum(word_lens)
    vocab = np.array(
        [chars[e - ln : e] for e, ln in zip(ends.tolist(), word_lens.tolist())],
        dtype=object,
    )
    words_per_rec = rng.integers(4, 20, n)
    ranks = rng.zipf(1.3, int(words_per_rec.sum())) - 1
    words = vocab[ranks % vocab_size]
    bounds = np.concatenate([[0], np.cumsum(words_per_rec)]).tolist()
    values = [" ".join(words[bounds[i] : bounds[i + 1]]) for i in range(n)]
    # keys sort in record order and end in the record index, so a
    # sampled record can be checked against the generator directly
    keys = [f"user/{seed % 997:03d}/{i:010d}" for i in range(n)]
    return pa.table({"key": pa.array(keys, pa.string()), "value": pa.array(values, pa.string())})


def kv_totals(table: pa.Table) -> dict:
    """Record count and key/value length sums (ASCII: chars == bytes)."""
    import pyarrow.compute as pc

    return {
        "records": table.num_rows,
        "key_bytes": int(pc.sum(pc.binary_length(table["key"])).as_py() or 0),
        "value_bytes": int(pc.sum(pc.binary_length(table["value"])).as_py() or 0),
    }


def record_index(key: str) -> int:
    return int(key.rsplit("/", 1)[1])


# --------------------------------------------------------------------------
# cache plumbing


def _sha256(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for chunk in iter(lambda: f.read(1 << 20), b""):
            h.update(chunk)
    return h.hexdigest()


def _file_digests(d: str) -> dict:
    return {
        f: [os.path.getsize(os.path.join(d, f)), _sha256(os.path.join(d, f))]
        for f in sorted(os.listdir(d))
        if f != MANIFEST
    }


def _cached(work: str, kind: str, key: str, build) -> tuple[str, dict]:
    """Return ``(dir, manifest)`` of a verified fixture, building it
    with ``build(tmp_dir) -> manifest`` when absent."""
    root = os.path.join(work, "fixtures")
    final = os.path.join(root, f"{kind}-{key}-v{GENERATOR_VERSION}")
    mpath = os.path.join(final, MANIFEST)
    if os.path.exists(mpath):
        with open(mpath) as f:
            manifest = json.load(f)
        if manifest.get("files") != _file_digests(final):
            raise FixtureError(f"fixture {final} changed since it was verified")
        os.utime(final)
        return final, manifest
    os.makedirs(root, exist_ok=True)
    for d in os.listdir(root):  # a killed run's half-built fixture
        if d.startswith("tmp-"):
            shutil.rmtree(os.path.join(root, d), ignore_errors=True)
    tmp = os.path.join(root, f"tmp-{uuid.uuid4().hex[:8]}")
    os.makedirs(tmp)
    try:
        t0 = time.perf_counter()
        manifest = build(tmp)
        manifest["build_s"] = time.perf_counter() - t0
        manifest["files"] = _file_digests(tmp)
        with open(os.path.join(tmp, MANIFEST), "w") as f:
            json.dump(manifest, f, indent=1, sort_keys=True)
        os.rename(tmp, final)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    _evict(root, kind)
    return final, manifest


def _evict(root: str, kind: str) -> None:
    dirs = sorted(
        (os.path.getmtime(os.path.join(root, d)), d)
        for d in os.listdir(root)
        if d.startswith(kind + "-")
    )
    for _, d in dirs[:-KEEP_FIXTURES]:
        shutil.rmtree(os.path.join(root, d), ignore_errors=True)


# --------------------------------------------------------------------------
# Hadoop-written BLOCK+Snappy SequenceFiles


def hadoop_read_totals(spark, path: str) -> dict:
    """Record count and key/value byte sums as Hadoop's own
    SequenceFile reader sees them."""
    rdd = spark.sparkContext.sequenceFile(path, TEXT, TEXT)
    n, kb, vb = rdd.map(
        lambda kv: (1, len(kv[0].encode()), len(kv[1].encode()))
    ).fold((0, 0, 0), lambda a, b: (a[0] + b[0], a[1] + b[1], a[2] + b[2]))
    return {"records": n, "key_bytes": kb, "value_bytes": vb}


def hadoop_count(spark, path: str) -> int:
    """Record count through Hadoop's reader, without leaving the JVM."""
    text = spark.sparkContext._jvm.java.lang.Class.forName(TEXT)
    return spark.sparkContext._jsc.sequenceFile(path, text, text).count()


def _hadoop_reader(spark, path: str):
    jvm, gw = spark.sparkContext._jvm, spark.sparkContext._gateway
    io = jvm.org.apache.hadoop.io
    opts = gw.new_array(io.SequenceFile.Reader.Option, 1)
    opts[0] = io.SequenceFile.Reader.file(jvm.org.apache.hadoop.fs.Path(path))
    return io.SequenceFile.Reader(spark.sparkContext._jsc.hadoopConfiguration(), opts)


def hadoop_head(spark, path: str, n: int) -> list[tuple[str, str]]:
    """First ``n`` records of one file through ``SequenceFile.Reader``."""
    io = spark.sparkContext._jvm.org.apache.hadoop.io
    reader = _hadoop_reader(spark, path)
    try:
        key, value, out = io.Text(), io.Text(), []
        while len(out) < n and reader.next(key, value):
            out.append((key.toString(), value.toString()))
        return out
    finally:
        reader.close()


def hadoop_seq_dir(spark, work: str, seed: int, n: int, parts: int = 4) -> tuple[str, dict]:
    """``parts`` Hadoop-written BLOCK+Snappy Text→Text part files."""

    def build(tmp: str) -> dict:
        table = kv_records(seed, n, stream=0)
        expected = kv_totals(table)
        sc = spark.sparkContext
        hconf = sc._jsc.hadoopConfiguration()
        hconf.set("mapreduce.output.fileoutputformat.compress.type", "BLOCK")
        out = os.path.join(tmp, "hadoop")
        pairs = list(zip(table["key"].to_pylist(), table["value"].to_pylist()))
        sc.parallelize(pairs, parts).saveAsSequenceFile(out, SNAPPY)
        for f in os.listdir(out):  # keep only the part files
            if not f.startswith("part-"):
                os.remove(os.path.join(out, f))
        for f in sorted(os.listdir(out)):
            os.rename(os.path.join(out, f), os.path.join(tmp, f + ".seq"))
        os.rmdir(out)
        for f in os.listdir(tmp):
            reader = _hadoop_reader(spark, os.path.join(tmp, f))
            try:
                layout = (reader.isBlockCompressed(), reader.getCompressionCodec().getClass().getName())
            finally:
                reader.close()
            if layout != (True, SNAPPY):
                raise FixtureError(f"{f} is {layout}, not BLOCK+Snappy")
        raw = expected["key_bytes"] + expected["value_bytes"]
        disk = sum(os.path.getsize(os.path.join(tmp, f)) for f in os.listdir(tmp))
        return {**expected, "file_bytes": disk, "snappy_ratio": raw / disk}

    path, manifest = _cached(work, "seq", f"s{seed}-n{n}-p{parts}", build)
    # checked on every use, not only when built, so that a run does the
    # same Spark jobs before its set-up either way
    got = hadoop_read_totals(spark, path)
    want = {k: manifest[k] for k in got}  # the generator's totals
    if got != want:
        shutil.rmtree(path, ignore_errors=True)
        raise FixtureError(f"Hadoop reads {got} from {path}, the generator made {want}")
    return path, manifest


# --------------------------------------------------------------------------
# query-mix tables


_WORDS = (
    "join hash row batch scan customer column filter small slow merge order "
    "vector line data table agg value key stream window spark a group part "
    "big sort query fast the and is of"
).split()


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, lo: str, hi: str, n: int) -> pa.Array:
    d0 = np.datetime64(lo, "D")
    span = int((np.datetime64(hi, "D") - d0).astype(int))
    days = d0 + rng.integers(0, span + 1, n).astype("timedelta64[D]")
    return pa.array(days.astype("datetime64[us]"), pa.timestamp("us"))


def _tables(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng([seed, 7, GENERATOR_VERSION])
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_ev = int(1_500_000 * sf), int(1_000_000 * sf)
    n_users, n_doc, n_vec = int(15_000 * sf), int(50_000 * sf), int(20_000 * sf)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust
        ),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    adj = ["large", "hot", "blue", "small", "red", "cold", "green", "tiny"]
    noun = ["ring", "bolt", "nut", "gear", "pipe", "valve"]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in zip(
            rng.integers(0, len(adj), n_part).tolist(),
            rng.integers(0, len(noun), n_part).tolist(),
        )],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part).tolist()],
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2),
    })
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000, 500_000, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
        ),
    })
    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(np.repeat(np.arange(n_ord), lines), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(
            np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1, pa.int32()
        ),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105_000, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_li),
    })
    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    ts = np.sort(t0 + rng.integers(0, 30 * 86_400_000_000, n_ev))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], n_ev),
        "value": np.round(rng.exponential(60.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev).tolist()],
    })
    # documents: word salad, with ~1% near-duplicates (1-3 tokens
    # changed) and ~0.2% exact duplicates of earlier documents
    lens = rng.integers(8, 100, n_doc)
    toks = rng.choice(_WORDS, int(lens.sum()))
    bounds = np.concatenate([[0], np.cumsum(lens)]).tolist()
    docs = [list(toks[bounds[i] : bounds[i + 1]]) for i in range(n_doc)]
    half = n_doc // 2
    for i in rng.integers(half, n_doc, max(1, n_doc // 100)).tolist():
        src = list(docs[int(rng.integers(0, half))])
        for p in rng.integers(0, len(src), int(rng.integers(1, 4))).tolist():
            src[p] = "dup"
        docs[i] = src
    for i in rng.integers(half, n_doc, max(1, n_doc // 500)).tolist():
        docs[i] = list(docs[int(rng.integers(0, half))])
    texts = [" ".join(d) for d in docs]
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": rng.choice(["en", "en", "de", "es", "fr", "zh"], n_doc),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64()),
    })
    # embeddings: 10 Gaussian clusters on the unit sphere, dim 64
    centers = rng.standard_normal((10, 64))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.integers(0, 10, n_vec)
    vecs = centers[labels] + 0.25 * rng.standard_normal((n_vec, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vec), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return t


def _answer(cols: list[str], rows: list[tuple]) -> dict:
    from tools import check_correctness as cc

    cols = [c.lower() for c in cols]
    return {"rows": len(rows), "cols": sorted(cols), "hash": cc._hash_rows(cols, rows)}


def oracle_answer(con, sql: str) -> dict:
    """Row count, lower-cased columns and value hash of a DuckDB oracle
    result, normalised exactly as ``tools/check_correctness.py`` does."""
    from tools import check_correctness as cc

    return _answer(*cc._pandas_rows(con.sql(sql)))


def result_answer(pdf) -> dict:
    """The same normalisation for a Spark result fetched through pandas."""
    from tools import check_correctness as cc

    return _answer(*cc._frame_rows(pdf))


def sf_tables(work: str, seed: int, sf: float, queries: list[str]) -> tuple[str, dict]:
    """Parquet tables for the query mix plus the oracle answer of each
    query in ``queries`` (``manifest["oracle"][name]``)."""

    def build(tmp: str) -> dict:
        import duckdb

        from hadoop_formats_spark.queries.registry import QUERIES

        tables = _tables(seed, sf)
        for name, table in tables.items():
            pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
        con = duckdb.connect()
        con.execute("SET threads = 2")
        for name in tables:
            con.execute(
                f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{tmp}/{name}.parquet')"
            )
        oracle = {q: oracle_answer(con, QUERIES[q].oracle) for q in queries}
        con.close()
        return {
            "sf": sf,
            "rows": {k: v.num_rows for k, v in tables.items()},
            "oracle": oracle,
        }

    key = f"s{seed}-sf{sf:g}-q{hashlib.sha1(','.join(queries).encode()).hexdigest()[:8]}"
    return _cached(work, "sf", key, build)
