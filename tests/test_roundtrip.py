"""Writer round-trip property tests: write with our writer, read with our
reader, compare (SURVEY §5 plan (a)).  Covers every Writable type pair
from FIXTURES.md §2 including edge rows (empty strings/bytes, ≥128-byte
values forcing multi-byte varints, negative integers of every width)."""

import numpy as np
import pyarrow as pa
import pytest

from hadoop_formats_spark.seqfile import core

rng = np.random.default_rng(42)


def roundtrip(tmp_path, keys: pa.Array, values: pa.Array, **kw):
    table = pa.table({"key": keys, "value": values})
    path = str(tmp_path / "t.seq")
    core.write_table(path, table, **kw)
    back = core.read_file(path)
    assert back.num_rows == table.num_rows
    return back


def test_text_int(tmp_path):
    n = 10_000
    keys = pa.array([f"F{i:07d}" for i in range(n)])
    values = pa.array(rng.integers(0, 101, n, dtype=np.int32), type=pa.int32())
    back = roundtrip(tmp_path, keys, values)
    assert back.column("key").to_pylist() == keys.to_pylist()
    assert back.column("value").to_pylist() == values.to_pylist()


def test_long_double(tmp_path):
    n = 10_000
    keys = pa.array(np.arange(n, dtype=np.int64))
    values = pa.array(rng.random(n))
    back = roundtrip(tmp_path, keys, values)
    assert back.column("key").to_pylist() == list(range(n))
    np.testing.assert_array_equal(
        np.array(back.column("value").to_pylist()), values.to_numpy()
    )


def test_short_negative(tmp_path):
    vals = np.array([-32768, -1, 0, 1, 32767, -12345], dtype=np.int16)
    keys = pa.array([f"k{i}" for i in range(len(vals))])
    back = roundtrip(tmp_path, keys, pa.array(vals, type=pa.int16()))
    assert back.column("value").to_pylist() == vals.tolist()


def test_long_extremes(tmp_path):
    vals = np.array(
        [-(2**63), -1, 0, 1, 2**63 - 1, -987654321098], dtype=np.int64
    )
    keys = pa.array([f"k{i}" for i in range(len(vals))])
    back = roundtrip(tmp_path, keys, pa.array(vals, type=pa.int64()))
    assert back.column("value").to_pylist() == vals.tolist()


def test_float_specials(tmp_path):
    vals = np.array([0.0, -0.0, 1.5, -1.5, np.inf, -np.inf, 3.4e38], dtype=np.float32)
    keys = pa.array([f"k{i}" for i in range(len(vals))])
    back = roundtrip(tmp_path, keys, pa.array(vals, type=pa.float32()))
    np.testing.assert_array_equal(
        np.array(back.column("value").to_pylist(), dtype=np.float32), vals
    )


def test_null_writable(tmp_path):
    n = 100
    keys = pa.array([f"k{i}" for i in range(n)])
    values = pa.nulls(n)
    back = roundtrip(tmp_path, keys, values)
    assert back.column("value").null_count == n


def test_bytes_with_empty(tmp_path):
    blobs = [b"", b"\x00\x01\x02", bytes(rng.integers(0, 256, 64, dtype=np.uint8)), b"", b"x" * 200]
    keys = pa.array([f"k{i}" for i in range(len(blobs))])
    back = roundtrip(tmp_path, keys, pa.array(blobs, type=pa.binary()))
    assert back.column("value").to_pylist() == blobs


def test_text_edge_cases(tmp_path):
    # empty strings (Writable.hs:105 special case), multi-byte UTF-8,
    # strings ≥ 128 B (multi-byte varint length prefix)
    strs = ["", "héllo wörld", "日本語テキスト", "a" * 127, "b" * 128, "c" * 5000, ""]
    keys = pa.array(list(range(len(strs))), type=pa.int64())
    back = roundtrip(tmp_path, keys, pa.array(strs))
    assert back.column("value").to_pylist() == strs


def test_int_text_swapped_roles(tmp_path):
    # Text as VALUE class with int keys already covered; now Text keys ≥128B
    keys = pa.array(["k" * 300, "", "short"])
    values = pa.array([1, 2, 3], type=pa.int32())
    back = roundtrip(tmp_path, keys, values)
    assert back.column("key").to_pylist() == keys.to_pylist()


def test_multi_block(tmp_path):
    n = 50_000
    keys = pa.array(np.arange(n, dtype=np.int64))
    values = pa.array([f"v{i}" for i in range(n)])
    table = pa.table({"key": keys, "value": values})
    path = str(tmp_path / "mb.seq")
    core.write_table(path, table, block_records=7_000)
    blocks = list(core.iter_blocks(path))
    assert len(blocks) == 8  # ceil(50000/7000)
    back = core.read_file(path)
    assert back.column("key").to_pylist() == list(range(n))
    # splits must also work on our own files
    import os

    size = os.path.getsize(path)
    total = sum(
        b.count
        for s in range(0, size, size // 3 + 1)
        for b in core.iter_blocks(path, start=s, end=min(s + size // 3 + 1, size))
    )
    assert total == n


def test_giant_batch_blocks_capped(tmp_path):
    # r16 (caught by the 1 B-record decade step): a single write_batch
    # call far larger than block_records must still emit spec-sized
    # record blocks — one huge block starves byte-range splits of sync
    # markers and cost a measured 12x decode slowdown at the decade
    n, br = 50_000, 7_000
    keys = pa.array([f"k{i:06d}" for i in range(n)])
    values = pa.array(np.arange(n, dtype=np.int32), pa.int32())
    path = str(tmp_path / "giant.seq")
    with core.SeqFileWriter(
        path,
        "org.apache.hadoop.io.Text",
        "org.apache.hadoop.io.IntWritable",
        block_records=br,
    ) as w:
        w.write_batch(keys, values)  # ONE batch of 50k rows
    counts = [b.count for b in core.iter_blocks(path)]
    assert counts == [br] * 7 + [n - 7 * br]
    # sliced-tail encode correctness: full content round-trips
    back = core.read_file(path)
    assert back.column("key").to_pylist() == keys.to_pylist()
    assert back.column("value").to_pylist() == values.to_pylist()
    # and the pending tail flushed at close interleaves with later
    # writes correctly: two giant batches back to back
    path2 = str(tmp_path / "giant2.seq")
    with core.SeqFileWriter(
        path2,
        "org.apache.hadoop.io.Text",
        "org.apache.hadoop.io.IntWritable",
        block_records=br,
    ) as w:
        w.write_batch(keys.slice(0, 10_000), values.slice(0, 10_000))
        w.write_batch(keys.slice(10_000), values.slice(10_000))
    assert core.read_file(path2).column("key").to_pylist() == keys.to_pylist()


def test_nulls_rejected_for_typed_columns(tmp_path):
    keys = pa.array(["a", None, "c"])
    values = pa.array([1, 2, 3], type=pa.int32())
    with pytest.raises(core.SeqFileError, match="null"):
        core.write_table(str(tmp_path / "n.seq"), pa.table({"key": keys, "value": values}))


def test_text_multibyte_varint_prefix(tmp_path):
    """Text records >=127 bytes carry multi-byte varint length prefixes."""
    import pyarrow as pa

    from hadoop_formats_spark.seqfile import read_file, write_table

    vals = ["x" * n for n in (0, 1, 126, 127, 128, 255, 256, 5000, 70000)]
    t = pa.table(
        {"key": pa.array(range(len(vals)), pa.int64()), "value": pa.array(vals)}
    )
    p = str(tmp_path / "longtext.seq")
    write_table(p, t)
    assert read_file(p).column("value").to_pylist() == vals


def test_non_utf8_header_class_raises_seqfile_error(tmp_path):
    path = str(tmp_path / "h.seq")
    core.write_table(path, pa.table({"key": ["a"], "value": pa.array([1], pa.int32())}))
    buf = bytearray(open(path, "rb").read())
    buf[buf.index(b"org.apache.hadoop.io.Text")] = 0xFF  # invalid UTF-8 lead byte
    with pytest.raises(core.SeqFileError, match="UTF-8"):
        core.parse_header(bytes(buf))


def test_fixed_width_section_of_odd_length_raises_seqfile_error():
    # 5 bytes cannot hold whole 4-byte IntWritables
    with pytest.raises(core.SeqFileError, match="fixed-width"):
        core._decode_column("org.apache.hadoop.io.IntWritable", b"", b"\x00" * 5, 1)
