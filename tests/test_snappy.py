"""Raw Snappy codec tests (round-trip + handwritten vectors)."""

import pytest

from hadoop_formats_spark.seqfile import snappy


@pytest.mark.parametrize(
    "data",
    [
        b"",
        b"a",
        b"hello world " * 100,
        bytes(range(256)) * 300,
        b"\x00" * 100000,
    ],
)
def test_roundtrip(data):
    assert snappy.decompress(snappy.compress(data)) == data


def test_copy_elements():
    # hand-built stream: literal "abcd" then copy-1 (offset 4, len 4)
    # preamble 8, literal tag (4-1)<<2 = 0x0c, copy-1: len 4 -> (4-4)<<2|1,
    # offset 4 -> high 3 bits 0, low byte 4
    stream = bytes([8, 0x0C]) + b"abcd" + bytes([0x01, 0x04])
    assert snappy.decompress(stream) == b"abcdabcd"


def test_overlapping_copy_rle():
    # literal "x" then copy offset 1 len 7 => "x"*8 (RLE via overlap)
    stream = bytes([8, 0x00]) + b"x" + bytes([(7 - 4) << 2 | 0x01, 0x01])
    assert snappy.decompress(stream) == b"x" * 8


def test_copy2():
    data = b"0123456789" * 10
    # literal of 100 bytes, then copy-2 offset 100 len 50
    lit = bytes([(60 << 2)]) + bytes([99])
    copy2 = bytes([(50 - 1) << 2 | 0x02]) + (100).to_bytes(2, "little")
    stream = b"\x96\x01" + lit + data + copy2
    assert snappy.decompress(stream) == data + data[:50]


def test_bad_offset_raises():
    stream = bytes([8, 0x00]) + b"x" + bytes([0x01, 0x05])  # offset 5 > produced 1
    with pytest.raises(snappy.SnappyError):
        snappy.decompress(stream)


def test_truncated_raises():
    good = snappy.compress(b"hello world, hello world")
    with pytest.raises(snappy.SnappyError):
        snappy.decompress(good[:-3])


def test_compress_shrinks_repetitive_text():
    data = b"the quick brown fox jumps over the lazy dog " * 200
    assert len(snappy.compress(data)) < len(data)


# preamble claims 3 GiB (varint 0x80 0x80 0x80 0x80 0x0c), then a
# 1-byte literal "a"
INFLATED = b"\x80\x80\x80\x80\x0c" + b"\x00a"


def _maxrss_mb():
    import resource

    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024


def test_inflated_preamble_raises_without_allocating():
    assert len(INFLATED) == 7
    rss0 = _maxrss_mb()
    with pytest.raises(snappy.SnappyError):
        snappy.decompress(INFLATED)
    assert _maxrss_mb() - rss0 < 256


def test_inflated_preamble_in_block_file(tmp_path, monkeypatch):
    import pyarrow as pa

    from hadoop_formats_spark.seqfile import core

    path = str(tmp_path / "inflated.seq")
    monkeypatch.setattr(snappy, "compress", lambda b: INFLATED)
    core.write_table(path, pa.table({"key": ["a"], "value": pa.array([1], pa.int32())}))
    monkeypatch.undo()
    rss0 = _maxrss_mb()
    with pytest.raises(core.SeqFileError):
        core.read_file(path)
    assert _maxrss_mb() - rss0 < 256
