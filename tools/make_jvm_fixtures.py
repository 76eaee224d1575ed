"""Regenerate tests/data/jvm/*.seq with Hadoop's own SequenceFile.Writer
(the same oracle strategy as the reference's tests/MakeSequenceFiles.java:
Hadoop itself writes the fixtures, our reader must decode them).

Layout/codec fixtures: 2000 records of Text -> IntWritable, keys
``k%05d``, values ``i * 7``.

Golden fixtures (BLOCK + SnappyCodec, 100 000 records each, random
values drawn from a ``java.util.Random`` seeded with ``GOLDEN_SEED``),
following MakeSequenceFiles.java:

* ``text-int.seq``: Text ``F%07d`` -> IntWritable
  ``Math.round(random * 100)``;
* ``long-double.seq``: LongWritable ``i`` -> DoubleWritable ``random``.

Usage: python tools/make_jvm_fixtures.py
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

FIXTURES = [
    ("rec_default.seq", "RECORD", "org.apache.hadoop.io.compress.DefaultCodec"),
    ("rec_snappy.seq", "RECORD", "org.apache.hadoop.io.compress.SnappyCodec"),
    ("rec_bzip2.seq", "RECORD", "org.apache.hadoop.io.compress.BZip2Codec"),
    ("blk_gzip.seq", "BLOCK", "org.apache.hadoop.io.compress.GzipCodec"),
    ("none_writer.seq", "NONE", "org.apache.hadoop.io.compress.DefaultCodec"),
]

N_RECORDS = 2000
N_GOLDEN = 100_000
GOLDEN_SEED = 1414


def main() -> None:
    from hadoop_formats_spark.queries.seqfile_q import JVM_FIXTURE_DIR
    from hadoop_formats_spark.session import get_spark

    spark = get_spark("make-fixtures", cores=2)
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    jvm = sc._jvm
    gw = sc._gateway
    conf = sc._jsc.hadoopConfiguration()
    SF = jvm.org.apache.hadoop.io.SequenceFile
    Path = jvm.org.apache.hadoop.fs.Path
    Text = jvm.org.apache.hadoop.io.Text
    IntW = jvm.org.apache.hadoop.io.IntWritable
    RU = jvm.org.apache.hadoop.util.ReflectionUtils

    def cls(name: str):
        return jvm.java.lang.Class.forName(name)

    def writer(fname, key_class, value_class, ctype, codec_name):
        path = os.path.join(JVM_FIXTURE_DIR, fname)
        opts = gw.new_array(SF.Writer.Option, 4)
        opts[0] = SF.Writer.file(Path(path))
        opts[1] = SF.Writer.keyClass(cls(f"org.apache.hadoop.io.{key_class}"))
        opts[2] = SF.Writer.valueClass(cls(f"org.apache.hadoop.io.{value_class}"))
        codec = RU.newInstance(cls(codec_name), conf)
        opts[3] = SF.Writer.compression(SF.CompressionType.valueOf(ctype), codec)
        return SF.createWriter(conf, opts)

    os.makedirs(JVM_FIXTURE_DIR, exist_ok=True)
    for fname, ctype, codec_name in FIXTURES:
        w = writer(fname, "Text", "IntWritable", ctype, codec_name)
        k, v = Text(), IntW()
        for i in range(N_RECORDS):
            k.set(f"k{i:05d}")
            v.set(i * 7)
            w.append(k, v)
        w.close()
        print(fname, os.path.getsize(os.path.join(JVM_FIXTURE_DIR, fname)))

    snappy = "org.apache.hadoop.io.compress.SnappyCodec"
    rnd = jvm.java.util.Random(GOLDEN_SEED)
    w = writer("text-int.seq", "Text", "IntWritable", "BLOCK", snappy)
    k, v = Text(), IntW()
    for i in range(N_GOLDEN):
        k.set(f"F{i:07d}")
        v.set(jvm.java.lang.Math.round(rnd.nextDouble() * 100))
        w.append(k, v)
    w.close()
    w = writer("long-double.seq", "LongWritable", "DoubleWritable", "BLOCK", snappy)
    k, v = jvm.org.apache.hadoop.io.LongWritable(), jvm.org.apache.hadoop.io.DoubleWritable()
    for i in range(N_GOLDEN):
        k.set(i)
        v.set(rnd.nextDouble())
        w.append(k, v)
    w.close()
    for fname in ("text-int.seq", "long-double.seq"):
        print(fname, os.path.getsize(os.path.join(JVM_FIXTURE_DIR, fname)))


if __name__ == "__main__":
    main()
