"""``get_spark`` datasource registration: repeatable, errors not hidden."""

from __future__ import annotations

import pytest

from hadoop_formats_spark.queries.seqfile_q import REFERENCE_TEXT_INT
from hadoop_formats_spark.session import get_spark


def test_get_spark_twice_in_one_jvm(spark):
    again = get_spark("tests", cores=8, shuffle_partitions=8)
    assert again is spark
    assert get_spark("tests", cores=8, shuffle_partitions=8) is spark
    df = spark.read.format("hadoop_seq").load(REFERENCE_TEXT_INT)
    assert df.count() == 100_000


def test_registration_error_propagates(spark, monkeypatch):
    from hadoop_formats_spark.seqfile import datasource

    def broken(_spark):
        raise RuntimeError("registration failed")

    monkeypatch.setattr(datasource, "register", broken)
    with pytest.raises(RuntimeError, match="registration failed"):
        get_spark("tests", cores=8, shuffle_partitions=8)
