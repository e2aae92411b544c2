"""W1 unit tests: LWW survivor selection and permutation invariance."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from cdc_engine.dedup import lww_dedup


def _events(spark):
    ts = lambda s: dt.datetime(2024, 1, 1, 0, 0, s)
    rows = [
        # url, warc_ts, seq, payload
        ("a", ts(5), 1, "a-v1"),
        ("a", ts(9), 2, "a-v2"),   # winner: newest ts
        ("a", ts(7), 3, "a-v3"),   # out-of-order: newer seq, older ts -> loses
        ("b", ts(4), 4, "b-v1"),
        ("b", ts(4), 5, "b-v1"),   # duplicate delivery: same ts, higher seq wins
        ("c", ts(1), 6, "c-v1"),
    ]
    return spark.createDataFrame(rows, "url string, warc_ts timestamp, seq long, text string")


def test_survivors(spark):
    got = {
        r["url"]: (r["seq"], r["text"])
        for r in lww_dedup(_events(spark), seq="seq").collect()
    }
    assert got == {"a": (2, "a-v2"), "b": (5, "b-v1"), "c": (6, "c-v1")}


@pytest.mark.parametrize("seed", [3, 7, 11, 19, 42])
def test_permutation_invariant(spark, seed):
    """Any input order yields test_survivors' winners, payload included."""
    df = _events(spark).orderBy(F.rand(seed)).repartition(3)
    got = sorted((r["url"], r["seq"], r["text"]) for r in lww_dedup(df).collect())
    assert got == [("a", 2, "a-v2"), ("b", 5, "b-v1"), ("c", 6, "c-v1")]


def test_unknown_strategy_rejected(spark):
    with pytest.raises(ValueError):
        lww_dedup(_events(spark), strategy="maxby")


def test_schema_preserved(spark):
    df = _events(spark)
    assert lww_dedup(df).columns == df.columns
