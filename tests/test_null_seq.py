"""A source partition that delivers only NULL-seq rows: its rows are
quarantined (LWW is undefined without a seq), its lineage row records the
quarantine with a NULL seq span, and the ledger's consumed range is taken
over the non-NULL seqs — on every input-accounting route (the stats job a
direct merge or an unbounded apply_epoch runs, and the raw-batch
Observation of a footer-bounded apply_epoch), in both table modes."""

from __future__ import annotations

import datetime as dt

import pytest

from cdc_engine import SnapLake, apply_epoch
from cdc_engine.schemas import PAGES_SCHEMA_V1
from cdc_engine.textex import wrap_html


def _batch(spark):
    ts = dt.datetime(2024, 1, 1)
    rows = [
        (1, "insert", "https://a/x", ts, wrap_html("a"), "a", "en", 0),
        (2, "insert", "https://b/x", ts, wrap_html("b"), "b", "en", 0),
        (None, "insert", "https://c/x", ts, wrap_html("c"), "c", "en", 1),
    ]
    return spark.createDataFrame(
        rows,
        "seq long, op string, url string, warc_ts timestamp, html binary, "
        "text string, lang string, source_partition int",
    )


@pytest.mark.parametrize("route", ["merge", "stats_job", "footer_bound"])
@pytest.mark.parametrize("mode", ["mor", "cow"])
def test_null_seq_partition_is_quarantined(spark, tmp_path, mode, route):
    lake = SnapLake.create(str(tmp_path / "lake"), PAGES_SCHEMA_V1, n_buckets=8, mode=mode)
    batch = _batch(spark)
    if route == "merge":
        r = lake.merge(spark, batch, epoch_id=0)
    elif route == "stats_job":
        r = apply_epoch(spark, lake, batch, epoch_id=0)
    else:
        r = apply_epoch(
            spark, lake, batch, epoch_id=0, expected_seq_range=(0, 3), pid_bounds=(0, 1)
        )
    assert r is not None
    lin = sorted(
        (x["partition_id"], x["rows_in"], x["rows_quarantined"], x["first_seq"], x["last_seq"])
        for x in lake.manifest()["lineage"]
    )
    assert lin == [(0, 2, 0, 1, 2), (1, 0, 1, None, None)]
    ent = lake.committed_epochs()[0]
    assert (ent["first_seq"], ent["last_seq"]) == (1, 2)
    assert lake.scan(spark).count() == 2
