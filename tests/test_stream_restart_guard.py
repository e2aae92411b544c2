"""End-to-end form of the ledger-identity advisory: restarting ingest
over an already-ingested WAL with a FRESH checkpoint (epoch ids renumber)
must fail loudly instead of silently skipping batches."""

from __future__ import annotations

import datetime as dt
import os

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from cdc_engine import CdcConfig, SnapLake, ingest_stream
from cdc_engine.apply import LedgerSeqMismatch
from cdc_engine.schemas import PAGES_SCHEMA_V1


def _write_segment(d: str, first_seq: int, rows: list[dict]) -> None:
    os.makedirs(os.path.join(d, "v1"), exist_ok=True)
    pdf = pd.DataFrame(rows)
    schema = pa.schema(
        [
            ("seq", pa.int64()),
            ("op", pa.string()),
            ("url", pa.string()),
            ("warc_ts", pa.timestamp("us")),
            ("html", pa.binary()),
            ("text", pa.string()),
            ("lang", pa.string()),
            ("source_partition", pa.int32()),
        ]
    )
    tbl = pa.Table.from_pandas(
        pdf[[f.name for f in schema]], schema=schema, preserve_index=False
    )
    pq.write_table(tbl, os.path.join(d, "v1", f"segment-{first_seq:012d}.parquet"))


def _row(seq, url, ts_s, text):
    return {
        "seq": seq,
        "op": "upsert",
        "url": url,
        "warc_ts": dt.datetime(2024, 1, 1, 0, 0, ts_s),
        "html": text.encode(),
        "text": text,
        "lang": "en",
        "source_partition": 0,
    }


def test_fresh_checkpoint_over_ingested_lake_fails_loudly(spark, tmp_path):
    wal = str(tmp_path / "wal")
    _write_segment(wal, 0, [_row(0, "https://a", 1, "a0"), _row(1, "https://b", 2, "b0")])
    _write_segment(wal, 2, [_row(2, "https://c", 3, "c0"), _row(3, "https://d", 4, "d0")])

    lake = SnapLake.create(str(tmp_path / "lake"), PAGES_SCHEMA_V1, n_buckets=4)
    cfg = CdcConfig()
    # first ingest: one file per trigger -> epochs 0 and 1
    ingest_stream(spark, lake, wal, str(tmp_path / "ckpt1"), cfg=cfg,
                  max_files_per_trigger=1)
    assert sorted(lake.committed_epochs()) == [0, 1]

    # restart with a FRESH checkpoint and different batching (2 files per
    # trigger): Spark renumbers from batch 0, whose contents now span both
    # committed epochs — the old code silently skipped on the bare epoch-id
    # hit; the guard must refuse
    with pytest.raises(Exception) as ei:
        ingest_stream(spark, lake, wal, str(tmp_path / "ckpt2"), cfg=cfg,
                      max_files_per_trigger=2)
    assert "LedgerSeqMismatch" in str(ei.value) or isinstance(
        ei.value, LedgerSeqMismatch
    )

    # resuming with the ORIGINAL checkpoint stays a clean no-op
    ingest_stream(spark, lake, wal, str(tmp_path / "ckpt1"), cfg=cfg,
                  max_files_per_trigger=1)
    assert sorted(lake.committed_epochs()) == [0, 1]
