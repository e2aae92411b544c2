"""Clustered rewrite + column-stats file skipping (compact cluster_by).

The Iceberg sort-order / Delta OPTIMIZE ZORDER analog for this layout:
compact range-splits each bucket's rows into files contiguous in
(cluster cols, url) order and records per-file min/max in the manifest;
scan(col_bounds=...) prunes whole files whose range is provably
disjoint. Pruning must be exactly result-preserving (the row filter
always applies) and LWW-safe (file pruning disabled while MoR deltas
are live).
"""

from __future__ import annotations

import datetime as dt

import pytest

from cdc_engine.lake import SnapLake
from cdc_engine.schemas import PAGES_SCHEMA_V1, WAL_SCHEMA_V1

TS = dt.datetime(2025, 1, 1)
LANGS = ["de", "en", "es", "fr", "it", "nl", "pl", "pt"]


def _batch(spark, n, epoch=0):
    data = [
        (
            100 * epoch + i,
            "upsert",
            f"u/{i}",
            TS + dt.timedelta(seconds=i),
            None,
            f"text {i}",
            LANGS[i % len(LANGS)],
            200,
        )
        for i in range(n)
    ]
    return spark.createDataFrame(data, WAL_SCHEMA_V1)


@pytest.fixture(scope="module")
def clustered_lake(spark, tmp_path_factory):
    lake = SnapLake.create(
        str(tmp_path_factory.mktemp("cl") / "lake"),
        PAGES_SCHEMA_V1,
        n_buckets=4,
        mode="mor",
    )
    lake.merge(spark, _batch(spark, 64, epoch=0), epoch_id=0)
    lake.merge(spark, _batch(spark, 64, epoch=1), epoch_id=1)
    lake.compact(spark, list(range(4)), cluster_by=["lang"], cluster_files_per_bucket=4)
    assert lake.manifest()["summary"]["cluster_by"] == ["lang"]
    return lake


def test_cluster_rewrite_preserves_state_and_layout(spark, clustered_lake):
    lake = clustered_lake
    man = lake.manifest()
    files = lake._files(man)
    # 4 buckets x 4 cluster classes, all base, every file carries lang stats
    assert len(files) == 16
    assert all(f.get("kind", "base") == "base" for f in files)
    assert all("lang" in (f.get("cstats") or {}) for f in files)
    # ranges within a bucket tile the lang order (contiguity of ntile)
    by_bucket: dict[int, list] = {}
    for f in files:
        by_bucket.setdefault(f["bucket"], []).append(f["cstats"]["lang"])
    for rngs in by_bucket.values():
        rngs.sort()
        for (lo1, hi1), (lo2, _hi2) in zip(rngs, rngs[1:]):
            assert lo1 <= hi1 <= lo2
    # logical content: every url's latest epoch won
    rows = {r["url"]: r["text"] for r in lake.scan(spark).collect()}
    assert len(rows) == 64 and rows["u/3"] == "text 3"


def test_bounded_scan_prunes_files_and_matches_filter(spark, clustered_lake):
    lake = clustered_lake
    kept, total = lake.prunable_files_for({"lang": ("fr", "fr")})
    assert total == 16 and kept < total  # real file cut
    got = sorted(
        r["url"] for r in lake.scan(spark, col_bounds={"lang": ("fr", "fr")}).collect()
    )
    want = sorted(
        r["url"] for r in lake.scan(spark).where("lang = 'fr'").collect()
    )
    assert got == want and len(got) == 8
    # range form, half-open
    got2 = lake.scan(spark, col_bounds={"lang": ("pl", None)}).count()
    assert got2 == lake.scan(spark).where("lang >= 'pl'").count() == 16


def test_pruning_disabled_while_mor_deltas_live(spark, clustered_lake, tmp_path):
    lake = clustered_lake
    # land a delta that MOVES u/0 (lang de -> fr); file pruning must not
    # resurrect the old version or lose the new one
    data = [(1000, "upsert", "u/0", TS + dt.timedelta(days=1), None, "moved", "fr", 200)]
    lake.merge(spark, spark.createDataFrame(data, WAL_SCHEMA_V1), epoch_id=2)
    # the pruning hook reports what scan reads: every file, delta included
    total = len(lake._files(lake.manifest()))
    assert lake.prunable_files_for({"lang": ("fr", "fr")}) == (total, total)
    df = lake.scan(spark, col_bounds={"lang": ("fr", "fr")})
    rows = {r["url"]: r["text"] for r in df.collect()}
    assert rows["u/0"] == "moved"
    assert len(rows) == 9  # the 8 original fr urls + the moved one
    # and the de query no longer returns u/0
    assert "u/0" not in {
        r["url"] for r in lake.scan(spark, col_bounds={"lang": ("de", "de")}).collect()
    }


def test_plain_compact_unchanged(spark, tmp_path):
    lake = SnapLake.create(
        str(tmp_path / "plain"), PAGES_SCHEMA_V1, n_buckets=4, mode="mor"
    )
    lake.merge(spark, _batch(spark, 32), epoch_id=0)
    lake.compact(spark, list(range(4)))
    files = lake._files(lake.manifest())
    assert all("cstats" not in f for f in files)
    assert lake.scan(spark).count() == 32
