"""SnapLake.fsck: the metadata integrity audit.

A healthy lake (merges + compaction + expiry + tags + rollback) must
audit clean; each induced corruption class — deleted referenced file,
truncated file, deleted side bundle, dangling tag, manifest row-count
tampering — must surface as a specific error; orphan files are a
warning, not an error (vacuum's job).
"""

from __future__ import annotations

import datetime as dt
import json
import os

from cdc_engine.lake import SnapLake
from cdc_engine.schemas import PAGES_SCHEMA_V1, WAL_SCHEMA_V1

TS = dt.datetime(2025, 1, 1)


def _batch(spark, rows):
    data = [
        (seq, op, url, TS + dt.timedelta(seconds=seq), None, text, lang, 0)
        for (seq, op, url, lang, text) in rows
    ]
    return spark.createDataFrame(data, WAL_SCHEMA_V1)


def _build(spark, path, mode="mor", epochs=4):
    lake = SnapLake.create(str(path), PAGES_SCHEMA_V1, n_buckets=4, mode=mode)
    for e in range(epochs):
        lake.merge(spark, _batch(spark, [
            (10 * e + i, "upsert", f"u/{i}", "en", f"t{e}.{i}") for i in range(8)
        ]), epoch_id=e)
    return lake


def test_fsck_clean_across_lifecycle(spark, tmp_path):
    lake = _build(spark, tmp_path / "l")
    lake.compact(spark, sorted(lake.bucket_file_counts()))
    lake.tag("pin", 1)
    lake.expire_snapshots(keep_last=2)
    r = lake.fsck(deep=True)
    assert r["ok"] and r["errors"] == [], r
    assert r["versions_checked"] >= 3  # head window + tagged pin
    assert r["files_checked"] > 0
    assert r["orphan_data_files"] == 0

    # post-rollback the audit stays clean too
    lake.drop_tag("pin")
    lake.rollback(1)
    r = lake.fsck(deep=True)
    assert r["ok"] and r["errors"] == [], r


def test_fsck_detects_each_corruption_class(spark, tmp_path):
    lake = _build(spark, tmp_path / "c")
    # orphan: a stray parquet in data/ => warning only
    stray = os.path.join(lake.data_dir, "stray.parquet")
    with open(stray, "wb") as f:
        f.write(b"PAR1not-really")
    r = lake.fsck()
    assert r["ok"] and r["orphan_data_files"] == 1
    os.remove(stray)

    # dangling tag
    lake._write_tags({"ghost": 99})
    r = lake.fsck()
    assert not r["ok"] and any("ghost" in e for e in r["errors"])
    lake._write_tags({})

    # truncate a referenced data file: size mismatch
    files = lake._files(lake.manifest())
    victim = os.path.join(lake.path, files[0]["path"])
    blob = open(victim, "rb").read()
    with open(victim, "wb") as f:
        f.write(blob[: len(blob) // 2])
    r = lake.fsck()
    assert not r["ok"] and any("size mismatch" in e for e in r["errors"])

    # delete it outright: missing data file
    os.remove(victim)
    r = lake.fsck()
    assert not r["ok"] and any("missing data file" in e for e in r["errors"])
    with open(victim, "wb") as f:
        f.write(blob)

    # deep: manifest row-count tampering
    head = lake.head_version()
    mp = lake._manifest_path(head)
    man = json.load(open(mp))
    g = next(iter(man["file_groups"]["groups"].values()))
    bundle_rel = g["ref"]["path"] if isinstance(g.get("ref"), dict) else g["ref"]
    bp = os.path.join(lake.path, bundle_rel)
    bundle = json.load(open(bp))
    member = g["ref"]["member"] if isinstance(g.get("ref"), dict) else None
    entries = bundle[member] if member else bundle
    entries[0]["rows"] += 1
    with open(bp, "w") as f:
        json.dump(bundle, f)
    r = lake.fsck(deep=True)
    assert not r["ok"] and any("row-count mismatch" in e for e in r["errors"])
    entries[0]["rows"] -= 1
    with open(bp, "w") as f:
        json.dump(bundle, f)

    # delete a side bundle: unresolvable refs
    os.remove(bp)
    r = lake.fsck()
    assert not r["ok"] and any(
        "unresolvable side refs" in e or "missing metadata side file" in e
        for e in r["errors"]
    )


def test_fsck_flags_ledger_gap(spark, tmp_path):
    lake = _build(spark, tmp_path / "g", epochs=3)
    head = lake.head_version()
    mp = lake._manifest_path(head)
    man = json.load(open(mp))
    # simulate a hole: drop a middle epoch from the inline ledger window
    assert "1" in man["ledger"]
    del man["ledger"]["1"]
    os.remove(mp)
    with open(mp, "w") as f:
        json.dump(man, f)
    r = lake.fsck()
    assert not r["ok"] and any("ledger not dense" in e for e in r["errors"])
