"""The metadata side-file cache is keyed on file identity, not on path.

Side-bundle paths repeat: a commit id hashes ``table_uuid:epoch_id``, so a
lake copied or restored into a path the process already used writes the
same epoch's bundle at the same path, with new Spark part-file names in
it. A cache keyed by path alone hands back the first run's file list,
whose part files went away with the first copy (PATH_NOT_FOUND).
"""

from __future__ import annotations

import datetime as dt
import shutil

from cdc_engine.lake import SnapLake
from cdc_engine.schemas import PAGES_SCHEMA_V1, WAL_SCHEMA_V1

TS = dt.datetime(2025, 1, 1)


def _batch(spark, rows):
    data = [
        (seq, "upsert", url, TS + dt.timedelta(seconds=seq), None, f"t{seq}", "en", 0)
        for seq, url in rows
    ]
    return spark.createDataFrame(data, WAL_SCHEMA_V1)


def test_lake_restored_at_a_used_path_reads_its_own_side_files(spark, tmp_path):
    template = SnapLake.create(
        str(tmp_path / "template"), PAGES_SCHEMA_V1, n_buckets=4, mode="mor"
    )
    template.merge(spark, _batch(spark, [(1, "u/a"), (2, "u/b")]), epoch_id=0)

    path = tmp_path / "lake"
    for _run in range(2):
        shutil.rmtree(path, ignore_errors=True)
        shutil.copytree(template.path, path)
        lake = SnapLake(str(path))
        assert lake.merge(spark, _batch(spark, [(3, "u/c")]), epoch_id=1) is not None
        assert lake.scan(spark).count() == 3
