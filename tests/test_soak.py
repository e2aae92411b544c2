"""Long-horizon MoR soak (round-4 verdict task 6): a 100-epoch replay
into ONE table must keep read amplification, metadata bytes, and
per-bucket file counts bounded THROUGHOUT — not just at the end. This is
the property that makes a month of continuous tailing safe at 100 TB:
nothing in the commit path is allowed to grow with replay length except
the ledger itself (one bounded entry per epoch).
"""

from __future__ import annotations

import os

from cdc_engine import CdcConfig, SnapLake, replay
from cdc_engine.schemas import PAGES_SCHEMA_V1
from gen.walgen import WalConfig, generate_wal
from tests.conftest import DOCS_SF0001

N_EPOCHS = 100
PER_EPOCH = 300


def _max_files_per_bucket(lake) -> int:
    files = lake._files(lake.manifest())
    per: dict[int, int] = {}
    for f in files:
        per[f["bucket"]] = per.get(f["bucket"], 0) + 1
    return max(per.values()) if per else 0


def test_mor_100_epoch_soak_bounds_hold_throughout(spark, tmp_path):
    wal = str(tmp_path / "wal_soak")
    oracle = generate_wal(
        wal,
        WalConfig(
            n_events=N_EPOCHS * PER_EPOCH,
            events_per_epoch=PER_EPOCH,
            schema_change_at_epoch=N_EPOCHS // 2,
            docs_parquet=DOCS_SF0001,
        ),
    )
    lake = SnapLake.create(
        str(tmp_path / "lake_soak"), PAGES_SCHEMA_V1, n_buckets=8, mode="mor"
    )
    cfg = CdcConfig(events_per_epoch=PER_EPOCH, n_buckets=8)
    # replay runs maybe_compact after every commit
    bound = cfg.compact_after_files

    man_sizes: list[int] = []
    probe_every = 10
    for step in range(0, N_EPOCHS, probe_every):
        res = replay(spark, lake, wal, cfg, max_epochs=probe_every)
        assert len(res) == probe_every, (step, len(res))
        mfb = _max_files_per_bucket(lake)
        assert mfb <= bound, (
            f"after epoch {step + probe_every}: {mfb} files in a bucket "
            f"(bound {bound}) — compaction is not keeping up"
        )
        man_sizes.append(
            os.path.getsize(lake._manifest_path(lake.head_version()))
        )

    # O(1) commit metadata over the horizon: the manifest written at epoch
    # 100 must not have grown with replay length (allow 2x slack over the
    # epoch-10 snapshot for schema evolution + fuller file groups)
    assert man_sizes[-1] <= 2 * man_sizes[0] + 4096, man_sizes

    # ledger: every epoch exactly once
    committed = lake.committed_epochs()
    assert sorted(committed) == list(range(N_EPOCHS))

    # correctness after the full horizon (replay oracle from walgen)
    n, _h = lake.state_hash(spark)
    assert n == len(oracle)

    # read amplification: a full-state scan at epoch 100 reads the
    # compacted layout, not 100 epochs of deltas
    files_now = lake._files(lake.manifest())
    assert len(files_now) <= 8 * bound

    # idempotence after the soak: re-replay is a no-op with identical state
    h0 = lake.state_hash(spark)
    assert replay(spark, lake, wal, cfg) == []
    assert lake.state_hash(spark) == h0
