"""Toy-size smoke test of the benchmark: every workload runs, passes its
correctness gate, and emits exactly the metrics BENCHMARK.json names, each
with its declared unit.

    python3 -m pytest perfbench/test_smoke.py -q

Each case starts its own Spark driver (about a minute each on 4 cores).
"""

from __future__ import annotations

import ast
import json
import os
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


# curate's report for the toy corpus of seed 5 (curated in catchup_mor's
# traced run): every stage keeps a nonzero share under the benchmark's
# funnel bounds
CURATE_REPORT_SEED5 = {
    "docs_in": 200,
    "pii_redactions": {"emails": 5, "ips": 1, "phones": 0},
    "after_exact_dedup": 200,
    "after_near_dedup": 47,
    "funnel": {"r1_len": 0, "r2_wordlen": 0, "r3_stop": 42, "r4_punct": 0, "r5_ttr": 0,
               "pass": 5},
    "after_quality": 5,
    "n_words_curated": 183,
    "splits": {"train": 4, "test": 1},
}


def _run(workload: str, trace: int) -> tuple[dict, str]:
    cmd = [sys.executable, str(ROOT / "perfbench" / "run.py"), "--workload", workload,
           "--seed", "5", "--seconds", "1", "--trace", str(trace), "--scale", "toy"]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert p.returncode == 0, p.stderr[-4000:]
    return json.loads(p.stdout.strip().splitlines()[-1]), p.stderr


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_emits_every_named_metric_with_its_unit(workload, trace):
    res, err = _run(workload, trace)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1
    spec = SPEC["per_layer" if trace else "end_to_end"]
    assert {m["name"]: m["unit"] for m in spec} == {
        k: v["unit"] for k, v in res["metrics"].items()
    }
    for name, v in res["metrics"].items():
        assert isinstance(v["value"], float), name
    if not trace:
        assert all(v["value"] > 0 for v in res["metrics"].values())
    else:
        measured = ["source.rows_in", "apply.epoch_s", "lake.data_write_s", "lake.lookup_s",
                    "mview.refresh_s", "runner.self_s", "jvm.gc_s", "spark.shuffle_read_mb"]
        if workload == "catchup_mor":
            measured += ["curate.self_s", "dedup_text.lsh_candidates", "textops.pii_scrub_s",
                         "sampling.split_s"]
        assert all(res["metrics"][k]["value"] > 0 for k in measured), res["metrics"]
    if workload == "catchup_mor" and trace:
        line = next(x for x in err.splitlines() if "curate report:" in x)
        report = ast.literal_eval(line.split("curate report:", 1)[1].strip())
        assert report == CURATE_REPORT_SEED5


def test_fails_without_the_engine(tmp_path):
    """In a directory holding only the benchmark, the run must fail
    without printing a result."""
    (tmp_path / "perfbench").mkdir()
    for f in (ROOT / "perfbench").glob("*.py"):
        (tmp_path / "perfbench" / f.name).write_text(f.read_text())
    (tmp_path / "BENCHMARK.json").write_text((ROOT / "BENCHMARK.json").read_text())
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", WORKLOADS[0], "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
        env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"},
    )
    assert p.returncode != 0
    assert p.stdout.strip() == ""
