"""Tiny-size smoke test of the benchmark: every workload of
``BENCHMARK.json`` runs and reports every end-to-end metric with no
failed check, and a traced run reports every per-layer metric with no
unattributed Spark job.

    python3 -m pytest perfbench/test_smoke.py -q

About three minutes on 4 cores (each run starts its own JVM).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import workloads  # noqa: E402
from run import per_layer_spec  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    _SPEC = json.load(_f)
END_TO_END = {m["name"] for m in _SPEC["end_to_end"]}


def _bench(workload: str, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "0", "--trace", str(trace), "--scale", "0.02"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


def test_every_workload_is_benchmarked():
    assert {w["name"] for w in _SPEC["workloads"]} == set(workloads.WORKLOADS)


@pytest.mark.parametrize("workload", sorted(workloads.WORKLOADS))
def test_workload_runs_clean(workload):
    res = _bench(workload, 0)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    assert set(res["metrics"]) == END_TO_END
    assert all(m["value"] > 0 for m in res["metrics"].values())


def test_traced_run_attributes_every_job():
    res = _bench("serve_batch", 1)
    assert res["correct"] and res["failed"] == 0
    m = res["metrics"]
    assert set(m) == set(per_layer_spec())
    assert m["trace.unattributed_jobs"]["value"] == 0
    for span in ("curation.curate_corpus", "dedup.deduplicate",
                 "flagship.build_corpus.materialize", "simsearch.ivf_build",
                 "simsearch.ivf_persist", "search.topk_batch"):
        assert m[f"{span}.jobs"]["value"] > 0 and m[f"{span}.exec_cpu_s"]["value"] > 0
