"""The benchmark's own tests: seeded inputs, metric naming and caps, and
work-directory cleanup.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_same_seed_same_request_sequence():
    import ingest
    import interactive

    assert interactive.requests(7) == interactive.requests(7)
    assert interactive.requests(7) != interactive.requests(8)
    assert ingest.cycle_requests(np.random.default_rng(7)) == ingest.cycle_requests(
        np.random.default_rng(7)
    )


def test_every_block_sends_each_template_once():
    import interactive

    block = len(interactive.TEMPLATES)
    seq = interactive.requests(3, n=200 * block)
    for start in range(0, len(seq), block):
        assert sorted(r.template for r in seq[start:start + block]) == sorted(
            interactive.TEMPLATES)


def test_same_seed_same_inputs(tmp_path):
    import datagen

    a = datagen.generate(str(tmp_path / "a"), 5, 0.001)
    b = datagen.generate(str(tmp_path / "b"), 5, 0.001)
    assert a == b
    for name in datagen.TABLES:
        with open(tmp_path / "a" / f"{name}.parquet", "rb") as fa, open(
            tmp_path / "b" / f"{name}.parquet", "rb"
        ) as fb:
            assert fa.read() == fb.read(), name


def test_metric_names_and_caps():
    import layers
    import run

    spec = _spec()
    e2e = [m["name"] for m in spec["end_to_end"]]
    per_layer = [m["name"] for m in spec["per_layer"]]
    assert len(e2e) <= 16 and len(per_layer) <= 128
    names = e2e + per_layer + [w["name"] for w in spec["workloads"]]
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names), [n for n in names if not NAME.match(n)]
    # the file and the code that prints the metrics agree, unit included
    assert {m["name"]: (m["unit"], m["better"]) for m in spec["end_to_end"]} == run.E2E
    assert {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]} == {
        name: spec_[:2] for name, spec_ in layers.PER_LAYER.items()
    }
    assert {w["name"] for w in spec["workloads"]} == set(run.workloads())


def test_ingest_work_directory_removed():
    work = os.path.join(HERE, ".work")
    before = set(os.listdir(work)) if os.path.isdir(work) else set()
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "partitioned_ingest",
         "--seed", "3", "--seconds", "1", "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0
    after = set(os.listdir(work)) if os.path.isdir(work) else set()
    assert after <= before
