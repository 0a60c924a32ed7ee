"""Tests of the benchmark itself.

Run from the root of a checkout::

    python3 -m pytest perfbench/test_counters.py -q

``test_traced_counters_repeat`` runs two traced ``batch`` runs with
different seeds (about two minutes) and requires Spark's job, stage,
shuffle and Python-byte counters to agree exactly for every query.
"""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench.batch import QUERIES  # noqa: E402
from perfbench.probes import (  # noqa: E402
    _dot_metrics,
    _same_address_space,
    hd_quantile,
    parse_metric,
    tree_pss_bytes,
)

EXACT = (
    "spark.jobs",
    "spark.stages",
    "spark.shuffle_read_bytes",
    "spark.shuffle_write_bytes",
    "python.sent_bytes",
    "python.returned_bytes",
)


def test_dot_metrics_single_and_multi_task_labels():
    dot = (
        '  3 [id="node3" labelType="html" label="<b>MapInArrow</b><br> <br>'
        "data sent to Python workers: 5.4 MiB<br>"
        "time to run Python workers total (min, med, max (stageId: taskId))<br>"
        '2.1 s (0 ms, 500 ms, 1.0 s (stage 1.0: task 4))" tooltip="x"];\n'
        '  4 [id="node4" labelType="html" label="<b>Scan parquet </b><br> <br>'
        'number of files read: 1,234" tooltip="y"];'
    )
    got = [(n, m, parse_metric(t)) for n, m, t in _dot_metrics(dot)]
    assert got == [
        ("MapInArrow", "data sent to Python workers", 5.4 * (1 << 20)),
        ("MapInArrow", "time to run Python workers", 2.1),
        ("Scan parquet ", "number of files read", 1234.0),
    ]


def test_tree_memory_counts_a_child_once():
    me = os.getpid()
    child = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(30)"])
    try:
        assert _same_address_space(me, me)
        assert not _same_address_space(me, child.pid)
        alone = tree_pss_bytes(child.pid)
        assert alone > 0
        assert tree_pss_bytes(me) >= alone
    finally:
        child.kill()
        child.wait(timeout=10)


def test_hd_quantile_on_even_spacing():
    # on 1..n the Harrell-Davis estimate of p is p * n + 0.5
    assert abs(hd_quantile(range(1, 102), 0.5) - 51.0) < 0.01
    assert abs(hd_quantile(range(1, 102), 0.9) - 91.4) < 0.01


def _traced_run(seed: int) -> dict:
    before = set(glob.glob(os.path.join(HERE, ".work", "traces", f"batch-seed{seed}-*.json")))
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", "batch",
         "--seed", str(seed), "--seconds", "1", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["correct"], proc.stderr[-4000:]
    (path,) = set(glob.glob(os.path.join(HERE, ".work", "traces", f"batch-seed{seed}-*.json"))) - before
    with open(path) as f:
        return json.load(f)


def _per_query(trace: dict) -> dict[str, dict[str, float]]:
    """Counters of each query's first timed execution (build + action)."""
    out: dict[str, dict[str, float]] = {}
    for group, counters in trace["groups"].items():
        pass_tag, query, _phase = (group.split(":") + ["", ""])[:3]
        if pass_tag != "p0":
            continue
        acc = out.setdefault(query, dict.fromkeys(EXACT, 0.0))
        for key in EXACT:
            acc[key] += counters.get(key, 0.0)
    return out


def test_traced_counters_repeat():
    a, b = _per_query(_traced_run(101)), _per_query(_traced_run(202))
    assert sorted(a) == sorted(b) == sorted(QUERIES)
    diffs = {q: {k: (a[q][k], b[q][k]) for k in EXACT if a[q][k] != b[q][k]} for q in a}
    assert not any(diffs.values()), diffs
