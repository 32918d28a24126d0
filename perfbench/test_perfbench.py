"""Self-tests of the benchmark (not of the package).

    python3 -m pytest perfbench -q

The input and oracle tests take seconds. ``test_traced_counts_repeat``
runs the benchmark twice per workload in traced mode (about a minute
each) and is skipped unless PERFBENCH_SLOW=1.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import inputs, oracle  # noqa: E402
from perfbench.workloads import THRESHOLD, WORKLOADS  # noqa: E402

BENCH = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
KEPT = [w["name"] for w in BENCH["workloads"]]


def _generate(name: str, seed: int, tmp_path) -> object:
    wl = WORKLOADS[name](str(tmp_path / f"{name}-{seed}"), seed)
    wl.generate()
    return wl


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_seed_fixes_inputs(name, tmp_path):
    a = inputs.hash_tree(_generate(name, 7, tmp_path / "a").inputs)
    b = inputs.hash_tree(_generate(name, 7, tmp_path / "b").inputs)
    c = inputs.hash_tree(_generate(name, 8, tmp_path / "c").inputs)
    assert a == b
    assert a["*"] != c["*"]


def test_key_shape():
    import random

    keys = inputs.distinct_keys(random.Random(1), 2000)
    assert all(10 <= len(k) <= 16 for k in keys)
    assert len({inputs.norm(k) for k in keys}) == len(keys)
    assert any(c in k for k in keys for c in "-/ ")
    assert any(k != k.upper() for k in keys)


def test_oracle_keeps_and_replaces(tmp_path):
    """The expected curation on a hand-built case: an exact match keeps
    the probe's own string, a unique best replaces it, a tie between
    two best candidates keeps it, and a far probe keeps it."""
    import pyarrow as pa

    cat = pa.table({"sku": ["AB-1234-XY", "CD-5678-ZW", "EF-9999-AA", "EF-9999-AB"]})
    probes = pa.table(
        {
            "sku": ["ab/1234 xy", "CD-5679-ZW", "EF-9999-AC", "QQ-0000-QQ"],
            "qty": pa.array([1, 2, 3, 4], pa.int32()),
            "tag": ["exact", "best", "tie", "far"],
        }
    )
    inputs.write_parquet(cat, str(tmp_path / "cat" / "c.parquet"))
    inputs.write_parquet(probes, str(tmp_path / "p" / "p.parquet"))
    got = oracle.expected_curation(
        [str(tmp_path / "p" / "p.parquet")], [str(tmp_path / "cat" / "c.parquet")], THRESHOLD
    )
    assert {t: r[1] for t, r in got.items()} == {
        "exact": "ab/1234 xy",
        "best": "CD-5678-ZW",
        "tie": "EF-9999-AC",
        "far": "QQ-0000-QQ",
    }


@pytest.mark.parametrize("name", ["stream_match", "catalog_upsert"])
def test_check_rejects_wrong_output(name, tmp_path):
    """The expected sink passes; one changed key, one lost row or one
    duplicated key fails the op."""
    wl = _generate(name, 3, tmp_path)
    expected = oracle.expected_curation(wl.probe_files(), wl.catalog_files_list(), THRESHOLD)
    want = wl.expected_digests(expected)
    rows = list(expected.values())
    if name == "catalog_upsert":
        rows = oracle.upserted(oracle.read_rows(wl.seed), [r for r in rows if r[0].startswith("b0-")])
    good = oracle.rows_digest(rows)
    assert oracle.count_failed([(0, good, True)], want) == 0

    renamed = [(rows[0][0], rows[0][1] + "x", rows[0][2])] + rows[1:]
    lost = rows[1:]
    dup = rows + [rows[0]]
    for wrong in (renamed, lost, dup):
        assert oracle.count_failed([(0, oracle.rows_digest(wrong), True)], want) == 1
    assert oracle.count_failed([(0, good, False)], want) == 1


def _traced(name: str, seed: int) -> tuple[dict, list[dict]]:
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", name, "--seed", str(seed),
         "--seconds", "1", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=600, check=True,
    )
    result = json.loads(out.stdout.strip().splitlines()[-1])
    with open(os.path.join(ROOT, ".perfbench_work", f"trace-{name}-{seed}.json")) as fh:
        return result, json.load(fh)["spans"]


COUNTS = ("jobs", "stages", "tasks", "exchanges", "shuffle_write_bytes")


@pytest.mark.skipif(not os.environ.get("PERFBENCH_SLOW"), reason="set PERFBENCH_SLOW=1")
@pytest.mark.parametrize("name", KEPT)
def test_traced_counts_repeat(name):
    """Two traced runs of one seed launch the same jobs, stages, tasks
    and exchanges and shuffle the same bytes in every span, and each
    traced op writes exactly what the untraced op wrote."""
    (r1, s1), (r2, s2) = _traced(name, 5), _traced(name, 5)
    assert r1["correct"] and r2["correct"]
    assert "trace.overhead_ms" in r1["metrics"]
    per_call = [
        [(s["name"], s["parent"], {k: s["counters"][k] for k in COUNTS}) for s in spans]
        for spans in (s1, s2)
    ]
    assert per_call[0] == per_call[1]
