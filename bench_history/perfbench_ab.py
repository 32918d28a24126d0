"""Interleaved A/B of the perfbench workloads: a parent revision against
this checkout's working tree.

    python3 bench_history/perfbench_ab.py --parent HEAD --seeds 20-29 --out ab.json
    python3 bench_history/perfbench_ab.py --summarize ab.json

The parent's committed files are exported with ``git archive`` into a
scratch directory (the benchmark compares committed files, and an
export registers nothing in the repository). For every seed and
workload the ``BENCHMARK.json`` command runs once in each checkout
(``--seconds`` from the file, ``--trace 0``), and the side that goes
first alternates from one pair to the next. Each run's last stdout
line is its JSON result; ``--out`` is rewritten with every run so far
as each run ends, so an interrupted A/B can still be summarized.

The summary is refused when any run failed, reported ``correct:
false`` or counted failed ops. Otherwise, per workload and end-to-end
metric, it prints the parent and change medians with their quartiles,
the parent's spread (IQR / median) against the metric's bound, marked
"unresolved" when the spread is wider, and the pairs the change won.
Nothing under ``perfbench/`` is changed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seed_list(spec: str) -> list[int]:
    """``"20-29"`` or ``"3,5,8"`` (or a mix) -> seeds."""
    seeds = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        seeds += range(int(lo), int(hi or lo) + 1)
    return seeds


def export(rev: str, dest: str) -> None:
    os.makedirs(dest)
    archive = subprocess.run(
        ["git", "-C", ROOT, "archive", rev], check=True, capture_output=True
    ).stdout
    subprocess.run(["tar", "-x", "-C", dest], input=archive, check=True)


def run_once(bench: dict, checkout: str, workload: str, seed: int) -> dict:
    cmd = [
        *bench["command"],
        "--workload", workload,
        "--seed", str(seed),
        "--seconds", str(bench.get("run_seconds", 8)),
        "--trace", "0",
    ]
    proc = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = [ln for ln in proc.stdout.splitlines() if ln.strip()]
    try:
        return json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        return {"error": f"exit {proc.returncode}: {proc.stderr[-2000:]}"}


def refusals(runs: list[dict]) -> list[str]:
    bad = []
    for r in runs:
        res = r["result"]
        if "error" in res or not res.get("correct") or res.get("failed", 1) > 0:
            bad.append(f"{r['side']} {r['workload']} seed {r['seed']}: {json.dumps(res)[:300]}")
    return bad


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def summarize(bench: dict, runs: list[dict]) -> str:
    out = []
    for wl in dict.fromkeys(r["workload"] for r in runs):
        by_seed: dict[int, dict[str, dict]] = {}
        for r in runs:
            if r["workload"] == wl:
                by_seed.setdefault(r["seed"], {})[r["side"]] = r["result"]["metrics"]
        pairs = [s for s in by_seed.values() if {"parent", "change"} <= s.keys()]
        out.append(f"{wl}: {len(pairs)} pairs")
        out.append(
            f"  {'metric':<16} {'parent median [q1, q3]':>30} {'change median [q1, q3]':>30}"
            f" {'ratio':>6} {'spread':>7} {'bound':>6} {'':<10} won"
        )
        for m in bench["end_to_end"] if pairs else []:
            name = m["name"]
            par = [p["parent"][name]["value"] for p in pairs]
            chg = [p["change"][name]["value"] for p in pairs]
            pq, cq = quartiles(par), quartiles(chg)
            spread = (pq[2] - pq[0]) / pq[1] if pq[1] else float("inf")
            lower = m["better"] == "lower"
            won = sum((c < p) if lower else (c > p) for p, c in zip(par, chg))
            ratio = cq[1] / pq[1] if pq[1] else float("nan")
            out.append(
                f"  {name:<16} {pq[1]:>10.1f} [{pq[0]:>8.1f}, {pq[2]:>8.1f}]"
                f" {cq[1]:>10.1f} [{cq[0]:>8.1f}, {cq[2]:>8.1f}]"
                f" {ratio:>6.3f} {spread:>7.3f} {m['bound']:>6.2f}"
                f" {'unresolved' if spread > m['bound'] else 'resolved':<10} {won}/{len(pairs)}"
            )
    return "\n".join(out)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent", help="git revision to compare against")
    ap.add_argument("--seeds", help='e.g. "20-29"')
    ap.add_argument("--out", help="JSON file holding every run so far")
    ap.add_argument("--summarize", metavar="RUNS_JSON", help="only summarize saved runs")
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)

    if args.summarize:
        with open(args.summarize) as fh:
            runs = json.load(fh)
    else:
        if not (args.parent and args.seeds):
            ap.error("--parent and --seeds are required unless --summarize is given")
        workloads = [w["name"] for w in bench["workloads"]]
        scratch = tempfile.mkdtemp(prefix="perfbench-ab-")
        parent = os.path.join(scratch, "parent")
        runs = []
        try:
            export(args.parent, parent)
            sides = {"parent": parent, "change": ROOT}
            for i, seed in enumerate(seed_list(args.seeds)):
                for j, wl in enumerate(workloads):
                    # each workload alternates its first side from seed to seed
                    order = ["parent", "change"] if (i + j) % 2 == 0 else ["change", "parent"]
                    for side in order:
                        res = run_once(bench, sides[side], wl, seed)
                        runs.append({"workload": wl, "seed": seed, "side": side, "result": res})
                        print(json.dumps(runs[-1]), file=sys.stderr, flush=True)
                        if args.out:
                            with open(args.out, "w") as fh:
                                json.dump(runs, fh, indent=1)
        finally:
            shutil.rmtree(scratch, ignore_errors=True)

    bad = refusals(runs)
    if bad:
        print("refusing to summarize; bad runs:\n  " + "\n  ".join(bad))
        return 1
    print(summarize(bench, runs))
    return 0


if __name__ == "__main__":
    sys.exit(main())
