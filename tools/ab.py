#!/usr/bin/env python3
"""A/B the repository benchmark between two commits.

    python3 tools/ab.py --parent HEAD~1 --change HEAD --workload cql_oltp \
        --pairs 10 --seconds 4 [--aa] [--trace] [--seed 1] [--workdir DIR] [--out FILE]

Each commit is exported with ``git archive`` into its own directory under
``--workdir`` (a fresh temporary directory by default), so each arm builds
what it runs from its own tree, as the benchmark's own runs do. Pair ``i``
runs ``perfbench/run.py --trace 0`` on seed ``--seed + i`` in the parent
copy and in the change copy; ``--aa`` adds a second parent
copy to every pair (an A/A arm), whose spread is what a change must beat.
Runs are sequential, and odd pairs run the arms in reverse order, so no arm
always runs first.

For each end-to-end metric of ``BENCHMARK.json`` the report gives every
arm's median, quartiles and IQR/median, and the number of pairs in which
the change beat the parent (and the A/A copy beat the parent). A run that
fails, or reports ``correct`` false or a non-zero ``failed``, is listed.
``--out`` keeps every run's result as JSON lines.

``--trace`` adds one ``--trace 1`` run per arm after the pairs, on the
next seed (``--seed + --pairs``), and prints its per-layer metrics side by
side, with the change over the parent, so a perf claim can name the layer
that moved. ``--pairs 0 --trace`` runs the traced arms alone.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import tempfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def export(commit: str, dest: Path) -> Path:
    """``git archive`` of ``commit`` unpacked into ``dest``."""
    dest.mkdir(parents=True, exist_ok=False)
    archive = subprocess.run(
        ["git", "-C", str(ROOT), "archive", "--format=tar", commit],
        check=True, capture_output=True,
    ).stdout
    subprocess.run(["tar", "-x", "-C", str(dest)], input=archive, check=True)
    return dest


def run_once(tree: Path, workload: str, seed: int, seconds: float, trace: int = 0) -> dict:
    """One benchmark run in ``tree``: its result line, or ``{"error": ...}``."""
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=tree, capture_output=True, text=True,
    )
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        return {"error": f"exit {proc.returncode}: {proc.stderr.strip()[-400:]}"}
    return json.loads(lines[-1])


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        v = values[0] if values else float("nan")
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4, method="inclusive")
    return q1, q2, q3


def summarize(runs: dict[str, list[dict]], metrics: list[dict]) -> list[str]:
    """Report lines for the arms' results (arm -> one result per pair, in
    pair order); ``metrics`` are BENCHMARK.json's end-to-end entries."""
    lines = []
    for m in metrics:
        name, lower = m["name"], m["better"] == "lower"
        values = {
            arm: [r["metrics"][name]["value"] if "metrics" in r else None for r in rs]
            for arm, rs in runs.items()
        }
        lines.append(f"{name} ({m['unit']}, {m['better']} is better, bound {m['bound']})")
        for arm, vs in values.items():
            ok = [v for v in vs if v is not None]
            q1, med, q3 = quartiles(ok)
            lines.append(
                f"  {arm:<8} median {med:10.3f}  q1 {q1:10.3f}  q3 {q3:10.3f}  "
                f"iqr/median {(q3 - q1) / med if med else float('nan'):.3f}  n {len(ok)}"
            )
        for arm in values:
            if arm == "parent":
                continue
            pairs = [(p, c) for p, c in zip(values["parent"], values[arm])
                     if p is not None and c is not None]
            wins = sum((c < p) if lower else (c > p) for p, c in pairs)
            lines.append(f"  {arm} beat parent in {wins} of {len(pairs)} pairs")
    for arm, rs in runs.items():
        for i, r in enumerate(rs):
            if "error" in r or not r.get("correct") or r.get("failed"):
                lines.append(f"  {arm} pair {i}: {r.get('error') or 'failed ' + str(r.get('failed'))}")
    return lines


def summarize_trace(runs: dict[str, dict], per_layer: list[dict]) -> list[str]:
    """Report lines for one traced run per arm (arm -> its result): each
    per-layer metric of BENCHMARK.json, then any other the runs report, as
    one row with every arm's value and the change over the parent."""
    values = {arm: {k: m["value"] for k, m in r.get("metrics", {}).items()}
              for arm, r in runs.items()}
    names = [m["name"] for m in per_layer]
    names += sorted({k for vs in values.values() for k in vs} - set(names))
    units = {m["name"]: m["unit"] for m in per_layer}
    arms = list(runs)
    lines = [f"{'metric':<44}" + "".join(f"{arm:>14}" for arm in arms) + f"{'change/parent':>15}"]
    for name in names:
        row = [values[arm].get(name) for arm in arms]
        if all(v is None for v in row):
            continue
        p, c = values["parent"].get(name), values.get("change", {}).get(name)
        ratio = f"{c / p:15.3f}" if p and c is not None else f"{'-':>15}"
        label = f"{name} ({units[name]})" if name in units else name
        lines.append(f"{label:<44}" + "".join(
            f"{'-':>14}" if v is None else f"{v:14.4g}" for v in row) + ratio)
    for arm, r in runs.items():
        if "error" in r or not r.get("correct") or r.get("failed"):
            lines.append(f"  {arm} traced run: {r.get('error') or 'failed ' + str(r.get('failed'))}")
    return lines


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--parent", required=True)
    p.add_argument("--change", required=True)
    p.add_argument("--workload", required=True, choices=("cql_oltp", "analytics"))
    p.add_argument("--pairs", type=int, default=10)
    p.add_argument("--seconds", type=float, default=4)
    p.add_argument("--seed", type=int, default=1, help="seed of the first pair")
    p.add_argument("--aa", action="store_true", help="add a second parent copy")
    p.add_argument("--trace", action="store_true",
                   help="add one --trace 1 run per arm and print its per-layer metrics")
    p.add_argument("--workdir", type=Path, default=None)
    p.add_argument("--out", type=Path, default=None)
    args = p.parse_args(argv)

    work = args.workdir or Path(tempfile.mkdtemp(prefix="ab-"))
    trees = {"parent": export(args.parent, work / "parent"),
             "change": export(args.change, work / "change")}
    if args.aa:
        trees["parent2"] = export(args.parent, work / "parent2")
    spec = json.loads((trees["parent"] / "BENCHMARK.json").read_text())
    metrics = spec["end_to_end"]

    runs: dict[str, list[dict]] = {arm: [] for arm in trees}
    for i in range(args.pairs):
        seed = args.seed + i
        order = list(trees) if i % 2 == 0 else list(reversed(trees))
        for arm in order:
            res = run_once(trees[arm], args.workload, seed, args.seconds)
            runs[arm].append(res)
            if args.out:
                with args.out.open("a") as f:
                    f.write(json.dumps({"arm": arm, "pair": i, "seed": seed, **res}) + "\n")
            short = {m["name"]: res["metrics"][m["name"]]["value"]
                     for m in metrics} if "metrics" in res else res
            print(f"pair {i} seed {seed} {arm}: {short}", file=sys.stderr, flush=True)
    traced: dict[str, dict] = {}
    if args.trace:
        seed = args.seed + args.pairs
        for arm in trees:
            traced[arm] = run_once(trees[arm], args.workload, seed, args.seconds, trace=1)
            if args.out:
                with args.out.open("a") as f:
                    f.write(json.dumps({"arm": arm, "trace": 1, "seed": seed, **traced[arm]}) + "\n")
            print(f"traced seed {seed} {arm} done", file=sys.stderr, flush=True)
    print(f"{args.workload}: {args.pairs} pairs, parent {args.parent}, change {args.change}")
    if args.pairs:
        print("\n".join(summarize(runs, metrics)))
    if traced:
        print(f"per-layer metrics, one --trace 1 run per arm, seed {args.seed + args.pairs}")
        print("\n".join(summarize_trace(traced, spec["per_layer"])))
    return 0


if __name__ == "__main__":
    sys.exit(main())
