"""Interleaved A/B runs of the repo benchmark between two git revisions.

    python scripts/ab_perfbench.py BASE CHANGE --workload sdmx_revisions \
        --pairs 10 --seed 711 --seconds 10

Each revision is extracted with ``git archive`` into its own directory
under the system temp dir (or ``--workdir``), so no git metadata
changes. Pair ``i`` runs ``perfbench/run.py --seed SEED+i`` once on each
side, alternating which side goes first, so host drift lands on both
sides alike. For every metric the script prints both medians, the base
side's interquartile range, how many pairs the change won (by the
metric's direction in the base checkout's ``BENCHMARK.json``) and whether
the gap between the medians exceeds the base IQR. For each end-to-end
metric it also prints the no-regression check: how far the change's
median moved toward worse, as a fraction of the base median, against the
metric's ``bound``; ``unresolved`` when the base IQR (as a fraction of the
base median) exceeds the bound, unless every change run beats every base
run. Nothing in the checkouts' ``perfbench/`` or ``BENCHMARK.json`` is
modified.
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

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def checkout(repo: str, rev: str, dest: str) -> str:
    sha = subprocess.check_output(
        ["git", "-C", repo, "rev-parse", "--verify", f"{rev}^{{commit}}"], text=True
    ).strip()
    os.makedirs(dest)
    archive = subprocess.Popen(["git", "-C", repo, "archive", sha], stdout=subprocess.PIPE)
    subprocess.check_call(["tar", "-x", "-C", dest], stdin=archive.stdout)
    if archive.wait():
        raise RuntimeError(f"git archive {sha} failed")
    return sha


def run_once(cwd: str, args, seed: int) -> dict:
    cmd = [
        sys.executable, "perfbench/run.py", "--workload", args.workload,
        "--seed", str(seed), "--seconds", str(args.seconds), "--trace", str(args.trace),
    ]
    proc = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True)
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")]
    if proc.returncode or not lines:
        tail = (proc.stderr or proc.stdout)[-2000:]
        raise RuntimeError(f"{' '.join(cmd)} in {cwd} failed ({proc.returncode}):\n{tail}")
    return json.loads(lines[-1])


def spec_of(checkout_dir: str) -> dict[str, dict]:
    """Each metric's entry in the checkout's ``BENCHMARK.json`` (its
    direction, and its ``bound`` for end-to-end metrics), by name."""
    with open(os.path.join(checkout_dir, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m for m in spec["end_to_end"] + spec["per_layer"]}


def summarize(pairs: list[tuple[dict, dict]], spec: dict[str, dict]) -> list[dict]:
    rows = []
    names = sorted(set().union(*(set(b["metrics"]) for b, _ in pairs)))
    for name in names:
        got = [
            (b["metrics"][name]["value"], c["metrics"][name]["value"])
            for b, c in pairs
            if name in b["metrics"] and name in c["metrics"]
        ]
        if not got:
            continue
        base = [b for b, _ in got]
        change = [c for _, c in got]
        lower = spec.get(name, {}).get("better", "lower") == "lower"
        wins = sum((c < b) if lower else (c > b) for b, c in got)
        q1, _, q3 = statistics.quantiles(base, n=4) if len(base) > 1 else (base[0],) * 3
        mb, mc = statistics.median(base), statistics.median(change)
        rows.append({
            "metric": name, "better": "lower" if lower else "higher",
            "base_median": mb, "change_median": mc, "base_iqr": q3 - q1,
            "change_wins": wins, "pairs": len(got),
            "gap_exceeds_base_iqr": ((mb - mc) if lower else (mc - mb)) > (q3 - q1),
        })
        if "bound" in spec.get(name, {}):
            # the no-regression rule: the median's move toward worse as a
            # fraction of the base median, against the metric's bound;
            # unresolved when the base IQR alone spans more than the bound
            # and the change runs do not all beat the base runs
            bound = spec[name]["bound"]
            worse = ((mc - mb) if lower else (mb - mc)) / abs(mb) if mb else 0.0
            all_beat = max(change) < min(base) if lower else min(change) > max(base)
            if mb and (q3 - q1) / abs(mb) > bound and not all_beat:
                check = "unresolved"
            else:
                check = "regressed" if worse > bound else "ok"
            rows[-1].update(worse_frac=worse, check=check, bound=bound)
    return rows


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("base", help="git revision of the base side (e.g. HEAD~1)")
    p.add_argument("change", help="git revision of the change side (e.g. HEAD)")
    p.add_argument("--workload", required=True)
    p.add_argument("--pairs", type=int, default=10)
    p.add_argument("--seed", type=int, default=1, help="seed of the first pair")
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--repo", default=REPO, help="git repository holding both revisions")
    p.add_argument("--workdir", help="parent dir of the checkouts (default: a temp dir)")
    p.add_argument("--out", help="also write every run and the summary as JSON here")
    args = p.parse_args(argv)

    root = tempfile.mkdtemp(prefix="ab-perfbench-", dir=args.workdir)
    sides = {"base": os.path.join(root, "base"), "change": os.path.join(root, "change")}
    try:
        shas = {s: checkout(args.repo, getattr(args, s), d) for s, d in sides.items()}
        print(f"# base {shas['base'][:12]}  change {shas['change'][:12]}  in {root}", flush=True)
        pairs = []
        for i in range(args.pairs):
            seed = args.seed + i
            order = ("base", "change") if i % 2 == 0 else ("change", "base")
            got = {s: run_once(sides[s], args, seed) for s in order}
            pairs.append((got["base"], got["change"]))
            if args.out:  # every finished pair survives a later failure
                dump(args.out, {"shas": shas, "args": vars(args), "runs": pairs})
            print(
                f"# pair {i + 1}/{args.pairs} seed {seed} first={order[0]} "
                + "  ".join(
                    f"{s}: correct={got[s]['correct']} failed={got[s]['failed']}/{got[s]['attempted']}"
                    for s in ("base", "change")
                ),
                flush=True,
            )
        rows = summarize(pairs, spec_of(sides["base"]))
    finally:
        shutil.rmtree(root, ignore_errors=True)

    print(
        f"{'metric':38} {'base':>12} {'change':>12} {'base IQR':>10} {'wins':>6}  gap>IQR"
        "  worse/bound  check"
    )
    for r in rows:
        bounded = (
            f"  {r['worse_frac']:+6.1%}/{r['bound']:<4.0%} {r['check']}" if "check" in r else ""
        )
        print(
            f"{r['metric']:38} {r['base_median']:12.4g} {r['change_median']:12.4g} "
            f"{r['base_iqr']:10.3g} {r['change_wins']:>3}/{r['pairs']:<2}  "
            f"{'yes' if r['gap_exceeds_base_iqr'] else 'no ':7}" + bounded
        )
    if args.out:
        dump(args.out, {"shas": shas, "args": vars(args), "runs": pairs, "summary": rows})
    return 0


def dump(path: str, payload: dict) -> None:
    with open(path, "w") as f:
        json.dump(payload, f, indent=1)


if __name__ == "__main__":
    sys.exit(main())
