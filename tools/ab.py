"""Paired A/B benchmark runner: two revisions, alternating runs, one table.

    python3 tools/ab.py <base-rev> [<change-rev>] [--workloads scd_incremental]
                        [--seeds 2,3,4,5,6] [--root DIR] [--json OUT]

Each revision (``<change-rev>`` defaults to ``HEAD``) is unpacked with
``git archive`` into ``<root>/a/repo`` and ``<root>/b/repo``: sibling
directories at the same path depth and length, so neither side runs from
a location the other does not. Passing the same revision twice is an A/A
run. For every workload and seed the two sides run ``perfbench/run.py
--trace 0`` back to back, for the ``run_seconds`` the base's
``BENCHMARK.json`` sets, and the side that runs first alternates from
pair to pair.

The report gives, per workload and metric, each side's median and
interquartile range, the change of the medians, in how many pairs the
change side was better (by the metric's ``better`` direction in the base's
``BENCHMARK.json``), and a verdict:

- ``gain``: B won at least 9 of every 10 pairs (ties count for neither)
  and the medians differ, in B's favour, by more than A's IQR;
- ``worse``: an end-to-end metric whose median moved past its bound in
  the worse direction (also marked ``!``);
- ``unresolved``: an end-to-end metric whose A IQR is wider than its
  bound, unless every B run beat every A run;
- ``within``: any other end-to-end metric; ``-``: any other per-layer
  metric (they have no bound).

Each pair's end-to-end values follow the table. Above the tables, the
report gives the lines added and deleted under ``projectone_spark/``
between the two revisions (``git diff --numstat``) and their net, the
evidence a simplification PR shows for its smaller diff. Runs are
sequential: one Spark session at a time.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def unpack(rev: str, dest: str) -> str:
    """``git archive`` of ``rev`` extracted into ``dest``; returns the full
    commit id."""
    git = ["git", "-C", REPO]
    sha = subprocess.run(git + ["rev-parse", "--verify", f"{rev}^{{commit}}"],
                         check=True, capture_output=True, text=True).stdout.strip()
    os.makedirs(dest)
    archive = subprocess.Popen(git + ["archive", sha], stdout=subprocess.PIPE)
    subprocess.run(["tar", "-x", "-C", dest], stdin=archive.stdout, check=True)
    if archive.wait() != 0:
        raise SystemExit(f"git archive {rev} failed")
    return sha


def line_delta(numstat: str) -> tuple[int, int]:
    """Lines added and deleted in ``git diff --numstat`` output; a binary
    file (``-`` counts) adds none."""
    added = deleted = 0
    for line in numstat.splitlines():
        a, d, _ = line.split("\t", 2)
        if a != "-":
            added, deleted = added + int(a), deleted + int(d)
    return added, deleted


def run_once(checkout: str, workload: str, seed: int, seconds: float) -> dict:
    """One untraced ``perfbench/run.py`` run; its last stdout line is the
    result."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    proc = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stderr[-2000:])
        return {"correct": False, "attempted": 1, "failed": 1, "metrics": {}}
    return json.loads(lines[-1])


def quartiles(xs: list[float]) -> tuple[float, float]:
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def verdict(a: list[float], b: list[float], better: str,
            bound: float | None) -> str:
    """The gain / worse / unresolved rule of the module docstring for one
    metric's paired values ``a[i]``, ``b[i]``."""
    sign = 1 if better == "lower" else -1
    ma, mb = statistics.median(a), statistics.median(b)
    qa1, qa3 = quartiles(a)
    wins = sum(sign * (y - x) < 0 for x, y in zip(a, b))
    if 10 * wins >= 9 * len(a) and sign * (ma - mb) > qa3 - qa1:
        return "gain"
    if bound is None:
        return "-"
    scale = abs(ma) or 1.0
    if sign * (mb - ma) / scale > bound:
        return "worse"
    every_b_beats_every_a = max(sign * y for y in b) < min(sign * x for x in a)
    if (qa3 - qa1) / scale > bound and not every_b_beats_every_a:
        return "unresolved"
    return "within"


def report(workload: str, pairs: list[tuple[dict, dict]], spec: dict) -> list[str]:
    better = {m["name"]: m["better"] for m in spec["end_to_end"] + spec["per_layer"]}
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    lines = [f"## {workload} ({len(pairs)} pairs)", "",
             "| metric | A median | A IQR | B median | B IQR | B vs A | B wins "
             "| verdict |",
             "|---|---|---|---|---|---|---|---|"]
    for name in better:
        both = [(p[0]["metrics"][name]["value"], p[1]["metrics"][name]["value"])
                for p in pairs
                if name in p[0]["metrics"] and name in p[1]["metrics"]]
        if not both:
            continue
        a, b = [x for x, _ in both], [y for _, y in both]
        ma, mb = statistics.median(a), statistics.median(b)
        sign = 1 if better[name] == "lower" else -1
        wins = sum(sign * (y - x) < 0 for x, y in zip(a, b))
        rel = (mb - ma) / abs(ma) if ma else 0.0
        flag = " !" if name in bounds and sign * rel > bounds[name] else ""
        (qa1, qa3), (qb1, qb3) = quartiles(a), quartiles(b)
        lines.append(f"| {name} | {ma:.4g} | {qa3 - qa1:.3g} | {mb:.4g} | "
                     f"{qb3 - qb1:.3g} | {100 * rel:+.1f}%{flag} | {wins}/{len(a)} "
                     f"| {verdict(a, b, better[name], bounds.get(name))} |")
    shown = [n for n in bounds
             if all(n in p[i]["metrics"] for p in pairs for i in (0, 1))]
    lines += ["", "| pair | " + " | ".join(f"{n} A → B" for n in shown) + " |",
              "|---" * (len(shown) + 1) + "|"]
    for i, (a, b) in enumerate(pairs, 1):
        lines.append(f"| {i} | " + " | ".join(
            f"{a['metrics'][n]['value']:.4g} → {b['metrics'][n]['value']:.4g}"
            for n in shown) + " |")
    for side, i in (("A", 0), ("B", 1)):
        ok = sum(p[i]["correct"] for p in pairs)
        failed = sum(p[i]["failed"] for p in pairs)
        lines.append(f"\n{side}: correct {ok}/{len(pairs)}, failed ops {failed}")
    return lines + [""]


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("base")
    p.add_argument("change", nargs="?", default="HEAD")
    p.add_argument("--workloads", default="scd_incremental")
    p.add_argument("--seeds", default="2,3,4,5,6")
    p.add_argument("--root", help="empty scratch directory (default: a new temp dir)")
    p.add_argument("--json", help="write every run's result here")
    args = p.parse_args(argv)

    root = args.root or tempfile.mkdtemp(prefix="ab-")
    sides = [os.path.join(root, s, "repo") for s in ("a", "b")]
    shas = [unpack(rev, d) for rev, d in zip((args.base, args.change), sides)]
    print(f"# A = {args.base} ({shas[0][:10]}) in {sides[0]}")
    print(f"# B = {args.change} ({shas[1][:10]}) in {sides[1]}")
    numstat = subprocess.run(
        ["git", "-C", REPO, "diff", "--numstat", *shas, "--", "projectone_spark/"],
        check=True, capture_output=True, text=True).stdout
    added, deleted = line_delta(numstat)
    print(f"# projectone_spark/: +{added} -{deleted} lines, "
          f"net {added - deleted:+d}\n")
    with open(os.path.join(sides[0], "BENCHMARK.json")) as f:
        spec = json.load(f)

    seeds = [int(s) for s in args.seeds.split(",")]
    raw: dict[str, list] = {}
    for workload in args.workloads.split(","):
        pairs = []
        for i, seed in enumerate(seeds):
            order = (0, 1) if i % 2 == 0 else (1, 0)
            got: dict[int, dict] = {}
            for side in order:
                got[side] = run_once(sides[side], workload, seed,
                                     spec["run_seconds"])
                print(f"# {workload} seed={seed} {'AB'[side]}: correct="
                      f"{got[side]['correct']} failed={got[side]['failed']}",
                      file=sys.stderr, flush=True)
            pairs.append((got[0], got[1]))
        raw[workload] = [{"seed": s, "a": a, "b": b} for s, (a, b) in zip(seeds, pairs)]
        print("\n".join(report(workload, pairs, spec)), flush=True)
    if args.json:
        with open(args.json, "w") as f:
            json.dump({"base": shas[0], "change": shas[1], "runs": raw}, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
