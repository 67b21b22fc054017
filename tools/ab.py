#!/usr/bin/env python3
"""Interleaved A/B timing of two checkouts of this repository.

    python3 tools/ab.py BASE HEAD --queries q05_revenue_by_nation,q36_embedding_neardup \\
        --sf testdata/sf0.01 --pairs 10 --out ab.json

Compiles each checkout once with sbt, then runs `graft.Bench` in
`SPARK_GRAFT_AB` mode on the two classpaths in alternating pairs
(BASE then HEAD, then HEAD then BASE, ...), one JVM per run. Each run
reports each query's median of 7 interleaved reps and the SHA-256 of its
ordered rows. The tool fails (exit 1) when a run reports an error or when
any query's digest is not the same in every run of both trees.

Per query it reports, over the pairs, the median and quartiles of each
tree's times, the number of pairs HEAD was faster in, and the two-sided
sign-test p-value over the pairs that were not tied. The whole result,
every pair's times included, goes to one JSON file (--out).
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
from math import comb
from pathlib import Path


def sbt_runtime(tree: Path) -> tuple:
    """Compiles `tree` and returns its (runtime classpath, JVM options)."""
    proc = subprocess.run(
        ["sbt", "-batch", "-Dsbt.supershell=false", "compile",
         "export Runtime/fullClasspath", "print javaOptions"],
        cwd=tree, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    lines = proc.stdout.splitlines()
    if proc.returncode != 0:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        raise SystemExit(f"ab: sbt failed in {tree}")
    cps = [l for l in lines if not l.startswith("[") and os.pathsep in l and ".jar" in l]
    if not cps:
        raise SystemExit(f"ab: no classpath in the sbt output of {tree}")
    opts = [l[2:] for l in lines if l.startswith("* ")]
    return cps[-1], opts


def bench(cp: str, opts: list, queries: str, sf: str, work: Path) -> dict:
    """One `graft.Bench` A/B run; returns its JSON line."""
    env = dict(os.environ, SPARK_GRAFT_AB=queries, SPARK_GRAFT_SF_DIR=sf)
    proc = subprocess.run(["java", *opts, "-cp", cp, "graft.Bench"], cwd=work, env=env,
                          stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = [l for l in proc.stdout.splitlines() if l.startswith('{"metric"')]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stderr[-3000:])
        raise SystemExit(f"ab: graft.Bench exited {proc.returncode} with no result line")
    line = json.loads(lines[-1])
    if line["errors"]:
        raise SystemExit(f"ab: queries failed: {line['errors']}")
    return line


def quartiles(xs: list) -> list:
    if len(xs) < 2:
        return [xs[0], xs[0]]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return [q[0], q[2]]


def sign_test(wins: int, losses: int) -> float:
    """Two-sided exact sign-test p-value of `wins` against `losses`."""
    n = wins + losses
    if n == 0:
        return 1.0
    k = min(wins, losses)
    tail = sum(comb(n, i) for i in range(k + 1)) / 2 ** n
    return min(1.0, 2 * tail)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("base", type=Path, help="checkout of the parent (A)")
    ap.add_argument("head", type=Path, help="checkout of the change (B)")
    ap.add_argument("--queries", required=True, help="comma-separated query names")
    ap.add_argument("--sf", required=True, help="scale directory of the test tables")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--out", type=Path, default=Path("ab.json"))
    a = ap.parse_args()

    trees = {"base": a.base.resolve(), "head": a.head.resolve()}
    sf = str(Path(a.sf).resolve())  # each run's working directory is a fresh temp dir
    runtime = {name: sbt_runtime(tree) for name, tree in trees.items()}
    names = [q.strip() for q in a.queries.split(",") if q.strip()]
    times = {name: {q: [] for q in names} for name in trees}
    digests = {q: set() for q in names}
    work = Path(tempfile.mkdtemp(prefix="graft-ab-"))
    try:
        for i in range(a.pairs):
            order = ["base", "head"] if i % 2 == 0 else ["head", "base"]
            for name in order:
                line = bench(*runtime[name], ",".join(names), sf, work)
                for q in names:
                    times[name][q].append(line["queries"][q])
                    digests[q].add(line["digests"][q])
            print(f"pair {i + 1}/{a.pairs}: " + ", ".join(
                f"{q} {times['base'][q][-1]:.3f}/{times['head'][q][-1]:.3f}" for q in names),
                file=sys.stderr)
            if any(len(d) > 1 for d in digests.values()):
                break  # the rows already differ: more pairs would not change the verdict
    finally:
        shutil.rmtree(work, ignore_errors=True)

    report = {}
    for q in names:
        base, head = times["base"][q], times["head"][q]
        wins = sum(h < b for b, h in zip(base, head))
        losses = sum(h > b for b, h in zip(base, head))
        report[q] = {
            "base_median_s": statistics.median(base), "base_quartiles_s": quartiles(base),
            "head_median_s": statistics.median(head), "head_quartiles_s": quartiles(head),
            "head_wins": wins, "head_losses": losses, "pairs": len(base),
            "sign_test_p": sign_test(wins, losses), "digests_equal": len(digests[q]) == 1,
            "base_s": base, "head_s": head}
    artifact = {"base": str(trees["base"]), "head": str(trees["head"]), "sf": sf,
                "pairs": a.pairs, "queries": report}
    a.out.write_text(json.dumps(artifact, indent=2) + "\n")

    for q, r in report.items():
        print(f"{q}: base {r['base_median_s']:.3f} s [{r['base_quartiles_s'][0]:.3f}, "
              f"{r['base_quartiles_s'][1]:.3f}], head {r['head_median_s']:.3f} s "
              f"[{r['head_quartiles_s'][0]:.3f}, {r['head_quartiles_s'][1]:.3f}], "
              f"head faster in {r['head_wins']}/{r['pairs']}, p={r['sign_test_p']:.4f}"
              + ("" if r["digests_equal"] else ", DIGESTS DIFFER"))
    differ = [q for q, r in report.items() if not r["digests_equal"]]
    if differ:
        print(f"ab: FAILED: the rows differ between the trees: {', '.join(differ)}",
              file=sys.stderr)
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
