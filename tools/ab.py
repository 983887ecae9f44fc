"""Interleaved A/B of one perfbench workload between two checkouts.

    python tools/ab.py --base ../parent --change . --workload strain_load \
        --pairs 10 --seed 1101 > plans/ab.md

Runs ``--pairs`` pairs of fresh ``perfbench/run.py --trace 0`` processes,
one per checkout, alternating which side runs first; pair ``i`` runs both
sides on seed ``--seed + i``. Every run of one invocation shares one
fresh ``XDG_CACHE_HOME``, so a program cache (the driver JVM's
class-data archive) starts empty: a side's first run pays its fill and
is reported on its own row, not dropped.

Prints a markdown report: one row per run (its end-to-end metrics, the
start-up layer, the host canary and the archive state its run log
printed), then per metric each side's median and quartiles, the change's
wins per pair, and whether the claim rule holds (the change wins at least
nine tenths of the pairs and the medians differ by more than the base's
interquartile range).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import tempfile
import time

METRICS = ("setup_s", "spark_jobs", "store_bytes_per_input_byte")  # all lower-is-better
RUN_TIMEOUT_S = 600


def run_once(checkout: str, workload: str, seed: int, seconds: float, cache: str) -> dict:
    """One perfbench process in ``checkout``: its metrics and conditions."""
    t0 = time.monotonic()
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", repr(seconds), "--trace", "0"],
        cwd=checkout, capture_output=True, text=True, timeout=RUN_TIMEOUT_S,
        env={**os.environ, "XDG_CACHE_HOME": cache},
    )
    row = {"wall": time.monotonic() - t0, "rc": proc.returncode}
    lines = proc.stdout.splitlines()
    if proc.returncode != 0 or not lines:
        row["error"] = (proc.stderr.strip().splitlines() or ["no output"])[-1]
        return row
    result = json.loads(lines[-1])
    row.update({k: v["value"] for k, v in result["metrics"].items()})
    row["failed"], row["attempted"] = result["failed"], result["attempted"]
    for line in lines:
        if line.startswith("perfbench conditions "):
            cond = json.loads(line[len("perfbench conditions "):])
            row["host_canary_s"] = cond["host_canary_s"]
            row["start_s"] = cond["setup"]["start_s"]
            row["worker_warm_s"] = cond["setup"]["worker_warm_s"]
    row["archive"] = _archive_state(os.path.join(checkout, ".perfbench_run", "worker.log"))
    return row


def _archive_state(log: str) -> str:
    """The archive state of the run's first tool call, from its run log."""
    try:
        with open(log) as f:
            for line in f:
                if line.startswith("startup_archive "):
                    return json.loads(line[len("startup_archive "):])["state"]
    except OSError:
        pass
    return "-"


def _quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def report(runs: list[dict], args) -> str:
    out = [f"# perfbench A/B: `{args.workload}`", "",
           f"- base: `{args.base}` ({_head(args.base)})",
           f"- change: `{args.change}` ({_head(args.change)})",
           f"- {args.pairs} pairs, seeds {args.seed}-{args.seed + args.pairs - 1}, "
           f"`--seconds {args.seconds}`, `--trace 0`, {len(os.sched_getaffinity(0))} usable cores,"
           " order alternating (even pairs base first)",
           "", "| pair | order | side | seed | setup_s | session.start_s | worker_warm_s | "
           "spark_jobs | store_bytes_per_input_byte | failed | host_canary_s | archive | "
           "run wall s |", "|" + "---|" * 13]
    fmt = lambda r, k: f"{r[k]:.4g}" if isinstance(r.get(k), (int, float)) else "-"  # noqa: E731
    for r in runs:
        if "error" in r:
            out.append(f"| {r['pair']} | {r['order']} | {r['side']} | {r['seed']} | "
                       f"error: {r['error']} |" + " |" * 9)
            continue
        out.append(
            f"| {r['pair']} | {r['order']} | {r['side']} | {r['seed']} | {fmt(r, 'setup_s')} | "
            f"{fmt(r, 'start_s')} | {fmt(r, 'worker_warm_s')} | {fmt(r, 'spark_jobs')} | "
            f"{fmt(r, 'store_bytes_per_input_byte')} | {r['failed']}/{r['attempted']} | "
            f"{fmt(r, 'host_canary_s')} | {r['archive']} | {r['wall']:.1f} |")
    out += ["", "| metric | base median [q1, q3] | change median [q1, q3] | change wins | "
            "ties | claim rule |", "|---|---|---|---|---|---|"]
    by_pair: dict[int, dict[str, dict]] = {}
    for r in runs:
        by_pair.setdefault(r["pair"], {})[r["side"]] = r
    pairs = [p for p in by_pair.values()
             if all(s in p and "error" not in p[s] for s in ("base", "change"))]
    for m in METRICS + ("start_s", "worker_warm_s", "host_canary_s"):
        base = [p["base"][m] for p in pairs]
        change = [p["change"][m] for p in pairs]
        if not base:
            continue
        b, c = _quartiles(base), _quartiles(change)
        wins = sum(p["change"][m] < p["base"][m] for p in pairs)
        ties = sum(p["change"][m] == p["base"][m] for p in pairs)
        holds = wins >= 0.9 * len(pairs) and b[1] - c[1] > b[2] - b[0]
        out.append(f"| {m} | {b[1]:.4g} [{b[0]:.4g}, {b[2]:.4g}] | "
                   f"{c[1]:.4g} [{c[0]:.4g}, {c[2]:.4g}] | {wins}/{len(pairs)} | {ties} | "
                   f"{'holds' if holds else 'not met'} |")
    failed = {s: sum(r.get("failed", 0) for r in runs if r["side"] == s) for s in ("base", "change")}
    out += ["", f"Failed operations: base {failed['base']}, change {failed['change']}. "
            "Lower is better for every metric; `host_canary_s` is the host's speed "
            "(a fixed JVM job), not a result."]
    return "\n".join(out) + "\n"


def _head(checkout: str) -> str:
    proc = subprocess.run(["git", "-C", checkout, "rev-parse", "--short", "HEAD"],
                          capture_output=True, text=True)
    dirty = subprocess.run(["git", "-C", checkout, "status", "--porcelain", "--untracked-files=no"],
                           capture_output=True, text=True).stdout.strip()
    return (proc.stdout.strip() or "not a git checkout") + (" + working-tree changes" if dirty else "")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--base", required=True, help="checkout of the parent commit")
    ap.add_argument("--change", required=True, help="checkout of the change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, required=True, help="seed of the first pair")
    ap.add_argument("--seconds", type=float, default=5)
    args = ap.parse_args()
    args.base, args.change = os.path.abspath(args.base), os.path.abspath(args.change)
    runs = []
    with tempfile.TemporaryDirectory(prefix="ab-cache-") as cache:
        for i in range(args.pairs):
            order = ("base", "change") if i % 2 == 0 else ("change", "base")
            for side in order:
                row = run_once(getattr(args, side), args.workload, args.seed + i,
                               args.seconds, cache)
                row.update(pair=i + 1, order="/".join(s[0].upper() for s in order),
                           side=side, seed=args.seed + i)
                runs.append(row)
                print(f"pair {i + 1} {side}: " + json.dumps(
                    {k: row.get(k) for k in ("setup_s", "spark_jobs", "archive", "error")}),
                    file=sys.stderr)
    sys.stdout.write(report(runs, args))
    return 0


if __name__ == "__main__":
    sys.exit(main())
