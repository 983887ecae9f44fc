"""Strain-load benchmark: one command per workload, fresh Spark processes.

    python3 perfbench/run.py --workload strain_load --seed 1 --seconds 5 --trace 0

``gen.py`` writes the seeded inputs in one process. Then one fresh Spark
process (``worker.py``) sets up a session, runs the workload's untimed
preparation, and times cycles of the Manager tools through
``cli.main``. Outputs of every cycle are checked after that process
exits. See README.md for workloads, metrics and layers.

With ``--trace 0`` the last stdout line carries the end-to-end metrics;
with ``--trace 1`` it carries the per-layer metrics of a traced cycle.
Lines before it report every metric by name and unit, ``error_ratio``,
and the run conditions. Exits non-zero, without a result line, when the
program or a process of the benchmark cannot run.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import checks
from worker import du

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "rat_strain_loader_pipeline_spark"
WORK = os.path.join(ROOT, ".perfbench_run")

RUN_BUDGET_S = 170  # a run must end within 180 s
PAGE = os.sysconf("SC_PAGE_SIZE")

WORKLOADS = ("strain_load", "strain_reload")
END_TO_END = {  # name -> unit; the metrics of a --trace 0 result
    "setup_s": "s",
    "spark_jobs": "count",
    "store_bytes_per_input_byte": "ratio",
}
# printed by every run and not in the result: the speed of a shared host's
# cores drifts from one run to the next by more than these metrics' bound
# (see README.md)
TIMES = {"cpu_s": "s", "wall_s": "s", "rows_per_s": "rows/s"}


class BenchError(RuntimeError):
    """The benchmark itself could not run; no result is printed."""


# ------------------------------------------------------------------ processes
def _proc_children() -> dict[int, list[int]]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    return children


def _tree_rss(root: int) -> int:
    """Resident bytes of ``root`` and all its descendants."""
    children = _proc_children()
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * PAGE
        except (OSError, IndexError, ValueError):
            pass
        todo.extend(children.get(pid, []))
    return total


def _group_alive(pgid: int) -> bool:
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
                if int(fields[2]) == pgid and fields[0] != "Z":
                    return True
            except (OSError, IndexError, ValueError):
                continue
    return False


def _stop_group(pgid: int) -> None:
    """Stop whatever the process group left running, and wait for it."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        if not _group_alive(pgid):
            return
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.monotonic() + 10
        while time.monotonic() < deadline and _group_alive(pgid):
            time.sleep(0.1)


def _env(tmp: str) -> dict:
    """Environment of one benchmark process; everything it writes outside
    its outputs goes under ``tmp``."""
    local = os.path.join(tmp, "spark-local")
    os.makedirs(local, exist_ok=True)
    env = dict(os.environ)
    env.update(
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_LOCAL_DIRS=local,
        TMPDIR=tmp,
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        # a fixed set of JIT compiler threads from the start: the JIT work
        # that spills into a timed cycle then does not depend on when the
        # JVM adds or retires compiler threads (steadier cpu_s)
        JAVA_TOOL_OPTIONS=(f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
                           " -XX:-UseDynamicNumberOfCompilerThreads"),
    )
    # the program runs with its own session defaults (driver heap included)
    for knob in ("SPARK_MASTER", "SPARK_DRIVER_MEMORY"):
        env.pop(knob, None)
    return env


def _spawn(args: list[str], env: dict, cwd: str, log: str, deadline: float,
           sample_rss: bool = False) -> int:
    """Run one benchmark process to completion; returns its peak tree RSS."""
    peak = 0
    with open(log, "ab") as logf:
        proc = subprocess.Popen(args, env=env, cwd=cwd, stdout=logf, stderr=logf,
                                start_new_session=True)
        try:
            while True:
                if sample_rss:
                    peak = max(peak, _tree_rss(proc.pid))
                try:
                    proc.wait(timeout=0.5)
                    break
                except subprocess.TimeoutExpired:
                    if time.monotonic() > deadline:
                        raise BenchError(f"{args[1]} ran past the run budget; log: {log}")
        finally:
            _stop_group(proc.pid)
            proc.wait()
    if proc.returncode != 0:
        with open(log, errors="replace") as f:
            tail = f.read()[-3000:]
        raise BenchError(f"{os.path.basename(args[1])} exited {proc.returncode}:\n{tail}")
    return peak


def _worker(workload: str, seconds: float, inputs: str, trace: int,
            deadline: float) -> tuple[dict, int]:
    out = os.path.join(WORK, "worker.json")
    args = [sys.executable, os.path.join(HERE, "worker.py"), "--workload", workload,
            "--run-dir", WORK, "--input", inputs, "--trace", str(trace),
            "--seconds", repr(seconds), "--deadline", repr(deadline), "--out", out]
    spawned = time.monotonic()
    peak = _spawn(args + ["--spawned-at", repr(spawned)], _env(os.path.join(WORK, "tmp")),
                  WORK, os.path.join(WORK, "worker.log"), deadline,
                  sample_rss=trace == 1)
    with open(out) as f:
        return json.load(f), peak


# ---------------------------------------------------------------------- checks
def _check(workload: str, res: dict, inputs: str, truths: dict) -> tuple[list, float]:
    """Checks every tool call and every cycle's outputs; returns the checks
    and the stored-pair share of ``strain_reload``'s post-processing."""
    prep, runs = res["prep_tools"], res["iterations"]
    found = _check_tools(prep)
    share = 0.0
    if workload == "strain_reload" and all(t["ok"] for t in prep):
        found += checks.check_reload_prep(truths, prep, os.path.join(WORK, "prep", "store"),
                                          inputs)
    for r in runs:
        found += _check_tools(r["tools"])
        if not r["ok"]:
            continue
        store = os.path.join(r["dir"], "store")
        if workload == "strain_load":
            found += checks.check_strain_load(truths, r["tools"], store, inputs)
        else:
            reload_checks, expected_pairs = checks.check_strain_reload(
                truths, r["tools"], store, inputs)
            found += reload_checks
            share = checks.tool_counters(prep, "VariantPostProcessing")[
                "variant_transcript_rows"] / expected_pairs
    if not runs or not all(r["ok"] for r in runs):
        found.append({"check": "cycles_completed", "ok": False, "got": len(runs), "want": "all"})
    failed_streams = res["streaming"]["failed"]
    found.append({"check": "streams_failed", "ok": failed_streams == 0,
                  "got": failed_streams, "want": 0})
    return found, share


def _layers(workload: str, res: dict, peak: int, calls: int) -> dict:
    """Per-layer numbers of the traced cycle, with the sizes read off disk."""
    traced = res["iterations"][-1]
    layers = dict(res["layers"])
    layers["staging.bytes"] = sum(du(p) for p in layers.pop("staging.paths"))
    for s in ("start_s", "ship_s", "worker_warm_s"):
        layers[f"session.{s}"] = res["setup"][s]
    cf2_dir = os.path.join(traced["dir"], "cf2_a" if workload == "strain_load" else "cf2_b")
    layers["cf2.bytes"] = du(cf2_dir)
    store = os.path.join(traced["dir"], "store")
    layers["store.bytes"] = du(store)
    layers["store.files"] = sum(
        1 for _d, _s, files in os.walk(store) for f in files if f.endswith(".parquet"))
    # what the process left in its temp dir after it exited
    layers["staging.left_bytes"] = du(os.path.join(WORK, "tmp"))
    tools = traced["tools"]
    layers["postprocess.vt_rows"] = checks.tool_counters(
        tools, "VariantPostProcessing").get("variant_transcript_rows", 0)
    layers["polyphen.candidates"] = checks.tool_counters(
        tools, "Polyphen").get("candidates", 0)
    untraced = res["iterations"][-2]
    layers["cycle.wall_s"] = untraced["wall_s"]
    layers["cycle.rows_per_s"] = calls / untraced["wall_s"]
    layers["cycle.cpu_s"] = untraced["cpu_s"]
    layers["cycle.jit_cpu_s"] = untraced["jit_cpu_s"]
    layers["trace.wall_s"] = traced["wall_s"]
    layers["trace.cpu_s"] = traced["cpu_s"]
    layers["peak_rss_mb"] = peak / 2**20
    return layers


def _check_tools(tools: list[dict]) -> list[dict]:
    return [{"check": f"tool:{t['tool']}", "ok": t["ok"], "got": t["ok"], "want": True}
            for t in tools]


# ---------------------------------------------------------------------- report
def _conditions(seed: int, truths: dict, res: dict, timed: list[dict], share: float,
                workload: str) -> dict:
    digest = hashlib.sha256()
    pkg = os.path.join(ROOT, PKG)
    for dirpath, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(dirpath, f), "rb") as fh:
                    digest.update(fh.read())
    return {
        "workload": workload,
        "seed": seed,
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": len(os.sched_getaffinity(0)),
        "spark.driver.memory": res["setup"]["driver_memory"],
        "git_commit": _git_head(),
        "source_sha256": digest.hexdigest()[:16],
        "timed_cycles": len(timed),
        "cycle_wall_s": [round(r["wall_s"], 3) for r in timed],
        "cycle_cpu_s": [round(r["cpu_s"], 3) for r in timed],
        "prep": res["prep"],
        "setup": res["setup"],
        "host_canary_s": res["host_canary_s"],
        "host_steal_s": sum(r["host_steal_s"] for r in timed),
        "stored_pair_share": share,
        "streaming": res["streaming"],
        "inputs": {k: truths[k] for k in (
            "sites_a", "sites_b", "shared_sites", "genotype_calls_a", "genotype_calls_b",
            "vcf_bytes_a", "vcf_bytes_b", "genes", "transcripts")},
    }


def _git_head() -> str:
    """The commit, when the checkout is a git work tree (read, not run)."""
    head = os.path.join(ROOT, ".git", "HEAD")
    try:
        with open(head) as f:
            ref = f.read().strip()
        if ref.startswith("ref: "):
            with open(os.path.join(ROOT, ".git", ref[5:])) as f:
                return f.read().strip()
        return ref
    except OSError:
        return "unknown"


def _unit(name: str) -> str:
    if name == "peak_rss_mb":
        return "MB"
    if name.endswith("rows_per_s"):
        return "rows/s"
    if name.endswith("_s") or name.endswith(".s"):
        return "s"
    if "bytes" in name:
        return "bytes"
    if name.endswith("ratio"):
        return "ratio"
    return "count"


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="timed wall seconds to accumulate; at least one cycle is timed")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    started = time.monotonic()
    deadline = started + RUN_BUDGET_S

    if not os.path.isfile(os.path.join(ROOT, PKG, "cli.py")):
        raise BenchError(f"the program ({PKG}/) is not in {ROOT}")
    shutil.rmtree(WORK, ignore_errors=True)
    inputs = os.path.join(WORK, "input")
    os.makedirs(inputs)
    _spawn([sys.executable, os.path.join(HERE, "gen.py"), "--seed", str(a.seed),
            "--out", inputs], _env(os.path.join(WORK, "tmp")), WORK,
           os.path.join(WORK, "gen.log"), deadline)
    with open(os.path.join(inputs, "truths.json")) as f:
        truths = json.load(f)

    res, peak = _worker(a.workload, a.seconds, inputs, a.trace, deadline)
    all_checks, share = _check(a.workload, res, inputs, truths)
    timed = [r for r in res["iterations"] if not r["traced"]]
    if not timed:
        raise BenchError("no timed cycle ran; log: " + os.path.join(WORK, "worker.log"))
    failed = sum(not c["ok"] for c in all_checks)
    for c in all_checks:
        if not c["ok"]:
            print(f"FAILED check {c['check']}: got {c['got']} want {c['want']}", file=sys.stderr)
    calls, vcf_bytes = ((truths["genotype_calls_a"], truths["vcf_bytes_a"])
                        if a.workload == "strain_load"
                        else (truths["genotype_calls_b"], truths["vcf_bytes_b"]))
    med = lambda key: statistics.median(r[key] for r in timed)  # noqa: E731
    e2e = {
        "setup_s": res["setup"]["setup_s"],
        "wall_s": med("wall_s"),
        "cpu_s": med("cpu_s"),
        "spark_jobs": med("jobs"),
        "rows_per_s": statistics.median(calls / r["wall_s"] for r in timed),
        "store_bytes_per_input_byte": med("store_bytes_added") / vcf_bytes,
    }
    cond = _conditions(a.seed, truths, res, timed, share, a.workload)
    print("perfbench conditions " + json.dumps(cond, sort_keys=True))
    for tool in timed[-1]["tools"]:
        print(f"perfbench tool {tool['tool']} = {tool['s']:.6g} s")
    for name, unit in {**END_TO_END, **TIMES}.items():
        print(f"perfbench e2e {name} = {e2e[name]:.6g} {unit}")
    print(f"perfbench e2e error_ratio = {failed / len(all_checks):.6g} ratio "
          f"({failed} failed of {len(all_checks)} operations)")
    if a.trace:
        layers = _layers(a.workload, res, peak, calls)
        for name in sorted(layers):
            print(f"perfbench layer {name} = {layers[name]:.6g} {_unit(name)}")
        metrics = {k: {"value": v, "unit": _unit(k)} for k, v in layers.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({"correct": failed == 0, "attempted": len(all_checks),
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    # a stopped run still stops the Spark process it started (``_spawn``)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        sys.exit(main())
    except BenchError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        sys.exit(2)
