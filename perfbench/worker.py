"""The Spark process of one benchmark run.

It sets up a fresh session and runs the workload's untimed preparation
(``strain_reload``: load batch A and post-process one chromosome, so the
store and its variant_transcript table are populated). Then it times
cycles of the workload's tool calls through ``cli.main``, each into its
own store, in wall and CPU seconds, until ``--seconds`` of wall time have
passed. Last it runs the host canary. With ``--trace 1`` it runs one
untraced and one traced cycle; the traced one wraps each layer's public
functions and gives the per-layer numbers.

Writes one JSON result file; output checks run in the parent process.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import shutil
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "rat_strain_loader_pipeline_spark"
AFTER_S = 25  # canary, shutdown and the output checks after the last cycle


def _setup() -> tuple[object, dict]:
    """Session start, package shipping and Python-worker warm-up."""
    from rat_strain_loader_pipeline_spark.session import get_spark
    from rat_strain_loader_pipeline_spark.ship import ensure_shipped

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    t1 = time.perf_counter()
    ensure_shipped(spark)
    t2 = time.perf_counter()

    def _ident(it):
        import rat_strain_loader_pipeline_spark.operators.consequence  # noqa: F401

        yield from it

    spark.range(100_000).repartition(
        spark.sparkContext.defaultParallelism
    ).mapInPandas(_ident, "id long").count()
    t3 = time.perf_counter()
    return spark, {"start_s": t1 - t0, "ship_s": t2 - t1, "worker_warm_s": t3 - t2,
                   "driver_memory": spark.conf.get("spark.driver.memory")}


def _stream_listener(spark):
    """Collects streaming progress and counts streams that ended with an
    exception, so a swallowed streaming error fails the run."""
    from pyspark.sql.streaming import StreamingQueryListener

    class StreamStats(StreamingQueryListener):
        def __init__(self):
            self.stats = {"batches": 0, "add_batch_ms": 0, "wal_commit_ms": 0,
                          "trigger_ms": 0, "input_rows": 0, "failed": 0}

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            d = p.durationMs
            s = self.stats
            s["batches"] += 1
            s["add_batch_ms"] += d.get("addBatch", 0)
            s["wal_commit_ms"] += d.get("walCommit", 0)
            s["trigger_ms"] += d.get("triggerExecution", 0)
            s["input_rows"] += p.numInputRows

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            if event.exception:
                self.stats["failed"] += 1

    listener = StreamStats()
    spark.streams.addListener(listener)
    return listener


def _canary(spark) -> float:
    """bench.py's fixed JVM job, median of three: records host speed."""
    times = []
    for _ in range(3):
        c0 = time.perf_counter()
        spark.range(200_000_000).selectExpr("sum(id * 3 + 1)").collect()
        times.append(time.perf_counter() - c0)
    return sorted(times)[1]


def _host_steal_s() -> float:
    """CPU time the hypervisor took from this machine's virtual CPUs, all
    CPUs summed (the ``steal`` column of /proc/stat)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def _tool_calls(workload: str, p: dict, truths: dict) -> tuple[list, list]:
    """The untimed preparation and the Manager commands of one cycle, in
    order (clinvar.sh STAGE2-4 style)."""
    mk = ["--mapKey", str(truths["map_key"])]

    def convert_and_load(batch: str, first_sample: int) -> list[list[str]]:
        cf2 = os.path.join(p["it"], f"cf2_{batch}")
        load = ["--tool", "VariantLoad3", "--store", p["store"], "--dims", p["dims"], *mk]
        for i, strain in enumerate(truths[f"strains_{batch}"]):
            load += ["-s", str(first_sample + i), "-i", os.path.join(cf2, f"strain={strain}")]
        return [
            ["--tool", "VcfConverter2", "--vcfFile", os.path.join(p["input"], f"{batch}.vcf"),
             "--outDir", cf2, *mk],
            load,
        ]

    post = ["--tool", "VariantPostProcessing", "--fastaFile",
            os.path.join(p["input"], "genome.fa"), "--store", p["store"],
            "--dims", p["dims"], *mk]
    if workload == "strain_load":
        return [], convert_and_load("a", 1)
    prep = convert_and_load("a", 1) + [post + ["--chr", truths["chromosomes"][0]]]
    return prep, convert_and_load("b", 101) + [
        ["--tool", "VariantTypeFixUp", "--store", p["store"]],
        ["--tool", "GenicStatusFixUp", "--store", p["store"], "--dims", p["dims"]],
        post + ["--verifyIfInRgd"],
        ["--tool", "FrameShiftFixUp", "--store", p["store"]],
        ["--tool", "Polyphen", "--outDir", os.path.join(p["it"], "polyphen"),
         "--store", p["store"], "--dims", p["dims"]],
    ]


def du(path: str) -> int:
    """Bytes of the regular files under ``path`` (0 when it is missing)."""
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total


def _run_tools(calls, tracer=None) -> list[dict]:
    from rat_strain_loader_pipeline_spark import cli

    results = []
    for argv in calls:
        name = argv[1]
        out = io.StringIO()
        t0 = time.perf_counter()
        ok = True
        try:
            span = tracer.span(f"cli.{name}") if tracer else contextlib.nullcontext()
            with span, contextlib.redirect_stdout(out):
                rc = cli.main(argv)
            ok = rc == 0
        except Exception:
            traceback.print_exc()
            ok = False
        results.append({"tool": name, "ok": ok, "s": time.perf_counter() - t0,
                        "stdout": out.getvalue()})
        if not ok:
            break
    return results


def _install_layers(tracer) -> None:
    """Wrap each layer's public entry points (see README.md, layer table)."""

    def keep_df(s, args, kwargs, result):
        tracer.frames.append(args[0] if args else kwargs["df"])

    def staged(s, args, kwargs, result):
        tracer.frames.append(args[0] if args else kwargs["df"])
        s["path"] = result[1]

    def counters(s, args, kwargs, result):
        s["counters"] = dict(result.counters)

    def fixup_counters(s, args, kwargs, result):
        s["counters"] = dict(result[1])

    w = tracer.wrap
    w(f"{PKG}.pipelines.convert", "vcf_to_cf2", "convert")
    w(f"{PKG}.sources.cf2", "write_cf2", "cf2.write", keep_df)
    w(f"{PKG}.pipelines.load", "derive_variants", "load.derive")
    w(f"{PKG}.pipelines.load", "load_variants", "load.load_variants", counters)
    w(f"{PKG}.staging", "stage_to_parquet_path", "staging", staged)
    w(f"{PKG}.store", "write_table", "store.write", keep_df)
    w(f"{PKG}.store", "overwrite_partitions", "store.write", keep_df)
    for fx in ("variant_type_fixup", "genic_status_fixup", "frameshift_fixup"):
        w(f"{PKG}.pipelines.fixups", fx, "fixups", fixup_counters)
    w(f"{PKG}.pipelines.postprocess", "postprocess_variants", "postprocess")
    # the Polyphen tool's export write is the action that runs the
    # pipelines.polyphen plan (candidates and input lines are lazy)
    w(f"{PKG}.cli", "_write_lines", "polyphen", keep_df)


def _layer_metrics(tracer) -> dict:
    """Per-layer numbers from the spans of the traced cycle."""
    t = tracer
    m: dict[str, float] = {}
    for tool in ("VcfConverter2", "VariantLoad3", "VariantTypeFixUp", "GenicStatusFixUp",
                 "VariantPostProcessing", "FrameShiftFixUp", "Polyphen"):
        m[f"cli.{tool}.s"] = t.total_s(f"cli.{tool}")
    m["convert.call_s"] = t.total_s("convert")
    m["convert.jobs"] = t.inclusive("convert", "jobs")
    m["convert.tasks"] = t.inclusive("convert", "tasks")
    m["cf2.write_s"] = t.total_s("cf2.write")
    m["cf2.write_tasks"] = t.inclusive("cf2.write", "tasks")
    m["load.derive_s"] = t.total_s("load.derive")
    m["load.derive_jobs"] = t.inclusive("load.derive", "jobs")
    m["load.load_variants_s"] = t.total_s("load.load_variants")
    m["load.load_variants_jobs"] = t.inclusive("load.load_variants", "jobs")
    loads = [s["counters"] for s in t.named("load.load_variants") if "counters" in s]
    rows_in = sum(c["rows_in"] for c in loads)
    m["load.rows_in"] = rows_in
    m["load.new_ratio"] = (
        sum(c["rows_new_variants"] for c in loads) / rows_in if rows_in else 0.0
    )
    stages = t.named("staging")
    m["staging.calls"] = len(stages)
    m["staging.s"] = t.total_s("staging")
    m["staging.paths"] = [s["path"] for s in stages if "path" in s]
    m["store.write_s"] = t.total_s("store.write")
    m["fixups.s"] = t.total_s("fixups")
    m["fixups.jobs"] = t.inclusive("fixups", "jobs")
    m["fixups.rows_fixed"] = sum(
        s["counters"].get("rows_fixed", 0) for s in t.named("fixups") if "counters" in s
    )
    m["postprocess.call_s"] = t.total_s("postprocess")
    m["postprocess.jobs"] = t.inclusive("postprocess", "jobs")
    m["postprocess.tasks"] = t.inclusive("postprocess", "tasks")
    m["polyphen.s"] = t.total_s("polyphen")
    for key in ("jobs", "stages", "tasks", "failed_tasks"):
        m[f"spark.{key}"] = sum(s[key] for s in t.spans)
    phases = t.plan_phases()
    m["plan.analysis_s"] = phases["analysis"]
    m["plan.optimization_s"] = phases["optimization"]
    m["plan.planning_s"] = phases["planning"]
    m["trace.overhead_s"] = t.bookkeeping_s
    return m


def _tree_cpu_s() -> tuple[float, float]:
    """CPU seconds (user + system) used so far by this process and all
    its descendants: the JVM and the Python workers, plus the exited
    children their parents have reaped. Time the hypervisor steals from a
    virtual CPU is not counted as the process's CPU time. The second
    value is the part the JVM's JIT compiler threads used."""
    children: dict[int, list[int]] = {}
    stats: dict[int, list[str]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
        stats[int(d)] = fields
        children.setdefault(int(fields[1]), []).append(int(d))
    ticks = jit = 0
    todo = [os.getpid()]
    while todo:
        pid = todo.pop()
        fields = stats.get(pid)
        if fields is not None:
            # utime, stime, cutime, cstime (fields 14-17 of stat)
            ticks += sum(int(x) for x in fields[11:15])
            jit += _jit_ticks(pid)
        todo.extend(children.get(pid, []))
    hz = os.sysconf("SC_CLK_TCK")
    return ticks / hz, jit / hz


def _jit_ticks(pid: int) -> int:
    """CPU ticks of the live JIT compiler threads of ``pid``. The JVM is
    started with a fixed set of compiler threads, so none exit mid-run."""
    ticks = 0
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as f:
                head, rest = f.read().rsplit(")", 1)
        except (OSError, ValueError):
            continue
        if "CompilerThre" in head:
            fields = rest.split()
            ticks += int(fields[11]) + int(fields[12])
    return ticks


def _iteration(sc, workload: str, index: int, paths: dict, truths: dict,
               tracer=None) -> dict:
    """One cycle of the workload's timed tool calls, into its own store.
    An untraced cycle tags its Spark jobs with one job group, to count
    them (a traced one counts them per span)."""
    it = dict(paths, it=os.path.join(paths["run"], f"it{index}"))
    it["store"] = os.path.join(it["it"], "store")
    os.makedirs(it["it"])
    if workload == "strain_reload":
        shutil.copytree(paths["store"], it["store"])
    store_before = du(it["store"])
    calls = _tool_calls(workload, it, truths)[1]
    group = f"perfbench-cycle-{index}"
    if tracer is None:
        sc.setJobGroup(group, "timed cycle")
    steal0, (cpu0, jit0) = _host_steal_s(), _tree_cpu_s()
    t0 = time.perf_counter()
    tools = _run_tools(calls, tracer)
    wall = time.perf_counter() - t0
    cpu1, jit1 = _tree_cpu_s()
    sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = len(sc.statusTracker().getJobIdsForGroup(group)) if tracer is None else None
    return {"dir": it["it"], "wall_s": wall, "cpu_s": cpu1 - cpu0, "jit_cpu_s": jit1 - jit0,
            "jobs": jobs,
            "host_steal_s": _host_steal_s() - steal0, "tools": tools,
            "ok": all(t["ok"] for t in tools),
            "store_bytes_added": du(it["store"]) - store_before}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--input", required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--deadline", type=float, required=True)
    ap.add_argument("--spawned-at", type=float, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    sys.path.insert(0, ROOT)

    with open(os.path.join(a.input, "truths.json")) as f:
        truths = json.load(f)
    paths = {"run": a.run_dir, "it": os.path.join(a.run_dir, "prep"), "input": a.input,
             "dims": os.path.join(a.input, "dims"),
             "store": os.path.join(a.run_dir, "prep", "store")}

    spark, setup = _setup()
    setup["setup_s"] = time.monotonic() - a.spawned_at
    listener = _stream_listener(spark)
    result = {"setup": setup, "iterations": []}

    # untimed: the strain_reload base store, copied into every cycle
    cpu0, t0 = _tree_cpu_s()[0], time.perf_counter()
    result["prep_tools"] = _run_tools(_tool_calls(a.workload, paths, truths)[0])
    result["prep"] = {"wall_s": time.perf_counter() - t0, "cpu_s": _tree_cpu_s()[0] - cpu0}
    if not all(t["ok"] for t in result["prep_tools"]):
        return _finish(spark, listener, result, a.out)

    # strain_load's first cycle is cold: the first tool calls in a fresh
    # JVM pay class loading, code generation and JIT compilation, as a
    # one-off CLI run does. strain_reload's preparation has run the same
    # convert and load tools before its first cycle.
    runs = result["iterations"]
    while True:
        tracer = None
        if a.trace and len(runs) == 1:  # after one untraced cycle
            from spans import Tracer

            tracer = Tracer(spark)
            _install_layers(tracer)
        run = _iteration(spark.sparkContext, a.workload, len(runs), paths, truths, tracer)
        run["traced"] = tracer is not None
        runs.append(run)
        if tracer is not None:
            tracer.unwrap_all()
            tracer.collect_jobs()
            result["layers"] = _layer_metrics(tracer)
            tracer.dump(os.path.join(a.run_dir, "spans.json"))
        if not run["ok"] or tracer is not None:
            break
        if not a.trace and sum(r["wall_s"] for r in runs) >= a.seconds:
            break
        if time.monotonic() + 1.5 * run["wall_s"] + AFTER_S > a.deadline:
            break
    result["host_canary_s"] = _canary(spark)
    return _finish(spark, listener, result, a.out)


def _finish(spark, listener, result: dict, out: str) -> int:
    # streaming progress is collected in every process; the strain
    # workloads start no stream, so these stay zero unless one does
    result["streaming"] = listener.stats
    spark.stop()
    with open(out, "w") as f:
        json.dump(result, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
