"""Benchmark of the KG-construction pipeline and the KGTK catalog queries.

    python3 perfbench/run.py --workload kg_build --seed 42 --seconds 20 --trace 0

Run from the repository root.  One process, one SparkSession from
``kgtk_spark.session.get_spark`` on ``local[<cpus>]`` with the session's
own defaults (``SPARK_GRAFT_CPUS`` is set to the usable CPU count).  Each
workload is a closed loop with one caller: set-up stages the seeded
inputs to parquet, warm-up passes follow, then timed passes run for
``--seconds``.  A pass reads its inputs from storage, is timed, has its
output checked outside the timed interval, and then releases everything
it left cached, so no pass reuses an earlier pass's cache.

The two wall times, ``setup_s`` and ``pass_s``, are net of host steal:
the CPU time a hypervisor gave to other guests during the interval (the
``steal`` counter of /proc/stat), divided by the usable CPUs, is taken
off.  Without that, their spread between runs followed the neighbours'
load.  The raw wall times are in the diagnostics.

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``.  With ``--trace 0`` the metrics are the
end-to-end ones; with ``--trace 1`` they are the per-layer ones, from
spans around every call into the program (timed passes alternate between
traced and untraced, and the difference is reported as the tracing
overhead).  The line before it holds diagnostics that are not metrics:
every pass's wall, CPU and host-steal seconds and the load average at
start and end, so a noisy run can be traced to the host.  Spans of a
traced run are written to ``.perfbench_work/traces/``.

Self-tests: ``python3 -m pytest perfbench -q``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import sys
import time
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
sys.path.insert(0, ROOT)

import host  # noqa: E402
from spans import ENGINE_METRICS, Tracer  # noqa: E402
from workloads import (  # noqa: E402
    CATALOG_QUERIES, PIPELINE_STAGES, WORKLOADS, Catalog, Ctx, KgBuild, Outcome,
)

END_TO_END = {
    # wall seconds from process start to the first timed pass, less the CPU
    # time the host stole meanwhile (spread over the usable CPUs)
    "setup_s": "s",
    # median wall seconds of a timed pass, less the CPU time the host stole
    # from this VM during it (spread over the usable CPUs)
    "pass_s": "s",
    "peak_rss_mb": "MB",    # median over timed passes of JVM + Python workers peak
    "ok_rate": "ratio",     # 1 - failed / attempted operations
}
ENGINE_LAYERS = ["webgen", "stages", "runner", "operators", "graph", "textops"]
PER_LAYER = {
    "session.start_s": "s",
    "webgen.pages_s": "s",
    **{f"stages.{stage}_s": "s" for stage in PIPELINE_STAGES},
    "stages.mentions_rows": "count",
    "stages.triples_rows": "count",
    "stages.edges_rows": "count",
    "stages.linked_per_mention": "ratio",
    "stages.edges_per_triple": "ratio",
    "runner.fused_s": "s",
    "runner.persisted_left": "count",
    **{f"{Catalog.layer(q)}.{q}_s": "s" for q in CATALOG_QUERIES},
    **{f"{layer}.{k}": unit for layer in ENGINE_LAYERS for k, unit in ENGINE_METRICS.items()},
    "trace.overhead_s": "s",
}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--tiny", action="store_true", help="smoke-test input sizes")
    return ap.parse_args(argv)


def release(spark) -> int:
    """Drop everything cached and collect the JVM's garbage, so each pass
    starts from the same heap; returns how many RDDs were still
    persistent."""
    held = spark.sparkContext._jsc.getPersistentRDDs()
    n = held.size()
    spark.catalog.clearCache()
    for rdd in list(held.values()):
        rdd.unpersist(True)
    spark.sparkContext._jvm.System.gc()
    return n


def stop(spark, started_pids: list[int]) -> None:
    """Stop Spark and its JVM, then wait until every process it started
    (JVM, Python daemon and workers) has ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
    deadline = time.monotonic() + 30
    while True:
        if proc is not None:
            proc.poll()  # reap the JVM once it has exited
        alive = [p for p in started_pids if host.running(p)]
        if not alive or time.monotonic() > deadline + 5:
            return
        if time.monotonic() > deadline:
            for p in alive:
                with contextlib.suppress(ProcessLookupError):
                    os.kill(p, signal.SIGKILL)
        time.sleep(0.05)


def run(args) -> tuple[dict, dict]:
    started, steal_start = host.process_start_epoch(), host.steal_s()
    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(WORK, f"{args.workload}-seed{args.seed}-{os.getpid()}")
    for d in ("spark-local", "tmp", "duckdb"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "PYTHONPATH": os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": os.path.join(work, "tmp"),
    })
    from kgtk_spark.session import get_spark

    wl = WORKLOADS[args.workload]()
    tr = Tracer(engine=bool(args.trace))
    load_start = host.loadavg()
    with tr.span("session.start", "session"):
        spark = get_spark(app_name=f"perfbench-{args.workload}", extra_conf={
            # keep the JVM's temporary files inside the work directory
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
        })
    spark.sparkContext.setLogLevel("ERROR")
    tr.sc = spark.sparkContext
    ctx = Ctx(spark, tr, work, args.seed, cpus, args.tiny)
    try:
        t_inputs = time.time()
        wl.setup(ctx)
        t_warmup = time.time()

        def one_pass(pass_id: str, first: bool = False) -> dict:
            tr.pass_id = pass_id
            steal0, cpu0, t0 = host.steal_s(), host.tree_cpu_s(), time.perf_counter()
            try:
                with host.PeakRss() as rss, tr.span(pass_id):
                    out = wl.timed(ctx, first)
            except Exception as e:  # noqa: BLE001 -- counted as failed operations
                out = Outcome(wl.ops_per_pass, [f"{type(e).__name__}: {str(e)[:300]}"])
            t1, cpu1, steal1 = time.perf_counter(), host.tree_cpu_s(), host.steal_s()
            if out.data:  # the pass returned output to check
                try:
                    out.failures += wl.check(ctx, out)
                except Exception as e:  # noqa: BLE001
                    out.failures.append(f"check: {type(e).__name__}: {str(e)[:300]}")
            left = release(spark)
            return {
                "pass": pass_id, "traced": tr.engine, "wall_s": t1 - t0,
                "cpu_s": cpu1 - cpu0, "steal_s": steal1 - steal0, "ops": out.ops,
                "failed": wl.failed_ops(out), "failures": out.failures,
                "persisted_left": left, "rss_mb": rss.peak_mb,
            }

        warm = [one_pass(f"warmup{i}", first=i == 0) for i in range(wl.warmups)]
        setup_wall_s = time.time() - started
        setup_s = setup_wall_s - (host.steal_s() - steal_start) / cpus
        timed: list[dict] = []
        deadline = time.perf_counter() + args.seconds
        while time.perf_counter() < deadline or len(timed) < 1 + args.trace:
            tr.engine = bool(args.trace) and len(timed) % 2 == 1
            timed.append(one_pass(f"pass{len(timed)}"))
        tr.pass_id, tr.engine = "verify", False
        try:
            late = wl.verify(ctx)
        except Exception as e:  # noqa: BLE001 -- counted as a failed operation
            late = [f"verify: {type(e).__name__}: {str(e)[:300]}"]
        probe = {}
        if args.trace and hasattr(wl, "layer_probe"):
            tr.pass_id, tr.engine = "layers", True
            probe = wl.layer_probe(ctx)
        if args.trace:
            os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
            trace_file = os.path.join(WORK, "traces", f"{args.workload}-seed{args.seed}.jsonl")
            tr.write(trace_file)
    finally:
        t_stop = time.time()
        stop(spark, host.descendants(os.getpid()))
        stop_s = time.time() - t_stop
        shutil.rmtree(work, ignore_errors=True)

    passes = warm + timed
    attempted = sum(p["ops"] for p in passes)
    failed = sum(p["failed"] for p in passes) + len(late)
    plain = [p for p in timed if not p["traced"]]
    walls = [p["wall_s"] for p in plain]
    unstolen = [p["wall_s"] - p["steal_s"] / cpus for p in plain]
    if args.trace:
        metrics = layer_metrics(tr, wl, timed, probe)
    else:
        metrics = {
            "setup_s": setup_s,
            "pass_s": statistics.median(unstolen),
            "peak_rss_mb": statistics.median(p["rss_mb"] for p in plain),
            "ok_rate": 1 - failed / attempted,
        }
    diagnostics = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "cpus": cpus, "warmup_passes": len(warm), "timed_passes": len(timed),
        "setup_parts_s": {
            "session": t_inputs - started, "inputs": t_warmup - t_inputs,
            "warmup": setup_wall_s - (t_warmup - started),
        },
        "setup_wall_s": setup_wall_s,
        "stop_s": stop_s,
        "wall_s": statistics.median(walls), "pass_samples": len(walls),
        "wall_max_s": max(walls),
        "pass_wall_s": [round(p["wall_s"], 4) for p in passes],
        "pass_cpu_s": [round(p["cpu_s"], 4) for p in passes],
        "pass_steal_s": [round(p["steal_s"], 3) for p in passes],
        "pass_rss_mb": [round(p["rss_mb"]) for p in passes],
        "persisted_left": [p["persisted_left"] for p in passes],
        "loadavg_start": load_start, "loadavg_end": host.loadavg(),
        "failures": ([f for p in passes for f in p["failures"]] + late)[:20],
        **({"trace_file": os.path.relpath(trace_file, ROOT)} if args.trace else {}),
    }
    result = {
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {
            k: {"value": metrics[k], "unit": unit}
            for k, unit in (PER_LAYER if args.trace else END_TO_END).items()
        },
    }
    return result, diagnostics


def layer_metrics(tr: Tracer, wl, timed: list[dict], probe: dict) -> dict[str, float]:
    """Per-layer numbers of a traced run: span self times and counts as
    medians over the traced passes (set-up and the stage probe once)."""
    traced = [p for p in timed if p["traced"]]
    passes = {"setup", "layers", *(p["pass"] for p in traced)}
    out = dict.fromkeys(PER_LAYER, 0.0)
    per_pass: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for sp in tr.spans:
        if sp["layer"] and sp["pass"] in passes:
            per_pass[sp["name"]][sp["pass"]] += tr.self_s(sp)
    for name, by_pass in per_pass.items():
        out[f"{name}_s"] = statistics.median(by_pass.values())
    if isinstance(wl, KgBuild):
        out["runner.persisted_left"] = statistics.median(p["persisted_left"] for p in traced)
    out.update(probe)
    out.update(tr.layer_metrics(sorted(passes)))
    plain = [p["wall_s"] for p in timed if not p["traced"]]
    out["trace.overhead_s"] = (
        statistics.median(p["wall_s"] for p in traced) - statistics.median(plain)
    )
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    result, diagnostics = run(args)
    for name, m in result["metrics"].items():
        print(f"{name:40s} {m['value']:>14.6g} {m['unit']}")
    print(json.dumps({"diagnostics": diagnostics}))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
