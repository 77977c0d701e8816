"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Runs from the root of a source checkout: it imports ``flexneuart_spark``
from that checkout (and exits with code 2, printing no result, when the
package is not there), generates the workload's inputs from ``--seed``,
starts one local Spark session on every core, measures the workload for
about ``--seconds``, checks the results against the BM25 oracle and prints
a report followed by one JSON line::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
the run records spans and prints the per-layer metrics instead. Every
file it writes stays under ``.perfbench_work/`` (scratch, removed at the
end) and ``.perfbench_out/`` (result and span files) in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

E2E_UNITS = {
    "setup_s": "s",
    "latency_p50_s": "s",
    "throughput_per_s": "1/s",
    "index_bytes_per_input_byte": "ratio",
    "peak_rss_mb": "MB",
}

LAYER_UNITS = {
    "session.start_s": "s",
    "session.empty_job_s": "s",
    "tokenize.mb_per_s": "MB/s",
    "codec.encode_postings_per_s": "1/s",
    "codec.decode_postings_per_s": "1/s",
    "codec.bytes_per_posting": "B",
    "builder.build_s": "s",
    "builder.spark_jobs": "count",
    "builder.spark_tasks": "count",
    "builder.postings_rows": "count",
    "builder.postings_bytes": "B",
    "builder.fwd_bytes": "B",
    "builder.dict_bytes": "B",
    "builder.segment_build_s": "s",
    "builder.segment_jobs": "count",
    "engine.init_s": "s",
    "engine.warm_s": "s",
    "engine.plan_s": "s",
    "engine.exec_s": "s",
    "engine.jobs_per_query": "count",
    "engine.tasks_per_query": "count",
    "scoring.kernel_s": "s",
    "scoring.kernel_crit_s": "s",
    "scoring.blocks_decoded_frac": "ratio",
    "segmented.s_per_segment": "s",
    "incremental.compact_s": "s",
    "trace.overhead_frac": "ratio",
}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full", help="tiny: the self-test's size")
    ap.add_argument("--perturb", action="store_true", help="self-test: swap two ranks in one result; the gate must fail")
    return ap.parse_args(argv)


def isolate_environment(work: str) -> None:
    """Keep every file the run (driver, JVM, Python workers) writes inside
    the checkout, and let the Python workers import the checkout."""
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + os.environ["PYTHONPATH"] if os.environ.get("PYTHONPATH") else "")
    import tempfile

    tempfile.tempdir = tmp


def program_in_checkout() -> bool:
    """True when ``flexneuart_spark`` imports from this checkout."""
    sys.path.insert(0, ROOT)
    try:
        import flexneuart_spark
    except ImportError:
        return False
    return os.path.abspath(flexneuart_spark.__file__).startswith(ROOT + os.sep)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def cpu_times() -> list[int]:
    """Aggregate /proc/stat CPU counters (user ... steal)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def commit() -> str:
    """HEAD of the checkout when it is a git work tree, else 'unknown'
    (read from files; no process, no lookup outside the checkout)."""
    head = os.path.join(ROOT, ".git", "HEAD")
    try:
        with open(head) as f:
            ref = f.read().strip()
        if not ref.startswith("ref: "):
            return ref
        name = ref[5:]
        p = os.path.join(ROOT, ".git", name)
        if os.path.exists(p):
            with open(p) as f:
                return f.read().strip()
        with open(os.path.join(ROOT, ".git", "packed-refs")) as f:
            for line in f:
                if line.rstrip().endswith(" " + name):
                    return line.split()[0]
    except OSError:
        pass
    return "unknown"


def environment_stamp() -> dict:
    import pyarrow
    import pyspark

    return {
        "nproc": nproc(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "python": sys.version.split()[0],
        "commit": commit(),
        "loadavg_before": loadavg(),
    }


def start_session(work: str):
    from flexneuart_spark.session import get_spark

    n = nproc()
    return get_spark(
        "perfbench",
        master=f"local[{n}]",
        extra_conf={
            # a fixed 1 GiB heap: the JVM's peak RSS then depends on what
            # the run does, less on when G1 decides to grow the heap
            "spark.driver.memory": "1g",
            "spark.driver.extraJavaOptions": "-Xms1g",
            "spark.local.dir": os.path.join(work, "spark-local"),
        },
    )


def vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def stop_session(spark) -> int:
    """Stop Spark and wait for the JVM to exit. Returns the JVM's peak RSS
    (kB), read just before it stops."""
    sc = spark.sparkContext
    gw = sc._gateway
    proc = getattr(gw, "proc", None)
    peak = vm_hwm_kb(proc.pid) if proc is not None else 0
    spark.stop()
    gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    return peak


def _median(xs, default=0.0):
    xs = [x for x in xs if x is not None]
    return float(statistics.median(xs)) if xs else default


def layer_metrics(run, mark: int) -> dict[str, float]:
    """Per-layer metrics from the traced run's spans and probes. Spans
    before ``mark`` belong to the workload itself; later ones to probes."""
    import layers
    from workloads import dir_bytes

    tr = run.tracer
    own = tr.spans[:mark]

    def spans(name, source=None, **match):
        return [
            s for s in (tr.spans if source is None else source)
            if s["name"] == name and s["end"] is not None
            and all(s["attrs"].get(k) == v for k, v in match.items())
        ]

    def dur(ss):
        return [s["end"] - s["start"] for s in ss]

    out: dict[str, float] = {}
    out["session.start_s"] = _median(dur(spans("session.start")))
    out["session.empty_job_s"] = run.empty_job_s

    batch = run.corpus["content"].iloc[:500]
    out["tokenize.mb_per_s"] = layers.tokenize_mb_per_s(batch)
    out["codec.encode_postings_per_s"] = layers.encode_postings_per_s(batch)

    idx = run.main_index
    rows, n_post, n_bytes = layers.postings_stats(f"{idx}/postings")
    out["codec.bytes_per_posting"] = n_bytes / n_post if n_post else 0.0

    main_builds = spans("builder.build", own, kind=run.main_kind)
    out["builder.build_s"] = _median(dur(main_builds))
    out["builder.spark_jobs"] = _median([s["attrs"].get("jobs") for s in main_builds])
    out["builder.spark_tasks"] = _median([s["attrs"].get("tasks") for s in main_builds])
    out["builder.postings_rows"] = float(rows)
    out["builder.postings_bytes"] = float(dir_bytes(f"{idx}/postings"))
    out["builder.fwd_bytes"] = float(dir_bytes(f"{idx}/fwd"))
    out["builder.dict_bytes"] = float(dir_bytes(f"{idx}/dictionary"))
    seg_builds = spans("builder.build", kind="segment")
    out["builder.segment_build_s"] = _median(dur(seg_builds))
    out["builder.segment_jobs"] = _median([s["attrs"].get("jobs") for s in seg_builds])

    out["engine.init_s"] = _median(dur(spans("engine.init", own)))
    out["engine.warm_s"] = _median(dur(spans("engine.warm", own)))
    out["engine.plan_s"] = _median(dur(spans("engine.plan", own)))
    out["engine.exec_s"] = _median(dur(spans("engine.exec", own)))
    ops = spans("op.query", own) + spans("op.batch", own)
    ops = [s for s in ops if "jobs" in s["attrs"]]
    out["engine.jobs_per_query"] = _median([s["attrs"]["jobs"] for s in ops])
    out["engine.tasks_per_query"] = _median([s["attrs"]["tasks"] for s in ops])

    from flexneuart_spark.index.builder import IndexTables

    tables = IndexTables(idx)
    dic = {r.term: float(r.idf) for r in tables.dictionary(run.spark).select("term", "idf").collect()}
    _, _, avgdl = tables.stats(run.spark)
    kr = layers.kernel_replay(f"{idx}/postings", run.replay, dic, avgdl, run.replay_k)
    out["scoring.kernel_s"] = kr["kernel_s"]
    out["scoring.kernel_crit_s"] = kr["kernel_crit_s"]
    out["scoring.blocks_decoded_frac"] = kr["blocks_decoded_frac"]
    out["codec.decode_postings_per_s"] = kr["decode_postings_per_s"]

    seg = spans("segmented.query")
    xs = [s["attrs"]["segments"] for s in seg]
    ys = dur(seg)
    out["segmented.s_per_segment"] = statistics.linear_regression(xs, ys).slope if len(set(xs)) > 1 else 0.0
    out["incremental.compact_s"] = _median(dur(spans("incremental.compact")))

    traced = [d for d, t in run.op_wall if t]
    untraced = [d for d, t in run.op_wall if not t]
    out["trace.overhead_frac"] = (
        _median(traced) / _median(untraced) - 1.0 if traced and untraced else 0.0
    )
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    t_start = time.perf_counter()
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    outdir = os.path.join(ROOT, ".perfbench_out")

    if not program_in_checkout():
        print(f"perfbench: flexneuart_spark is not importable from {ROOT}; nothing to measure", file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    import workloads as wl
    import gate as gatemod

    if args.workload not in wl.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(wl.WORKLOADS)}", file=sys.stderr)
        return 2

    os.makedirs(work, exist_ok=True)
    os.makedirs(outdir, exist_ok=True)
    isolate_environment(work)
    env = environment_stamp()
    cpu0 = cpu_times()

    sizes = wl.SIZES[args.scale][args.workload]
    run = wl.WORKLOADS[args.workload](args.workload, args.seed, args.seconds, bool(args.trace), sizes, work)
    peak_jvm_kb = 0
    try:
        run.inputs()
        run.start(lambda: start_session(work))
        run.gate = gatemod.Gate(perturb=args.perturb)
        run.run()
        with run.tracer.span("gate", op="gate"):
            run.check()
        metrics: dict[str, float]
        if args.trace:
            mark = len(run.tracer.spans)
            run.probe_layers()
            metrics = layer_metrics(run, mark)
            units = LAYER_UNITS
        peak_jvm_kb = stop_session(run.spark)
        run.spark = None
        peak_driver_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        peak_mb = (peak_jvm_kb + peak_driver_kb) / 1024.0
        if not args.trace:
            metrics = {
                "setup_s": run.setup_s,
                "latency_p50_s": run.latency_p50(),
                "throughput_per_s": run.throughput_per_s,
                "index_bytes_per_input_byte": run.index_ratio,
                "peak_rss_mb": peak_mb,
            }
            units = E2E_UNITS
    finally:
        if run.spark is not None:
            stop_session(run.spark)
        shutil.rmtree(work, ignore_errors=True)

    attempted = run.ops + run.gate.checked
    failed = run.op_failures + run.gate.failed
    env["loadavg_after"] = loadavg()
    # the share of CPU time the hypervisor gave to other guests: a degraded
    # window on a shared machine shows here
    delta = [b - a for a, b in zip(cpu0, cpu_times())]
    env["cpu_steal_frac"] = delta[7] / sum(delta) if sum(delta) else 0.0
    env["wall_s"] = time.perf_counter() - t_start
    details = {**{k: {"value": v, "unit": u} for k, (v, u) in run.details.items()},
               "setup_s": {"value": run.setup_s, "unit": "s"},
               "peak_rss_mb": {"value": peak_mb, "unit": "MB"},
               "peak_rss_jvm_mb": {"value": peak_jvm_kb / 1024.0, "unit": "MB"},
               "peak_rss_driver_mb": {"value": peak_driver_kb / 1024.0, "unit": "MB"},
               "error_rate": {"value": failed / attempted if attempted else 1.0, "unit": "ratio"}}
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }
    stem = f"{args.workload}_seed{args.seed}_trace{args.trace}"
    with open(os.path.join(outdir, f"result_{stem}.json"), "w") as f:
        json.dump({"workload": args.workload, "seed": args.seed, "env": env, "details": details,
                   "latency_samples_s": run.op_times, "operation_wall_s": run.op_wall,
                   "gate_first_failure": run.gate.first_failure, **result}, f, indent=1)
    if args.trace:
        run.tracer.write(
            os.path.join(outdir, f"spans_{stem}.json"),
            {"workload": args.workload, "seed": args.seed, "env": env,
             "tracing_overhead_frac": metrics["trace.overhead_frac"]},
        )

    print(f"env {json.dumps(env)}")
    for k, d in details.items():
        print(f"detail {k} = {d['value']:.6g} {d['unit']}")
    if run.gate.first_failure:
        print(f"gate: {run.gate.failed} of {run.gate.checked} checks failed; first: {run.gate.first_failure}")
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
