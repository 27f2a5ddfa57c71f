"""KG ingest benchmark: the production run_pipeline, snapshot reads and the
is_a ancestor walk, timed end to end (``--trace 0``) or per layer
(``--trace 1``), with every answer checked against the pure-Python oracle.

    python3 perfbench/run.py --workload append_ingest --seed 1 --seconds 10 --trace 0

Run it from the repository root or from anywhere else: the package is found
next to this directory and shipped to the Python workers on PYTHONPATH.
Everything it writes goes under ``.perfbench_work/`` (removed at exit) and
``.perfbench_out/`` (one JSON record per run, spans included) in the root.
The last line of standard output is the result JSON; the lines above it
name every figure with its unit. Exit status is 1 when an operation failed
or an answer was wrong.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = ("append_ingest", "snapshot_read")  # functions of workloads.py

END_TO_END = {
    "setup_s": "s",
    "op_p50_s": "s",
    "cpu_s_per_op": "s",
    "peak_pss_mb": "MB",
    "stored_bytes_per_input_byte": "ratio",
}
LAYERS = ("parse", "spine", "graph", "nodes", "write", "commit", "resume", "scan", "closure")
LAYER_FIELDS = {
    "wall_s": "s", "exec_s": "s", "cpu_s": "s",
    "shuffle_bytes": "B", "spill_bytes": "B", "jobs": "count", "tasks": "count",
}
LAYER_COUNTS = {
    "parse.docs": "count", "parse.clause_rows": "count", "parse.quarantined": "count",
    "parse.py_bytes": "B", "spine.collisions": "count", "graph.edges_out": "count",
    "graph.dedup_keep_ratio": "ratio", "nodes.rows": "count", "write.files": "count",
    "write.bytes": "B", "write.rows_per_file": "count", "commit.files_listed": "count",
    "commit.snapshots": "count", "resume.skipped_docs": "count",
    "resume.manifest_parts": "count", "scan.files": "count", "scan.rows": "count",
    "closure.rows": "count",
}
TRACE_FIGURES = {
    "pipeline.fused_s": "s", "pipeline.replay_s": "s",
    "trace.op_p50_s": "s", "trace.overhead_s": "s",
}
# workload-specific figures printed above the result line
DETAIL_UNITS = {
    "files_per_s": "files/s", "batch_p50_s": "s", "resubmit_s": "s",
    "read_head_s": "s", "read_idspace_s": "s",
    "read_as_of_s": "s", "ancestors_s": "s", "read_n": "count", "op_s": "s", "head_edges": "count",
    "head_nodes": "count", "wrong_rows": "rows", "failed_frac": "ratio",
}


def per_layer_units() -> dict:
    units = {f"{layer}.{f}": u for layer in LAYERS for f, u in LAYER_FIELDS.items()}
    return {**units, **LAYER_COUNTS, **TRACE_FIGURES}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="recorded only: each workload runs a fixed number of steps, about 10 s on 4 cores")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the machine, from /proc/stat."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return f[7] if len(f) > 7 else 0, sum(f[:8])


def context(nproc: int) -> dict:
    import pandas
    import pyarrow
    import pyspark

    try:
        commit = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10
        ).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        commit = "unknown"
    with open("/proc/meminfo") as fh:
        mem = {k: v.split()[0] for k, v in (line.split(":", 1) for line in fh)}
    return {
        "nproc": nproc,
        "mem_available_mb": int(mem["MemAvailable"]) // 1024,
        "git_commit": commit,
        "python": sys.version.split()[0],
        "pyspark": pyspark.__version__,
        "pandas": pandas.__version__,
        "pyarrow": pyarrow.__version__,
    }


def start_spark(work: str, nproc: int):
    """A session configured as the CLI's (``get_spark``, ``local[nproc]``),
    with every scratch path inside ``work``."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local  # overrides spark.local.dir when set
    from fastobo_py_spark import get_spark

    return get_spark(
        app_name="perfbench",
        master=f"local[{nproc}]",
        shuffle_partitions=nproc,
        extra_conf={
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # no hsperfdata file: HotSpot writes it to /tmp whatever java.io.tmpdir says
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={work} -XX:-UsePerfData",
            "spark.driver.memory": "1g",
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_spark(spark) -> None:
    """Stop the session, then wait for the JVM and its Python workers."""
    from measure import tree_pids

    children = tree_pids() - {os.getpid()}
    gateway = spark.sparkContext._gateway
    jvm = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if jvm is not None:
        jvm.stdin.close()
        try:
            jvm.wait(timeout=60)
        except subprocess.TimeoutExpired:
            jvm.kill()
            jvm.wait()
    deadline = time.time() + 30
    while children and time.time() < deadline:
        children = {p for p in children if os.path.exists(f"/proc/{p}")}
        time.sleep(0.1)
    for pid in children:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def layer_metrics(tracer, first: int) -> dict:
    """Per-layer totals over the replay's spans (``tracer.spans[first:]``)."""
    out = {}
    spans = tracer.spans[first:]
    for layer in LAYERS:
        mine = [s for s in spans if s["name"] == layer]
        out[f"{layer}.wall_s"] = sum(tracer.self_time(s) for s in mine)
        out[f"{layer}.jobs"] = sum(len(s["job_ids"]) for s in mine)
        for f in ("exec_s", "cpu_s", "shuffle_bytes", "spill_bytes", "tasks"):
            out[f"{layer}.{f}"] = sum(s["spark"][f] for s in mine)
    return out


def main(argv=None) -> int:
    t_start = time.perf_counter()
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "fastobo_py_spark")):
        print(f"perfbench: no fastobo_py_spark package in {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from measure import MemSampler, Tracer, median
    import workloads

    nproc = len(os.sched_getaffinity(0))
    load_start = os.getloadavg()[0]
    ticks_start = cpu_ticks()
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-s{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    spark = None
    sampler = MemSampler()
    try:
        spark = start_spark(work, nproc)
        run_id = f"{args.workload}-s{args.seed}-{os.getpid()}"
        tracer = Tracer(spark, run_id, enabled=bool(args.trace))
        r = workloads.Run(spark, work, args.seed, tracer, sampler, nproc)
        marks = getattr(workloads, args.workload)(r)
        setup_s = marks["setup_end"] - t_start
        metrics = workloads.summarize(r)
        loop_overhead = tracer.overhead_s
        if args.trace:
            first = len(tracer.spans)
            r.replay(max(r.batches) + 1, r.seeds_df())
            layers = {**layer_metrics(tracer, first), **r.layers}
            layers["pipeline.fused_s"] = median(r.pipeline_s)
            layers["trace.op_p50_s"] = metrics["op_p50_s"]
            layers["trace.overhead_s"] = loop_overhead / max(1, len(r.ops))
        r.check_table()
        ctx = context(nproc)
        steal, total = (b - a for a, b in zip(ticks_start, cpu_ticks()))
        ctx.update(workload=args.workload, seed=args.seed, seconds=args.seconds, trace=args.trace,
                   load1_start=load_start, load1_end=os.getloadavg()[0],
                   cpu_steal_frac=steal / max(1, total), input=r.input_size())
    finally:
        sampler.close()
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    ok = r.wrong == 0 and r.failed == 0
    detail = {**r.detail, "wrong_rows": r.wrong, "failed_frac": r.failed / max(1, r.attempted)}
    if args.trace:
        units = per_layer_units()
        values = layers
    else:
        units = END_TO_END
        values = {"setup_s": setup_s, **metrics}
    missing = [k for k in units if values.get(k) is None]
    if missing:
        print(f"perfbench: no measurement for {missing}", file=sys.stderr)
        ok = False
    record = {
        "correct": ok,
        "attempted": r.attempted,
        "failed": r.failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items() if values.get(k) is not None},
    }
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    name = f"{args.workload}-s{args.seed}-trace{args.trace}.json"
    with open(os.path.join(out_dir, name), "w") as fh:
        json.dump({"context": ctx, "detail": detail, "result": record,
                   "spans": tracer.dump() if args.trace else []}, fh, indent=1)
    for k, v in detail.items():
        print(f"{k} {v} {DETAIL_UNITS.get(k, '')}".rstrip())
    for k, m in record["metrics"].items():
        print(f"{k} {m['value']} {m['unit']}")
    print(json.dumps({"context": ctx}))
    print(json.dumps(record))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
