"""Self-tests of the benchmark (about five minutes on a 4-core box):

1. a run of each workload, untraced and traced,
   must finish correct and print every figure with its unit;
2. a negative check: after one committed edge is deleted from the table,
   the HEAD check must report ``wrong_rows > 0``.

    python3 perfbench/selftest.py
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import run  # noqa: E402

DETAIL = {
    "append_ingest": ("files_per_s", "batch_p50_s", "resubmit_s"),
    "snapshot_read": ("read_head_s", "read_idspace_s", "read_as_of_s", "ancestors_s"),
}
COMMON = ("wrong_rows", "failed_frac")


def one_run(workload: str, trace: int) -> list[str]:
    """Problems found in one run, started outside the repository root
    so the workers must get the package from the benchmark; prints its
    figures."""
    elsewhere = os.path.join(run.ROOT, ".perfbench_work")
    os.makedirs(elsewhere, exist_ok=True)
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "10", "--trace", str(trace)],
        capture_output=True, text=True, timeout=600, cwd=elsewhere,
    )
    lines = proc.stdout.strip().splitlines()
    print(f"--- {workload} --trace {trace} (exit {proc.returncode})")
    print("\n".join(line for line in lines if not line.startswith("{")))
    if proc.returncode != 0 or not lines:
        return [f"{workload}/{trace}: exit {proc.returncode}: {proc.stderr[-2000:]}"]
    result = json.loads(lines[-1])
    units = run.per_layer_units() if trace else run.END_TO_END
    problems = []
    if set(result) != {"correct", "attempted", "failed", "metrics"} or not result["correct"]:
        problems.append(f"{workload}/{trace}: bad result {result}")
    for name, unit in units.items():
        if result["metrics"].get(name, {}).get("unit") != unit:
            problems.append(f"{workload}/{trace}: {name} missing or not in {unit}")
    printed = {line.split()[0] for line in lines[:-1]}
    problems += [f"{workload}/{trace}: {k} not printed" for k in DETAIL[workload] + COMMON if k not in printed]
    return problems


def dropped_edge_is_caught() -> list[str]:
    """Commit one batch, delete one of its edges, and check the HEAD."""
    from measure import MemSampler, Tracer
    from workloads import Run

    from fastobo_py_spark.plans import snapshots
    from fastobo_py_spark.plans.pipeline import run_pipeline

    work = os.path.join(run.ROOT, ".perfbench_work", f"selftest-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    sampler = MemSampler()
    spark = run.start_spark(work, len(os.sched_getaffinity(0)))
    try:
        r = Run(spark, work, 7, Tracer(spark, "selftest", False), sampler, 1)
        rows = r.gen.batch(0)
        run_pipeline(spark, r.corpus(0, rows), r.out)
        r.commit_batch(0, rows)
        r.check_table()
        clean = r.wrong
        subj, pred, obj, doc = sorted(r.expected.edge_keys())[0]
        snapshots.delete_where(
            spark, r.out,
            f"subj = '{subj}' AND pred = '{pred}' AND obj = '{obj}' AND doc_sha = '{doc}'",
            tables=("edges",),
        )
        r.check_table()
    finally:
        sampler.close()
        run.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(f"--- negative check: wrong_rows {clean} before, {r.wrong - clean} after dropping one edge")
    if clean != 0 or r.wrong - clean < 1:
        return ["negative check: a dropped edge was not counted in wrong_rows"]
    return []


def main() -> int:
    problems = []
    for workload in run.WORKLOADS:
        for trace in (0, 1):
            problems += one_run(workload, trace)
    problems += dropped_edge_is_caught()
    for p in problems:
        print("FAIL", p)
    print("selftest", "failed" if problems else "passed")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
