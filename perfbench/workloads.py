"""The workloads: closed loops over the production entry points.

One caller, one driver process: each ``run_pipeline`` batch or read is
issued only after the previous one returned, the way ``jobs/build_kg.py``
or a scheduler drives the job.
"""

from __future__ import annotations

import os
import sys
import time
import traceback
import uuid

from pyspark.sql import functions as F

from bench import _tree_cpu_seconds as tree_cpu
from fastobo_py_spark.operators.canonicalize import extract_edges_with_macros
from fastobo_py_spark.operators.graph import ancestors_of
from fastobo_py_spark.operators.materialize import build_nodes, with_salt
from fastobo_py_spark.operators.parse import parse_corpus, split_parsed
from fastobo_py_spark.operators.surrogate import audit_doc_keys, with_doc_key
from fastobo_py_spark.plans import snapshots
from fastobo_py_spark.plans.pipeline import (
    canonical_edges,
    compact_manifest,
    pending_corpus,
    run_pipeline,
)

from expect import Expected, mismatches
from inputs import CorpusGen, obo_bytes, size_of, write_parquet
from measure import median

EDGE_COLS = ("subj", "pred", "obj", "doc_sha")
N_SALTS = 16  # run_pipeline's and the CLI's default salt fan-out
# Timed steps per run, fixed so that parent and change do the same work: in
# a time-bound loop a faster program would run more batches, grow the table
# further, and meet slower commits for it. The JVM keeps compiling over the
# first few run_pipeline calls: on a 4-core box the first takes about 15 s,
# the second 8-10 s, and from the third on they settle near 7 s. So set-up
# makes one more untimed call after the first, and the timed batches start
# from the third. Two batches take about 15 s and a read round about 12 s;
# a run with set-up, checks and shutdown takes 50-75 s.
APPEND_WARMUP = 1  # untimed run_pipeline batches after the first
APPEND_BATCHES = 2
READ_ROUNDS = 1
READ_TABLE_BATCHES = 2  # run_pipeline appends that build the read table
IDSPACE = "GO"  # the hub-skewed family's idspace, for the single-idspace scan


class Run:
    """State shared by one benchmark run."""

    def __init__(self, spark, work: str, seed: int, tracer, sampler, nproc: int):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.tracer = tracer
        self.sampler = sampler
        self.nproc = nproc
        self.out = os.path.join(work, "kg")
        self.gen = CorpusGen(seed)
        self.expected = Expected()
        self.batches: dict[int, list[dict]] = {}  # committed batches
        self.corpus_dirs: dict[int, str] = {}
        self.attempted = self.failed = self.wrong = 0
        self.ops: list[float] = []  # timed operation latencies
        self.op_cpu: list[float] = []  # their process-tree CPU seconds
        self.pipeline_s: list[float] = []  # run_pipeline calls, warm-up excluded
        self.detail: dict = {}
        self.layers: dict = {}
        self.seed_list: list | None = None  # ancestor-walk seeds, once picked

    # -- inputs ---------------------------------------------------------------
    def corpus(self, name, rows: list[dict]):
        """``rows`` written as parquet, read back as the program's input."""
        path = write_parquet(rows, os.path.join(self.work, "corpus", str(name)), self.nproc)
        self.corpus_dirs[name] = path
        return self.spark.read.parquet(path)

    def commit_batch(self, i: int, rows: list[dict]) -> None:
        self.batches[i] = rows
        self.expected.add(i, rows)

    # -- timing -------------------------------------------------------------
    def timed(self, name: str, fn):
        """Run one operation: (result, seconds, process-tree CPU seconds),
        or (None, None, None) if it raised."""
        self.attempted += 1
        cpu0 = tree_cpu()
        t0 = time.perf_counter()
        try:
            with self.sampler.active(), self.tracer.span(name):
                out = fn()
        except Exception:
            self.failed += 1
            traceback.print_exc(file=sys.stderr)
            return None, None, None
        dt = time.perf_counter() - t0
        return out, dt, tree_cpu() - cpu0

    def add_op(self, seconds: float, cpu: float) -> None:
        self.ops.append(seconds)
        self.op_cpu.append(cpu)

    # -- checks ---------------------------------------------------------------
    def check_table(self) -> None:
        """HEAD edges and nodes against the oracle over every committed batch."""
        read = snapshots.read_table_at
        edges = [tuple(r) for r in read(self.spark, self.out, "edges").select(*EDGE_COLS).collect()]
        nodes = [tuple(r) for r in read(self.spark, self.out, "nodes").select("doc_sha", "id").collect()]
        self.wrong += mismatches(edges, self.expected.edge_keys())
        self.wrong += mismatches(nodes, self.expected.node_keys())
        self.detail["head_edges"] = len(edges)
        self.detail["head_nodes"] = len(nodes)

    def stored_bytes_per_input_byte(self) -> float:
        stored = 0
        for dirpath, _dirs, files in os.walk(self.out):
            stored += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
        return stored / sum(obo_bytes(rows) for rows in self.batches.values())

    def input_size(self) -> dict:
        sizes = [size_of(rows) for rows in self.batches.values()]
        return {k: sum(s[k] for s in sizes) for k in ("files", "obo_docs", "bytes")}

    # -- traced replay ----------------------------------------------------------
    def replay(self, i: int, seeds) -> None:
        """One batch through every layer, one public call at a time.

        ``run_pipeline`` is lazy: graph and node compute execute inside its
        write calls. Here each step is materialized on its own (persist +
        count) so its span holds only its own work. The input is the last
        committed batch plus a fresh one, so resume skips a real batch.
        The steps and their order are ``run_pipeline``'s.
        """
        spark, out, T, L = self.spark, self.out, self.tracer, self.layers
        fresh = self.gen.batch(i)
        corpus = self.corpus(f"replay-{i}", self.batches[max(self.batches)] + fresh)
        n_in = corpus.count()
        bid = uuid.uuid4().hex[:12]
        t0 = time.perf_counter()
        with T.span("commit"):
            pre = snapshots.ensure_baseline(out)
        with T.span("resume"):
            keep = ["repo", "path", "commit", "lang", "content", "doc_sha", "payload_sha"]
            src = pending_corpus(spark, corpus, out).select(*keep).persist()
            n_src = src.count()
        L["resume.skipped_docs"] = n_in - n_src
        manifest = os.path.join(out, "_manifest")
        L["resume.manifest_parts"] = sum(f.endswith(".parquet") for f in os.listdir(manifest))
        with T.span("parse"):
            parsed = parse_corpus(src).persist()
            parsed.count()
            clauses, quarantine = split_parsed(parsed)
        L["parse.py_bytes"] = T.stats.python_bytes(T.spans[-1]["job_ids"])
        L["parse.clause_rows"] = clauses.count()
        L["parse.docs"] = clauses.select("doc_sha").distinct().count()
        L["parse.quarantined"] = quarantine.count()
        with T.span("write"):
            quarantine.write.mode("append").parquet(os.path.join(out, "quarantine"))
        with T.span("spine"):
            n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
            clauses = with_doc_key(clauses).repartition(n_shuffle, "doc_key").persist()
            clauses.count()
            collisions = audit_doc_keys(clauses).count()
        L["spine.collisions"] = collisions
        strategy = "shuffle_hash" if collisions == 0 else "auto"
        caches = []
        with T.span("graph"):
            edges = canonical_edges(clauses, strategy=strategy, persisted_out=caches).persist()
            n_edges = edges.count()
        # edges as extracted before the rewrite and dedup, for the keep
        # ratio: canonical_edges' own extraction call over its dim filter
        dims = clauses.where(
            (F.col("frame_type") == "Header")
            | F.col("tag").isin("alt_id", "replaced_by", "equivalent_to", "xref")
        )
        key = "doc_key" if collisions == 0 else "doc_sha"
        n_extracted = extract_edges_with_macros(clauses, strategy=strategy, macro_source=dims, key_col=key).count()
        L["graph.edges_out"] = n_edges
        L["graph.dedup_keep_ratio"] = n_edges / n_extracted
        with T.span("nodes"):
            nodes = build_nodes(clauses).persist()
            n_nodes = nodes.count()
        L["nodes.rows"] = n_nodes
        with T.span("write"):
            nodes.write.mode("append").partitionBy("idspace").parquet(os.path.join(out, "nodes"))
        with T.span("write"):
            with_salt(edges, "subj", N_SALTS).write.mode("append").partitionBy("idspace", "salt").parquet(
                os.path.join(out, "edges")
            )
        for df in [parsed, edges, nodes, *caches]:
            df.unpersist()
        with T.span("commit"):
            post = snapshots.list_data_files(out)
            added = {t: sorted(post[t] - pre.get(t, set())) for t in snapshots.TABLES}
            snapshots.commit_snapshot(out, added=added, op="append", batch_id=bid)
            (
                src.select("repo", "path", "commit", "doc_sha", "payload_sha")
                .dropDuplicates()
                .withColumn("batch_id", F.lit(bid))
                .withColumn("completed_at", F.current_timestamp())
                .write.mode("append")
                .parquet(manifest)
            )
            compact_manifest(spark, out)
        src.unpersist()
        clauses.unpersist()
        self.commit_batch(i, fresh)
        files = [f for t in snapshots.TABLES for f in added[t]]
        L["write.files"] = len(files)
        L["write.bytes"] = sum(os.path.getsize(os.path.join(out, f)) for f in files)
        L["write.rows_per_file"] = (n_edges + n_nodes) / max(1, len(files))
        L["commit.files_listed"] = sum(len(v) for v in pre.values()) + sum(len(v) for v in post.values())
        L["commit.snapshots"] = len(snapshots.list_snapshots(out))
        with T.span("scan"):
            got = [tuple(r) for r in snapshots.read_table_at(spark, out, "edges").select(*EDGE_COLS).collect()]
        L["scan.rows"] = len(got)
        L["scan.files"] = len(snapshots.resolve_files(out, "edges"))
        self.wrong += mismatches(got, self.expected.edge_keys())
        with T.span("closure"):
            head = snapshots.read_table_at(spark, out, "edges")
            anc = [tuple(r) for r in ancestors_of(head, seeds).collect()]
        L["closure.rows"] = len(anc)
        self.wrong += mismatches(anc, self.expected.ancestors(self.seed_list))
        L["pipeline.replay_s"] = time.perf_counter() - t0

    def seeds_df(self):
        if self.seed_list is None:
            self.seed_list = self.expected.pick_seeds(self.seed)
        return self.spark.createDataFrame(self.seed_list, "doc_sha string, id string")


# ---------------------------------------------------------------------------


def append_ingest(r: Run) -> dict:
    """Small batches of distinct documents into one growing output dir,
    then one re-submission of an already-committed batch."""
    for i in range(1 + APPEND_WARMUP):  # the first call also starts the table
        rows = r.gen.batch(i)
        run_pipeline(r.spark, r.corpus(i, rows), r.out)
        r.commit_batch(i, rows)
    setup_done = time.perf_counter()
    per_batch = []

    def step(k: int) -> None:
        i = k + 1 + APPEND_WARMUP
        rows = r.gen.batch(i)
        corpus = r.corpus(i, rows)
        m, dt, cpu = r.timed("op.run_pipeline", lambda: run_pipeline(r.spark, corpus, r.out))
        if m is None:
            return
        r.commit_batch(i, rows)
        r.add_op(dt, cpu)
        r.pipeline_s.append(dt)
        per_batch.append((len(rows), dt))
        r.wrong += abs(m["docs_in_batch"] - len(rows))

    for k in range(APPEND_BATCHES):
        step(k)
    corpus = r.spark.read.parquet(r.corpus_dirs[max(r.batches)])
    before = snapshots.list_data_files(r.out)
    m, resubmit_s, _cpu = r.timed("op.resubmit", lambda: run_pipeline(r.spark, corpus, r.out))
    if m is not None:
        # every row resume-skipped: nothing processed, no data file added
        r.wrong += m["docs_in_batch"] + (snapshots.list_data_files(r.out) != before)
    r.detail.update(
        files_per_s=sum(n for n, _dt in per_batch) / sum(dt for _n, dt in per_batch) if per_batch else None,
        batch_p50_s=median([dt for _n, dt in per_batch]),
        resubmit_s=resubmit_s, op_s=r.ops,
    )
    return {"setup_end": setup_done}


def snapshot_read(r: Run) -> dict:
    """Reads against a table that ``run_pipeline`` appends built in set-up:
    a HEAD edges scan, a single-idspace scan, an as-of-snapshot scan and a
    seeded is_a ancestor walk."""
    for i in range(READ_TABLE_BATCHES):
        rows = r.gen.batch(i)
        corpus = r.corpus(i, rows)
        t0 = time.perf_counter()
        run_pipeline(r.spark, corpus, r.out)
        if i:  # the first call also warms the JVM
            r.pipeline_s.append(time.perf_counter() - t0)
        r.commit_batch(i, rows)
    first = snapshots.list_snapshots(r.out)[0]
    as_of_ms = first["created_at_ms"]
    seeds = r.seeds_df()
    spark, out = r.spark, r.out
    read = snapshots.read_table_at
    want = {
        "read_head": r.expected.edge_keys(),
        "read_idspace": {e for e in r.expected.edge_keys() if e[0].startswith(IDSPACE + ":")},
        "read_as_of": r.expected.edge_keys([0]),
        "ancestors": r.expected.ancestors(r.seed_list),
    }
    reads = {
        "read_head": lambda: read(spark, out, "edges").select(*EDGE_COLS).collect(),
        "read_idspace": lambda: read(spark, out, "edges").where(F.col("idspace") == IDSPACE)
        .select(*EDGE_COLS).collect(),
        "read_as_of": lambda: read(spark, out, "edges", as_of_ms=as_of_ms).select(*EDGE_COLS).collect(),
        "ancestors": lambda: ancestors_of(read(spark, out, "edges"), seeds).collect(),
    }
    setup_done = time.perf_counter()
    lat = {name: [] for name in reads}

    def step(_k: int) -> None:
        total = cpu_total = 0.0
        for name, fn in reads.items():
            got, dt, cpu = r.timed(f"op.{name}", fn)
            if got is None:
                return
            lat[name].append(dt)
            total += dt
            cpu_total += cpu
            r.wrong += mismatches([tuple(x) for x in got], want[name])
        r.add_op(total, cpu_total)

    for k in range(READ_ROUNDS):
        step(k)
    for name, xs in lat.items():
        r.detail[f"{name}_s"] = median(xs)
    r.detail["read_n"] = len(r.ops)
    r.detail["op_s"] = r.ops
    return {"setup_end": setup_done}


def summarize(r: Run) -> dict:
    """The end-to-end figures every workload reports."""
    return {
        "op_p50_s": median(r.ops),
        "cpu_s_per_op": median(r.op_cpu),
        "peak_pss_mb": r.sampler.peak / 2**20,
        "stored_bytes_per_input_byte": r.stored_bytes_per_input_byte(),
    }
