"""The workloads. Each builds its inputs from the seed, sets up and warms
up (discarded), runs a closed loop of operations with one client for the
given number of seconds (and at least a few operations), then checks
every operation's output.

An operation is one user-level call: a snapshot resume cycle, or a search
step of one BM25 and one IVF-PQ re-rank request. Steps that the engine
leaves lazy (the pydatasource read-back, the LSH candidates) are
materialized by the benchmark, so each layer's share is separable from
outside the program.
"""

from __future__ import annotations

import functools
import os
import shutil
import time

from perfbench import checks, gen

SNAPSHOT_KEYS = 10_000
CORPUS_DOCS = 800
SEARCH_VECS = 3_000
SEARCH_DIM = 16
TOP_K = 10
# Inverted-index buckets sized to the corpus, per the index's own sizing
# rule (a few thousand only at 100 TB).
BM25_BUCKETS = 8
SHORTLIST = 100
# Discarded search steps before timing: request latency falls for the first
# few steps while the JVM compiles the planner's hot paths, then levels off.
WARMUP_STEPS = 4
# Queries the ANN recall is measured on, so that recall@10 is an average
# steady across seeds.
RECALL_QUERIES = 30


class Run:
    """State of one benchmark process."""

    def __init__(
        self, spark, tracer, workdir: str, seed: int, seconds: float, trace: bool,
        started: float,
    ):
        self.spark = spark
        self.tracer = tracer
        self.workdir = workdir
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.ops: list[dict] = []
        # checked set-up steps: they count as operations, not in latencies
        self.setup_ops: list[dict] = []
        self.started = started
        self.setup_s = 0.0
        self.rss = None
        self._wrapped = False

    def mark_setup_done(self) -> None:
        self.setup_s += time.perf_counter() - self.started

    def stop_rss(self) -> None:
        """End peak-RSS sampling before the checks, which run in-process."""
        self.rss.__exit__(None, None, None)

    def path(self, *parts: str) -> str:
        return os.path.join(self.workdir, *parts)

    def set_tracing(self, on: bool) -> None:
        """Install (or remove) the layer wrappers; only the traced run does."""
        from py4j.clientserver import ClientServerConnection
        from py4j.java_gateway import GatewayConnection

        from migrate_cassandra_to_mysql_spark import jobs
        from migrate_cassandra_to_mysql_spark.operators import (
            components,
            inverted_index,
            ivf_index,
        )
        from migrate_cassandra_to_mysql_spark.sinks import control

        if on and not self._wrapped:
            t = self.tracer
            t.wrap(jobs, "run_snapshot", "jobs.run")
            t.wrap(jobs, "snapshot_pipeline", "operators.snapshot.build")
            t.wrap(jobs, "write_idempotent", "sinks.write")
            t.wrap(control, "bootstrap", "sinks.control")
            t.wrap(control, "record_validation", "sinks.control")
            t.wrap(components, "dedup_clusters", "components.cc")
            t.wrap(inverted_index, "build_inverted_index", "inverted_index.build")
            t.wrap(ivf_index, "build_ivfpq_index", "ivf_index.build")
            # every driver-to-JVM round trip, in either py4j connection mode
            t.count(ClientServerConnection, "send_command", "py4j_calls")
            t.count(GatewayConnection, "send_command", "py4j_calls")
            self._wrapped = True
        elif not on and self._wrapped:
            self.tracer.unwrap_all()
            self._wrapped = False
        self.tracer.enabled = on

    def loop(self, op, min_ops: int = 2) -> None:
        """Closed loop: call op(i) until `seconds` have passed and at least
        min_ops ran. A traced run alternates traced and untraced ops so
        that the tracer's overhead is their difference."""
        from perfbench.trace import codegen_counters, cpu_jiffies, tree_cpu_seconds

        end = time.perf_counter() + self.seconds
        i = 0
        while i < min_ops or time.perf_counter() < end:
            traced = self.trace and i % 2 == 0
            self.set_tracing(traced)
            cg0 = codegen_counters(self.spark) if traced else None
            calls0 = self.tracer.counts.get("py4j_calls", 0)
            j0 = cpu_jiffies()
            c0 = tree_cpu_seconds(os.getpid())
            with self.tracer.span("op", i=i) as root:
                t0 = time.perf_counter()
                rec = op(i)
                rec["latency_s"] = time.perf_counter() - t0
            rec["cpu_s"] = tree_cpu_seconds(os.getpid()) - c0
            j1 = cpu_jiffies()
            rec["steal"] = (j1[1] - j0[1]) / max(1, j1[0] - j0[0])
            rec["traced"] = traced
            if traced:
                cg1 = codegen_counters(self.spark)
                rec["root"] = root
                rec["codegen"] = (cg1[0] - cg0[0], cg1[1] - cg0[1])
                rec["py4j_calls"] = self.tracer.counts.get("py4j_calls", 0) - calls0
            self.ops.append(rec)
            i += 1
        self.set_tracing(False)


# --- snapshot_resume ----------------------------------------------------------


def _snapshot_cfg():
    from migrate_cassandra_to_mysql_spark.jobs import SnapshotJobConfig
    from migrate_cassandra_to_mysql_spark.sinks.idempotent import SQLITE

    return SnapshotJobConfig(
        table="files",
        key_col="file_id",
        renames={"id": "file_id"},
        empty_string_cols=gen.STRING_SANITIZED,
        ts_default_cols={"modified": gen.TS_DEFAULT},
        dedup_order_cols=["modified", "name", "fid"],
        dialect=SQLITE,
        batch_size=500,
        wal=True,
    )


def _factory(db: str):
    from migrate_cassandra_to_mysql_spark.sinks.idempotent import (
        sqlite_connection_factory,
    )

    return functools.partial(sqlite_connection_factory, db)


def _write_snapshot_inputs(run: Run, name: str, n_keys: int, seed: int) -> dict:
    """The source `files` table and a target holding all but ~1% of the
    migrated rows."""
    d = run.path(name)
    os.makedirs(d)
    cols = gen.files_rows(seed, n_keys)
    gen.write_files_parquet(os.path.join(d, "files.parquet"), cols)
    rows, missing = gen.resume_target_rows(seed, gen.expected_target_rows(cols))
    gen.create_target(os.path.join(d, "template.db"), rows)
    return {"dir": d, "n_source": len(cols["id"]), "missing": missing, "pre_rows": len(rows)}


def _fresh_target(inp: dict, tag: str) -> str:
    db = os.path.join(inp["dir"], f"target_{tag}.db")
    shutil.copyfile(os.path.join(inp["dir"], "template.db"), db)
    return db


def _read_target(run: Run, db: str):
    """Read the target back through the pydatasource and materialize it."""
    with run.tracer.span("sources.pydatasource.read"):
        return (
            run.spark.read.format("pyrelational")
            .option("path", db)
            .option("table", "files")
            .option("partitionColumn", "id")
            .option("numPartitions", "4")
            .load()
            .select("file_id")
            .localCheckpoint(eager=True)
        )


def _resume_op(run: Run, inp: dict, tag: str) -> dict:
    """Diff the missing keys, re-run the snapshot job, reconcile counts."""
    from pyspark.sql import functions as F

    from migrate_cassandra_to_mysql_spark import jobs
    from migrate_cassandra_to_mysql_spark.operators import reconcile
    from migrate_cassandra_to_mysql_spark.operators.lineage import (
        free_local_checkpoint,
    )
    from migrate_cassandra_to_mysql_spark.sources.parquet import table

    db = _fresh_target(inp, tag)
    rec: dict = {"db": db}
    src = table(run.spark, inp["dir"], "files")
    before = _read_target(run, db)
    with run.tracer.span("reconcile.missing_keys"):
        rec["missing"] = {
            r["id"]
            for r in reconcile.missing_keys(src, before, "id", "file_id")
            .select("id")
            .distinct()
            .collect()
        }
    rec["summary"] = jobs.run_snapshot(src, _factory(db), _snapshot_cfg())
    after = _read_target(run, db)
    with run.tracer.span("reconcile.count"):
        rec["verdict"] = reconcile.count_reconciliation(
            src.select(F.col("id").alias("file_id")).distinct(), after, "files"
        ).collect()[0].asDict()
    free_local_checkpoint(before)
    free_local_checkpoint(after)
    return rec


def snapshot_resume(run: Run) -> dict:
    from migrate_cassandra_to_mysql_spark.sources import pydatasource

    pydatasource.register(run.spark)
    inp = _write_snapshot_inputs(run, "in", SNAPSHOT_KEYS, run.seed)
    # Discarded full-size cycles: after a smaller one, or a single one, the
    # next cycles still got cheaper while the JVM compiled the sink and
    # planner paths, the more slowly the more CPU other tenants took.
    for i in range(2):
        os.remove(_resume_op(run, inp, f"warm{i}")["db"])
    run.spark.catalog.clearCache()
    run.mark_setup_done()

    run.loop(lambda i: _resume_op(run, inp, str(i)), min_ops=3)

    run.stop_rss()
    expected = checks.snapshot_expected(os.path.join(inp["dir"], "files.parquet"))
    for rec in run.ops:
        problems = checks.check_target(rec["db"], expected)
        if rec["summary"]["status"] != "OK":
            problems.append(f"job verdict {rec['summary']['status']}")
        if rec["missing"] != inp["missing"]:
            problems.append("missing-key diff differs from the seeded keys")
        if (rec["verdict"]["diff"], rec["verdict"]["status"]) != (0, "OK"):
            problems.append(f"reconcile verdict {rec['verdict']}")
        rec["problems"] = problems
        batches, attempted = checks.wal_counts(rec["db"])
        rec["layer"] = {
            "sinks.batches": batches,
            "sinks.rows_attempted": attempted,
            "sinks.insert_ratio": (len(expected) - inp["pre_rows"]) / attempted if attempted else 0.0,
            "sources.pydatasource.rows": inp["pre_rows"] + len(expected),
        }
    for rec in run.ops:
        os.remove(rec["db"])
    return {"recall": _exact_recall(run.ops)}


def _exact_recall(ops: list[dict]) -> float:
    """Share of operations whose output matched its reference exactly."""
    return sum(1 for r in ops if not r["problems"]) / len(ops)


# --- curate_serve -------------------------------------------------------------


def _curate(run: Run, in_dir: str, out: str) -> None:
    """LSH candidates -> connected components -> canonical keep, written."""
    from migrate_cassandra_to_mysql_spark.operators import components, dedup
    from migrate_cassandra_to_mysql_spark.operators.lineage import (
        free_local_checkpoint,
    )
    from migrate_cassandra_to_mysql_spark.sources.parquet import table

    docs = table(run.spark, in_dir, "docs")
    with run.tracer.span("dedup.lsh"):
        pairs = dedup.lsh_candidates(docs).localCheckpoint(eager=True)
    clusters = components.dedup_clusters(docs, pairs)
    with run.tracer.span("components.keep"):
        components.canonical_keep(clusters, docs.select("doc_id", "quality")).select(
            "doc_id", "component", "canonical_id", "keep"
        ).write.parquet(out)
    free_local_checkpoint(pairs)
    run.spark.catalog.clearCache()


IVF_CELLS, IVF_M, IVF_CENTERS = 8, 4, 16


def _first_k_codebooks(vecs) -> tuple[list, list]:
    """Deterministic first-K codebooks (the catalog's IVF-PQ rows use the
    same kind): the first vectors are the cell centroids and their
    sub-vectors the PQ centres. Passing them skips codebook training,
    whose dozens of small jobs per build do not fit the run budget."""
    sub = vecs.shape[1] // IVF_M
    cells = [[float(x) for x in v] for v in vecs[:IVF_CELLS]]
    centers = [
        [[float(x) for x in vecs[j, mi * sub : (mi + 1) * sub]] for j in range(IVF_CENTERS)]
        for mi in range(IVF_M)
    ]
    return cells, centers


def _build_indexes(run: Run, in_dir: str, keep_dir: str, index_dir: str, vecs) -> None:
    """BM25 over the kept documents, IVF-PQ over the embeddings."""
    from migrate_cassandra_to_mysql_spark.operators import inverted_index, ivf_index
    from migrate_cassandra_to_mysql_spark.sources.parquet import table

    kept = (
        run.spark.read.parquet(keep_dir)
        .where("keep")
        .select("doc_id")
        .join(table(run.spark, in_dir, "docs"), "doc_id")
        .select("doc_id", "text")
    )
    inverted_index.build_inverted_index(kept, f"{index_dir}/bm25", n_buckets=BM25_BUCKETS)
    cells, centers = _first_k_codebooks(vecs)
    ivf_index.build_ivfpq_index(
        table(run.spark, in_dir, "emb"), f"{index_dir}/ivf", cell_centroids=cells, centers=centers
    )


def _search_step(run: Run, index_dir: str, emb_df, step: tuple) -> dict:
    """One BM25 request, then one IVF-PQ re-rank request."""
    from migrate_cassandra_to_mysql_spark.functions.localframe import local_frame
    from migrate_cassandra_to_mysql_spark.operators import inverted_index, ivf_index

    terms, q_id, qv = step
    with run.tracer.span("inverted_index.search"):
        bm25 = inverted_index.bm25_search(
            run.spark, f"{index_dir}/bm25", terms, k=TOP_K, n_buckets=BM25_BUCKETS
        ).collect()
    with run.tracer.span("ivf_index.search"):
        q = local_frame(run.spark, [(q_id, qv)], "q_id long, qv array<double>")
        ann = ivf_index.ivfpq_search_rerank(
            run.spark, f"{index_dir}/ivf", q, emb_df, k=TOP_K, n_probe=2, shortlist=SHORTLIST
        ).collect()
    return {
        "step": step,
        "bm25": [tuple(r) for r in bm25],
        "ann": [(r["n_id"], r["cos_sim"], r["rnk"]) for r in ann],
    }


def curate_serve(run: Run) -> dict:
    import pyarrow.parquet as pq

    from migrate_cassandra_to_mysql_spark.functions.localframe import local_frame
    from migrate_cassandra_to_mysql_spark.operators import ivf_index
    from migrate_cassandra_to_mysql_spark.sources.parquet import table

    in_dir = run.path("in")
    os.makedirs(in_dir)
    corpus = gen.neardup_corpus(run.seed, CORPUS_DOCS)
    docs_path = os.path.join(in_dir, "docs.parquet")
    gen.write_corpus_parquet(docs_path, corpus)
    emb = gen.clustered_embeddings(run.seed, SEARCH_VECS, SEARCH_DIM, n_queries=RECALL_QUERIES)
    gen.write_embeddings_parquet(os.path.join(in_dir, "emb.parquet"), emb)
    steps = gen.search_steps(run.seed, 1000, emb)

    # Curation and index builds run once per process, cold, so one time of
    # either is too noisy to bound on its own: they are set-up. Their times
    # are reported beside the metrics and, traced, per layer.
    keep_dir, index_dir = run.path("keep"), run.path("index")
    run.set_tracing(run.trace)
    with run.tracer.span("setup") as root:
        t0 = time.perf_counter()
        _curate(run, in_dir, keep_dir)
        t1 = time.perf_counter()
        _build_indexes(run, in_dir, keep_dir, index_dir, emb["vecs"])
        t2 = time.perf_counter()
    run.set_tracing(False)
    emb_df = table(run.spark, in_dir, "emb")
    for step in gen.search_steps(run.seed + 10**6, WARMUP_STEPS, emb):
        _search_step(run, index_dir, emb_df, step)
    run.mark_setup_done()

    run.loop(lambda i: _search_step(run, index_dir, emb_df, steps[i]), min_ops=3)

    run.stop_rss()
    docs = list(zip(corpus["doc_id"], corpus["text"], corpus["quality"]))
    pairs = checks.lsh_pairs([(d, t) for d, t, _ in docs])
    expected = checks.expected_keep(docs, pairs)
    planted = sum(1 for a, b in pairs if corpus["cluster"][a] == corpus["cluster"][b])
    rows = pq.read_table(keep_dir).to_pylist()
    run.setup_ops.append(
        {
            "root": root,
            "problems": checks.check_keep(
                [(r["doc_id"], r["component"], r["canonical_id"], r["keep"]) for r in rows],
                expected,
            ),
            "layer": {
                "dedup.candidate_pairs": len(pairs),
                "dedup.candidate_precision": planted / len(pairs) if pairs else 0.0,
            },
        }
    )

    q = local_frame(
        run.spark,
        [(int(i), [float(x) for x in v]) for i, v in zip(emb["q_ids"], emb["queries"])],
        "q_id long, qv array<double>",
    )
    got: dict[int, list[int]] = {}
    for r in ivf_index.ivfpq_search_rerank(
        run.spark, run.path("index", "ivf"), q, emb_df, k=TOP_K, n_probe=2, shortlist=SHORTLIST
    ).collect():
        got.setdefault(int(r["q_id"]), []).append(int(r["n_id"]))
    truth = checks.exact_topk(emb["queries"], emb["vecs"], TOP_K)
    recall = checks.recall_at_k(got, truth, emb["q_ids"])
    oracle = checks.Bm25Oracle(docs_path, [d for d, (_, _, keep) in expected.items() if keep])
    try:
        for rec in run.ops:
            terms, _, qv = rec["step"]
            rec["problems"] = checks.check_bm25(
                rec["bm25"], oracle.topk(terms, TOP_K)
            ) + checks.check_rerank(rec["ann"], qv, emb["vecs"], TOP_K)
    finally:
        oracle.close()
    return {
        "recall": recall,
        "curate_docs_per_s": CORPUS_DOCS / (t1 - t0),
        "index_build_s": t2 - t1,
    }


WORKLOADS = {"snapshot_resume": snapshot_resume, "curate_serve": curate_serve}


def error_rate(ops: list[dict]) -> float:
    """Failed or wrong operations divided by attempted operations."""
    return sum(1 for r in ops if r["problems"]) / len(ops)


