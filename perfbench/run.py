"""Benchmark entry point.

    python3 perfbench/run.py --workload snapshot_resume --seed 1 --seconds 8 --trace 0

Run from the repository root. Prints a one-line human summary, then, as
the last line, one JSON object: {"correct", "attempted", "failed",
"metrics"}. With --trace 0 the metrics are the end-to-end ones; with
--trace 1 they are the per-layer ones from the traced run, whose spans and
Spark counters are also written to .perfbench_work/traces/.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


# Engine cores per workload: the sink's partitions write in parallel, so a
# second core shortens a resume cycle by a fifth; curation and search
# requests are chains of small single-task jobs that a second core did not
# shorten.
ENGINE_CORES = {"snapshot_resume": 2, "curate_serve": 1}


def _pin_environment(workdir: str, cores: int) -> None:
    """Keep every file the run makes inside the checkout and pin the engine
    to the host. Must run before pyspark starts its JVM."""
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["TZ"] = "UTC"
    time.tzset()
    # The sink's foreachPartition tasks import the engine in Python workers.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    # Few cores, not all: with every vCPU busy, CPU stolen by other tenants
    # of a shared host slowed whole runs by up to 1.7x.
    os.environ["SPARK_GRAFT_CPUS"] = str(min(cores, os.cpu_count() or 1))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    # Every JVM, the launcher's too: temp files in the checkout, no hsperfdata.
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def _spark_conf(workdir: str) -> dict[str, str]:
    return {
        "spark.local.dir": os.path.join(workdir, "local"),
        "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
        # the whole heap committed up front, so peak RSS does not depend on
        # when the collector chose to grow it
        "spark.driver.extraJavaOptions": "-Xms1g",
        # keep every job and stage of the run for the traced attribution
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }


def _stop_spark(spark) -> None:
    """Stop Spark, then the JVM it runs in, and wait until it has exited."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - make sure it ends either way
            proc.kill()
            proc.wait()


def _median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def layer_metrics(run, jobs: list[dict], session_start_s: float, index_build: dict) -> dict:
    """Per-layer metrics: medians over the traced operations. A layer the
    workload does not exercise reads 0."""
    from perfbench import metrics, trace

    tracer = run.tracer
    by_span = trace.attribute_jobs(tracer, jobs)
    per_op: dict[str, list[float]] = {n: [] for n in metrics.PER_LAYER}

    records = [r for r in run.ops if r["traced"]]
    records += [dict(r, setup=True) for r in run.setup_ops if r["root"] is not None]
    for rec in records:
        sub = tracer.subtree(rec["root"])
        named = lambda n: [s for s in sub if s.name == n]  # noqa: E731
        dur = lambda n: sum(s.dur for s in named(n))  # noqa: E731

        def tot(*names):
            js = [j for n in names for s in named(n) for j in trace.jobs_under(tracer, by_span, s)]
            return trace.stage_totals(js)

        v: dict[str, float] = {}
        if named("jobs.run"):
            t = tot("jobs.run")
            v["jobs.run_s"] = dur("jobs.run")
            v["jobs.count_s"] = dur("jobs.run") - dur("sinks.write") - dur("sinks.control")
            v["jobs.spark_jobs"] = t["jobs"]
            v["jobs.source_scans"] = t["scan_stages"]
            v["jobs.exchanges"] = t["exchanges"]
            v["jobs.shuffle_write_bytes"] = t["shuffleWriteBytes"]
            v["operators.snapshot.build_ms"] = dur("operators.snapshot.build") * 1000
            s = tot("sinks.write")
            v["sinks.write_s"] = dur("sinks.write")
            v["sinks.task_s"] = s["executorRunTime"] / 1000
            v["sinks.tasks"] = s["numCompleteTasks"]
            v["sinks.failed_tasks"] = s["numFailedTasks"]
            v["sinks.control_s"] = dur("sinks.control")
        if named("sources.pydatasource.read"):
            r = tot("reconcile.missing_keys", "reconcile.count")
            v["sources.pydatasource.read_s"] = dur("sources.pydatasource.read")
            v["reconcile.missing_keys_s"] = dur("reconcile.missing_keys")
            v["reconcile.count_s"] = dur("reconcile.count")
            v["reconcile.shuffle_write_bytes"] = r["shuffleWriteBytes"]
        if named("dedup.lsh"):
            d, c = tot("dedup.lsh"), tot("components.cc")
            v["dedup.lsh_s"] = dur("dedup.lsh")
            v["dedup.shuffle_write_bytes"] = d["shuffleWriteBytes"]
            v["dedup.spill_bytes"] = d["memoryBytesSpilled"] + d["diskBytesSpilled"]
            v["components.cc_s"] = dur("components.cc")
            v["components.spark_jobs"] = c["jobs"]
            v["components.shuffle_write_bytes"] = c["shuffleWriteBytes"]
            v["components.keep_s"] = dur("components.keep")
        for span, prefix in (("inverted_index.search", "inverted_index"), ("ivf_index.search", "ivf_index")):
            if named(span):
                v[f"{prefix}.search_ms"] = dur(span) * 1000
                v[f"{prefix}.input_bytes_per_query"] = tot(span)["inputBytes"]
        v.update(rec.get("layer", {}))
        if rec.get("setup"):
            # engine-wide counters come from the timed operations only
            for name, value in v.items():
                per_op[name].append(float(value))
            continue
        everything = trace.stage_totals(trace.jobs_under(tracer, by_span, rec["root"]))
        py_reads = {
            st["stage_id"]
            for s in named("sources.pydatasource.read")
            for j in trace.jobs_under(tracer, by_span, s)
            for st in j["stages"]
        }
        parquet = trace.stage_totals(
            [
                {"stages": [st for st in j["stages"] if st["stage_id"] not in py_reads]}
                for j in trace.jobs_under(tracer, by_span, rec["root"])
            ]
        )
        v["sources.parquet.input_bytes"] = parquet["inputBytes"]
        v["sources.parquet.input_records"] = parquet["inputRecords"]
        v["spark.jobs"] = everything["jobs"]
        v["spark.tasks"] = everything["numCompleteTasks"]
        v["spark.executor_run_s"] = everything["executorRunTime"] / 1000
        v["spark.gc_s"] = everything["jvmGcTime"] / 1000
        v["spark.spill_bytes"] = everything["memoryBytesSpilled"] + everything["diskBytesSpilled"]
        v["spark.shuffle_write_bytes"] = everything["shuffleWriteBytes"]
        v["spark.codegen_compiles"], v["spark.codegen_ms"] = rec["codegen"]
        v["pyspark.py4j_calls"] = rec["py4j_calls"]
        for name, value in v.items():
            per_op[name].append(float(value))

    out = {name: _median(vals) for name, vals in per_op.items()}
    out["session.start_s"] = session_start_s
    out.update(index_build)
    traced = [r["latency_s"] for r in run.ops if r["traced"]]
    plain = [r["latency_s"] for r in run.ops if not r["traced"]]
    out["trace.overhead_ms"] = (_median(traced) - _median(plain)) * 1000 if plain else 0.0
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    from perfbench import metrics

    if args.workload not in metrics.WORKLOADS:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    try:
        import migrate_cassandra_to_mysql_spark  # noqa: F401 - the program under test
    except ImportError as exc:
        print(f"program not found next to the benchmark: {exc}", file=sys.stderr)
        return 2

    base = os.path.join(ROOT, ".perfbench_work")
    workdir = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(workdir)
    _pin_environment(workdir, ENGINE_CORES[args.workload])

    from perfbench import trace, workloads

    tracer = trace.Tracer(run_id=os.path.basename(workdir))
    rss = trace.RssSampler().__enter__()
    spark = None
    try:
        from migrate_cassandra_to_mysql_spark.session import get_spark

        t0 = time.perf_counter()
        spark = get_spark(app_name="perfbench", extra_conf=_spark_conf(workdir))
        session_start_s = time.perf_counter() - t0
        run = workloads.Run(
            spark, tracer, workdir, args.seed, args.seconds, bool(args.trace), started=t0
        )
        run.rss = rss
        result = workloads.WORKLOADS[args.workload](run)

        checked = run.ops + run.setup_ops
        attempted = len(checked)
        failed = sum(1 for r in checked if r["problems"])
        for r in checked:
            for p in r["problems"]:
                print(f"check failed: {p}", file=sys.stderr)
        if args.trace:
            jobs = trace.spark_jobs(spark)
            build = {}
            for s in tracer.spans:
                if s.name in ("inverted_index.build", "ivf_index.build"):
                    build[s.name.replace(".build", ".build_s")] = s.dur
            values = layer_metrics(run, jobs, session_start_s, build)
            units = {n: u for n, (u, *_rest) in metrics.PER_LAYER.items()}
            os.makedirs(os.path.join(base, "traces"), exist_ok=True)
            trace.dump(
                os.path.join(base, "traces", f"{os.path.basename(workdir)}.json"),
                tracer,
                jobs,
                {"workload": args.workload, "seed": args.seed, "metrics": values},
            )
        else:
            values = {
                "setup_s": run.setup_s,
                "op_cpu_ms": _median([r["cpu_s"] for r in run.ops]) * 1000,
                "result_recall": result["recall"],
                "peak_rss_mb": rss.peak / 2**20,
            }
            units = {n: u for n, (u, _b, _bd) in metrics.END_TO_END.items()}
            summary = dict(values, error_rate=workloads.error_rate(checked), ops=attempted)
            # wall-clock latency, with the share of CPU stolen by other tenants
            summary["op_p50_ms"] = _median([r["latency_s"] for r in run.ops]) * 1000
            summary["op_ms"] = [round(r["latency_s"] * 1000) for r in run.ops]
            summary["cpu_ms"] = [round(r["cpu_s"] * 1000) for r in run.ops]
            summary["steal"] = [round(r["steal"], 3) for r in run.ops]
            summary.update((k, v) for k, v in result.items() if k != "recall")
            print("summary " + json.dumps(summary))
        if set(values) != set(units):
            raise RuntimeError(f"metric names drifted from the schema: {sorted(set(values) ^ set(units))}")
    finally:
        if spark is not None:
            _stop_spark(spark)
        rss.__exit__(None, None, None)
        shutil.rmtree(workdir, ignore_errors=True)

    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {n: {"value": values[n], "unit": units[n]} for n in units},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
