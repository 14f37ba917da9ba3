#!/usr/bin/env python3
"""Benchmark runner for the engine.

    python3 perfbench/run.py --workload {interactive,curation} \
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout.  Inputs are generated from the seed into a
per-run temporary directory under the checkout (removed at exit); the engine
is driven only through its public functions, on ``local[<cpus>]`` with its
own defaults otherwise.  The last line of standard output is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` -- the
end-to-end metrics of BENCHMARK.json with ``--trace 0``, the per-layer ones
with ``--trace 1``.  Every run also writes a record that is never
overwritten to ``perfbench/records/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "clickhouse_flatfile_tool_spark"
END_TO_END = {"setup_s": "s", "op_cpu_p50_ms": "ms", "rows_per_cpu_s": "rows/cpu-s"}
# per-workload figures of the traced pass, zero where a workload has none
WORKLOAD_FIGURES = ("ingest_rows_per_s", "export_rows_per_s", "stmt_p50_ms", "stmt_p90_ms",
                    "funnel_docs_per_s", "knn_queries_per_s")
# overrides that would move the engine off its defaults
ENGINE_ENV = ("SPARK_GRAFT_DRIVER_MEM", "SPARK_GRAFT_SHUFFLE", "SPARK_GRAFT_PERIODIC_GC",
              "SPARK_GRAFT_CPUS", "PYSPARK_SUBMIT_ARGS")


def workload_class(name):
    from perfbench.wl_curation import Curation
    from perfbench.wl_interactive import Interactive

    return {"interactive": Interactive, "curation": Curation}[name]


def session_conf(tmp: str, trace: bool) -> dict:
    """Where the session keeps its state (all inside the run's directory);
    the traced mode also keeps every job and stage in the status store."""
    conf = {
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.local.dir": os.path.join(tmp, "spark-local"),
        # no hsperfdata files in the system temp dir
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf.update({"spark.ui.retainedJobs": "1000000", "spark.ui.retainedStages": "1000000"})
    return conf


def measure(wl, spark, tracer, seconds=None, replay=None, min_ops=1):
    """Closed loop, one client: run ops until ``seconds`` have passed, at a
    pass boundary and after at least ``min_ops`` ops (or exactly the ops of
    ``replay``)."""
    from perfbench.common import tree_cpu_s

    records = []
    ops = iter(replay) if replay is not None else wl.ops()
    per_pass = getattr(wl, "OPS_PER_PASS", 1)
    start = time.perf_counter()
    for op in ops:
        if replay is None and len(records) % per_pass == 0 and len(records) >= min_ops \
                and time.perf_counter() - start >= seconds:
            break
        label = wl.label(op)
        c0 = tree_cpu_s()
        t0 = time.perf_counter()
        try:
            with tracer.span("op", label=label):
                rows = wl.run(spark, op, tracer)
            err = None
        except Exception:  # noqa: BLE001 - a failed op is counted and recorded, not fatal
            rows, err = 0, traceback.format_exc(limit=-3)[-2000:]
        latency = time.perf_counter() - t0
        records.append({"label": label, "latency_s": latency, "cpu_s": tree_cpu_s() - c0,
                        "rows": rows, "error": err, "op": op})
        wl.after_op(spark)
    return records


def trace_overhead(wl, spark, tracer, ops) -> float:
    """Traced over untraced time of ``ops``, minus one.  Each op runs once
    in each mode; which mode goes first alternates from op to op, so
    neither mode always meets the warmer state."""
    secs = {False: 0.0, True: 0.0}
    for i, op in enumerate(ops):
        for traced in ((False, True), (True, False))[i % 2]:
            tracer.enabled = traced
            secs[traced] += measure(wl, spark, tracer, replay=[op])[0]["latency_s"]
    tracer.enabled = False
    return secs[True] / secs[False] - 1


def install_trace(tracer, spark):
    from clickhouse_flatfile_tool_spark import api, dialect, partitioning, schema
    from clickhouse_flatfile_tool_spark.operators import dedup, pipeline, relational, similarity, text
    from clickhouse_flatfile_tool_spark.sinks import writers
    from clickhouse_flatfile_tool_spark.sources import files

    layers = {
        "api": (api, ["query", "preview", "ingest", "download", "columns", "explain", "execute_join"]),
        "dialect": (dialect, ["translate_clickhouse_sql"]),
        "relational": (relational, ["preview", "chain_join"]),
        "sources": (files, ["read_csv", "read_parquet"]),
        "schema": (schema, ["resolve_csv_schema"]),
        "sinks": (writers, ["append_table", "create_table_if_absent", "export_csv"]),
        "partitioning": (partitioning, ["ensure_parallelism"]),
        "pipeline": (pipeline, ["curation_pipeline"]),
        "text": (text, ["gopher_quality_rules", "c4_rules"]),
        "dedup": (dedup, ["minhash_lsh_candidates_portable", "jaccard_verify", "remove_repeated_spans",
                          "decontaminate"]),
        "similarity": (similarity, ["mutual_nn_pairs", "margin_mined_pairs", "knn_label_accuracy",
                                    "semantic_dedup"]),
    }
    for layer, (module, names) in layers.items():
        for name in names:
            tracer.wrap(module, name, f"{layer}.{name}")
    df = spark.range(1)
    for name in ("collect", "toPandas"):
        tracer.wrap(type(df), name, f"action.{name}", plan=True)
    tracer.wrap(type(df), "count", "action.count")
    for name in ("saveAsTable", "insertInto", "csv", "parquet", "save"):
        tracer.wrap(type(df.write), name, f"action.{name}")


def layer_metrics(summary, wl, records, failed, setup, overhead, bytes_in, peak_bytes) -> dict:
    ops = summary.named("op")
    m = dict(summary.engine(ops))
    call = summary.per_call
    n_ops = max(1, len(ops))
    m["dialect.translate_ms"] = call("dialect.translate_clickhouse_sql", 1e3)["wall"]
    m["api.query.self_ms"] = call("api.query", 1e3)["self"]
    m["api.preview.self_ms"] = call("api.preview", 1e3)["self"]
    m["relational.preview_ms"] = call("relational.preview", 1e3)["wall"]
    m["relational.chain_join_ms"] = call("relational.chain_join", 1e3)["wall"]
    m["sources.read_csv_ms"] = call("sources.read_csv", 1e3)["wall"]
    append = call("sinks.append_table")
    m["sinks.append_table_s"] = append["wall"]
    m["sinks.append_table_jobs"] = append["jobs"]
    m["sinks.bytes_per_input_byte"] = (
        append["output_bytes"] * append["calls"] / bytes_in if bytes_in else 0.0)
    export = call("sinks.export_csv")
    m["sinks.export_csv_s"] = export["wall"]
    m["sinks.export_tasks"] = export["tasks"]
    m["pipeline.curation_pipeline.build_s"] = call("pipeline.curation_pipeline")["wall"]
    for fn in ("gopher_quality_rules", "c4_rules"):
        m[f"text.{fn}.build_ms"] = call(f"text.{fn}", 1e3)["wall"]
    for fn in ("minhash_lsh_candidates_portable", "jaccard_verify", "remove_repeated_spans", "decontaminate"):
        m[f"dedup.{fn}.build_ms"] = call(f"dedup.{fn}", 1e3)["wall"]
    ens = call("partitioning.ensure_parallelism", 1e3)
    m["partitioning.ensure_parallelism.calls"] = ens["calls"] / n_ops
    m["partitioning.ensure_parallelism.ms"] = ens["wall"]
    for fn in ("mutual_nn_pairs", "margin_mined_pairs", "knn_label_accuracy", "semantic_dedup"):
        sim = call(f"similarity.{fn}", 1e3)
        m[f"similarity.{fn}.build_ms"] = sim["wall"]
        m[f"similarity.{fn}.eager_jobs"] = sim["jobs"]
    m["session.get_spark_s"] = setup["get_spark_s"]
    m["session.warmup_s"] = setup["warmup_s"]
    m["trace.overhead_frac"] = overhead
    m["peak_rss_mib"] = peak_bytes / 2**20
    figures = wl.figures([r for r in records if r["error"] is None])
    for name in WORKLOAD_FIGURES:
        m[name] = figures.get(name, 0.0)
    # ops that raised or returned success: False, plus failed output checks
    m["ops_failed_ratio"] = failed / max(1, len(records))
    return m


def stop_session(spark):
    """Stop the session, then the JVM it runs in, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()


def run(args, tmp):
    from perfbench.common import CpuWindow, RssSampler, host_facts, median

    trace = bool(args.trace)
    cpus = len(os.sched_getaffinity(0))
    env = {"start": host_facts()}
    cpu = CpuWindow()
    cpu.start()
    with RssSampler() as rss:
        t0 = time.perf_counter()
        from clickhouse_flatfile_tool_spark import get_spark

        wl = workload_class(args.workload)(args.seed, tmp)
        wl.generate()
        inputs_s = time.perf_counter() - t0
        from perfbench.tracer import Tracer

        spark = None
        try:
            # one cold start: JVM launch, first session, inputs registered
            ta = time.perf_counter()
            spark = get_spark(app_name=f"perfbench-{args.workload}", master=f"local[{cpus}]",
                              extra_conf=session_conf(tmp, trace))
            spark.sparkContext.setLogLevel("ERROR")
            tb = time.perf_counter()
            wl.prepare(spark)
            tw = time.perf_counter()
            wl.warmup(spark)
            setup = {"inputs_s": inputs_s, "get_spark_s": tb - ta, "prepare_s": tw - tb,
                     "warmup_s": time.perf_counter() - tw}
            setup["setup_s"] = time.perf_counter() - t0

            tracer = Tracer(spark)
            overhead, summary, bytes_in = None, None, 0
            min_ops = getattr(wl, "MIN_OPS_TRACED" if trace else "MIN_OPS", 1)
            if not trace:
                records = measure(wl, spark, tracer, seconds=args.seconds, min_ops=min_ops)
            else:
                install_trace(tracer, spark)
                bytes0 = getattr(wl, "bytes_in", 0)
                tracer.enabled = True
                records = measure(wl, spark, tracer, seconds=args.seconds, min_ops=min_ops)
                tracer.enabled = False
                bytes_in = getattr(wl, "bytes_in", 0) - bytes0
                summary = tracer.summarize(cpus)
                head = [r["op"] for r in records[:getattr(wl, "OPS_PER_PASS", 1)]]
                # a one-op pass replays twice, so the modes run untraced, traced, traced, untraced
                overhead = trace_overhead(wl, spark, tracer, head * (2 if len(head) == 1 else 1))
                tracer.unpatch()
            peak = rss.peak_bytes
            env.update(cpu.stop())
            conf = spark.sparkContext.getConf()
            env.update({
                "end": host_facts(),
                "master": conf.get("spark.master"),
                "driver_memory": conf.get("spark.driver.memory", "default"),
                "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
                "spark_version": spark.version,
            })
            t_check = time.perf_counter()
            failures = wl.check(spark)
            env["check_s"] = time.perf_counter() - t_check
        finally:
            if spark is not None:
                stop_session(spark)

    ok = [r for r in records if r["error"] is None]
    errors = [f"{r['label']}: {r['error']}" for r in records if r["error"] is not None]
    attempted = len(records)
    failed = min(attempted, len(errors) + len(failures))
    if trace:
        metrics = layer_metrics(summary, wl, records, failed, setup, overhead, bytes_in, peak)
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            units = {m["name"]: m["unit"] for m in json.load(fh)["per_layer"]}
    else:
        # CPU time, not wall time: see "End-to-end metrics" in README.md
        cpu_s = [r["cpu_s"] for r in ok]
        metrics = {
            "setup_s": setup["setup_s"],
            "op_cpu_p50_ms": median(cpu_s) * 1e3 if cpu_s else 0.0,
            "rows_per_cpu_s": sum(r["rows"] for r in ok) / sum(cpu_s) if sum(cpu_s) else 0.0,
        }
        units = END_TO_END
    result = {
        "correct": not failures and not errors,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": trace,
        "utc": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()), "env": env,
        "inputs": wl.input_summary(), "setup": setup, "result": result,
        "ops": [{k: r[k] for k in ("label", "latency_s", "cpu_s", "rows", "error")} for r in records],
        "check_failures": failures,
    }
    return result, record


def write_record(record) -> str:
    out_dir = os.path.join(HERE, "records")
    os.makedirs(out_dir, exist_ok=True)
    stem = f"{record['utc'].replace(':', '')}_{record['workload']}_s{record['seed']}_t{int(record['trace'])}"
    for n in range(1000):
        path = os.path.join(out_dir, f"{stem}_{os.getpid()}_{n}.json")
        try:
            with open(path, "x") as fh:  # never overwrite a record
                json.dump(record, fh, indent=1, default=str)
            return path
        except FileExistsError:
            continue
    raise RuntimeError("no free record name")


def main(argv=None) -> int:
    # a terminated run still removes its directory and stops its JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=["interactive", "curation"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE} package next to {HERE}; run from a full checkout",
              file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT]
    os.environ["TZ"] = "UTC"
    time.tzset()
    for k in ENGINE_ENV:
        os.environ.pop(k, None)
    tmp_root = os.path.join(ROOT, ".bench_tmp")
    os.makedirs(tmp_root, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=tmp_root)
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    try:
        result, record = run(args, tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(tmp_root)
        except OSError:
            pass
    path = write_record(record)
    print(f"perfbench: record {os.path.relpath(path, ROOT)}", file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
