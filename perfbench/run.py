"""The benchmark of record: one run executes one workload on one local
Spark session and prints every metric by name with its unit.

    python3 perfbench/run.py --workload movies_serve --seed 1 --seconds 5 --trace 0

Run it from the root of a checkout of the repository. The workloads:

- ``movies_serve``: the movies ETL batch job (CSV -> four parquet sinks
  and the LSH model), then a closed loop of get_recommendations(id, 5)
  calls over the index built from those sinks;
- ``trainprep_analytics``: the ``trainprep`` command over a replicated
  documents corpus (curation, near-dup removal, perplexity band,
  decontamination, substring dedup, chunking, shards and manifests), then
  a closed loop over the ten relational registry queries.

Each workload reports the same end-to-end metrics: ``batch_items_per_s``
is the batch job's input rows (movies) or documents (trainprep) per
second; ``query_ms`` is the latency of one call of the query loop: the
median recommend call, or the mean analytics query (collected) over whole
passes of the ten queries (see ``phases.EventsAnalytics``); ``recall`` is
recall@5 against the exact cosine top 5 (recommend), or the share of the
corpus's planted near-duplicate cliques reduced to one document
(trainprep). ``--seconds`` is the minimum length of the query loop.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs every
phase of both workloads with each public call in a span, enables Spark's
event log for this run only, and prints the per-layer metrics instead. The
traced run also makes the calls no end-to-end metric reads (one batch_ann
call; the batch and streaming arms of q30 and q48, each slower than the
median analytics call) and checks their answers.
The last stdout line is the result JSON; the line before it records the
host settings, the set-up split, each process's peak resident memory and
every query-loop latency.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3
WORKLOADS = ("movies_serve", "trainprep_analytics")
UNITS = {
    "batch_items_per_s": "1/s",
    "sink_bytes_per_input_byte": "ratio",
    "query_ms": "ms",
    "recall": "ratio",
}
# Traced spans: the package's public functions, as <module path>.<function>
# (plans.relational: the ten relational queries together). Each reports
# wall_s, cpu_s, shuffle_bytes (shuffle bytes written) and tasks.
SPANS = (
    "session.get_spark",
    "pipeline.load_movies_csv",
    "pipeline.clean",
    "pipeline.combine_features",
    "ml.lemmas.induce_lemma_map",
    "ml.tfidf.fit_document_vectors",
    "ml.ann.fit_lsh",
    "pipeline.save_outputs",
    "ml.ann.prepare_index",
    "ml.ann.recommend",
    "ml.ann.batch_ann",
    "operators.curate.curate_documents",
    "operators.neardup.minhash_neardup_pairs",
    "operators.graph.connected_components",
    "operators.perplexity.perplexity_band",
    "operators.decontaminate.ngram_contamination",
    "operators.substring_dedup.remove_duplicate_spans",
    "operators.training_prep.chunk_documents",
    "operators.training_prep.write_training_shards",
    "operators.training_prep.pack_sequences",
    "sources.catalog.warm_catalog",
    "plans.relational",
    "plans.events_stream.q30_batch_arms",
    "plans.events_stream.q30_stream_arms",
    "plans.text_analysis.q48_batch_arm",
    "plans.text_analysis.q48_stream_arm",
)


def host_settings(work: str) -> dict[str, str]:
    """Size the session to this host and let Python workers import the
    package: SPARK_GRAFT_CPUS is the usable core count; the driver heap is
    a sixteenth of physical RAM unless SPARK_GRAFT_DRIVER_MEM is set (the
    session's 16g default can exceed a small host's RAM)."""
    cpus = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    if not os.environ.get("SPARK_GRAFT_DRIVER_MEM"):
        ram = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{ram // 16 // 2**20}m"
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
        os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    for sub in ("tmp", "spark-local"):
        os.makedirs(f"{work}/{sub}", exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = f"{work}/spark-local"
    os.environ["TMPDIR"] = f"{work}/tmp"
    # every JVM (Spark's launcher and the Spark driver JVM) keeps its files
    # inside the run's work directory
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData")
    import tempfile

    tempfile.tempdir = f"{work}/tmp"
    return {k: os.environ[k] for k in
            ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM", "PYTHONPATH")}


def start_spark(work: str, traced: bool):
    from movie_recommendation_etl_spark.session import get_spark

    conf = {"spark.sql.warehouse.dir": f"{work}/warehouse"}
    if traced:
        os.makedirs(f"{work}/eventlog", exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"{work}/eventlog",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(app_name="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    return spark


def stop_spark() -> None:
    """Stop the session and the JVM behind it, and wait for the JVM."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def log(msg: str) -> None:
    print(f"perfbench {time.strftime('%H:%M:%S')} {msg}", file=sys.stderr,
          flush=True)


def run(args, work: str, settings: dict) -> tuple[dict, dict]:
    from pyspark import SparkContext

    import phases as P
    from tracing import Tracer, median, peak_rss_mb

    # Set-up repeats its cheap repeatable steps (input generation into fresh
    # directories, the last one kept; index builds) and counts their
    # medians; the index load, warm-up queries and catalog fill run once.
    # A traced run does every step once. Each batch job's measured pass is
    # the session's first pass of that job, as a submitted batch job's is.
    reps = 1 if args.trace else SETUP_REPS
    tracer = Tracer()
    t0 = time.perf_counter()
    with tracer.span("session.get_spark"):
        spark = start_spark(work, bool(args.trace))
    jvm_s = time.perf_counter() - t0
    log(f"session: {jvm_s:.2f}s")
    if args.trace:
        tracer.spark_context = spark.sparkContext
    setup = {"session": jvm_s}

    def setup_step(name: str, fn, n: int = reps) -> None:
        tracer.stage = "setup"
        secs = []
        for k in range(n):
            c0 = time.perf_counter()
            fn(k)
            secs.append(time.perf_counter() - c0)
        setup[name] = secs
        tracer.stage = "measure"

    def peak_rss() -> dict[str, float]:
        """Peak resident memory so far of this process and of the driver
        JVM, read before the output checks, which are the benchmark's own
        work."""
        return {"python": peak_rss_mb([os.getpid()]),
                "jvm": peak_rss_mb([SparkContext._gateway.proc.pid])}

    def fresh_dir(k: int, name: str) -> str:
        path = f"{work}/{name}{k}"
        os.makedirs(path)
        return path

    # A traced run measures every phase of both workloads, so that every
    # span is reported whichever workload is named.
    order = sorted(WORKLOADS, key=lambda w: w != args.workload) \
        if args.trace else [args.workload]
    figures: dict[str, dict[str, float]] = {}
    attempted = failed = 0
    etl = None
    for workload in order:
        if workload == "movies_serve":
            etl = P.MoviesEtl(f"{work}/etl_out", P.MOVIE_ROWS)
            serve = P.RecommendServe(etl)
            setup_step("movies_inputs", lambda k: etl.generate(
                fresh_dir(k, "movies"), args.seed))
            etl.run(spark, tracer)
            log(f"{etl.name}: {etl.seconds:.2f}s")
            setup_step("index_load", lambda k: serve.load(spark, args.seed),
                       1)
            setup_step("index", lambda k: serve.build_index(tracer))
            setup_step("warm_up", lambda k: serve.warm_up(), 1)
            serve.run(tracer, args.seconds)
            log(f"{serve.name}: {len(serve.latencies)} queries, slowest "
                f"{max(serve.latencies):.3f}s")
            rss = peak_rss()
            checks = (etl.check(serve), serve.check())
            fig = {**etl.figures(), **serve.figures()}
        else:
            prep = P.TrainPrep(f"{work}/trainprep_out", P.CORPUS_BASE)
            ana = P.EventsAnalytics()

            def generate(k: int) -> None:
                path = fresh_dir(k, "corpus")
                prep.generate(path, args.seed)
                ana.generate(path, args.seed)

            setup_step("corpus_inputs", generate)
            setup_step("catalog", lambda k: ana.warm(spark, tracer), 1)
            prep.run(spark, tracer)
            log(f"{prep.name}: {prep.seconds:.2f}s")
            ana.run(spark, tracer, args.seconds)
            log(f"{ana.name}: {len(ana.latencies)} queries, "
                f"{ana.seconds:.2f}s")
            rss = peak_rss()
            checks = (prep.check(spark), ana.check())
            fig = {**prep.figures(), **ana.figures()}
        for a, f in checks:
            attempted += a
            failed += f
        figures[workload] = fig
        log(f"checked {workload}: {failed} of {attempted} failed")
    setup_s = sum(median(v) if isinstance(v, list) else v
                  for v in setup.values())
    info = {"host": settings, "setup_s": setup, "peak_rss_mb": rss,
            "query_ms": {w: f.pop("samples") for w, f in figures.items()}}
    if args.trace:
        stop_spark()
        metrics = layer_metrics(work, tracer, figures, prep.stats, etl)
    else:
        metrics = {"setup_s": (setup_s, "s")}
        for name, value in figures[args.workload].items():
            metrics[name] = (value, UNITS[name])
        metrics["success_rate"] = (1.0 - failed / attempted, "ratio")
        metrics["peak_rss_mb"] = (sum(rss.values()), "MB")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        declared = json.load(fh)["per_layer" if args.trace else "end_to_end"]
    if {m["name"]: m["unit"] for m in declared} != {
            k: u for k, (_v, u) in metrics.items()}:
        raise RuntimeError("metrics differ from those BENCHMARK.json declares")
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }
    return result, info


def layer_metrics(work: str, tracer, figures, counters,
                  etl) -> dict[str, tuple[float, str]]:
    """Per span name, medians over its occurrences of wall time, executor
    CPU time, shuffle bytes written and tasks; the Spark totals of the
    measured work; counters; the passes' self times; and the traced run's
    own batch throughput and query latency, whose ratios to the untraced
    runs' medians give the tracing overhead."""
    from tracing import (
        JobMetrics,
        attribute,
        median,
        parse_event_log,
        self_times,
    )

    (log_name,) = os.listdir(f"{work}/eventlog")
    with open(f"{work}/eventlog/{log_name}") as fh:
        jobs = parse_event_log(fh)
    spans = tracer.spans
    per_span = attribute(jobs, spans)
    out: dict[str, tuple[float, str]] = {}
    for name in SPANS:
        occ = [s for s in spans if s.name == name]
        m = [per_span[s.id] for s in occ]
        out[f"{name}.wall_s"] = (median([s.wall for s in occ]), "s")
        out[f"{name}.cpu_s"] = (median([x.cpu_ns / 1e9 for x in m]), "s")
        out[f"{name}.shuffle_bytes"] = (
            median([x.shuffle_write_bytes for x in m]), "B")
        out[f"{name}.tasks"] = (median([x.tasks for x in m]), "count")
    total = JobMetrics()
    for s in spans:
        if s.stage == "measure" and s.parent is None:
            total.add(per_span[s.id])
    out["spark.run_s"] = (total.run_ms / 1000.0, "s")
    out["spark.gc_s"] = (total.gc_ms / 1000.0, "s")
    out["spark.spill_bytes"] = (total.spill_bytes, "B")
    out["spark.input_bytes"] = (total.input_bytes, "B")
    out["spark.failed_tasks"] = (total.failed_tasks, "count")
    for name, value in counters.items():
        out[name] = (value, "count")
    out["ml.tfidf.vocab_terms"] = (
        tracer.counters["ml.tfidf.vocab_terms"], "count")
    out["ml.ann.recommend.jobs_per_query"] = (median(
        [per_span[s.id].jobs for s in spans if s.name == "ml.ann.recommend"]),
        "count")
    out["sources.writers.bytes_written"] = (etl.sink_bytes, "B")
    out["sources.writers.files_written"] = (etl.sink_files, "count")
    own = self_times(spans)
    for name in ("pass.movies_etl", "pass.trainprep"):
        (sp,) = [s for s in spans if s.name == name]
        out[f"{name}.self_s"] = (own[sp.id], "s")
    for workload, fig in figures.items():
        for name in ("batch_items_per_s", "query_ms"):
            out[f"tracing.{workload}.{name}"] = (fig[name], UNITS[name])
    return out


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "movie_recommendation_etl_spark")):
        print("perfbench: run from the root of a checkout of the repository "
              "(movie_recommendation_etl_spark/ not found)", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    settings = host_settings(work)
    try:
        result, info = run(args, work, settings)
    finally:
        stop_spark()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(info))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
