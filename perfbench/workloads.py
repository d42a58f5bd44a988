"""The benchmark's workloads, driven through the package's public entry
points only.

Why these workloads:

- ``catchup``: a 250k-order backlog (plus 5% exact re-sends) drained
  with ``availableNow`` in 3 micro-batches of ~88k rows, again and
  again into fresh sinks for the run's seconds. Row-bound: JSON parse,
  the broadcast enrichment join, ``dropDuplicates`` and the parquet
  encode do the work, so it measures throughput. README queries then
  run over the freshly drained sink with nothing else competing.
- ``serve``: a 100k-order sink (5 micro-batches) is preloaded in set-up;
  then orders arrive in an open loop at 1,000/s as one file per 50 ms tick,
  ~10% of them re-sends that change the amount of a preload key, while
  one closed-loop client cycles F1/A1/A2/A3 over ``sink.read()``. Small
  micro-batches make per-batch fixed cost and commit latency dominate,
  and the sink's dedup-on-read resolve competes with ingest for cores.

Every traced run also runs the workload-independent layer passes of
:func:`shared_layer_passes`: stage subtraction, a small
``build_dedup_ingest_query`` drain with compaction (``operators.dedup``
and ``functions.generations``) and the local[1] scaling drain.

Every workload reports the same end-to-end metrics (see ``run.py``):
for a backlog, an event's due time is the drain start.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import nullcontext

import numpy as np

import gen
from harness import TickScheduler, Tracer, median, percentile, summarize, vm_hwm_mb


class CheckFailed(Exception):
    """The pipeline's output disagrees with the generator's reference."""


# ---------------------------------------------------------------------------
# shared plumbing
# ---------------------------------------------------------------------------


class Run:
    """State of one benchmark run: the session, its work directory, the
    tracer and the counters the result line reports."""

    SETUP_REPS = 3

    def __init__(self, work: str, seed: int, seconds: float, trace: bool, cpus: int, log):
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.cpus = cpus
        self.log = log
        self.tracer = Tracer(trace)
        self.attempted = 0
        self.failed = 0
        self.e2e: dict[str, float] = {}
        self.layers: dict[str, float] = {}
        self.spark = None

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    # -- session and dimension ----------------------------------------------

    def start_session(self, cpus: int | None = None) -> float:
        from streaming_data_pipeline_azure_spark.session import get_spark

        t = time.perf_counter()
        self.spark = get_spark(
            "perfbench",
            cpus=cpus or self.cpus,
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": self.path("warehouse"),
                "spark.sql.streaming.numRecentProgressUpdates": "10000",
                # commit-log mtimes are the commit times: keep every entry
                "spark.sql.streaming.minBatchesToRetain": "1000000",
            },
        )
        return time.perf_counter() - t

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def write_customers(self) -> str:
        path = self.path("input", "customers.csv")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            fh.writelines(f"{i},{n},{c}\n" for i, n, c in gen.customers(self.seed))
        return path

    def load_dimension(self, csv_path: str):
        """Dimension load through the source registry, cached: the
        reference table every enrichment batch broadcasts."""
        from streaming_data_pipeline_azure_spark.schemas import CUSTOMER_SCHEMA
        from streaming_data_pipeline_azure_spark.sources.registry import read_source

        dim = read_source("csv", self.spark, path=csv_path, schema=CUSTOMER_SCHEMA)
        dim.unpersist(blocking=True)  # a reload reads the file again, not the cache
        dim = dim.cache()
        if dim.count() != gen.N_CUSTOMERS:
            raise CheckFailed("dimension load lost rows")
        return dim

    def repeated(self, fn):
        """Run a repeatable set-up step SETUP_REPS times: (median
        seconds, last result)."""
        times = []
        for _ in range(self.SETUP_REPS):
            t = time.perf_counter()
            out = fn()
            times.append(time.perf_counter() - t)
        return median(times), out

    def record_setup(self, get_spark_s: float, prepare_s: float, warmup_s: float) -> None:
        self.e2e["setup_s"] = get_spark_s + prepare_s + warmup_s
        self.layers.update({"session.get_spark_s": get_spark_s, "setup.prepare_s": prepare_s,
                            "setup.warmup_s": warmup_s})
        self.log(f"set-up: session {get_spark_s:.2f} s, prepare {prepare_s:.2f} s, warm-up {warmup_s:.2f} s")

    def rss_mb(self) -> float:
        jvm_pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        return vm_hwm_mb() + vm_hwm_mb(jvm_pid)

    # -- streaming helpers ----------------------------------------------------

    def enrichment_query(self, in_dir, dim, sink, ckpt, files_per_trigger, available_now):
        from streaming_data_pipeline_azure_spark.sources.registry import read_order_file_stream
        from streaming_data_pipeline_azure_spark.streaming.pipeline import build_enrichment_query

        return build_enrichment_query(
            read_order_file_stream(self.spark, in_dir, files_per_trigger),
            dim, sink, ckpt, trigger_available_now=available_now,
        )

    def drain(self, query) -> None:
        from streaming_data_pipeline_azure_spark.streaming.pipeline import run_to_completion

        run_to_completion(query, timeout_sec=150)
        self.attempted += len(query.recentProgress)


def file_batches(ckpt: str) -> dict[str, int]:
    """{input file name: micro-batch id} from the file source's log in
    the checkpoint (plain and compacted log files alike)."""
    out: dict[str, int] = {}
    d = os.path.join(ckpt, "sources", "0")
    for name in os.listdir(d):
        if name.startswith("."):
            continue
        with open(os.path.join(d, name)) as fh:
            for line in fh:
                if line.startswith("{"):
                    rec = json.loads(line)
                    out[os.path.basename(rec["path"])] = int(rec["batchId"])
    return out


def commit_times(ckpt: str) -> dict[int, float]:
    """{micro-batch id: wall time its commit-log entry was written}."""
    d = os.path.join(ckpt, "commits")
    return {
        int(n): os.stat(os.path.join(d, n)).st_mtime_ns / 1e9
        for n in os.listdir(d)
        if n.isdigit()
    }


def pipeline_layers(progress: list[dict]) -> dict[str, float]:
    """Per-batch medians of the micro-batch execution phases."""
    def med(key):
        return float(median([p["durationMs"].get(key, 0) for p in progress]))

    rows = [p["numInputRows"] for p in progress]
    return {
        "pipeline.latest_offset_ms": med("latestOffset"),
        "pipeline.query_planning_ms": med("queryPlanning"),
        "pipeline.wal_commit_ms": med("walCommit"),
        "pipeline.commit_offsets_ms": med("commitOffsets"),
        "pipeline.add_batch_ms": med("addBatch"),
        "pipeline.batches": float(len(progress)),
        "pipeline.rows_per_batch": float(median(rows)),
    }


README_QUERIES = ("F1", "A1", "A2", "A3")
QUERY_SPANS = {
    "F1": "relational.filter_city_s",
    "A1": "relational.avg_purchase_s",
    "A2": "relational.avg_by_city_s",
    "A3": "relational.sum_by_city_s",
}


def readme_query(spark, sink, name: str):
    """One README analytical query over a fresh ``sink.read()``, fetched
    to the client as an Arrow table."""
    from streaming_data_pipeline_azure_spark.operators import relational as R

    enriched = sink.read(spark)
    if name == "F1":
        df = R.filter_by_city(enriched, gen.QUERY_CITY).select("order_id", "purchase_amount")
    elif name == "A1":
        df = R.avg_purchase(enriched, gen.QUERY_CITY)
    elif name == "A2":
        df = R.avg_purchase_by_city(enriched)
    else:
        df = R.sum_purchase_by_city(enriched)
    return df.toArrow()


def check_queries(results: dict, ref: gen.LatestWins) -> None:
    exp = ref.expected_queries()
    f1 = sorted(zip((int(x) for x in results["F1"].column("order_id").to_pylist()),
                    results["F1"].column("purchase_amount").to_pylist()))
    if f1 != exp["F1"]:
        raise CheckFailed(f"F1: {len(f1)} rows, expected {len(exp['F1'])}")
    a1 = results["A1"].column("avg_purchase").to_pylist()[0]
    if a1 != exp["A1"]:
        raise CheckFailed(f"A1: {a1} != {exp['A1']}")
    for q, col in (("A2", "avg_purchase"), ("A3", "total_purchase")):
        got = dict(zip(results[q].column("city").to_pylist(), results[q].column(col).to_pylist()))
        if got != exp[q]:
            raise CheckFailed(f"{q}: per-city values differ from the reference")


def check_sink(spark, sink, ref: gen.LatestWins) -> None:
    """Per-city count and amount sum match the reference, and every live
    order appears exactly once (count, distinct count, id sum and
    squared-id sum all match). One aggregation: an order id lives in
    one city, so per-city distinct counts add up."""
    from pyspark.sql import functions as F

    k = F.col("order_id").cast("decimal(38,0)")
    rows = sink.read(spark).groupBy("city").agg(
        F.count("*").alias("n"), F.countDistinct("order_id").alias("d"),
        F.sum("purchase_amount").alias("s"), F.sum(k).alias("s1"), F.sum(k * k).alias("s2"),
    ).collect()
    if {r["city"]: (r["n"], r["s"]) for r in rows} != ref.by_city():
        raise CheckFailed("per-city count/sum differ from the reference")
    n, s1, s2 = ref.id_digest()
    got = tuple(sum(int(r[c]) for r in rows) for c in ("n", "d", "s1", "s2"))
    if got != (n, n, s1, s2):
        raise CheckFailed("sink order ids are not exactly the reference's, once each")


def latency_metrics(samples: list[float], prefix: str) -> dict[str, float]:
    return {f"{prefix}_p50_s": percentile(samples, 0.5), f"{prefix}_p90_s": percentile(samples, 0.9)}


def query_latency(samples: dict[str, list[float]]) -> float:
    """The median latency of each README query shape, averaged over the
    shapes. A median pooled over shapes of unlike cost would jump from
    one shape to another as their costs shift."""
    return sum(median(samples[q]) for q in README_QUERIES) / len(README_QUERIES)


def overhead_pct(traced: float, untraced: float) -> float:
    return 100.0 * (traced - untraced) / untraced


# ---------------------------------------------------------------------------
# layer passes shared by the traced runs
# ---------------------------------------------------------------------------

# repeats of a per-layer timing; the fastest counts
LAYER_REPS = 2
# the small near-dup ingest of dedup_pass: corpus size, stream size
DEDUP_CORPUS_DOCS = 2000
DEDUP_STREAM_DOCS = 400
# the backlog slice of the shared passes: about one catchup micro-batch
SLICE_ORDERS = 85_000


def best_of(fn) -> float:
    """Seconds of the fastest of LAYER_REPS calls of ``fn``."""
    ts = []
    for _ in range(LAYER_REPS):
        t = time.perf_counter()
        fn()
        ts.append(time.perf_counter() - t)
    return min(ts)


def stage_subtraction(run: Run, dim, files: list[str]) -> None:
    """Batch passes over the same input files through the noop sink:
    parse only, parse + enrich, parse + enrich + ``write_batch``; each
    layer's cost is the difference from the previous pass."""
    from streaming_data_pipeline_azure_spark.operators.enrich import enrich_orders, with_document_id
    from streaming_data_pipeline_azure_spark.schemas import ORDER_SCHEMA
    from streaming_data_pipeline_azure_spark.sources.registry import read_source
    from streaming_data_pipeline_azure_spark.sources.sinks import ParquetUpsertSink

    spark = run.spark
    parsed = read_source("json", spark, path=files, schema=ORDER_SCHEMA)
    enriched = enrich_orders(parsed, dim)
    sink = ParquetUpsertSink(run.path("stage_sink"))

    t_parse = best_of(lambda: parsed.write.format("noop").mode("overwrite").save())
    t_enrich = best_of(lambda: enriched.write.format("noop").mode("overwrite").save())
    t_write = best_of(lambda: sink.write_batch(with_document_id(enriched), 0))
    rows_in = parsed.count()
    rows_out = enriched.count()
    run.layers.update({
        "sources.parse_s": t_parse,
        "enrich.join_s": t_enrich - t_parse,
        "sinks.write_s": t_write - t_enrich,
        "enrich.match_ratio": rows_out / rows_in,
        "sinks.rows_written": float(spark.read.parquet(sink.log_path(spark)).count()),
    })


def sink_layers(run: Run, sink) -> None:
    """Read-side cost of the sink: ``read()`` forced through noop, and
    how much resolve work the log carries (log rows per live key)."""
    spark = run.spark
    read_s = best_of(lambda: sink.read(spark).write.format("noop").mode("overwrite").save())
    log = spark.read.parquet(sink.log_path(spark))
    live = sink.read(spark).count()
    run.layers.update({
        "sinks.read_s": read_s,
        "sinks.log_rows_per_key": log.count() / max(live, 1),
        "sinks.log_files": float(len(log.inputFiles())),
    })


def relational_layers(run: Run, sink) -> None:
    """One traced cycle of the README queries over ``sink``."""
    for q in README_QUERIES:
        with run.tracer.span(QUERY_SPANS[q]):
            readme_query(run.spark, sink, q)
    for q in README_QUERIES:
        run.layers[QUERY_SPANS[q]] = median(run.tracer.durations(QUERY_SPANS[q]))


def dedup_hooks(run: Run, index):
    """``filter_fn``/``append_fn`` for ``build_dedup_ingest_query`` that
    record each call as a span. The traced probe materializes its result
    inside the span so the span covers the probe's work, not only its
    plan; ``compact`` is wrapped on the index instance."""
    counts = {"in": 0, "out": 0}

    def probe(batch):
        with run.tracer.span("dedup.filter_novel_s"):
            counts["in"] += batch.count()
            out = index.filter_novel(batch, "text").localCheckpoint()
            counts["out"] += out.count()
        return out

    index.compact = run.tracer.wrap("dedup.compact_s", index.compact)
    return probe, run.tracer.wrap("dedup.append_s", lambda acc: index.append(acc, "text")), counts


def dedup_layers_from(run: Run, index, counts) -> None:
    st = index.stats(run.spark)
    run.layers.update({
        "dedup.filter_novel_s": median(run.tracer.durations("dedup.filter_novel_s")),
        "dedup.append_s": median(run.tracer.durations("dedup.append_s")),
        "dedup.compact_s": median(run.tracer.durations("dedup.compact_s")),
        "dedup.accept_ratio": counts["out"] / max(counts["in"], 1),
        "dedup.index_files": float(st["n_band_files"] + st["n_shingle_files"]),
    })


def dedup_pass(run: Run) -> None:
    """A small traced near-dup ingest (2 batches, compaction after
    each): the dedup layer's per-layer metrics. The accepted documents
    must be exactly the planted novel ones."""
    from streaming_data_pipeline_azure_spark.functions.localdf import local_rows_df
    from streaming_data_pipeline_azure_spark.operators.dedup import MinHashCorpusIndex
    from streaming_data_pipeline_azure_spark.streaming.pipeline import build_dedup_ingest_query

    corpus = gen.corpus(run.seed + 7, DEDUP_CORPUS_DOCS)
    docs, novel = gen.doc_stream(run.seed + 7, corpus, DEDUP_STREAM_DOCS)
    index = MinHashCorpusIndex(run.path("dedup_pass", "index"), "doc_id")
    index.build(local_rows_df(run.spark, corpus, "doc_id long, text string"), "text")
    in_dir = run.path("dedup_pass", "in")
    os.makedirs(in_dir)
    half = DEDUP_STREAM_DOCS // 2
    for i, part in enumerate((docs[:half], docs[half:])):
        gen.write_atomic(in_dir, f"d{i}.json", gen.docs_json(part), mtime=1_000_000 + i)
    probe, append, counts = dedup_hooks(run, index)
    q = build_dedup_ingest_query(
        doc_file_stream(run.spark, in_dir, 1), index, run.path("dedup_pass", "accepted"),
        run.path("dedup_pass", "ckpt"), trigger_available_now=True,
        filter_fn=probe, append_fn=append, compact_every=1,
    )
    run.drain(q)
    accepted = run.spark.read.parquet(run.path("dedup_pass", "accepted")).select("doc_id").collect()
    if {r["doc_id"] for r in accepted} != novel:
        raise CheckFailed("dedup ingest accepted other documents than the planted novel ones")
    dedup_layers_from(run, index, counts)


def doc_file_stream(spark, in_dir: str, files_per_trigger: int):
    return (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", str(files_per_trigger))
        .json(in_dir)
    )


def scaling_pass(run: Run, csv_path: str, in_dir: str, n_files: int) -> None:
    """Drain the same slice of a catchup backlog on local[N] (this
    session) and on local[1]; reports the speedup. Restarts the session
    as local[1], so it runs last."""
    from streaming_data_pipeline_azure_spark.sources.sinks import ParquetUpsertSink

    times = []
    for cpus in (run.cpus, 1):
        if cpus != run.cpus:
            run.stop_session()
            run.start_session(cpus=1)
        dim = run.load_dimension(csv_path)
        tag = f"scaling{cpus}"
        sink = ParquetUpsertSink(run.path(tag, "sink"))
        q = run.enrichment_query(in_dir, dim, sink, run.path(tag, "ckpt"), n_files, True)
        t = time.perf_counter()
        run.drain(q)
        times.append(time.perf_counter() - t)
    run.log(f"scaling: drain {times[0]:.2f} s on local[{run.cpus}], {times[1]:.2f} s on "
            f"{run.spark.sparkContext.master}")
    run.layers["scaling.catchup_speedup"] = times[1] / times[0]


def shared_layer_passes(run: Run, dim, csv_path: str) -> None:
    """The per-layer passes that do not depend on the workload, on a
    seeded backlog slice of one catchup micro-batch: stage subtraction,
    the dedup ingest and the local[N]/local[1] drain. A traced run must
    report every per-layer metric, so both workloads run them. Restarts
    the session (see :func:`scaling_pass`), so it runs last."""
    slice_dir = run.path("input", "slice")
    files = gen.write_files(gen.backlog(run.seed, SLICE_ORDERS), slice_dir, CATCHUP_FILES_PER_TRIGGER)
    stage_subtraction(run, dim, files)
    dedup_pass(run)
    scaling_pass(run, csv_path, slice_dir, CATCHUP_FILES_PER_TRIGGER)


# ---------------------------------------------------------------------------
# catchup
# ---------------------------------------------------------------------------

CATCHUP_ORDERS = 250_000
CATCHUP_FILES = 100
CATCHUP_FILES_PER_TRIGGER = 34
CATCHUP_QUERY_CYCLES = 3
# throughput still climbs over the first drains of a fresh JVM
CATCHUP_WARM_DRAINS = 3


def catchup(run: Run) -> None:
    from streaming_data_pipeline_azure_spark.sources.sinks import ParquetUpsertSink

    csv_path = run.write_customers()
    orders = gen.backlog(run.seed, CATCHUP_ORDERS)
    in_dir = run.path("input", "backlog")
    files = gen.write_files(orders, in_dir, CATCHUP_FILES)
    ref = gen.LatestWins(run.seed)
    ref.apply(orders)
    run.log("catchup: inputs generated")

    get_spark_s = run.start_session()
    prepare_s, dim = run.repeated(lambda: run.load_dimension(csv_path))
    t = time.perf_counter()  # warm-up: untimed drains of the same backlog
    for i in range(CATCHUP_WARM_DRAINS):
        run.drain(run.enrichment_query(in_dir, dim, ParquetUpsertSink(run.path(f"warm{i}", "sink")),
                                       run.path(f"warm{i}", "ckpt"), CATCHUP_FILES_PER_TRIGGER, True))
    for name in README_QUERIES:  # a query shape's first runs are several times slower
        readme_query(run.spark, ParquetUpsertSink(run.path("warm0", "sink")), name)
    run.record_setup(get_spark_s, prepare_s, time.perf_counter() - t)

    def drain_once(tag: str, traced: bool):
        sink = ParquetUpsertSink(run.path(tag, "sink"))
        if traced:
            sink.write_batch = run.tracer.wrap("sinks.write_batch_s", sink.write_batch)
        ckpt = run.path(tag, "ckpt")
        q = run.enrichment_query(in_dir, dim, sink, ckpt, CATCHUP_FILES_PER_TRIGGER, True)
        t0_wall, t0 = time.time(), time.perf_counter()
        run.drain(q)
        drain_s = time.perf_counter() - t0
        rows = sum(p["numInputRows"] for p in q.recentProgress)
        if rows != len(orders):
            raise CheckFailed(f"drained {rows} rows of {len(orders)}")
        fb, ct = file_batches(ckpt), commit_times(ckpt)
        lat = [ct[fb[os.path.basename(f)]] - t0_wall for f in files]
        return sink, q.recentProgress, (rows, drain_s), lat

    def measure():
        """Drain the same backlog into fresh sinks until the run's seconds
        are spent. A traced run orders its drains untraced, traced,
        traced, untraced, ... so a linear warm-up drift cancels out of
        the tracing overhead. Returns
        {traced?: (drain rates, pooled per-file commit latencies, batch
        progress, last sink)}; a drain rate is (rows, seconds)."""
        groups = {False: ([], [], [], None), True: ([], [], [], None)}
        end = time.perf_counter() + run.seconds
        i = 0
        while i < (4 if run.trace else 1) or time.perf_counter() < end:
            traced = run.trace and i % 4 in (1, 2)
            sink, prog, rps, lt = drain_once(f"d{i}", traced)
            rates, lat, progress, _ = groups[traced]
            groups[traced] = (rates + [rps], lat + lt, progress + prog, sink)
            i += 1
        run.log(f"catchup: drain rates {[round(n / s) for n, s in groups[False][0]]}"
                f" untraced, {[round(n / s) for n, s in groups[True][0]]} traced")
        return groups

    def drain_rate(drains):
        """Median records per second of the drains."""
        return median([n / s for n, s in drains])

    groups = measure()
    rates, lat, _, sink = groups[False]
    run.spark._jvm.java.lang.System.gc()  # collect the drains' garbage before timing queries
    qlat, results = {name: [] for name in README_QUERIES}, {}
    for _ in range(CATCHUP_QUERY_CYCLES):
        for name in README_QUERIES:
            t = time.perf_counter()
            results[name] = readme_query(run.spark, sink, name)
            qlat[name].append(time.perf_counter() - t)
            run.attempted += 1
    run.e2e.update({"records_per_s": drain_rate(rates), **latency_metrics(lat, "commit_latency"),
                    "query_latency_p50_s": query_latency(qlat)})
    run.log(f"catchup: commit latency {summarize(lat)}, query latency "
            f"{ {name: summarize(xs) for name, xs in qlat.items()} }")
    check_queries(results, ref)
    check_sink(run.spark, sink, ref)

    if run.trace:
        rates_t, lat_t, progress_t, sink_t = groups[True]
        run.layers.update(pipeline_layers(progress_t))
        run.layers.update({
            "sinks.write_batch_s": median(run.tracer.durations("sinks.write_batch_s")),
            # no open-loop generator here, and a drain that leaves a file
            # uncommitted fails the run: both are 0 by construction
            "gen.late_ticks": 0.0,
            "sources.backlog_files_end": 0.0,
            "trace.overhead_records_per_s_pct": overhead_pct(drain_rate(rates_t), drain_rate(rates)),
            "trace.overhead_commit_latency_p50_pct": overhead_pct(percentile(lat_t, 0.5), percentile(lat, 0.5)),
        })
        relational_layers(run, sink_t)
        sink_layers(run, sink_t)
        shared_layer_passes(run, dim, csv_path)


# ---------------------------------------------------------------------------
# serve
# ---------------------------------------------------------------------------

PRELOAD_ORDERS = 100_000
PRELOAD_BATCHES = 5
SERVE_RATE = 1000  # orders per second
TICK_S = 0.05
RESEND_RATIO = 0.10
UNBOUNDED_FILES = 1_000_000
# ingest runs this long before the measured window opens, so the restarted
# query's first batches and the reader's first plans are not timed
LEAD_S = 4.0


def serve_ticks(seed: int, n_ticks: int, preload: gen.Orders):
    """Per-tick order sets: ~90% new orders, ~10% re-sends of preload
    keys with a new amount (each preload key at most once)."""
    rng = np.random.default_rng([seed, 5])
    per_tick = int(SERVE_RATE * TICK_S)
    n = per_tick * n_ticks
    fresh = gen.new_orders(rng, 10_000_000, n)
    resend = rng.random(n) < RESEND_RATIO
    keys = rng.choice(len(preload), int(resend.sum()), replace=False)
    ids, cust, amount = fresh.ids.copy(), fresh.cust.copy(), fresh.amount.copy()
    ids[resend] = preload.ids[keys]
    cust[resend] = preload.cust[keys]
    amount[resend] = (preload.amount[keys] - 20 + rng.integers(1, 480, len(keys))) % 480 + 20
    allo = gen.Orders(ids, cust, amount)
    return [allo.take(slice(i * per_tick, (i + 1) * per_tick)) for i in range(n_ticks)]


def serve(run: Run) -> None:
    from streaming_data_pipeline_azure_spark.sources.sinks import ParquetUpsertSink

    csv_path = run.write_customers()
    preload = gen.backlog(run.seed, PRELOAD_ORDERS, resend_ratio=0.0)
    ref = gen.LatestWins(run.seed)
    ref.apply(preload)
    in_dir = run.path("input", "orders")
    gen.write_files(preload, in_dir, PRELOAD_BATCHES, prefix="pre")
    ticks = serve_ticks(run.seed, int(round((LEAD_S + run.seconds) / TICK_S)), preload)
    texts = [t.json_lines() for t in ticks]
    names = [f"t{i:06d}.json" for i in range(len(ticks))]

    get_spark_s = run.start_session()
    dim_s, dim = run.repeated(lambda: run.load_dimension(csv_path))
    sink, ckpt = ParquetUpsertSink(run.path("sink")), run.path("ckpt")
    t = time.perf_counter()
    run.drain(run.enrichment_query(in_dir, dim, sink, ckpt, 1, True))
    preload_s = time.perf_counter() - t
    t = time.perf_counter()
    for name in README_QUERIES:  # a query shape's first runs are several times slower
        readme_query(run.spark, sink, name)
    run.record_setup(get_spark_s, dim_s + preload_s, time.perf_counter() - t)

    if run.trace:
        # trace every other micro-batch and query: the untraced half is
        # the baseline for the tracing overhead, free of warm-up drift
        plain = sink.write_batch
        traced = run.tracer.wrap("sinks.write_batch_s", plain)
        sink.write_batch = lambda df, batch_id: (traced if batch_id % 2 else plain)(df, batch_id)
    q = run.enrichment_query(in_dir, dim, sink, ckpt, UNBOUNDED_FILES, False)
    sched = TickScheduler(TICK_S)
    t0 = time.monotonic() + 0.5
    t0_wall = time.time() + (t0 - time.monotonic())
    gen_thread = threading.Thread(
        target=sched.run,
        args=(lambda i, due: gen.write_atomic(in_dir, names[i], texts[i]), t0, len(texts)),
    )
    gen_thread.start()
    qlat = {name: [] for name in README_QUERIES}
    start, end = t0 + LEAD_S, t0 + LEAD_S + run.seconds
    while time.monotonic() < start:
        time.sleep(0.01)
    i = 0
    while time.monotonic() < end or i < len(README_QUERIES):  # at least one full cycle
        name = README_QUERIES[i % 4]
        run.attempted += 1
        ts = time.perf_counter()
        try:
            with run.tracer.span(QUERY_SPANS[name]) if i % 8 >= 4 else nullcontext():
                readme_query(run.spark, sink, name)
        except Exception as e:  # a failed query counts; ingest goes on
            run.failed += 1
            run.log(f"serve: query {name} failed: {e!r}")
        else:
            qlat[name].append(time.perf_counter() - ts)
        i += 1
    gen_thread.join(timeout=60)
    if gen_thread.is_alive():
        raise RuntimeError("generator did not finish")
    backlog_end = len(names) - _committed_files(ckpt, names)
    deadline = time.monotonic() + 60
    while _committed_files(ckpt, names) < len(names):
        if time.monotonic() > deadline or q.exception() is not None:
            raise CheckFailed("ingest did not commit every tick file")
        time.sleep(0.05)
    q.stop()
    q.awaitTermination(60)
    progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
    run.attempted += len(progress)

    fb, ct = file_batches(ckpt), commit_times(ckpt)
    first = int(round(LEAD_S / TICK_S))
    batch_of = [fb[n] for n in names[first:]]
    lat = [ct[b] - (t0_wall + (first + k) * TICK_S) for k, b in enumerate(batch_of)]
    end_wall = t0_wall + LEAD_S + run.seconds
    done = sum(len(ticks[first + k]) for k, b in enumerate(batch_of) if ct[b] <= end_wall)
    run.e2e.update({
        "records_per_s": done / run.seconds, **latency_metrics(lat, "commit_latency"),
        "query_latency_p50_s": query_latency(qlat),
    })
    run.log(f"serve: commit latency {summarize(lat)}, query latency "
            f"{ {name: summarize(xs) for name, xs in qlat.items()} }, "
            f"generator lateness {summarize(sched.lateness)}, backlog files at window end {backlog_end}")
    for orders in ticks:
        ref.apply(orders)
    check_queries({n: readme_query(run.spark, sink, n) for n in README_QUERIES}, ref)

    if run.trace:
        def by_parity(odd):
            rate = [p["numInputRows"] * 1000.0 / p["durationMs"]["triggerExecution"]
                    for p in progress if p["batchId"] % 2 == odd]
            return median(rate), percentile([x for x, b in zip(lat, batch_of) if b % 2 == odd], 0.5)

        (rate_u, lat_u), (rate_t, lat_t) = by_parity(0), by_parity(1)
        run.layers.update(pipeline_layers(progress))
        run.layers.update({
            "sinks.write_batch_s": median(run.tracer.durations("sinks.write_batch_s")),
            "gen.late_ticks": float(sum(x > TICK_S for x in sched.lateness)),
            "sources.backlog_files_end": float(backlog_end),
            "trace.overhead_records_per_s_pct": overhead_pct(rate_t, rate_u),
            "trace.overhead_commit_latency_p50_pct": overhead_pct(lat_t, lat_u),
        })
        for name in README_QUERIES:
            run.layers[QUERY_SPANS[name]] = median(run.tracer.durations(QUERY_SPANS[name]))
        sink_layers(run, sink)
        shared_layer_passes(run, dim, csv_path)


def _committed_files(ckpt: str, names: list[str]) -> int:
    try:
        fb, ct = file_batches(ckpt), commit_times(ckpt)
    except FileNotFoundError:
        return 0
    return sum(1 for n in names if fb.get(n) in ct)


WORKLOADS = {"catchup": catchup, "serve": serve}
