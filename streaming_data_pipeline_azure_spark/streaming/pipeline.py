"""The end-to-end streaming pipeline: the Spark analogue of the reference's
ASA job (README.md:133-178).

    orders stream ──┐
                    ├── inner broadcast join ── project/alias ── upsert sink
    customers ──────┘

Two reference-data refresh modes (SURVEY.md §4.3 — the one genuinely
custom-semantics spot):

- ``refresh="static"``: the customer snapshot resolves once at plan time.
  Fast path; Spark broadcasts it per micro-batch automatically. Right when
  the dimension is immutable for the query's lifetime.
- ``refresh="per_batch"``: ASA periodically re-snapshots its SQL reference
  input, so to match those semantics we join *inside* ``foreachBatch`` and
  call ``customers_loader()`` every batch. A JDBC DataFrame is lazily
  re-executed on next action, so reloading is a cheap re-read of a
  10k-row dimension, and the join inside foreachBatch is a batch
  broadcast join — same plan shape, fresh data.

Every foreachBatch query here shares one exactly-once policy: a
replayable source plus a per-micro-batch write that is safe to repeat.
``_start`` starts each query, and each persisted output goes through
:func:`~streaming_data_pipeline_azure_spark.sources.sinks.
write_batch_partition`, which replaces partition ``batch_id=N`` and
nothing else. The enrichment sink, the corpus ingests (dedup, span
scrub, novelty) and :func:`build_state_ingest_query` (every mergeable-
state family, each a ``*_partials`` function plus a ``read_*`` merger)
all write that way.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from streaming_data_pipeline_azure_spark.operators.enrich import (
    enrich_orders,
    with_document_id,
)
from streaming_data_pipeline_azure_spark.sources.sinks import (
    ParquetUpsertSink,
    write_batch_partition,
)


def build_enrichment_query(
    orders_stream: DataFrame,
    customers: DataFrame | Callable[[], DataFrame],
    sink: ParquetUpsertSink,
    checkpoint_dir: str,
    *,
    refresh: str = "static",
    trigger_available_now: bool = False,
    observe_quality: bool = False,
    **enrich_kwargs,
) -> StreamingQuery:
    """Assemble and start the enrichment streaming query.

    ``customers`` is a DataFrame for ``refresh="static"``, or a zero-arg
    loader returning a fresh DataFrame for ``refresh="per_batch"``.

    ``observe_quality`` (r7, static mode) attaches ``observe`` metrics
    to the enriched stream — per-micro-batch row count, null-name
    count, and amount total ride the job's own aggregation buffers (NO
    extra pass, no second query) and surface in every progress event's
    ``observedMetrics.enrich_quality``. This is the monitoring story a
    100 TB stream needs: the counters a separate validation query would
    re-scan the batch for come free with the write."""
    if refresh == "static":
        customers_df = customers() if callable(customers) else customers
        enriched = enrich_orders(orders_stream, customers_df, **enrich_kwargs)

        def write(batch_df: DataFrame, batch_id: int) -> None:
            sink.write_batch(with_document_id(batch_df), batch_id)

        if observe_quality:
            enriched = enriched.observe(
                "enrich_quality",
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(
                    F.col("customer_name").isNull().cast("long")
                ).alias("n_null_name"),
                F.sum(F.col("purchase_amount")).alias("total_amount"),
            )
        stream_to_write = enriched
    elif refresh == "per_batch":
        if observe_quality:
            raise ValueError(
                "observe_quality rides the enriched stream; per_batch "
                "mode enriches inside foreachBatch — observe the sink "
                "reads instead"
            )
        if not callable(customers):
            raise TypeError("per_batch refresh needs a customers loader callable")

        def write(batch_df: DataFrame, batch_id: int) -> None:
            out = enrich_orders(batch_df, customers(), **enrich_kwargs)
            sink.write_batch(with_document_id(out), batch_id)

        stream_to_write = orders_stream
    else:
        raise ValueError(f"unknown refresh mode {refresh!r}")

    return _start(stream_to_write, checkpoint_dir, write, trigger_available_now)


def _start(
    stream: DataFrame,
    checkpoint_dir: str,
    write: Callable[[DataFrame, int], None],
    trigger_available_now: bool,
) -> StreamingQuery:
    """Start ``stream`` as a checkpointed append-mode foreachBatch
    query running ``write(batch_df, batch_id)`` per micro-batch."""
    writer = (
        stream.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(write)
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def run_to_completion(query: StreamingQuery, timeout_sec: float = 120.0) -> None:
    """Drain an availableNow-triggered query and surface any exception."""
    if not query.awaitTermination(timeout_sec):
        query.stop()
        raise TimeoutError("streaming query did not drain in time")
    if query.exception() is not None:
        raise query.exception()


def build_state_ingest_query(
    stream: DataFrame,
    partials: Callable[[DataFrame], DataFrame],
    state_path: str,
    checkpoint_dir: str,
    *,
    trigger_available_now: bool = False,
) -> StreamingQuery:
    """Streaming MERGEABLE-STATE ingest: ``partials`` maps each micro-
    batch to its mergeable rows, which persist at
    ``state_path/batch_id=N`` (:func:`write_batch_partition`), so the
    stream's state is servable at any time without reprocessing
    history.

    Replay-idempotence: a replayed micro-batch (crash between the
    state write and the checkpoint commit) rewrites identical partials
    into its own partition instead of double-counting — most merges
    here (CMS adds, counts, decimal sums) are NOT idempotent, the
    per-batch partition IS the idempotence boundary. State grows
    O(batches) small rows per group.

    The families (partials → reader; each reader's merge scores
    identically to one batch pass over the union, parity-tested):

    - frequency: ``profile.cms_partials`` → :func:`read_heavy_hitters`
    - distinct: ``profile.distinct_partials`` → :func:`read_distinct_counts`
    - drift: :func:`drift_partials` → :func:`read_drift`
    - A/B moments: ``experiment.variant_partials`` → :func:`read_ab_readout`
    - leaderboard: :func:`topk_partials` → :func:`read_topk`
    - integrity: ``validate.table_checksum`` → :func:`read_checksum`
    - OHLC bars: :func:`ohlc_partials` → :func:`read_ohlc`
    - recency-weighted sums: :func:`decayed_partials` → :func:`read_decayed`
    - quantiles: ``profile.histogram_partials`` →
      :func:`read_histogram_percentiles`"""

    def write(batch_df: DataFrame, batch_id: int) -> None:
        write_batch_partition(partials(batch_df), state_path, batch_id)

    return _start(stream, checkpoint_dir, write, trigger_available_now)


def build_dedup_ingest_query(
    doc_stream: DataFrame,
    index,
    accepted_path: str,
    checkpoint_dir: str,
    *,
    text_col: str = "text",
    dedup_within: bool = True,
    trigger_available_now: bool = False,
    filter_fn: Callable[[DataFrame], DataFrame] | None = None,
    append_fn: Callable[[DataFrame], None] | None = None,
    compact_every: int | None = None,
) -> StreamingQuery:
    """Streaming corpus ingestion with incremental NEAR-dup dedup — the
    production shape the persisted index exists for:

        doc stream ── foreachBatch ── index.filter_novel(batch)
                                        ├── append survivors to parquet
                                        └── index.append(survivors)

    Each micro-batch probes the :class:`~streaming_data_pipeline_azure_
    spark.operators.dedup.MinHashCorpusIndex` (corpus text never
    re-read; batch broadcasts into the index scans) and folds its
    survivors into both the accepted-documents table and the index, so
    later batches dedup against everything already ingested — including
    paraphrased re-sends across micro-batches, which the watermarked
    exact-key streaming dedup (:func:`streaming.windows.dedup_within_
    watermark`) cannot catch.

    The survivors are materialized once (``localCheckpoint``) because
    they feed two writes, and BOTH writes are replay-idempotent: the
    accepted table is laid out as ``accepted_path/batch_id=N/`` and each
    batch OVERWRITES its own partition (:func:`write_batch_partition`),
    so a crash between the accepted write and the index fold-in makes
    the replay recompute the same survivor set (the index still lacks
    it) and rewrite the same partition — no duplicate rows, unlike a
    plain append
    (ADVICE r4). A crash *after* the fold-in leaves the replayed
    survivor set empty, so the early return preserves the already-
    written partition. Readers see ``batch_id`` as an ordinary partition
    column when scanning the root.

    Defaults drive a :class:`MinHashCorpusIndex` over ``text_col``; for
    any other index shape (e.g. :class:`IvfIndex` over an embedding
    column) pass ``filter_fn``/``append_fn`` overrides. ``compact_every``
    runs the index's crash-safe ``compact()`` after every N accepted
    batches, bounding the small-file accumulation of a long-running
    ingest (each append is one task-set of files)."""
    from streaming_data_pipeline_azure_spark.functions.cache import (
        release_caches,
    )

    probe = filter_fn or (
        lambda b: index.filter_novel(b, text_col, dedup_within=dedup_within)
    )
    fold = append_fn or (lambda acc: index.append(acc, text_col))
    state = {"accepted_batches": 0}

    def write(batch_df: DataFrame, batch_id: int) -> None:
        survivors = probe(batch_df).localCheckpoint()
        if survivors.isEmpty():
            release_caches()
            return
        write_batch_partition(survivors, accepted_path, batch_id)
        fold(survivors)
        state["accepted_batches"] += 1
        if compact_every and state["accepted_batches"] % compact_every == 0:
            index.compact(batch_df.sparkSession)
        release_caches()  # drop the probe's persisted batch tables

    return _start(doc_stream, checkpoint_dir, write, trigger_available_now)


def build_span_scrub_ingest_query(
    doc_stream: DataFrame,
    index,
    accepted_path: str,
    checkpoint_dir: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_kept_frac: float = 0.2,
    trigger_available_now: bool = False,
) -> StreamingQuery:
    """Streaming ingestion with SPAN-level dedup — the transforming
    sibling of :func:`build_dedup_ingest_query` (which drops or keeps
    whole documents): each micro-batch scrubs every span already in the
    :class:`~streaming_data_pipeline_azure_spark.operators.corpus.
    GramCorpusIndex`, keeps documents whose surviving fraction is at
    least ``min_kept_frac`` (a fully-scrubbed re-send keeps nothing and
    is dropped entirely), writes the CLEANED text, and folds the
    accepted clean text's grams into the index so later batches scrub
    against everything already ingested.

    Same replay-idempotence shape as the dedup ingest: accepted rows
    overwrite their own ``batch_id=N`` partition, and a replayed batch
    whose grams are already indexed scrubs its own accepted text to
    empty — so re-sends across micro-batches OR replays add nothing."""
    from pyspark.sql import functions as F

    from streaming_data_pipeline_azure_spark.functions.cache import (
        release_caches,
    )

    def write(batch_df: DataFrame, batch_id: int) -> None:
        scrubbed = index.scrub(batch_df, id_col, text_col)
        accepted = scrubbed.filter(
            (F.col("n_tokens") > 0)
            & (
                (F.col("n_tokens") - F.col("n_removed"))
                >= F.col("n_tokens") * F.lit(min_kept_frac)
            )
        ).select(id_col, F.col("clean_text").alias(text_col)).localCheckpoint()
        if accepted.isEmpty():
            release_caches()
            return
        write_batch_partition(accepted, accepted_path, batch_id)
        index.append(accepted, id_col, text_col)
        release_caches()

    return _start(doc_stream, checkpoint_dir, write, trigger_available_now)


def read_distinct_counts(
    spark, state_path: str, group_cols: list[str]
) -> DataFrame:
    """Serve the streaming HLL state: union every batch's per-group
    sketches and estimate — (group_cols…, n_distinct_approx). The
    merge runs distributed (one small shuffle over O(batches x groups)
    sketch rows); nothing collects to the driver."""
    from streaming_data_pipeline_azure_spark.operators.profile import (
        estimate_distinct,
    )

    return estimate_distinct(spark.read.parquet(state_path), group_cols)


def build_join_view_ingest_query(
    left_stream: DataFrame,
    view,
    checkpoint_dir: str,
    *,
    trigger_available_now: bool = False,
) -> StreamingQuery:
    """Stream-maintained JOIN view (r7): each micro-batch of left-side
    rows folds into an ``IncrementalJoinView`` — the enriched view
    stays queryable (``view.read``) without ever re-joining history,
    the IVM member of the streaming-ingest family.

    Replay-idempotence, same contract as the other ingests: the
    refresh runs with ``batch_id=<micro-batch id>``, so its writes
    land at overwrite ``__batch=N`` partitions and its state reads
    exclude batch-N rows — a replayed micro-batch rewrites identical
    view rows against identical state. ``view`` must be built
    (``view.build``) before the stream starts."""

    def write(batch_df: DataFrame, batch_id: int) -> None:
        # stream batches re-use id 0.. ; build rows are stamped -1
        view.refresh(delta_left=batch_df, batch_id=int(batch_id))

    return _start(left_stream, checkpoint_dir, write, trigger_available_now)


def drift_partials(
    batch_df: DataFrame, value_col: str, bounds: list
) -> DataFrame:
    """Mergeable drift partial: per-bucket counts of ``value_col``
    against FIXED reference boundaries — fixed boundaries make bucket
    counts trivially mergeable state (plain addition). One output
    partition: a micro-batch's state is a handful of rows."""
    from streaming_data_pipeline_azure_spark.operators.validate import (
        bucketize,
    )

    return (
        bucketize(batch_df, value_col, bounds)
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_cur"))
        .coalesce(1)
    )


def read_drift(
    spark,
    state_path: str,
    ref: DataFrame,
    value_col: str,
    bounds: list,
) -> DataFrame:
    """Serve the streaming drift state: merge every batch's bucket
    counts (additive) and score against the reference snapshot's
    bucket counts — the same (bucket, shares, drift_term) frame
    :func:`...validate.distribution_drift` produces."""
    from streaming_data_pipeline_azure_spark.operators.validate import (
        bucketize,
        drift_report,
    )

    cur = (
        spark.read.parquet(state_path)
        .groupBy("bucket")
        .agg(F.sum("n_cur").alias("n_cur"))
    )
    nc = cur.agg(F.sum("n_cur")).collect()[0][0] or 0
    nr = ref.count()
    if nr == 0 or nc == 0:
        raise ValueError("read_drift needs non-empty reference and state")
    rc = bucketize(ref, value_col, bounds).groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_ref")
    )
    return drift_report(rc, cur, nr, int(nc))


def read_heavy_hitters(
    spark,
    state_path: str,
    *,
    k: int = 20,
    depth: int = 4,
    width: int = 2048,
    seed: int = 42,
) -> DataFrame:
    """Serve the streaming CMS state: merge every batch's partials
    (O(batches x partitions) fixed-size rows) and score — (value,
    est_count) best-first. Parameters must match the ingest's."""
    from streaming_data_pipeline_azure_spark.operators.profile import (
        score_cms_partials,
    )

    partials = spark.read.parquet(state_path).collect()
    return score_cms_partials(
        spark, partials, k=k, depth=depth, width=width, seed=seed
    )


def read_ab_readout(spark, state_path: str) -> DataFrame:
    """Serve the streaming experiment state: merge every batch's
    per-variant partials (decimal addition, O(batches x variants)
    rows) and finalize to (variant, n_rows, mean_metric, var_metric,
    std_metric) — identical expressions to the batch
    ``variant_stats``, so streamed == batch bit-for-bit."""
    from streaming_data_pipeline_azure_spark.operators.experiment import (
        finalize_variant_stats,
        merge_variant_partials,
    )

    return finalize_variant_stats(
        merge_variant_partials(spark.read.parquet(state_path))
    )


def _rank_window(group_cols: list[str], order_col: str, id_col: str):
    from pyspark.sql import Window

    return Window.partitionBy(*group_cols).orderBy(
        F.col(order_col).desc(), F.col(id_col).asc()
    )


def topk_partials(
    batch_df: DataFrame,
    group_cols: list[str],
    order_col: str,
    id_col: str,
    k: int,
) -> DataFrame:
    """Mergeable LEADERBOARD partial: the batch's per-group top-k
    candidate rows (top-k(A∪B) ⊆ top-k(A) ∪ top-k(B) under inserts —
    the :class:`~streaming_data_pipeline_azure_spark.operators.
    incremental.IncrementalTopK` merge property). Duplicate candidate
    rows would double-count in the rank and corrupt the served top-k —
    why the batch IncrementalTopK class is insert-once by contract and
    the streaming layout is partition-per-batch."""
    return (
        batch_df.select(*group_cols, id_col, order_col)
        .withColumn(
            "__rn",
            F.row_number().over(_rank_window(group_cols, order_col, id_col)),
        )
        .filter(F.col("__rn") <= k)
        .drop("__rn")
        .coalesce(1)
    )


def read_topk(
    spark,
    state_path: str,
    group_cols: list[str],
    order_col: str,
    id_col: str,
    k: int,
) -> DataFrame:
    """The served leaderboard: re-rank the O(batches·groups·k)
    candidate union — identical to one batch window over everything
    ever ingested (parity-tested).

    At-least-once hardening (r10, VERDICT r9 #2): a candidate
    re-delivered under a DIFFERENT batch id (source retry — the one
    duplication the partition-per-batch overwrite cannot absorb)
    collapses to one row per (group, id) keeping the best score
    BEFORE the re-rank, so candidate duplication across batch
    partitions can never surface as duplicate leaderboard rows."""
    part = spark.read.parquet(state_path)
    cand = part.groupBy(*group_cols, id_col).agg(
        F.max(order_col).alias(order_col)
    )
    w = _rank_window(group_cols, order_col, id_col)
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            *group_cols, id_col, order_col,
            F.col("rank").cast("long").alias("rank"),
        )
    )


def read_checksum(spark, state_path: str) -> DataFrame:
    """Merge every batch's checksum partial: one (n_rows, checksum)
    row — exact decimal addition over O(batches) rows."""
    return spark.read.parquet(state_path).agg(
        F.sum("n_rows").cast("long").alias("n_rows"),
        F.sum("checksum").cast("decimal(38,0)").alias("checksum"),
    )


def ohlc_partials(
    batch_df: DataFrame, ts_col: str, value_col: str, id_col: str
) -> DataFrame:
    """Per-day mergeable OHLC partial: open/close keep their (ts, id)
    ordering keys alongside the value, so partials from different
    micro-batches re-merge with the identical min_by/max_by ranking
    the one-pass batch operator uses; highs/lows/counts/decimal totals
    are plain monoids."""
    v = F.col(value_col)
    order = F.struct(F.col(ts_col), F.col(id_col))
    bound = F.struct(
        F.col(ts_col).alias("ts"), F.col(id_col).alias("tb"), v.alias("v")
    )
    return (
        batch_df.groupBy(F.to_date(F.col(ts_col)).alias("day"))
        .agg(
            F.min_by(bound, order).alias("o"),
            F.max(v).alias("high"),
            F.min(v).alias("low"),
            F.max_by(bound, order).alias("c"),
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(v.cast("decimal(18,4)")).alias("total"),
        )
        .coalesce(1)
    )


def read_ohlc(spark, state_path: str) -> DataFrame:
    """Merge every batch's per-day OHLC partials into final bars —
    min_by/max_by over the stored ordering keys, monoid merges for the
    rest; O(batches × days) state rows."""
    p = spark.read.parquet(state_path)
    o_order = F.struct(F.col("o.ts"), F.col("o.tb"))
    c_order = F.struct(F.col("c.ts"), F.col("c.tb"))
    return p.groupBy("day").agg(
        F.min_by(F.col("o.v"), o_order).alias("open"),
        F.max("high").alias("high"),
        F.min("low").alias("low"),
        F.max_by(F.col("c.v"), c_order).alias("close"),
        F.sum("n_events").cast("long").alias("n_events"),
        F.sum("total").cast("double").alias("total_value"),
    )


def decayed_partials(
    batch_df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    *,
    ref_date: str,
    half_life_days: int,
) -> DataFrame:
    """Mergeable recency-weighted engagement partial: per-key
    (n_events, decayed_q) from :func:`…temporal.decayed_sum` —
    quantized-INTEGER decay contributions against a FIXED reference
    date, so partials merge by plain addition and batch boundaries
    cannot perturb a single bit. The fixed ref_date is the
    mergeability contract: scores are "as of ref_date" and a serving
    layer re-ages them by multiplying 2^-(elapsed half-lives) — it
    does NOT silently re-anchor per batch."""
    from streaming_data_pipeline_azure_spark.operators.temporal import (
        decayed_sum,
    )

    return decayed_sum(
        batch_df, key_col, ts_col, value_col,
        ref_date=ref_date, half_life_days=half_life_days,
    ).drop("decayed")


def read_decayed(
    spark, state_path: str, key_col: str, *, quantize_bits: int = 20
) -> DataFrame:
    """Merge every batch's decayed partials: per-key exact integer
    addition over O(batches × keys) rows, de-quantized at the end —
    identical to one batch pass over everything ingested."""
    scale = float(1 << quantize_bits)
    return (
        spark.read.parquet(state_path)
        .groupBy(key_col)
        .agg(
            F.sum("n_events").cast("long").alias("n_events"),
            F.sum("decayed_q").cast("long").alias("decayed_q"),
        )
        .select(
            key_col,
            "n_events",
            "decayed_q",
            (F.col("decayed_q").cast("double") / F.lit(scale)).alias(
                "decayed"
            ),
        )
    )


def build_conversion_join_query(
    left_stream: DataFrame,
    right_stream: DataFrame,
    out_path: str,
    checkpoint_dir: str,
    *,
    key_col: str = "user_id",
    left_ts: str = "ts",
    right_ts: str = "ts",
    max_gap_minutes: int = 60,
    watermark_minutes: int = 120,
    trigger_available_now: bool = True,
    join_type: str = "inner",
) -> StreamingQuery:
    """STREAM-STREAM interval join: left events joined to right events
    of the same key arriving within ``max_gap_minutes`` — the
    click→purchase conversion pairing as one continuous query.

    ``join_type="left_outer"`` adds the NO-CONVERSION signal: a left
    row that finds no partner is emitted with NULL right columns once
    the right watermark passes its window (state eviction is the
    emission trigger — the row can only be declared unmatched when no
    future right event could still pair with it). Tested: matched
    pairs identical to the inner join, unmatched rows emitted exactly
    once after a watermark-advancing batch.

    Both sides carry an event-time WATERMARK of ``watermark_minutes``;
    together with the time-band join condition this bounds the join
    state Spark keeps per side (a left row can stop waiting once the
    right watermark passes its ts + gap, and vice versa) — the
    difference between O(window) and O(stream-so-far) state at 100 TB.
    The join expression is operators.temporal.conversion_pairs
    verbatim (parity-tested streamed == batch), inlined here because
    stream-stream joins need the watermarked columns in the join
    condition itself. Append-mode parquet output: a pair is emitted
    exactly once, when it becomes final."""
    from streaming_data_pipeline_azure_spark.operators.temporal import (
        conversion_pairs,
    )

    if join_type not in ("inner", "left_outer"):
        raise ValueError("join_type must be inner or left_outer")
    lw = left_stream.withWatermark(left_ts, f"{int(watermark_minutes)} minutes")
    rw = right_stream.withWatermark(right_ts, f"{int(watermark_minutes)} minutes")
    pairs = conversion_pairs(
        lw, rw, key_col, left_ts, right_ts,
        max_gap_minutes=max_gap_minutes, join_type=join_type,
    )
    writer = (
        pairs.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint_dir)
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def read_histogram_percentiles(
    spark,
    state_path: str,
    group_cols: list[str],
    *,
    percents: tuple[int, ...] = (50, 95, 99),
) -> DataFrame:
    """Serve the streaming histogram state: merge every batch's bucket
    counts (plain addition — order/replay-insensitive) and report
    per-group percentile estimates. Distributed end-to-end; the driver
    never sees raw values, only ≤ ~64-bucket rows per group."""
    from streaming_data_pipeline_azure_spark.operators.profile import (
        histogram_percentiles,
    )

    return histogram_percentiles(
        spark.read.parquet(state_path), group_cols, percents=percents
    )


def build_novelty_ingest_query(
    doc_stream: DataFrame,
    index,
    stats_path: str,
    checkpoint_dir: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    trigger_available_now: bool = False,
) -> StreamingQuery:
    """Streaming marginal-novelty scoring — the online form of
    ``corpus.marginal_gram_novelty``: each micro-batch probes the
    :class:`~streaming_data_pipeline_azure_spark.operators.corpus.
    NoveltyGramIndex` (what do these documents add that everything
    ingested before them did not), folds the batch's truly-new grams
    in first-writer-wins, and writes the per-doc stats to its own
    ``batch_id=N`` partition.

    Replay idempotence is carried by the INDEX protocol, not just the
    partition overwrite: a replayed batch's anti-join inserts nothing
    and the ownership rows its first run created re-derive
    bit-identical stats — so re-running batch N overwrites
    ``batch_id=N`` with the same rows. When batches arrive in id
    order, the union of all partitions equals the one-shot batch
    operator's output on the full corpus (parity-tested), modulo
    64-bit gram-hash collisions."""
    from streaming_data_pipeline_azure_spark.functions.cache import (
        release_caches,
    )

    def write(batch_df: DataFrame, batch_id: int) -> None:
        batch = batch_df.localCheckpoint()
        if batch.isEmpty():
            release_caches()
            return
        stats = index.probe_and_fold(batch, id_col, text_col)
        write_batch_partition(stats, stats_path, batch_id)
        release_caches()

    return _start(doc_stream, checkpoint_dir, write, trigger_available_now)


def read_novelty(spark, stats_path: str) -> DataFrame:
    """All per-document novelty stats ingested so far (every batch
    partition) — the served view; columns match
    ``corpus.marginal_gram_novelty``."""
    return spark.read.parquet(stats_path).drop("batch_id")
