"""Event-stream operators: windowed aggregation + sessionization.

The reference has no streaming surface (SURVEY §2.12); these are
engine-native extensions over the ``events`` table shape
(event_id, ts, user_id, event_type, value, props). Every streaming
transform has a batch twin with identical semantics so the DuckDB
oracle can check the logic (`F.window` over a static frame ==
`time_bucket` in SQL), and the streaming variant adds only the
watermark/trigger mechanics.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, functions as F


def windowed_event_counts_batch(
    events: DataFrame, window: str = "1 hour", ts_col: str = "ts"
) -> DataFrame:
    """Tumbling-window counts/sums per event type — batch twin of the
    streaming agg (identical plan minus watermark)."""
    return (
        events.groupBy(
            F.window(F.col(ts_col), window).alias("w"), F.col("event_type")
        )
        .agg(
            F.count("*").alias("n_events"),
            F.sum("value").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def windowed_event_counts(
    stream: DataFrame,
    window: str = "1 hour",
    watermark: str = "10 minutes",
    ts_col: str = "ts",
) -> DataFrame:
    """Streaming tumbling-window agg with late-data watermark."""
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("w"), F.col("event_type"))
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("sum_value"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sliding_event_counts_batch(
    events: DataFrame,
    window: str = "1 hour",
    slide: str = "30 minutes",
    ts_col: str = "ts",
) -> DataFrame:
    """Sliding-window counts/sums per event type: each event lands in
    ``window / slide`` overlapping epoch-aligned windows (Spark
    ``F.window`` with a slide duration). Batch twin of
    :func:`sliding_event_counts`; the explode-free implementation keeps
    the fan-out inside the window expression, so physical cost is one
    groupBy shuffle on (window, type) with map-side partials."""
    return (
        events.groupBy(
            F.window(F.col(ts_col), window, slide).alias("w"),
            F.col("event_type"),
        )
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("sum_value"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sliding_event_counts(
    stream: DataFrame,
    window: str = "1 hour",
    slide: str = "30 minutes",
    watermark: str = "10 minutes",
    ts_col: str = "ts",
) -> DataFrame:
    """Streaming sliding-window agg with late-data watermark — state
    per open (window, type) pair is bounded by watermark horizon ×
    overlap factor."""
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(
            F.window(F.col(ts_col), window, slide).alias("w"),
            F.col("event_type"),
        )
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("sum_value"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sessionize_batch(
    events: DataFrame,
    gap_minutes: int = 30,
    ts_col: str = "ts",
    user_col: str = "user_id",
) -> DataFrame:
    """Batch sessionization: session = maximal run of a user's events
    with inter-event gap <= gap. Window lag + running sum of
    gap-breaks — one shuffle on user, no UDF. (Streaming twin:
    ``session_window(ts, gap)``.)

    NULL-ts events are DROPPED (un-sessionizable) — the pinned
    cross-engine contract: without the filter, each engine's NULL sort
    placement (Spark NULLS FIRST vs DuckDB NULLS LAST) silently merges
    the timeless event into a DIFFERENT session (caught by the
    NULL-events fixture). NULL users stay: both engines group them
    into one anonymous-user partition identically."""
    from pyspark.sql import Window

    w = Window.partitionBy(user_col).orderBy(ts_col)
    gap_s = gap_minutes * 60
    with_break = (
        events.filter(F.col(ts_col).isNotNull())
        .withColumn("_prev", F.lag(ts_col).over(w))
        .withColumn(
            "_new_session",
            F.when(
                F.col("_prev").isNull()
                | (
                    F.unix_timestamp(F.col(ts_col)) - F.unix_timestamp("_prev")
                    > gap_s
                ),
                1,
            ).otherwise(0),
        )
        .withColumn("session_seq", F.sum("_new_session").over(w))
    )
    return (
        with_break.groupBy(user_col, "session_seq")
        .agg(
            F.min(ts_col).alias("session_start"),
            F.max(ts_col).alias("session_end"),
            F.count("*").alias("n_events"),
            F.sum("value").alias("sum_value"),
        )
    )


def funnel_steps(
    events: DataFrame,
    steps: tuple[str, ...] = ("view", "click", "purchase"),
    ts_col: str = "ts",
    user_col: str = "user_id",
    type_col: str = "event_type",
) -> DataFrame:
    """Ordered-funnel completion times: for each user, the earliest
    timestamp at which each funnel step completes GIVEN the previous
    step completed strictly earlier (the standard product-analytics
    conversion funnel — a user who purchases before ever viewing does
    not count as a view→purchase conversion).

    One user-keyed shuffle; each step is a conditional MIN window over
    the same partitioning (chained WindowExec passes, no re-exchange),
    where the equivalent join formulation re-shuffles the fact once
    per step. NULL users are dropped (not a funnel subject). Returns
    one row per user with ``t_<step>`` completion times (NULL = step
    never completed in order).
    """
    from pyspark.sql import Window

    if len(steps) < 2:
        raise ValueError("a funnel needs >= 2 steps")
    w = Window.partitionBy(user_col)
    cur = events.filter(F.col(user_col).isNotNull())
    prev = None
    outs = []
    for i, s in enumerate(steps):
        cond = F.col(type_col) == s
        if prev is not None:
            cond = cond & (F.col(ts_col) > F.col(prev))
        name = f"t_{s}"
        cur = cur.withColumn(name, F.min(F.when(cond, F.col(ts_col))).over(w))
        prev = name
        outs.append(name)
    return cur.groupBy(user_col).agg(
        *[F.first(n).alias(n) for n in outs]
    )


def cohort_retention(
    events: DataFrame,
    ts_col: str = "ts",
    user_col: str = "user_id",
) -> DataFrame:
    """Weekly cohort retention: users are cohorted by the epoch-week of
    their FIRST event; each (cohort_week, week_offset) cell counts the
    distinct cohort users active that many weeks later — the retention
    triangle behind every product-analytics dashboard.

    All time arithmetic is integer (epoch seconds // 604800), so the
    cell keys are bit-identical in any engine. One user-keyed window
    (first-event time, no join back) + one distinct-count aggregate;
    NULL users/timestamps are dropped (uncohortable).
    """
    from pyspark.sql import Window

    w = Window.partitionBy(user_col)
    wk = F.floor(F.unix_timestamp(F.col(ts_col)) / 604800).cast("long")
    base = (
        events.filter(F.col(user_col).isNotNull() & F.col(ts_col).isNotNull())
        .withColumn("_wk", wk)
        .withColumn("_cohort", F.min("_wk").over(w))
    )
    return (
        base.groupBy(
            F.col("_cohort").alias("cohort_week"),
            (F.col("_wk") - F.col("_cohort")).alias("week_offset"),
        )
        .agg(F.countDistinct(user_col).alias("n_users"))
    )


def stream_events_from_parquet(
    spark: SparkSession, path: str, schema=None
) -> DataFrame:
    """File-source stream over a parquet directory (smoke/testing; a
    production deployment points readStream at Kafka instead)."""
    if schema is None:
        schema = spark.read.parquet(path).schema
    import os

    src = path if os.path.isdir(path) else os.path.dirname(path)
    glob = None if os.path.isdir(path) else os.path.basename(path)
    reader = spark.readStream.schema(schema).format("parquet")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    return reader.load(src)


def stream_dedup(
    stream: DataFrame,
    key_cols: list[str] | None = None,
    ts_col: str = "ts",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming exact dedup with bounded state:
    ``dropDuplicatesWithinWatermark`` keyed on ``key_cols``, state
    expired as the event-time watermark advances — a duplicate arriving
    later than the watermark lag is not caught, which is the standard
    state/recall trade (without the watermark the key-set state grows
    without bound at 100-TB stream volumes).

    ``dropDuplicatesWithinWatermark``, not plain ``dropDuplicates``:
    with the event-time column absent from the dedup subset, plain
    dropDuplicates never evicts its state even under a watermark — the
    within-watermark variant is the form whose state the watermark
    actually bounds.

    The batch twin is ``ext.dedup.dedup_exact``; this is the
    Structured Streaming path for continuous ingest.
    """
    if key_cols is None:
        key_cols = ["event_id"]
    return stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        key_cols
    )


def stream_quality_gate(
    stream: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    **thresholds,
) -> DataFrame:
    """Streaming document-quality gate: the full C4/Gopher verdict of
    ``ext.text.quality_filter`` applied to an unbounded text stream.

    Legal on a stream because every signal — including the repetition
    stats — is computed per-row by ``ext.text.quality_filter_scan``
    (longest-run-in-sorted-array trick): no aggregation, no state, no
    watermark. Each micro-batch is a pure projection, so the gate adds
    zero latency beyond the scan itself.
    """
    from methyl_data_pipeline_spark.ext.text import quality_filter_scan

    return quality_filter_scan(stream, text_col=text_col, id_col=id_col, **thresholds)


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    on: str = "user_id",
    ts_col: str = "ts",
    lookback: str = "1 hour",
    watermark: str = "10 minutes",
    how: str = "inner",
) -> DataFrame:
    """Watermarked stream-stream interval join: each left event pairs
    with the right-stream events for the same key whose timestamp falls
    in ``[left.ts - lookback, left.ts]`` (e.g. purchases joined to the
    clicks that preceded them).

    Both sides carry an event-time watermark and the join condition
    time-bounds the match window, so Structured Streaming can expire
    buffered state: right-side rows older than
    ``watermark + lookback`` relative to the stream's max event time
    are dropped from the state store — state size tracks the join
    window, not stream history. Without BOTH the watermarks and the
    interval bound, Spark (correctly) rejects the join as
    unbounded-state.

    Outer variants (``how="leftOuter"`` etc.) emit the unmatched side
    only once the watermark closes its window.

    Batch twin for the oracle: the identical join condition on static
    frames (see the ``stream_interval_join`` contract query).
    """
    lw = left.alias("l").withWatermark(ts_col, watermark)
    rw = right.alias("r").withWatermark(ts_col, watermark)
    cond = F.expr(
        f"l.{on} = r.{on} AND r.{ts_col} >= l.{ts_col} - INTERVAL {lookback}"
        f" AND r.{ts_col} <= l.{ts_col}"
    )
    return lw.join(rw, cond, how)


def stream_enrich(
    stream: DataFrame,
    dimension: DataFrame,
    on: str = "user_id",
    how: str = "left",
) -> DataFrame:
    """Stream-static join: enrich a stream with a (small) dimension
    table. The static side broadcasts — each micro-batch is a map-side
    hash join, no stateful shuffle, no watermark needed (static side is
    re-read per batch, so slowly-changing dimensions pick up updates).
    The batch twin is ``operators.joins.enrich_with_samples``.
    """
    from pyspark.sql import functions as F

    return stream.join(F.broadcast(dimension), on, how)


def stream_curate(
    stream: DataFrame,
    bloom_words: list[int] | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    ts_col: str = "ts",
    watermark: str = "10 minutes",
    ngram_n: int = 5,
    m_bits: int = 1 << 18,
    k: int = 5,
) -> DataFrame:
    """Streaming twin of ``plans.curation.curate`` — continuous corpus
    ingest with every stage streaming-legal:

    1. quality gate + PII redaction: stateless per-row expressions
       (``quality_filter_scan`` / the ``regexp_replace`` chain).
    2. decontamination: the BLOOM path — ``ext.dedup.bloom_test``
       inside an ``exists`` over the shingle array. A static benchmark
       would otherwise need an exploded stream-static join plus a
       re-aggregation (illegal/stateful in append mode); the filter
       literal makes it a pure projection. Build ``bloom_words`` once
       from the (static) benchmark with ``ext.dedup.bloom_build``.
    3. exact dedup: ``dropDuplicatesWithinWatermark`` on the
       normalized-body fingerprint — the variant whose state the
       watermark actually evicts (plain ``dropDuplicates`` without the
       event-time column in its subset keeps every key forever). The
       stream keeps the FIRST arrival; the batch twin's min-id winner
       coincides when ingest is id-ordered.

    Emits the per-doc curation verdict columns (``n_tokens``,
    fingerprint) for surviving docs; window PACKING stays batch-side —
    it needs a per-shard total order, which an unbounded stream cannot
    provide (the standard bucket-then-pack layout step runs on the
    accumulated shard files instead).

    Reference semantics: the same gate chain as ``plans.curation``
    (dataset.py:41 / bmiq/DoBMIQ.R:57-63 isin membership gating,
    lifted to streams).
    """
    red = _curate_projection(
        stream, bloom_words, text_col, id_col, [ts_col], ngram_n, m_bits, k
    )
    deduped = red.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        ["fingerprint"]
    )
    return deduped.select(
        id_col,
        ts_col,
        "fingerprint",
        F.size(F.col("_ws")).cast("long").alias("n_tokens"),
    )


def _curate_projection(
    df: DataFrame,
    bloom_words: list[int] | None,
    text_col: str,
    id_col: str,
    keep_cols: list[str],
    ngram_n: int,
    m_bits: int,
    k: int,
    gate_guard: Column | None = None,
) -> DataFrame:
    """The STATELESS prefix shared by :func:`stream_curate` and
    :func:`curate_batch_twin`: quality gate → PII redaction +
    normalization → Bloom decontamination → body fingerprint. Pure
    per-row expressions (streaming-legal in append mode); only the
    dedup stage differs between the two callers.

    ``gate_guard``: an ALWAYS-TRUE conjunct referencing a
    nondeterministic column the caller added below (see
    :func:`curate_batch_twin`); it pins the gate filter above the
    caller's repartition exchange without materializing anything.
    Output rows are identical with or without it."""
    from methyl_data_pipeline_spark.ext.dedup import bloom_test, shingles_from_norm
    from methyl_data_pipeline_spark.ext.text import md5_long, quality_reject_reasons
    from methyl_data_pipeline_spark.functions.scalar import normalize_label
    from methyl_data_pipeline_spark.plans.curation import redact_pii_text

    gate = quality_reject_reasons(text_col=text_col) == F.lit("")
    if gate_guard is not None:
        gate = gate & gate_guard
    kept = df.filter(gate)
    norm = normalize_label(redact_pii_text(F.col(text_col)))
    red = kept.select(
        F.col(id_col),
        *[F.col(c) for c in keep_cols],
        norm.alias("_norm"),
    ).withColumn("_ws", F.split(F.col("_norm"), " "))
    if bloom_words is not None:
        contaminated = F.exists(
            F.array_distinct(shingles_from_norm(F.col("_norm"), ngram_n)),
            lambda s: bloom_test(md5_long(s), bloom_words, m_bits, k),
        )
        red = red.filter(~contaminated)
    return red.withColumn("fingerprint", md5_long(F.col("_norm")))


def curate_batch_twin(
    docs: DataFrame,
    bloom_words: list[int] | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram_n: int = 5,
    m_bits: int = 1 << 18,
    k: int = 5,
) -> DataFrame:
    """Batch twin of :func:`stream_curate`: the IDENTICAL stateless
    stage chain (shared via :func:`_curate_projection`), with the
    stream's first-arrival dedup winner replaced by the deterministic
    min-id winner — the two coincide when ingest is id-ordered, which
    the stream/batch parity test certifies. This is the frame the
    driver's DuckDB oracle replays, binding the streaming chain's
    semantics to an exact reference.

    Emits one row per surviving doc: ``(id_col, fingerprint,
    n_tokens)``. ONE shuffle on the 60-bit fingerprint, and — unlike
    the min-agg + semi-join formulation — ONE evaluation of the
    upstream projection: the quality/redaction/Bloom chain is the
    dominant cost here, and a self-join would recompute it for both
    sides (measured 4.7 s -> 3.0 s at sf0.1 switching to the window
    winner; the per-fingerprint sort is over duplicate-family-sized
    groups, never corpus-sized).
    """
    from pyspark.sql import Window

    from methyl_data_pipeline_spark.ext.dedup import _spread

    # spread the input first (batch path only — the stream twin's
    # micro-batches arrive pre-partitioned by the source): the
    # quality/redaction/Bloom chain is the dominant per-row cost here,
    # and a single-file local scan runs it on ONE core (guide §2.5
    # input skew — repartition right after the read; the test parquet
    # is a single row group, so split-size configs cannot help). A
    # bare repartition is NOT enough, because Catalyst pushes the
    # deterministic gate predicate back through the exchange onto the
    # 1-partition scan (r14 stage read: 4.3 s in one task below the
    # Exchange). r14 answered that with a full-width persist of the
    # corpus as a pushdown barrier — VERDICT r14 #1 measured it
    # bimodally unstable at 32 cores (driver spread [1.7, 36.3] s) and
    # wrong at 100 TB (it materializes the whole corpus to dodge a
    # pushdown that is DESIRABLE on a naturally-split scan). The
    # barrier is now non-materializing: a nondeterministic column
    # (spark_partition_id) referenced by an always-true conjunct —
    # PushPredicateThroughNonJoin requires every project field to be
    # deterministic, so the gate legally cannot sink below the
    # exchange (guide §4.4's asNondeterministic principle), and
    # nothing is persisted. Plan-verified: Filter sits above the
    # Exchange with zero InMemoryRelation (plans/r15/stream_curate_*).
    spread = _spread(docs, id_col).withColumn("_bar", F.spark_partition_id())
    red = _curate_projection(
        spread, bloom_words, text_col, id_col, [], ngram_n, m_bits, k,
        gate_guard=F.col("_bar") >= 0,
    )
    w = Window.partitionBy("fingerprint").orderBy(id_col)
    return (
        red.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            id_col,
            "fingerprint",
            F.size(F.col("_ws")).cast("long").alias("n_tokens"),
        )
    )


def start_curated_ingest(
    spark: SparkSession,
    source_dir: str,
    sink_dir: str,
    checkpoint_dir: str,
    bloom_words: list[int] | None = None,
    schema=None,
    available_now: bool = True,
    **curate_kwargs,
):
    """Operational entry point for rolling corpus ingest: file-source
    stream → :func:`stream_curate` → parquet sink, with EXACTLY-ONCE
    semantics from the checkpoint. The checkpoint carries both the
    source offsets (which files have been ingested) and the dedup
    operator state, so a crash or planned restart resumes where it
    left off — already-ingested files are never re-emitted, and a
    duplicate arriving after a restart is still dropped because the
    fingerprint state is restored, not rebuilt.

    ``available_now=True`` (default) makes the same job the
    INCREMENTAL BATCH formulation: each invocation drains files that
    arrived since the last run, then terminates — the
    checkpoint-driven twin of ``ext.dedup.incremental_dedup``'s
    ledger, with the ledger managed by the engine. Pass ``False`` for
    a long-running continuous query (production points the source at
    Kafka instead of a directory).

    Returns the started ``StreamingQuery``; callers own
    ``awaitTermination``/``stop``.
    """
    stream = stream_events_from_parquet(spark, source_dir, schema=schema)
    out = stream_curate(stream, bloom_words=bloom_words, **curate_kwargs)
    writer = (
        out.writeStream.format("parquet")
        .option("path", sink_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
