"""Structured Streaming variants of the engine's operators.

The reference is batch-only (SURVEY §2.11) — its "streaming" is a daily cron
re-reading a fact table (main.py:207-215). These wrap the same operator
logic for continuous ingest:

- ``streaming_billing_ingest``: files land in a fact directory; each
  micro-batch recomputes every (invoice_month, usage_day) its files touch
  from the WHOLE fact directory with the SAME ``billing_pipeline`` via
  foreachBatch, and partition-overwrites those days. A day whose usage
  spans micro-batches is priced over all of its rows, a retried batch
  rewrites the same partitions, and no business logic is duplicated
  between batch and streaming.
- ``streaming_window_counts``: event-time tumbling windows with a watermark
  for late data — the streaming twin of operators.events.tumbling_window_agg.
- ``streaming_sessionize``: custom stateful operator via
  ``applyInPandasWithState`` — per-user session state with an event-time
  timeout, the streaming twin of operators.events.sessionize.

Tested with Trigger.AvailableNow against the parquet fixtures
(tests/test_streaming.py).
"""

from __future__ import annotations

from typing import Any, Iterable, Iterator

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from billing_etl_v1_spark.plans.pipeline import billing_pipeline
from billing_etl_v1_spark.sources.writers import PARTITION_COLUMNS, write_calculated


def _is_missing_path(exc: AnalysisException) -> bool:
    """True iff the AnalysisException is the path-not-found condition.

    Matched by error CLASS where the runtime exposes it (Spark 4:
    ``getCondition``; 3.4/3.5: ``getErrorClass``) — message-substring
    matching is Spark-version-specific (older releases said "Path does
    not exist"), so it stays only as the last-resort fallback for
    runtimes that predate error classes (review finding, ADVICE r6)."""
    for probe in ("getCondition", "getErrorClass"):
        fn = getattr(exc, probe, None)
        if fn is not None:
            try:
                cls = fn()
            except Exception:
                continue
            if cls is not None:
                return cls == "PATH_NOT_FOUND"
    msg = str(exc)
    return "PATH_NOT_FOUND" in msg or "Path does not exist" in msg


def _sanitize_value(df: DataFrame) -> DataFrame:
    """Same corrupt-float posture as the batch twins: a NaN in one
    micro-batch must not poison a whole window's running total (NaN is
    absorbing under sum, and window state carries it forever)."""
    from billing_etl_v1_spark.functions import finite_or_null

    return df.withColumn("value", finite_or_null("value"))


def _event_time(df: DataFrame, col: str = "ts") -> DataFrame:
    """Normalize the event-time column to TIMESTAMP (LTZ).

    Parquet fixtures read back as TIMESTAMP_NTZ, which ``withWatermark``
    rejects. The NTZ -> LTZ cast is value-preserving ONLY when the session
    timezone is UTC (session.get_spark pins it); on any other timezone the
    cast silently shifts event times — watermarks, windows, and session
    epochs would all move. Assert the invariant instead of relying on it.
    """
    if dict(df.dtypes).get(col) == "timestamp_ntz":
        tz = df.sparkSession.conf.get("spark.sql.session.timeZone")
        if tz not in ("UTC", "Etc/UTC", "GMT", "+00:00", "Z"):
            raise ValueError(
                f"streaming event-time normalization requires a UTC session "
                f"(spark.sql.session.timeZone={tz!r}): the NTZ->timestamp "
                f"cast would shift event times by the zone offset. Build the "
                f"session via billing_etl_v1_spark.session.get_spark or set "
                f"the conf to 'UTC'."
            )
        df = df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def streaming_billing_ingest(
    spark: SparkSession,
    fact_dir: str,
    fact_schema,
    dim: DataFrame,
    target_path: str,
    checkpoint_dir: str,
    extra_discounts: dict[str, float] | None = None,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Continuous fact ingest -> calculated invoice partitions.

    ``write_calculated`` replaces whole day partitions, so a batch cannot
    be priced alone: it would erase the rows an earlier batch wrote for
    the same day. Each batch instead re-reads ``fact_dir`` restricted
    (null-safe left semi join) to the day pairs the batch touches."""
    reader = spark.readStream.schema(fact_schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(fact_dir)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        days = batch_df.select(*PARTITION_COLUMNS).distinct()
        fact = batch_df.sparkSession.read.schema(fact_schema).parquet(fact_dir)
        touched = fact.join(
            F.broadcast(days),
            [fact[c].eqNullSafe(days[c]) for c in PARTITION_COLUMNS],
            "left_semi",
        )
        out = billing_pipeline(touched, dim, extra_discounts=extra_discounts)
        write_calculated(out, target_path)

    return (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


SESSION_OUT_SCHEMA = (
    "user_id bigint, session_start_s bigint, session_end_s bigint, "
    "n_events bigint, total_value double"
)
# open-session accumulator: (start_s, last_s, n_events, total_value)
SESSION_STATE_SCHEMA = "start_s bigint, last_s bigint, n_events bigint, total_value double"


def streaming_sessionize(
    events_stream: DataFrame,
    gap_s: int = 1800,
    watermark: str = "30 minutes",
) -> DataFrame:
    """Stateful streaming sessionization (gap-based), one state row per user.

    Arbitrary-state operator via ``applyInPandasWithState``: each user's open
    session lives in the state store across micro-batches; a session is
    emitted when a later event arrives more than ``gap_s`` after it ends, or
    when the event-time timeout fires (watermark passed end + gap — no more
    on-time events can extend it). Timestamps are whole epoch seconds,
    matching the batch twin (operators.events.sessionize).

    Scale posture: state is partitioned by user_id across executors, sized
    O(active users), and expired by the timeout — the pattern survives an
    unbounded stream.
    """
    import pandas as pd

    def fn(
        key: tuple, pdfs: Iterable["pd.DataFrame"], state: GroupState
    ) -> Iterator["pd.DataFrame"]:
        (user_id,) = key
        cols = ["user_id", "session_start_s", "session_end_s", "n_events", "total_value"]

        if state.hasTimedOut:
            start_s, last_s, n, tot = state.get
            state.remove()
            yield pd.DataFrame([[user_id, start_s, last_s, n, tot]], columns=cols)
            return

        rows: list[tuple[int, float]] = []
        for pdf in pdfs:
            ep = (pdf["ts"].astype("int64") // 1_000_000_000).tolist()
            rows.extend(zip(ep, pdf["value"].tolist()))
        rows.sort()

        cur: list[Any] | None = list(state.get) if state.exists else None
        out: list[list[Any]] = []
        for ep, val in rows:
            if cur is None:
                cur = [ep, ep, 0, 0.0]
            elif ep - cur[1] > gap_s:
                out.append([user_id, cur[0], cur[1], cur[2], cur[3]])
                cur = [ep, ep, 0, 0.0]
            cur[1] = max(cur[1], ep)
            cur[2] += 1
            cur[3] += val
        if cur is not None:
            state.update(tuple(cur))
            # flush once the watermark proves no on-time event can extend it
            state.setTimeoutTimestamp((cur[1] + gap_s) * 1000)
        if out:
            yield pd.DataFrame(out, columns=cols)

    return (
        _event_time(events_stream).withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            fn,
            SESSION_OUT_SCHEMA,
            SESSION_STATE_SCHEMA,
            "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )


def streaming_window_counts(
    events_stream: DataFrame,
    width: str = "5 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Event-time tumbling window aggregation with late-data watermark."""
    return (
        _sanitize_value(_event_time(events_stream)).withWatermark("ts", watermark)
        .groupBy(F.window("ts", width).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("total_value"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def streaming_dedup(
    events_stream: DataFrame,
    keys: list[str] | None = None,
    watermark: str = "30 minutes",
) -> DataFrame:
    """Streaming exact dedup: drop redelivered events within the watermark.

    ``dropDuplicatesWithinWatermark`` keeps one state row per key and —
    unlike plain ``dropDuplicates`` on a stream — EXPIRES state once the
    watermark passes the first sighting, so the state store is bounded by
    the duplicate-arrival horizon instead of growing with the full history.
    This is the at-least-once -> exactly-once repair stage of an ingest
    pipeline (the batch twin is a plain dropDuplicates on the same keys).
    """
    return _event_time(events_stream).withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        keys or ["event_id"]
    )


def streaming_enrich_user_profile(
    events_stream: DataFrame,
    user_profile: DataFrame,
    watermark: str = "30 minutes",
    width: str = "10 minutes",
) -> DataFrame:
    """Stream-static enrichment join + windowed rollup: each micro-batch of
    events joins the (slowly-changing, periodically reloaded) user profile
    dimension, then aggregates revenue per (window, segment).

    Stream-static joins are stateless on the stream side — Spark re-plans
    the static side per micro-batch, so a broadcast hash join is re-used
    with NO streaming state beyond the window aggregation's. This is the
    idiomatic shape for dimension enrichment in ingest pipelines; the
    alternative (stream-stream join) would hold state for both sides and
    is only needed when the dimension itself is a stream of updates.
    """
    enriched = _sanitize_value(_event_time(events_stream)).withWatermark(
        "ts", watermark
    ).join(F.broadcast(user_profile), "user_id")
    return (
        enriched.groupBy(F.window("ts", width).alias("w"), "segment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "segment",
            "n_events",
            "total_value",
        )
    )


def streaming_click_attribution(
    events_stream: DataFrame,
    attribution_window: str = "30 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Stream-stream interval join: attribute each purchase to the clicks
    the same user made within ``attribution_window`` BEFORE it.

    Both sides carry watermarks and the join condition bounds the event-time
    distance, so Spark derives state-cleanup thresholds for BOTH state
    stores — click state older than (watermark + window) is evicted instead
    of growing forever, which is what separates a production stream-stream
    join from an unbounded one. Inner join: late/unmatched rows drop once
    the watermark passes (the batch twin reproduces this on complete data).
    """
    events_stream = _sanitize_value(_event_time(events_stream))
    clicks = (
        events_stream.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", watermark)
    )
    purchases = (
        events_stream.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("purchase_ts", watermark)
    )
    return clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("click_ts") < F.col("purchase_ts"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr(f"INTERVAL {attribution_window}")),
    ).select(
        F.col("p_user").alias("user_id"),
        "purchase_id",
        "purchase_ts",
        "purchase_value",
        "click_id",
        "click_ts",
    )


def streaming_quality_gate(
    spark: SparkSession,
    docs_dir: str,
    docs_schema,
    target_path: str,
    checkpoint_dir: str,
    min_tokens: int = 30,
    min_quality: float = 0.5,
    langs: tuple[str, ...] = ("en", "de", "fr", "es"),
) -> StreamingQuery:
    """Continuous corpus-quality gating: document files land in a
    directory; each micro-batch is scored (text stats + language ID) and
    gated entirely map-side, then appended to the kept-corpus table.

    The text operators are stateless expressions, so they run under
    Structured Streaming unchanged — no state store, no watermark, and the
    streamed output is row-identical to the batch gate (tested). Cross-
    batch near-dup removal is deliberately NOT done here: streaming state
    for corpus-scale dedup would be unbounded; the scalable pattern is the
    batch incremental path (operators.dedup.minhash_incremental_pairs
    against the persisted signature table) run on each landed increment.
    """
    from billing_etl_v1_spark.operators.text import lang_id, text_stats

    stream = spark.readStream.schema(docs_schema).parquet(docs_dir)
    scored = lang_id(text_stats(stream))
    kept = scored.filter(
        (F.col("token_count") >= min_tokens)
        & (F.col("quality_score") >= min_quality)
        & F.col("lang_pred").isin(*langs)
    )
    return (
        kept.writeStream.format("parquet")
        .option("path", target_path)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def streaming_incremental_dedup(
    spark: SparkSession,
    docs_dir: str,
    docs_schema,
    signature_store: str,
    pairs_out: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.0,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Continuous corpus ingest → near-dup pairs + a growing signature store:
    the streaming face of the scalable cross-batch dedup pattern
    (operators.dedup.minhash_incremental_pairs).

    Per micro-batch: (1) probe the PERSISTED signature store with the new
    documents — historical text is never re-read, cost scales with the
    batch; (2) write the batch's near-dup pairs (vs corpus + within batch);
    (3) append the batch's own signatures to the store; (4) release the
    memoized batch signature cache (dedup.release_signature_cache — the
    superseded batch cache would otherwise accumulate per trigger).

    Exactly-once: pairs and signatures write to a ``batch_id=N``
    subdirectory with overwrite, so a retried micro-batch (foreachBatch is
    at-least-once) lands idempotently; readers discover ``batch_id`` as a
    partition column. Streaming state stores are deliberately NOT used —
    corpus-scale dedup state is unbounded; the signature parquet IS the
    state, ~k×8 bytes/doc, shared with any batch consumer.

    Union of emitted pairs over all batches equals the full-batch
    ``minhash_lsh_pairs`` of everything ingested (tested, orientation
    normalized), because batch-internal pairs surface as new-vs-new and
    cross-batch pairs as new-vs-old at the batch where the newer side lands.
    """
    from billing_etl_v1_spark.operators import dedup as dedup_ops

    reader = spark.readStream.schema(docs_schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(docs_dir)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        s = batch_df.sparkSession
        new_sig = dedup_ops.minhash_signatures(batch_df, id_col, text_col)
        try:
            old_sig = s.read.parquet(signature_store).select(*new_sig.columns)
        except Exception:  # first batch: no store yet
            old_sig = new_sig.limit(0)
        pairs = dedup_ops.minhash_incremental_pairs(
            batch_df, old_sig, id_col=id_col, text_col=text_col
        ).filter(F.col("est_jaccard") >= threshold)
        pairs.write.mode("overwrite").parquet(f"{pairs_out}/batch_id={batch_id}")
        new_sig.write.mode("overwrite").parquet(
            f"{signature_store}/batch_id={batch_id}"
        )
        dedup_ops.release_signature_cache(s)

    return (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


SCD2_KEY = "billing_account_id"


def streaming_scd2_maintenance(
    spark: SparkSession,
    dim_dir: str,
    dim_schema,
    snapshot_store: str,
    history_store: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Continuous dim-snapshot ingest → maintained SCD Type-2 history: the
    streaming face of operators.rules.scd2_history (CDC-style dimension
    maintenance).

    Per micro-batch: (1) land the raw snapshots idempotently
    (``batch_id=N`` overwrite — foreachBatch is at-least-once); (2)
    re-derive the effective-dated history ONLY for the accounts present in
    the batch — the snapshot store is scanned (column-pruned, dim-sized,
    never corpus-sized) but all window/aggregate work is confined to the
    touched keys by the semi-join; (3) dynamic-partition-overwrite those
    accounts' partitions in the history store.

    The store persists the version FACTS only (``include_current=False``):
    an is_current flag baked at write time goes stale the moment a later
    month arrives for any OTHER key. Readers derive it against the
    store-wide max month (:func:`read_scd2_history`) — after any batch,
    the store equals a full batch ``scd2_history`` recompute (tested).
    """
    from billing_etl_v1_spark.operators.rules import scd2_history

    reader = spark.readStream.schema(dim_schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(dim_dir)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        s = batch_df.sparkSession
        batch_df.write.mode("overwrite").parquet(
            f"{snapshot_store}/batch_id={batch_id}"
        )
        snapshots = s.read.parquet(snapshot_store).drop("batch_id")
        touched = batch_df.select(SCD2_KEY).distinct()
        affected = snapshots.join(F.broadcast(touched), SCD2_KEY, "left_semi")
        hist = scd2_history(affected, include_current=False)
        (
            hist.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(SCD2_KEY)
            .parquet(history_store)
        )

    return (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def streaming_token_meter(
    spark: SparkSession,
    docs_dir: str,
    docs_schema,
    tokenizer_dir: str,
    counts_out: str,
    checkpoint_dir: str,
    word_store: str | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_word_len: int | None = None,
    max_files_per_trigger: int | None = None,
    store_compact_every: int | None = None,
) -> StreamingQuery:
    """Continuous ingest → EXACT per-document BPE token counts under a
    persisted frozen tokenizer (operators.bpe.save_bpe) — the token-rate
    metering a training-data landing zone runs (sequence-packing budgets,
    price-per-token, corpus accounting all consume the tokenizer's
    number, per increment, as it lands).

    Per micro-batch: known words resolve via one equi-join against the
    stored vocabulary, and only words NOVEL to the vocabulary — and,
    with ``word_store`` set, to every prior batch — run the merge loop
    (``operators.bpe.encode_words``), so per-trigger cost scales with the
    batch's genuinely-new vocabulary (the incremental-dedup posture:
    historical text never re-read, no streaming state store — the
    tokenizer parquet is frozen state and the word store is append-only
    (word, n_tokens) rows, so counts are arrival-order independent and
    a recurring novel word is encoded once per stream, not once per
    batch; tested identical to the batch ``bpe_encode`` of everything
    ingested, with and without the store). ``max_word_len`` defaults
    to the cap stored in the artifact (pass a value only to override it
    deliberately).

    Exactly-once: counts and learned words land in ``batch_id=N``
    subdirectories with overwrite, so a retried micro-batch
    (foreachBatch is at-least-once) is idempotent; readers discover
    ``batch_id`` as a partition column.

    ``store_compact_every``: the append-only store grows one parquet
    partition per batch that learned novel words; after thousands of
    micro-batches the per-batch store READ (partition discovery + many
    tiny files) dominates the trigger. Every N batches the store is
    consolidated into the single ``batch_id=-1`` partition
    (:func:`compact_word_store`) so the file count stays bounded by the
    compaction interval instead of the stream's lifetime.
    """
    from billing_etl_v1_spark.operators import bpe as bpe_ops

    def make_batch_ctx(s: SparkSession):
        merges, vocab, stored_cap, level = bpe_ops.load_bpe(s, tokenizer_dir)
        cap = stored_cap if max_word_len is None else max_word_len
        known = vocab.select("word", F.size("tokens").alias("n_tokens"))

        def encode_unseen(unseen: DataFrame) -> DataFrame:
            return bpe_ops.encode_words(
                unseen, merges, max_word_len=cap, level=level
            ).select("word", F.size("tokens").alias("n_tokens"))

        return known, level, encode_unseen, "n_bpe_tokens"

    return _token_meter_stream(
        spark,
        docs_dir,
        docs_schema,
        counts_out,
        checkpoint_dir,
        make_batch_ctx,
        word_store=word_store,
        id_col=id_col,
        text_col=text_col,
        max_files_per_trigger=max_files_per_trigger,
        store_compact_every=store_compact_every,
    )


def streaming_unigram_meter(
    spark: SparkSession,
    docs_dir: str,
    docs_schema,
    tokenizer_dir: str,
    counts_out: str,
    checkpoint_dir: str,
    word_store: str | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_files_per_trigger: int | None = None,
    store_compact_every: int | None = None,
) -> StreamingQuery:
    """:func:`streaming_token_meter` for a persisted UNIGRAM-LM tokenizer
    (operators.unigram.save_unigram): identical store/compaction/
    exactly-once machinery (shared core), with the tokenizer-specific
    parts swapped — known words resolve against the stored segmentation
    table at their exact training cost, and novel words Viterbi-segment
    under the frozen final probabilities (codepoints outside the stored
    alphabet take the deterministic UNK single-char lane, so a stream
    can never crash-loop on unexpected script). Counts column:
    ``n_unigram_tokens``. Hyperparameters come from the artifact's meta
    — serving under different bounds than training is not expressible."""
    from billing_etl_v1_spark.operators import unigram as ug_ops

    def make_batch_ctx(s: SparkSession):
        pieces, segments, max_piece_len, max_word_len_ = ug_ops.load_unigram(
            s, tokenizer_dir
        )
        known = segments.select("word", "n_tokens")

        def encode_unseen(unseen: DataFrame) -> DataFrame:
            return ug_ops.encode_unigram_words(
                unseen,
                pieces,
                max_piece_len=max_piece_len,
                max_word_len=max_word_len_,
            ).select("word", F.size("pieces").cast("bigint").alias("n_tokens"))

        return known, "char", encode_unseen, "n_unigram_tokens"

    return _token_meter_stream(
        spark,
        docs_dir,
        docs_schema,
        counts_out,
        checkpoint_dir,
        make_batch_ctx,
        word_store=word_store,
        id_col=id_col,
        text_col=text_col,
        max_files_per_trigger=max_files_per_trigger,
        store_compact_every=store_compact_every,
    )


def streaming_wordpiece_meter(
    spark: SparkSession,
    docs_dir: str,
    docs_schema,
    tokenizer_dir: str,
    counts_out: str,
    checkpoint_dir: str,
    word_store: str | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_files_per_trigger: int | None = None,
    store_compact_every: int | None = None,
) -> StreamingQuery:
    """:func:`streaming_token_meter` for a persisted WORDPIECE tokenizer
    (operators.wordpiece.save_wordpiece): identical store/compaction/
    exactly-once machinery (shared core), with the tokenizer-specific
    parts swapped — known words resolve against the stored greedy
    segmentation table, and novel words run the greedy longest-match
    scan under the frozen piece set (over-cap or unmatched words take
    the deterministic single-[UNK] lane, so a stream can never
    crash-loop on unexpected script). Counts column:
    ``n_wordpiece_tokens``. The cap comes from the artifact's meta —
    serving under a different cap than training is not expressible."""
    from billing_etl_v1_spark.operators import wordpiece as wp_ops

    def make_batch_ctx(s: SparkSession):
        token_ids, segments, max_word_len_ = wp_ops.load_wordpiece(s, tokenizer_dir)
        known = segments.select("word", "n_tokens")

        def encode_unseen(unseen: DataFrame) -> DataFrame:
            return wp_ops.wordpiece_segments(
                unseen, token_ids, max_word_len=max_word_len_
            ).select("word", "n_tokens")

        return known, "char", encode_unseen, "n_wordpiece_tokens"

    return _token_meter_stream(
        spark,
        docs_dir,
        docs_schema,
        counts_out,
        checkpoint_dir,
        make_batch_ctx,
        word_store=word_store,
        id_col=id_col,
        text_col=text_col,
        max_files_per_trigger=max_files_per_trigger,
        store_compact_every=store_compact_every,
    )


def _token_meter_stream(
    spark: SparkSession,
    docs_dir: str,
    docs_schema,
    counts_out: str,
    checkpoint_dir: str,
    make_batch_ctx,
    *,
    word_store: str | None,
    id_col: str,
    text_col: str,
    max_files_per_trigger: int | None,
    store_compact_every: int | None,
) -> StreamingQuery:
    """Shared meter core for both tokenizer families — ONE copy of the
    store semantics (missing-path tolerance, duplicate-row dedupe, write
    ordering, compaction cadence), because that's exactly the logic that
    has accumulated review findings; the tokenizer-specific surface is
    ``make_batch_ctx(session) -> (known, level, encode_unseen,
    count_col)`` where ``known`` is the artifact's (word, n_tokens)
    table, ``level`` picks the pre-tokenizer, ``encode_unseen`` prices a
    novel-word frame, and ``count_col`` names the output token column."""
    from billing_etl_v1_spark.operators import bpe as bpe_ops

    reader = spark.readStream.schema(docs_schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(docs_dir)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        s = batch_df.sparkSession
        known, level, encode_unseen, count_col = make_batch_ctx(s)
        if word_store is not None:
            try:
                known = known.unionByName(
                    s.read.parquet(word_store).select("word", "n_tokens")
                )
            except AnalysisException as exc:
                # ONLY the first-batch case (store directory not created
                # yet) may be swallowed; a corrupt store or transient FS
                # error must fail the batch loudly — silently dropping the
                # store re-encodes recurring novel words into a SECOND
                # batch_id partition, and once the store reads again the
                # duplicate (word, n_tokens) rows would fan out the
                # doc_token_counts join and double-count every affected
                # doc for the rest of the stream (review finding)
                if not _is_missing_path(exc):
                    raise
        # defense in depth: duplicate store rows (e.g. a manually restored
        # store) must never fan out the counts join — one cost per word,
        # deterministically (min = the first/any encoding; encodings of the
        # same word under the same frozen tokenizer are identical anyway)
        known = known.groupBy("word").agg(F.min("n_tokens").alias("n_tokens"))
        unseen = (
            batch_df.select(
                F.explode(
                    bpe_ops._pretokens(F.col(text_col), level)
                ).alias("word")
            )
            .distinct()
            .join(known.select("word"), "word", "left_anti")
            .localCheckpoint()
        )
        new_costs = None
        if not unseen.isEmpty():
            new_costs = encode_unseen(unseen)
            known = known.unionByName(new_costs)
        counts = bpe_ops.doc_token_counts(batch_df, known, text_col, id_col, level)
        if count_col != "n_bpe_tokens":
            counts = counts.withColumnRenamed("n_bpe_tokens", count_col)
        counts.write.mode("overwrite").parquet(f"{counts_out}/batch_id={batch_id}")
        if word_store is not None and new_costs is not None:
            # store write LAST: `known` reads the store lazily, so
            # overwriting batch_id=N before the counts query runs could
            # drop a crashed retry's partially-written words from the
            # cost table mid-query. Losing a store write only ever costs
            # re-encoding those words in a later batch, never counts.
            new_costs.write.mode("overwrite").parquet(
                f"{word_store}/batch_id={batch_id}"
            )
        if (
            word_store is not None
            and store_compact_every
            and (batch_id + 1) % store_compact_every == 0
        ):
            compact_word_store(s, word_store)

    return (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def compact_word_store(spark: SparkSession, word_store: str) -> None:
    """Consolidate a streaming_token_meter word store (one ``batch_id=N``
    parquet partition per novel-word batch) into the single reserved
    ``batch_id=-1`` partition — partition discovery and file count stop
    growing with stream lifetime.

    Static whole-table overwrite (stated on its writer): the point
    is to DROP the per-batch partitions, not overwrite them in place. A
    crash mid-compaction can lose store rows, which is the store's
    documented failure budget — a lost word re-encodes in a later batch;
    counts are computed fresh per batch and never read the store's
    history. A retried batch that re-writes its ``batch_id=N`` partition
    after compaction leaves duplicate (word, n_tokens) rows across
    partitions; the meter dedupes by word before its counts join, so
    duplicates cost nothing.

    A NEVER-WRITTEN store is a no-op, not an error: the meter calls this
    on a fixed batch cadence regardless of whether any batch learned a
    novel word, so when the tokenizer vocabulary covers the whole stream
    the store directory legitimately doesn't exist yet — raising here
    would fail the batch and wedge the checkpoint replay in a crash loop
    (ADVICE r6 medium)."""
    try:
        store = spark.read.parquet(word_store)
    except AnalysisException as exc:
        if _is_missing_path(exc):
            return
        raise
    deduped = (
        store
        .groupBy("word")
        .agg(F.min("n_tokens").alias("n_tokens"))
        .withColumn("batch_id", F.lit(-1))
        # materialize + sever lineage: the write below replaces the very
        # files this plan scans (the compact_partitions posture)
        .localCheckpoint()
    )
    # size the output explicitly — the groupBy leaves rows scattered over
    # shuffle partitions, which would write one tiny file each and undo
    # the compaction. ~5M (word, n_tokens) rows ≈ a 100–150 MB file.
    n_files = max(1, -(-deduped.count() // 5_000_000))
    rows = deduped.repartition(n_files)
    (
        rows.write.mode("overwrite")
        .option("partitionOverwriteMode", "static")
        .partitionBy("batch_id")
        .parquet(word_store)
    )


def read_scd2_history(spark: SparkSession, history_store: str) -> DataFrame:
    """Read the maintained history with ``is_current`` derived against the
    store-wide max month — the read-time view that stays correct under
    late-arriving snapshots."""
    hist = spark.read.parquet(history_store)
    latest = hist.agg(F.max("valid_to").alias("__maxm"))
    return hist.crossJoin(F.broadcast(latest)).withColumn(
        "is_current", F.col("valid_to") == F.col("__maxm")
    ).drop("__maxm")


def streaming_quarantine_ingest(
    spark: SparkSession,
    src_dir: str,
    schema,
    good_path: str,
    bad_path: str,
    checkpoint_dir: str,
    fmt: str = "json",
    header: bool = True,
) -> StreamingQuery:
    """Continuous JSON-lines/CSV ingest with corrupt-row QUARANTINE — the
    streaming twin of :func:`sources.readers.read_json_quarantine`: rows
    that fail to parse land in ``bad_path`` as raw text instead of killing
    the stream, fully-parsed rows append to ``good_path`` with exactly the
    declared schema. ``header`` applies to CSV only and defaults True
    like the batch twin's — without it every headered file's first line
    would fail the typed parse and pollute the quarantine each trigger;
    pass header=False for headerless feeds (with True, Spark discards
    each file's first line as the header).

    Per micro-batch the parsed frame is persisted once and split two ways
    (the batch readers' SPARK-21610 pattern, applied inside foreachBatch
    where the corrupt column CAN be filtered), so each file is read once
    per trigger regardless of how many rows it quarantines. foreachBatch
    is at-least-once; both sinks are plain appends of the same split, so
    a retried batch re-appends both halves consistently — dedup of
    redelivery composes downstream exactly as for the other ingests.
    """
    from pyspark.sql.types import StringType, StructType

    corrupt = "_corrupt_record"
    aug = StructType(list(schema.fields)).add(corrupt, StringType())
    reader = (
        spark.readStream.schema(aug)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", corrupt)
    )
    if fmt == "json":
        stream = reader.json(src_dir)
    else:
        stream = reader.option("header", str(header).lower()).csv(src_dir)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark import StorageLevel

        from billing_etl_v1_spark.sources.readers import split_corrupt

        batch_df.persist(StorageLevel.MEMORY_AND_DISK)
        try:
            good, bad = split_corrupt(batch_df, corrupt)
            good.write.mode("append").parquet(good_path)
            if not bad.isEmpty():
                bad.write.mode("append").parquet(bad_path)
        finally:
            batch_df.unpersist()

    return (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
