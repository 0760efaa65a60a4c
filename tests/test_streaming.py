"""Structured Streaming variants driven with Trigger.AvailableNow over the
parquet fixtures."""

from __future__ import annotations

import os
import shutil

import pytest

from pyspark.sql import functions as F

from billing_etl_v1_spark.sources import synthetic
from billing_etl_v1_spark.sources.readers import load_table, register_views
from billing_etl_v1_spark.sources.writers import read_calculated
from billing_etl_v1_spark.streaming.pipeline import (
    streaming_billing_ingest,
    streaming_sessionize,
    streaming_window_counts,
)
from tests.conftest import SF_SMALL


def test_streaming_billing_ingest_matches_batch(spark, tmp_path):
    register_views(spark, SF_SMALL, ["lineitem"])
    fact = synthetic.fact_df(spark).filter("invoice_month = '199506'")
    dim = synthetic.dim_df(spark)

    fact_dir = str(tmp_path / "fact_in")
    fact.write.parquet(fact_dir)
    schema = spark.read.parquet(fact_dir).schema

    target = str(tmp_path / "calc_out")
    q = streaming_billing_ingest(
        spark,
        fact_dir,
        schema,
        dim,
        target,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)

    from billing_etl_v1_spark.plans.pipeline import billing_pipeline

    batch_rows = billing_pipeline(fact, dim).count()
    stream_rows = read_calculated(spark, target).count()
    assert stream_rows == batch_rows > 0


def test_streaming_billing_ingest_day_split_across_batches(spark, tmp_path):
    """A day whose usage arrives in two micro-batches must be priced over
    all of its rows. Each batch overwrites whole day partitions, so a batch
    priced alone would erase what an earlier batch wrote for the same day."""
    from billing_etl_v1_spark.operators.aggregate import DETAIL_KEYS
    from billing_etl_v1_spark.plans.pipeline import billing_pipeline

    register_views(spark, SF_SMALL, ["lineitem"])
    fact = synthetic.fact_df(spark).filter("invoice_month = '199506'")
    dim = synthetic.dim_df(spark)

    # two files, split by account parity: every day has rows in both
    fact_dir = str(tmp_path / "fact_in")
    parity = F.pmod(F.hash("billing_account_id"), F.lit(2))
    for half in (0, 1):
        fact.filter(parity == half).coalesce(1).write.mode("append").parquet(fact_dir)
    schema = spark.read.parquet(fact_dir).schema

    target = str(tmp_path / "calc_out")
    q = streaming_billing_ingest(
        spark,
        fact_dir,
        schema,
        dim,
        target,
        checkpoint_dir=str(tmp_path / "ckpt"),
        max_files_per_trigger=1,
    )
    q.awaitTermination(120)

    cols = [*DETAIL_KEYS, "cost"]  # both sides are typed as TARGET_SCHEMA
    batch = billing_pipeline(fact, dim).select(*cols)
    streamed = read_calculated(spark, target).select(*cols)
    assert streamed.count() == batch.count() > 0
    assert streamed.exceptAll(batch).isEmpty()
    assert batch.exceptAll(streamed).isEmpty()


def test_streaming_window_counts_matches_batch(spark, tmp_path):
    events = load_table(spark, SF_SMALL, "events")
    events_dir = str(tmp_path / "events_in")
    events.write.parquet(events_dir)

    stream = spark.readStream.schema(spark.read.parquet(events_dir).schema).parquet(events_dir)
    agg = streaming_window_counts(stream)
    q = (
        agg.writeStream.format("memory")
        .queryName("wincounts")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT sum(n_events) AS n FROM wincounts").collect()[0].n
    # append mode emits only watermark-closed windows; the final (max-ts)
    # window stays open, so compare against batch minus the open tail
    batch = (
        events.groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    max_ts = events.agg(F.max("ts")).collect()[0][0]
    closed = batch.filter(F.col("w.end") <= F.lit(max_ts) - F.expr("INTERVAL 30 MINUTES"))
    expected = closed.agg(F.sum("n")).collect()[0][0]
    assert got == expected


def test_streaming_sessionize_matches_batch_closed_sessions(spark, tmp_path):
    from pyspark.sql import Window

    from billing_etl_v1_spark.operators.events import sessionize

    events = load_table(spark, SF_SMALL, "events")
    events_dir = str(tmp_path / "events_sess")
    events.write.parquet(events_dir)

    stream = spark.readStream.schema(spark.read.parquet(events_dir).schema).parquet(events_dir)
    q = (
        streaming_sessionize(stream)
        .writeStream.format("memory")
        .queryName("sessions")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt3"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.user_id, r.session_start_s, r.session_end_s, r.n_events, round(r.total_value, 6))
        for r in spark.sql("SELECT * FROM sessions").collect()
    }

    # a session is emitted either when a LATER event proves it closed, or when
    # the event-time timeout fires in a trailing no-data micro-batch (final
    # watermark = max_ts - 30min). Successor-closed sessions must appear
    # exactly; each user's last session appears iff its timeout predates the
    # final watermark, so allow it on either side of that boundary.
    def key(user, start, end, n, tot):
        return (user, start, end, n, round(tot, 6))

    batch = sessionize(events)
    w_last = F.max("session_idx").over(Window.partitionBy("user_id"))
    rows = batch.withColumn("_last", w_last).collect()
    closed = {
        key(r.user_id, int(r.session_start.timestamp()), int(r.session_end.timestamp()),
            r.n_events, r.total_value)
        for r in rows
        if r.session_idx < r._last
    }
    all_sessions = {
        key(r.user_id, int(r.session_start.timestamp()), int(r.session_end.timestamp()),
            r.n_events, r.total_value)
        for r in rows
    }
    assert closed <= got <= all_sessions
    wm_s = events.agg(F.max("ts")).collect()[0][0].timestamp() - 1800
    for extra in got - closed:  # flushed by timeout -> must be timeout-eligible
        assert extra[2] + 1800 <= wm_s + 1
    assert len(got) > 0


def test_streaming_dedup_drops_redelivered_events(spark, tmp_path):
    from billing_etl_v1_spark.streaming.pipeline import streaming_dedup

    events = load_table(spark, SF_SMALL, "events").limit(500)
    events_dir = str(tmp_path / "dup_in")
    # simulate at-least-once delivery: the same events land twice
    events.write.mode("append").parquet(events_dir)
    events.write.mode("append").parquet(events_dir)

    stream = spark.readStream.schema(spark.read.parquet(events_dir).schema).parquet(events_dir)
    q = (
        streaming_dedup(stream)
        .writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_dedup"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT count(*) AS n, count(DISTINCT event_id) AS d FROM dedup_out").first()
    assert got.n == got.d == events.count()


def test_streaming_enrich_matches_batch(spark, tmp_path):
    from billing_etl_v1_spark.streaming.pipeline import streaming_enrich_user_profile

    events = load_table(spark, SF_SMALL, "events")
    # derive a small static "profile" dim: user -> segment
    profile = events.select("user_id").distinct().select(
        "user_id",
        F.concat(F.lit("seg-"), (F.col("user_id") % 4).cast("string")).alias("segment"),
    )
    events_dir = str(tmp_path / "events_in")
    events.write.parquet(events_dir)
    stream = spark.readStream.schema(spark.read.parquet(events_dir).schema).parquet(events_dir)

    out = streaming_enrich_user_profile(stream, profile)
    q = (
        out.writeStream.format("memory")
        .queryName("enriched")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_enrich"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = spark.sql(
        "SELECT segment, sum(n_events) AS n FROM enriched GROUP BY segment"
    ).collect()
    # batch twin over watermark-closed windows only (append-mode semantics)
    max_ts = events.agg(F.max("ts")).collect()[0][0]
    batch = (
        events.join(profile, "user_id")
        .groupBy(F.window("ts", "10 minutes").alias("w"), "segment")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("w.end") <= F.lit(max_ts) - F.expr("INTERVAL 30 MINUTES"))
        .groupBy("segment")
        .agg(F.sum("n").alias("n"))
    )
    expected = {r.segment: r.n for r in batch.collect()}
    assert {r.segment: r.n for r in got} == expected


def test_streaming_click_attribution_matches_batch(spark, tmp_path):
    from billing_etl_v1_spark.streaming.pipeline import streaming_click_attribution

    events = load_table(spark, SF_SMALL, "events")
    events_dir = str(tmp_path / "events_attr")
    events.write.parquet(events_dir)
    stream = spark.readStream.schema(spark.read.parquet(events_dir).schema).parquet(events_dir)

    out = streaming_click_attribution(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("attributed")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_attr"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = spark.sql(
        "SELECT purchase_id, click_id FROM attributed"
    ).collect()

    clicks = events.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    batch = clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("click_ts") < F.col("purchase_ts"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 30 MINUTES")),
    ).select("purchase_id", "click_id")
    expected = {(r.purchase_id, r.click_id) for r in batch.collect()}
    assert {(r.purchase_id, r.click_id) for r in got} == expected
    assert len(expected) > 0  # the fixture must actually exercise the join


def test_event_time_cast_requires_utc_session(spark):
    """ADVICE r1: the NTZ->timestamp watermark cast silently shifts event
    times on a non-UTC session; _event_time must refuse instead."""
    import pytest

    from billing_etl_v1_spark.streaming.pipeline import _event_time

    df = spark.createDataFrame([("2026-01-01 12:00:00",)], "s string").select(
        F.col("s").cast("timestamp_ntz").alias("ts")
    )
    old = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        with pytest.raises(ValueError, match="UTC"):
            _event_time(df)
    finally:
        spark.conf.set("spark.sql.session.timeZone", old)
    assert dict(_event_time(df).dtypes)["ts"] == "timestamp"


def test_streaming_quality_gate_matches_batch(spark, tmp_path):
    """The stateless text gate must emit row-identical results streamed
    file-by-file vs run as one batch."""
    from billing_etl_v1_spark.operators.text import lang_id, text_stats
    from billing_etl_v1_spark.streaming.pipeline import streaming_quality_gate

    docs = load_table(spark, SF_SMALL, "documents")
    docs_dir = str(tmp_path / "docs_in")
    # several files so AvailableNow processes multiple micro-batches
    docs.repartition(4).write.parquet(docs_dir)
    schema = spark.read.parquet(docs_dir).schema

    target = str(tmp_path / "kept")
    q = streaming_quality_gate(
        spark, docs_dir, schema, target, checkpoint_dir=str(tmp_path / "ckpt_q")
    )
    q.awaitTermination(120)

    batch = lang_id(text_stats(docs)).filter(
        (F.col("token_count") >= 30)
        & (F.col("quality_score") >= 0.5)
        & F.col("lang_pred").isin("en", "de", "fr", "es")
    )
    got = {r.doc_id for r in spark.read.parquet(target).select("doc_id").collect()}
    want = {r.doc_id for r in batch.select("doc_id").collect()}
    assert got == want and got


def test_streaming_incremental_dedup_matches_full_batch(spark, tmp_path):
    """Two micro-batches of documents must together emit EXACTLY the pairs
    the full-batch LSH finds on the whole corpus: batch-internal pairs as
    new-vs-new, cross-batch pairs as new-vs-old when the newer side lands.
    Orientation differs (doc_a = batch side), so compare normalized."""
    from billing_etl_v1_spark.operators.dedup import minhash_lsh_pairs
    from billing_etl_v1_spark.streaming.pipeline import streaming_incremental_dedup

    docs = load_table(spark, SF_SMALL, "documents").select("doc_id", "text")
    docs_dir = str(tmp_path / "docs_in")
    # two files -> two micro-batches with maxFilesPerTrigger=1
    docs.filter("doc_id % 2 = 0").coalesce(1).write.parquet(docs_dir)
    docs.filter("doc_id % 2 = 1").coalesce(1).write.mode("append").parquet(docs_dir)

    store = str(tmp_path / "sigs")
    pairs_out = str(tmp_path / "pairs")
    q = streaming_incremental_dedup(
        spark,
        docs_dir,
        spark.read.parquet(docs_dir).schema,
        store,
        pairs_out,
        checkpoint_dir=str(tmp_path / "ckpt_inc"),
        max_files_per_trigger=1,
    )
    q.awaitTermination(180)

    def norm(df):
        return {
            (min(r.doc_a, r.doc_b), max(r.doc_a, r.doc_b), r.est_jaccard)
            for r in df.collect()
        }

    got = norm(spark.read.parquet(pairs_out))
    want = norm(minhash_lsh_pairs(docs))
    assert got == want and len(want) > 0
    # the signature store grew to cover the whole corpus, k ints per doc
    sigs = spark.read.parquet(store)
    assert sigs.select("doc").distinct().count() == docs.count()


def test_streaming_token_meter_matches_batch_encode(spark, tmp_path):
    """Two micro-batches metered under a frozen persisted tokenizer must
    together equal the batch bpe_encode of everything ingested — batch 2
    deliberately carries words novel to both the tokenizer and batch 1,
    exercising the per-trigger merge loop on the unseen lane."""
    from billing_etl_v1_spark.operators import bpe as bpe_ops
    from billing_etl_v1_spark.streaming.pipeline import streaming_token_meter

    train = spark.createDataFrame(
        [(100, "aaabab banana aab"), (101, "banana aaabab aaaa .")],
        "doc_id long, text string",
    )
    merges, vocab = bpe_ops.bpe_learn(train, num_merges=4)
    tok = str(tmp_path / "tok")
    bpe_ops.save_bpe(merges, vocab, tok)  # default cap 256 = training cap

    new_docs = spark.createDataFrame(
        [(0, "banana aa ."), (1, "bandana zzz aaabab"), (2, "   ")],
        "doc_id long, text string",
    )
    docs_dir = str(tmp_path / "docs_in")
    # two files -> two micro-batches with maxFilesPerTrigger=1
    new_docs.filter("doc_id = 0").coalesce(1).write.parquet(docs_dir)
    new_docs.filter("doc_id >= 1").coalesce(1).write.mode("append").parquet(docs_dir)

    counts_out = str(tmp_path / "counts")
    q = streaming_token_meter(
        spark,
        docs_dir,
        spark.read.parquet(docs_dir).schema,
        tok,
        counts_out,
        checkpoint_dir=str(tmp_path / "ckpt_tok"),
        max_files_per_trigger=1,
    )
    q.awaitTermination(180)

    got = {
        r.doc_id: (r.n_pretokens, r.n_bpe_tokens)
        for r in spark.read.parquet(counts_out).collect()
    }
    want = {
        r.doc_id: (r.n_pretokens, r.n_bpe_tokens)
        for r in bpe_ops.bpe_encode(new_docs, merges, vocab, max_word_len=256).collect()
    }
    assert got == want and len(want) == 3
    # batch_id is a discoverable partition column (two triggers ran)
    bids = {
        int(r.batch_id)
        for r in spark.read.parquet(counts_out).select("batch_id").distinct().collect()
    }
    assert len(bids) == 2

    # word_store variant: 'bandana' is novel to the tokenizer and occurs
    # in BOTH micro-batches — with the store it must be encoded by batch 1
    # and resolved by lookup in batch 2 (exactly one store row), with
    # identical counts
    docs2 = spark.createDataFrame(
        [(10, "bandana banana"), (11, "bandana zzz .")], "doc_id long, text string"
    )
    docs2_dir = str(tmp_path / "docs_in2")
    docs2.filter("doc_id = 10").coalesce(1).write.parquet(docs2_dir)
    docs2.filter("doc_id = 11").coalesce(1).write.mode("append").parquet(docs2_dir)
    counts2 = str(tmp_path / "counts2")
    store = str(tmp_path / "word_store")
    q2 = streaming_token_meter(
        spark,
        docs2_dir,
        spark.read.parquet(docs2_dir).schema,
        tok,
        counts2,
        checkpoint_dir=str(tmp_path / "ckpt_tok2"),
        word_store=store,
        max_files_per_trigger=1,
    )
    q2.awaitTermination(180)
    got2 = {
        r.doc_id: (r.n_pretokens, r.n_bpe_tokens)
        for r in spark.read.parquet(counts2).collect()
    }
    want2 = {
        r.doc_id: (r.n_pretokens, r.n_bpe_tokens)
        for r in bpe_ops.bpe_encode(docs2, merges, vocab, max_word_len=256).collect()
    }
    assert got2 == want2
    store_rows = spark.read.parquet(store).collect()
    words = [r.word for r in store_rows]
    assert sorted(set(words)) == sorted(words), "a word must be stored once"
    assert "bandana" in words
    # the recurring novel word was learned by the FIRST batch that saw it
    bandana_batches = {
        int(r.batch_id) for r in store_rows if r.word == "bandana"
    }
    assert len(bandana_batches) == 1
    bpe_ops.release_bpe_cache(spark)


@pytest.mark.slow  # ~2.5 min of micro-batch churn; see pytest.ini
def test_token_meter_word_store_compaction_bounds_files(spark, tmp_path):
    """Across 20+ micro-batches each learning a novel word, the append-only
    word store must stay bounded in parquet file count (compaction every 5
    batches consolidates into the batch_id=-1 partition) — without it the
    store grows one partition directory per batch for the life of the
    stream — and the metered counts must still equal the batch bpe_encode
    of everything ingested. A store read mid-stream (mixing the compacted
    -1 partition with fresher batch partitions) must also resolve known
    words without fan-out."""
    import os

    from billing_etl_v1_spark.operators import bpe as bpe_ops
    from billing_etl_v1_spark.streaming.pipeline import streaming_token_meter

    train = spark.createDataFrame(
        [(100, "aaabab banana aab")], "doc_id long, text string"
    )
    merges, vocab = bpe_ops.bpe_learn(train, num_merges=2)
    tok = str(tmp_path / "tok")
    bpe_ops.save_bpe(merges, vocab, tok)

    n_batches = 21
    # every batch carries one word novel to the tokenizer AND all prior
    # batches (forces a store write per batch) plus one recurring novel
    # word ('zebra') resolvable from the store after batch 0
    docs = [(i, f"banana zebra nov{i}el") for i in range(n_batches)]
    docs_df = spark.createDataFrame(docs, "doc_id long, text string")
    docs_dir = str(tmp_path / "docs_in")
    for i in range(n_batches):
        docs_df.filter(F.col("doc_id") == i).coalesce(1).write.mode(
            "append"
        ).parquet(docs_dir)

    counts_out = str(tmp_path / "counts")
    store = str(tmp_path / "word_store")
    q = streaming_token_meter(
        spark,
        docs_dir,
        spark.read.parquet(docs_dir).schema,
        tok,
        counts_out,
        checkpoint_dir=str(tmp_path / "ckpt"),
        word_store=store,
        max_files_per_trigger=1,
        store_compact_every=5,
    )
    q.awaitTermination(600)

    got = {
        r.doc_id: (r.n_pretokens, r.n_bpe_tokens)
        for r in spark.read.parquet(counts_out).collect()
    }
    want = {
        r.doc_id: (r.n_pretokens, r.n_bpe_tokens)
        for r in bpe_ops.bpe_encode(docs_df, merges, vocab, max_word_len=256).collect()
    }
    assert got == want and len(got) == n_batches

    n_files = sum(
        len([f for f in fs if f.endswith(".parquet")])
        for _root, _dirs, fs in os.walk(store)
    )
    # last compaction fired at batch 20 (21 % ... == 0 at batch_id 19;
    # batch 20 appended one more partition after it) — the bound is the
    # compaction interval, NOT the 21-batch stream length
    assert n_files <= 5, f"store must stay compacted, found {n_files} files"
    store_df = spark.read.parquet(store)
    words = [r.word for r in store_df.select("word").distinct().collect()]
    assert "zebra" in words and len(words) >= n_batches
    bpe_ops.release_bpe_cache(spark)


def test_token_meter_compaction_tolerates_never_written_store(spark, tmp_path):
    """Compaction fires on a fixed batch cadence regardless of whether any
    batch ever learned a novel word; when the tokenizer vocabulary covers
    the whole stream the store directory never exists, and compaction must
    be a no-op instead of failing the batch (which would wedge the
    checkpoint replay in a crash loop — ADVICE r6 medium). Every batch
    here contains only tokenizer-known words and store_compact_every=1
    forces the compaction attempt on each one."""
    from billing_etl_v1_spark.operators import bpe as bpe_ops
    from billing_etl_v1_spark.streaming.pipeline import (
        compact_word_store,
        streaming_token_meter,
    )

    train = spark.createDataFrame([(100, "alpha beta gamma")], "doc_id long, text string")
    merges, vocab = bpe_ops.bpe_learn(train, num_merges=2)
    tok = str(tmp_path / "tok")
    bpe_ops.save_bpe(merges, vocab, tok)

    # direct call on a missing path: no-op, not PATH_NOT_FOUND
    compact_word_store(spark, str(tmp_path / "never_written"))

    docs_df = spark.createDataFrame(
        [(i, "alpha beta") for i in range(3)], "doc_id long, text string"
    )
    docs_dir = str(tmp_path / "docs_in")
    for i in range(3):
        docs_df.filter(F.col("doc_id") == i).coalesce(1).write.mode("append").parquet(
            docs_dir
        )
    store = str(tmp_path / "word_store")
    q = streaming_token_meter(
        spark,
        docs_dir,
        spark.read.parquet(docs_dir).schema,
        tok,
        str(tmp_path / "counts"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        word_store=store,
        max_files_per_trigger=1,
        store_compact_every=1,
    )
    q.awaitTermination(600)
    assert q.exception() is None
    got = spark.read.parquet(str(tmp_path / "counts"))
    assert got.count() == 3
    import os

    assert not os.path.exists(store), "no novel words -> store never created"
    bpe_ops.release_bpe_cache(spark)


def test_is_missing_path_classifies_by_error_class(spark, tmp_path):
    """_is_missing_path must key on the error CLASS (getCondition /
    getErrorClass), not only the Spark-version-specific message text, and
    must stay False for unrelated AnalysisExceptions (ADVICE r6 low)."""
    from pyspark.errors import AnalysisException

    from billing_etl_v1_spark.streaming.pipeline import _is_missing_path

    try:
        spark.read.parquet(str(tmp_path / "definitely_missing")).collect()
        raise AssertionError("read of a missing path must raise")
    except AnalysisException as exc:
        assert _is_missing_path(exc)

    try:
        spark.createDataFrame([(1,)], "a int").select("no_such_column").collect()
        raise AssertionError("unresolved column must raise")
    except AnalysisException as exc:
        assert not _is_missing_path(exc)


def test_token_meter_serves_byte_level_tokenizer(spark, tmp_path):
    """A persisted BYTE-level tokenizer must be served at its stored level
    by the meter (level is read from the artifact meta, not assumed):
    counts for novel multibyte words must equal the batch byte-level
    bpe_encode — a char-level assumption would pre-tokenize and split
    'café'/'日本' differently and miscount silently."""
    from billing_etl_v1_spark.operators import bpe as bpe_ops
    from billing_etl_v1_spark.streaming.pipeline import streaming_token_meter

    train = spark.createDataFrame(
        [(100, "the cat café"), (101, "the café 日本 cat")],
        "doc_id long, text string",
    )
    merges, vocab = bpe_ops.bpe_learn(train, num_merges=4, level="byte")
    tok = str(tmp_path / "btok")
    bpe_ops.save_bpe(merges, vocab, tok, max_word_len=256, level="byte")

    new_docs = spark.createDataFrame(
        [(0, "the caté 日本語 naïve"), (1, "cat café 😀")],
        "doc_id long, text string",
    )
    docs_dir = str(tmp_path / "docs_in")
    new_docs.filter("doc_id = 0").coalesce(1).write.parquet(docs_dir)
    new_docs.filter("doc_id = 1").coalesce(1).write.mode("append").parquet(docs_dir)
    counts_out = str(tmp_path / "counts")
    q = streaming_token_meter(
        spark,
        docs_dir,
        spark.read.parquet(docs_dir).schema,
        tok,
        counts_out,
        checkpoint_dir=str(tmp_path / "ckpt"),
        max_files_per_trigger=1,
    )
    q.awaitTermination(180)
    got = {
        r.doc_id: (r.n_pretokens, r.n_bpe_tokens)
        for r in spark.read.parquet(counts_out).collect()
    }
    want = {
        r.doc_id: (r.n_pretokens, r.n_bpe_tokens)
        for r in bpe_ops.bpe_encode(
            new_docs, merges, vocab, max_word_len=256, level="byte"
        ).collect()
    }
    assert got == want and len(got) == 2
    bpe_ops.release_bpe_cache(spark)


def test_token_meter_corrupt_word_store_fails_loudly(spark, tmp_path):
    """A word store that exists but cannot be read must FAIL the batch,
    not be silently treated as 'first batch: no store yet' — swallowing
    it would re-encode recurring novel words into a second batch_id
    partition and (before the dedupe guard) double-count every doc
    containing them once the store read recovers (review finding)."""
    import pytest as _pytest
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from billing_etl_v1_spark.operators import bpe as bpe_ops
    from billing_etl_v1_spark.streaming.pipeline import streaming_token_meter

    train = spark.createDataFrame([(0, "aa ab")], "doc_id long, text string")
    merges, vocab = bpe_ops.bpe_learn(train, num_merges=1)
    tok = str(tmp_path / "tok")
    bpe_ops.save_bpe(merges, vocab, tok)
    docs_dir = str(tmp_path / "docs")
    train.write.parquet(docs_dir)
    # a store directory that EXISTS but holds a corrupt parquet footer —
    # the failure mode of a crashed prior batch / partial copy
    store = tmp_path / "word_store"
    store.mkdir()
    (store / "part-00000.parquet").write_bytes(b"not a parquet file")
    q = streaming_token_meter(
        spark,
        docs_dir,
        spark.read.parquet(docs_dir).schema,
        tok,
        str(tmp_path / "counts"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        word_store=str(store),
    )
    with _pytest.raises(StreamingQueryException):
        q.awaitTermination(120)
    bpe_ops.release_bpe_cache(spark)


def test_streaming_scd2_maintenance_matches_batch_recompute(spark, tmp_path):
    """Two micro-batches of dim snapshots must leave the history store
    equal to a full batch scd2_history recompute over every snapshot —
    including a batch-2 month extending a batch-1 key (version extension
    recomputed, not duplicated) and an untouched batch-1 key surviving the
    partition overwrite. is_current derives correctly at read time even
    though batch 1's write happened before batch 2's months existed."""
    from billing_etl_v1_spark.operators.rules import scd2_history
    from billing_etl_v1_spark.streaming.pipeline import (
        read_scd2_history,
        streaming_scd2_maintenance,
    )

    cols = (
        "month string, billing_account_id string, project_id string, "
        "service_description string, sku_id string, mode int, discount string, "
        "price string, credit_fields string, customer_id string, contract_id string"
    )

    def row(month, acct, discount):
        return (month, acct, None, None, None, 1, discount, None, None, "C", "T")

    batch1 = [
        row("2024-01", "A", "0.9"),
        row("2024-02", "A", "0.9"),
        row("2024-01", "B", "0.8"),
    ]
    batch2 = [
        row("2024-03", "A", "0.7"),   # attribute change -> new version for A
        row("2024-04", "CC", "0.5"),  # brand-new key
    ]
    dim_dir = str(tmp_path / "dim_in")
    import os

    os.makedirs(dim_dir, exist_ok=True)
    df1 = spark.createDataFrame(batch1, cols)
    df2 = spark.createDataFrame(batch2, cols)
    schema = df1.schema

    stores = {
        "snapshot_store": str(tmp_path / "snap"),
        "history_store": str(tmp_path / "hist"),
        "checkpoint_dir": str(tmp_path / "ckpt"),
    }
    df1.coalesce(1).write.mode("append").parquet(dim_dir)
    q = streaming_scd2_maintenance(spark, dim_dir, schema, **stores)
    q.awaitTermination(120)
    df2.coalesce(1).write.mode("append").parquet(dim_dir)
    q = streaming_scd2_maintenance(spark, dim_dir, schema, **stores)
    q.awaitTermination(120)

    got = read_scd2_history(spark, stores["history_store"])
    want = scd2_history(df1.unionByName(df2))
    key = lambda r: (r["billing_account_id"], r["version"])  # noqa: E731
    g = {key(r): r.asDict() for r in got.select(*want.columns).collect()}
    w = {key(r): r.asDict() for r in want.collect()}
    assert g == w
    # the extended key has exactly 2 versions, the untouched key survived
    assert ("A", 2) in g and ("B", 1) in g and ("CC", 1) in g


def test_streaming_quarantine_ingest_splits_good_and_bad(spark, tmp_path):
    """Corrupt rows landing in the stream must divert to the quarantine
    sink as raw text — never kill the stream — and the good sink must
    hold exactly the parseable rows with the declared schema."""
    from pyspark.sql.types import IntegerType, StringType, StructField, StructType

    from billing_etl_v1_spark.streaming.pipeline import streaming_quarantine_ingest

    src = tmp_path / "src"
    src.mkdir()
    (src / "a.jsonl").write_text(
        '{"id": 1, "tag": "a"}\n'
        "garbage line one\n"
        '{"id": 2, "tag": "b"}\n'
    )
    (src / "b.jsonl").write_text(
        '{"id": 3, "tag": "c"}\n'
        '{"id": oops}\n'
    )
    schema = StructType(
        [StructField("id", IntegerType()), StructField("tag", StringType())]
    )
    good_path = str(tmp_path / "good")
    bad_path = str(tmp_path / "bad")
    q = streaming_quarantine_ingest(
        spark, str(src), schema, good_path, bad_path, str(tmp_path / "ckpt")
    )
    q.awaitTermination(120)

    good = spark.read.parquet(good_path)
    assert sorted(good.columns) == ["id", "tag"]
    assert {r.id for r in good.collect()} == {1, 2, 3}
    bad = {r.corrupt_record for r in spark.read.parquet(bad_path).collect()}
    assert bad == {"garbage line one", '{"id": oops}'}

    # CSV twin: header handling must match the batch reader's (review
    # finding: without the header option every file's header line was a
    # fake corrupt row in the quarantine, every trigger)
    csv_src = tmp_path / "csv_src"
    csv_src.mkdir()
    (csv_src / "a.csv").write_text("id,tag\n1,a\n2,not-ok,extra-field-junk\n")
    good2, bad2 = str(tmp_path / "good2"), str(tmp_path / "bad2")
    q2 = streaming_quarantine_ingest(
        spark, str(csv_src), schema, good2, bad2,
        str(tmp_path / "ckpt_csv"), fmt="csv",
    )
    q2.awaitTermination(120)
    assert {r.id for r in spark.read.parquet(good2).collect()} == {1}
    assert {r.corrupt_record for r in spark.read.parquet(bad2).collect()} == {
        "2,not-ok,extra-field-junk"
    }


def test_streaming_unigram_meter_matches_batch_encode(spark, tmp_path):
    """The unigram meter must equal the batch unigram_encode of everything
    ingested: known words at stored training cost, novel words (including
    one with a codepoint outside the stored alphabet — the UNK lane) via
    frozen-probability Viterbi, recurring novel words resolved from the
    word store after their first batch."""
    from billing_etl_v1_spark.operators import unigram as ug
    from billing_etl_v1_spark.streaming.pipeline import streaming_unigram_meter

    train = spark.createDataFrame(
        [(100, "banana band bandana"), (101, "an ana nab and")],
        "doc_id long, text string",
    )
    pieces, segments = ug.unigram_learn(
        train, vocab_size=8, max_piece_len=3, max_word_len=16, em_rounds=2
    )
    tok = str(tmp_path / "unitok")
    ug.save_unigram(pieces, segments, tok, max_piece_len=3, max_word_len=16)

    docs = [
        (0, "banana band"),           # all known
        (1, "bananana zebra"),        # novel words
        (2, "zebra bandΩana"),        # recurring novel + unknown codepoint
        (3, ""),                      # zero pretokens
    ]
    docs_df = spark.createDataFrame(docs, "doc_id long, text string")
    docs_dir = str(tmp_path / "docs_in")
    for i, _ in docs:
        docs_df.filter(F.col("doc_id") == i).coalesce(1).write.mode("append").parquet(
            docs_dir
        )
    counts_out = str(tmp_path / "counts")
    q = streaming_unigram_meter(
        spark,
        docs_dir,
        spark.read.parquet(docs_dir).schema,
        tok,
        counts_out,
        checkpoint_dir=str(tmp_path / "ckpt"),
        word_store=str(tmp_path / "word_store"),
        max_files_per_trigger=1,
        store_compact_every=2,
    )
    q.awaitTermination(600)
    assert q.exception() is None

    got = {
        r.doc_id: (r.n_pretokens, r.n_unigram_tokens)
        for r in spark.read.parquet(counts_out).collect()
    }
    want = {
        r.doc_id: (r.n_pretokens, r.n_unigram_tokens)
        for r in ug.unigram_encode(
            docs_df, pieces, segments, max_piece_len=3, max_word_len=16
        ).collect()
    }
    assert got == want and len(got) == len(docs)
    ug.release_unigram_cache(spark)


def test_streaming_wordpiece_meter_matches_batch_encode(spark, tmp_path):
    """The WordPiece meter must equal the batch wordpiece_encode of
    everything ingested: known words at stored greedy cost, novel words
    greedy-scanned under the frozen piece set (including an
    alphabet-miss and an over-cap monster — both single-[UNK] lanes),
    recurring novel words resolved from the word store after their
    first batch."""
    from billing_etl_v1_spark.operators import wordpiece as wp
    from billing_etl_v1_spark.streaming.pipeline import streaming_wordpiece_meter

    train = spark.createDataFrame(
        [(100, "banana band bandana"), (101, "an ana nab and")],
        "doc_id long, text string",
    )
    ids, segments = wp.wordpiece_artifacts(train, num_merges=4, max_word_len=16)[1:]
    tok = str(tmp_path / "wptok")
    wp.save_wordpiece(ids, segments, tok, max_word_len=16)

    docs = [
        (0, "banana band"),            # all known
        (1, "bananana zebra"),         # novel: coverable + alphabet-miss
        (2, "zebra ba" + "n" * 20),    # recurring novel + over-cap monster
        (3, ""),                       # zero pretokens
    ]
    docs_df = spark.createDataFrame(docs, "doc_id long, text string")
    docs_dir = str(tmp_path / "docs_in")
    for i, _ in docs:
        docs_df.filter(F.col("doc_id") == i).coalesce(1).write.mode("append").parquet(
            docs_dir
        )
    counts_out = str(tmp_path / "counts")
    q = streaming_wordpiece_meter(
        spark,
        docs_dir,
        spark.read.parquet(docs_dir).schema,
        tok,
        counts_out,
        checkpoint_dir=str(tmp_path / "ckpt"),
        word_store=str(tmp_path / "word_store"),
        max_files_per_trigger=1,
        store_compact_every=2,
    )
    q.awaitTermination(600)
    assert q.exception() is None

    got = {
        r.doc_id: (r.n_pretokens, r.n_wordpiece_tokens)
        for r in spark.read.parquet(counts_out).collect()
    }
    want = {
        r.doc_id: (r.n_pretokens, r.n_wordpiece_tokens)
        for r in wp.wordpiece_encode(
            docs_df, ids, segments, max_word_len=16
        ).collect()
    }
    assert got == want and len(got) == len(docs)
    wp.release_wordpiece_cache(spark)
