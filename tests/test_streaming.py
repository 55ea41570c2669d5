"""Batch ≡ stream equivalence for the windowed aggregations (SURVEY §2.11)."""

from __future__ import annotations

from braintumor_data_pipeline_spark.functions.money import dec_col

from braintumor_data_pipeline_spark.streaming.events import (
    events_tumbling_5m,
    run_streaming_tumbling_counts,
)


def test_stateful_totals_equal_batch(spark, sf_dir, tmp_path):
    """applyInPandasWithState running totals must converge to the batch
    group-by after all files are processed."""
    from pyspark.sql import functions as F

    from braintumor_data_pipeline_spark.sources.fixtures import load_table
    from braintumor_data_pipeline_spark.streaming.stateful import (
        run_stateful_type_totals,
    )

    final = {
        r.event_type: (r.n_events, r.sum_value)
        for r in run_stateful_type_totals(
            spark, sf_dir, str(tmp_path / "ckpt_state")
        ).collect()
    }
    batch = {
        r.event_type: (r.n, r.s)
        for r in load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(dec_col("value")).cast("double").alias("s"),
        )
        .collect()
    }
    assert final == batch and len(final) == 5


def test_tws_totals_equal_batch_and_legacy_api(spark, sf_dir, tmp_path):
    """The TypeTotalsProcessor (Spark 4 StatefulProcessor API) must
    produce the same final totals as the batch group-by — the
    API-migration parity check. Where the TWS protobuf channel exists
    the real transformWithStateInPandas runs; in this container
    (google.protobuf absent) the SAME processor class is driven
    cross-batch by the pure-Python replay harness
    (run_tws_type_totals_local — 4 deterministic micro-batches, state
    carried between batches), so the processor's cross-batch semantics
    are asserted in every environment instead of skipped (r7)."""
    from pyspark.sql import functions as F

    from braintumor_data_pipeline_spark.sources.fixtures import load_table
    from braintumor_data_pipeline_spark.streaming.stateful import (
        HAS_TWS_DEPS,
        run_tws_type_totals,
        run_tws_type_totals_local,
    )

    if HAS_TWS_DEPS:
        out = run_tws_type_totals(spark, sf_dir, str(tmp_path / "ckpt_tws"))
    else:
        out = run_tws_type_totals_local(spark, sf_dir)
    final = {
        r.event_type: (r.n_events, r.sum_value) for r in out.collect()
    }
    batch = {
        r.event_type: (r.n, r.s)
        for r in load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(dec_col("value")).cast("double").alias("s"),
        )
        .collect()
    }
    assert final == batch and len(final) == 5


def test_streaming_equals_batch_tumbling(spark, sf_dir, tmp_path):
    batch = {
        (r.bucket_us, r.event_type): (r.n, r.sum_value)
        for r in events_tumbling_5m(spark, sf_dir).collect()
    }
    stream_df = run_streaming_tumbling_counts(
        spark, sf_dir, str(tmp_path / "ckpt")
    )
    stream = {
        (r.bucket_us, r.event_type): (r.n, r.sum_value)
        for r in stream_df.collect()
    }
    assert batch == stream
    assert len(batch) > 0


def test_checkpoint_recovery_exactly_once(spark, sf_dir, tmp_path):
    """Restarted query must resume from the checkpoint: phase 2 reads
    ONLY the file added after the stop, and totals match the batch
    group-by over everything (no loss, no double count)."""
    from braintumor_data_pipeline_spark.streaming.recovery import (
        read_totals,
        run_recoverable_totals,
        stage_events_split,
    )

    stage = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    paths = stage_events_split(spark, sf_dir, str(tmp_path / "all"), n_files=3)
    import os
    import shutil

    os.makedirs(stage, exist_ok=True)
    # phase 1: two of three files
    for p in paths[:2]:
        shutil.copy(p, stage)
    read1 = run_recoverable_totals(spark, stage, ckpt, out)
    n_expected_1 = sum(
        spark.read.parquet(p).count() for p in paths[:2]
    )
    assert read1 == n_expected_1

    # phase 2: add the third file, restart from the same checkpoint
    shutil.copy(paths[2], stage)
    read2 = run_recoverable_totals(spark, stage, ckpt, out)
    n_file3 = spark.read.parquet(paths[2]).count()
    assert read2 == n_file3, "restart re-read already-processed files"

    from pyspark.sql import functions as F

    from braintumor_data_pipeline_spark.sources.fixtures import load_table

    batch = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(dec_col("value")).cast("double").alias("sum_value"),
        )
    )
    got = {
        r.event_type: (r.n_events, r.sum_value)
        for r in read_totals(spark, out).collect()
    }
    want = {r.event_type: (r.n_events, r.sum_value) for r in batch.collect()}
    assert got == want


def test_watermark_drops_late_rows(spark, tmp_path):
    """Append-mode windowed count with a 10-minute watermark: a row
    arriving far behind the watermark must NOT reopen its (already
    emitted) window — the late-data contract."""
    import os

    import pandas as pd
    from pyspark.sql import functions as F

    src = str(tmp_path / "late_src")
    os.makedirs(src, exist_ok=True)
    ckpt = str(tmp_path / "late_ckpt")

    def write_file(name, ts_list):
        pdf = pd.DataFrame(
            {"ts": pd.to_datetime(ts_list), "k": ["a"] * len(ts_list)}
        )
        spark.createDataFrame(pdf).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        # rename not needed; append adds a new file per call

    # batch 1: two rows in window 10:00-10:05
    write_file("f1", ["2026-01-01 10:00:30", "2026-01-01 10:01:00"])
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "5 minutes").alias("w"), "k")
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").cast("string").alias("ws"), "k", "n")
    )
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("late_demo")
        .option("checkpointLocation", ckpt)
        .start()
    )
    q.processAllAvailable()
    # batch 2: advance event time far past the watermark → closes 10:00
    write_file("f2", ["2026-01-01 11:00:00"])
    q.processAllAvailable()
    # batch 3: a LATE row for the long-closed 10:00 window
    write_file("f3", ["2026-01-01 10:02:00"])
    q.processAllAvailable()
    # batch 4: advance again so anything pending would flush
    write_file("f4", ["2026-01-01 12:00:00"])
    q.processAllAvailable()
    q.stop()
    rows = {
        (r.ws, r.n) for r in spark.table("late_demo").collect()
    }
    # the 10:00 window emitted once, with the 2 on-time rows only
    assert ("2026-01-01 10:00:00", 2) in rows
    assert ("2026-01-01 10:00:00", 3) not in rows, "late row reopened window"


def test_stream_stream_join_equals_batch(spark, sf_dir, tmp_path):
    """The watermarked stream-stream interval join must produce exactly
    the batch interval join's rows."""
    from braintumor_data_pipeline_spark.streaming.events import (
        events_view_purchase_within_30m,
        run_stream_stream_join,
    )

    streamed = run_stream_stream_join(spark, sf_dir, str(tmp_path / "ssj"))
    got = {tuple(r) for r in streamed.collect()}
    want = {
        tuple(r) for r in events_view_purchase_within_30m(spark, sf_dir).collect()
    }
    assert got == want
    assert want, "fixture produced no view→purchase pairs"


def test_streaming_dedup_within_watermark_equals_batch(spark, sf_dir, tmp_path):
    """dropDuplicatesWithinWatermark + downstream agg matches the batch
    DISTINCT formulation (all duplicates here share a minute bucket, so
    every duplicate pair is inside the 10-minute dedup window)."""
    from braintumor_data_pipeline_spark.registry import all_queries
    from braintumor_data_pipeline_spark.streaming.events import (
        run_streaming_dedup_counts,
    )

    batch = {
        r["event_type"]: r["n_unique"]
        for r in all_queries()["events_dedup_keyed"]
        .fn(spark, sf_dir)
        .collect()
    }
    streamed = {
        r["event_type"]: r["n_unique"]
        for r in run_streaming_dedup_counts(
            spark, sf_dir, str(tmp_path / "ckpt_dedup")
        ).collect()
    }
    assert streamed == batch


def test_stream_static_join_equals_batch(spark, sf_dir, tmp_path):
    """Stream-static dimension enrichment ≡ the same batch join."""
    from pyspark.sql import functions as F

    from braintumor_data_pipeline_spark.sources.fixtures import load_table
    from braintumor_data_pipeline_spark.streaming.events import (
        run_stream_static_join,
    )

    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    c = load_table(spark, sf_dir, "customer")
    batch = {
        r.c_mktsegment: (r.n, r.sum_value)
        for r in e.join(c, e.user_id == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n"),
            F.sum(dec_col("value")).cast("double").alias("sum_value"),
        )
        .collect()
    }
    streamed = {
        r.c_mktsegment: (r.n, r.sum_value)
        for r in run_stream_static_join(
            spark, sf_dir, str(tmp_path / "ckpt_ss")
        ).collect()
    }
    assert streamed == batch


def test_streaming_hll_registers_equal_batch(spark, sf_dir, tmp_path):
    from braintumor_data_pipeline_spark.operators.sketch import (
        hll_bucket_rho,
        hll_spine_registers,
    )
    from braintumor_data_pipeline_spark.sources.fixtures import load_table
    from braintumor_data_pipeline_spark.streaming.sketches import (
        run_streaming_hll_registers,
    )
    from pyspark.sql import functions as F

    streamed = run_streaming_hll_registers(
        spark, sf_dir, str(tmp_path / "ckpt_hll")
    )
    batch = hll_spine_registers(
        hll_bucket_rho(
            load_table(spark, sf_dir, "events").select(
                F.col("user_id").alias("key")
            )
        )
    )
    got = sorted((r.bucket, r.register) for r in streamed.collect())
    want = sorted((r.bucket, r.register) for r in batch.collect())
    assert got == want
    # sketch state is bounded by construction: exactly m rows
    assert len(got) == 64


def test_streaming_psi_equals_batch_operator(spark, sf_dir, tmp_path):
    """The streaming drift monitor must reproduce the batch PSI report
    row-for-row (counts exactly, terms to the same 6dp rounding)."""
    from braintumor_data_pipeline_spark.operators.experiments import (
        psi_value_drift_halves,
    )
    from braintumor_data_pipeline_spark.streaming.sketches import (
        run_streaming_psi_bins,
    )

    got = run_streaming_psi_bins(spark, sf_dir, str(tmp_path / "ckpt")).collect()
    want = psi_value_drift_halves(spark, sf_dir).collect()
    assert len(got) == len(want) > 0
    for g, w in zip(got, want):
        assert (g.bin, g.n_ref, g.n_cur) == (w.bin, w.n_ref, w.n_cur)
        assert abs(g.psi_term - w.psi_term) < 1e-9


def test_streaming_session_windows_equal_batch(spark, sf_dir, tmp_path):
    """Genuine Structured Streaming session windows (30-min gap,
    watermark, 3 chronological micro-batches) produce EXACTLY the batch
    ``events_session_30m`` sessions — including sessions merged across
    micro-batch boundaries, the stateful behavior batch never
    exercises."""
    from braintumor_data_pipeline_spark.streaming.events import (
        events_session_30m,
        run_streaming_session_windows,
    )

    batch = {
        (r.user_id, r.session_start_us): (r.n_events, round(r.sum_value, 6))
        for r in events_session_30m(spark, sf_dir).collect()
    }
    stream_df = run_streaming_session_windows(
        spark, sf_dir, str(tmp_path / "ckpt")
    )
    stream = {
        (r.user_id, r.session_start_us): (r.n_events, round(r.sum_value, 6))
        for r in stream_df.collect()
    }
    assert batch == stream
    assert len(batch) > 0


def test_streaming_countmin_equals_batch(spark, sf_dir, tmp_path):
    """Genuine streaming count-min sketch == batch countmin_build over
    the same keys (every counter a mergeable sum; state bounded at
    CM_SEEDS*CM_W rows by construction)."""
    from pyspark.sql import functions as F

    from braintumor_data_pipeline_spark.operators.sketch import (
        CM_SEEDS,
        CM_W,
        countmin_build,
    )
    from braintumor_data_pipeline_spark.sources.fixtures import load_table
    from braintumor_data_pipeline_spark.streaming.sketches import (
        run_streaming_countmin,
    )

    batch_keys = load_table(spark, sf_dir, "events").select(
        F.col("user_id").alias("key")
    )
    batch = {
        (r.seed, r.bucket): r.cnt for r in countmin_build(batch_keys).collect()
    }
    stream_df = run_streaming_countmin(spark, sf_dir, str(tmp_path / "ckpt"))
    stream = {(r.seed, r.bucket): r.cnt for r in stream_df.collect()}
    assert batch == stream
    assert 0 < len(stream) <= CM_SEEDS * CM_W


def test_streaming_bloom_equals_batch(spark, sf_dir, tmp_path):
    """Genuine streaming bloom bitmap == batch bloom_bitmap over the
    same keys (bit_or per word is mergeable; state = 64 words by
    construction)."""
    from pyspark.sql import functions as F

    from braintumor_data_pipeline_spark.operators.sketch import (
        BF_WORDS,
        bloom_bitmap,
    )
    from braintumor_data_pipeline_spark.sources.fixtures import load_table
    from braintumor_data_pipeline_spark.streaming.sketches import (
        run_streaming_bloom,
    )

    keys = load_table(spark, sf_dir, "events").select(
        F.col("user_id").alias("key")
    )
    batch = {r.word: r.mask for r in bloom_bitmap(keys).collect()}
    stream_df = run_streaming_bloom(spark, sf_dir, str(tmp_path / "ckpt"))
    stream = {r.word: r.mask for r in stream_df.collect()}
    # stream emits only words with bits; batch spine includes zeros
    assert stream == {w: m for w, m in batch.items() if m != 0}
    assert len(batch) == BF_WORDS


def test_tws_local_replay_releases_persist_on_error(spark, sf_dir, monkeypatch):
    """A batch that fails mid-replay must not leak the replay's persist."""
    import pytest

    from braintumor_data_pipeline_spark.streaming.stateful import (
        run_tws_type_totals_local,
    )

    def boom(*args, **kwargs):  # the carry seed of the second batch
        raise RuntimeError("injected")

    spark.catalog.clearCache()
    monkeypatch.setattr(spark, "createDataFrame", boom)
    with pytest.raises(RuntimeError, match="injected"):
        run_tws_type_totals_local(spark, sf_dir)
    monkeypatch.undo()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
