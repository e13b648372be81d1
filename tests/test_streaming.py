"""Structured Streaming tier: streaming results differential-tested against
the batch twin (the same function body on a batch frame), plus watermark
append-mode semantics across micro-batches.
"""

from __future__ import annotations

import math
import os

import pytest
from pyspark.sql import functions as F

from airflow_etl_finance_market_spark.streaming import (
    pct_change_stateful,
    read_events_batch,
    read_events_stream,
    run_available_now,
    windowed_event_kpis,
)


def _rows(df):
    rows = [
        tuple(None if isinstance(v, float) and math.isnan(v) else v for v in r)
        for r in df.collect()
    ]
    rows.sort(key=lambda r: tuple((v is None, str(v)) for v in r))
    return rows


@pytest.fixture(scope="module")
def split_events_dir(spark, sf_dir, tmp_path_factory):
    """The events fixture split into 3 ts-ordered parquet files so a file
    stream with maxFilesPerTrigger=1 yields 3 micro-batches with advancing
    watermark. ts stays raw epoch-nanos (the stream schema's wire format).

    Read with the stream's explicit LONG schema — relying on the
    nanosAsLong session conf is fragile (under Spark 4.1.2 a conf set
    mid-suite can be ignored and ts comes back as a timestamp, breaking
    the integer span arithmetic below)."""
    from airflow_etl_finance_market_spark.streaming.io import EVENTS_STREAM_SCHEMA

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = spark.read.schema(EVENTS_STREAM_SCHEMA).parquet(
        f"{sf_dir}/events.parquet"
    )  # ts: bigint nanos
    lo, hi = raw.selectExpr("min(ts)", "max(ts)").first()
    span = (hi - lo) // 3 + 1
    out = str(tmp_path_factory.mktemp("events_stream"))
    for i in range(3):
        part = raw.filter(
            (raw.ts >= lo + i * span) & (raw.ts < lo + (i + 1) * span)
        )
        pdir = f"{out}/b{i}"
        part.coalesce(1).write.mode("overwrite").parquet(pdir)
        # file source orders by modification time: force batch order
        for f in os.listdir(pdir):
            if f.endswith(".parquet"):
                os.utime(f"{pdir}/{f}", (1_700_000_000 + i, 1_700_000_000 + i))
    return out


def test_windowed_kpis_stream_equals_batch(spark, sf_dir, split_events_dir):
    batch = windowed_event_kpis(read_events_batch(spark, f"{sf_dir}/events.parquet"))
    stream = windowed_event_kpis(
        read_events_stream(spark, f"{split_events_dir}/b*"),
        watermark="1 hour",
    )
    got = run_available_now(stream, "kpis_complete", output_mode="complete")
    assert _rows(got) == _rows(batch)


def test_sliding_windowed_kpis_stream_equals_batch(spark, sf_dir, split_events_dir):
    """The SLIDING path (2-day window, 1-day slide — the
    sliding_window_kpis driver entry's configuration): each event lands
    in two overlapping windows, and the identical operator body must
    produce the same hopping aggregate in batch and as a real
    multi-micro-batch streaming query."""
    batch = windowed_event_kpis(
        read_events_batch(spark, f"{sf_dir}/events.parquet"),
        window="2 days",
        slide="1 day",
    )
    stream = windowed_event_kpis(
        read_events_stream(spark, f"{split_events_dir}/b*"),
        window="2 days",
        slide="1 day",
        watermark="1 hour",
    )
    got = run_available_now(stream, "kpis_sliding_complete", output_mode="complete")
    assert _rows(got) == _rows(batch)
    # the hopping property itself: total per-window event count sums to
    # exactly 2x the raw events (every event in exactly two windows)
    n_events = read_events_batch(spark, f"{sf_dir}/events.parquet").count()
    assert sum(r[3] for r in _rows(batch.select(
        "window_start", "window_end", "event_type", "n_events"
    ))) == 2 * n_events


def test_append_mode_emits_only_finalized_windows(spark, sf_dir, split_events_dir):
    """Append mode + watermark: emitted windows are exactly the ones the
    final watermark passed, and their values match the batch computation."""
    stream = windowed_event_kpis(
        read_events_stream(spark, f"{split_events_dir}/b*", max_files_per_trigger=1),
        window="1 day",
        watermark="1 hour",
    )
    got = run_available_now(stream, "kpis_append", output_mode="append")
    batch_rows = _rows(windowed_event_kpis(read_events_batch(spark, f"{sf_dir}/events.parquet")))
    got_rows = _rows(got)
    assert got_rows, "append mode emitted nothing — watermark never advanced"
    assert set(got_rows) <= set(batch_rows), "append emitted rows that disagree with batch"
    # windows still open at end-of-stream (end > final watermark) must NOT
    # have been emitted; every emitted window-end predates the global max ts
    max_end = max(r[1] for r in batch_rows)  # columns sorted: window_end idx 1
    assert all(r[1] < max_end for r in got_rows)


def test_pct_change_stateful_carries_state_across_batches(
    spark, sf_dir, split_events_dir
):
    """3 micro-batches: the first row of batch N+1 must diff against the last
    value of batch N from the state store — equal to the batch LAG twin."""
    stream = pct_change_stateful(
        read_events_stream(spark, f"{split_events_dir}/b*", max_files_per_trigger=1)
    )
    got = run_available_now(stream, "pct_stateful", output_mode="append")
    batch = pct_change_stateful(read_events_batch(spark, f"{sf_dir}/events.parquet"))
    g, b = _rows(got), _rows(batch)
    assert len(g) == len(b)
    for x, y in zip(g, b):
        assert x[:3] == y[:3]
        if x[3] is None or y[3] is None:
            assert x[3] == y[3]
        else:
            assert abs(x[3] - y[3]) < 1e-9


def test_streaming_volatility_chain(spark, sf_dir, split_events_dir):
    """The streaming flagship: stateful pct-change -> watermark -> 7-day
    windowed stddev, two chained stateful operators in ONE streaming query.
    Append mode withholds non-finalized windows; everything emitted must
    match the batch twin exactly."""
    from airflow_etl_finance_market_spark.streaming import windowed_volatility

    stream = windowed_volatility(
        pct_change_stateful(
            read_events_stream(spark, f"{split_events_dir}/b*")
        ).withWatermark("ts", "1 hour"),
        key="user_id",
        ts="ts",
        window="7 days",
    )
    got = run_available_now(stream, "vol_chain", output_mode="append")
    batch = windowed_volatility(
        pct_change_stateful(read_events_batch(spark, f"{sf_dir}/events.parquet")),
        key="user_id",
        ts="ts",
        window="7 days",
    )
    g = {(r["user_id"], r["week_start"]): r["vol"] for r in got.collect()}
    b = {(r["user_id"], r["week_start"]): r["vol"] for r in batch.collect()}
    assert g, "append emitted nothing"
    assert set(g) <= set(b)
    for k, gv in g.items():
        bv = b[k]
        if gv is None or bv is None:
            assert gv == bv
        else:
            assert abs(gv - bv) < 1e-9


def test_checkpoint_restart_restores_state_exactly_once(
    spark, sf_dir, split_events_dir, tmp_path
):
    """Kill-and-restart: run the stateful pct-change over the first two
    files, stop, then add the third and re-run with the SAME checkpoint.
    The restart must (a) process only the new file, (b) restore per-key
    state so the third file's first rows diff against the second file's
    last values, (c) never duplicate sink rows."""
    import shutil

    from airflow_etl_finance_market_spark.streaming.io import (
        run_available_now_to_parquet,
    )

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    for b in ("b0", "b1"):
        shutil.copytree(f"{split_events_dir}/{b}", f"{src}/{b}")

    stream = pct_change_stateful(read_events_stream(spark, f"{src}/b*"))
    run_available_now_to_parquet(stream, out, ckpt)
    rows_after_first = spark.read.parquet(out).count()

    shutil.copytree(f"{split_events_dir}/b2", f"{src}/b2")
    stream = pct_change_stateful(read_events_stream(spark, f"{src}/b*"))
    run_available_now_to_parquet(stream, out, ckpt)

    got = _rows(spark.read.parquet(out))
    batch = _rows(
        pct_change_stateful(read_events_batch(spark, f"{sf_dir}/events.parquet"))
    )
    assert rows_after_first < len(got) == len(batch)  # incremental, no dups
    for x, y in zip(got, batch):
        assert x[:3] == y[:3]
        if x[3] is None or y[3] is None:
            assert x[3] == y[3]
        else:
            assert abs(x[3] - y[3]) < 1e-9


def test_stream_dedup_within_watermark(spark, sf_dir, split_events_dir, tmp_path):
    """At-least-once delivery: every event duplicated within its micro-batch
    and re-delivered in the NEXT batch must still come out exactly once —
    dropDuplicatesWithinWatermark state covers the redelivery window, and
    eviction past the watermark keeps state bounded."""
    import os

    from airflow_etl_finance_market_spark.streaming import (
        dedup_events,
        read_events_batch,
        read_events_stream,
        run_available_now,
    )
    from airflow_etl_finance_market_spark.streaming.io import EVENTS_STREAM_SCHEMA

    # redeliver: each split file unioned with itself (in-batch dup), plus
    # the previous batch's rows appended again (cross-batch redelivery)
    dup_dir = str(tmp_path / "dup_stream")
    batches = sorted(os.listdir(split_events_dir))
    prev = None
    for i, b in enumerate(batches):
        cur = spark.read.schema(EVENTS_STREAM_SCHEMA).parquet(
            f"{split_events_dir}/{b}"
        )
        out = cur.union(cur) if prev is None else cur.union(cur).union(prev)
        pdir = f"{dup_dir}/b{i}"
        out.coalesce(1).write.mode("overwrite").parquet(pdir)
        for f in os.listdir(pdir):
            if f.endswith(".parquet"):
                os.utime(f"{pdir}/{f}", (1_700_000_000 + i,) * 2)
        prev = cur
    stream = dedup_events(
        read_events_stream(spark, f"{dup_dir}/b*", max_files_per_trigger=1),
        watermark="25 hours",  # covers the one-batch redelivery lag
    )
    got = run_available_now(stream, "dedup_stream", output_mode="append")
    batch = dedup_events(read_events_batch(spark, f"{sf_dir}/events.parquet"))
    assert got.count() == batch.count()
    assert _rows(got.select("event_id")) == _rows(batch.select("event_id"))


def test_reorder_buffer_handles_out_of_order_arrival(spark, sf_dir, tmp_path):
    """Rows displaced into the NEXT micro-batch (late, but inside the
    watermark) must still produce the exact batch-LAG pct chain: the
    reorder buffer holds rows until the watermark passes them and emits in
    event-time order. Emitted set = precisely the rows the final watermark
    finalized."""
    import os

    from airflow_etl_finance_market_spark.streaming import (
        pct_change_reordered,
        read_events_batch,
        read_events_stream,
        run_available_now,
    )
    from airflow_etl_finance_market_spark.streaming.io import EVENTS_STREAM_SCHEMA

    raw = spark.read.schema(EVENTS_STREAM_SCHEMA).parquet(
        f"{sf_dir}/events.parquet"
    )
    lo, hi = raw.selectExpr("min(ts)", "max(ts)").first()
    unit = 1 if hi < 10**17 else 1000  # micros per ts-unit (see io.py)
    span_us = (hi - lo) // unit
    batch_us = span_us // 3 + 1
    delay_s = batch_us // 1_000_000 + 3600  # covers one-batch displacement
    out = str(tmp_path / "ooo_stream")
    for i in range(3):
        b_lo, b_hi = lo + i * batch_us * unit, lo + (i + 1) * batch_us * unit
        part = raw.filter((raw.ts >= b_lo) & (raw.ts < b_hi))
        # displace every 7th event into the NEXT batch's file (late arrival);
        # batch 0 additionally receives nothing from the past
        keep = part.filter((part.event_id % 7 != 0) | (F.lit(i) == 2))
        if i > 0:
            prev_lo = lo + (i - 1) * batch_us * unit
            late = raw.filter(
                (raw.ts >= prev_lo) & (raw.ts < b_lo) & (raw.event_id % 7 == 0)
            )
            keep = keep.unionByName(late)
        pdir = f"{out}/b{i}"
        keep.coalesce(1).write.mode("overwrite").parquet(pdir)
        for f in os.listdir(pdir):
            if f.endswith(".parquet"):
                os.utime(f"{pdir}/{f}", (1_700_000_000 + i,) * 2)

    got = run_available_now(
        pct_change_reordered(
            read_events_stream(spark, f"{out}/b*", max_files_per_trigger=1),
            delay=f"{delay_s} seconds",
        ),
        "pct_reordered",
        output_mode="append",
    )
    batch = pct_change_reordered(
        read_events_batch(spark, f"{sf_dir}/events.parquet")
    )
    # Spark tracks watermarks in whole milliseconds — ms-floor the max
    # event time before subtracting the delay (verified against real
    # micro-batch runs; the unfloored value is up to 999us too high).
    wm_final_us = (hi // unit) // 1000 * 1000 - delay_s * 1_000_000
    expect = batch.filter(
        F.unix_micros(F.col("ts").cast("timestamp_ltz")) <= wm_final_us
    )
    g, b = _rows(got), _rows(expect)
    assert len(g) == len(b) and len(g) > 0
    for x, y in zip(g, b):
        assert x[:3] == y[:3]
        if x[3] is None or y[3] is None:
            assert x[3] == y[3]
        else:
            assert abs(x[3] - y[3]) < 1e-9


def test_reorder_buffer_retires_drained_keys(spark, tmp_path):
    """retire_after drops a key's state row once its buffer is drained and
    the watermark has passed its last emitted timestamp by the horizon —
    state is bounded by key LIVENESS, not all-time key cardinality. The
    event-time timeout doubles as the retirement alarm, so the key
    retires without ever receiving another row; emitted output is
    identical with and without retirement."""
    import os

    from airflow_etl_finance_market_spark.streaming.stateful import (
        pct_change_reordered,
    )

    out = str(tmp_path / "retire_src")
    # timestamps start well past epoch 0: a row AT the initial watermark
    # (0) is dropped by Spark's late filter before reaching the operator
    batches = [
        # key 1 lives only in batch 0, then goes silent forever
        [(1, 1000, 10.0), (1, 1010, 11.0), (2, 1060, 5.0)],
        [(2, 1200, 6.0)],
        [(2, 1400, 7.0)],
    ]
    for i, rows in enumerate(batches):
        df = spark.createDataFrame(
            rows, "user_id long, ts_s long, value double"
        ).select(
            "user_id", F.timestamp_seconds("ts_s").alias("ts"), "value"
        )
        pdir = f"{out}/b{i}"
        df.coalesce(1).write.parquet(pdir)
        for f in os.listdir(pdir):
            if f.endswith(".parquet"):
                os.utime(f"{pdir}/{f}", (1_700_000_000 + i,) * 2)

    def drain(name, retire):
        stream = (
            spark.readStream.schema("user_id long, ts timestamp, value double")
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{out}/b*")
        )
        q = (
            pct_change_reordered(
                stream, delay="60 seconds", retire_after=retire
            )
            .writeStream.outputMode("append")
            .format("memory")
            .queryName(name)
            .start()
        )
        try:
            q.processAllAvailable()
            n_state = [
                p["stateOperators"][0]["numRowsTotal"]
                for p in q.recentProgress
                if p.get("stateOperators")
            ][-1]
        finally:
            q.stop()
        rows = sorted(
            (r["user_id"], r["ts"], r["value"], r["variacao_diaria"])
            for r in spark.table(name).collect()
        )
        return n_state, rows

    # final watermark = 1400s - 60s = 1340s: key 1 drained at ts=1010s,
    # horizon 120s long passed -> retired; key 2 still holds its 1400s row
    n_retire, rows_retire = drain("retire_on", "120 seconds")
    n_keep, rows_keep = drain("retire_off", None)
    assert n_retire == 1
    assert n_keep == 2  # both keys keep a state row forever without TTL
    assert rows_retire == rows_keep and len(rows_retire) == 4


def test_stream_stream_join_equals_batch(spark, sf_dir, split_events_dir):
    """Stream-stream interval join (click_attribution_join): two watermarked
    file streams over the same micro-batched fixture must emit exactly the
    batch twin's pairs — including pairs whose view and click arrive in
    DIFFERENT micro-batches (the buffered-state case the operator exists
    for)."""
    from airflow_etl_finance_market_spark.streaming.windows import (
        click_attribution_join,
    )

    ev_b = read_events_batch(spark, f"{sf_dir}/events.parquet")
    batch = click_attribution_join(
        ev_b.filter(F.col("event_type") == "view"),
        ev_b.filter(F.col("event_type") == "click"),
    )
    views_s = read_events_stream(
        spark, f"{split_events_dir}/b*", max_files_per_trigger=1
    ).filter(F.col("event_type") == "view")
    clicks_s = read_events_stream(
        spark, f"{split_events_dir}/b*", max_files_per_trigger=1
    ).filter(F.col("event_type") == "click")
    got = run_available_now(
        click_attribution_join(views_s, clicks_s),
        "ss_join",
        output_mode="append",
    )
    got_rows, batch_rows = _rows(got), _rows(batch)
    assert batch_rows, "fixture produced no view→click pairs at all"
    assert got_rows == batch_rows


def test_stream_stream_join_pairs_across_micro_batches(spark, tmp_path):
    """The buffered-state case the operator exists for, made deterministic:
    the view arrives in micro-batch 0, its click 5 minutes later in
    micro-batch 1 — the pair can only exist if batch 0's view was held in
    join state. A decoy click outside the horizon must not pair."""
    import datetime as dt
    import os

    from airflow_etl_finance_market_spark.streaming.io import (
        EVENTS_STREAM_SCHEMA,
        read_events_stream,
    )
    from airflow_etl_finance_market_spark.streaming.windows import (
        click_attribution_join,
    )

    t0 = 1_700_000_000_000_000_000  # epoch nanos
    MIN = 60 * 1_000_000_000
    batches = [
        [(1, t0, 7, "view", 1.0, "{}")],
        [
            (2, t0 + 5 * MIN, 7, "click", 1.0, "{}"),
            # same user, 2 h later: outside the 30-min horizon
            (3, t0 + 120 * MIN, 7, "click", 1.0, "{}"),
            # watermark pusher so the horizon closes
            (4, t0 + 300 * MIN, 8, "view", 1.0, "{}"),
        ],
    ]
    out = str(tmp_path / "ssj")
    for i, rows in enumerate(batches):
        bdir = f"{out}/b{i}"
        spark.createDataFrame(rows, EVENTS_STREAM_SCHEMA).coalesce(
            1
        ).write.mode("overwrite").parquet(bdir)
        for f in os.listdir(bdir):
            if f.endswith(".parquet"):
                os.utime(f"{bdir}/{f}", (1_700_000_000 + i, 1_700_000_000 + i))
    views = read_events_stream(
        spark, f"{out}/b*", max_files_per_trigger=1
    ).filter(F.col("event_type") == "view")
    clicks = read_events_stream(
        spark, f"{out}/b*", max_files_per_trigger=1
    ).filter(F.col("event_type") == "click")
    got = _rows(
        run_available_now(
            click_attribution_join(views, clicks, watermark="10 minutes"),
            "ssj_cross",
            output_mode="append",
        )
    )
    base = dt.datetime(2023, 11, 14, 22, 13, 20)
    assert got == [(7, base, base + dt.timedelta(minutes=5), 300)]


def test_stream_stream_left_outer_emits_unmatched_views(spark, tmp_path):
    """leftOuter stream-stream join: a view with no click in its horizon
    must be emitted NULL-padded once the watermark expires its state —
    not silently dropped (inner) and not emitted before it is provably
    unmatched."""
    import os

    from airflow_etl_finance_market_spark.streaming.io import (
        EVENTS_STREAM_SCHEMA,
        read_events_stream,
    )
    from airflow_etl_finance_market_spark.streaming.windows import (
        click_attribution_join,
    )

    t0 = 1_700_000_000_000_000_000
    MIN = 60 * 1_000_000_000
    batches = [
        [
            (1, t0, 7, "view", 1.0, "{}"),          # converts
            (2, t0, 9, "view", 1.0, "{}"),          # never converts
        ],
        [(3, t0 + 5 * MIN, 7, "click", 1.0, "{}")],
        # watermark pushers in BOTH streams (the global watermark is the
        # MIN across the two watermarked sources — a pusher in only one
        # leaves the other's watermark at its stale max and nothing ever
        # evicts), then one more batch: the watermark used by batch N is
        # computed from batches < N, so eviction (and the outer NULL
        # emission) happens one batch AFTER the pushers arrive. Pusher
        # users are all distinct so they add no pairs of their own.
        [
            (4, t0 + 600 * MIN, 10, "view", 1.0, "{}"),
            (5, t0 + 600 * MIN, 11, "click", 1.0, "{}"),
        ],
        [
            (6, t0 + 601 * MIN, 12, "view", 1.0, "{}"),
            (7, t0 + 601 * MIN, 13, "click", 1.0, "{}"),
        ],
    ]
    out = str(tmp_path / "ssj_outer")
    for i, rows in enumerate(batches):
        bdir = f"{out}/b{i}"
        spark.createDataFrame(rows, EVENTS_STREAM_SCHEMA).coalesce(
            1
        ).write.mode("overwrite").parquet(bdir)
        for f in os.listdir(bdir):
            if f.endswith(".parquet"):
                os.utime(f"{bdir}/{f}", (1_700_000_000 + i, 1_700_000_000 + i))
    views = read_events_stream(
        spark, f"{out}/b*", max_files_per_trigger=1
    ).filter(F.col("event_type") == "view")
    clicks = read_events_stream(
        spark, f"{out}/b*", max_files_per_trigger=1
    ).filter(F.col("event_type") == "click")
    got = _rows(
        run_available_now(
            click_attribution_join(
                views, clicks, watermark="10 minutes", how="leftOuter"
            ),
            "ssj_outer",
            output_mode="append",
        )
    )
    by_user = {r[0]: r for r in got}
    assert by_user[7][2] is not None and by_user[7][3] == 300
    assert by_user[9][2] is None and by_user[9][3] is None


def test_foreachbatch_upsert_is_idempotent_across_redelivery(
    spark, sf_dir, split_events_dir, tmp_path
):
    """foreachBatch + append_if_absent: every event lands exactly once even
    when the source redelivers (fresh checkpoint over already-landed
    files = worst-case full replay), and a normal incremental drain adds
    only the new batch."""
    from airflow_etl_finance_market_spark.streaming.io import (
        run_available_now_upsert,
    )
    import shutil

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    os.makedirs(src)
    for b in ("b0", "b1"):
        shutil.copytree(f"{split_events_dir}/{b}", f"{src}/{b}")

    def drain(ckpt):
        run_available_now_upsert(
            read_events_stream(spark, f"{src}/b*"),
            out,
            str(tmp_path / ckpt),
            keys=["event_id"],
        )

    drain("ckpt1")
    n1 = spark.read.parquet(out).count()
    # full replay with a FRESH checkpoint: offset tracking is gone, the
    # key anti-join is the only thing standing between us and duplicates
    drain("ckpt2")
    assert spark.read.parquet(out).count() == n1
    # incremental: add b2, re-drain on the original checkpoint
    shutil.copytree(f"{split_events_dir}/b2", f"{src}/b2")
    drain("ckpt1")
    got = spark.read.parquet(out)
    batch = read_events_batch(spark, f"{sf_dir}/events.parquet")
    assert got.count() == batch.count()
    assert got.select("event_id").distinct().count() == batch.count()


def test_stream_static_enrichment_equals_batch(spark, sf_dir, split_events_dir):
    """Stream-static join: every micro-batch enriches against the static
    dim identically to the batch twin; events without a dim row survive
    (left join) with NULL attributes."""
    from airflow_etl_finance_market_spark.sources.readers import load_fixture
    from airflow_etl_finance_market_spark.streaming.windows import (
        enrich_with_dim,
    )

    dim = load_fixture(spark, sf_dir, "customer")
    batch = enrich_with_dim(
        read_events_batch(spark, f"{sf_dir}/events.parquet"), dim
    ).select("event_id", "user_id", "c_mktsegment")
    stream = enrich_with_dim(
        read_events_stream(spark, f"{split_events_dir}/b*", max_files_per_trigger=1),
        dim,
    ).select("event_id", "user_id", "c_mktsegment")
    got = run_available_now(stream, "enriched", output_mode="append")
    assert _rows(got) == _rows(batch)
    # the join is genuinely enriching: at least one non-NULL segment
    assert got.filter(F.col("c_mktsegment").isNotNull()).count() > 0


def test_funnel_stateful_batch_matches_python_replay(spark):
    """Earliest-event chaining incl. the strict-after equal-timestamp edge:
    a 'click' AT the view's exact reach time must NOT advance."""
    from airflow_etl_finance_market_spark.streaming.stateful import (
        funnel_stateful,
    )

    rows = [
        # user 1: clean view -> click -> purchase
        (1, 100, "view"), (1, 200, "click"), (1, 300, "purchase"),
        # user 2: click BEFORE view, then click again after -> reaches 2
        (2, 50, "click"), (2, 100, "view"), (2, 150, "click"),
        # user 3: click AT the same ts as view (strict > fails) -> only 1
        (3, 100, "view"), (3, 100, "click"),
        # user 4: never views -> no rows at all
        (4, 10, "click"), (4, 20, "purchase"),
        # noise types are ignored
        (1, 150, "error"),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts_s long, event_type string"
    ).select("user_id", F.timestamp_seconds("ts_s").alias("ts"), "event_type")
    got = {
        (r.user_id, r.step_idx, r.step, int(r.reached_at.timestamp()))
        for r in funnel_stateful(df).collect()
    }
    assert got == {
        (1, 1, "view", 100), (1, 2, "click", 200), (1, 3, "purchase", 300),
        (2, 1, "view", 100), (2, 2, "click", 150),
        (3, 1, "view", 100),
    }


def test_funnel_stateful_stream_equals_batch_out_of_order(spark, tmp_path):
    """The streaming funnel over displaced (late-but-within-watermark)
    micro-batches must emit exactly the batch chain over the finalized
    prefix — the reorder-buffer contract applied to the step machine."""
    import os

    from airflow_etl_finance_market_spark.streaming.stateful import (
        funnel_stateful,
    )

    rng_rows = []
    # 30 users x 6 events across 3 'days'; types cycle so most users
    # produce partial funnels, some full
    types = ["view", "click", "purchase", "error", "view", "click"]
    for u in range(30):
        for i in range(6):
            t = 1000 + i * 500 + (u * 37 + i * 13) % 400
            rng_rows.append((u, t, types[(u + i) % len(types)]))
    df = spark.createDataFrame(
        rng_rows, "user_id long, ts_s long, event_type string"
    ).select("user_id", F.timestamp_seconds("ts_s").alias("ts"), "event_type")

    out = str(tmp_path / "funnel_src")
    lo, hi = 1000, 1000 + 5 * 500 + 400
    span = (hi - lo) // 3 + 1
    for i in range(3):
        b_lo, b_hi = lo + i * span, lo + (i + 1) * span
        part = df.filter(
            (F.unix_timestamp("ts") >= b_lo) & (F.unix_timestamp("ts") < b_hi)
        )
        keep = part.filter((F.col("user_id") % 5 != 0) | (F.lit(i) == 2))
        if i > 0:
            late = df.filter(
                (F.unix_timestamp("ts") >= lo + (i - 1) * span)
                & (F.unix_timestamp("ts") < b_lo)
                & (F.col("user_id") % 5 == 0)
            )
            keep = keep.unionByName(late)
        pdir = f"{out}/b{i}"
        keep.coalesce(1).write.mode("overwrite").parquet(pdir)
        for f in os.listdir(pdir):
            if f.endswith(".parquet"):
                os.utime(f"{pdir}/{f}", (1_700_000_000 + i,) * 2)

    delay_s = span + 60
    stream = (
        spark.readStream.schema("user_id long, ts timestamp, event_type string")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{out}/b*")
    )
    q = (
        funnel_stateful(stream, delay=f"{delay_s} seconds")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("funnel_ooo")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        (r.user_id, r.step_idx, r.step, r.reached_at)
        for r in spark.table("funnel_ooo").collect()
    }
    wm_final_us = hi * 1_000_000 // 1000 * 1000 - delay_s * 1_000_000
    finalized = df.filter(
        F.unix_micros(F.col("ts").cast("timestamp_ltz")) <= wm_final_us
    )
    expect = {
        (r.user_id, r.step_idx, r.step, r.reached_at)
        for r in funnel_stateful(finalized).collect()
    }
    assert got == expect and len(got) > 10


def test_funnel_retires_completed_and_idle_keys(spark, tmp_path):
    """funnel_stateful(retire_after=...) drops a key's state row once its
    buffer is drained and the watermark has passed its last machine
    advance by the horizon — completed-user tombstones (and stalled
    mid-funnel positions) are bounded by key LIVENESS, not all-time user
    cardinality (the r05 verdict's structural streaming risk). The
    event-time timeout doubles as the retirement alarm; emitted output is
    identical with and without retirement."""
    import os

    from airflow_etl_finance_market_spark.streaming.stateful import (
        funnel_stateful,
    )

    out = str(tmp_path / "funnel_retire_src")
    # user 1 COMPLETES the funnel in batch 0 (last advance ts=1020s) and
    # then goes silent forever; user 2 stays live into batch 2 with an
    # unfinalized row that must keep its state
    # user 3 advances once (view@1050) then keeps sending NON-advancing
    # views — the machine never moves, but the user is LIVE: the
    # retirement clock must run on the last finalized event, not the
    # last machine advance (round-6 review finding)
    batches = [
        [
            (1, 1000, "view"), (1, 1010, "click"), (1, 1020, "purchase"),
            (2, 1060, "view"), (3, 1050, "view"),
        ],
        [(2, 1200, "click"), (3, 1150, "view")],
        [(2, 1400, "view"), (3, 1250, "view")],
    ]
    for i, rows in enumerate(batches):
        df = spark.createDataFrame(
            rows, "user_id long, ts_s long, event_type string"
        ).select(
            "user_id", F.timestamp_seconds("ts_s").alias("ts"), "event_type"
        )
        pdir = f"{out}/b{i}"
        df.coalesce(1).write.parquet(pdir)
        for f in os.listdir(pdir):
            if f.endswith(".parquet"):
                os.utime(f"{pdir}/{f}", (1_700_000_000 + i,) * 2)

    def drain(name, retire):
        stream = (
            spark.readStream.schema(
                "user_id long, ts timestamp, event_type string"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{out}/b*")
        )
        q = (
            funnel_stateful(
                stream, delay="60 seconds", retire_after=retire
            )
            .writeStream.outputMode("append")
            .format("memory")
            .queryName(name)
            .start()
        )
        try:
            q.processAllAvailable()
            n_state = [
                p["stateOperators"][0]["numRowsTotal"]
                for p in q.recentProgress
                if p.get("stateOperators")
            ][-1]
        finally:
            q.stop()
        rows = sorted(
            (r["user_id"], r["step_idx"], r["step"], r["reached_at"])
            for r in spark.table(name).collect()
        )
        return n_state, rows

    # final watermark = 1400s - 60s = 1340s; user 1's last finalized
    # event 1020s + 100s horizon = 1120s long passed -> retired. user 2
    # still buffers its unfinalized 1400s view -> kept. user 3's last
    # FINALIZED (non-advancing) view is 1250s -> 1350s > 1340s -> kept,
    # even though its last machine ADVANCE was back at 1050s.
    n_retire, rows_retire = drain("funnel_retire_on", "100 seconds")
    n_keep, rows_keep = drain("funnel_retire_off", None)
    assert n_retire == 2
    assert n_keep == 3  # completed user 1 keeps a tombstone forever
    assert rows_retire == rows_keep
    # user 1's full funnel + user 2's finalized prefix (view@1060,
    # click@1200) + user 3's single advance; the 1400s view stays
    # buffered/unfinalized and duplicate views never re-emit
    assert [(u, i, s) for u, i, s, _ in rows_retire] == [
        (1, 1, "view"), (1, 2, "click"), (1, 3, "purchase"),
        (2, 1, "view"), (2, 2, "click"),
        (3, 1, "view"),
    ]


def test_media_signature_dedup_carries_state_across_batches(spark, tmp_path):
    """A re-send arriving in a LATER micro-batch (inside the watermark)
    must still dedup — dropDuplicatesWithinWatermark state carries across
    batch boundaries until the watermark passes."""
    from airflow_etl_finance_market_spark.operators.dedup import fingerprint
    from airflow_etl_finance_market_spark.streaming import dedup_events

    t0 = 1_700_000_000_000_000
    in_dir = tmp_path / "in"
    schema = "doc_id long, ts long, text string"
    # batch 0: the original + an unrelated document; batch 1: a case and
    # whitespace variant of document 1, 1 s later (within the watermark)
    batches = [
        [
            (1, t0, "Quarterly results beat estimates"),
            (2, t0, "an unrelated note on bond yields"),
        ],
        [(3, t0 + 1_000_000, "quarterly  RESULTS beat   estimates")],
    ]
    for i, rows in enumerate(batches):
        d = str(in_dir / f"b{i}")
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(d)
        for f in os.listdir(d):
            if f.endswith(".parquet"):
                os.utime(f"{d}/{f}", (1_700_000_000 + i,) * 2)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(in_dir / "b*"))
        .withColumn("ts", F.expr("timestamp_micros(ts)"))
        .withColumn("fp", fingerprint("text"))
    )
    got = run_available_now(
        dedup_events(stream, keys=("fp",), ts="ts", watermark="1 hour"),
        "media_dedup_xbatch",
        output_mode="append",
    )
    rows = sorted(r.doc_id for r in got.collect())
    assert rows == [1, 2]  # doc 3's variant deduped ACROSS the boundary
