"""Custom stateful streaming operator: per-key pct-change (W1/W2, streamed).

The batch engine computes ``variacao_diaria`` with a LAG window
(reference: dags/financial_pipeline.py:192-193 → plans.volatility). A
stream cannot LAG across micro-batches, so the streaming twin keeps the
last observed value per key in the state store and splices it into the
front of each batch — ``applyInPandasWithState``, the (b)-tier custom
operator per the build rules (Arrow-batched, one state row per key).

Cross-batch semantics assume per-key event-time-ordered arrival (one
file/day cadence like the reference's daily feed). Out-of-order arrivals
within a batch are sorted; across batches they would need a
reorder-buffer variant (event-time timeout + buffer in state).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def pct_change_stateful(
    events: DataFrame,
    *,
    key: str = "user_id",
    ts: str = "ts",
    value: str = "value",
) -> DataFrame:
    """(key, ts, value, variacao_diaria) with pct-change carried across
    micro-batches via the state store.

    Batch frames take the LAG-window path (identical single-batch
    semantics, zero-state) — which doubles as the differential oracle for
    the streaming path in tests.
    """
    if not events.isStreaming:
        w = Window.partitionBy(key).orderBy(ts)
        prev = F.lag(value).over(w)
        return events.select(
            key,
            ts,
            value,
            (
                (F.col(value) - prev)
                / F.when(prev == 0, None).otherwise(prev)
                * 100
            ).alias("variacao_diaria"),
        )

    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = (
        f"{key} long, {ts} timestamp, {value} double, variacao_diaria double"
    )
    state_schema = "last_value double"
    # Rebind to locals: the closure below must be fully self-contained
    # (it is unpickled on Python workers without the repo on sys.path).
    k_col, ts_col, v_col = key, ts, value

    def fn(key_tuple, pdf_iter, state):
        import pandas as pd

        last = state.get[0] if state.exists else None
        for pdf in pdf_iter:
            if pdf.empty:
                continue
            pdf = pdf.sort_values(ts_col).reset_index(drop=True)
            prev = pdf[v_col].shift(1)
            if last is not None:
                prev.iloc[0] = last
            pct = (pdf[v_col] - prev) / prev.where(prev != 0) * 100.0
            last = float(pdf[v_col].iloc[-1])
            out = pd.DataFrame(
                {
                    k_col: key_tuple[0],
                    ts_col: pdf[ts_col],
                    v_col: pdf[v_col],
                    # nullable Float64 so first-row/zero-prev become real
                    # NULLs (plain float64 would ship NaN, not NULL)
                    "variacao_diaria": pd.array(pct, dtype="Float64"),
                }
            )
            yield out
        if last is not None:
            state.update((last,))

    return (
        events.select(key, ts, value)
        .groupBy(key)
        .applyInPandasWithState(
            fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
        )
    )


def _duration_us(spec: str) -> int:
    """Parse a '<n> <unit>' duration (second/minute/hour/day, plural ok)
    to epoch microseconds — the subset of Spark's interval syntax the
    streaming operators accept."""
    n_str, _, unit = spec.strip().partition(" ")
    mult = {
        "second": 1_000_000,
        "minute": 60_000_000,
        "hour": 3_600_000_000,
        "day": 86_400_000_000,
    }.get(unit.strip().rstrip("s").lower())
    if mult is None or not n_str.isdigit():
        raise ValueError(
            f"duration must be '<n> second|minute|hour|day(s)', got {spec!r}"
        )
    return int(n_str) * mult


def pct_change_reordered(
    events: DataFrame,
    *,
    key: str = "user_id",
    ts: str = "ts",
    value: str = "value",
    delay: str = "1 hour",
    retire_after: str | None = None,
) -> DataFrame:
    """Out-of-order-tolerant streaming pct-change: the reorder-buffer
    variant :func:`pct_change_stateful`'s docstring promises.

    Rows buffer in per-key state until the event-time watermark passes
    them — only then can no earlier-timestamped row still arrive — and are
    emitted in timestamp order, each diffed against the previously emitted
    value. Within the ``delay`` horizon ANY arrival order yields exactly
    the batch LAG result; rows later than the watermark are dropped by
    Spark before reaching the operator (the same contract as every
    watermarked aggregate). Rows whose timestamp the final watermark never
    passes stay buffered (append-mode semantics: unfinalized = unemitted).

    State per key = last emitted value + timestamp + the buffered
    (ts, value) arrays — bounded by the key's arrival rate times
    ``delay``, the same bound a windowed aggregate's state carries.
    Event-time timeouts flush a key's newly-eligible rows even in
    micro-batches where the key receives no new data.

    ``retire_after`` bounds total state by key LIVENESS, not just key
    cardinality: a drained key (empty buffer) whose last emitted
    timestamp the watermark has passed by more than the horizon is
    REMOVED from the state store — the event-time timeout doubles as the
    retirement alarm, so a key retires even if it never receives another
    row. The trade is explicit and standard for keyed-state TTLs: a key
    that reappears AFTER retiring lost its diff base, so its first new
    row emits NULL pct-change, exactly like a brand-new key. With the
    default ``retire_after=None`` every key's last value is kept forever
    (diff bases never lost; state grows with distinct-key cardinality,
    like any keyed streaming aggregate) — choose the horizon to match the
    deployment's key-churn profile.

    Batch frames take the LAG-window path (identical semantics, no state).
    """
    if not events.isStreaming:
        return pct_change_stateful(events, key=key, ts=ts, value=value)

    from pyspark.sql.streaming.state import GroupStateTimeout

    # Everything time-valued inside the operator — buffer, state, watermark
    # compare, timeout, OUTPUT — is EPOCH micros from the JVM-computed
    # _ts_us column: Arrow delivers the timestamp column as SESSION-LOCAL
    # naive wall clock while getCurrentWatermarkMs is epoch, so comparing
    # wall clock to epoch shifts every row by the TZ offset (5 h under
    # America/New_York; no constant correction survives a DST boundary).
    # The worker therefore never touches the timestamp column at all; the
    # epoch output converts back via timestamp_micros JVM-side, which also
    # keeps CHECKPOINTED state TZ-free — persisting wall-clock micros would
    # shift rows buffered across a restart whose session TZ changed.
    out_schema = (
        f"{key} long, _ts_us long, {value} double, variacao_diaria double"
    )
    state_schema = (
        "last_value double, last_ts long, "
        "buf_ts array<long>, buf_val array<double>"
    )
    k_col, v_col = key, value
    retire_us = _duration_us(retire_after) if retire_after is not None else None

    def fn(key_tuple, pdf_iter, state):
        import pandas as pd

        last, last_ts, buf_ts, buf_val = (
            state.get if state.exists else (None, None, [], [])
        )
        buf = list(zip(buf_ts or [], buf_val or []))
        for pdf in pdf_iter:
            if pdf.empty:
                continue
            buf.extend(zip(pdf["_ts_us"].tolist(), pdf[v_col].tolist()))
        buf.sort()
        wm_us = state.getCurrentWatermarkMs() * 1000
        emit = [e for e in buf if e[0] <= wm_us]
        hold = [e for e in buf if e[0] > wm_us]
        if emit:
            out_ts, out_v, out_pct = [], [], []
            for t, v in emit:
                pct = (
                    None
                    if last is None or last == 0
                    else (v - last) / last * 100.0
                )
                out_ts.append(t)
                out_v.append(v)
                out_pct.append(pct)
                last = v
            last_ts = out_ts[-1]
            yield pd.DataFrame(
                {
                    k_col: key_tuple[0],
                    "_ts_us": pd.Series(out_ts, dtype="int64"),
                    v_col: out_v,
                    "variacao_diaria": pd.array(out_pct, dtype="Float64"),
                }
            )
        if (
            not hold
            and retire_us is not None
            and (last_ts is None or wm_us >= last_ts + retire_us)
        ):
            # drained past the retention horizon (or vacuous state):
            # drop the key entirely — its diff base is forfeited, so a
            # reappearance starts like a brand-new key
            state.remove()
            return
        state.update(
            (last, last_ts, [e[0] for e in hold], [e[1] for e in hold])
        )
        if hold:
            # wake this key when the watermark passes its oldest held row
            # (epoch ms, matching the event-time timeout clock)
            state.setTimeoutTimestamp(hold[0][0] // 1000 + 1)
        elif retire_us is not None:
            # drained but not yet past the horizon: alarm at retirement
            # time so the key is dropped even if no row ever arrives
            # again (timeout must sit strictly past the watermark)
            state.setTimeoutTimestamp(
                max((last_ts + retire_us) // 1000 + 1, wm_us // 1000 + 1)
            )

    return (
        events.select(key, ts, value)
        .withColumn("_ts_us", F.unix_micros(F.col(ts)))
        .withWatermark(ts, delay)
        .groupBy(key)
        .applyInPandasWithState(
            fn,
            out_schema,
            state_schema,
            "append",
            GroupStateTimeout.EventTimeTimeout,
        )
        .select(
            key,
            F.timestamp_micros(F.col("_ts_us")).alias(ts),
            value,
            "variacao_diaria",
        )
    )


def funnel_stateful(
    events: DataFrame,
    steps: tuple[str, ...] = ("view", "click", "purchase"),
    *,
    key: str = "user_id",
    ts: str = "ts",
    type_col: str = "event_type",
    delay: str = "1 hour",
    retire_after: str | None = None,
) -> DataFrame:
    """Ordered-funnel progression as a custom stateful streaming operator
    — the CEP-shaped query Spark has no MATCH_RECOGNIZE for: emit
    (key, step_idx, step, reached_at) the moment a user's FINALIZED
    event history first satisfies step k strictly after step k-1's
    reach time (earliest-event chaining, the exact batch semantics of
    operators/funnel.event_funnel, which counts these rows per step).

    Streaming semantics mirror :func:`pct_change_reordered`: events
    buffer per key until the watermark passes them, then replay in
    event-time order through the per-key step machine, so ANY arrival
    order within the ``delay`` horizon yields exactly the batch answer.
    Non-step event types are dropped BEFORE the state store (map-side
    filter — they can never advance the machine). A completed user
    keeps a one-row tombstone so late duplicates can't restart the
    funnel; state per live key = machine position + the ≤ delay-horizon
    buffer, the same bound as every watermarked operator here.

    ``retire_after`` bounds total state by key LIVENESS exactly as in
    :func:`pct_change_reordered` — without it the completed-user
    tombstone (and the machine position of a user who stalls mid-funnel
    forever) lives as long as the query, i.e. state grows with ALL-TIME
    user cardinality, the defect ``retire_after`` was built to kill.
    A DRAINED key (empty reorder buffer) whose last FINALIZED event —
    advancing or not, so a user streaming duplicate/early step events
    stays live — the watermark has passed by more than the horizon is
    removed from the state store; the event-time timeout doubles as the
    retirement alarm so an idle key retires even if it never receives
    another row. The trade is the standard keyed-TTL one, stated
    explicitly: a user who reappears past the horizon restarts from
    step 0 — a late duplicate arriving that long after completion can
    re-emit funnel rows, so choose the horizon longer than any
    plausible duplicate/retry window (it only needs to be shorter than
    the all-time stream to bound state).

    Batch frames compute the identical frame declaratively (chained
    earliest-event user-keyed joins over a monotonically shrinking
    frame) — the differential oracle for the streaming path.
    """
    step_list = list(steps)
    if not step_list:
        raise ValueError("steps must be non-empty")
    if not events.isStreaming:
        ev = events.select(key, ts, type_col)
        reached = (
            ev.filter(F.col(type_col) == step_list[0])
            .groupBy(key)
            .agg(F.min(ts).alias("_t"))
        )
        frames = [
            reached.select(
                key,
                F.lit(1).alias("step_idx"),
                F.lit(step_list[0]).alias("step"),
                F.col("_t").alias("reached_at"),
            )
        ]
        for i, step in enumerate(step_list[1:], start=2):
            reached = (
                ev.filter(F.col(type_col) == step)
                .join(reached, key)
                .filter(F.col(ts) > F.col("_t"))
                .groupBy(key)
                .agg(F.min(ts).alias("_t"))
            )
            frames.append(
                reached.select(
                    key,
                    F.lit(i).alias("step_idx"),
                    F.lit(step).alias("step"),
                    F.col("_t").alias("reached_at"),
                )
            )
        out = frames[0]
        for f in frames[1:]:
            out = out.unionAll(f)
        return out

    from pyspark.sql.streaming.state import GroupStateTimeout

    # epoch-micros discipline throughout (see pct_change_reordered's TZ
    # note): the worker never touches the timestamp column.
    out_schema = f"{key} long, step_idx int, step string, _ts_us long"
    # STATE-SHAPE COMPATIBILITY: adding `last_seen` (the retire_after
    # clock, round 6) changed the applyInPandasWithState state layout. A
    # streaming query restored from a checkpoint written by a pre-
    # retirement build would misinterpret or fail on existing state rows —
    # funnel queries upgrading across that boundary need a FRESH
    # checkpoint location (the standard Structured Streaming contract for
    # any state-schema change; r06 advice).
    state_schema = (
        "cur_idx int, last_t long, last_seen long, "
        "buf_ts array<long>, buf_type array<string>"
    )
    k_col, t_col = key, type_col
    steps_local = step_list
    retire_us = _duration_us(retire_after) if retire_after is not None else None

    def fn(key_tuple, pdf_iter, state):
        import pandas as pd

        cur, last_t, last_seen, buf_ts, buf_type = (
            state.get if state.exists else (0, None, None, [], [])
        )
        buf = list(zip(buf_ts or [], buf_type or []))
        for pdf in pdf_iter:
            if pdf.empty:
                continue
            buf.extend(zip(pdf["_ts_us"].tolist(), pdf[t_col].tolist()))
        buf.sort()
        wm_us = state.getCurrentWatermarkMs() * 1000
        emit_idx, emit_step, emit_ts = [], [], []
        hold = []
        for t, et in buf:
            if t > wm_us:
                hold.append((t, et))
                continue
            # the RETIREMENT clock is the last FINALIZED event, advancing
            # or not — keying it on machine advances alone would retire a
            # user who keeps sending non-advancing (duplicate/early) step
            # events well inside the horizon (caught in round-6 review)
            last_seen = t if last_seen is None else max(last_seen, t)
            if cur < len(steps_local) and et == steps_local[cur] and (
                cur == 0 or t > last_t
            ):
                cur += 1
                last_t = t
                emit_idx.append(cur)
                emit_step.append(et)
                emit_ts.append(t)
        if emit_idx:
            yield pd.DataFrame(
                {
                    k_col: key_tuple[0],
                    "step_idx": pd.Series(emit_idx, dtype="int32"),
                    "step": emit_step,
                    "_ts_us": pd.Series(emit_ts, dtype="int64"),
                }
            )
        if (
            not hold
            and retire_us is not None
            and (last_seen is None or wm_us >= last_seen + retire_us)
        ):
            # drained past the retention horizon (or never advanced the
            # machine at all): drop the key — completed-user tombstones
            # and stalled machine positions are forfeited, so a
            # reappearance starts from step 0 like a brand-new user
            state.remove()
            return
        state.update(
            (cur, last_t, last_seen,
             [e[0] for e in hold], [e[1] for e in hold])
        )
        if hold:
            state.setTimeoutTimestamp(hold[0][0] // 1000 + 1)
        elif retire_us is not None:
            # drained but inside the horizon: alarm at retirement time so
            # the key is dropped even if no row ever arrives again (the
            # timeout must sit strictly past the current watermark)
            state.setTimeoutTimestamp(
                max((last_seen + retire_us) // 1000 + 1, wm_us // 1000 + 1)
            )

    return (
        events.select(key, ts, type_col)
        .filter(F.col(type_col).isin(steps_local))
        .withColumn("_ts_us", F.unix_micros(F.col(ts)))
        # the watermarked ts column must survive to the stateful operator
        # (projecting it away drops the watermark and EventTimeTimeout
        # refuses to plan); fn simply ignores it
        .withWatermark(ts, delay)
        .groupBy(key)
        .applyInPandasWithState(
            fn,
            out_schema,
            state_schema,
            "append",
            GroupStateTimeout.EventTimeTimeout,
        )
        .select(
            key,
            "step_idx",
            "step",
            F.timestamp_micros(F.col("_ts_us")).alias("reached_at"),
        )
    )
