"""Custom stateful streaming operators: count-based windows and running scan.

These are the two reference semantics Spark has no built-in streaming
equivalent for (SURVEY §7.2 "hardest piece"):

- ``rs.data.roll`` count windows (window/stride in *records*, README.rst:63-68)
  — time windows don't apply; needs a per-key row buffer.
- ``rs.ops.scan`` running fold emitting *per record* (makinage/serve/
  serve.py:88-101) — streaming aggregation emits per group, not per record.

Both are implemented over ``applyInPandasWithState`` (Arrow-batched per-key
state; RocksDB/HDFS-checkpointed, so state survives restarts — strictly
stronger than the reference's in-memory stores, README.rst:80-83).

Ordering: state is applied in arrival order per key (micro-batch order, then
an intra-batch sort on the given order column) — the reference's own ordering
model (per-Kafka-partition arrival order, SURVEY §1.3).

Scale: state per key is O(window) for roll and O(1) for scan; keys partition
across executors; skewed keys are bounded by the buffer size, not the stream
length.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd

_AGGS = {
    "mean": lambda xs: sum(xs) / len(xs),
    "sum": lambda xs: float(sum(xs)),
    "min": lambda xs: float(min(xs)),
    "max": lambda xs: float(max(xs)),
    "count": lambda xs: float(len(xs)),
}


def _ordered(pdfs: Iterator[pd.DataFrame], by) -> pd.DataFrame:
    """One key's whole micro-batch, sorted once. Arrow may split a key's rows
    across chunks (``spark.sql.execution.arrow.maxRecordsPerBatch``), so
    sorting chunk by chunk would fold out-of-order rows in the wrong order."""
    return pd.concat(list(pdfs), ignore_index=True).sort_values(by)


def streaming_roll(
    df,
    key_col: str,
    value_col: str,
    order_col: str,
    window: int,
    stride: int,
    agg: str = "mean",
):
    """Streaming ``rs.data.roll``: per-key count windows with stride, emitting
    ``(key, window_id, agg_value)`` for each *completed* window (partial
    windows never emit — README.rst:77-90 golden).

    State = (buffer of values still needed by an open window, count of rows
    consumed so far). A row enters, completed windows flush, and the buffer is
    trimmed to the next un-emitted window start — so state size is bounded by
    ``window + stride`` regardless of stream length.
    """
    if agg not in _AGGS:
        raise ValueError(f"agg must be one of {sorted(_AGGS)}")
    agg_fn = _AGGS[agg]

    def _proc(key: Any, pdfs: Iterator[pd.DataFrame], state) -> Iterator[pd.DataFrame]:
        if state.exists:
            buffer, seen, next_start = state.get
            buffer = list(buffer)
        else:
            buffer, seen, next_start = [], 0, 0
        rows = {"window_id": [], "agg_value": []}
        for v in _ordered(pdfs, order_col)[value_col]:
            buffer.append(float(v))
            seen += 1
            # windows are [s, s+window) for s = k*stride; flush every
            # window completed by this row
            while next_start + window <= seen:
                lo = next_start - (seen - len(buffer))
                rows["window_id"].append(next_start // stride)
                rows["agg_value"].append(agg_fn(buffer[lo : lo + window]))
                next_start += stride
            # trim: nothing before next_start is needed again
            drop = next_start - (seen - len(buffer))
            if drop > 0:
                buffer = buffer[drop:]
        state.update((buffer, seen, next_start))
        if rows["window_id"]:
            out = pd.DataFrame(rows)
            out[key_col] = key[0]
            yield out[[key_col, "window_id", "agg_value"]]

    return df.groupBy(key_col).applyInPandasWithState(
        _proc,
        outputStructType=f"{key_col} long, window_id long, agg_value double",
        stateStructType="buffer array<double>, seen long, next_start long",
        outputMode="append",
        timeoutConf="NoTimeout",
    )


def streaming_scan(df, key_col: str, value_col: str, order_col: str):
    """Streaming ``rs.ops.scan``: per-record running sum/count per key.
    Emits every record with its accumulated state — the Rx scan contract —
    with O(1) state per key."""

    def _proc(key: Any, pdfs: Iterator[pd.DataFrame], state) -> Iterator[pd.DataFrame]:
        total, n = state.get if state.exists else (0.0, 0)
        pdf = _ordered(pdfs, order_col)
        run = pdf[value_col].astype(float).cumsum() + total
        state.update((float(run.iloc[-1]), n + len(run)))
        yield pd.DataFrame(
            {
                key_col: key[0],
                order_col: pdf[order_col].values,
                "running_total": run.values,
                "running_count": pd.RangeIndex(n + 1, n + len(run) + 1),
            }
        )

    return df.groupBy(key_col).applyInPandasWithState(
        _proc,
        outputStructType=(
            f"{key_col} long, {order_col} long, running_total double, running_count long"
        ),
        stateStructType="total double, n long",
        outputMode="append",
        timeoutConf="NoTimeout",
    )


def streaming_pack(df, key_col: str, token_col: str, order_col: str, budget: int):
    """Streaming sequence packing: the stateful twin of
    ``data.pack_sequences``. Per-key state is ONE integer — the cumulative
    token offset consumed so far — so a perpetual ingest stream can assign
    every arriving document to its fixed-token-budget training sequence
    exactly as the batch packer would, with O(1) state per source shard.

    Emits ``(key, order, n_tok, seq_id)`` per record, append mode;
    ``seq_id = floor(start_offset / budget)`` where ``start_offset`` is the
    running token offset before the record (intra-batch order = sort on the
    order column; cross-batch order = arrival, the reference's ordering
    model)."""

    def _proc(key: Any, pdfs: Iterator[pd.DataFrame], state) -> Iterator[pd.DataFrame]:
        (cum,) = state.get if state.exists else (0,)
        pdf = _ordered(pdfs, order_col)
        toks = pdf[token_col].astype("int64")
        ends = toks.cumsum() + cum
        starts = ends - toks
        state.update((int(ends.iloc[-1]),))
        yield pd.DataFrame(
            {
                key_col: key[0],
                order_col: pdf[order_col].values,
                token_col: toks.values,
                "seq_id": (starts // budget).astype("int64").values,
            }
        )

    return df.groupBy(key_col).applyInPandasWithState(
        _proc,
        outputStructType=(
            f"{key_col} string, {order_col} long, {token_col} long, seq_id long"
        ),
        stateStructType="cum long",
        outputMode="append",
        timeoutConf="NoTimeout",
    )


def streaming_funnel(
    df,
    key_col: str,
    ts_col: str,
    type_col: str,
    order_col: str,
    stages: tuple[str, ...] = ("view", "click", "purchase"),
):
    """Streaming ordered-funnel tracker: per-key state is ONE timestamp per
    stage — the earliest time each stage was reached via a strictly-ordered
    chain (stage k counts only after stage k-1's current earliest time and
    strictly later than it). The batch twin is q_funnel_conversion's chained
    cumulative-min windows; the fold below is the same recurrence applied in
    event order, so the final emission per key hash-matches the batch SQL
    oracle.

    Emits one row per key per micro-batch with the current stage mins
    (micros) and a monotone ``emit_seq``; take each key's max emit_seq for
    the as-of-now funnel state. State is O(len(stages)) = O(1) per key
    forever — a perpetual product-analytics stream never grows it.

    Ordering: per-key arrival order across micro-batches with an intra-batch
    (ts, order) sort — the reference's per-Kafka-partition ordering model
    (SURVEY §1.3); out-of-order regressions across batches would need
    watermark-delayed finalization instead.
    """
    n_stages = len(stages)

    def _proc(key: Any, pdfs: Iterator[pd.DataFrame], state) -> Iterator[pd.DataFrame]:
        if state.exists:
            st = list(state.get[0])
            seq = state.get[1]
        else:
            st, seq = [None] * n_stages, 0
        mins = [None if m is None or m < 0 else m for m in st]
        pdf = _ordered(pdfs, [ts_col, order_col])
        ts_us = pdf[ts_col].astype("int64") // 1000
        for t, et in zip(ts_us, pdf[type_col]):
            try:
                i = stages.index(et)
            except ValueError:
                continue
            if i > 0 and (mins[i - 1] is None or not (mins[i - 1] < t)):
                continue
            if mins[i] is None or t < mins[i]:
                mins[i] = int(t)
        seq += 1
        state.update(([-1 if m is None else m for m in mins], seq))
        out = {key_col: [key[0]], "emit_seq": [seq]}
        for j in range(n_stages):
            out[f"stage{j + 1}_us"] = [mins[j]]
        yield pd.DataFrame(out)

    stage_cols = ", ".join(f"stage{j + 1}_us long" for j in range(n_stages))
    return df.groupBy(key_col).applyInPandasWithState(
        _proc,
        outputStructType=f"{key_col} long, emit_seq long, {stage_cols}",
        stateStructType="mins array<long>, seq long",
        outputMode="append",
        timeoutConf="NoTimeout",
    )


def streaming_debounce(df, key_col: str, ts_col: str, order_col: str, gap_seconds: int,
                       key_type: str = "string"):
    """Streaming event-time debounce (the stateful twin of ``ops.debounce``):
    per key, hold only the LATEST record; a newcomer more than ``gap`` after
    the held record flushes it (reason='follow'), a newcomer inside the gap
    SUPERSEDES it (trailing-edge semantics — the burst's non-final records
    are dropped); and when the event-time WATERMARK passes the held record's
    quiet period, an event-time TIMEOUT flushes it (reason='timeout') — the
    only way a debounce can ever emit the final element of a stream.

    This is the repo's timer-based stateful shape: state is O(1) per key
    (one timestamp + one order id), and emission is driven by
    ``GroupStateTimeout.EventTimeTimeout`` + ``setTimeoutTimestamp``, so
    correctness follows the watermark, not wall clock — deterministic under
    replay. Input must carry ``withWatermark(ts_col, ...)``.

    Emits ``(key, order, ts_us, reason)`` per flushed record.
    """
    gap_us = int(gap_seconds) * 1_000_000

    def _proc(key: Any, pdfs: Iterator[pd.DataFrame], state) -> Iterator[pd.DataFrame]:
        out = {"order": [], "ts_us": [], "reason": []}
        if state.hasTimedOut:
            held_ts, held_order = state.get
            out["order"].append(int(held_order))
            out["ts_us"].append(int(held_ts))
            out["reason"].append("timeout")
            state.remove()
        else:
            held = state.get if state.exists else None
            pdf = _ordered(pdfs, [ts_col, order_col])
            ts_us = pdf[ts_col].astype("int64") // 1000
            for t, oid in zip(ts_us, pdf[order_col]):
                t, oid = int(t), int(oid)
                if held is not None and t > held[0] + gap_us:
                    out["order"].append(int(held[1]))
                    out["ts_us"].append(int(held[0]))
                    out["reason"].append("follow")
                    held = (t, oid)
                elif held is None or (t, oid) > held:
                    # supersede only when the newcomer sorts strictly
                    # after the held record on (ts, order) — an
                    # equal-timestamp record arriving in a later
                    # micro-batch with a smaller order id must not
                    # replace it (batch oracle tie-break is (ts, id))
                    held = (t, oid)
            state.update((held[0], held[1]))
            # flush when the watermark passes the quiet period
            state.setTimeoutTimestamp(held[0] // 1000 + gap_seconds * 1000 + 1)
        if out["order"]:
            res = pd.DataFrame(out)
            res[key_col] = key[0]
            yield res[[key_col, "order", "ts_us", "reason"]]

    return df.groupBy(key_col).applyInPandasWithState(
        _proc,
        outputStructType=f"{key_col} {key_type}, order long, ts_us long, reason string",
        stateStructType="held_ts long, held_order long",
        outputMode="append",
        timeoutConf="EventTimeTimeout",
    )


def streaming_ewma(df, key_col: str, value_col: str, order_col: str, alpha: float):
    """Streaming EWMA: the O(1)-state recursive twin of ``smath.ewma`` —
    ``ewma = α·x + (1-α)·ewma_prev`` applied per record in arrival order
    (intra-batch sort on the order column), seeded at the key's first
    observation. State is ONE double per key forever, so the batch
    operator's O(n²) prefix-fold bound never applies on unbounded streams;
    the arithmetic is the same multiply-multiply-add sequence, so a stream
    replay reproduces the batch fold bit-for-bit."""
    a = float(alpha)
    if not 0.0 < a < 1.0:
        raise ValueError("alpha must be in (0, 1)")

    def _proc(key: Any, pdfs: Iterator[pd.DataFrame], state) -> Iterator[pd.DataFrame]:
        if state.exists:
            cur, seeded = state.get
        else:
            cur, seeded = 0.0, False
        pdf = _ordered(pdfs, order_col)
        out = []
        for v in pdf[value_col].astype(float):
            cur = float(v) if not seeded else a * float(v) + (1.0 - a) * cur
            seeded = True
            out.append(cur)
        state.update((cur, seeded))
        yield pd.DataFrame(
            {
                key_col: key[0],
                order_col: pdf[order_col].values,
                "ewma": out,
            }
        )

    return df.groupBy(key_col).applyInPandasWithState(
        _proc,
        outputStructType=f"{key_col} long, {order_col} long, ewma double",
        stateStructType="cur double, seeded boolean",
        outputMode="append",
        timeoutConf="NoTimeout",
    )


def streaming_zip(df, key_col: str, side_col: str, order_col: str, value_col: str):
    """Streaming ``rx.zip``: pair the i-th left record with the i-th right
    record per key, across micro-batches. Input is the TAGGED UNION of both
    streams (``side_col`` ∈ {0=left, 1=right}); per-key state holds only the
    UNMATCHED tail of whichever side is ahead, so state is bounded by
    inter-stream skew (zero when the sides advance together), never stream
    length. Emits ``(key, pair_seq, left_order, left_value, right_order,
    right_value)`` in append mode.

    Ordering: intra-batch sort on ``order_col``; cross-batch pairing follows
    arrival order — the reference's per-partition ordering model. With
    in-order feeds this reproduces the batch ordinal zip
    (``joins.zip_streams``) exactly (tested)."""

    def _proc(key: Any, pdfs: Iterator[pd.DataFrame], state) -> Iterator[pd.DataFrame]:
        if state.exists:
            lo, lv, ro, rv, seq = state.get
            lo, lv, ro, rv = list(lo), list(lv), list(ro), list(rv)
        else:
            lo, lv, ro, rv, seq = [], [], [], [], 0
        out = {"pair_seq": [], "left_order": [], "left_value": [],
               "right_order": [], "right_value": []}
        pdf = _ordered(pdfs, order_col)
        for side, o, v in zip(pdf[side_col], pdf[order_col], pdf[value_col]):
            if int(side) == 0:
                lo.append(int(o)), lv.append(float(v))
            else:
                ro.append(int(o)), rv.append(float(v))
            while lo and ro:
                out["pair_seq"].append(seq)
                out["left_order"].append(lo.pop(0))
                out["left_value"].append(lv.pop(0))
                out["right_order"].append(ro.pop(0))
                out["right_value"].append(rv.pop(0))
                seq += 1
        state.update((lo, lv, ro, rv, seq))
        if out["pair_seq"]:
            res = pd.DataFrame(out)
            res[key_col] = key[0]
            yield res[[key_col, "pair_seq", "left_order", "left_value",
                       "right_order", "right_value"]]

    return df.groupBy(key_col).applyInPandasWithState(
        _proc,
        outputStructType=(
            f"{key_col} long, pair_seq long, left_order long, left_value double,"
            " right_order long, right_value double"
        ),
        stateStructType=(
            "lo array<long>, lv array<double>, ro array<long>,"
            " rv array<double>, seq long"
        ),
        outputMode="append",
        timeoutConf="NoTimeout",
    )
