"""Custom stateful streaming operator via applyInPandasWithState.

Demonstrates the pattern the built-in window operators can't express:
arbitrary per-key state evolved across micro-batches (here, a running
per-user profile: event count, value sum, last-seen timestamp) with
timeout-based state expiry. Arrow-batched — state updates run over
pandas DataFrames, not row-at-a-time Python.

Scale: state lives in Spark's state store partitioned by user_id;
timeouts bound its size. This is the building block for per-entity
feature accumulation over an unbounded stream.
"""

from __future__ import annotations

from typing import Any, Iterable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql import types as T

PROFILE_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("sum_value", T.DoubleType()),
        T.StructField("last_ts_us", T.LongType()),
    ]
)

STATE_SCHEMA = T.StructType(
    [
        T.StructField("n_events", T.LongType()),
        T.StructField("sum_value", T.DoubleType()),
        T.StructField("last_ts_us", T.LongType()),
    ]
)


def _update_profile(
    key: tuple[Any, ...], pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterable[pd.DataFrame]:
    (user_id,) = key
    n, s, last = state.get if state.exists else (0, 0.0, 0)
    for pdf in pdfs:
        n += len(pdf)
        s += float(pdf["value"].sum())
        if len(pdf):
            # Normalize to datetime64[ns] before the int conversion —
            # Arrow may hand ts as [us] depending on version, which
            # would silently yield milliseconds in a field named _us.
            last = max(
                last,
                int(pdf["ts"].astype("datetime64[ns]").astype("int64").max() // 1000),
            )
    state.update((n, s, last))
    yield pd.DataFrame(
        [{"user_id": user_id, "n_events": n, "sum_value": round(s, 2), "last_ts_us": last}]
    )


def user_profiles(events: DataFrame) -> DataFrame:
    """Running per-user profile over a stream (or batch) of events.
    Emits the updated profile for every user seen in each micro-batch."""
    return (
        events.groupBy("user_id")
        .applyInPandasWithState(
            _update_profile,
            outputStructType=PROFILE_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


# ---------------------------------------------------------------------------
# Streaming ordered funnel
# ---------------------------------------------------------------------------

FUNNEL_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_seen", T.LongType()),
        T.StructField("ts_signup", T.TimestampType()),
        T.StructField("ts_click", T.TimestampType()),
        T.StructField("ts_purchase", T.TimestampType()),
        T.StructField("funnel_depth", T.IntegerType()),
    ]
)

FUNNEL_STATE_SCHEMA = T.StructType(
    [
        T.StructField("stages", T.ArrayType(T.IntegerType())),
        T.StructField("ts_us", T.ArrayType(T.LongType())),
    ]
)

_FUNNEL_STAGES = {"signup": 0, "click": 1, "purchase": 2}


def _update_funnel(
    key: tuple[Any, ...], pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterable[pd.DataFrame]:
    (user_id,) = key
    stages, ts_us = map(list, state.get) if state.exists else ([], [])
    n_before = len(stages)
    for pdf in pdfs:
        hit = pdf[pdf["event_type"].isin(_FUNNEL_STAGES)]
        stages.extend(int(c) for c in hit["event_type"].map(_FUNNEL_STAGES))
        # datetime64[ns] first: Arrow may hand ts as [us] (see above).
        ts_us.extend(
            int(t) for t in hit["ts"].astype("datetime64[ns]").astype("int64") // 1_000
        )
    if len(stages) == n_before:
        return
    state.update((stages, ts_us))
    events = list(zip(stages, ts_us))
    ts_signup = min((t for c, t in events if c == 0), default=None)
    ts_click = (
        min((t for c, t in events if c == 1 and t > ts_signup), default=None)
        if ts_signup is not None
        else None
    )
    ts_purchase = (
        min((t for c, t in events if c == 2 and t > ts_click), default=None)
        if ts_click is not None
        else None
    )
    stamp = lambda us: pd.Timestamp(us, unit="us") if us is not None else pd.NaT
    yield pd.DataFrame(
        {
            "user_id": [user_id],
            "n_seen": [len(events)],
            "ts_signup": [stamp(ts_signup)],
            "ts_click": [stamp(ts_click)],
            "ts_purchase": [stamp(ts_purchase)],
            "funnel_depth": [
                sum(t is not None for t in (ts_signup, ts_click, ts_purchase))
            ],
        }
    )


def funnel_stream(events: DataFrame) -> DataFrame:
    """Streaming twin of the batch ``events_funnel`` query: first
    signup → first LATER click → first LATER purchase per user, correct
    under out-of-order arrival. Emits the current funnel row per user
    per micro-batch (update mode); ``n_seen`` grows monotonically, so a
    drain picks each user's final row by it.

    State is the user's milestone buffer (parallel stage / µs-timestamp
    arrays), not a running (signup, click, purchase) triple: a late
    signup can re-qualify a click that preceded the earlier-known
    signup, so the funnel is recomputed from the whole buffer each
    batch. Non-milestone event types are dropped before they reach
    state, and users with no milestone events never materialize any;
    state is O(milestone events per user)."""
    return (
        events.select("user_id", "event_type", "ts")
        .groupBy("user_id")
        .applyInPandasWithState(
            _update_funnel,
            outputStructType=FUNNEL_SCHEMA,
            stateStructType=FUNNEL_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


# ---------------------------------------------------------------------------
# Streaming KMV (bottom-k) distinct sketch
# ---------------------------------------------------------------------------

KMV_OUT_SCHEMA = T.StructType(
    [
        T.StructField("g", T.StringType()),
        T.StructField("sk", T.ArrayType(T.LongType())),
        T.StructField("upd", T.LongType()),
    ]
)

KMV_STATE_SCHEMA = T.StructType(
    [
        T.StructField("sk", T.ArrayType(T.LongType())),
        T.StructField("upd", T.LongType()),
    ]
)

KMV_K = 32


def _update_kmv(
    key: tuple[Any, ...], pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterable[pd.DataFrame]:
    (g,) = key
    if state.exists:
        cur, upd = state.get
        s = set(cur)
    else:
        s, upd = set(), 0
    for pdf in pdfs:
        s.update(int(x) for x in pdf["h"])
    # Bottom-k is exactly mergeable: keeping the k smallest of
    # (previous sketch ∪ batch) equals the batch sketch over everything
    # seen so far — state stays O(k) however long the stream runs.
    sk = sorted(s)[:KMV_K]
    upd += 1
    state.update((sk, upd))
    yield pd.DataFrame([{"g": g, "sk": sk, "upd": upd}])


def kmv_sketch_stream(events: DataFrame, group_col: str, hash_col: str) -> DataFrame:
    """Streaming twin of ``operators/sketch.py::kmv_bottom_k``: per-group
    bottom-k hash window evolved across micro-batches with O(k) state
    per group (no watermark needed — the state is bounded by
    construction, like the CMS/HLL/quantile-cell twins). Emits the
    updated sketch per group per batch; ``upd`` is a monotone update
    counter so a drain can pick each group's final emission."""
    return (
        events.select(F.col(group_col).alias("g"), F.col(hash_col).alias("h"))
        .groupBy("g")
        .applyInPandasWithState(
            _update_kmv,
            outputStructType=KMV_OUT_SCHEMA,
            stateStructType=KMV_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


# ---------------------------------------------------------------------------
# Streaming Poisson-bootstrap replica sums
# ---------------------------------------------------------------------------

BOOT_OUT_SCHEMA = T.StructType(
    [
        T.StructField("source", T.StringType()),
        T.StructField("swn", T.ArrayType(T.LongType())),
        T.StructField("sw", T.ArrayType(T.LongType())),
        T.StructField("upd", T.LongType()),
    ]
)

BOOT_STATE_SCHEMA = T.StructType(
    [
        T.StructField("swn", T.ArrayType(T.LongType())),
        T.StructField("sw", T.ArrayType(T.LongType())),
        T.StructField("upd", T.LongType()),
    ]
)


def _update_boot(
    key: tuple[Any, ...], pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterable[pd.DataFrame]:
    import bisect
    import hashlib

    from mini_lakehouse_control_plane_executor_spark.queries import (
        _BOOT_B,
        _POIS_T,
    )

    (source,) = key
    if state.exists:
        swn, sw, upd = state.get
        swn, sw = list(swn), list(sw)
    else:
        swn, sw, upd = [0] * _BOOT_B, [0] * _BOOT_B, 0
    for pdf in pdfs:
        for doc_id, n in zip(pdf["doc_id"], pdf["n"]):
            for b in range(_BOOT_B):
                h = int(
                    hashlib.md5(f"{int(doc_id)}|{b}".encode()).hexdigest()[:15], 16
                )
                w = bisect.bisect_right(_POIS_T, h)
                if w:
                    swn[b] += w * int(n)
                    sw[b] += w
    upd += 1
    state.update((swn, sw, upd))
    yield pd.DataFrame([{"source": source, "swn": swn, "sw": sw, "upd": upd}])


def bootstrap_sums_stream(docs: DataFrame) -> DataFrame:
    """Streaming twin of ``queries.bootstrap_ci_mean_tokens``'s replica
    sufficient statistics: per-source Poisson-bootstrap (swn, sw) sums
    per replica, evolved across micro-batches with O(B) state per
    source (plain integer sums — exactly mergeable, no watermark
    needed; the CMS/HLL/KMV/quantile-cell discipline). Replica weights
    invert the same Poisson(1) CDF at the same md5(doc_id|b) 60-bit
    uniform as the batch query, so the drained final state equals the
    batch (source, b) aggregate row-for-row and the derived CI is
    identical. Input columns: doc_id, source, n (token count)."""
    return docs.select("doc_id", "source", "n").groupBy("source").applyInPandasWithState(
        _update_boot,
        outputStructType=BOOT_OUT_SCHEMA,
        stateStructType=BOOT_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ---------------------------------------------------------------------------
# Streaming winnowing copy-detection index
# ---------------------------------------------------------------------------

WINNOW_OUT_SCHEMA = T.StructType(
    [
        T.StructField("h", T.LongType()),
        T.StructField("docs", T.ArrayType(T.LongType())),
        T.StructField("upd", T.LongType()),
    ]
)

WINNOW_STATE_SCHEMA = T.StructType(
    [
        T.StructField("docs", T.ArrayType(T.LongType())),
        T.StructField("upd", T.LongType()),
    ]
)


def _update_winnow(
    key: tuple[Any, ...], pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterable[pd.DataFrame]:
    from mini_lakehouse_control_plane_executor_spark.operators.dedup import (
        WINNOW_MAX_DF,
    )

    cap = WINNOW_MAX_DF + 1
    (h,) = key
    if state.exists:
        docs, upd = state.get
        s = set(docs)
    else:
        s, upd = set(), 0
    for pdf in pdfs:
        for d in pdf["doc_id"]:
            if len(s) >= cap:
                break  # already dead: extra members cannot revive it
            s.add(int(d))
    docs = sorted(s)
    upd += 1
    state.update((docs, upd))
    yield pd.DataFrame([{"h": h, "docs": docs, "upd": upd}])


def winnowing_index_stream(fps: DataFrame) -> DataFrame:
    """Streaming twin of the winnowing copy-detection index under
    ``queries.winnowing_dup_pairs``: per-fingerprint member lists
    evolved across micro-batches. State is bounded BY THE ALGORITHM'S
    OWN GATE: a fingerprint is usable only while its document frequency
    is ≤ max-df (the MOSS drop-common rule), so the state keeps at most
    max-df + 1 = 9 doc ids per fingerprint — once a 9th distinct doc
    arrives the fingerprint is dead and extra members are not even
    recorded (deadness is monotone, so the truncation is
    arrival-order-independent). Drained live states (2..max-df members)
    equal the batch df-gated fingerprint index row-for-row, so derived
    shared-fingerprint pairs are identical. Input: the (doc_id, h)
    stream from ``operators.dedup.winnowing_fingerprints_map`` (the
    map-only selection — Structured Streaming forbids the batch path's
    doc-keyed window, and the map form is pinned identical to it)."""
    return fps.groupBy("h").applyInPandasWithState(
        _update_winnow,
        outputStructType=WINNOW_OUT_SCHEMA,
        stateStructType=WINNOW_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
