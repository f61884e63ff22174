"""Arbitrary stateful streaming via ``transformWithStateInPandas``
(Spark 4.x successor of ``applyInPandasWithState`` — SURVEY.md §2.9
'custom stateful operator' row, second implementation vehicle).

Where ``applyInPandasWithState`` gives one opaque state tuple per key,
the ``StatefulProcessor`` API exposes typed, independently-updatable
state primitives (value/list/map state) plus timers, which is what a
production per-key online algorithm actually wants: the fold below
keeps a single ValueState row per user and updates it with
order-independent folds only (count, max, latest-timestamp), so the
emitted totals are identical under any micro-batch partitioning or
replay — the property that makes the operator oracle-checkable against
a batch aggregate.

State size is O(keys), independent of stream length; the RocksDB state
store (cluster deployment) spills it off-heap, so the operator survives
key cardinalities far beyond executor memory.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import TYPE_CHECKING


class _LazyPandas:
    """Module-level ``pd`` placeholder that resolves to the real
    pandas on first attribute access. Kept lazy on purpose: this
    module is unpickled inside EVERY cold Python worker Spark spawns
    for transformWithState — including the driver-side pre-init
    runner that only calls ``init()`` to collect state schemas and
    never touches a DataFrame — and a top-level ``import pandas``
    adds ~0.4s to each such spawn (measured; it is the single largest
    slice of the streaming replays' queryPlanning time). Executor
    workers pay the import exactly once, on the first emitted batch,
    where they would have paid it anyway."""

    def __getattr__(self, name):
        import pandas

        globals()["pd"] = pandas  # swap in the real module
        return getattr(pandas, name)


if TYPE_CHECKING:
    import pandas as pd
else:
    pd = _LazyPandas()

from pyspark.sql import DataFrame
from pyspark.sql.streaming.stateful_processor import (
    StatefulProcessor,
    StatefulProcessorHandle,
)
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

USER_STATE_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("max_value", DoubleType()),
        StructField("last_ts_us", LongType()),
    ]
)

_STATE_SPEC = "n BIGINT, mx DOUBLE, mts BIGINT"


class UserStatsProcessor(StatefulProcessor):
    """Per-user running (count, max(value), max(ts)) — every fold is
    commutative+associative, so batch order cannot leak into results."""

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._state = handle.getValueState("stats", _STATE_SPEC)

    def handleInputRows(
        self, key, rows: Iterator[pd.DataFrame], timerValues
    ) -> Iterator[pd.DataFrame]:
        n, mx, mts = (
            self._state.get() if self._state.exists() else (0, float("-inf"), 0)
        )
        for pdf in rows:
            n += len(pdf)
            mx = max(mx, float(pdf["value"].max()))
            mts = max(mts, int(pdf["ts_us"].max()))
        self._state.update((n, mx, mts))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "max_value": [mx],
                "last_ts_us": [mts],
            }
        )

    def close(self) -> None:
        pass


def _pbshim_dir() -> str:
    import os

    return os.path.join(os.path.dirname(os.path.abspath(__file__)), "_pbshim")


def ensure_protobuf() -> bool:
    """Make ``google.protobuf`` importable in THIS process: prefer the
    real distribution; fall back to the vendored minimal runtime
    (``_pbshim`` — clean-room wire-format implementation, see its
    docstring). Returns True when the import surface is available."""
    try:
        import google.protobuf  # noqa: F401

        return True
    except ImportError:
        import sys

        shim = _pbshim_dir()
        if shim not in sys.path:
            sys.path.append(shim)  # append: a real protobuf still wins
        try:
            import google.protobuf  # noqa: F401

            return True
        except ImportError:
            return False


def ship_protobuf_to_workers(spark) -> None:
    """Python workers speak the typed-state protocol, so THEY need
    ``google.protobuf`` too. ``addPyFile`` is the mechanism that works
    in every deploy mode (local-mode daemons and real executors alike):
    workers insert shipped archives into sys.path before deserializing
    the processor, and the state client imports protobuf lazily inside
    its methods — after that insertion. No-op when the real protobuf
    is installed cluster-wide."""
    try:
        import google.protobuf  # noqa: F401

        # importable without the shim dir on sys.path → real install
        if not getattr(google.protobuf, "__version__", "").endswith("etds-shim"):
            return
    except ImportError:
        if not ensure_protobuf():
            return
    import os
    import tempfile
    import zipfile

    zpath = os.path.join(
        tempfile.gettempdir(), "etds_pbshim", "google_protobuf_shim.zip"
    )
    if not os.path.exists(zpath):
        os.makedirs(os.path.dirname(zpath), exist_ok=True)
        shim = _pbshim_dir()
        with zipfile.ZipFile(zpath + ".tmp", "w") as z:
            for root, _dirs, files in os.walk(shim):
                for fn in files:
                    if fn.endswith(".py"):
                        full = os.path.join(root, fn)
                        z.write(full, os.path.relpath(full, shim))
        os.replace(zpath + ".tmp", zpath)
    spark.sparkContext.addPyFile(zpath)


def enable_tws(spark) -> None:
    """Session setup every ``transformWithStateInPandas`` query needs:
    protobuf on the workers and the RocksDB state store provider."""
    ship_protobuf_to_workers(spark)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )


def _prepared(events: DataFrame) -> DataFrame:
    from pyspark.sql import functions as F

    return events.select(
        "user_id",
        "value",
        # cast first: unix_micros rejects TIMESTAMP_NTZ input, and the
        # pinned-UTC session makes the NTZ→TIMESTAMP cast deterministic
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
    )


def user_stats_tws(events: DataFrame) -> DataFrame:
    """Streaming per-user stats through the typed-state API. Input
    needs (user_id, value, ts); ts is projected to epoch-µs so the
    state row stays primitive-typed. Requires ``ensure_protobuf()``;
    the caller must enable the RocksDB state store provider."""
    return _prepared(events).groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=UserStatsProcessor(),
        outputStructType=USER_STATE_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )


TOPK_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_seen", LongType()),
        StructField("top_values", ArrayType(DoubleType())),
    ]
)


class UserTopKProcessor(StatefulProcessor):
    """Per-user running top-k values through LIST state — exercises the
    list-state half of the typed-state protocol (ListStatePut /
    ListStateGet / value iteration), where :class:`UserStatsProcessor`
    covers value state. top-k of a union is associative and
    order-independent, so emissions are identical under any micro-batch
    slicing; ``n_seen`` makes the final emission per key selectable."""

    def __init__(self, k: int = 3):
        self._k = k

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._vals = handle.getListState("vals", "v DOUBLE")
        self._seen = handle.getValueState("seen", "n BIGINT")

    def handleInputRows(
        self, key, rows: Iterator[pd.DataFrame], timerValues
    ) -> Iterator[pd.DataFrame]:
        vals = [row[0] for row in self._vals.get()]
        n = self._seen.get()[0] if self._seen.exists() else 0
        for pdf in rows:
            n += len(pdf)
            vals.extend(float(x) for x in pdf["value"])
        top = sorted(vals, reverse=True)[: self._k]
        self._vals.put([(v,) for v in top])
        self._seen.update((n,))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_seen": [n], "top_values": [top]}
        )

    def close(self) -> None:
        pass


def user_topk_tws(events: DataFrame, k: int = 3) -> DataFrame:
    """Streaming per-user top-k values via typed LIST state. Requires
    ``ensure_protobuf()`` (the vendored protobuf runtime suffices) and
    the RocksDB state store provider."""
    return _prepared(events).groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=UserTopKProcessor(k),
        outputStructType=TOPK_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )


TYPE_COUNTS_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("n_events", LongType()),
    ]
)


class UserTypeCountsProcessor(StatefulProcessor):
    """Per-user per-event-type running counts through MAP state — the
    third typed-state primitive (getMapState / UpdateValue / GetValue /
    Iterator, whose paginated KeyAndValuePair responses are the one
    protocol shape value- and list-state never produce). Counts are
    additive, so emissions are micro-batch-order independent; every
    batch re-emits the user's full map (Update mode), so the final
    emission per (user, type) — max n_events, counts being monotone —
    is the complete answer."""

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._counts = handle.getMapState("counts", "t STRING", "n BIGINT")

    def handleInputRows(
        self, key, rows: Iterator[pd.DataFrame], timerValues
    ) -> Iterator[pd.DataFrame]:
        for pdf in rows:
            for t, c in pdf.groupby("event_type").size().items():
                prev = self._counts.getValue((t,))
                self._counts.updateValue((t,), ((prev[0] if prev else 0) + int(c),))
        types, counts = [], []
        for (t,), (n,) in self._counts.iterator():
            types.append(t)
            counts.append(n)
        yield pd.DataFrame(
            {
                "user_id": [key[0]] * len(types),
                "event_type": types,
                "n_events": counts,
            }
        )

    def close(self) -> None:
        pass


def user_type_counts_tws(events: DataFrame) -> DataFrame:
    """Streaming per-(user, event_type) counts via typed MAP state.
    Input needs (user_id, event_type). Requires ``ensure_protobuf()``
    and the RocksDB state store provider."""
    return events.select("user_id", "event_type").groupBy(
        "user_id"
    ).transformWithStateInPandas(
        statefulProcessor=UserTypeCountsProcessor(),
        outputStructType=TYPE_COUNTS_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )


TIMER_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("kind", StringType()),  # 'data' | 'timer'
        StructField("n", LongType()),
    ]
)


class TimerMarkerProcessor(StatefulProcessor):
    """Per-key processing-time TIMERS — the final typed-state protocol
    family (RegisterTimer / ExpiryTimerRequest / StateResponseWithTimer,
    whose repeated TimerInfo payload carries the protocol's one
    proto3-optional field). Each batch of input registers an
    immediately-expiring timer for the key; expired timers are
    delivered at the START of the next micro-batch, where the expiry
    handler emits a 'timer' marker row and evicts the key's state —
    the state-TTL/session-timeout shape. Timer FIRING times are
    wall-clock (not oracle-able); which keys fire by when is
    deterministic under availableNow replay, which is what the test
    asserts."""

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._handle = handle
        self._seen = handle.getValueState("seen", "n BIGINT")

    def handleInputRows(
        self, key, rows: Iterator[pd.DataFrame], timerValues
    ) -> Iterator[pd.DataFrame]:
        n = self._seen.get()[0] if self._seen.exists() else 0
        for pdf in rows:
            n += len(pdf)
        self._seen.update((n,))
        # already-expired when the next batch starts
        self._handle.registerTimer(timerValues.getCurrentProcessingTimeInMs() + 1)
        yield pd.DataFrame({"user_id": [key[0]], "kind": ["data"], "n": [n]})

    def handleExpiredTimer(
        self, key, timerValues, expiredTimerInfo
    ) -> Iterator[pd.DataFrame]:
        n = self._seen.get()[0] if self._seen.exists() else 0
        self._seen.clear()  # timer-driven state eviction
        yield pd.DataFrame({"user_id": [key[0]], "kind": ["timer"], "n": [n]})

    def close(self) -> None:
        pass


SESSION_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("session_start_us", LongType()),
        StructField("session_end_us", LongType()),
        StructField("n_events", LongType()),
    ]
)


class EventTimeSessionProcessor(StatefulProcessor):
    """Watermark-correct gap sessionization via EVENT-TIME timers —
    the timer family's second half (processing-time covered by
    :class:`TimerMarkerProcessor`). Each key holds its OPEN sessions
    (start, end, count — plural: a key can have several sessions
    in flight whose expiry the watermark hasn't reached) in LIST
    state. Every batch folds the new events in by sorting and
    gap-coalescing — an out-of-order event that lands between two
    open sessions within ``gap`` BRIDGES them into one, which is why
    sessions must stay open until the watermark passes ``end + gap``
    and why eager emission would be wrong. ONE event-time timer per
    KEY is kept registered — the earliest open session's expiry
    (gap-disjoint sessions expire in session order, so one firing
    emits every due session and re-arms to the next expiry; stale
    registrations are deleted via listTimers/deleteTimer); when the
    watermark passes that expiry the handler emits every session now
    out of reach of future events and evicts it — the session-gc /
    SLA-alert state-machine shape.
    The fold (sort + gap-coalesce of interval sets) is commutative
    and associative, so micro-batch slicing cannot change which
    sessions form — only watermark passage decides when they close."""

    def __init__(self, gap_ms: int):
        self._gap_ms = gap_ms

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._handle = handle
        self._sess = handle.getListState(
            "sessions", "start_us BIGINT, end_us BIGINT, n BIGINT"
        )

    def _merged(self, items):
        gap_us = self._gap_ms * 1000
        items.sort()
        out: list[tuple[int, int, int]] = []
        for s, e, n in items:
            if out and s <= out[-1][1] + gap_us:
                ps, pe, pn = out[-1]
                out[-1] = (ps, max(pe, e), pn + n)
            else:
                out.append((s, e, n))
        return out

    def _rearm(self, sessions, fired_ts: int | None = None) -> None:
        # ONE timer per key — the earliest open session's expiry.
        # Gap-disjoint sessions expire in session order, so when the
        # watermark passes the earliest expiry the handler emits EVERY
        # due session in that one call and re-arms to the next
        # remaining expiry (necessarily > the watermark). Per-session
        # timers would each pay a handler round trip per batch — at
        # ~60 open sessions/key that was the dominant cost of the
        # availableNow replay (9134 timer firings for 150 keys).
        # ``fired_ts`` is the timer currently being expired: the
        # framework removes it itself, and deleting it here raised a
        # 'Failed to delete timer' WARN on every expiry.
        want = (
            {min(e // 1000 + self._gap_ms for _s, e, _n in sessions)}
            if sessions
            else set()
        )
        have = set(self._handle.listTimers())
        for t in have - want:
            if t != fired_ts:
                self._handle.deleteTimer(t)
        for t in want - have:
            self._handle.registerTimer(t)

    def handleInputRows(
        self, key, rows: Iterator[pd.DataFrame], timerValues
    ) -> Iterator[pd.DataFrame]:
        # transformWithState does NOT late-filter input rows (the
        # watermark only drives timers) — drop them here, or an event
        # at/below the watermark could merge into a session that the
        # watermark already CLOSED and emitted, silently contradicting
        # the output. Emission finality: an emitted session has
        # end+gap <= wm, so any event that could merge into it has
        # ts <= wm — exactly the rows dropped.
        wm = timerValues.getCurrentWatermarkInMs()
        items = [(int(r[0]), int(r[1]), int(r[2])) for r in self._sess.get()]
        got = False
        for pdf in rows:
            for t in pdf["ts_us"]:
                if int(t) // 1000 <= wm:
                    continue  # late beyond the watermark: dropped
                items.append((int(t), int(t), 1))
                got = True
        if not got:
            return
        merged = self._merged(items)
        self._sess.put(merged)
        self._rearm(merged)
        return
        yield  # pragma: no cover — generator with no data emissions

    def handleExpiredTimer(
        self, key, timerValues, expiredTimerInfo
    ) -> Iterator[pd.DataFrame]:
        wm = timerValues.getCurrentWatermarkInMs()
        fired = expiredTimerInfo.getExpiryTimeInMs()
        sessions = [(int(r[0]), int(r[1]), int(r[2])) for r in self._sess.get()]
        due = [x for x in sessions if x[1] // 1000 + self._gap_ms <= wm]
        if not due:
            # stale firing (shouldn't happen with one-timer-per-key,
            # but the framework removes the fired timer regardless) —
            # re-arm so the remaining open sessions keep a timer
            self._rearm(sessions, fired)
            return
        keep = [x for x in sessions if x[1] // 1000 + self._gap_ms > wm]
        if keep:
            self._sess.put(keep)
        else:
            self._sess.clear()
        self._rearm(keep, fired)
        yield pd.DataFrame(
            {
                "user_id": [key[0]] * len(due),
                "session_start_us": [s for s, _e, _n in due],
                "session_end_us": [e for _s, e, _n in due],
                "n_events": [n for _s, _e, n in due],
            }
        )

    def close(self) -> None:
        pass


def user_event_sessions_tws(
    events: DataFrame, gap_ms: int = 10_000, delay: str = "0 seconds"
) -> DataFrame:
    """Streaming per-user event-time gap sessions
    (timeMode='EventTime'): input needs (user_id, ts); the watermark
    is declared here with ``delay`` lateness. Events more than
    ``gap_ms`` apart form separate sessions; a session closes — and
    is emitted, once — only when the watermark passes its last event
    + ``gap_ms``. Until then it stays open in list state: an
    out-of-order event above the watermark can extend it or bridge
    two open sessions into one, while an event AT or BELOW the
    watermark is dropped by the operator itself (Spark's
    transformWithState does no input late-filtering) — which is what
    makes every emitted session FINAL. Requires ``ensure_protobuf()``
    and the RocksDB state store provider.

    The availableNow caveat on :func:`user_timer_markers_tws` does
    not bite here: event-time timers fire from watermark passage, so
    once the source drains and the watermark is final, the query
    stops scheduling work — but a session whose expiry the final
    watermark never reaches stays open (unemitted), which is the
    correct streaming answer, not a bug."""
    from pyspark.sql import functions as F

    prepared = (
        events.select(
            "user_id", F.col("ts").cast("timestamp").alias("ts")
        )
        .withWatermark("ts", delay)
        .select("user_id", "ts", F.unix_micros("ts").alias("ts_us"))
    )
    return prepared.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=EventTimeSessionProcessor(gap_ms),
        outputStructType=SESSION_SCHEMA,
        outputMode="Append",
        timeMode="EventTime",
    )


def _session_fallback_fn(gap_ms: int):
    """applyInPandasWithState twin of :class:`EventTimeSessionProcessor`
    (GroupStateTimeout.EventTimeTimeout — the Spark 3.x surface, no
    protobuf dependency). Same state content (open sessions as three
    parallel arrays), same gap-coalesce fold, same late-drop finality
    rule; the one API difference is that a key receiving data in a
    batch cannot also time out in it, so the timeout timestamp is
    clamped above the current watermark and fires next batch."""
    gap_us = gap_ms * 1000

    def fn(key, pdfs, state):
        starts, ends, ns = (
            ([list(x) for x in state.get] if state.exists else [[], [], []])
        )
        items = list(zip(starts, ends, ns))
        wm = state.getCurrentWatermarkMs()
        if state.hasTimedOut:
            due = [x for x in items if x[1] // 1000 + gap_ms <= wm]
            keep = [x for x in items if x[1] // 1000 + gap_ms > wm]
            if keep:
                state.update(tuple(list(c) for c in zip(*keep)))
                state.setTimeoutTimestamp(
                    max(min(e // 1000 + gap_ms for _s, e, _n in keep), wm + 1)
                )
            else:
                state.remove()
            if due:
                yield pd.DataFrame(
                    {
                        "user_id": [key[0]] * len(due),
                        "session_start_us": [s for s, _e, _n in due],
                        "session_end_us": [e for _s, e, _n in due],
                        "n_events": [n for _s, _e, n in due],
                    }
                )
            return
        got = False
        for pdf in pdfs:
            for t in pdf["ts_us"]:
                if int(t) // 1000 <= wm:
                    continue  # late beyond the watermark: dropped
                items.append((int(t), int(t), 1))
                got = True
        if not got:
            return
        items.sort()
        merged: list = []
        for s, e, n in items:
            if merged and s <= merged[-1][1] + gap_us:
                ps, pe, pn = merged[-1]
                merged[-1] = (ps, max(pe, e), pn + n)
            else:
                merged.append((s, e, n))
        state.update(tuple(list(c) for c in zip(*merged)))
        state.setTimeoutTimestamp(
            max(min(e // 1000 + gap_ms for _s, e, _n in merged), wm + 1)
        )
        return

    return fn


def user_event_sessions_applyinpandas(
    events: DataFrame, gap_ms: int = 10_000, delay: str = "0 seconds"
) -> DataFrame:
    """Event-time gap sessions through ``applyInPandasWithState``
    (GroupStateTimeout.EventTimeTimeout) — the portable twin of
    :func:`user_event_sessions_tws` (registered as q165) with the same
    session contract: emit-once on watermark passage, reopen/bridge for
    in-watermark stragglers, drop-below-watermark finality."""
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupStateTimeout

    prepared = (
        events.select("user_id", F.col("ts").cast("timestamp").alias("ts"))
        .withWatermark("ts", delay)
        .select("user_id", "ts", F.unix_micros("ts").alias("ts_us"))
    )
    return prepared.groupBy("user_id").applyInPandasWithState(
        _session_fallback_fn(gap_ms),
        outputStructType=SESSION_SCHEMA,
        stateStructType="starts array<bigint>, ends array<bigint>, ns array<bigint>",
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def user_timer_markers_tws(events: DataFrame) -> DataFrame:
    """Streaming per-user timer markers via typed-state processing-time
    timers (timeMode='ProcessingTime'). Requires ``ensure_protobuf()``
    and the RocksDB state store provider.

    Caveat (Spark behavior, not this operator's): pending
    processing-time timers keep the query scheduling expiry-check
    micro-batches, so an ``availableNow`` run does NOT self-terminate
    after the data drains — callers poll for the fired markers they
    need and ``stop()`` explicitly (see
    tests/test_streaming.test_typed_state_timers_fire_across_triggers),
    or run a continuous trigger in production."""
    return events.select("user_id").groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=TimerMarkerProcessor(),
        outputStructType=TIMER_SCHEMA,
        outputMode="Update",
        timeMode="ProcessingTime",
    )
