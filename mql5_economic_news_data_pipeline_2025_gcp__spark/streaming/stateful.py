"""Custom stateful streaming operator via ``applyInPandasWithState``
(SURVEY §2.9 parity-plus; the arbitrary-state API the reference's
batch upsert would use for true incremental series tracking).

Per-series running state — sample count, running max, high-water-mark
timestamp — maintained across micro-batches in the state store. This is
the streaming-native form of the reference's per-(Currency,Event)
bookkeeping (TRAIN:377-389 sample counts, PUSH:160-167 high-water mark):
instead of re-scanning the table monthly, state advances per batch and
the same bookkeeping is always current.

Scale: state is partitioned by the series key across executors; each
key's state is O(1) (three scalars), so state-store size is bounded by
|series|, not |rows|. A timeout (``GroupStateTimeout``) would retire
dormant series; kept off here because the drain is finite.

Determinism: count/max/max-ts are order-independent, so a full drain
equals the batch GROUP BY — which is what the oracle checks.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from .ingest import (
    PYTHON_STATE_CONFS,
    TWS_STATE_CONFS,
    _drain_to_table,
    _stream_source,
)

_OUT_SCHEMA = "user_id long, event_type string, n long, max_c long, hwm_ts timestamp"
_STATE_SCHEMA = "n long, max_c long, hwm_us long"


def _ts_us(stream: DataFrame) -> F.Column:
    """Exact µs-epoch of the stream's ts column, whatever form the
    parquet delivered: LONG nanos (ns-typed files read as long — integer
    `div`, doubles drift past 2^53) or a native TIMESTAMP (µs-typed
    files) via unix_micros."""
    if dict(stream.dtypes)["ts"] == "bigint":
        return F.expr("ts div 1000")
    return F.unix_micros(F.col("ts"))


def _update_series_state(
    key: tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    n, max_c, hwm_us = state.get if state.exists else (0, None, None)
    for pdf in pdfs:
        n += len(pdf)
        bmax = int(pdf["value_c"].max())
        bhwm = int(pdf["ts_us"].max())
        max_c = bmax if max_c is None else max(max_c, bmax)
        hwm_us = bhwm if hwm_us is None else max(hwm_us, bhwm)
    state.update((n, max_c, hwm_us))
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "event_type": [key[1]],
            "n": [n],
            "max_c": [max_c],
            "hwm_ts": [pd.Timestamp(hwm_us, unit="us")],
        }
    )


def stream_series_running_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drain the events stream through per-series arbitrary state and
    return the final state table (one row per series)."""
    stream = _stream_source(spark, sf_dir, "events")
    ev = stream.select(
        "user_id",
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("value_c"),
        _ts_us(stream).alias("ts_us"),
    )
    out = ev.groupBy("user_id", "event_type").applyInPandasWithState(
        _update_series_state,
        outputStructType=_OUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    # full session parallelism here, unlike the pure-JVM drains: this
    # operator's cost is per-group PYTHON compute (one pandas worker per
    # state partition), not state-store commit overhead — 8 partitions
    # would cap it at 8 parallel workers (measured 3.7 s vs 2.9 s at 32)
    return _drain_to_table(out, mode="update", confs=PYTHON_STATE_CONFS)


# ---------------------------------------------------- transformWithState
# The Spark 4 arbitrary-state API (successor to applyInPandasWithState):
# typed state variables on a handle, per-key timers, TTL support. Same
# series bookkeeping as above so the two APIs are differential twins —
# one oracle checks both.

_TWS_STATE_SCHEMA = "n long, max_c long, hwm_us long"


def series_state_tws(
    spark: SparkSession,
    sf_dir: str,
) -> DataFrame:
    """Per-series (count, max cents, high-water-mark) via
    ``transformWithStateInPandas`` — the modernized twin of
    ``series_state_stream``.

    ENVIRONMENT REQUIREMENTS (both handled here):

    - the transformWithState Python state server speaks protobuf to the
      JVM; ``compat.ensure_protobuf_for_session`` discovers the
      on-image vendored runtime and exports it to worker processes —
      via ``os.environ`` for JVMs launched after it runs
      (``session.get_spark`` path) and via the mutable
      ``sparkContext.environment`` dict for an ALREADY-running stock
      session (the driver-harness path). If no runtime exists anywhere,
      this raises ``RuntimeError`` and the pytest gate skips.
    - TWS stores each state variable in its own column family, which
      the default HDFS-backed state store rejects — the drain below
      starts the query with ``RocksDBStateStoreProvider`` (rocksdbjni
      ships with Spark 4) scoped to it (``TWS_STATE_CONFS``); the
      caller's session conf is never touched. RocksDB is also the
      provider a production deployment wants: state spills to disk +
      changelog checkpointing.

    Why this API at scale: state lives in named, typed variables
    (ValueState here; List/Map for bigger shapes) with per-variable TTL
    instead of one opaque tuple, timers replace GroupStateTimeout, and
    the RocksDB-backed store + changelog checkpointing carry state far
    past executor-memory bounds. Output is append-per-batch deltas of
    only the keys that changed — identical drain semantics to the
    applyInPandasWithState form.
    """
    from ..compat import ensure_protobuf_for_session

    if not ensure_protobuf_for_session(spark):
        raise RuntimeError(
            "transformWithStateInPandas needs a google.protobuf runtime "
            "(state-server wire protocol) and none is importable or "
            "vendored on this image"
        )

    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class SeriesBookkeeping(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            from pyspark.sql.types import (
                LongType,
                StructField,
                StructType,
            )

            self._state = handle.getValueState(
                "series",
                StructType(
                    [
                        StructField("n", LongType()),
                        StructField("max_c", LongType()),
                        StructField("hwm_us", LongType()),
                    ]
                ),
            )

        def handleInputRows(self, key, rows, timerValues):
            # ONE get() instead of exists()+get(): every state call is a
            # synchronous state-server round trip (r14, guide §4 —
            # fewer JVM↔Python crossings); get() returns None when the
            # key has no state yet, so exists() adds nothing but an RPC
            # per key per batch.
            prev = self._state.get()
            n, max_c, hwm_us = prev if prev is not None else (0, None, None)
            for pdf in rows:
                n += len(pdf)
                batch_max = int(pdf["value_c"].max())
                batch_hwm = int(pdf["ts_us"].max())
                max_c = batch_max if max_c is None else max(max_c, batch_max)
                hwm_us = batch_hwm if hwm_us is None else max(hwm_us, batch_hwm)
            self._state.update((n, max_c, hwm_us))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "event_type": [key[1]],
                    "n": [n],
                    "max_c": [max_c],
                    "hwm_us": [hwm_us],
                }
            )

        def close(self) -> None:
            pass

    stream = _stream_source(spark, sf_dir, "events")
    # value_c and ts_us are computed UPSTREAM with Spark expressions —
    # F.round is HALF_UP, matching the batch oracle and the
    # applyInPandasWithState twin exactly (pandas .round() is
    # half-to-even and diverged on exact half-cents), and _ts_us gates
    # on the parquet's delivered ts type
    ev = stream.select(
        "user_id",
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("value_c"),
        _ts_us(stream).alias("ts_us"),
    ).filter(F.col("value_c").isNotNull())
    out = ev.groupBy("user_id", "event_type").transformWithStateInPandas(
        SeriesBookkeeping(),
        outputStructType=(
            "user_id long, event_type string, n long, max_c long, hwm_us long"
        ),
        outputMode="Update",
        timeMode="None",
    )
    return _drain_to_table(out, mode="update", confs=TWS_STATE_CONFS).select(
        "user_id",
        "event_type",
        "n",
        "max_c",
        F.timestamp_micros(F.col("hwm_us")).alias("hwm_ts"),
    )


# ---------------------------------------------------- interval union

_IU_OUT_SCHEMA = "user_id long, n_intervals long, covered_us long"
#: merged disjoint segments as parallel arrays — EXACT under any batch
#: split/arrival order, unlike a running-max-end fold (which is only
#: exact for globally start-sorted input).
_IU_STATE_SCHEMA = "starts array<long>, ends array<long>, n long"


def _merge_intervals(
    merged: list[tuple[int, int]], new: list[tuple[int, int]]
) -> list[tuple[int, int]]:
    """Union two interval lists into sorted disjoint segments."""
    out: list[tuple[int, int]] = []
    for s, e in sorted(merged + new):
        if out and s <= out[-1][1]:
            if e > out[-1][1]:
                out[-1] = (out[-1][0], e)
        else:
            out.append((s, e))
    return out


def _update_interval_state(
    key: tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    if state.exists:
        starts, ends, n = state.get
        merged = list(zip(starts, ends))
    else:
        merged, n = [], 0
    for pdf in pdfs:
        n += len(pdf)
        batch = list(
            zip(
                (int(x) for x in pdf["s_us"]),
                (int(x) for x in pdf["e_us"]),
            )
        )
        merged = _merge_intervals(merged, batch)
    state.update(
        ([s for s, _ in merged], [e for _, e in merged], n)
    )
    covered = sum(e - s for s, e in merged)
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "n_intervals": [n],
            "covered_us": [covered],
        }
    )


def stream_interval_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user union-of-intervals coverage as a custom stateful
    streaming operator — the streaming twin of the batch
    ``evt_interval_coverage`` sweep.

    State is the list of MERGED disjoint covered segments (parallel
    long arrays), so the union is EXACT no matter how the source
    splits micro-batches or orders arrivals — a running max-end fold
    would silently miss overlaps that land before the fold point when
    a later batch back-fills an earlier gap. Segment count is bounded
    by the number of true gaps in a user's coverage (merging only ever
    shrinks it); a pathological all-disjoint user degrades to O(their
    interval count) state, the honest cost of exactness — the same
    trade `stream_dedup_ttl_counts` makes with its key set.
    """
    stream = _stream_source(spark, sf_dir, "events")
    ts_us = _ts_us(stream)
    ev = stream.filter(F.col("value").isNotNull()).select(
        "user_id",
        ts_us.alias("s_us"),
        (
            ts_us
            + (
                F.abs(F.round(F.col("value") * 100).cast("long")) % 3600
            )
            * 1000000
        ).alias("e_us"),
    )
    out = ev.groupBy("user_id").applyInPandasWithState(
        _update_interval_state,
        outputStructType=_IU_OUT_SCHEMA,
        stateStructType=_IU_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return _drain_to_table(out, mode="update", confs=PYTHON_STATE_CONFS)


# ------------------------------------------------------ token bucket

_RL_OUT_SCHEMA = (
    "user_id long, n_events long, allowed long, denied long, final_tok_m long"
)
_RL_STATE_SCHEMA = "prev long, tok long, allowed long, n long"
_RL_CAP, _RL_RATE, _RL_COST = 3000, 17, 1000
_RL_EPOCH_US = 1704067200 * 1000000


def _update_bucket_state(
    key: tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    prev, tok, allowed, n = (
        state.get if state.exists else (-1, _RL_CAP, 0, 0)
    )
    rows = pd.concat(list(pdfs), ignore_index=True)
    # a token bucket is order-dependent: replay this batch's arrivals in
    # (ts, event_id) order. Cross-batch order rides the file source's
    # chronological delivery (landing prefixes roll files in time order;
    # the single test parquet arrives as one batch, so the drain is the
    # exact global replay the batch oracle computes).
    rows = rows.sort_values(["e", "event_id"])
    for e in rows["e"].astype("int64"):
        # the landing-prefix ordering contract says batches arrive in
        # chronological order — ENFORCE it: a negative dt would silently
        # drain tok below the batch replay's value instead of failing
        if prev >= 0 and int(e) < prev:
            raise ValueError(
                f"out-of-order arrival across micro-batches: e={int(e)} "
                f"< prev={prev} (landing-prefix contract violated)"
            )
        dt = 0 if prev < 0 else int(e) - prev
        tok = min(_RL_CAP, tok + dt * _RL_RATE)
        if tok >= _RL_COST:
            tok -= _RL_COST
            allowed += 1
        prev = int(e)
    n += len(rows)
    state.update((prev, tok, allowed, n))
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "n_events": [n],
            "allowed": [allowed],
            "denied": [n - allowed],
            "final_tok_m": [tok],
        }
    )


def stream_rate_limited(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming token-bucket enforcement (applyInPandasWithState): the
    per-user quota state a gateway keeps ONLINE — same integer
    millitoken semantics as the batch replay operators in
    plans/queries_r8c.py, whose SQL is this drain's oracle. State is
    four scalars per user (prev-arrival epoch, tokens, allowed, n), so
    the state store is bounded by |users|, not |rows|."""
    stream = _stream_source(spark, sf_dir, "events")
    ts_us = _ts_us(stream)
    ev = stream.select(
        "user_id",
        "event_id",
        # floor, not truncate-toward-zero: a timestamp in the 1-second
        # window before the epoch must round the same way as the batch
        # twin's unix_timestamp and the oracle's `//` (which both floor),
        # or it slips past the e >= 0 gate on the stream side only
        F.floor((ts_us - F.lit(_RL_EPOCH_US)) / 1000000)
        .cast("long")
        .alias("e"),
    ).filter(F.col("e") >= 0)
    out = ev.groupBy("user_id").applyInPandasWithState(
        _update_bucket_state,
        outputStructType=_RL_OUT_SCHEMA,
        stateStructType=_RL_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return _drain_to_table(out, mode="update", confs=PYTHON_STATE_CONFS)


# ----------------------------------------------------------------- PH
# Page-Hinkley drift detection constants — shared with the batch replay
# in plans/queries_r9c.py (single source of truth; the batch module
# imports these so the two sides cannot drift apart).
#: baseline window: the first N0 value rows per event_type (by ts order)
PH_N0 = 100
#: drift allowance in cents (subtracted per step before accumulation)
PH_DELTA_C = 100
#: alarm threshold in cents; compared as ph > N0 * PH_LAMBDA_C because
#: the accumulated statistic is kept scaled by n0 to stay integer
PH_LAMBDA_C = 50000

_PH_OUT_SCHEMA = (
    "event_type string, n long, n_alarms long, first_alarm_rn long, "
    "ph_max long"
)
_PH_STATE_SCHEMA = (
    "rn long, s0 long, m long, runmin long, n_alarms long, "
    "first_alarm long, ph_max long"
)


def _update_ph_state(
    key: tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    rn, s0, m, runmin, n_alarms, first_alarm, ph_max = (
        state.get if state.exists else (0, 0, 0, 0, 0, 0, 0)
    )
    rows = pd.concat(list(pdfs), ignore_index=True)
    # the detector is order-dependent: replay this batch in (ts,
    # event_id) order; cross-batch order rides the landing-prefix
    # contract exactly like _update_bucket_state (enforced there)
    rows = rows.sort_values(["ts_us", "event_id"])
    thresh = PH_N0 * PH_LAMBDA_C
    for x in rows["x"].astype("int64"):
        rn += 1
        if rn <= PH_N0:
            s0 += int(x)  # baseline accrual; evaluation starts after N0
            continue
        m += PH_N0 * int(x) - s0 - PH_N0 * PH_DELTA_C
        runmin = min(runmin, m)
        ph = m - min(0, runmin)
        if ph > ph_max:
            ph_max = ph
        if ph > thresh:
            n_alarms += 1
            if first_alarm == 0:
                first_alarm = rn
    state.update((rn, s0, m, runmin, n_alarms, first_alarm, ph_max))
    yield pd.DataFrame(
        {
            "event_type": [key[0]],
            "n": [rn],
            "n_alarms": [n_alarms],
            "first_alarm_rn": [first_alarm],
            "ph_max": [ph_max],
        }
    )


def stream_page_hinkley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Online Page-Hinkley mean-shift detection per event_type
    (applyInPandasWithState): the drift monitor a feature pipeline
    keeps NEXT TO the stream — the first PH_N0 arrivals per type set
    the baseline, then the n0-scaled integer statistic
    m += n0·x − S0 − n0·δ accumulates with its running minimum, and
    ph = m − min(0, min m) crossing n0·λ raises the alarm. State is
    seven scalars per event_type, so the store is bounded by |types|
    regardless of throughput. A full chronological drain equals the
    batch window replay in plans/queries_r9c.py — the shared oracle."""
    stream = _stream_source(spark, sf_dir, "events")
    ev = stream.filter(F.col("value").isNotNull()).select(
        "event_type",
        "event_id",
        _ts_us(stream).alias("ts_us"),
        F.round(F.col("value") * 100).cast("long").alias("x"),
    )
    out = ev.groupBy("event_type").applyInPandasWithState(
        _update_ph_state,
        outputStructType=_PH_OUT_SCHEMA,
        stateStructType=_PH_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return _drain_to_table(out, mode="update", confs=PYTHON_STATE_CONFS)


def interval_union_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user interval-union coverage via ``transformWithStateInPandas``
    with a typed ``ListState`` — the Spark-4 state-API twin of
    ``stream_interval_union``.

    Where the applyInPandasWithState form packs the merged segments into
    one opaque state tuple (parallel arrays), this one keeps them in a
    named ``ListState`` of (s_us, e_us) structs — so the JVM state store
    holds per-element rows it can iterate without deserializing one
    monolithic blob, and at RocksDB scale a long segment list stops
    being a single giant value. Note the write side here is still
    ``put()`` of the full merged list each batch (interval merging can
    rewrite interior segments, so an append-only delta doesn't apply);
    the O(Δ) ``appendList`` fast path only pays off for genuinely
    append-only state shapes. A ``ValueState``
    carries the interval counter. Same exactness argument: merged
    disjoint segments are invariant to micro-batch split/arrival order,
    so the batch sweep SQL is a true oracle.

    Environment handling (protobuf + RocksDB provider) is identical to
    ``series_state_tws``.
    """
    from ..compat import ensure_protobuf_for_session

    if not ensure_protobuf_for_session(spark):
        raise RuntimeError(
            "transformWithStateInPandas needs a google.protobuf runtime "
            "(state-server wire protocol) and none is importable or "
            "vendored on this image"
        )

    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class IntervalUnion(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._segments = handle.getListState(
                "segments", "s_us long, e_us long"
            )
            self._n = handle.getValueState("n", "n long")

        def handleInputRows(self, key, rows, timerValues):
            # the ListState keeps its exists() probe: the list client's
            # get() raises StopIteration on ANY non-OK server status, so
            # get() alone would read a state-server error as empty state
            # and silently reset the interval set; exists() raises on
            # unexpected statuses. ValueState.get() surfaces errors
            # itself (absent key -> None), so that read needs no probe.
            merged = (
                [(int(s), int(e)) for s, e in self._segments.get()]
                if self._segments.exists()
                else []
            )
            prev_n = self._n.get()
            n = prev_n[0] if prev_n is not None else 0
            for pdf in rows:
                n += len(pdf)
                batch = list(
                    zip(
                        (int(x) for x in pdf["s_us"]),
                        (int(x) for x in pdf["e_us"]),
                    )
                )
                merged = _merge_intervals(merged, batch)
            self._segments.put([(s, e) for s, e in merged])
            self._n.update((n,))
            covered = sum(e - s for s, e in merged)
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_intervals": [n],
                    "covered_us": [covered],
                }
            )

        def close(self) -> None:
            pass

    stream = _stream_source(spark, sf_dir, "events")
    ts_us = _ts_us(stream)
    ev = stream.filter(F.col("value").isNotNull()).select(
        "user_id",
        ts_us.alias("s_us"),
        (
            ts_us
            + (
                F.abs(F.round(F.col("value") * 100).cast("long")) % 3600
            )
            * 1000000
        ).alias("e_us"),
    )
    out = ev.groupBy("user_id").transformWithStateInPandas(
        IntervalUnion(),
        outputStructType=_IU_OUT_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )
    return _drain_to_table(out, mode="update", confs=TWS_STATE_CONFS)


# ---------------------------------------------------- event-time timers

_SC_OUT_SCHEMA = "user_id long, start_us long, end_us long, n long"


def session_close_tws(
    spark: SparkSession, events_dir: str, gap_s: int
) -> DataFrame:
    """Gap-based sessionization with EVENT-TIME TIMERS — the third leg
    of the transformWithState coverage (ValueState → ListState →
    timers): sessions close either inline (a batch row arrives past the
    gap) or via ``handleExpiredTimer`` when the WATERMARK passes the
    open session's end + gap, which is how a production stream emits a
    user's final session without waiting for their next event.

    State: one ValueState (start_us, last_us, n) per user; one
    registered event-time timer at last_us + gap per user, re-armed on
    every extension (the old timer is deleted — dangling timers would
    close sessions early). Output: CLOSED sessions only; a session
    still open when the drain ends is withheld, exactly like an open
    watermark window in `stream_windowed_counts`.

    Ordering contract: correctness of inline closes assumes event-time
    order ACROSS batches per user (the watermark contract — data later
    than the watermark bound is the source's responsibility); within a
    batch rows are sorted here. Round 12: the source is opened with
    ``single_batch=True`` (maxFilesPerTrigger = actual file count), so
    a MULTI-FILE events table still arrives as one micro-batch and the
    contract holds structurally instead of by the one-file-per-sf-table
    accident — pinned by tests/test_r11e_ops.py::
    test_session_close_tws_two_file_table. Cost note (PLAN_AUDIT): the
    ~7 s sf0.1 floor is RocksDB/state-server harness fixed cost — the
    two per-key state passes (input + expiry) an event-time-timer
    operator inherently makes — not per-row work; see SCALE.md's
    sf0.1→sf1 slope row for the measured data-bound component.
    """
    from ..compat import ensure_protobuf_for_session

    if not ensure_protobuf_for_session(spark):
        raise RuntimeError(
            "transformWithStateInPandas needs a google.protobuf runtime"
        )

    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    gap_us = gap_s * 1_000_000

    class SessionClose(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._handle = handle
            # armed_ms rides IN the session record: re-arming deletes the
            # stale timer point-wise (one deleteTimer(armed_ms)) instead
            # of scanning a server-PAGED listTimers() iterator, which
            # removes the interleaved-pagination hazard structurally and
            # saves one RPC per key per batch. (Measured at sf0.1 the
            # query's 7.5 s floor is unchanged — the cost is the TWO
            # per-key state-server passes a timer operator inherently
            # makes, input + expiry, not the listTimers call.)
            self._s = handle.getValueState(
                "session",
                "start_us long, last_us long, n long, armed_ms long",
            )

        def _emit(self, key, start_us, last_us, n):
            return pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "start_us": [start_us],
                    "end_us": [last_us],
                    "n": [n],
                }
            )

        def handleInputRows(self, key, rows, timerValues):
            prev_armed = None
            cur = None
            # ONE get() instead of exists()+get() — get() returns None
            # for a sessionless key; saves one state-server round trip
            # per key per batch (r14, guide §4)
            prev = self._s.get()
            if prev is not None:
                start_us, last_us, n, armed_ms = prev
                cur = (start_us, last_us, n)
                prev_armed = armed_ms
            ts = []
            for pdf in rows:
                ts.extend(int(x) for x in pdf["ts_us"])
            ts.sort()
            # batch inline closes into ONE frame per key (r13): a user
            # with k sessions in the batch previously yielded k−1
            # one-row pandas DataFrames — at ~0.5 ms per constructor
            # that dominated the per-key Python cost (guide §4.2).
            # Identical rows, one Arrow batch out instead of k−1.
            closed: list[tuple[int, int, int]] = []
            for t in ts:
                if cur is None:
                    cur = (t, t, 1)
                elif t - cur[1] > gap_us:
                    closed.append(cur)
                    cur = (t, t, 1)
                else:
                    cur = (cur[0], max(cur[1], t), cur[2] + 1)
            if closed:
                yield pd.DataFrame(
                    {
                        "user_id": [key[0]] * len(closed),
                        "start_us": [c[0] for c in closed],
                        "end_us": [c[1] for c in closed],
                        "n": [c[2] for c in closed],
                    }
                )
            # re-arm: exactly one live timer per key, at tail end + gap —
            # the previously armed expiry is IN the state record, so the
            # stale timer is deleted point-wise (no listTimers scan)
            new_ms = (cur[1] + gap_us) // 1000
            if prev_armed is not None and prev_armed != new_ms:
                self._handle.deleteTimer(prev_armed)
            if prev_armed != new_ms:
                self._handle.registerTimer(new_ms)
            self._s.update(cur + (new_ms,))

        def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
            # same single-get discipline as handleInputRows (r14): the
            # expiry pass visits every timer-armed key, so the dropped
            # exists() is one RPC per key in the drain's second pass
            prev = self._s.get()
            if prev is not None:
                start_us, last_us, n, _armed_ms = prev
                # the timer was armed at last_us + gap; if state moved
                # past it a newer timer exists — only close when the
                # expiry really is this session's close point
                if expiredTimerInfo.getExpiryTimeInMs() >= (
                    last_us + gap_us
                ) // 1000:
                    yield self._emit(key, start_us, last_us, n)
                    self._s.clear()

        def close(self) -> None:
            pass

    stream = _stream_source(spark, events_dir, "events", single_batch=True)
    ts_us = _ts_us(stream)
    ev = (
        stream.select(
            "user_id",
            ts_us.alias("ts_us"),
            F.timestamp_micros(ts_us).alias("event_ts"),
        )
        .withWatermark("event_ts", "0 seconds")
    )
    out = ev.groupBy("user_id").transformWithStateInPandas(
        SessionClose(),
        outputStructType=_SC_OUT_SCHEMA,
        outputMode="Append",
        timeMode="EventTime",
    )
    return _drain_to_table(out, mode="append", confs=TWS_STATE_CONFS)


# ---------------------------------------------------- MapState histogram

_TH_OUT_SCHEMA = "user_id long, event_type string, n long, sum_c long"


def user_type_histogram_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event-type histogram (count + cent total per type) with
    the per-type cells in a typed ``MapState`` — the fourth and last
    state primitive of the transformWithState API (ValueState →
    ListState → timers → MapState).

    Why a map and not a (user_id, event_type) grouping key: keying the
    OPERATOR by user keeps one state-store entry per user whose cells
    are point-addressable (``getValue``/``updateValue`` touch ONE cell
    per incoming type — O(Δtypes) per batch, not O(all types)), and a
    batch emits only the user's updated rows. The equivalent
    composite-key formulation shuffles on the wider key and cannot
    co-iterate a user's whole histogram without a second aggregation.

    Output per batch: one row per (user, type) cell the batch touched,
    carrying the RUNNING totals; the drain's latest row per cell equals
    the batch GROUP BY — the differential oracle.
    """
    from ..compat import ensure_protobuf_for_session

    if not ensure_protobuf_for_session(spark):
        raise RuntimeError(
            "transformWithStateInPandas needs a google.protobuf runtime"
        )

    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class TypeHistogram(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._cells = handle.getMapState(
                "cells", "event_type string", "n long, sum_c long"
            )

        def handleInputRows(self, key, rows, timerValues):
            touched: dict[str, tuple[int, int]] = {}
            for pdf in rows:
                for et, g in pdf.groupby("event_type"):
                    dn, dc = len(g), int(g["value_c"].sum())
                    if et in touched:
                        n0, c0 = touched[et]
                    else:
                        # getValue() returns None for an absent cell —
                        # the containsKey() probe was a second
                        # state-server round trip per (user, new type)
                        # for nothing (r14, guide §4)
                        prev = self._cells.getValue((et,))
                        n0, c0 = (prev[0], prev[1]) if prev else (0, 0)
                    touched[et] = (n0 + dn, c0 + dc)
            for et, (n, c) in touched.items():
                self._cells.updateValue((et,), (n, c))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]] * len(touched),
                    "event_type": list(touched),
                    "n": [v[0] for v in touched.values()],
                    "sum_c": [v[1] for v in touched.values()],
                }
            )

        def close(self) -> None:
            pass

    stream = _stream_source(spark, sf_dir, "events")
    ev = stream.filter(F.col("value").isNotNull()).select(
        "user_id",
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("value_c"),
    )
    out = ev.groupBy("user_id").transformWithStateInPandas(
        TypeHistogram(),
        outputStructType=_TH_OUT_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )
    return _drain_to_table(out, mode="update", confs=TWS_STATE_CONFS)
