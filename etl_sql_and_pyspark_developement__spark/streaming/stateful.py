"""Stateful streaming operators: per-key state carried across
micro-batches with applyInPandasWithState (st25: transformWithState).

Most of them are ordered folds that equal a batch twin bit for bit
(st21 ↔ q61, st23 ↔ q72, st28 ↔ q80, st29 ↔ q86), and they share one
fold vocabulary:

- ``_merge_chunks(pdfs, by)`` is the only chunk merge and sort. Its
  docstring holds the order contract: a fold sorts its key's whole
  micro-batch once, and batches fold in arrival order.
- ``_roll_days`` is the one pending-day roll of the day-bucketed folds
  st23 (EWMA), st28 (CUSUM) and st29 (Holt), whose state is
  ``(pend_day, pend_cnt, *acc, ndays)``; ``_fold_pending`` folds the
  pending day, for good or for a provisional view.
- ``fold.capped_fold`` is the one clamp loop, shared by st21, st25 and
  q61's general-sign arm.

Order-free folds (st24's binning, st27/st32's min-k, st31's BIT_OR)
read their chunks as they come. st04 (Welford running mean/std with
3-sigma anomaly flags) keeps its state for the query's lifetime
(NoTimeout).
"""

from __future__ import annotations

import math
from collections.abc import Callable, Iterable

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.streaming.stateful_processor import StatefulProcessor

from etl_sql_and_pyspark_developement__spark.operators.fold import (
    capped_fold,
    round_half_up,
)


def _merge_chunks(
    pdfs: Iterable[pd.DataFrame], by: str | list[str] | None = None
) -> pd.DataFrame | None:
    """Concat a key's Arrow chunks into one frame (None if all are
    empty) and, given ``by``, sort it once.

    A key's micro-batch can span several Arrow record batches (10k
    rows each by default), and sorted chunks are not a sorted batch:
    an order-sensitive fold that sorted per chunk would diverge from
    its batch twin. So every such fold reads its batch through here,
    merged first and sorted once. The sort is stable, so rows tied on
    ``by`` keep their arrival order. Across micro-batches a fold runs
    in batch order."""
    chunks = [pdf for pdf in pdfs if len(pdf)]
    if not chunks:
        return None
    merged = chunks[0] if len(chunks) == 1 else pd.concat(chunks, ignore_index=True)
    return merged if by is None else merged.sort_values(by, kind="stable")


OUTPUT_SCHEMA = (
    "user_id bigint, n_events bigint, mean_value double, std_value double, "
    "n_anomalies bigint"
)
STATE_SCHEMA = "count bigint, mean double, m2 double"


def _user_stats_update(
    key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterable[pd.DataFrame]:
    (user_id,) = key
    count, mean, m2 = state.get if state.exists else (0, 0.0, 0.0)
    anomalies = 0
    for pdf in pdfs:
        # NULLs are skipped, as avg/stddev_samp (and st21/st25) skip
        # them: one NaN would poison the mean and M2 for good
        for v in pdf["value"].dropna():
            v = float(v)
            # flag before updating: anomaly = outside 3 sigma of history
            if count >= 10:
                std = math.sqrt(m2 / (count - 1)) if count > 1 else 0.0
                if std > 0 and abs(v - mean) > 3 * std:
                    anomalies += 1
            count += 1
            delta = v - mean
            mean += delta / count
            m2 += delta * (v - mean)
    state.update((count, mean, m2))
    std = math.sqrt(m2 / (count - 1)) if count > 1 else 0.0
    yield pd.DataFrame(
        {
            "user_id": [user_id],
            "n_events": [count],
            "mean_value": [mean],
            "std_value": [std],
            "n_anomalies": [anomalies],
        }
    )


def running_user_stats(events: DataFrame) -> DataFrame:
    """st04: per-user running mean/std + 3-sigma anomaly counts,
    maintained as keyed state across micro-batches. NULL values are
    skipped, so n_events counts non-NULL values (count(value))."""
    return (
        events.select("user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _user_stats_update,
            OUTPUT_SCHEMA,
            STATE_SCHEMA,
            "update",
            GroupStateTimeout.NoTimeout,
        )
    )


BUDGET_OUTPUT_SCHEMA = (
    "doc_id bigint, source string, ws_tokens bigint, spent_after bigint, "
    "admitted int"
)
BUDGET_STATE_SCHEMA = "spent bigint"


def _make_budget_fn(budget: int):
    def update(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterable[pd.DataFrame]:
        (source,) = key
        spent = state.get[0] if state.exists else 0
        out = {k: [] for k in ("doc_id", "source", "ws_tokens", "spent_after", "admitted")}
        # doc_id order: arrival order within a micro-batch is not
        # contractual, and admission is a prefix fold.
        merged = _merge_chunks(pdfs, by="doc_id")
        if merged is not None:
            for doc_id, toks in zip(merged["doc_id"], merged["ws_tokens"]):
                toks = int(toks)
                admitted = 1 if spent + toks <= budget else 0
                if admitted:
                    spent += toks
                out["doc_id"].append(int(doc_id))
                out["source"].append(source)
                out["ws_tokens"].append(toks)
                out["spent_after"].append(spent)
                out["admitted"].append(admitted)
        state.update((spent,))
        yield pd.DataFrame(out)

    return update


def streaming_token_budget(docs: DataFrame, budget: int = 500) -> DataFrame:
    """st11: streaming per-source token-budget admission — the
    streaming twin of p06's batch curation. Each arriving document is
    admitted iff it still fits its source's remaining budget; a doc
    that does not fit is rejected but later smaller docs may still be
    admitted (skip-and-continue, the correct semantics for a gate that
    sees docs in arrival order rather than quality order).

    State is ONE bigint per source (tokens spent) — bounded by the
    number of sources regardless of stream length, the property that
    lets a continuous-crawl admission gate run indefinitely. Input
    must carry `ws_tokens` (see textstats.tokens).
    """
    return (
        docs.select("doc_id", "source", "ws_tokens")
        .groupBy("source")
        .applyInPandasWithState(
            _make_budget_fn(budget),
            BUDGET_OUTPUT_SCHEMA,
            BUDGET_STATE_SCHEMA,
            "update",
            GroupStateTimeout.NoTimeout,
        )
    )


LOCF_OUTPUT_SCHEMA = (
    "event_id bigint, user_id bigint, ts timestamp, filled_value double, "
    "was_filled int"
)
LOCF_STATE_SCHEMA = "last_val double"


def _locf_update(
    key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterable[pd.DataFrame]:
    (user,) = key
    last_val = state.get[0] if state.exists else None
    out = {k: [] for k in ("event_id", "ts", "filled_value", "was_filled")}
    merged = _merge_chunks(pdfs, by=["ts", "event_id"])
    if merged is not None:
        for eid, ts, val in zip(
            merged["event_id"], merged["ts"], merged["value"]
        ):
            missing = pd.isna(val)
            if missing:
                filled = last_val
                was = 1 if last_val is not None else 0
            else:
                filled = float(val)
                last_val = filled
                was = 0
            out["event_id"].append(int(eid))
            out["ts"].append(ts)
            out["filled_value"].append(filled)
            out["was_filled"].append(was)
    if last_val is not None:
        state.update((last_val,))
    n = len(out["event_id"])
    yield pd.DataFrame({**out, "user_id": [user] * n})


def streaming_locf(events: DataFrame) -> DataFrame:
    """st19: streaming LOCF (last-observation-carried-forward)
    enrichment — q54's forward-fill semantics running live: every
    arriving event with a NULL value is emitted carrying its user's
    last observed value instead. The broken-sensor repair a live
    metrics pipeline applies at ingest.

    State is ONE double per user (the last observed value) — bounded
    by the active-user population, independent of history length, so
    the stream runs indefinitely. In-batch processing is event-time
    ordered (deterministic); late events across batches take the
    carry as of their processing batch — the standard streaming-LOCF
    contract (exactly event-time LOCF would require holding history).
    """
    return (
        events.select("event_id", "user_id", "ts", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _locf_update,
            LOCF_OUTPUT_SCHEMA,
            LOCF_STATE_SCHEMA,
            "update",
            GroupStateTimeout.NoTimeout,
        )
    )


CAPPED_OUTPUT_SCHEMA = (
    "user_id bigint, n_purchases bigint, n_capped bigint, balance double"
)
CAPPED_STATE_SCHEMA = "bal double, n bigint, ncap bigint"


def _capped_batch(
    user, pdfs: Iterable[pd.DataFrame], prev: tuple, cap: float
) -> tuple[tuple, pd.DataFrame]:
    """st21/st25's batch step: fold the user's non-NULL purchases, in
    (ts, event_id) order, into prev = (bal, n, ncap) with q61's clamp
    step. Returns the new state and the output row."""
    bal, n, ncap = prev
    merged = _merge_chunks(pdfs, by=["ts", "event_id"])
    if merged is not None:
        bal, n, ncap = capped_fold(merged["value"].dropna(), cap, bal, n, ncap)
    return (bal, n, ncap), pd.DataFrame(
        {
            "user_id": [user],
            "n_purchases": [n],
            "n_capped": [ncap],
            # q61's HALF_UP (Spark F.round), not Python's banker's round().
            "balance": [round_half_up(bal)],
        }
    )


def _make_capped_fn(cap: float):
    def update(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterable[pd.DataFrame]:
        prev = state.get if state.exists else (0.0, 0, 0)
        new, out = _capped_batch(key[0], pdfs, prev, cap)
        state.update(new)
        yield out

    return update


def streaming_capped_total(events: DataFrame, cap: float = 500.0) -> DataFrame:
    """st21: streaming CAPPED accumulator — q61's prefix-dependent
    fold (bal = min(cap, bal+value)) carried across micro-batches as
    keyed state (applyInPandasWithState). The loyalty-balance /
    quota-meter that must survive a stream restart: state is three
    scalars per user, and because the fold is the SAME IEEE add/clamp
    sequence as the batch op, the final emitted balance equals q61's
    answer exactly when events arrive in order (parity tested).
    """
    purch = events.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", "value"
    )
    return purch.groupBy("user_id").applyInPandasWithState(
        _make_capped_fn(cap),
        CAPPED_OUTPUT_SCHEMA,
        CAPPED_STATE_SCHEMA,
        "update",
        GroupStateTimeout.NoTimeout,
    )


EWMA_OUTPUT_SCHEMA = (
    "event_type string, n_days int, ewma_final_milli bigint, "
    "ewma_peak_milli bigint, n_spikes bigint"
)
EWMA_STATE_SCHEMA = (
    "pend_day string, pend_cnt bigint, s bigint, peak bigint, "
    "spikes bigint, ndays int"
)

_MILLI_BUDGET = 1 << 31  # fold._milli_series' input guard, in milli-units


def _fold_pending(st: tuple, step: Callable) -> tuple:
    """(*acc, ndays) of a day-bucketed fold's state st = (pend_day,
    pend_cnt, *acc, ndays) with its pending day folded in, if it has
    one: acc = step(*acc, pend_cnt * 1000)."""
    pend_day, pend_cnt, *acc, ndays = st
    if pend_day is None:
        return (*acc, ndays)
    return (*step(*acc, pend_cnt * 1000), ndays + 1)


def _roll_days(
    pdfs: Iterable[pd.DataFrame],
    st: tuple,
    step: Callable,
    who: str,
    guard: str | None = None,
) -> tuple:
    """Roll a key's micro-batch into its day-bucketed fold's state
    st = (pend_day, pend_cnt, *acc, ndays) and return the new state.

    The merged batch is counted per day. The pending day is the latest
    day seen: more events for it add to its count, and a later day
    folds it for good (`_fold_pending`) and becomes the pending day.
    An earlier day has been folded already, so it raises rather than
    count twice; a day folds only once a later one arrives, so late
    events for the pending day still count. ``guard`` names the batch
    twin whose [0, 2^31) milli-unit input budget the pending count
    must keep."""
    pend_day, pend_cnt, *acc, ndays = st
    merged = _merge_chunks(pdfs)
    days = (
        {}
        if merged is None
        else merged.groupby(merged["ts"].dt.strftime("%Y-%m-%d")).size()
    )
    for day, cnt in days.items():
        if pend_day is not None and day < pend_day:
            raise ValueError(
                f"{who}: out-of-order day {day!r} arrived after "
                f"{pend_day!r} was already pending — that day is "
                "permanently folded and cannot absorb late events; feed "
                "the stream in non-decreasing day order (or backfill "
                "late data through the batch twin)"
            )
        if day != pend_day:
            *acc, ndays = _fold_pending((pend_day, pend_cnt, *acc, ndays), step)
            pend_day, pend_cnt = day, 0
        pend_cnt += int(cnt)
        if guard and pend_cnt * 1000 >= _MILLI_BUDGET:
            raise ValueError(
                f"{who}: daily count exceeds the 2^31 milli-unit "
                f"packing budget ({guard} guard)"
            )
    return (pend_day, pend_cnt, *acc, ndays)


def _ewma_step(
    s: int, peak: int, spikes: int, x_milli: int
) -> tuple[int, int, int]:
    """One step of the integer EWMA fold — the SAME truncating
    arithmetic as operators/fold.ewma_stats' aggregate() lambdas, so
    streaming state equals the batch fold bit-for-bit. s < 0 encodes
    'no folded day yet' (the seed step)."""
    if s < 0:
        return x_milli, x_milli, 0
    ns = (3 * x_milli + 7 * s) // 10
    return ns, max(peak, ns), spikes + (1 if x_milli > 2 * s else 0)


def _ewma_update(
    key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterable[pd.DataFrame]:
    (etype,) = key
    st = _roll_days(
        pdfs,
        state.get if state.exists else (None, 0, -1, 0, 0, 0),
        _ewma_step,
        "streaming_ewma",
        guard="fold.ewma_stats",
    )
    state.update(st)
    # Provisional view: with the pending day folded in, it equals the
    # batch ewma_stats over everything seen so far.
    s, peak, spikes, ndays = _fold_pending(st, _ewma_step)
    yield pd.DataFrame(
        {
            "event_type": [etype],
            "n_days": [ndays],
            "ewma_final_milli": [s],
            "ewma_peak_milli": [peak],
            "n_spikes": [spikes],
        }
    )


def streaming_ewma(events: DataFrame) -> DataFrame:
    """st23: streaming EWMA of daily event volumes per type — q72's
    packed integer fold carried across micro-batches as keyed state
    (applyInPandasWithState). State is the pending day's (date,
    count), the (smoothed, peak, spikes) accumulator and the folded-day
    count, rolled by ``_roll_days``: days arrive in non-decreasing
    order, and an earlier one raises. Each batch emits the provisional
    view including the pending day, which equals the batch fold over
    everything seen (identical truncating integer arithmetic; parity
    tested).

    Scale: state is O(1) per event type; per-batch work is one
    pandas groupby over the batch's rows for the key. The same
    RocksDB state-store opt-in as st04 applies for wide key spaces.
    """
    return events.select("event_type", "ts").groupBy(
        "event_type"
    ).applyInPandasWithState(
        _ewma_update,
        EWMA_OUTPUT_SCHEMA,
        EWMA_STATE_SCHEMA,
        "update",
        GroupStateTimeout.NoTimeout,
    )


DRIFT_OUTPUT_SCHEMA = (
    "event_type string, n_ref bigint, n_cur bigint, psi double"
)
DRIFT_STATE_SCHEMA = (
    "vmin double, vmax double, ref array<bigint>"
)

_DRIFT_BINS = 10
# A reference locks only once a batch has this many non-null values AND
# non-degenerate bounds — a 1-value or constant first batch would freeze
# vmin == vmax with a single-bin profile and every later PSI would be
# scored against a meaningless reference.
_DRIFT_MIN_REF = 10


def _drift_bins(values, vmin: float, vmax: float) -> list[int]:
    counts = [0] * _DRIFT_BINS
    if vmax == vmin:
        counts[0] = len(values)
        return counts
    for v in values:
        b = int((float(v) - vmin) * _DRIFT_BINS / (vmax - vmin))
        counts[min(_DRIFT_BINS - 1, max(0, b))] += 1
    return counts


def _psi(ref: list[int], cur: list[int]) -> float:
    t1 = sum(ref) + _DRIFT_BINS
    t2 = sum(cur) + _DRIFT_BINS
    psi = 0.0
    for n1, n2 in zip(ref, cur):
        p1 = (n1 + 1) / t1
        p2 = (n2 + 1) / t2
        psi += (p1 - p2) * math.log(p1 / p2)
    return psi


def _drift_update(
    key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterable[pd.DataFrame]:
    (etype,) = key
    vals = []
    for pdf in pdfs:
        vals.extend(float(v) for v in pdf["value"] if not pd.isna(v))
    if not state.exists:
        # The first HEALTHY batch for this key LOCKS the reference: its
        # bounds define the bins every later batch is scored against
        # (the production pattern — a frozen training-time profile).
        # A degenerate batch (too few values, or all-constant bounds)
        # must NOT lock: vmin == vmax with a one-bin profile would be
        # frozen forever and every later PSI scored against noise.
        # Until locked, emit an explicit n_ref=0 / psi=NULL status row
        # and leave state absent so a later batch can lock.
        if len(vals) < _DRIFT_MIN_REF or min(vals) == max(vals):
            yield pd.DataFrame(
                {
                    "event_type": [etype],
                    "n_ref": [0],
                    "n_cur": [len(vals)],
                    "psi": [None],
                }
            )
            return
        vmin, vmax = min(vals), max(vals)
        ref = _drift_bins(vals, vmin, vmax)
        state.update((vmin, vmax, ref))
        yield pd.DataFrame(
            {
                "event_type": [etype],
                "n_ref": [len(vals)],
                "n_cur": [0],
                "psi": [0.0],
            }
        )
        return
    vmin, vmax, ref = state.get
    ref = list(ref)
    cur = _drift_bins(vals, vmin, vmax)
    yield pd.DataFrame(
        {
            "event_type": [etype],
            "n_ref": [int(sum(ref))],
            "n_cur": [len(vals)],
            "psi": [round(_psi(ref, cur), 6)],
        }
    )


def streaming_drift(events: DataFrame) -> DataFrame:
    """st24: LIVE distribution-drift monitoring — q73's PSI running
    against a LOCKED reference: the first HEALTHY micro-batch for each
    event type (≥ _DRIFT_MIN_REF non-null values, non-degenerate
    bounds) freezes bounds + bin profile (the training-time snapshot),
    and every later batch emits its own Laplace-smoothed PSI against
    that reference. Batches before the lock emit an explicit
    n_ref=0 / psi=NULL "not yet locked" status row instead of freezing
    a meaningless reference. The alert a production feature pipeline wants the
    moment an upstream change shifts a value distribution — without
    re-reading history.

    State is bounds + 10 bin counts per key (O(1), independent of
    stream length); per-batch work is one pass over the batch's
    values. Bit-parity with a batch replay of the same formula is
    asserted in tests (identical float op order)."""
    return events.select("event_type", "value").groupBy(
        "event_type"
    ).applyInPandasWithState(
        _drift_update,
        DRIFT_OUTPUT_SCHEMA,
        DRIFT_STATE_SCHEMA,
        "update",
        GroupStateTimeout.NoTimeout,
    )


class _CappedTotalProcessor(StatefulProcessor):
    """st25: st21's batch step (`_capped_batch`) as a typed
    StatefulProcessor on transformWithState, so its rows equal st21's.
    The state is a named, schema-typed ValueState handle instead of one
    opaque row — the migration recipe for the other ops when they need
    per-variable TTL or state-schema evolution. Spark implements
    transformWithState only on the RocksDB state store provider
    (session.enable_rocksdb_state_store).
    """

    def __init__(self, cap: float):
        self._cap = cap

    def init(self, handle) -> None:
        self._state = handle.getValueState(
            "capped", "bal double, n bigint, ncap bigint"
        )

    def handleInputRows(self, key, rows, timerValues):
        prev = self._state.get() if self._state.exists() else (0.0, 0, 0)
        new, out = _capped_batch(key[0], rows, prev, self._cap)
        self._state.update(new)
        yield out

    def close(self) -> None:
        pass


def streaming_capped_total_tws(
    events: DataFrame, cap: float = 500.0
) -> DataFrame:
    """st25: streaming capped accumulator on Spark 4's
    transformWithStateInPandas (see _CappedTotalProcessor). Parity
    with st21 and with q61's batch fold is test-pinned; requires the
    RocksDB state store provider to be active on the session.

    GATED: transformWithState's Python state-server protocol speaks
    protobuf (pyspark.sql.streaming.proto) — without the `protobuf`
    package the driver worker crashes mid-stream with an opaque
    STREAMING_PYTHON_RUNNER_INITIALIZATION_FAILURE, so this checks
    up front and raises a clear error instead (the io.read_delta
    pattern). The processor itself is complete; the parity test
    activates automatically where protobuf is installed."""
    try:
        from google.protobuf import descriptor  # noqa: F401
    except ImportError as exc:
        raise NotImplementedError(
            "transformWithStateInPandas requires the 'protobuf' package "
            "(pyspark's state-server protocol); not available in this "
            "environment — use streaming_capped_total (st21, "
            "applyInPandasWithState) which is parity-equivalent"
        ) from exc
    purch = events.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", "value"
    )
    return purch.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=_CappedTotalProcessor(cap),
        outputStructType=CAPPED_OUTPUT_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )


HH_OUTPUT_SCHEMA = (
    "event_type string, user_id bigint, est_count bigint, "
    "n_total bigint, n_decrements bigint"
)
HH_STATE_SCHEMA = (
    "items array<bigint>, cnts array<bigint>, n bigint, dec bigint"
)

_HH_COUNTERS = 8


def _hh_fold(counters: dict, n: int, dec: int, uids) -> tuple[dict, int, int]:
    """One Misra-Gries pass: m bounded counters; an arrival not among
    them when all m are taken decrements EVERY counter (dropping
    zeros) — each such event retires m+1 count units, which is what
    bounds the undercount: true(x) − counter(x) ≤ dec ≤ n/(m+1)."""
    for uid in uids:
        uid = int(uid)
        n += 1
        if uid in counters:
            counters[uid] += 1
        elif len(counters) < _HH_COUNTERS:
            counters[uid] = 1
        else:
            dec += 1
            counters = {u: c - 1 for u, c in counters.items() if c > 1}
    return counters, n, dec


def _hh_update(
    key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterable[pd.DataFrame]:
    (etype,) = key
    if state.exists:
        items, cnts, n, dec = state.get
        counters = dict(zip(items, cnts))
    else:
        counters, n, dec = {}, 0, 0
    # MG state depends on fold order: (ts, event_id) makes replays
    # bit-identical.
    merged = _merge_chunks(pdfs, by=["ts", "event_id"])
    if merged is not None:
        counters, n, dec = _hh_fold(counters, n, dec, merged["user_id"])
    items = sorted(counters)
    state.update((items, [counters[u] for u in items], n, dec))
    yield pd.DataFrame(
        {
            "event_type": [etype] * len(items),
            "user_id": items,
            "est_count": [counters[u] for u in items],
            "n_total": [n] * len(items),
            "n_decrements": [dec] * len(items),
        }
    )


def streaming_heavy_hitters(events: DataFrame) -> DataFrame:
    """st26: streaming HEAVY HITTERS per event type via Misra-Gries
    summaries — the bounded-memory 'which users dominate this event
    stream' monitor: state is AT MOST m=8 (item, counter) pairs per
    key no matter how many distinct users flow past (the counter-
    based cousin of st22's HLL sketches: HLL answers 'how many
    distinct', MG answers 'which ones dominate').

    Guarantee (emitted alongside the estimates, test-asserted):
    counter(x) ≤ true(x) ≤ counter(x) + n_decrements, and every user
    with true frequency > n/(m+1) is GUARANTEED present — frequencies
    the gate can act on without exact counting. The fold is order-
    deterministic ((ts, event_id) within batch, chronological file
    order across batches), so a pure-Python replay of the same order
    reproduces the state bit-for-bit (parity tested)."""
    return events.select("event_type", "user_id", "ts", "event_id").groupBy(
        "event_type"
    ).applyInPandasWithState(
        _hh_update,
        HH_OUTPUT_SCHEMA,
        HH_STATE_SCHEMA,
        "update",
        GroupStateTimeout.NoTimeout,
    )


SAMPLE_OUTPUT_SCHEMA = (
    "source string, doc_id bigint, prio string, n_seen bigint"
)
SAMPLE_STATE_SCHEMA = "ids array<bigint>, prios array<string>, n bigint"

_SAMPLE_K = 16


def _sample_update(
    key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterable[pd.DataFrame]:
    import hashlib

    (source,) = key
    if state.exists:
        ids, prios, n = state.get
        pairs = list(zip(prios, ids))
    else:
        pairs, n = [], 0
    for pdf in pdfs:
        for did in pdf["doc_id"]:
            did = int(did)
            n += 1
            prio = hashlib.md5(f"0:{did}".encode()).hexdigest()
            pairs.append((prio, did))
    # Bottom-k by (md5 priority, id): min is associative/commutative/
    # idempotent, so ANY batch split or arrival order converges to the
    # same k pairs — this is what makes the sample equal the batch
    # bottom-k bit-for-bit (unlike reservoir sampling, whose result
    # depends on the stream order).
    pairs = sorted(set(pairs))[:_SAMPLE_K]
    state.update(
        ([d for _, d in pairs], [p for p, _ in pairs], n)
    )
    yield pd.DataFrame(
        {
            "source": [source] * len(pairs),
            "doc_id": [d for _, d in pairs],
            "prio": [p for p, _ in pairs],
            "n_seen": [n] * len(pairs),
        }
    )


def streaming_bottomk_sample(docs: DataFrame) -> DataFrame:
    """st27: streaming DETERMINISTIC UNIFORM SAMPLE per source — a
    bottom-k (KMV) priority sample maintained as keyed state: every
    document's priority is md5(seed:id) (the corpus-wide p02/p07
    convention) and the state keeps the k smallest (priority, id)
    pairs seen so far. Because bottom-k is a MIN-fold — associative,
    commutative, idempotent — the final sample is BIT-IDENTICAL to
    the batch bottom-k over the same corpus under ANY batch split,
    arrival order, or replay (parity-tested against the batch window
    form): the live 'give me a uniform peek at what this source has
    ingested' without re-reading history, and the same sketch that
    estimates distinct counts (KMV) if needed.

    State is k (id, 32-char priority) pairs + one counter per source
    — bounded regardless of stream length."""
    return docs.select("source", "doc_id").groupBy("source").applyInPandasWithState(
        _sample_update,
        SAMPLE_OUTPUT_SCHEMA,
        SAMPLE_STATE_SCHEMA,
        "update",
        GroupStateTimeout.NoTimeout,
    )


CUSUM_OUTPUT_SCHEMA = (
    "event_type string, n_days bigint, mu_milli bigint, "
    "cusum_milli bigint, n_alarms bigint, locked int"
)
CUSUM_STATE_SCHEMA = (
    "pend_day string, pend_cnt bigint, musum bigint, nmu bigint, "
    "mu bigint, s bigint, alarms bigint, ndays bigint"
)

_CUSUM_BASELINE_DAYS = 5


def _cusum_fold_day(
    musum: int, nmu: int, mu: int, s: int, alarms: int, x_milli: int
) -> tuple[int, int, int, int, int]:
    """Fold one COMPLETED day into CUSUM state: the first
    _CUSUM_BASELINE_DAYS folded days form the locked baseline μ
    (their milli-mean, DIV truncation); every later day accumulates
    S = max(0, S + x − μ − μ/10) and counts 4μ crossings. Exact
    integer arithmetic — replays bit-for-bit."""
    if nmu < _CUSUM_BASELINE_DAYS:
        musum, nmu = musum + x_milli, nmu + 1
        if nmu == _CUSUM_BASELINE_DAYS:
            mu = musum // _CUSUM_BASELINE_DAYS
        return musum, nmu, mu, s, alarms
    s = max(0, s + x_milli - mu - mu // 10)
    return musum, nmu, mu, s, alarms + (1 if s > 4 * mu else 0)


def _cusum_update(
    key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterable[pd.DataFrame]:
    (etype,) = key
    st = _roll_days(
        pdfs,
        state.get if state.exists else (None, 0, 0, 0, -1, 0, 0, 0),
        _cusum_fold_day,
        "streaming_cusum",
    )
    state.update(st)
    _, _, _, nmu, mu, s, alarms, ndays = st
    locked = 1 if nmu >= _CUSUM_BASELINE_DAYS else 0
    yield pd.DataFrame(
        {
            "event_type": [etype],
            "n_days": [ndays],
            "mu_milli": [mu if locked else None],
            "cusum_milli": [s],
            "n_alarms": [alarms],
            "locked": [locked],
        }
    )


def streaming_cusum(events: DataFrame) -> DataFrame:
    """st28: LIVE CUSUM drift alarming — q80's clamp fold running
    against a LOCKED baseline (st24's lock discipline + st23's
    ``_roll_days``): the first 5 COMPLETED days of each event
    type freeze μ (their milli-mean), and every later completed day
    folds S = max(0, S + x − μ − μ/10), counting 4μ crossings — the
    persistent-shift alarm q80 computes in batch, maintained with
    O(1) state per key and no history rescan. A day folds only when
    a later day arrives (late same-day events absorbed); pre-lock
    batches emit mu_milli = NULL / locked = 0 status rows. Exact
    integer arithmetic ⇒ a pure-Python replay of the same fold is
    bit-identical (parity tested)."""
    return events.select("event_type", "ts").groupBy(
        "event_type"
    ).applyInPandasWithState(
        _cusum_update,
        CUSUM_OUTPUT_SCHEMA,
        CUSUM_STATE_SCHEMA,
        "update",
        GroupStateTimeout.NoTimeout,
    )


HOLT_OUTPUT_SCHEMA = (
    "event_type string, n_days bigint, level_milli bigint, "
    "trend_milli bigint, forecast7_milli bigint"
)
HOLT_STATE_SCHEMA = (
    "pend_day string, pend_cnt bigint, lvl bigint, trend bigint, "
    "ndays bigint"
)

_HOLT_TREND_BUDGET = 1 << 25


def _tdiv(a: int, d: int) -> int:
    """Truncating integer division (Spark DIV / DuckDB // semantics;
    Python // floors, which differs on negative intermediates)."""
    q = a // d
    if a % d != 0 and (a < 0) != (d < 0):
        q += 1
    return q


def _holt_step(lvl: int, trend: int, x_milli: int) -> tuple[int, int]:
    """One step of fold.holt_stats' truncating integer recurrence —
    identical arithmetic, so streaming state equals the batch fold
    bit-for-bit. lvl < 0 encodes 'no folded day yet' (seed)."""
    if lvl < 0:
        return x_milli, 0
    l2 = max(0, _tdiv(3 * x_milli + 7 * (lvl + trend), 10))
    b2 = _tdiv((l2 - lvl) + 4 * trend, 5)
    if abs(b2) >= _HOLT_TREND_BUDGET:
        raise ValueError(
            "streaming_holt: trend outside the +-2^25 milli packing "
            "budget (fold.holt_stats guard)"
        )
    return l2, b2


def _holt_update(
    key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterable[pd.DataFrame]:
    (etype,) = key
    st = _roll_days(
        pdfs,
        state.get if state.exists else (None, 0, -1, 0, 0),
        _holt_step,
        "streaming_holt",
        guard="fold.holt_stats",
    )
    state.update(st)
    # Provisional view, as st23's.
    lvl, trend, ndays = _fold_pending(st, _holt_step)
    yield pd.DataFrame(
        {
            "event_type": [etype],
            "n_days": [ndays],
            "level_milli": [lvl],
            "trend_milli": [trend],
            "forecast7_milli": [lvl + 7 * trend],
        }
    )


def streaming_holt(events: DataFrame) -> DataFrame:
    """st29: streaming HOLT level+trend forecasting — q86's coupled
    integer recurrence carried across micro-batches as keyed state
    (st23's ``_roll_days`` with two-variable state): batches emit the
    provisional view including the pending day. Identical truncating
    arithmetic to fold.holt_stats ⇒ the emitted (level, trend,
    forecast) equals the batch fold BIT-FOR-BIT (parity tested).
    State is five scalars per event type."""
    return events.select("event_type", "ts").groupBy(
        "event_type"
    ).applyInPandasWithState(
        _holt_update,
        HOLT_OUTPUT_SCHEMA,
        HOLT_STATE_SCHEMA,
        "update",
        GroupStateTimeout.NoTimeout,
    )


COVERAGE_OUTPUT_SCHEMA = (
    "user_id bigint, n_islands bigint, covered_seconds bigint, "
    "n_events bigint"
)
COVERAGE_STATE_SCHEMA = (
    "cur_start bigint, cur_end bigint, covered_closed bigint, "
    "closed_islands bigint, n_events bigint"
)


def _coverage_update(
    key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterable[pd.DataFrame]:
    (user,) = key
    if state.exists:
        cur_s, cur_e, covered, closed, n_ev = state.get
    else:
        cur_s, cur_e, covered, closed, n_ev = None, None, 0, 0, 0
    merged = _merge_chunks(pdfs, by=["s", "event_id"])
    if merged is not None:
        for s, e in zip(merged["s"], merged["e"]):
            s, e = int(s), int(e)
            n_ev += 1
            if cur_s is None:
                cur_s, cur_e = s, e
            elif s > cur_e:
                # close the open island, start a new one
                covered += cur_e - cur_s
                closed += 1
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
    state.update((cur_s, cur_e, covered, closed, n_ev))
    open_len = (cur_e - cur_s) if cur_s is not None else 0
    open_cnt = 1 if cur_s is not None else 0
    yield pd.DataFrame(
        {
            "user_id": [user],
            "n_islands": [closed + open_cnt],
            "covered_seconds": [covered + open_len],
            "n_events": [n_ev],
        }
    )


def streaming_interval_union(events: DataFrame) -> DataFrame:
    """st30: streaming INTERVAL-UNION coverage — q91's sweep-line
    carried live: every arriving event opens a 5-minute activity
    window; the per-user state is ONE open island (start, end) plus
    two closed-island accumulators, so overlaps never double-count
    and state is five scalars per user regardless of history length.
    Each batch emits the user's running (n_islands, covered_seconds)
    INCLUDING the still-open island — exactly q91's answer when
    events arrive in event-time order across batches (parity tested
    on ordered replays; a late event that would bridge two already-
    closed islands cannot retro-merge them — the standard streaming
    trade, same contract as st19's LOCF).

    All integer epoch-second arithmetic (the q91 exactness
    discipline)."""
    iv = events.select(
        "user_id",
        "event_id",
        F.expr("CAST(unix_timestamp(ts) AS BIGINT)").alias("s"),
        (F.expr("CAST(unix_timestamp(ts) AS BIGINT)") + F.lit(300)).alias("e"),
    )
    return iv.groupBy("user_id").applyInPandasWithState(
        _coverage_update,
        COVERAGE_OUTPUT_SCHEMA,
        COVERAGE_STATE_SCHEMA,
        "update",
        GroupStateTimeout.NoTimeout,
    )


BITMAP_OUTPUT_SCHEMA = "event_type string, bucket bigint, n_distinct bigint"
BITMAP_STATE_SCHEMA = "word bigint"


def _bitmap_update(
    key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterable[pd.DataFrame]:
    (etype, bucket) = key
    word = state.get[0] if state.exists else 0
    for pdf in pdfs:
        # BIT_OR is associative/commutative/idempotent — chunk order,
        # batch split, and replays cannot change the result (the st27
        # algebra argument), so no chunk merge or sort is needed.
        for uid in pdf["user_id"]:
            word |= 1 << (int(uid) % 63)
    state.update((word,))
    yield pd.DataFrame(
        {
            "event_type": [etype],
            "bucket": [bucket],
            "n_distinct": [int(word).bit_count()],
        }
    )


def streaming_bitmap_distinct(events: DataFrame) -> DataFrame:
    """st31: streaming EXACT distinct users per event type via q98's
    mergeable 63-bit bitmap words as keyed state — the live exact
    twin of st22's approximate HLL maintenance: state is ONE BIGINT
    per (type, id-bucket) key (bounded by the id domain / 63,
    independent of stream length), each batch ORs arriving ids into
    the word and emits the bucket's popcount; summing buckets per
    type gives the exact running distinct count. Because BIT_OR is
    associative, commutative, AND idempotent, the final state equals
    the batch bitmap under ANY batch split, arrival order, or replay
    (bit-for-bit — the st27 algebra; parity tested under two splits).
    Exact where HLL is ±2%; the trade is state ∝ id-universe/63
    words instead of a constant sketch."""
    keyed = events.select(
        "event_type",
        F.expr("user_id DIV 63").alias("bucket"),
        "user_id",
    )
    return keyed.groupBy("event_type", "bucket").applyInPandasWithState(
        _bitmap_update,
        BITMAP_OUTPUT_SCHEMA,
        BITMAP_STATE_SCHEMA,
        "update",
        GroupStateTimeout.NoTimeout,
    )


RES_OUTPUT_SCHEMA = (
    "source string, doc_id bigint, weight bigint, score_ppb bigint, "
    "n_seen bigint"
)
RES_STATE_SCHEMA = (
    "ids array<bigint>, weights array<bigint>, scores array<double>, "
    "n bigint"
)

_RES_K = 10


def _res_score(doc_id: int, weight: int) -> float:
    """p21's A-Res exponential race score — the ONE shared kernel
    (operators/sampling.res_score_py), so the batch column expression
    and this streaming fold can't drift apart."""
    from etl_sql_and_pyspark_developement__spark.operators.sampling import (
        res_score_py,
    )

    return res_score_py(doc_id, weight, seed=7)


def _res_update(
    key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterable[pd.DataFrame]:
    (source,) = key
    if state.exists:
        ids, weights, scores, n = state.get
        triples = list(zip(scores, ids, weights))
    else:
        triples, n = [], 0
    for pdf in pdfs:
        for did, w in zip(pdf["doc_id"], pdf["n_chars"]):
            did, w = int(did), int(w)
            if w <= 0:
                continue
            n += 1
            triples.append((_res_score(did, w), did, w))
    # Min-k of the (score, id, weight) SET: associative, commutative,
    # idempotent — any batch split, arrival order, or replay converges
    # to the same k triples (the st27 algebra, weighted).
    triples = sorted(set(triples))[:_RES_K]
    state.update(
        (
            [t[1] for t in triples],
            [t[2] for t in triples],
            [t[0] for t in triples],
            n,
        )
    )
    yield pd.DataFrame(
        {
            "source": [source] * len(triples),
            "doc_id": [t[1] for t in triples],
            "weight": [t[2] for t in triples],
            "score_ppb": [int(math.floor(t[0] * 1_000_000_000)) for t in triples],
            "n_seen": [n] * len(triples),
        }
    )


def streaming_weighted_reservoir(docs: DataFrame) -> DataFrame:
    """st32: streaming WEIGHTED sample per source — p21's A-Res order
    statistic maintained as keyed state (st27's bottom-k, weighted):
    each arriving document's exponential race score -ln(u)/w uses the
    same md5-rational uniform as the batch operator, and the state
    keeps the k smallest (score, id, weight) triples. Min-k over a
    set is associative/commutative/idempotent, so the live sample
    equals the batch weighted_reservoir over everything ingested —
    under ANY batch split, arrival order, or replay (parity tested
    under two splits against the batch operator per source).

    The curation use: a live, length-weighted 'what does this
    source's ingest look like' peek whose inclusion probabilities
    match the batch pipeline's sampling exactly — no separate
    sampling logic to drift. State: k triples + one counter per
    source, bounded for any stream length."""
    return docs.select("source", "doc_id", "n_chars").groupBy(
        "source"
    ).applyInPandasWithState(
        _res_update,
        RES_OUTPUT_SCHEMA,
        RES_STATE_SCHEMA,
        "update",
        GroupStateTimeout.NoTimeout,
    )
