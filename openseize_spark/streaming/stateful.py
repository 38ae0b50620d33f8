"""Stateful streaming operators: per-key state carried across
micro-batches of a live stream.

The reference carries sosfilt state ``zi`` across chunks
(core/numerical.py:326-335); the Structured-Streaming analog is
``applyInPandasWithState`` with the carried state in the GroupState
(SURVEY §2.10).  Six operators share that surface: the carried-``zi``
IIR (``streaming_sosfilt``), integer CUSUM and Page-Hinkley drift
detection, a token-bucket rate limiter, a HyperLogLog register sketch
and a bottom-k sampler.  Each supplies only its keys, its sort columns,
its initial state and a ``step(key, pdf, state) -> (frame, state)``;
``_per_key`` and ``_apply_per_key`` are the one shell around them.

Semantics: micro-batches must arrive in non-decreasing event order per
key.  Order-sensitive operators sort each micro-batch internally, so
the carried state equals the batch recurrence over the whole stream
(see tests/test_streaming_stateful.py and tests/test_streaming_runner.py).
"""

from __future__ import annotations

import hashlib
from typing import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from openseize_spark.dsp import kernels


def _per_key(init: tuple, step: Callable, sort_cols: list | None = None):
    """The applyInPandasWithState function of one operator: load the
    key's carried state (``init`` before its first micro-batch), run
    ``step(key, pdf, state) -> (frame, state)`` once on the whole
    micro-batch, yield the frame and store the new state.

    A key's micro-batch rows can span several Arrow record batches
    (whenever the group exceeds spark.sql.execution.arrow.
    maxRecordsPerBatch), so the chunks are concatenated and sorted ONCE
    per key per micro-batch: sorting each chunk alone would feed an
    order-sensitive recurrence rows out of global order, and
    snapshot operators would emit one row per chunk instead of one per
    micro-batch.  ``sort_cols=None`` keeps the concatenated order (the
    snapshot operators' merges are order-insensitive)."""

    def fn(
        key, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        st = state.get if state.exists else init
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if chunks:
            pdf = pd.concat(chunks, ignore_index=True)
            if sort_cols:
                pdf = pdf.sort_values(sort_cols)
            frame, st = step(key, pdf, st)
            yield frame
        state.update(st)

    return fn


def _apply_per_key(stream, keys, fn, out_schema: str, state_schema: str):
    """Group ``stream`` by ``keys`` and run ``fn`` (from ``_per_key``)
    in append mode without timeouts."""
    return stream.groupBy(*keys).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def _half_away_cents(values) -> np.ndarray:
    """Round a value column to int64 cents half-AWAY from zero: numpy's
    .round() is half-to-even, but the SQL replay (DuckDB round) and the
    batch queries (Spark HALF_UP) round half-cents away from zero — an
    exact .5 would silently diverge the carried state."""
    raw = values.to_numpy() * 100
    return (np.floor(np.abs(raw) + 0.5) * np.sign(raw)).astype("int64")


def _md5_32(seed: str, val) -> int:
    """The portable 32-bit salted md5 of ``val`` (the same integer
    Spark's ``conv(substring(md5(..),1,8),16,10)`` and DuckDB's
    ``('0x' || substr(md5(..),1,8))::BIGINT`` produce)."""
    return int(hashlib.md5(f"{seed}:{val}".encode()).hexdigest()[:8], 16)


_OUT_SCHEMA = "recording_id string, channel int, t long, v double"
_STATE_SCHEMA = "zi array<double>"


def make_stateful_sosfilt(sos: np.ndarray):
    """Build the applyInPandasWithState function for a fixed sos array:
    each micro-batch is sorted by t and filtered with the carried
    (nsections, 2) zi, flattened into the GroupState."""
    sos = np.asarray(sos, dtype=np.float64)
    ns = sos.shape[0]

    def step(key, pdf, st):
        zi = np.asarray(st[0], dtype=np.float64).reshape(ns, 2)
        y, zi = kernels.sosfilt(sos, pdf["v"].to_numpy(), zi)
        frame = pd.DataFrame(
            {
                "recording_id": pdf["recording_id"].to_numpy(),
                "channel": pdf["channel"].to_numpy(),
                "t": pdf["t"].to_numpy(),
                "v": y,
            }
        )
        return frame, (zi.reshape(-1).tolist(),)

    return _per_key(([0.0] * (2 * ns),), step, ["t"])


def streaming_sosfilt(signal_stream, sos: np.ndarray):
    """signal_stream: streaming DataFrame (recording_id, channel, t, v).
    Returns the causally-filtered stream with per-channel carried state,
    bit-exact vs the batch sosfilt (state carry is exact)."""
    return _apply_per_key(
        signal_stream,
        ["recording_id", "channel"],
        make_stateful_sosfilt(sos),
        _OUT_SCHEMA,
        _STATE_SCHEMA,
    )


_CUSUM_OUT = "user_id long, event_id long, s bigint, alarm boolean"
_CUSUM_STATE = "s bigint"


def make_stateful_cusum(target_cents: int, slack_cents: int, h_cents: int):
    """Build the applyInPandasWithState function for integer-cent CUSUM
    drift detection: s <- max(0, s + (v - target - slack)); alarm when
    s > h, resetting s to 0 after each alarm.  All-integer state and
    updates, so the streaming result is exactly replayable (no float
    recurrence to diverge)."""

    def step(key, pdf, st):
        (s,) = st
        out_s, out_a = [], []
        for x in _half_away_cents(pdf["value"]):
            s = max(0, s + int(x) - target_cents - slack_cents)
            alarm = s > h_cents
            out_s.append(s)
            out_a.append(alarm)
            if alarm:
                s = 0
        frame = pd.DataFrame(
            {
                "user_id": pdf["user_id"].to_numpy(),
                "event_id": pdf["event_id"].to_numpy(),
                "s": out_s,
                "alarm": out_a,
            }
        )
        return frame, (s,)

    return _per_key((0,), step, ["ts", "event_id"])


def streaming_cusum(
    events_stream, target_cents: int, slack_cents: int, h_cents: int
):
    """Per-user CUSUM change detection over a live event stream —
    carried integer state across micro-batches.  Micro-batches must
    arrive in non-decreasing ts order per user; each batch is sorted
    internally, so intra-batch order never depends on shuffle layout.
    State is one int64 per user — bounded, and exactly equal to the
    batch recurrence replay."""
    return _apply_per_key(
        events_stream,
        ["user_id"],
        make_stateful_cusum(target_cents, slack_cents, h_cents),
        _CUSUM_OUT,
        _CUSUM_STATE,
    )


_RATE_OUT = "user_id long, event_id long, tokens_after bigint, accepted boolean"
_RATE_STATE = "tokens bigint, last_us bigint"


def make_stateful_rate_limit(
    capacity_tokens: int = 5, us_per_microtoken: int = 60
):
    """Build the applyInPandasWithState function for a deterministic
    token-bucket rate limiter: the bucket holds ``capacity_tokens``
    (in 1e6 micro-token units), refills one micro-token every
    ``us_per_microtoken`` microseconds (the default 60 = one full token
    per minute), and each event costs one token.  ALL-INTEGER state and
    updates — refill is a floor division on the non-negative
    microsecond gap, so the streaming run, the batch recurrence, and
    the SQL replay agree bit-for-bit (the same exactness contract as
    streaming_cusum).  A user's first event (``last_us`` still NULL)
    finds a full bucket."""
    cap = capacity_tokens * 1_000_000
    cost = 1_000_000

    def step(key, pdf, st):
        tokens, last = st
        us = pdf["ts"].to_numpy().astype("datetime64[us]").astype("int64")
        out_t, out_a = [], []
        for ts_us in us:
            ts_us = int(ts_us)
            if last is None:
                avail = cap
            else:
                avail = min(cap, tokens + (ts_us - last) // us_per_microtoken)
            acc = avail >= cost
            tokens = avail - (cost if acc else 0)
            last = ts_us
            out_t.append(tokens)
            out_a.append(acc)
        frame = pd.DataFrame(
            {
                "user_id": pdf["user_id"].to_numpy(),
                "event_id": pdf["event_id"].to_numpy(),
                "tokens_after": out_t,
                "accepted": out_a,
            }
        )
        return frame, (int(tokens), int(last))

    return _per_key((cap, None), step, ["ts", "event_id"])


def streaming_rate_limit(
    events_stream, capacity_tokens: int = 5, us_per_microtoken: int = 60
):
    """Per-user token-bucket rate limiting over a live event stream —
    the ingestion-throttling / quota-enforcement primitive, carried
    int64 (tokens, last_seen) state across micro-batches.
    Micro-batches must arrive in non-decreasing ts order per user; each
    batch sorts internally so intra-batch order never depends on
    shuffle layout."""
    return _apply_per_key(
        events_stream,
        ["user_id"],
        make_stateful_rate_limit(capacity_tokens, us_per_microtoken),
        _RATE_OUT,
        _RATE_STATE,
    )


_HLL_OUT = (
    "event_type string, batch_idx bigint, npresent bigint, "
    "n_empty bigint, sum_units bigint"
)
_HLL_STATE = "regs array<bigint>, nb bigint"


def make_stateful_hll(b: int = 5, seed: str = "hll"):
    """Build the applyInPandasWithState function for a streaming
    HyperLogLog: per key, carried state is the 2^b register maxima
    (the same salted-md5 registers as the batch
    ``llm/sketch.hll_sketch`` — bucket = h div 2^(32-b), rank = 28 -
    bit_length(rest), rest == 0 -> 28+1) plus a batch counter.  After
    each micro-batch the key emits its register SUMMARY in exact
    int64: npresent, n_empty, and the harmonic denominator
    ``sum_units = sum(2^(32 - m_j)) + n_empty * 2^32`` — the float
    estimate belongs to the CONSUMER (one multiply + one divide from
    these integers, same expression as the batch hll_estimate), so the
    stream itself is all-integer and replays bit-for-bit.
    """
    m = 1 << b
    rest_bits = 32 - b
    rest_mod = 1 << rest_bits

    def step(key, pdf, st):
        regs, nb = list(st[0]), st[1]
        for val in pdf["user_id"].tolist():
            h = _md5_32(seed, val)
            bucket = h // rest_mod
            rest = h % rest_mod
            rho = (
                rest_bits + 1
                if rest == 0
                else rest_bits + 1 - rest.bit_length()
            )
            if rho > regs[bucket]:
                regs[bucket] = rho
        npresent = sum(1 for r in regs if r > 0)
        sum_units = sum(
            (1 << (32 - r)) for r in regs if r > 0
        ) + (m - npresent) * (1 << 32)
        frame = pd.DataFrame(
            {
                "event_type": [key[0]],
                "batch_idx": [nb],
                "npresent": [npresent],
                "n_empty": [m - npresent],
                "sum_units": [sum_units],
            }
        )
        return frame, (regs, int(nb + 1))

    return _per_key(([0] * m, 0), step)


def streaming_hll(events_stream, b: int = 5, seed: str = "hll"):
    """Per-key streaming HyperLogLog distinct-count registers — the
    mergeable-sketch family lifted onto the streaming surface: a live
    dashboard's "distinct users per event type so far" without keeping
    the distinct sets in state.  State is 2^b int64 register maxima per
    key — BOUNDED regardless of stream length or cardinality, the
    whole point of the sketch; after each micro-batch the key emits
    its exact-integer register summary, equal by construction to the
    batch ``hll_sketch`` over every row seen so far (register max is
    commutative/associative/idempotent, so micro-batch boundaries
    cannot change it)."""
    return _apply_per_key(
        events_stream,
        ["event_type"],
        make_stateful_hll(b=b, seed=seed),
        _HLL_OUT,
        _HLL_STATE,
    )


_PH_OUT = "event_type string, event_id long, exc_units bigint, alarm boolean"
_PH_STATE = "i bigint, s bigint, m bigint, runmin bigint"


def make_stateful_page_hinkley(
    delta_units: int = 5 * 10**9, lambda_units: int = 10**6 * 10**9
):
    """Build the applyInPandasWithState function for Page-Hinkley
    drift detection from the RUNNING mean (the streaming twin of the
    batch ``page_hinkley`` query): per key, i ← i+1; S ← S+c;
    u = round(1e9·(i·c − S)/i) − δ (half-AWAY, matching Spark/DuckDB
    round — numpy/python round are half-even and would diverge the
    carried state); m ← m+u; runmin ← min(runmin, m); emit
    exc = m − runmin and the λ alarm per event.

    Exactness: i·c − S is exact python int; the division and the
    1e9·(...) product are the identical IEEE chain the batch query
    runs JVM-side, so stream == batch == SQL replay bit-for-bit.
    State is four int64s; |m| grows as Σ|u| ≲ n·5e13, so the stored
    state column is safe to n ≈ 1.8e5 rows per key per the int64
    bound — beyond that, re-key by (type, era) the way the CUSUM
    family shards long histories.
    """

    def step(key, pdf, st):
        i, s, m, runmin = (int(x) for x in st)
        out_e, out_a = [], []
        for c in _half_away_cents(pdf["value"]):
            i += 1
            s += int(c)
            x = 1e9 * (float(i * int(c) - s) / float(i))
            u = int(np.floor(abs(x) + 0.5) * (1 if x >= 0 else -1))
            u -= delta_units
            m += u
            runmin = m if i == 1 else min(runmin, m)
            exc = m - runmin
            out_e.append(exc)
            out_a.append(exc > lambda_units)
        frame = pd.DataFrame(
            {
                "event_type": pdf["event_type"].to_numpy(),
                "event_id": pdf["event_id"].to_numpy(),
                "exc_units": out_e,
                "alarm": out_a,
            }
        )
        return frame, (i, s, m, runmin)

    return _per_key((0, 0, 0, 0), step, ["ts", "event_id"])


def streaming_page_hinkley(
    events_stream,
    delta_units: int = 5 * 10**9,
    lambda_units: int = 10**6 * 10**9,
):
    """Per-type Page-Hinkley drift detection over a live event stream
    with carried (i, S, m, runmin) integer state across micro-batches
    — the running-mean drift complement to streaming_cusum's
    fixed-target detector.  Micro-batches must arrive in
    non-decreasing ts order per key; each batch sorts internally."""
    return _apply_per_key(
        events_stream,
        ["event_type"],
        make_stateful_page_hinkley(delta_units, lambda_units),
        _PH_OUT,
        _PH_STATE,
    )


_TOPK_OUT = (
    "event_type string, batch_idx bigint, rank bigint, "
    "event_id long, priority bigint"
)
_TOPK_STATE = "prios array<long>, ids array<long>, nb bigint"


def make_stateful_topk(k: int = 8, seed: str = "tk"):
    """Build the applyInPandasWithState function for a deterministic
    hash-priority streaming top-k per key — the bounded-state
    reservoir a live sampler needs (keeping the k smallest salted-md5
    priorities of a stream IS a uniform-without-replacement sample of
    its distinct keys, the classic bottom-k/KMV construction): per
    key, merge the batch's (priority, event_id) pairs into the
    carried k-smallest set (ties broken by event_id) and emit the
    running top-k after each micro-batch.

    Exactness: the priority is the portable 32-bit salted md5
    (``_md5_32``), so the stream, the batch query, and the SQL replay
    agree exactly; state is two bounded k-length int64 arrays plus a
    batch counter.
    """

    def step(key, pdf, st):
        prios, ids, nb = st
        best = sorted(zip(prios, ids))
        for eid in pdf["event_id"].tolist():
            best.append((_md5_32(seed, eid), int(eid)))
        best = sorted(set(best))[:k]
        frame = pd.DataFrame(
            {
                "event_type": [key[0]] * len(best),
                "batch_idx": [nb] * len(best),
                "rank": list(range(1, len(best) + 1)),
                "event_id": [i for _, i in best],
                "priority": [p for p, _ in best],
            }
        )
        return frame, ([p for p, _ in best], [i for _, i in best], int(nb + 1))

    return _per_key(([], [], 0), step)


def streaming_topk(events_stream, k: int = 8, seed: str = "tk"):
    """Per-type deterministic hash-priority top-k over a live event
    stream with carried bounded state — the streaming bottom-k/KMV
    sampler beside streaming_hll's register sketch.  Emits the running
    top-k snapshot per key after every micro-batch the key appears
    in."""
    return _apply_per_key(
        events_stream,
        ["event_type"],
        make_stateful_topk(k, seed),
        _TOPK_OUT,
        _TOPK_STATE,
    )
