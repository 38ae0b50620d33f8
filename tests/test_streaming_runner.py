"""The per-key micro-batch runner behind the six stateful streaming
operators (streaming/stateful.py ``_per_key``).

Two contracts:

- chunk order: a key's micro-batch can reach the operator as several
  Arrow chunks in any interleaving; the emitted rows and the carried
  state must equal those of one chunk, and the snapshot operators (hll,
  topk) emit exactly one snapshot per key per micro-batch.  (The
  page_hinkley case lives in tests/test_round14_ops.py.)
- degenerate streams: an empty source (zero micro-batches) and a
  one-row source go through every ``streaming_*`` and the shared
  ``drain_stream``, and leave no query running.
"""

from __future__ import annotations

import datetime
import hashlib

import numpy as np
import pandas as pd
import pytest

from openseize_spark.dsp import design, kernels
from openseize_spark.streaming import stateful
from openseize_spark.streaming.windows import drain_stream

SOS = design.butter(fpass=10, fstop=20, fs=100.0).sos


class FakeState:
    """The slice of pyspark's GroupState the runner uses."""

    def __init__(self, value=None):
        self.value = value

    @property
    def exists(self):
        return self.value is not None

    @property
    def get(self):
        assert self.value is not None
        return self.value

    def update(self, value):
        self.value = value


def _run(fn, key, chunks, state=None):
    st = FakeState(state)
    outs = list(fn(key, iter(chunks), st))
    return outs, st.value


def _md5_32(seed, val):
    return int(hashlib.md5(f"{seed}:{val}".encode()).hexdigest()[:8], 16)


def _ts(seconds):
    return pd.to_datetime(
        [datetime.datetime(2024, 1, 1) + datetime.timedelta(seconds=s)
         for s in seconds]
    )


def _events(n=8):
    rng = np.random.default_rng(3)
    return pd.DataFrame(
        {
            "event_type": ["click"] * n,
            "user_id": np.arange(n, dtype=np.int64) % 3,
            "event_id": np.arange(1, n + 1, dtype=np.int64),
            "ts": _ts(range(0, 40 * n, 40)),
            "value": np.round(rng.uniform(50.0, 250.0, n), 2),
        }
    )


def _signal(n=12):
    rng = np.random.default_rng(4)
    return pd.DataFrame(
        {
            "recording_id": ["r0"] * n,
            "channel": np.zeros(n, dtype=np.int32),
            "t": np.arange(n, dtype=np.int64),
            "v": rng.normal(size=n),
        }
    )


# (operator factory, key, rows, column that orders the emitted rows)
CASES = {
    "sosfilt": (
        lambda: stateful.make_stateful_sosfilt(SOS), ("r0", 0), _signal, "t"
    ),
    "cusum": (
        lambda: stateful.make_stateful_cusum(10000, 2000, 15000),
        (0,),
        _events,
        "event_id",
    ),
    "rate_limit": (
        lambda: stateful.make_stateful_rate_limit(2, 600),
        (0,),
        _events,
        "event_id",
    ),
    "hll": (lambda: stateful.make_stateful_hll(b=4), ("click",), _events, None),
    "topk": (
        lambda: stateful.make_stateful_topk(k=3),
        ("click",),
        _events,
        "rank",
    ),
}


def _frame(outs, order):
    out = pd.concat(outs, ignore_index=True)
    if order:
        out = out.sort_values(order)
    return out.reset_index(drop=True)


@pytest.mark.parametrize("name", sorted(CASES))
def test_interleaved_chunks_match_one_chunk(name):
    make, key, rows_fn, order = CASES[name]
    rows = rows_fn()
    n = len(rows)
    # each chunk is itself in order, but together they are not: a
    # per-chunk sort would not rebuild the global order
    split = [rows.iloc[list(range(0, n, 2))], rows.iloc[list(range(1, n, 2))]]
    # a second micro-batch on the carried state, also split
    later = rows_fn().assign(
        **({"t": rows["t"] + n} if "t" in rows else
           {"ts": rows["ts"] + pd.Timedelta(hours=1),
            "event_id": rows["event_id"] + n})
    )
    later_split = [later.iloc[n // 2:], later.iloc[: n // 2]]

    outs1, st1 = _run(make(), key, [rows])
    outs2, st2 = _run(make(), key, split)
    assert st1 == st2
    pd.testing.assert_frame_equal(_frame(outs1, order), _frame(outs2, order))

    outs1b, st1b = _run(make(), key, [later], st1)
    outs2b, st2b = _run(make(), key, later_split, st2)
    assert st1b == st2b
    pd.testing.assert_frame_equal(_frame(outs1b, order), _frame(outs2b, order))

    # one frame per key per micro-batch, whatever the chunking
    assert len(outs2) == len(outs2b) == 1
    if name == "hll":
        assert list(outs2[0]["batch_idx"]) == [0]
        assert list(outs2b[0]["batch_idx"]) == [1]
    elif name == "topk":
        assert set(outs2[0]["batch_idx"]) == {0}
        assert set(outs2b[0]["batch_idx"]) == {1}
        assert list(outs2[0]["rank"]) == [1, 2, 3]
    else:
        assert len(outs2[0]) == n


def test_no_rows_emits_nothing_and_keeps_state():
    make, key, rows_fn, _ = CASES["cusum"]
    _, st = _run(make(), key, [rows_fn()])
    outs, st2 = _run(make(), key, [rows_fn().iloc[:0]], st)
    assert outs == [] and st2 == st


# ---- degenerate streams through every streaming_* and the drain ----

_SIGNAL_SCHEMA = "recording_id string, channel int, t long, v double"
_EVENT_SCHEMA = (
    "event_type string, user_id long, event_id long, ts timestamp, "
    "value double"
)
_ONE_TS = datetime.datetime(2024, 1, 1)
_ONE_SIG = ("r0", 0, 0, 1.5)
_ONE_EVENT = ("view", 7, 11, _ONE_TS, 250.0)


def _hll_one(b=5):
    m, rb = 1 << b, 32 - b
    rest = _md5_32("hll", 7) % (1 << rb)
    rho = rb + 1 if rest == 0 else rb + 1 - rest.bit_length()
    return [("view", 0, 1, m - 1, (1 << (32 - rho)) + (m - 1) * (1 << 32))]


STREAMS = {
    "sosfilt": (
        _SIGNAL_SCHEMA,
        _ONE_SIG,
        lambda s: stateful.streaming_sosfilt(s, SOS),
        lambda: [
            ("r0", 0, 0, float(kernels.sosfilt(SOS, np.array([1.5]))[0][0]))
        ],
    ),
    # 25000 cents - target 10000 - slack 2000 = 13000, below h
    "cusum": (
        _EVENT_SCHEMA,
        _ONE_EVENT,
        lambda s: stateful.streaming_cusum(s, 10000, 2000, 100000),
        lambda: [(7, 11, 13000, False)],
    ),
    # a first event finds a full 5-token bucket and spends one
    "rate_limit": (
        _EVENT_SCHEMA,
        _ONE_EVENT,
        lambda s: stateful.streaming_rate_limit(s, 5, 60),
        lambda: [(7, 11, 4_000_000, True)],
    ),
    "hll": (
        _EVENT_SCHEMA,
        _ONE_EVENT,
        lambda s: stateful.streaming_hll(s, b=5),
        _hll_one,
    ),
    # one event: the running mean equals it, so the excursion is 0
    "page_hinkley": (
        _EVENT_SCHEMA,
        _ONE_EVENT,
        stateful.streaming_page_hinkley,
        lambda: [("view", 11, 0, False)],
    ),
    "topk": (
        _EVENT_SCHEMA,
        _ONE_EVENT,
        lambda s: stateful.streaming_topk(s, k=8, seed="tk"),
        lambda: [("view", 0, 1, 11, _md5_32("tk", 11))],
    ),
}


@pytest.mark.parametrize("rows", ["empty", "one_row"])
@pytest.mark.parametrize("name", sorted(STREAMS))
def test_degenerate_stream(spark, tmp_path, name, rows):
    schema, one, op, expected = STREAMS[name]
    src = tmp_path / "src"
    src.mkdir()
    if rows == "one_row":
        spark.createDataFrame([one], schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(src / "batch_0"))
        path = str(src / "batch_*")
    else:
        path = str(src)
    stream = spark.readStream.schema(schema).parquet(path)
    got = drain_stream(spark, op(stream), f"t_degenerate_{name}_{rows}")
    assert spark.streams.active == []
    assert [tuple(r) for r in got.collect()] == (
        [] if rows == "empty" else expected()
    )


def test_drain_raises_and_leaves_no_query_on_failure(spark, tmp_path):
    """A failing micro-batch surfaces from drain_stream as an error and
    leaves no active query behind for the next fixture's scope."""
    from pyspark.sql import functions as F

    src = tmp_path / "src"
    spark.createDataFrame([_ONE_SIG], _SIGNAL_SCHEMA).write.parquet(str(src))
    stream = spark.readStream.schema(_SIGNAL_SCHEMA).parquet(str(src))
    boom = F.udf(lambda v: 1 // 0, "long")
    with pytest.raises(Exception):
        drain_stream(spark, stream.select(boom("v")), "t_degenerate_fail")
    assert spark.streams.active == []
