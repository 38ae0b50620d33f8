"""Signal queries: the openseize operators on the derived signal (FIR, IIR,
resampling, Welch/STFT, coupling), plus the EDF and annotation readers.
"""

from __future__ import annotations

from functools import cache

import numpy as np
from pyspark.sql import DataFrame, functions as F, Window as W

from openseize_spark.dsp import design, design_iir as design2
from openseize_spark.operators import (
    fir as op_fir, iir as op_iir, relational as rel, resample as op_resample,
    segmentation as seg, spectral as spec, stats as op_stats,
)
from openseize_spark.operators.spectral import _norm_ppf
from openseize_spark.plans import oracles
from openseize_spark.plans.oracles import dlit
from openseize_spark.signal import signal_cte

from openseize_spark.registry import oracle_of, register
from openseize_spark.registry.common import (
    _ANN_GATE_FIXTURE, _edf_gate_digital, _EDF_GATE_NREC, _EDF_GATE_PMAX,
    _EDF_GATE_PMIN, _EDF_GATE_SPR, _EDF_RT_OFFSET, _EDF_RT_PMAX, _EDF_RT_PMIN,
    _EDF_RT_SLOPE, _gate_tmp, _signal, _signal_sliced, _t, FS, IIR_SLICE, NCH,
    sig,
)


def q_detrend_linear(spark, sf_dir):
    """Per-channel linear detrend via explicit moment formulas —
    identical expression trees in both engines (stats builtins use
    different streaming algorithms and drift in the last ulp)."""
    sf = _signal(spark, sf_dir)
    w = W.partitionBy("recording_id", "channel")
    td = F.col("t").cast("double")
    mt = F.avg(td).over(w)
    mv = F.avg("v").over(w)
    mtv = F.avg(td * F.col("v")).over(w)
    mtt = F.avg(td * td).over(w)
    slope = (mtv - mt * mv) / (mtt - mt * mt)
    resid = F.col("v") - (mv + slope * (td - mt))
    return sf.df.select("channel", "t", resid.alias("resid"))


register("detrend_linear", q_detrend_linear, lambda: sig + """
            , m AS (
              SELECT channel,
                     avg(CAST(t AS DOUBLE)) AS mt, avg(v) AS mv,
                     avg(CAST(t AS DOUBLE) * v) AS mtv,
                     avg(CAST(t AS DOUBLE) * CAST(t AS DOUBLE)) AS mtt
              FROM signal GROUP BY channel
            )
            SELECT s.channel, t,
                   v - (mv + ((mtv - mt * mv) / (mtt - mt * mt))
                        * (CAST(t AS DOUBLE) - mt)) AS resid
            FROM signal s JOIN m ON s.channel = m.channel
        """)


def q_channel_select(spark, sf_dir):
    sf = rel.select_channels(_signal(spark, sf_dir), [1, 3])
    return sf.df.select("channel", "t", "v")


register("channel_select", q_channel_select, lambda: sig + "SELECT channel, t, v FROM signal WHERE channel IN (1, 3)")


def q_time_slice(spark, sf_dir):
    sf = rel.slice_time(_signal(spark, sf_dir), start=100, stop=5000, step=7)
    return sf.df.select("channel", "t", "v")


register("time_slice", q_time_slice, lambda: sig + """
            SELECT channel, CAST((t - 100) // 7 AS BIGINT) AS t, v
            FROM signal
            WHERE t >= 100 AND t < 5000 AND (t - 100) % 7 = 0
        """)


def q_mask_compact(spark, sf_dir):
    sf = _signal(spark, sf_dir)
    mask = sf.df.select(
        "recording_id", "t", "channel", (F.col("v") >= 0.25).alias("keep")
    )
    # per-channel masks differ; apply per (recording, channel, t) directly
    kept = sf.df.filter(F.col("v") >= 0.25)
    w = W.partitionBy("recording_id", "channel").orderBy("t")
    return kept.withColumn(
        "t", (F.row_number().over(w) - 1).cast("bigint")
    ).select("channel", "t", "v")


register("mask_compact", q_mask_compact, lambda: sig + """
            SELECT channel,
                   CAST(row_number() OVER (PARTITION BY recording_id, channel ORDER BY t) - 1
                        AS BIGINT) AS t,
                   v
            FROM signal WHERE v >= 0.25
        """)


def q_interval_mask(spark, sf_dir):
    sf = _signal(spark, sf_dir)
    orders = _t(spark, sf_dir, "orders")
    ival = (
        orders.filter(F.col("o_orderkey") % 101 == 0)
        .select(
            ((F.col("o_orderkey") % 512) * 16).cast("bigint").alias("lo"),
            (((F.col("o_orderkey") % 512) * 16) + 64).cast("bigint").alias("hi"),
        )
        .distinct()
    )
    kept = sf.df.join(
        F.broadcast(ival),
        (F.col("t") >= F.col("lo")) & (F.col("t") < F.col("hi")),
        "left_semi",
    )
    return kept.select("channel", "t", "v")


register("interval_mask", q_interval_mask, lambda: sig + """
            , ival AS (
              SELECT DISTINCT CAST((o_orderkey % 512) * 16 AS BIGINT) AS lo,
                              CAST((o_orderkey % 512) * 16 + 64 AS BIGINT) AS hi
              FROM orders WHERE o_orderkey % 101 = 0
            )
            SELECT channel, t, v FROM signal s
            WHERE EXISTS (SELECT 1 FROM ival WHERE s.t >= lo AND s.t < hi)
        """)


def q_signal_stats(spark, sf_dir):
    return op_stats.channel_stats(_signal(spark, sf_dir)).select(
        "channel", "mean", "std", "n"
    )


register("signal_stats", q_signal_stats, lambda: sig + """
            SELECT channel, avg(v) AS mean,
                   sqrt(avg(v*v) - avg(v)*avg(v)) AS std,
                   count(v) AS n
            FROM signal GROUP BY channel
        """)


def q_standardize(spark, sf_dir):
    sf = op_stats.standardize(_signal(spark, sf_dir))
    return sf.df.select("channel", "t", F.col("v").alias("vstd"))


register("standardize", q_standardize, lambda: sig + """
            , st AS (
              SELECT channel, avg(v) AS m, sqrt(avg(v*v) - avg(v)*avg(v)) AS s
              FROM signal GROUP BY channel
            )
            SELECT signal.channel, t, (v - m) / s AS vstd
            FROM signal JOIN st ON signal.channel = st.channel
        """)


def q_signal_add(spark, sf_dir):
    sf = _signal(spark, sf_dir)
    sf2 = rel.slice_time(sf, start=10)
    return rel.add(sf, sf2).df.select("channel", "t", "v")


register("signal_add", q_signal_add, lambda: sig + """
            , s2 AS (
              SELECT recording_id, channel, CAST(t - 10 AS BIGINT) AS t, v
              FROM signal WHERE t >= 10
            )
            SELECT s.channel, s.t, s.v + s2.v AS v
            FROM signal s
            JOIN s2 ON s.recording_id = s2.recording_id
                   AND s.channel = s2.channel AND s.t = s2.t
        """)


def q_scalar_mult(spark, sf_dir):
    sf = rel.multiply(_signal(spark, sf_dir), 2.5)
    return sf.df.select("channel", "t", "v")


register("scalar_mult", q_scalar_mult, lambda: sig + "SELECT channel, t, v * CAST(2.5 AS DOUBLE) AS v FROM signal")


def q_mult_along_channel(spark, sf_dir):
    sf = _signal(spark, sf_dir)
    coeffs = spark.range(NCH).select(
        F.col("id").cast("int").alias("channel"),
        ((F.col("id") + 1) * 0.5).alias("c"),
    )
    return rel.multiply_along_axis(sf, coeffs, "channel").df.select("channel", "t", "v")


register("mult_along_channel", q_mult_along_channel, lambda: sig + """
            , coeffs AS (
              SELECT CAST(i AS INT) AS channel, CAST((i + 1) * 0.5 AS DOUBLE) AS c
              FROM generate_series(0, 3) AS g(i)
            )
            SELECT signal.channel, t, v * c AS v
            FROM signal JOIN coeffs ON signal.channel = coeffs.channel
        """)


def q_mult_along_time(spark, sf_dir):
    sf = _signal(spark, sf_dir)
    coeffs = spark.range(2000).select(
        F.col("id").cast("bigint").alias("t"),
        ((F.col("id") % 8).cast("double") / 8.0).alias("c"),
    )
    return rel.multiply_along_axis(sf, coeffs, "t").df.select("channel", "t", "v")


register("mult_along_time", q_mult_along_time, lambda: sig + """
            , coeffs AS (
              SELECT CAST(i AS BIGINT) AS ct, CAST(i % 8 AS DOUBLE) / 8.0 AS c
              FROM unnest(generate_series(0, 1999)) AS u(i)
            )
            SELECT channel, t, v * c AS v
            FROM signal JOIN coeffs ON signal.t = coeffs.ct
        """)


def q_pad(spark, sf_dir):
    sf = rel.pad(_signal(spark, sf_dir), 5, 5, 0.0)
    return sf.df.select("channel", "t", "v")


register("pad", q_pad, lambda: sig + """
            , mx AS (
              SELECT recording_id, channel, max(t) AS m FROM signal GROUP BY 1, 2
            )
            SELECT channel, CAST(t + 5 AS BIGINT) AS t, v FROM signal
            UNION ALL
            SELECT channel, CAST(g.i AS BIGINT) AS t, CAST(0.0 AS DOUBLE) AS v
            FROM mx CROSS JOIN generate_series(0, 4) AS g(i)
            UNION ALL
            SELECT channel, CAST(unnest(generate_series(m + 6, m + 10)) AS BIGINT) AS t,
                   CAST(0.0 AS DOUBLE) AS v
            FROM mx
        """)


def q_segment_mean(spark, sf_dir):
    s = seg.segment_tumbling(_signal(spark, sf_dir), 128)
    return (
        s.groupBy("channel", "seg")
        .agg(F.avg("v").alias("seg_mean"), F.count("*").alias("cnt"))
        .filter(F.col("cnt") == 128)
        .select("channel", "seg", "seg_mean")
    )


register("segment_mean", q_segment_mean, lambda: sig + """
            SELECT channel, CAST(t // 128 AS BIGINT) AS seg, avg(v) AS seg_mean
            FROM signal
            GROUP BY channel, t // 128
            HAVING count(*) = 128
        """)


def q_sliding_energy(spark, sf_dir):
    # prefix-sum-difference plan: one window shuffle, no explode row
    # amplification; exact here because v*v are dyadic rationals
    # (hash-matches the same group-by oracle SQL)
    return seg.sliding_agg_prefix(
        _signal(spark, sf_dir), nfft=64, stride=32
    ).select("channel", "seg", "energy")


register("sliding_energy", q_sliding_energy, lambda: sig + """
            , exploded AS (
              SELECT channel,
                     unnest(generate_series(
                       greatest(CAST(0 AS BIGINT), (greatest(t - 63, 0) + 31) // 32),
                       t // 32
                     )) AS seg,
                     v
              FROM signal
            )
            SELECT channel, CAST(seg AS BIGINT) AS seg, sum(v*v) AS energy
            FROM exploded
            GROUP BY channel, seg
            HAVING count(*) = 64
        """)


def q_moving_average(spark, sf_dir):
    sf = _signal(spark, sf_dir)
    w = W.partitionBy("recording_id", "channel").orderBy("t")
    l2 = F.coalesce(F.lag("v", 2).over(w), F.lit(0.0))
    l1 = F.coalesce(F.lag("v", 1).over(w), F.lit(0.0))
    d1 = F.coalesce(F.lead("v", 1).over(w), F.lit(0.0))
    d2 = F.coalesce(F.lead("v", 2).over(w), F.lit(0.0))
    ma = (l2 + 2 * l1 + 3 * F.col("v") + 2 * d1 + d2) / 9.0
    return sf.df.select("channel", "t", ma.alias("ma"))


register("moving_average", q_moving_average, lambda: sig + """
            SELECT channel, t,
                   (coalesce(lag(v, 2) OVER w, 0.0)
                    + 2 * coalesce(lag(v, 1) OVER w, 0.0)
                    + 3 * v
                    + 2 * coalesce(lead(v, 1) OVER w, 0.0)
                    + coalesce(lead(v, 2) OVER w, 0.0)) / 9.0 AS ma
            FROM signal
            WINDOW w AS (PARTITION BY recording_id, channel ORDER BY t)
        """)

# Kaiser FIR used by q_fir_kaiser — designed once at import (driver-side
# numpy, reference: filtering/fir.py:52-137); the same float64 tap
# literals are embedded in the oracle SQL via repr() so both engines
# compute the identical dot product.
_FIR_SPEC = design.kaiser(fpass=10, fstop=20, fs=FS, gpass=1.0, gstop=40.0)


# FIR oracles: identical float64 tap literals, same zero-padded 'same'
# convolution alignment as operators/fir.apply_fir_sql.
def fir_sum_sql(taps) -> str:
    L = len(taps)
    c = (L - 1) // 2
    terms = []
    for k in range(L):
        shift = k - c
        if shift == 0:
            col = "v"
        elif shift > 0:
            col = f"coalesce(lag(v, {shift}) OVER w, 0.0)"
        else:
            col = f"coalesce(lead(v, {-shift}) OVER w, 0.0)"
        terms.append(f"{col} * {dlit(taps[k])}")
    return " + ".join(terms)


fir_sum = fir_sum_sql(_FIR_SPEC.taps)


def q_fir_kaiser(spark, sf_dir):
    sf = op_fir.apply_fir_sql(_signal(spark, sf_dir), _FIR_SPEC, mode="same")
    return sf.df.select("channel", "t", F.round("v", 9).alias("v"))


register("fir_kaiser", q_fir_kaiser, lambda: sig + f"""
            SELECT channel, t, round({fir_sum}, 9) AS v
            FROM signal
            WINDOW w AS (PARTITION BY recording_id, channel ORDER BY t)
        """)


@cache
def _remez_spec():
    # the Parks-McClellan design takes ~0.2 s: run it on first use, not
    # on every import of the registry
    return design2.remez_fir(fpass=10, fstop=20, fs=FS, gpass=0.5, gstop=40.0)


def q_fir_remez(spark, sf_dir):
    sf = op_fir.apply_fir_sql(_signal(spark, sf_dir), _remez_spec(), mode="same")
    return sf.df.select("channel", "t", F.round("v", 9).alias("v"))


register("fir_remez", q_fir_remez, lambda: sig + f"""
            SELECT channel, t, round({fir_sum_sql(_remez_spec().taps)}, 9) AS v
            FROM signal
            WINDOW w AS (PARTITION BY recording_id, channel ORDER BY t)
        """)

_HAMMING_SPEC = design.general_cosine_fir("hamming", fpass=10, fstop=20, fs=FS)
hamming_sum = fir_sum_sql(_HAMMING_SPEC.taps)


def q_fir_hamming(spark, sf_dir):
    sf = op_fir.apply_fir_sql(_signal(spark, sf_dir), _HAMMING_SPEC, mode="same")
    return sf.df.select("channel", "t", F.round("v", 9).alias("v"))


register("fir_hamming", q_fir_hamming, lambda: sig + f"""
            SELECT channel, t, round({hamming_sum}, 9) AS v
            FROM signal
            WINDOW w AS (PARTITION BY recording_id, channel ORDER BY t)
        """)


def q_extend_even(spark, sf_dir):
    sf = rel.extend(_signal(spark, sf_dir), 4, how="even")
    return sf.df.select("channel", "t", "v")


register("extend_even", q_extend_even, lambda: sig + """
            , mx AS (SELECT recording_id, channel, max(t) AS m FROM signal GROUP BY 1, 2)
            SELECT channel, CAST(t + 4 AS BIGINT) AS t, v FROM signal
            UNION ALL
            SELECT channel, CAST(4 - t AS BIGINT) AS t, v
            FROM signal WHERE t >= 1 AND t <= 4
            UNION ALL
            SELECT s.channel, CAST(2 * m - t + 4 AS BIGINT) AS t, v
            FROM signal s JOIN mx ON s.recording_id = mx.recording_id AND s.channel = mx.channel
            WHERE t >= m - 4 AND t <= m - 1
        """)


def q_extend_edge(spark, sf_dir):
    sf = rel.extend(_signal(spark, sf_dir), 4, how="edge")
    return sf.df.select("channel", "t", "v")


register("extend_edge", q_extend_edge, lambda: sig + """
            , mx AS (SELECT recording_id, channel, max(t) AS m FROM signal GROUP BY 1, 2)
            SELECT channel, CAST(t + 4 AS BIGINT) AS t, v FROM signal
            UNION ALL
            SELECT channel, CAST(g.i AS BIGINT) AS t, v
            FROM signal CROSS JOIN generate_series(0, 3) AS g(i) WHERE t = 0
            UNION ALL
            SELECT s.channel, CAST(unnest(generate_series(m + 5, m + 8)) AS BIGINT) AS t, v
            FROM signal s JOIN mx ON s.recording_id = mx.recording_id AND s.channel = mx.channel
            WHERE t = m
        """)


def q_extend_odd(spark, sf_dir):
    sf = rel.extend(_signal(spark, sf_dir), 4, how="odd")
    return sf.df.select("channel", "t", "v")


register("extend_odd", q_extend_odd, lambda: sig + """
            , mx AS (SELECT recording_id, channel, max(t) AS m FROM signal GROUP BY 1, 2),
            v0 AS (SELECT recording_id, channel, v AS v_first FROM signal WHERE t = 0),
            vn AS (
              SELECT s.recording_id, s.channel, s.v AS v_last
              FROM signal s JOIN mx ON s.recording_id = mx.recording_id AND s.channel = mx.channel
              WHERE t = m
            )
            SELECT channel, CAST(t + 4 AS BIGINT) AS t, v FROM signal
            UNION ALL
            SELECT s.channel, CAST(4 - t AS BIGINT) AS t, 2 * v_first - s.v AS v
            FROM signal s JOIN v0 ON s.recording_id = v0.recording_id AND s.channel = v0.channel
            WHERE t >= 1 AND t <= 4
            UNION ALL
            SELECT s.channel, CAST(2 * m - t + 4 AS BIGINT) AS t, 2 * v_last - s.v AS v
            FROM signal s
            JOIN mx ON s.recording_id = mx.recording_id AND s.channel = mx.channel
            JOIN vn ON s.recording_id = vn.recording_id AND s.channel = vn.channel
            WHERE t >= m - 4 AND t <= m - 1
        """)


def q_squeeze_expand(spark, sf_dir):
    sf = _signal(spark, sf_dir)
    # expand: add a singleton epoch axis; squeeze: drop the constant
    # recording axis — pure schema ops, verifiable relationally
    df = rel.expand_dims(sf.df, epoch=0)
    return rel.squeeze(df, ["recording_id"]).select("epoch", "channel", "t", "v")


register("squeeze_expand", q_squeeze_expand, lambda: sig + """
            SELECT 0 AS epoch, channel, t, v FROM signal
        """)


def q_expand_upsample(spark, sf_dir):
    sf = rel.expand_along_axis(_signal(spark, sf_dir), 3, 0.0)
    return sf.df.select("channel", "t", "v")


register("expand_upsample", q_expand_upsample, lambda: sig + """
            SELECT channel, CAST(t * 3 AS BIGINT) AS t, v FROM signal
            UNION ALL
            SELECT channel, CAST(t * 3 + g.i AS BIGINT) AS t, CAST(0.0 AS DOUBLE) AS v
            FROM signal CROSS JOIN generate_series(1, 2) AS g(i)
        """)


def q_event_window_avg(spark, sf_dir):
    from openseize_spark.operators import coupling

    sf = _signal(spark, sf_dir)
    events = spark.createDataFrame(
        [("r0", ch, 1000 + 1111 * j) for ch in range(NCH) for j in range(8)],
        "recording_id string, channel int, event_t bigint",
    )
    return coupling.pac_estimate(sf.df, events, window=64).select(
        "channel", "offset", "mean_sq_amp", "n_events"
    )


register("event_window_avg", q_event_window_avg, lambda: sig + """
            , events AS (
              SELECT ch AS channel, CAST(1000 + 1111 * j AS BIGINT) AS event_t
              FROM generate_series(0, 3) AS c(ch)
              CROSS JOIN generate_series(0, 7) AS g(j)
            ), gathered AS (
              SELECT s.channel, e.event_t,
                     CAST(s.t - (e.event_t - 32) AS BIGINT) AS offset, s.v
              FROM signal s
              JOIN events e ON s.channel = e.channel
                AND s.t >= e.event_t - 32 AND s.t < e.event_t + 32
            ), complete AS (
              SELECT channel, event_t FROM gathered
              GROUP BY channel, event_t HAVING count(*) = 64
            )
            SELECT g.channel, g.offset,
                   avg(g.v * g.v) AS mean_sq_amp,
                   count(*) AS n_events
            FROM gathered g
            JOIN complete c ON g.channel = c.channel AND g.event_t = c.event_t
            GROUP BY g.channel, g.offset
        """)


def q_decimate(spark, sf_dir):
    sf = rel.slice_time(_signal(spark, sf_dir), start=0, step=4)
    return sf.df.select("channel", "t", "v")


register("decimate", q_decimate, lambda: sig + """
            SELECT channel, CAST(t // 4 AS BIGINT) AS t, v
            FROM signal WHERE t % 4 = 0
        """)


def q_nearest_bin(spark, sf_dir):
    sf = _signal(spark, sf_dir)
    bins = sf.df.filter((F.col("channel") == 0) & (F.col("t") <= 100)).select(
        (F.col("t") * 0.5).alias("freq")
    )
    targets = spark.createDataFrame(
        [(10.3,), (25.7,), (40.2,)], "target double"
    )
    return rel.nearest_bin(bins, "freq", targets, "target")


register("nearest_bin", q_nearest_bin, lambda: sig + """
            , bins AS (
              SELECT CAST(t * 0.5 AS DOUBLE) AS freq FROM signal WHERE channel = 0 AND t <= 100
            ), targets AS (
              SELECT CAST(unnest([10.3, 25.7, 40.2]) AS DOUBLE) AS target
            )
            SELECT target, arg_min(freq, abs(freq - target)) AS nearest
            FROM bins CROSS JOIN targets
            GROUP BY target
        """)


def q_band_power(spark, sf_dir):
    sf = _signal(spark, sf_dir)
    psd = sf.df.filter(F.col("t") <= 200).select(
        "recording_id",
        "channel",
        (F.col("t") * 0.5).alias("freq"),
        F.col("v").alias("psd"),
    )
    return spec.band_power(psd, lo=5.0, hi=20.0, freq_step=0.5).select(
        "channel", "power"
    )


register("band_power", q_band_power, lambda: sig + """
            , psd AS (
              SELECT channel, CAST(t * 0.5 AS DOUBLE) AS freq, v AS psd
              FROM signal WHERE t <= 200
            ), band AS (
              SELECT channel, freq, psd,
                     CAST(round((freq - 5.0) / 0.5) AS BIGINT) AS k
              FROM psd WHERE freq >= 5.0 AND freq <= 20.0
            )
            SELECT channel,
                   sum(psd * (CASE
                     WHEN k = 0 OR k = 30 THEN CAST(0.5 AS DOUBLE) / 3.0
                     WHEN k % 2 = 1 THEN 4 * CAST(0.5 AS DOUBLE) / 3.0
                     ELSE 2 * CAST(0.5 AS DOUBLE) / 3.0 END)) AS power
            FROM band GROUP BY channel
        """)


def q_power_norm(spark, sf_dir):
    sf = _signal(spark, sf_dir)
    psd = sf.df.filter(F.col("t") <= 200).select(
        "recording_id",
        "channel",
        (F.col("t") * 0.5).alias("freq"),
        F.col("v").alias("psd"),
    )
    return spec.power_norm(psd).select("channel", "freq", "psd_norm")


register("power_norm", q_power_norm, lambda: sig + """
            , psd AS (
              SELECT channel, CAST(t * 0.5 AS DOUBLE) AS freq, v AS psd
              FROM signal WHERE t <= 200
            ), tot AS (
              SELECT channel, sum(psd) AS s FROM psd GROUP BY channel
            )
            SELECT psd.channel, freq, psd / s AS psd_norm
            FROM psd JOIN tot ON psd.channel = tot.channel
        """)


def q_envelope(spark, sf_dir):
    sf = _signal(spark, sf_dir)
    im = (
        (
            (F.col("t") * 37 + F.col("channel") * 11) % 1024
        ).cast("double")
        / 1024.0
    )
    return sf.df.select(
        "channel",
        "t",
        F.sqrt(F.col("v") * F.col("v") + im * im).alias("amplitude"),
    )


register("envelope", q_envelope, lambda: sig + """
            SELECT channel, t,
                   sqrt(v * v +
                        (CAST((t * 37 + channel * 11) % 1024 AS DOUBLE) / 1024.0)
                        * (CAST((t * 37 + channel * 11) % 1024 AS DOUBLE) / 1024.0)
                   ) AS amplitude
            FROM signal
        """)


def q_synth_signal(spark, sf_dir):
    from openseize_spark.sources.generator import dyadic_signal

    sf = dyadic_signal(spark, nchannels=3, nsamples=5000)
    return sf.df.select("channel", "t", "v")


register("synth_signal", q_synth_signal, """
            SELECT CAST(c.i AS INT) AS channel,
                   CAST(t.i AS BIGINT) AS t,
                   CAST((t.i * 2654435761 + c.i * 40503) % 1024 AS DOUBLE) / 1024.0 AS v
            FROM generate_series(0, 4999) AS t(i)
            CROSS JOIN generate_series(0, 2) AS c(i)
        """)

z_lo = _norm_ppf(0.025)
z_hi = _norm_ppf(0.975)


def chi2_sql(z: float) -> str:
    return f"(40 * pow(1 - 2/(9*40.0) + ({dlit(z)}) * sqrt(2/(9*40.0)), 3))"


def q_psd_ci(spark, sf_dir):
    sf = _signal(spark, sf_dir)
    psd = sf.df.filter(F.col("t") <= 200).select(
        "recording_id",
        "channel",
        (F.col("t") * 0.5).alias("freq"),
        F.col("v").alias("psd"),
        F.lit(20).cast("long").alias("nsegs"),
    )
    out = spec.confidence_interval(psd, alpha=0.05)
    return out.select(
        "channel",
        "freq",
        "psd",
        F.round("ci_lower", 9).alias("ci_lower"),
        F.round("ci_upper", 9).alias("ci_upper"),
    )


register("psd_ci", q_psd_ci, lambda: sig + f"""
            SELECT channel, CAST(t * 0.5 AS DOUBLE) AS freq, v AS psd,
                   round(40 * v / {chi2_sql(z_hi)}, 9) AS ci_lower,
                   round(40 * v / {chi2_sql(z_lo)}, 9) AS ci_upper
            FROM signal WHERE t <= 200
        """)

# IIR family: recursive-CTE replays of the exact DF2T recursion
# (plans/oracles.iir_oracle_sql), matched bit for bit.  Every filter runs
# one carried engine (operators/iir._carried), so each *_blocks query
# builds its plain twin: the names stay in the query set.
scte = signal_cte(NCH)
_ell = design2.ellip(fpass=10, fstop=20, fs=FS, gpass=1.0, gstop=40.0).sos


def _iir(sos=None, ba=None, zero_phase=False):
    return oracles.iir_oracle_sql(
        scte, sos=sos, ba=ba, zero_phase=zero_phase, slice_n=IIR_SLICE
    )


def q_sosfiltfilt_ellip(spark, sf_dir):
    spec_e = design2.ellip(fpass=10, fstop=20, fs=FS, gpass=1.0, gstop=40.0)
    sf = op_iir.sosfiltfilt(_signal_sliced(spark, sf_dir), spec_e)
    return sf.df.select("channel", "t", "v")


register("sosfiltfilt_ellip", q_sosfiltfilt_ellip, lambda: _iir(sos=_ell, zero_phase=True))


def _doc_paths(spark, sf_dir):
    from openseize_spark.sources import annotations as ann_src

    docs = _t(spark, sf_dir, "documents")
    a = docs.select(
        F.concat(
            F.lit("data/"), F.col("source"), F.lit("/rec_"),
            F.col("doc_id"), F.lit(".edf"),
        ).alias("path_a")
    )
    b = docs.filter(F.col("doc_id") % 3 != 0).select(
        F.concat(
            F.lit("ann/rec_"), F.col("doc_id"), F.lit("_annotations.txt")
        ).alias("path_b")
    )
    return ann_src, a, b


def q_path_pairing(spark, sf_dir):
    ann_src, a, b = _doc_paths(spark, sf_dir)
    return ann_src.pair_paths(a, b, r"rec_([0-9]+)[_.]")


register("path_pairing", q_path_pairing, """
            WITH a AS (
              SELECT 'data/' || source || '/rec_' || doc_id || '.edf' AS path_a,
                     regexp_extract('rec_' || doc_id || '.', 'rec_([0-9]+)[_.]', 1) AS key
              FROM documents
            ), b AS (
              SELECT 'ann/rec_' || doc_id || '_annotations.txt' AS path_b,
                     regexp_extract('rec_' || doc_id || '_', 'rec_([0-9]+)[_.]', 1) AS key
              FROM documents WHERE doc_id % 3 <> 0
            )
            SELECT a.key AS key, path_a, path_b FROM a JOIN b ON a.key = b.key
        """)


def q_path_mismatched(spark, sf_dir):
    ann_src, a, b = _doc_paths(spark, sf_dir)
    return ann_src.mismatched_paths(a, b, r"rec_([0-9]+)[_.]")


register("path_mismatched", q_path_mismatched, """
            WITH a AS (
              SELECT 'data/' || source || '/rec_' || doc_id || '.edf' AS path_a,
                     regexp_extract('rec_' || doc_id || '.', 'rec_([0-9]+)[_.]', 1) AS key
              FROM documents
            ), b AS (
              SELECT 'ann/rec_' || doc_id || '_annotations.txt' AS path_b,
                     regexp_extract('rec_' || doc_id || '_', 'rec_([0-9]+)[_.]', 1) AS key
              FROM documents WHERE doc_id % 3 <> 0
            )
            SELECT coalesce(a.key, b.key) AS key, path_a, path_b
            FROM a FULL OUTER JOIN b ON a.key = b.key
            WHERE path_a IS NULL OR path_b IS NULL
        """)


def q_welch_psd(spark, sf_dir):
    sf = _signal(spark, sf_dir)
    return spec.welch_psd(sf, nfft=128, overlap=0.5).select(
        "channel", "freq", F.round("psd", 12).alias("psd"), "nsegs"
    )


register("welch_psd", q_welch_psd, lambda: oracles.welch_oracle_sql(sig, nfft=128, fs=FS, overlap=0.5))


def q_welch_psd_blocks(spark, sf_dir):
    sf = _signal(spark, sf_dir)
    return spec.welch_psd_blocks(sf, nfft=128, overlap=0.5, segs_per_block=32).select(
        "channel", "freq", F.round("psd", 12).alias("psd"), "nsegs"
    )


register("welch_psd_blocks", q_welch_psd_blocks, lambda: oracle_of("welch_psd"))  # same result, block-kernel path


def q_coherence(spark, sf_dir):
    """Magnitude-squared coherence between channels 0 and 1
    (operators/spectral.py coherence): Welch cross-spectral density
    over the same segmentation as welch_psd — cross-channel
    parity-plus; oracle replays both channels' naive DFTs joined on
    (segment, bin)."""
    sf = _signal(spark, sf_dir)
    return spec.coherence(sf, ch_a=0, ch_b=1, nfft=128, overlap=0.5).select(
        "freq",
        F.round("csd_re", 12).alias("csd_re"),
        F.round("csd_im", 12).alias("csd_im"),
        F.round("coherence", 9).alias("coherence"),
        "nsegs",
    )


register("coherence", q_coherence, lambda: oracles.coherence_oracle_sql(
    sig, ch_a=0, ch_b=1, nfft=128, fs=FS, overlap=0.5
))


def q_stft(spark, sf_dir):
    sf = _signal(spark, sf_dir)
    # round(9): FFT-vs-naive-DFT oracle divergence is ~1e-16 absolute,
    # which straddles a 1e-12 rounding grid on a handful of rows —
    # 9 decimals puts straddle probability at ~1e-7 per value while
    # still verifying 7+ significant digits of the transform
    return spec.stft(sf, nfft=128, overlap=0.5).select(
        "channel",
        "seg",
        "freq",
        F.round("re", 9).alias("re"),
        F.round("im", 9).alias("im"),
    )


register("stft", q_stft, lambda: oracles.stft_oracle_sql(sig, nfft=128, fs=FS, overlap=0.5))


def q_stft_blocks(spark, sf_dir):
    # bounded-memory STFT (stride-aligned blocks + right halo); tested
    # bit-exact vs the whole-channel path, shares its DFT oracle
    sf = _signal(spark, sf_dir)
    return spec.stft_blocks(sf, nfft=128, overlap=0.5, segs_per_block=64).select(
        "channel",
        "seg",
        "freq",
        F.round("re", 9).alias("re"),
        F.round("im", 9).alias("im"),
    )


register("stft_blocks", q_stft_blocks, lambda: oracle_of("stft"))  # same result, block-kernel path

_butter = design.butter(fpass=10, fstop=20, fs=FS, gpass=1.0, gstop=40.0).sos


def q_sosfilt(spark, sf_dir):
    sos = design.butter(fpass=10, fstop=20, fs=FS, gpass=1.0, gstop=40.0)
    sf = op_iir.sosfilt(_signal_sliced(spark, sf_dir), sos)
    return sf.df.select("channel", "t", "v")


register("sosfilt", q_sosfilt, lambda: _iir(sos=_butter))


def q_sosfilt_blocks(spark, sf_dir):
    return q_sosfilt(spark, sf_dir)


register("sosfilt_blocks", q_sosfilt_blocks, lambda: oracle_of("sosfilt"))


def q_sosfiltfilt_blocks(spark, sf_dir):
    return q_sosfiltfilt(spark, sf_dir)


register("sosfiltfilt_blocks", q_sosfiltfilt_blocks, lambda: oracle_of("sosfiltfilt"))


def _compose_ba():
    """Single-stage (b, a) from the default butter SOS cascade — shared by
    the lfilter/filtfilt queries and their recursion-replay oracles so both
    sides consume identical float64 coefficients."""
    import numpy as np

    spec = design.butter(fpass=10, fstop=20, fs=FS)
    b, a = np.array([1.0]), np.array([1.0])
    for s in spec.sos:
        b = np.convolve(b, s[:3])
        a = np.convolve(a, s[3:])
    return b, a


_BA_SPEC = _compose_ba()


def q_lfilter_blocks(spark, sf_dir):
    return q_lfilter(spark, sf_dir)


register("lfilter_blocks", q_lfilter_blocks, lambda: oracle_of("lfilter"))


def q_filtfilt_blocks(spark, sf_dir):
    return q_filtfilt(spark, sf_dir)


register("filtfilt_blocks", q_filtfilt_blocks, lambda: oracle_of("filtfilt"))


def q_sosfiltfilt(spark, sf_dir):
    sos = design.butter(fpass=10, fstop=20, fs=FS, gpass=1.0, gstop=40.0)
    sf = op_iir.sosfiltfilt(_signal_sliced(spark, sf_dir), sos)
    return sf.df.select("channel", "t", "v")


register("sosfiltfilt", q_sosfiltfilt, lambda: _iir(sos=_butter, zero_phase=True))


def q_resample_poly(spark, sf_dir):
    sf = op_resample.resample(_signal(spark, sf_dir), L=2, M=5, block_size=4096)
    return sf.df.select("channel", "t", "v")


register("resample_poly", q_resample_poly, lambda: oracles.resample_oracle_sql(sig, L=2, M=5))


def q_downsample(spark, sf_dir):
    sf = op_resample.downsample(_signal(spark, sf_dir), M=4, block_size=4096)
    return sf.df.select("channel", "t", "v")


register("downsample", q_downsample, lambda: oracles.resample_oracle_sql(sig, L=1, M=4))


def q_upsample(spark, sf_dir):
    sf = op_resample.upsample(_signal(spark, sf_dir), L=3, block_size=4096)
    return sf.df.select("channel", "t", "v")


register("upsample", q_upsample, lambda: oracles.resample_oracle_sql(sig, L=3, M=1))


def q_fir_blocks(spark, sf_dir):
    sf = op_fir.apply_fir_blocks(
        _signal(spark, sf_dir), _FIR_SPEC, mode="same", block_size=4096
    )
    return sf.df.select("channel", "t", F.round("v", 9).alias("v"))


register("fir_blocks", q_fir_blocks, lambda: oracle_of("fir_kaiser"))  # same result, block-kernel path

_ch1 = design2.cheby1(fpass=10, fstop=20, fs=FS, gpass=1.0, gstop=40.0).sos


def q_sosfilt_cheby1(spark, sf_dir):
    spec = design2.cheby1(fpass=10, fstop=20, fs=FS, gpass=1.0, gstop=40.0)
    sf = op_iir.sosfilt(_signal_sliced(spark, sf_dir), spec)
    return sf.df.select("channel", "t", "v")


register("sosfilt_cheby1", q_sosfilt_cheby1, lambda: _iir(sos=_ch1))


def q_lfilter(spark, sf_dir):
    b, a = _BA_SPEC
    sf = op_iir.lfilter(_signal_sliced(spark, sf_dir), b, a)
    return sf.df.select("channel", "t", "v")


register("lfilter", q_lfilter, lambda: _iir(ba=_BA_SPEC))

_ch2 = design2.cheby2(fpass=10, fstop=20, fs=FS, gpass=1.0, gstop=40.0).sos


def q_sosfilt_cheby2(spark, sf_dir):
    spec = design2.cheby2(fpass=10, fstop=20, fs=FS, gpass=1.0, gstop=40.0)
    sf = op_iir.sosfilt(_signal_sliced(spark, sf_dir), spec)
    return sf.df.select("channel", "t", "v")


register("sosfilt_cheby2", q_sosfilt_cheby2, lambda: _iir(sos=_ch2))


def q_filtfilt(spark, sf_dir):
    b, a = _BA_SPEC
    sf = op_iir.filtfilt(_signal_sliced(spark, sf_dir), b, a)
    return sf.df.select("channel", "t", "v")


register("filtfilt", q_filtfilt, lambda: _iir(ba=_BA_SPEC, zero_phase=True))

_ntc = design.notch(fstop=15.0, width=4.0, fs=FS).sos


def q_notch(spark, sf_dir):
    spec = design.notch(fstop=15.0, width=4.0, fs=FS)
    sf = op_iir.sosfilt(_signal_sliced(spark, sf_dir), spec)
    return sf.df.select("channel", "t", "v")


register("notch", q_notch, lambda: _iir(sos=_ntc))

_hilb_taps = design.hilbert_fir(width=5.0, fs=FS).taps


def q_pac(spark, sf_dir):
    from openseize_spark.operators import coupling

    hspec = design.hilbert_fir(width=5.0, fs=FS)
    sf = _signal(spark, sf_dir)
    analytic = op_fir.hilbert_analytic(sf, hspec)
    # checkpoint the shared analytic subtree: events and amplitudes
    # both derive from it and would otherwise recompute the FIR
    # window; its blocks die with the returned plan
    ph = op_fir.envelope_phase(analytic).localCheckpoint(eager=False)
    events = coupling.phase_events(
        ph.select("recording_id", "channel", "t", "phase"), target=0.5, tol=0.05
    )
    amp = ph.select("recording_id", "channel", "t", F.col("amplitude").alias("v"))
    return coupling.pac_estimate(amp, events, window=32).select(
        "channel",
        "offset",
        F.round("mean_sq_amp", 9).alias("mean_sq_amp"),
        "n_events",
    )


register("pac", q_pac, lambda: oracles.pac_oracle_sql(sig, _hilb_taps, target=0.5, tol=0.05, window=32))

# deterministic circular-shift fractions (a, b) -> shift = (n*a)//b used by
# q_pac_surrogates and replayed by its DuckDB oracle
_SURROGATE_FRACS = [(3, 10), (9, 20), (11, 20), (7, 10)]


def q_pac_surrogates(spark, sf_dir):
    from openseize_spark.operators import coupling

    hspec = design.hilbert_fir(width=5.0, fs=FS)
    sf = _signal(spark, sf_dir)
    analytic = op_fir.hilbert_analytic(sf, hspec)
    ph = op_fir.envelope_phase(analytic).localCheckpoint(eager=False)
    events = coupling.phase_events(
        ph.select("recording_id", "channel", "t", "phase"), target=0.5, tol=0.05
    )
    amp = ph.select("recording_id", "channel", "t", F.col("amplitude").alias("v"))
    # circular shift within the shortest channel length (channels are
    # near-equal; min keeps every shifted t in-range on all channels).
    # Shifts are deterministic integer fractions of n (not seeded rng)
    # so the DuckDB oracle can derive the identical shift table in SQL.
    n = (
        sf.df.groupBy("channel")
        .agg(F.count("*").alias("c"))
        .agg(F.min("c").alias("n"))
        .collect()[0][0]
    )
    shifts = spark.createDataFrame(
        [(i, (n * a) // b) for i, (a, b) in enumerate(_SURROGATE_FRACS)],
        "surrogate_id int, shift bigint",
    )
    return coupling.pac_surrogates(amp, events, 32, shifts, n_samples=n).select(
        "channel",
        "surrogate_id",
        "offset",
        F.round("mean_sq_amp", 9).alias("mean_sq_amp"),
    )


register("pac_surrogates", q_pac_surrogates, lambda: oracles.pac_surrogates_oracle_sql(
    sig, _hilb_taps, target=0.5, tol=0.05, window=32,
    shift_fracs=_SURROGATE_FRACS,
))


def q_hilbert_envelope(spark, sf_dir):
    hspec = design.hilbert_fir(width=5.0, fs=FS)
    analytic = op_fir.hilbert_analytic(_signal(spark, sf_dir), hspec)
    return op_fir.envelope_phase(analytic).select(
        "channel",
        "t",
        F.round("amplitude", 9).alias("amplitude"),
        F.round("phase", 9).alias("phase"),
    )


register("hilbert_envelope", q_hilbert_envelope, lambda: oracles.hilbert_oracle_sql(sig, _hilb_taps))


# Full-length IIR bench variants: the oracled gate queries run on the
# first IIR_SLICE samples so their recursive-CTE oracles stay cheap;
# these keep bench.py honest.
def q_sosfilt_full(spark, sf_dir):
    # full-length bench twin of `sosfilt`; it carries the same
    # recursive-CTE oracle un-sliced (~33 s in DuckDB at sf0.01 —
    # fine for local verification, kept out of the driver window)
    sos = design.butter(fpass=10, fstop=20, fs=FS, gpass=1.0, gstop=40.0)
    sf = op_iir.sosfilt(_signal(spark, sf_dir), sos)
    return sf.df.select("channel", "t", "v")


# full-length bench twins: same recursion replay, no slice — ~33 s
# each in DuckDB at sf0.01, run by local verification (check_oracle /
# diff_audit), deliberately not budgeted into the driver window
register("sosfilt_full", q_sosfilt_full, lambda: oracles.iir_oracle_sql(scte, sos=_butter, slice_n=10**9))


def q_sosfilt_blocks_full(spark, sf_dir):
    return q_sosfilt_full(spark, sf_dir)


register("sosfilt_blocks_full", q_sosfilt_blocks_full, lambda: oracle_of("sosfilt_full"))

_rows = []
for _ch, _s in enumerate(_EDF_GATE_SPR):
    _pmn = np.float64(_EDF_GATE_PMIN[_ch])
    _pmx = np.float64(_EDF_GATE_PMAX[_ch])
    _sl = (_pmx - _pmn) / (np.float64(32767.0) - np.float64(-32768.0))
    _off = _pmn - _sl * np.float64(-32768.0)
    _n = _s * _EDF_GATE_NREC
    _rows.append(
        f"({_ch}, {oracles.dlit(_sl)}, {oracles.dlit(_off)}, {_n})"
    )


def q_edf_decode(spark, sf_dir):
    """EDF digital->physical decode through the distributed
    EdfDataSource: a deterministic irregular-rate EDF (4 channels at
    64/64/32/16 samples per record, distinct physical ranges) is
    synthesized on the driver, then read back via
    spark.read.format("edf") — partition-per-record-range scan,
    int16 decode p = slope*d + offset (sources/edf.py:210-221;
    reference file_io/edf.py:382-419).  The digital samples are a
    closed-form integer function of (channel, t), so the oracle
    replays decode exactly from the same dlit slope/offset literals."""
    import os
    import tempfile

    import numpy as np

    from openseize_spark.sources import edf as edfmod

    path = _gate_tmp(spark, "decode") + ".edf"
    spr, nrec = _EDF_GATE_SPR, _EDF_GATE_NREC
    pmin, pmax = _EDF_GATE_PMIN, _EDF_GATE_PMAX
    hdr = edfmod.EdfHeader(
        num_records=nrec,
        record_duration=1.0,
        names=[f"ch{i}" for i in range(len(spr))],
        transducers=[""] * len(spr),
        physical_dim=["uV"] * len(spr),
        physical_min=list(pmin),
        physical_max=list(pmax),
        digital_min=[-32768.0] * len(spr),
        digital_max=[32767.0] * len(spr),
        prefiltering=[""] * len(spr),
        samples_per_record=list(spr),
    )
    with open(path, "wb") as f:
        edfmod.write_header(f, hdr)
        for r in range(nrec):
            for ch, s in enumerate(spr):
                t = np.arange(r * s, (r + 1) * s, dtype=np.int64)
                d = _edf_gate_digital(ch, t)
                f.write(d.astype("<i2").tobytes())
    edfmod.register_edf_source(spark)
    df = spark.read.format("edf").option("path", path).load()
    return df.select("channel", "t", "v")


register("edf_decode", q_edf_decode, lambda: f"""
        WITH ch(channel, slope, off, n) AS (VALUES {", ".join(_rows)})
        SELECT CAST(ch.channel AS INTEGER) AS channel,
               CAST(u.t AS BIGINT) AS t,
               ch.slope * (((1009 * u.t + 7919 * ch.channel) % 65536) - 32768)
                 + ch.off AS v
        FROM ch, unnest(generate_series(0, ch.n - 1)) AS u(t)""")

# edf_roundtrip: write -> split -> read is the identity on the gate
# signal (encode rint() recovers the closed-form digital samples
# exactly; see q_edf_roundtrip), so the oracle is the decode replay at
# the single shared write range
_n_by_ch = ", ".join(
    f"({_ch}, {_s * _EDF_GATE_NREC})" for _ch, _s in enumerate(_EDF_GATE_SPR)
)


def q_edf_roundtrip(spark, sf_dir):
    """EDF write -> split -> read identity (reference Writer
    file_io/edf.py:591-777, splitter :780-808): the gate signal —
    closed-form digital samples decoded at the shared write range —
    is written to one irregular-rate EDF through the DataFrame sink
    (sources/edf.py:417, single sequential writer as in the
    reference, distributed upstream), split into two channel-subset
    EDFs (sources/edf.py:288), and both splits are read back through
    the distributed DataSource.  The writer's encode
    d = rint((v - offset)/slope) recovers the closed-form digital
    samples exactly (v IS slope*d + offset and the float round-trip
    error sits orders of magnitude under the 0.5 rint threshold), as
    does the splitter's decode->re-encode at the same header range,
    so the union of the split reads must equal the closed form
    bit-for-bit — the edf_decode oracle shape at the write range."""
    import os
    import tempfile
    from functools import reduce

    from openseize_spark.sources import edf as edfmod

    outdir = _gate_tmp(spark, "rt")
    os.makedirs(outdir, exist_ok=True)
    base = os.path.join(outdir, "base.edf")
    spr, nrec = _EDF_GATE_SPR, _EDF_GATE_NREC

    parts = []
    for ch, s in enumerate(spr):
        parts.append(
            spark.range(s * nrec).select(
                F.lit("rt").alias("recording_id"),
                F.lit(ch).cast("int").alias("channel"),
                F.col("id").alias("t"),
                (
                    F.lit(_EDF_RT_SLOPE)
                    * (((F.lit(1009) * F.col("id") + F.lit(7919 * ch)) % 65536)
                       - 32768)
                    + F.lit(_EDF_RT_OFFSET)
                ).alias("v"),
            )
        )
    sig = reduce(DataFrame.unionAll, parts)
    fs = {ch: float(s) for ch, s in enumerate(spr)}
    edfmod.write_edf_from_df(
        sig, base, fs, physical_range=(_EDF_RT_PMIN, _EDF_RT_PMAX)
    )
    mapping = {"even": [0, 2], "odd": [1, 3]}
    edfmod.split_edf(base, mapping, outdir)
    edfmod.register_edf_source(spark)
    reads = []
    for name, chans in mapping.items():
        pdf = (
            spark.read.format("edf")
            .option("path", os.path.join(outdir, f"{name}.edf"))
            .load()
        )
        # split files number their channels positionally; map back to
        # the original channel ids for the union
        remap = F.element_at(
            F.array(*[F.lit(c) for c in chans]), F.col("channel") + 1
        )
        reads.append(pdf.select(remap.cast("int").alias("channel"), "t", "v"))
    return reduce(DataFrame.unionAll, reads)


register("edf_roundtrip", q_edf_roundtrip, lambda: f"""
        WITH ch(channel, n) AS (VALUES {_n_by_ch})
        SELECT CAST(ch.channel AS INTEGER) AS channel,
               CAST(u.t AS BIGINT) AS t,
               {oracles.dlit(_EDF_RT_SLOPE)}
                 * (((1009 * u.t + 7919 * ch.channel) % 65536) - 32768)
                 + {oracles.dlit(_EDF_RT_OFFSET)} AS v
        FROM ch, unnest(generate_series(0, ch.n - 1)) AS u(t)""")


def q_pipeline_chain(spark, sf_dir):
    """Pipeline.append chaining (reference tools/pipeline.py:16-124):
    decimate -> standardize -> FIR appended with kwargs bound and
    exactly one unbound SignalFrame argument each; the composed
    result is still a single lazy plan (each step a plan extension,
    nothing executes until the action).  The oracle composes the
    same three stages as nested CTEs over the signal CTE."""
    from openseize_spark.plans.pipeline import Pipeline

    pipe = Pipeline()
    pipe.append(rel.slice_time, start=0, step=4)
    pipe.append(op_stats.standardize)
    pipe.append(op_fir.apply_fir_sql, spec=_FIR_SPEC, mode="same")
    sf = pipe(_signal(spark, sf_dir))
    return sf.df.select("channel", "t", F.round("v", 9).alias("v"))


# pipeline_chain: the three appended stages composed as nested CTEs —
# decimate (pure slice re-index), per-channel standardize (dyadic
# aggregates, so m/s are engine-exact), then the identical FIR
# expression chain; both sides round the filtered output to 9
register("pipeline_chain", q_pipeline_chain, lambda: sig + f"""
        , dec AS (
          SELECT recording_id, channel, CAST(t // 4 AS BIGINT) AS t, v
          FROM signal WHERE t % 4 = 0
        ), st AS (
          SELECT channel, avg(v) AS m,
                 sqrt(avg(v*v) - avg(v)*avg(v)) AS s
          FROM dec GROUP BY channel
        ), std AS (
          SELECT dec.recording_id, dec.channel, dec.t, (v - m) / s AS v
          FROM dec JOIN st ON dec.channel = st.channel
        )
        SELECT channel, t, round({fir_sum}, 9) AS v
        FROM std
        WINDOW w AS (PARTITION BY recording_id, channel ORDER BY t)""")

# annotations_mask: the fixture's integer-second intervals at fs=100,
# "rest" excluded by the reader's label filter; kept samples re-index
# t densely per channel (the compaction contract)
_ival = ", ".join(
    f"({int(t * FS)}, {int((t + dur) * FS)})"
    for lbl, t, dur, _ch in _ANN_GATE_FIXTURE
    if lbl in ("seizure", "artifact")
)


def q_annotations_mask(spark, sf_dir):
    """Annotations ABC end-to-end (reference file_io/annotations.py:
    42-127 Pinnacle reader, bases.py:364-395 label filter,
    annotations.py:130-181 as_mask): a deterministic Pinnacle
    tab-CSV fixture (6 preamble rows + header) is written, read back
    through read_pinnacle with a label filter, and turned into a
    sample mask over the gate signal via the broadcast interval join
    with dense t re-indexing.  The fixture's times/durations are
    pure integers, so the round(time*fs) interval bounds are exact
    and the oracle replays them as literal VALUES."""
    import os
    import tempfile

    from openseize_spark.sources import annotations as ann

    path = _gate_tmp(spark, "pinnacle") + ".csv"
    ann.write_pinnacle_fixture(path, _ANN_GATE_FIXTURE)
    a = ann.read_pinnacle(
        spark, path, labels=["seizure", "artifact"], recording_id="r0"
    )
    sf = rel.mask_from_annotations(_signal(spark, sf_dir), a)
    return sf.df.select("channel", "t", "v")


register("annotations_mask", q_annotations_mask, lambda: sig + f"""
        , ival(lo, hi) AS (VALUES {_ival}),
        kept AS (
          SELECT channel, t, v FROM signal s
          WHERE EXISTS (SELECT 1 FROM ival
                        WHERE s.t >= ival.lo AND s.t < ival.hi)
        )
        SELECT channel,
               CAST(row_number() OVER (PARTITION BY channel ORDER BY t) - 1
                    AS BIGINT) AS t,
               v
        FROM kept""")


def q_zero_crossing_rate(spark, sf_dir):
    """Zero-crossing count per 256-sample frame per channel — the
    classic cheap spectral-content feature (audio/EEG activity
    detection) computed without any FFT.  The signal's dyadic v
    recenters to v - 0.5 exactly; a crossing is a strictly negative
    product of consecutive centered samples (exact float compare on
    dyadics), counted within tumbling frames (frame = t div 256,
    non-negative so Spark div == DuckDB //).  One channel-keyed
    window pass + one (channel, frame) aggregate."""
    sig = _signal(spark, sf_dir)
    w = W.partitionBy("recording_id", "channel").orderBy("t")
    c = F.col("v") - F.lit(0.5)
    prev = F.lag(c).over(w)
    d = sig.df.select(
        "recording_id",
        "channel",
        F.expr("CAST(t div 256 AS BIGINT)").alias("frame"),
        F.expr("CAST((t - 1) div 256 AS BIGINT)").alias("_pframe"),
        ((prev * c < 0) & F.col("t").isNotNull()).cast("bigint").alias(
            "_x"
        ),
    )
    cross = F.when(
        (F.col("_pframe") == F.col("frame")) & (F.col("_x") == 1), 1
    ).otherwise(0)
    return d.groupBy("recording_id", "channel", "frame").agg(
        F.sum(cross).cast("bigint").alias("n_cross"),
        F.count("*").cast("bigint").alias("n_samples"),
    )


register("zero_crossing_rate", q_zero_crossing_rate, lambda: "WITH "
    + signal_cte(NCH)
    + """, d AS (
          SELECT recording_id, channel,
                 t // 256 AS frame,
                 (t - 1) // 256 AS pframe,
                 CASE WHEN (lag(v) OVER (
                        PARTITION BY recording_id, channel ORDER BY t
                      ) - 0.5) * (v - 0.5) < 0 THEN 1 ELSE 0 END AS x
          FROM signal
        )
        SELECT recording_id, channel, CAST(frame AS BIGINT) AS frame,
               CAST(sum(CASE WHEN pframe = frame AND x = 1 THEN 1
                        ELSE 0 END) AS BIGINT) AS n_cross,
               CAST(count(*) AS BIGINT) AS n_samples
        FROM d GROUP BY recording_id, channel, frame""")


def q_xcorr_lags(spark, sf_dir):
    """Cross-correlation function between signal channels 0 and 1
    at integer lags -32..32 — the lag-estimation primitive
    (alignment, propagation-delay measurement) next to the
    autocorrelation (daily_acf) and coherence queries: sxy(L) =
    Σ_t v0(t)·v1(t+L) over the overlapping support (inner join =
    'valid' boundary).  Each product is one IEEE multiply both
    engines compute bit-identically, quantized to integer
    nano-units before the per-lag sum (DECIMAL(38,0)/HUGEINT —
    order-invariant).  The 65-lag expansion is bounded in-row
    fan-out; the join is a single t-keyed equi-join."""
    sf = _signal(spark, sf_dir).df
    dec = "decimal(38,0)"
    # Bucketized band join (the event-window range-join house
    # shape): shuffling a 65x-exploded probe side is superlinear
    # at scale (measured 0.98s -> 65s at sf0.1 -> sf1); instead
    # both sides shuffle ONCE on a 64-sample time bucket (the b
    # side 3x for the +-1 halo buckets) and the 65-lag expansion
    # happens AFTER the shuffle inside the join probe, collapsing
    # immediately into a 65-key map-side-combined aggregate.
    B = 64
    a = sf.filter(F.col("channel") == 0).select(
        "t",
        F.col("v").alias("_v0"),
        F.floor(F.col("t") / F.lit(B)).cast("bigint").alias("_bk"),
    )
    bk2 = F.floor(F.col("_t2") / F.lit(B)).cast("bigint")
    b = (
        sf.filter(F.col("channel") == 1)
        .select(F.col("t").alias("_t2"), F.col("v").alias("_v1"))
        .select(
            "_t2",
            "_v1",
            F.explode(
                F.array(bk2 - 1, bk2, bk2 + 1)
            ).alias("_bk"),
        )
    )
    lag = F.col("_t2") - F.col("t")
    pu = F.round(
        F.col("_v0") * F.col("_v1") * F.lit(1e9)
    ).cast(dec)
    return (
        a.join(b, on="_bk")
        .filter((lag >= -32) & (lag <= 32))
        .select(lag.alias("lag"), pu.alias("_pu"))
        .groupBy("lag")
        .agg(
            F.count("*").cast("bigint").alias("n_overlap"),
            F.sum("_pu").cast(dec).alias("sxy_units"),
        )
    )


register("xcorr_lags", q_xcorr_lags, lambda: sig + """
        , a AS MATERIALIZED (
          SELECT t, v AS v0 FROM signal WHERE channel = 0
        ), b AS MATERIALIZED (
          SELECT t AS t2, v AS v1 FROM signal WHERE channel = 1
        ), lags AS (
          SELECT CAST(u.l AS BIGINT) AS lag
          FROM range(-32, 33) AS u(l)
        )
        SELECT lags.lag,
               CAST(count(*) AS BIGINT) AS n_overlap,
               CAST(sum(CAST(round(a.v0 * b.v1 * 1e9) AS HUGEINT))
                    AS DECIMAL(38,0)) AS sxy_units
        FROM a CROSS JOIN lags
        JOIN b ON b.t2 = a.t + lags.lag
        GROUP BY lags.lag
    """,
    casts={"lag": None, "n_overlap": None, "sxy_units": "bigint"})
