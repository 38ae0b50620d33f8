"""ANSI-SQL oracle generators for the DSP operator family.

These emit DuckDB SQL that replays the Spark DSP pipelines from first
principles so the driver's relational correctness gate can hash-match
operators that would otherwise be rows-only checks:

- Welch PSD / STFT: the FFT kernel is replayed as a naive O(nfft^2) DFT
  (sum of cos/sin products) over an exploded (segment, offset) grid.
  FFT-vs-DFT float divergence is ~1e-15 relative, far below the gate's
  6-significant-digit compare.
- Polyphase resampling: y[o] = sum_s x[s] * (h*L)[half + o*M - s*L]
  directly from the polyphase definition (reference:
  core/numerical.py:523-632), as a range join against an inlined tap
  table.
- Hilbert analytic signal: the same lag/lead dot product the Spark path
  uses, with identical float64 tap literals and identical left-fold
  order, making re/im bit-exact; amplitude (IEEE sqrt) is bit-exact and
  the phase wrap branch follows sign(im) so it cannot diverge.

All float constants are embedded via ``dlit`` so both engines consume
identical float64 literals: a bare 17-digit literal like
``1.0006061735537775`` parses in DuckDB as DECIMAL(17,16) first, and the
DECIMAL->DOUBLE conversion can land 1 ulp away from Python's float —
appending ``e0`` forces a direct double parse (verified bit-exact).
"""

from __future__ import annotations

import math

import numpy as np

from openseize_spark.dsp import kernels


def dlit(x) -> str:
    """Exact DOUBLE literal for DuckDB: repr round-trips the float64, and
    a trailing exponent keeps the parser out of the DECIMAL path (whose
    conversion to double misrounds some 17-digit values by 1 ulp)."""
    x = float(x)
    if math.isnan(x):
        return "(CAST('nan' AS DOUBLE))"
    if math.isinf(x):
        return f"(CAST('{'-' if x < 0 else ''}inf' AS DOUBLE))"
    r = repr(x)
    return r if ("e" in r or "E" in r) else f"{r}e0"


def _window_values_cte(window: str, nfft: int) -> tuple[str, float]:
    w = kernels.get_window(window, nfft)
    vals = ", ".join(f"({n}, {dlit(w[n])})" for n in range(nfft))
    return f"win(wn, w) AS (VALUES {vals})", float(np.sum(w**2))


def _segment_dft_ctes(
    nfft: int, stride: int, *, boundary_pad: int, tail_pad: bool
) -> str:
    """CTE chain len -> segs -> grid -> samp for the sliding segmentation.

    boundary_pad > 0 and tail_pad=True reproduce the STFT padding rules
    (center-pad nfft//2 zeros, zero-pad tail to whole strides); both off
    reproduce Welch's drop-trailing-partial rule
    (reference: core/numerical.py:799-849, 1039-1051).
    """
    if boundary_pad or tail_pad:
        # padded length n + 2*bp (+ tail): nseg-1 = (n + p) // stride
        segs = f"""
        , par AS (
          SELECT channel, n,
                 (({stride} - (n % {stride})) % {stride}) AS p
          FROM len
        ), segs AS (
          SELECT par.channel, u.s
          FROM par, unnest(generate_series(0, (par.n + par.p) // {stride})) AS u(s)
        )"""
        t_expr = f"g.s * {stride} + g.n - {boundary_pad}"
        join = f"""
        , samp AS (
          SELECT g.channel, g.s, g.n, COALESCE(sig.v, 0.0) AS v
          FROM grid g LEFT JOIN signal sig
            ON sig.channel = g.channel AND sig.t = {t_expr}
        )"""
    else:
        segs = f"""
        , segs AS (
          SELECT len.channel, u.s
          FROM len, unnest(generate_series(0, (len.n - {nfft}) // {stride})) AS u(s)
          WHERE len.n >= {nfft}
        )"""
        join = f"""
        , samp AS (
          SELECT g.channel, g.s, g.n, sig.v
          FROM grid g JOIN signal sig
            ON sig.channel = g.channel AND sig.t = g.s * {stride} + g.n
        )"""
    return (
        """
        , len AS (SELECT channel, count(*) AS n FROM signal GROUP BY channel)"""
        + segs
        + f"""
        , grid AS (
          SELECT segs.channel, segs.s, u.n
          FROM segs, unnest(generate_series(0, {nfft - 1})) AS u(n)
        )"""
        + join
    )


def _windowed_dft_ctes(nfft: int, fs: float, window: str) -> tuple[str, float]:
    """CTEs mu -> y -> X: per-segment constant detrend, window taper, and
    the naive real DFT X[k] = sum_n y[n] e^(-2*pi*i*k*n/nfft)."""
    win_cte, sumw2 = _window_values_cte(window, nfft)
    ctes = f"""
        , {win_cte}
        , mu AS (SELECT channel, s, avg(v) AS m FROM samp GROUP BY channel, s)
        , y AS (
          SELECT sa.channel, sa.s, sa.n, (sa.v - mu.m) * win.w AS y
          FROM samp sa
          JOIN mu ON mu.channel = sa.channel AND mu.s = sa.s
          JOIN win ON win.wn = sa.n
        )
        , X AS (
          SELECT y.channel, y.s, u.k AS k,
                 SUM(y.y * cos(2 * pi() * u.k * y.n / {dlit(nfft)})) AS re,
                 SUM(-y.y * sin(2 * pi() * u.k * y.n / {dlit(nfft)})) AS im
          FROM y, unnest(generate_series(0, {nfft // 2})) AS u(k)
          GROUP BY y.channel, y.s, u.k
        )"""
    return ctes, sumw2


def welch_oracle_sql(
    sig_prefix: str, nfft: int, fs: float, overlap: float = 0.5, window: str = "hann"
) -> str:
    """DuckDB SQL equal to operators/spectral.welch_psd (density scaling,
    constant detrend): (channel, freq, psd, nsegs)."""
    stride = int(nfft - overlap * nfft)
    seg_ctes = _segment_dft_ctes(nfft, stride, boundary_pad=0, tail_pad=False)
    dft_ctes, sumw2 = _windowed_dft_ctes(nfft, fs, window)
    return (
        sig_prefix
        + seg_ctes
        + dft_ctes
        + f"""
        , p AS (
          SELECT channel, s, k,
                 (re * re + im * im) / ({dlit(fs)} * {dlit(sumw2)})
                 * (CASE WHEN k = 0 OR k = {nfft // 2} THEN 1.0 ELSE 2.0 END) AS p
          FROM X
        )
        SELECT channel, CAST(k AS DOUBLE) * {dlit(fs)} / {nfft} AS freq,
               round(avg(p), 12) AS psd, count(*) AS nsegs
        FROM p GROUP BY channel, k"""
    )


def coherence_oracle_sql(
    sig_prefix: str,
    ch_a: int,
    ch_b: int,
    nfft: int,
    fs: float,
    overlap: float = 0.5,
    window: str = "hann",
) -> str:
    """DuckDB SQL equal to operators/spectral.coherence: the naive-DFT
    segment spectra of both channels joined on (segment, bin), per-cell
    cross / auto products QUANTIZED to integer 1e-12 units
    (floor(x * 1e12 + 0.5), the identical expression the engine's
    kernels.cross_spectra_int applies) and summed as exact HUGEINTs, then
    one division: Cxy = |S_xy|^2 / (S_xx * S_yy).

    Why integers: avg() over floats is summation-order-sensitive and
    DuckDB does not pin its parallel reduction order, so a run-to-run
    1-ulp reordering could flip the round-at-9 coherence ratio (the r06
    red row).  Exact integer sums are associative; a per-cell 1-unit
    quantization disagreement between numpy-rfft and the naive SQL DFT
    perturbs a ~1e12-unit sum by ~1e-12 relative — damped, not
    amplified — so both sides are deterministic and bit-equal."""
    stride = int(nfft - overlap * nfft)
    seg_ctes = _segment_dft_ctes(nfft, stride, boundary_pad=0, tail_pad=False)
    dft_ctes, sumw2 = _windowed_dft_ctes(nfft, fs, window)
    scale = f"({dlit(fs)} * {dlit(sumw2)})"
    return (
        sig_prefix
        + seg_ctes
        + dft_ctes
        + f"""
        , xa AS (SELECT s, k, re, im FROM X WHERE channel = {ch_a})
        , xb AS (SELECT s, k, re, im FROM X WHERE channel = {ch_b})
        , cr AS (
          SELECT xa.s, xa.k,
                 CAST(floor((xa.re * xb.re + xa.im * xb.im) * 1e12 + 0.5)
                      AS HUGEINT) AS cre,
                 CAST(floor((xa.im * xb.re - xa.re * xb.im) * 1e12 + 0.5)
                      AS HUGEINT) AS cim,
                 CAST(floor((xa.re * xa.re + xa.im * xa.im) * 1e12 + 0.5)
                      AS HUGEINT) AS pa,
                 CAST(floor((xb.re * xb.re + xb.im * xb.im) * 1e12 + 0.5)
                      AS HUGEINT) AS pb
          FROM xa JOIN xb ON xa.s = xb.s AND xa.k = xb.k
        )
        SELECT CAST(k AS DOUBLE) * {dlit(fs)} / {nfft} AS freq,
               round(CAST(sum(cre) AS DOUBLE) / 1e12 / count(*) / {scale},
                     12) AS csd_re,
               round(CAST(sum(cim) AS DOUBLE) / 1e12 / count(*) / {scale},
                     12) AS csd_im,
               CASE WHEN sum(pa) * sum(pb) > 0 THEN
                 round(CAST(sum(cre) * sum(cre) + sum(cim) * sum(cim)
                            AS DOUBLE)
                       / CAST(sum(pa) * sum(pb) AS DOUBLE), 9)
               ELSE 0.0 END AS coherence,
               count(*) AS nsegs
        FROM cr GROUP BY k"""
    )


def stft_oracle_sql(
    sig_prefix: str, nfft: int, fs: float, overlap: float = 0.5, window: str = "hann"
) -> str:
    """DuckDB SQL equal to operators/spectral.stft with boundary=True,
    padded=True, density scaling: (channel, seg, freq, re, im)."""
    stride = int(nfft - overlap * nfft)
    seg_ctes = _segment_dft_ctes(
        nfft, stride, boundary_pad=nfft // 2, tail_pad=True
    )
    dft_ctes, sumw2 = _windowed_dft_ctes(nfft, fs, window)
    denom = float(np.sqrt(fs * sumw2))
    return (
        sig_prefix
        + seg_ctes
        + dft_ctes
        + f"""
        SELECT channel, s AS seg, CAST(k AS DOUBLE) * {dlit(fs)} / {nfft} AS freq,
               round(re / {dlit(denom)}, 9) AS re,
               CASE WHEN k = 0 OR k = {nfft // 2} THEN 0.0
                    ELSE round(im / {dlit(denom)}, 9) END AS im
        FROM X"""
    )


def resample_oracle_sql(
    sig_prefix: str, L: int, M: int, h: np.ndarray | None = None
) -> str:
    """DuckDB SQL equal to operators/resample.resample(L, M):
    y[o] = sum_s x[s] * (h*L)[half + o*M - s*L], o in [0, ceil(n*L/M)),
    x zero-padded outside its support: (channel, t, v)."""
    from math import gcd

    g = gcd(L, M)
    L, M = L // g, M // g
    if h is None:
        h = kernels.default_resample_filter(L, M)
    h = np.asarray(h, dtype=np.float64)
    half = (len(h) - 1) // 2
    hL = h * L
    taps = ", ".join(f"({j}, {dlit(hL[j])})" for j in range(len(hL)))
    return (
        sig_prefix
        + f"""
        , len AS (SELECT channel, count(*) AS n FROM signal GROUP BY channel)
        , grid AS (
          SELECT len.channel, u.o
          FROM len, unnest(generate_series(
            0, CAST(ceil(len.n * {L} / CAST({M} AS DOUBLE)) AS BIGINT) - 1)) AS u(o)
        )
        , taps(j, h) AS (VALUES {taps})
        , contrib AS (
          -- ordered left-fold over terms by ascending input sample s:
          -- bit-identical to the Spark kernel's serial per-phase
          -- accumulation (dsp/kernels.py polyphase_apply), which folds
          -- in the same s-ascending order; an unordered SUM() would
          -- diverge by summation order at the round(…,12) boundary
          SELECT g.channel, g.o,
                 list_reduce(
                   list(s.v * CAST(tp.h AS DOUBLE) ORDER BY s.t ASC),
                   (a, b) -> a + b) AS v
          FROM grid g
          JOIN signal s
            ON s.channel = g.channel
           AND s.t * {L} BETWEEN {half} + g.o * {M} - {len(h) - 1}
                             AND {half} + g.o * {M}
          JOIN taps tp ON tp.j = {half} + g.o * {M} - s.t * {L}
          GROUP BY g.channel, g.o
        )
        SELECT g.channel, g.o AS t, COALESCE(c.v, 0.0) AS v
        FROM grid g LEFT JOIN contrib c
          ON c.channel = g.channel AND c.o = g.o"""
    )


def _envelope_phase_ctes(taps: np.ndarray) -> str:
    """CTEs an -> ph: analytic signal via the exact nonzero-tap left-fold
    order of the Spark window expression (bit-identical dot product), then
    amplitude (IEEE sqrt, bit-exact) and phase wrapped to [0, 2*pi) —
    the wrap branch follows sign(im) so it cannot diverge across engines."""
    L = len(taps)
    c = (L - 1) // 2
    terms = []
    for k in range(L):
        if abs(float(taps[k])) == 0.0:
            continue
        shift = k - c
        if shift == 0:
            col = "v"
        elif shift > 0:
            col = f"coalesce(lag(v, {shift}) OVER w, 0.0)"
        else:
            col = f"coalesce(lead(v, {-shift}) OVER w, 0.0)"
        terms.append(f"{col} * {dlit(taps[k])}")
    im_sum = " + ".join(terms)
    two_pi = float(2 * np.pi)
    return f"""
        , an AS (
          SELECT channel, t, v AS re, {im_sum} AS im
          FROM signal
          WINDOW w AS (PARTITION BY recording_id, channel ORDER BY t)
        )
        , ph AS (
          SELECT channel, t, sqrt(re * re + im * im) AS amplitude,
                 CASE WHEN atan2(im, re) < 0
                      THEN atan2(im, re) + {dlit(two_pi)}
                      ELSE atan2(im, re) END AS phase
          FROM an
        )"""


def hilbert_oracle_sql(sig_prefix: str, taps: np.ndarray) -> str:
    """DuckDB SQL equal to operators/fir.hilbert_analytic + envelope_phase:
    (channel, t, amplitude, phase)."""
    return (
        sig_prefix
        + _envelope_phase_ctes(taps)
        + """
        SELECT channel, t, round(amplitude, 9) AS amplitude,
               round(phase, 9) AS phase FROM ph"""
    )


def _pac_event_ctes(taps: np.ndarray, target: float, tol: float, window: int) -> str:
    """CTEs ev -> gath: phase-crossing events (first sample of each
    contiguous within-tolerance run, reference: estimators.py:172-179)
    and the event-window amplitude gather (range join, offset within
    window; reference: estimators.py:200-230)."""
    half = window // 2
    return (
        _envelope_phase_ctes(taps)
        + f"""
        , flags AS (
          SELECT channel, t, amplitude,
                 (abs(phase - {dlit(target)}) <= {dlit(tol)}) AS _in
          FROM ph
          WINDOW w AS (PARTITION BY channel ORDER BY t)
        )
        , ev AS (
          SELECT channel, t AS event_t
          FROM (
            SELECT channel, t, _in,
                   COALESCE(lag(_in) OVER (PARTITION BY channel ORDER BY t),
                            false) AS _prev
            FROM flags
          )
          WHERE _in AND NOT _prev
        )
        , gath AS (
          SELECT a.channel, e.event_t,
                 CAST(a.t - (e.event_t - {half}) AS BIGINT) AS "offset",
                 a.amplitude AS v
          FROM flags a
          JOIN ev e ON e.channel = a.channel
                   AND a.t >= e.event_t - {half}
                   AND a.t < e.event_t + {half}
        )"""
    )


def pac_oracle_sql(
    sig_prefix: str,
    taps: np.ndarray,
    target: float,
    tol: float,
    window: int,
) -> str:
    """DuckDB SQL equal to the full PAC pipeline (hilbert ->
    envelope/phase -> phase events -> event-window gather -> per-offset
    mean squared amplitude, complete windows only):
    (channel, offset, mean_sq_amp, n_events)."""
    return (
        sig_prefix
        + _pac_event_ctes(taps, target, tol, window)
        + f"""
        , complete AS (
          SELECT channel, event_t, "offset", v,
                 count(*) OVER (PARTITION BY channel, event_t) AS _n
          FROM gath
        )
        SELECT channel, "offset", round(avg(v * v), 9) AS mean_sq_amp,
               count(*) AS n_events
        FROM complete WHERE _n = {2 * (window // 2)}
        GROUP BY channel, "offset" """
    )


def pac_surrogates_oracle_sql(
    sig_prefix: str,
    taps: np.ndarray,
    target: float,
    tol: float,
    window: int,
    shift_fracs: list[tuple[int, int]],
) -> str:
    """DuckDB SQL equal to the surrogate-PAC pipeline with deterministic
    circular shifts floor(n * a/b) of the min channel length:
    (channel, surrogate_id, offset, mean_sq_amp)."""
    half = window // 2
    shift_arms = "\n          UNION ALL ".join(
        f"SELECT {i} AS surrogate_id, (n * {a}) // {b} AS shift, n FROM nmin"
        for i, (a, b) in enumerate(shift_fracs)
    )
    return (
        sig_prefix
        + _pac_event_ctes(taps, target, tol, window)
        + f"""
        , nmin AS (
          SELECT min(cnt) AS n
          FROM (SELECT channel, count(*) AS cnt FROM signal GROUP BY channel)
        )
        , shifts AS (
          {shift_arms}
        )
        , shifted AS (
          SELECT f.channel, s.surrogate_id,
                 (f.t + s.shift) % s.n AS t, f.amplitude AS v
          FROM flags f CROSS JOIN shifts s
        )
        , sgath AS (
          SELECT a.channel, a.surrogate_id, e.event_t,
                 CAST(a.t - (e.event_t - {half}) AS BIGINT) AS "offset",
                 a.v
          FROM shifted a
          JOIN ev e ON e.channel = a.channel
                   AND a.t >= e.event_t - {half}
                   AND a.t < e.event_t + {half}
        )
        SELECT channel, surrogate_id, "offset",
               round(avg(v * v), 9) AS mean_sq_amp
        FROM sgath
        GROUP BY channel, surrogate_id, "offset" """
    )


# --------------------------------------------------------------- IIR replay
def _sos_rec_cte(recname: str, signame: str, sos: np.ndarray, zi: np.ndarray | None) -> str:
    """Recursive-CTE fragment replaying dsp/kernels.sosfilt bit-exactly.

    The DF2T per-sample update is three IEEE binary64 ops per section with
    a fixed fold order; writing the identical expression tree in SQL makes
    DuckDB produce bit-identical doubles (same trick as the FIR lag/lead
    folds).  Processing section-by-section over the whole array (the numpy
    kernel's loop order) and sample-by-sample through the cascade (this
    recursion's order) perform the exact same float ops per (section,
    sample) pair, so the results are bit-equal.

    ``zi`` (nsec, 2): Gustafsson-style unit state; the base case seeds
    z = zi * x[0] exactly like kernels.sosfiltfilt.
    """
    sos = np.asarray(sos, dtype=np.float64)
    S = sos.shape[0]
    flat = [c for s in range(S) for c in (f"z0_{s}", f"z1_{s}")]
    if zi is None:
        base_z = ", ".join(f"CAST(0.0 AS DOUBLE) AS {c}" for c in flat)
        base_src = f"(SELECT DISTINCT channel FROM {signame})"
    else:
        base_z = ", ".join(
            f"{dlit(zi[s, 0])} * v0 AS z0_{s}, {dlit(zi[s, 1])} * v0 AS z1_{s}"
            for s in range(S)
        )
        base_src = f"(SELECT channel, v AS v0 FROM {signame} WHERE t = 0)"
    inner = (
        "SELECT r.channel AS channel, r.t+1 AS t, s.v AS xi, "
        + ", ".join(f"r.{c} AS p{c}" for c in flat)
        + f" FROM {recname} r JOIN {signame} s ON s.channel = r.channel AND s.t = r.t + 1"
    )
    terms, xin = [], "xi"
    for s in range(S):
        b0, b1, b2, _, a1, a2 = (float(v) for v in sos[s])
        y = f"y{s + 1}"
        terms.append(f"{dlit(b0)} * {xin} + pz0_{s} AS {y}")
        terms.append(f"{dlit(b1)} * {xin} - {dlit(a1)} * {y} + pz1_{s} AS nz0_{s}")
        terms.append(f"{dlit(b2)} * {xin} - {dlit(a2)} * {y} AS nz1_{s}")
        xin = y
    mid = f"SELECT *, {', '.join(terms)} FROM ({inner})"
    step = (
        f"SELECT channel, t, y{S} AS v, "
        + ", ".join(f"nz0_{s} AS z0_{s}, nz1_{s} AS z1_{s}" for s in range(S))
        + f" FROM ({mid})"
    )
    return (
        f"{recname} AS (\n"
        f"  SELECT channel, CAST(-1 AS BIGINT) AS t, CAST(0.0 AS DOUBLE) AS v, {base_z}\n"
        f"  FROM {base_src}\n  UNION ALL\n  {step}\n)"
    )


def _ba_rec_cte(recname: str, signame: str, b: np.ndarray, a: np.ndarray, zi: np.ndarray | None) -> str:
    """Recursive-CTE fragment replaying dsp/kernels.lfilter bit-exactly
    (same a[0]-normalization and DF2T fold order as the kernel)."""
    b = np.asarray(b, dtype=np.float64)
    a = np.asarray(a, dtype=np.float64)
    b = b / a[0]
    a = a / a[0]
    n = max(len(a), len(b))
    b = np.pad(b, (0, n - len(b)))
    a = np.pad(a, (0, n - len(a)))
    d = n - 1
    zc = [f"z{j}" for j in range(d)]
    if zi is None:
        base_z = ", ".join(f"CAST(0.0 AS DOUBLE) AS {c}" for c in zc)
        base_src = f"(SELECT DISTINCT channel FROM {signame})"
    else:
        base_z = ", ".join(f"{dlit(zi[j])} * v0 AS z{j}" for j in range(d))
        base_src = f"(SELECT channel, v AS v0 FROM {signame} WHERE t = 0)"
    inner = (
        "SELECT r.channel AS channel, r.t+1 AS t, s.v AS xi, "
        + ", ".join(f"r.{c} AS p{c}" for c in zc)
        + f" FROM {recname} r JOIN {signame} s ON s.channel = r.channel AND s.t = r.t + 1"
    )
    terms = [f"{dlit(b[0])} * xi + pz0 AS yy"]
    for j in range(d - 1):
        terms.append(
            f"{dlit(b[j + 1])} * xi + pz{j + 1} - {dlit(a[j + 1])} * yy AS nz{j}"
        )
    terms.append(f"{dlit(b[n - 1])} * xi - {dlit(a[n - 1])} * yy AS nz{d - 1}")
    mid = f"SELECT *, {', '.join(terms)} FROM ({inner})"
    step = (
        "SELECT channel, t, yy AS v, "
        + ", ".join(f"nz{j} AS z{j}" for j in range(d))
        + f" FROM ({mid})"
    )
    return (
        f"{recname} AS (\n"
        f"  SELECT channel, CAST(-1 AS BIGINT) AS t, CAST(0.0 AS DOUBLE) AS v, {base_z}\n"
        f"  FROM {base_src}\n  UNION ALL\n  {step}\n)"
    )


def iir_oracle_sql(
    signal_cte_body: str,
    *,
    sos: np.ndarray | None = None,
    ba: tuple[np.ndarray, np.ndarray] | None = None,
    zero_phase: bool = False,
    slice_n: int = 2048,
) -> str:
    """Full-query DuckDB oracle for the IIR family: replays the causal
    recursion (and the reverse pass for zero-phase) as recursive CTEs over
    the first ``slice_n`` samples per channel.

    The Spark filters (operators/iir) carry the exact state, so they
    match it BIT-EXACTLY (no tolerance) for every block size.

    ``signal_cte_body``: the output of signal.signal_cte(nch).
    """
    from openseize_spark.dsp import kernels as _k

    if (sos is None) == (ba is None):
        raise ValueError("exactly one of sos / ba")
    if sos is not None:
        sos = np.asarray(sos, dtype=np.float64)
        zi = _k.sosfilt_zi(sos) if zero_phase else None
        mk = lambda rec, sig, z: _sos_rec_cte(rec, sig, sos, z)  # noqa: E731
    else:
        b, a = ba
        zi = _k.lfilter_zi(b, a) if zero_phase else None
        mk = lambda rec, sig, z: _ba_rec_cte(rec, sig, b, a, z)  # noqa: E731

    parts = [
        "WITH RECURSIVE " + signal_cte_body.strip().removeprefix("WITH").strip(),
        f"sig AS MATERIALIZED (SELECT channel, t, v FROM signal WHERE t < {slice_n})",
        mk("fwd", "sig", zi),
    ]
    if not zero_phase:
        final = "SELECT channel, t, v FROM fwd WHERE t >= 0"
    else:
        parts += [
            "nlen AS MATERIALIZED (SELECT channel, count(*) AS n FROM sig GROUP BY channel)",
            "frev AS MATERIALIZED (SELECT f.channel, l.n - 1 - f.t AS t, f.v"
            " FROM fwd f JOIN nlen l ON f.channel = l.channel WHERE f.t >= 0)",
            mk("bwd", "frev", zi),
        ]
        final = (
            "SELECT b.channel, CAST(l.n - 1 - b.t AS BIGINT) AS t, b.v"
            " FROM bwd b JOIN nlen l ON b.channel = l.channel WHERE b.t >= 0"
        )
    return ",\n".join(parts) + "\n" + final
