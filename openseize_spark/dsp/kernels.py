"""Pure-numpy DSP kernels.

These are used in two places:
1. inside Arrow-batched Pandas UDF / applyInPandas kernel stages
   (operators/spectral.py, operators/fir.py, operators/iir.py,
   operators/resample.py);
2. as the in-memory oracle in tests — the distributed result must match the
   whole-array kernel result exactly, which is the Spark analog of the
   reference's chunksize-invariance tests (reference:
   tests/test_resampling.py:64-89, tests/test_iir.py:132-159).

No scipy in this environment, so the classical algorithms are implemented
directly (overlap-add convolution, DF2T sosfilt, upfirdn polyphase,
Welch/STFT with window+detrend+scaling following the same conventions the
reference inherits from scipy, core/numerical.py:635-1087).
"""

from __future__ import annotations

import numpy as np

from openseize_spark.dsp.design import hann_periodic, window_by_name


# ------------------------------------------------------------ convolution
def convolve_full(x: np.ndarray, h: np.ndarray) -> np.ndarray:
    """FFT-based linear convolution, 'full' mode (len = n + m - 1).

    The overlap-add machinery of the reference (core/numerical.py:158-298)
    exists to bound memory on an infinite stream; in Spark the stream is
    already blocked into partitions, so within a block we use one FFT
    convolution and the *halo exchange* (operators/blocks.py) supplies the
    cross-block overlap.
    """
    x = np.asarray(x, dtype=np.float64)
    h = np.asarray(h, dtype=np.float64)
    n = len(x) + len(h) - 1
    if len(h) < 32 or len(x) < 64:
        return np.convolve(x, h, mode="full")
    nfft = 1 << int(np.ceil(np.log2(n)))
    y = np.fft.irfft(np.fft.rfft(x, nfft) * np.fft.rfft(h, nfft), nfft)[:n]
    return y


def convolve_mode_slice(nx: int, nh: int, mode: str) -> slice:
    """Start/stop of `mode` within the 'full' output (reference trim rules,
    core/numerical.py:76-116 convolve_slicer)."""
    if mode == "full":
        return slice(0, nx + nh - 1)
    if mode == "same":
        start = (nh - 1) // 2
        return slice(start, start + nx)
    if mode == "valid":
        return slice(nh - 1, nx)  # requires nx >= nh
    raise ValueError(mode)


def convolve(x: np.ndarray, h: np.ndarray, mode: str = "same") -> np.ndarray:
    return convolve_full(x, h)[convolve_mode_slice(len(x), len(h), mode)]


# ----------------------------------------------------------------- IIR
def sosfilt(sos: np.ndarray, x: np.ndarray, zi: np.ndarray | None = None):
    """Causal IIR over second-order sections, direct-form II transposed —
    the chunked stateful scan of the reference (core/numerical.py:301-335).

    Returns (y, zf) with zf the final state, shape (nsections, 2), so the
    caller can carry state across blocks exactly like the reference carries
    ``zi`` between chunks.
    """
    sos = np.asarray(sos, dtype=np.float64)
    x = np.asarray(x, dtype=np.float64)
    ns = sos.shape[0]
    z = np.zeros((ns, 2)) if zi is None else np.array(zi, dtype=np.float64, copy=True)
    y = x
    for s in range(ns):
        b0, b1, b2, _, a1, a2 = sos[s]
        out = np.empty_like(y)
        z0, z1 = z[s, 0], z[s, 1]
        for i in range(len(y)):
            xi = y[i]
            yi = b0 * xi + z0
            z0 = b1 * xi - a1 * yi + z1
            z1 = b2 * xi - a2 * yi
            out[i] = yi
        z[s, 0], z[s, 1] = z0, z1
        y = out
    return y, z


def sosfiltfilt(sos: np.ndarray, x: np.ndarray) -> np.ndarray:
    """Zero-phase forward-backward IIR with padtype=None — the only mode
    the reference matches exactly when chunked
    (reference: core/numerical.py:355-371).  Initial conditions use the
    steady-state step response (Gustafsson-style sosfilt_zi analog)."""
    zi = sosfilt_zi(sos)
    y, _ = sosfilt(sos, x, zi * x[0])
    y = y[::-1]
    y, _ = sosfilt(sos, y, zi * y[0])
    return y[::-1]


def sosfilt_zi(sos: np.ndarray) -> np.ndarray:
    """Steady-state DF2T state for a unit step input (sosfilt_zi
    work-alike).  Solves the 2-state fixed point per section."""
    sos = np.asarray(sos, dtype=np.float64)
    ns = sos.shape[0]
    zi = np.zeros((ns, 2))
    scale = 1.0
    for s in range(ns):
        b0, b1, b2, _, a1, a2 = sos[s]
        # steady state with input u=scale, output y = H(1)*scale
        h1 = (b0 + b1 + b2) / (1 + a1 + a2)
        y = h1 * scale
        # z0 = y - b0*u ;  z1 = z0 - b1*u + a1*y  (fixed point of DF2T)
        z0 = y - b0 * scale
        z1 = b2 * scale - a2 * y
        zi[s, 0] = z0
        zi[s, 1] = z1
        scale = y
    return zi


def lfilter(b: np.ndarray, a: np.ndarray, x: np.ndarray, zi=None):
    """Transfer-function IIR (reference: core/numerical.py:414-446) via
    direct-form II transposed, arbitrary order."""
    b = np.asarray(b, dtype=np.float64)
    a = np.asarray(a, dtype=np.float64)
    b = b / a[0]
    a = a / a[0]
    n = max(len(a), len(b))
    b = np.pad(b, (0, n - len(b)))
    a = np.pad(a, (0, n - len(a)))
    z = np.zeros(n - 1) if zi is None else np.array(zi, dtype=np.float64, copy=True)
    y = np.empty_like(np.asarray(x, dtype=np.float64))
    x = np.asarray(x, dtype=np.float64)
    for i in range(len(x)):
        xi = x[i]
        yi = b[0] * xi + (z[0] if n > 1 else 0.0)
        for j in range(n - 2):
            z[j] = b[j + 1] * xi + z[j + 1] - a[j + 1] * yi
        if n > 1:
            z[n - 2] = b[n - 1] * xi - a[n - 1] * yi
        y[i] = yi
    return y, z


# ------------------------------------------------------------- resampling
# Per-phase tap-count ceiling for the bit-reproducible serial fold in
# polyphase_apply; above it the BLAS matvec takes over (the gate queries'
# filters sit far below this, so every oracled query stays fold-exact).
_FOLD_MAX_TAPS = 1024


def polyphase_apply(
    hL: np.ndarray,
    x: np.ndarray,
    L: int,
    M: int,
    j_start: int,
    j_end: int,
    x_origin: int = 0,
    half: int | None = None,
) -> np.ndarray:
    """True polyphase evaluation of y[j] = sum_s x_g[s] * hL[half + j*M - s*L]
    for global output indices j in [j_start, j_end), where ``x`` covers
    global input samples [x_origin, x_origin + len(x)) and x_g is zero
    outside.

    This is the strided-upfirdn decomposition: for fixed j the tap index
    half + j*M - s*L stays in one residue class mod L, so output phase
    r = j % L uses only the phase filter hL[p_r::L] — each output costs
    len(hL)/L multiply-adds and the L*x zero-stuffed array is never
    materialized (memory O(len(x) + n_out), not O(len(x)*L)).

    reference semantics: core/numerical.py:523-632 (the reference
    zero-stuffs per chunk; this computes the identical sums directly).
    """
    hL = np.asarray(hL, dtype=np.float64)
    x = np.asarray(x, dtype=np.float64)
    if half is None:
        half = (len(hL) - 1) // 2
    n_out = j_end - j_start
    if n_out <= 0:
        return np.zeros(0)
    y = np.empty(n_out)
    # phase sub-filters and the local window bounds they need
    plans = []
    lo_needed, hi_needed = 0, len(x)
    for r in range(min(L, n_out)):
        jf = j_start + r
        count = (j_end - jf + L - 1) // L
        p = (half + jf * M) % L
        hr = hL[p::L]
        K = len(hr)
        if K == 0:
            y[r::L] = 0.0
            continue
        s0 = (half + jf * M - p) // L  # newest input sample entering y[jf]
        ls = s0 - K + 1 - x_origin  # local index of the window start
        plans.append((jf, count, hr[::-1].copy(), K, ls))
        lo_needed = min(lo_needed, ls)
        hi_needed = max(hi_needed, ls + K + (count - 1) * M)
    lpad = max(0, -lo_needed)
    rpad = max(0, hi_needed - len(x))
    xp = np.concatenate([np.zeros(lpad), x, np.zeros(rpad)]) if lpad or rpad else x
    for jf, count, hr_rev, K, ls in plans:
        base = ls + lpad
        if K <= _FOLD_MAX_TAPS:
            # Serial left-fold over taps in ascending input-sample order
            # (k = 0..K-1 <=> s ascending), vectorized across outputs.
            # NOT a BLAS dot on purpose: BLAS uses pairwise/SIMD-blocked
            # summation whose order is implementation-defined, while this
            # fold is bit-reproducible and replayed exactly by the SQL
            # oracle (plans/oracles.py resample_oracle_sql: list_reduce
            # over terms ORDER BY s).  Padded-zero terms are exact no-ops,
            # so the oracle summing only real samples in the same order
            # stays bit-identical.
            acc = np.zeros(count)
            for k in range(K):
                acc += hr_rev[k] * xp[base + k : base + k + (count - 1) * M + 1 : M]
            y[jf - j_start :: L] = acc
        else:
            # Huge per-phase tap counts (e.g. downsample with M ~ 1000:
            # K = len(h) since L = 1) would make the K-step fold
            # Python-overhead-bound; fall back to the BLAS matvec.  K
            # depends only on (h, L), never on blocking, so block and
            # whole-array paths always pick the same branch and stay
            # bit-identical to each other.
            rows = np.lib.stride_tricks.sliding_window_view(xp, K)[base::M][:count]
            y[jf - j_start :: L] = rows @ hr_rev
    return y


def upfirdn(h: np.ndarray, x: np.ndarray, up: int, down: int) -> np.ndarray:
    """Zero-stuff by `up`, FIR filter, take every `down`-th sample —
    computed via the strided polyphase core (no L*x expansion)."""
    x = np.asarray(x, dtype=np.float64)
    h = np.asarray(h, dtype=np.float64)
    n_full = len(x) * up + len(h) - 1
    n_out = -(-n_full // down)
    return polyphase_apply(h, x, up, down, 0, n_out, x_origin=0, half=0)


def resample_poly(x: np.ndarray, up: int, down: int, h: np.ndarray | None = None) -> np.ndarray:
    """Rational L/M polyphase resample (resample_poly work-alike,
    reference: core/numerical.py:523-632 / resampling/resampling.py).

    Default anti-alias/interp filter: Kaiser windowed-sinc, cutoff
    1/max(L,M) of nyquist, beta=5.0, 10*max(L,M) half-width — mirroring the
    reference's default Kaiser parameterization
    (reference: resampling/resampling.py:119-136).
    """
    x = np.asarray(x, dtype=np.float64)
    g = np.gcd(up, down)
    up //= g
    down //= g
    if up == 1 and down == 1:
        return x.copy()
    if h is None:
        h = default_resample_filter(up, down)
    n_out = int(np.ceil(len(x) * up / down))
    return polyphase_apply(h * up, x, up, down, 0, n_out)


def default_resample_filter(up: int, down: int) -> np.ndarray:
    m = max(up, down)
    half_len = 10 * m
    numtaps = 2 * half_len + 1
    cutoff = 1.0 / m  # normalized to nyquist of the upsampled rate
    mvec = np.arange(numtaps) - half_len
    h = cutoff * np.sinc(cutoff * mvec)
    h *= np.kaiser(numtaps, 5.0)
    h /= np.sum(h)
    return h


# ---------------------------------------------------------- spectral
def detrend(x: np.ndarray, kind: str = "constant") -> np.ndarray:
    """Per-segment detrend (reference delegates to sps.detrend,
    core/numerical.py:690-691)."""
    x = np.asarray(x, dtype=np.float64)
    if kind in (None, "none"):
        return x
    if kind == "constant":
        return x - x.mean(axis=-1, keepdims=True)
    if kind == "linear":
        n = x.shape[-1]
        t = np.arange(n) - (n - 1) / 2.0
        denom = np.sum(t * t)
        slope = (x * t).sum(axis=-1, keepdims=True) / denom
        return x - x.mean(axis=-1, keepdims=True) - slope * t
    raise ValueError(kind)


def get_window(window: str, nfft: int) -> np.ndarray:
    if window == "hann":
        return hann_periodic(nfft)
    return window_by_name(window, nfft, periodic=True)


def periodogram_segments(
    segs: np.ndarray,
    fs: float,
    window: str = "hann",
    detrend_kind: str = "constant",
    scaling: str = "density",
) -> tuple[np.ndarray, np.ndarray]:
    """|rfft|^2 of each row of `segs` (shape [..., nfft]) with window,
    detrend, one-sided doubling — the reference's modified_dft +
    periodogram pair (core/numerical.py:635-796).

    Returns (freqs, psd[..., nfreq]).
    """
    segs = np.atleast_2d(np.asarray(segs, dtype=np.float64))
    nfft = segs.shape[-1]
    win = get_window(window, nfft)
    x = detrend(segs, detrend_kind) * win
    spec = np.fft.rfft(x, axis=-1)
    p = (spec.real**2 + spec.imag**2)
    if scaling == "density":
        p /= fs * np.sum(win**2)
    elif scaling == "spectrum":
        p /= np.sum(win) ** 2
    else:
        raise ValueError(scaling)
    # one-sided doubling; DC never doubled, nyquist not doubled when nfft even
    # (reference: core/numerical.py:760-796)
    if nfft % 2 == 0:
        p[..., 1:-1] *= 2.0
    else:
        p[..., 1:] *= 2.0
    freqs = np.fft.rfftfreq(nfft, d=1.0 / fs)
    return freqs, p


def sliding_segments(x: np.ndarray, nfft: int, stride: int) -> np.ndarray:
    """Segment a 1-D series into overlapping windows, dropping the trailing
    partial segment (reference: core/numerical.py:799-849).  Segment count
    = (N - nfft)//stride + 1 (reference: core/numerical.py:940-943)."""
    x = np.asarray(x, dtype=np.float64)
    if len(x) < nfft:
        return np.empty((0, nfft))
    view = np.lib.stride_tricks.sliding_window_view(x, nfft)
    return view[::stride].copy()


def welch(
    x: np.ndarray,
    fs: float,
    nfft: int,
    overlap: float = 0.5,
    window: str = "hann",
    detrend_kind: str = "constant",
    scaling: str = "density",
) -> tuple[np.ndarray, np.ndarray]:
    """Welch PSD of a 1-D series: sliding segments -> periodogram -> mean
    (reference: core/numerical.py:852-947 + spectra/estimators.py:59-156)."""
    stride = int(nfft - overlap * nfft)
    segs = sliding_segments(x, nfft, stride)
    freqs, p = periodogram_segments(segs, fs, window, detrend_kind, scaling)
    return freqs, p.mean(axis=0)


def stft(
    x: np.ndarray,
    fs: float,
    nfft: int,
    overlap: float = 0.5,
    window: str = "hann",
    detrend_kind: str = "constant",
    scaling: str = "density",
    boundary: bool = True,
    padded: bool = True,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Short-time FT keeping complex per-segment spectra
    (reference: core/numerical.py:950-1087).  boundary: center-pad nfft//2
    zeros each side; padded: zero-pad tail to a whole number of strides.
    Returns (freqs, times, Z[nseg, nfreq] complex)."""
    x = np.asarray(x, dtype=np.float64)
    stride = int(nfft - overlap * nfft)
    if boundary:
        x = np.concatenate([np.zeros(nfft // 2), x, np.zeros(nfft // 2)])
    if padded and (len(x) - nfft) % stride != 0:
        pad = stride - (len(x) - nfft) % stride
        x = np.concatenate([x, np.zeros(pad)])
    segs = sliding_segments(x, nfft, stride)
    win = get_window(window, nfft)
    xs = detrend(segs, detrend_kind) * win
    spec = np.fft.rfft(xs, axis=-1)
    if scaling == "density":
        spec = spec / np.sqrt(fs * np.sum(win**2))
    else:
        spec = spec / np.sum(win)
    freqs = np.fft.rfftfreq(nfft, d=1.0 / fs)
    offset = 0 if not boundary else 0  # times measured on padded axis start
    times = (np.arange(segs.shape[0]) * stride + nfft / 2 - (nfft // 2 if boundary else 0)) / fs
    return freqs, times, spec


# ------------------------------------------------------------- metrics
def simpson_weights(n: int, dx: float = 1.0) -> np.ndarray:
    """Composite-Simpson integration weights for n uniformly spaced points
    (reference band power uses Simpson's rule, spectra/metrics.py:25-86).
    For even n, the last interval uses the trapezoid rule."""
    if n < 2:
        return np.zeros(max(n, 0)) + (0.0 if n == 0 else 1.0)
    w = np.zeros(n)
    m = n if n % 2 == 1 else n - 1  # odd-count prefix for pure Simpson
    if m >= 3:
        w[0] += 1.0
        w[m - 1] += 1.0
        w[1:m - 1:2] += 4.0
        w[2:m - 1:2] += 2.0
        w[:m] *= dx / 3.0
    if n % 2 == 0:
        # trapezoid on the final interval
        w[n - 2] += dx / 2.0
        w[n - 1] += dx / 2.0
        if m < 3:
            w[:2] = dx / 2.0
    return w


def band_power(freqs: np.ndarray, psd: np.ndarray, lo: float, hi: float) -> float:
    """Simpson-integrated power between nearest bins to lo/hi
    (reference: spectra/metrics.py:25-86; nearest1D arraytools.py:165-180)."""
    i0 = int(np.argmin(np.abs(freqs - lo)))
    i1 = int(np.argmin(np.abs(freqs - hi)))
    sl = slice(min(i0, i1), max(i0, i1) + 1)
    f = freqs[sl]
    if len(f) < 2:
        return 0.0
    w = simpson_weights(len(f), dx=float(f[1] - f[0]))
    return float(np.sum(w * psd[sl]))


def lfilter_zi(b: np.ndarray, a: np.ndarray) -> np.ndarray:
    """Steady-state DF2T state for lfilter under a unit step (the ba-form
    analog of sosfilt_zi), solved as the linear fixed point of the state
    recurrence."""
    b = np.asarray(b, dtype=np.float64)
    a = np.asarray(a, dtype=np.float64)
    b = b / a[0]
    a = a / a[0]
    n = max(len(a), len(b))
    b = np.pad(b, (0, n - len(b)))
    a = np.pad(a, (0, n - len(a)))
    if n == 1:
        return np.zeros(0)
    # steady state: y = H(1), z_j = b_{j+1} - a_{j+1} y + z_{j+1}
    y = np.sum(b) / np.sum(a)
    z = np.zeros(n - 1)
    acc = 0.0
    for j in range(n - 2, -1, -1):
        acc += b[j + 1] - a[j + 1] * y
        z[j] = acc
    return z


def filtfilt(b: np.ndarray, a: np.ndarray, x: np.ndarray) -> np.ndarray:
    """Zero-phase forward-backward ba-form filter, padtype=None
    (reference: core/numerical.py:449-520)."""
    zi = lfilter_zi(b, a)
    y, _ = lfilter(b, a, x, zi * x[0])
    y = y[::-1]
    y, _ = lfilter(b, a, y, zi * y[0])
    return y[::-1]


def cross_spectra(
    xa: np.ndarray,
    xb: np.ndarray,
    fs: float,
    nfft: int,
    overlap: float = 0.5,
    window: str = "hann",
    detrend_kind: str = "constant",
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray, int]:
    """Welch cross-spectral density and auto-spectra of two aligned 1-D
    series: segment both, window + detrend, rfft, average A * conj(B)
    and |A|^2 / |B|^2 over segments.  Density scaling (1 / (fs * sum
    w^2)), no one-sided doubling (it cancels in coherence and is not
    part of the two-sided CSD definition used here).

    Returns (freqs, sxy[complex], sxx, syy, nsegs).
    """
    stride = int(nfft - overlap * nfft)
    sa = sliding_segments(xa, nfft, stride)
    sb = sliding_segments(xb, nfft, stride)
    m = min(len(sa), len(sb))
    sa, sb = sa[:m], sb[:m]
    win = get_window(window, nfft)
    if m == 0:
        nf = nfft // 2 + 1
        freqs = np.fft.rfftfreq(nfft, d=1.0 / fs)
        z = np.zeros(nf)
        return freqs, z.astype(complex), z, z, 0
    A = np.fft.rfft(detrend(sa, detrend_kind) * win, axis=-1)
    B = np.fft.rfft(detrend(sb, detrend_kind) * win, axis=-1)
    scale = fs * np.sum(win**2)
    sxy = (A * np.conj(B)).mean(axis=0) / scale
    sxx = (A.real**2 + A.imag**2).mean(axis=0) / scale
    syy = (B.real**2 + B.imag**2).mean(axis=0) / scale
    freqs = np.fft.rfftfreq(nfft, d=1.0 / fs)
    return freqs, sxy, sxx, syy, m


def cross_spectra_int(
    xa: np.ndarray,
    xb: np.ndarray,
    nfft: int,
    overlap: float = 0.5,
    window: str = "hann",
    detrend_kind: str = "constant",
    scale_q: float = 1e12,
) -> tuple[np.ndarray, list, list, list, list, int]:
    """Per-bin EXACT integer segment sums of the Welch cross/auto
    spectral products: each per-(segment, bin) value of
    cre = Re(A)Re(B)+Im(A)Im(B), cim = Im(A)Re(B)-Re(A)Im(B),
    pa = |A|^2, pb = |B|^2 is quantized to integer 1/scale_q units with
    floor(x * scale_q + 0.5) — the IDENTICAL expression a SQL oracle
    replays (multiplication, not division by the reciprocal, which can
    differ by 1 ulp) — then summed over segments in arbitrary-precision
    Python ints.

    The point is summation-order independence: float averages of the
    same products are sensitive to the (engine- and run-dependent)
    reduction order, and a downstream ratio-of-averages rounded at N
    decimals can flip a 1-ulp reordering across the rounding boundary.
    Integer sums are associative, so engine and oracle agree bit-for-bit
    run after run.

    Returns (freq_bins, S_cre, S_cim, S_pa, S_pb, nsegs) where the four
    S_* are length-(nfft//2+1) lists of Python ints in 1/scale_q units.
    """
    stride = int(nfft - overlap * nfft)
    sa = sliding_segments(xa, nfft, stride)
    sb = sliding_segments(xb, nfft, stride)
    m = min(len(sa), len(sb))
    nf = nfft // 2 + 1
    k = np.arange(nf)
    if m == 0:
        z = [0] * nf
        return k, z, z, z, z, 0
    sa, sb = sa[:m], sb[:m]
    win = get_window(window, nfft)
    A = np.fft.rfft(detrend(sa, detrend_kind) * win, axis=-1)
    B = np.fft.rfft(detrend(sb, detrend_kind) * win, axis=-1)
    cre = A.real * B.real + A.imag * B.imag
    cim = A.imag * B.real - A.real * B.imag
    pa = A.real**2 + A.imag**2
    pb = B.real**2 + B.imag**2

    def _isum(v: np.ndarray) -> list:
        q = np.floor(v * scale_q + 0.5)  # round-half-up, matches SQL
        return [int(sum(int(c) for c in q[:, j])) for j in range(v.shape[1])]

    return k, _isum(cre), _isum(cim), _isum(pa), _isum(pb), m
