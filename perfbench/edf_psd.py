"""Workload ``edf_psd``: the paper's pipeline, EDF file to band powers.

Each iteration writes its own seeded 4-channel recording (planted sines
plus Gaussian noise at 500 Hz) with ``sources.edf.write_edf``, reads it
back through the ``edf`` data source, and runs
``sosfilt_blocks -> resample -> welch_psd_blocks -> band_power`` (alpha
band).  The check replays the same chain with the whole-array
``dsp.kernels`` on the decoded samples, and requires every channel whose
planted sine lies in the band to carry far more band power than every
channel whose sine lies outside it.
"""

from __future__ import annotations

import time
from dataclasses import dataclass
from pathlib import Path

import numpy as np

NAME = "edf_psd"
ITEM = "samples"
CHANNELS = 4
FS = 500.0
N_SAMPLES = 25_000  # per channel: 50 s of EEG
SCAN_PARTITIONS = 4
BLOCK = 8192
NFFT = 500  # 0.5 Hz bins after resampling to 250 Hz
STEP = 250.0 / NFFT
BAND = (8.0, 13.0)
OFF_BAND = ((2.0, 6.0), (16.0, 35.0))  # planted frequencies outside BAND
AMPLITUDE = 20.0
NOISE = 5.0
OPS_PER_ITERATION = 1


def sos():
    from openseize_spark.dsp import design

    return design.butter(fpass=40.0, fstop=80.0, fs=FS).sos


@dataclass
class Input:
    path: Path
    in_band: list  # per channel: is its planted sine inside BAND
    write_s: float


def make_input(work: Path, seed: int, i: int) -> Input:
    from openseize_spark.sources import edf

    rng = np.random.default_rng([seed, i, 1])
    t = np.arange(N_SAMPLES) / FS
    # a random non-empty proper subset of channels peaks inside the band
    in_band = [False] * CHANNELS
    for ch in rng.choice(CHANNELS, size=int(rng.integers(1, CHANNELS)), replace=False):
        in_band[int(ch)] = True
    data = {}
    for ch in range(CHANNELS):
        lo, hi = (BAND[0] + 1.0, BAND[1] - 1.0) if in_band[ch] else OFF_BAND[rng.integers(2)]
        f = rng.uniform(lo, hi)
        phase = rng.uniform(0, 2 * np.pi)
        data[ch] = AMPLITUDE * np.sin(2 * np.pi * f * t + phase) + rng.normal(
            scale=NOISE, size=N_SAMPLES
        )
    path = work / f"{NAME}_{seed}_{i}.edf"
    t0 = time.perf_counter()
    edf.write_edf(str(path), data, FS)
    return Input(path, in_band, time.perf_counter() - t0)


def items(inp: Input) -> int:
    return CHANNELS * N_SAMPLES


def read(spark, inp: Input):
    records = -(-N_SAMPLES // int(FS))
    return (
        spark.read.format("edf")
        .option("path", str(inp.path))
        .option("recs_per_partition", str(-(-records // SCAN_PARTITIONS)))
        .load()
    )


def band_power(psd):
    from openseize_spark.operators import spectral

    return spectral.band_power(psd, BAND[0], BAND[1], STEP)


def _collect(bp) -> dict:
    return {int(r.channel): float(r.power) for r in bp.collect()}


def run(spark, inp: Input):
    """One pipeline, input file to collected band powers."""
    from openseize_spark.operators import iir, resample, spectral
    from openseize_spark.signal import SignalFrame

    sf = SignalFrame(read(spark, inp), FS)
    sf = iir.sosfilt_blocks(sf, sos(), block_size=BLOCK)
    sf = resample.resample(sf, 1, 2, block_size=BLOCK)
    psd = spectral.welch_psd_blocks(sf, nfft=NFFT)
    return _collect(band_power(psd)), {}


def run_layers(spark, inp: Input, tracer, tag: str) -> tuple[dict, dict]:
    """The same pipeline with every layer call under its own span and
    its output materialized, so per-layer jobs and time separate."""
    from harness import layer

    from openseize_spark.operators import iir, resample, spectral
    from openseize_spark.signal import SignalFrame

    df, _ = layer(tracer, tag, "sources.edf.read", lambda: read(spark, inp))
    sf = SignalFrame(df, FS)
    as_df = lambda s: s.df  # noqa: E731
    sf, _ = layer(
        tracer, tag, "operators.iir.sosfilt_blocks",
        lambda: iir.sosfilt_blocks(sf, sos(), block_size=BLOCK), as_df,
    )
    sf, _ = layer(
        tracer, tag, "operators.resample.resample",
        lambda: resample.resample(sf, 1, 2, block_size=BLOCK), as_df,
    )
    psd, _ = layer(
        tracer, tag, "operators.spectral.welch_psd_blocks",
        lambda: spectral.welch_psd_blocks(sf, nfft=NFFT),
    )
    bp, _ = layer(
        tracer, tag, "operators.spectral.band_power", lambda: band_power(psd)
    )
    return _collect(bp), {}


def reference(inp: Input) -> dict:
    """Whole-array numpy kernels on the decoded recording, one thread."""
    from openseize_spark.dsp import kernels
    from openseize_spark.sources import edf

    hdr = edf.read_header(str(inp.path))
    raw = edf.read_records(str(inp.path), hdr, 0, hdr.num_records)
    phys = edf.decode_records(raw, hdr, list(range(CHANNELS)))
    out = {}
    s = sos()
    for ch in range(CHANNELS):
        y, _ = kernels.sosfilt(s, phys[ch])
        y = kernels.resample_poly(y, 1, 2)
        freqs, p = kernels.welch(y, FS / 2, NFFT)
        out[ch] = kernels.band_power(freqs, p, *BAND)
    return out


def check(inp: Input, out: dict, ref: dict | None = None) -> list[str]:
    ref = reference(inp) if ref is None else ref
    problems = []
    if set(out) != set(ref):
        return [f"band-power channels differ: got {sorted(out)}, want {sorted(ref)}"]
    for k, want in ref.items():
        if not np.isclose(out[k], want, rtol=1e-9, atol=1e-12):
            problems.append(f"band power {k}: {out[k]!r} != reference {want!r}")
    inside = [out[ch] for ch in out if inp.in_band[ch]]
    outside = [out[ch] for ch in out if not inp.in_band[ch]]
    if min(inside) < 10.0 * max(outside):
        problems.append(f"planted peaks not resolved: in-band {inside}, off-band {outside}")
    return problems


def corrupt(out: dict) -> dict:
    bad = dict(out)
    k = next(iter(bad))
    bad[k] *= 1.5
    return bad
