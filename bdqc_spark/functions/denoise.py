"""Per-clip stationary-noise suppression (spectral gating).

The audio-side cleanup step a speech corpus runs between decode and
feature extraction: estimate the stationary noise floor from the
clip's own quietest STFT frames, then attenuate each time-frequency
bin toward that floor (power spectral subtraction with a spectral
floor — Boll 1979, the method behind Audacity's noise reduction and
the `noisereduce` package; all public).

Method, fully deterministic:

1. STFT: periodic-Hann analysis window (win = 32 ms rounded to the
   next power of two, hop = win/2 → COLA: overlapped Hann sums to 1),
   rfft per frame.
2. Noise profile: per-bin mean POWER over the quietest 10% of frames
   by total energy (≥ 2 frames) — the clip is its own noise sample,
   no side-channel calibration data.
3. Gain: G = sqrt(max(1 − α·N/P, floor²)) per bin (α = 3
   over-subtraction, floor = 10^(−25/20) ≈ −25 dB) applied to the
   complex spectrum — phase untouched.
4. ISTFT: overlap-add, normalized by the accumulated window sum so
   the edges are exact, cropped to the input length.

Reported signals (what a keep/drop rule or a lineage row wants):
``noise_dbfs_before/after`` (quietest-frame floor), ``noise_
reduction_db``, and the VAD-gated ``snr_db_before/after`` reusing
snr.snr_stats so the numbers are commensurate with the clips_snr
query. Clips shorter than two windows pass through unmodified with
``denoise_ok=false`` (too little evidence to profile noise).

Execution contract is the profile/snr one: one ``mapInArrow`` pass
over the scan, zero-copy Arrow buffers, ``bytes`` consumed map-side —
only scalars shuffle. The denoised PCM itself (``emit_bytes=True``)
is for sink-side rewriting: the production plan writes it straight to
a partitioned sink in the same stage, it never crosses a shuffle.
"""

from __future__ import annotations

from functools import partial

import numpy as np
import pyarrow as pa

from bdqc_spark.functions.audio import signal_pass
from bdqc_spark.functions.snr import snr_stats

# Over-subtraction factor. Per-bin noise power is ~exponential around
# the profile mean N, so a noise-only bin passes with probability
# e^-ALPHA and the expected leakage is ALPHA·e^-ALPHA + e^-ALPHA of N:
# 1.5 → only ~-6.5 dB of gating; 3.0 → ~-13 dB, past which the
# spectral floor dominates. 3.0 is the measured knee.
ALPHA = 3.0
FLOOR_DB = -25.0  # spectral floor (max attenuation per bin)
QUIET_FRAC = 0.10  # fraction of frames used for the noise profile
_EPS = 1e-12


def _win_size(sr: int) -> int:
    """32 ms rounded up to a power of two (512 @ 16 kHz, 256 @ 8 kHz)."""
    target = max(int(sr * 0.032), 32)
    return 1 << int(np.ceil(np.log2(target)))


def denoise_pcm(pcm: np.ndarray, sr: int) -> tuple[np.ndarray, dict] | None:
    """(denoised float32 pcm, stats) or None when the clip is too
    short to profile noise (< 2 windows) — callers pass through.
    stats = {'noise_dbfs_before', 'noise_dbfs_after',
    'noise_reduction_db'} (quietest-frame noise floor, before/after).
    """
    n = pcm.shape[0]
    if n == 0 or sr <= 0:
        return None
    win = _win_size(sr)
    hop = win // 2
    if n < 2 * win:
        return None
    x = np.asarray(pcm, dtype=np.float64)
    nf = 1 + (n - win) // hop
    idx = np.arange(win)[None, :] + hop * np.arange(nf)[:, None]
    frames = x[idx]
    w = np.hanning(win + 1)[:win]  # periodic Hann → exact COLA at hop=win/2
    spec = np.fft.rfft(frames * w, axis=1)
    power = np.abs(spec) ** 2

    # noise profile: per-bin mean power of the quietest frames
    energy = power.sum(axis=1)
    n_quiet = max(int(np.ceil(QUIET_FRAC * nf)), 2)
    quiet = np.argsort(energy, kind="stable")[:n_quiet]
    noise = power[quiet].mean(axis=0)

    floor2 = (10.0 ** (FLOOR_DB / 20.0)) ** 2
    gain = np.sqrt(np.maximum(1.0 - ALPHA * noise[None, :] / np.maximum(power, _EPS), floor2))
    out_frames = np.fft.irfft(spec * gain, n=win, axis=1)

    # Overlap-add, vectorized without ufunc.at (np.add.at with a
    # broadcast value segfaults on this numpy build): at hop = win/2
    # every output sample receives exactly the first half of one frame
    # plus the second half of the previous one, so the OLA is two
    # strided adds over an (nf+1, hop) grid.
    contrib = out_frames * w
    grid = np.zeros((nf + 1, hop), dtype=np.float64)
    grid[:nf] += contrib[:, :hop]
    grid[1:] += contrib[:, hop:]
    wgrid = np.zeros((nf + 1, hop), dtype=np.float64)
    ww = w * w
    wgrid[:nf] += ww[:hop]
    wgrid[1:] += ww[hop:]
    cov = (nf + 1) * hop  # == (nf-1)*hop + win, the OLA-covered prefix
    y = x.copy()  # tail/uncovered samples pass through
    flat = grid.ravel()
    wflat = wgrid.ravel()
    good = wflat > _EPS
    flat[good] /= wflat[good]
    flat[~good] = x[:cov][~good]
    y[:cov] = flat

    def _floor_dbfs(sig: np.ndarray) -> float:
        f = sig[: nf * hop + (win - hop)]
        fr = f[idx]
        e = (fr * fr).mean(axis=1)
        q = np.sort(e, kind="stable")[:n_quiet]
        return float(10.0 * np.log10(max(float(q.mean()), _EPS)))

    before = _floor_dbfs(x)
    after = _floor_dbfs(y)
    return y.astype(np.float32), {
        "noise_dbfs_before": before,
        "noise_dbfs_after": after,
        "noise_reduction_db": before - after,
    }


_DN_FIELDS = (
    ("denoise_ok", pa.bool_(), False),
    ("noise_dbfs_before", pa.float64(), np.nan),
    ("noise_dbfs_after", pa.float64(), np.nan),
    ("noise_reduction_db", pa.float64(), np.nan),
    ("snr_db_before", pa.float64(), np.nan),
    ("snr_db_after", pa.float64(), np.nan),
)


def _denoise_signal(pcm: np.ndarray, sr: int, emit_bytes: bool) -> dict | None:
    res = denoise_pcm(pcm, sr)
    if res is None:
        return None
    y, st = res
    b, a = snr_stats(pcm, sr), snr_stats(y, sr)
    st["snr_db_before"] = None if b is None else b["snr_db"]
    st["snr_db_after"] = None if a is None else a["snr_db"]
    if emit_bytes:
        q = np.clip(np.round(y.astype(np.float64) * 32767.0), -32768, 32767)
        st["denoised_bytes"] = q.astype("<i2").tobytes()
    return st


def clip_denoise(clips, emit_bytes: bool = False):
    """clips(bytes, codec, sr_hz, …) → per-clip denoise signals; with
    ``emit_bytes`` also the denoised pcm_s16le payload (sink-side
    rewriting — write it in the same stage, never shuffle it)."""
    fields = _DN_FIELDS + ((("denoised_bytes", pa.binary(), None),) if emit_bytes else ())
    return signal_pass(
        clips, partial(_denoise_signal, emit_bytes=emit_bytes), fields, "denoise_ok"
    )
