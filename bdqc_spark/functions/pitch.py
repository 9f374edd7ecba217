"""Per-clip fundamental-frequency (F0) estimation — autocorrelation
method (textbook ACF pitch tracking; the simplification of
YIN/RAPT every speech toolkit ships).

The speech-QC signals this buys: a "speech" clip whose voiced
fraction is ~0 is music/noise/tone; an F0 median outside ~[60, 400]
Hz or a near-zero F0 spread is a synthetic tone or a corrupted
decode, not a person talking.

Method, fully deterministic:
- frame 40 ms / hop 20 ms (≥ 2 periods of the 60 Hz search floor);
- per frame: mean-subtract, FFT autocorrelation, normalize by lag 0;
- search lags [sr/F0_MAX .. sr/F0_MIN] (400 → 60 Hz), take the max;
- a frame is VOICED iff its RMS clears the VAD gate (reuses the
  pipeline's threshold so "voiced" ⊆ "active") AND the normalized
  ACF peak ≥ 0.5 (periodicity confidence — white noise sits ≪ 0.5);
- clip-level: voiced_frac over gated frames, median and IQR of the
  voiced frames' F0 (integer-lag resolution: ~1 Hz at 100 Hz,
  ~5 Hz at 400 Hz @ 16 kHz — enough for QC, documented so nobody
  reads vibrato out of it).

No SQL twin exists for an FFT, so the registry entry is rows-only;
known-frequency recovery (tone, harmonic-rich sawtooth, chirp),
noise/silence rejection, and Spark↔numpy parity are pytest-gated in
tests/test_pitch.py. Execution contract is the profile/snr/denoise
one: one ``mapInArrow`` pass, bytes consumed map-side, scalars only
shuffle.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from bdqc_spark.functions.audio import VAD_RMS_MIN, signal_pass

F0_MIN = 60.0
F0_MAX = 400.0
FRAME_S = 0.040
HOP_S = 0.020
ACF_VOICED_MIN = 0.5
_EPS = 1e-12


def pitch_stats(pcm: np.ndarray, sr: int) -> dict | None:
    """{'voiced_frac', 'f0_median_hz', 'f0_iqr_hz', 'n_frames'} or
    None (clip shorter than one frame / bad inputs). f0 fields are
    None when no frame is voiced."""
    n = pcm.shape[0]
    if n == 0 or sr <= 0:
        return None
    win = int(sr * FRAME_S)
    hop = int(sr * HOP_S)
    if n < win or win < 8:
        return None
    lag_lo = max(int(np.floor(sr / F0_MAX)), 1)
    lag_hi = min(int(np.ceil(sr / F0_MIN)), win - 1)
    if lag_lo >= lag_hi:
        return None
    nf = 1 + (n - win) // hop
    idx = np.arange(win)[None, :] + hop * np.arange(nf)[:, None]
    frames = np.asarray(pcm, dtype=np.float64)[idx]
    rms = np.sqrt(np.einsum("ij,ij->i", frames, frames) / win)
    frames = frames - frames.mean(axis=1, keepdims=True)
    # FFT autocorrelation (linear, zero-padded to ≥ 2·win)
    nfft = 1 << int(np.ceil(np.log2(2 * win)))
    spec = np.fft.rfft(frames, n=nfft, axis=1)
    acf = np.fft.irfft(spec * np.conj(spec), n=nfft, axis=1)[:, : lag_hi + 1]
    norm = np.maximum(acf[:, 0:1], _EPS)
    acf_n = acf / norm
    band = acf_n[:, lag_lo : lag_hi + 1]
    best = np.argmax(band, axis=1)
    peak = band[np.arange(nf), best]
    lag = best + lag_lo
    voiced = (rms >= VAD_RMS_MIN) & (peak >= ACF_VOICED_MIN)
    nv = int(np.count_nonzero(voiced))
    out = {"voiced_frac": nv / nf, "n_frames": nf}
    if nv == 0:
        out["f0_median_hz"] = None
        out["f0_iqr_hz"] = None
        return out
    f0 = sr / lag[voiced].astype(np.float64)
    q25, q50, q75 = np.percentile(f0, [25.0, 50.0, 75.0])
    out["f0_median_hz"] = float(q50)
    out["f0_iqr_hz"] = float(q75 - q25)
    return out


_P_FIELDS = (
    ("pitch_ok", pa.bool_(), False),
    ("voiced_frac", pa.float64(), np.nan),
    ("f0_median_hz", pa.float64(), np.nan),
    ("f0_iqr_hz", pa.float64(), np.nan),
    ("n_frames", pa.int32(), 0),
)


def clip_pitch(clips):
    """clips(bytes, codec, sr_hz, …) → per-clip F0/voicing signals.
    Same execution contract as the profile stage (module docstring)."""
    return signal_pass(clips, pitch_stats, _P_FIELDS, "pitch_ok")
