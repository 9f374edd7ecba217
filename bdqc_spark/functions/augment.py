"""Audio training-data augmentation — speed perturbation and additive
noise at a target SNR, the two standard augmentations an ASR/speech
training pipeline applies at corpus scale (public method: Ko et al.
2015 "Audio augmentation for speech recognition" — 0.9/1.0/1.1 speed
perturbation; SNR-controlled noise mixing is the standard robustness
recipe).

bdqc has no DSP; like resample.py this is engine-surface growth over
the opaque binary column. Both ops follow the SAME execution
contract as the profile/resample stages: ONE mapInArrow pass, zero-
copy Arrow-buffer payload reads, `bytes` consumed inside the stage,
output re-encoded pcm_s16le; corrupt rows degrade to ok=false (null
payload), never crash the task.

- **Speed perturbation** reuses the windowed-sinc + linear-interp
  resampler (functions/resample.py): playing n samples at rate
  sr·factor and re-gridding back to sr is exactly
  resample_linear(pcm, round(sr·factor), sr) — anti-alias filtering
  included for factor > 1. Duration scales by 1/factor; pitch and
  tempo shift together (Ko et al.'s "speed" variant, not tempo-only).
- **Noise mixing** adds deterministic white noise scaled to a target
  SNR against the clip's own RMS: rng = default_rng([seed,
  xxhash-free stable key]) — the noise for a given (clip, seed) is
  REPRODUCIBLE across retries, partitionings and cluster sizes,
  which is what makes the augmented corpus itself reproducible (the
  same property the deterministic corpus generator guarantees,
  synth/clips.py).
"""

from __future__ import annotations

import zlib
from functools import partial

import numpy as np
import pyarrow as pa

from bdqc_spark.functions.audio import _REWRITE_FIELDS, _rewritten, signal_pass

AUGMENT_FIELDS = _REWRITE_FIELDS + (
    ("augment_ok", pa.bool_(), False),
    ("n_samples", pa.int32(), 0),
    ("dur_ms", pa.int32(), 0),
)


def _stable_row_key(clip_id: str) -> int:
    """Deterministic 32-bit key from the clip id (crc32 of the UTF-8
    bytes) — stable across processes (unsalted, unlike hash())."""
    return zlib.crc32(clip_id.encode("utf-8")) & 0xFFFFFFFF


def speed_perturb(pcm: np.ndarray, sr: int, factor: float) -> np.ndarray:
    """float32 PCM → speed-perturbed float32 PCM (len ≈ n/factor).
    factor 1.1 = 10% faster (shorter, higher pitch)."""
    from bdqc_spark.functions.resample import resample_linear

    if factor <= 0:
        raise ValueError(f"speed factor must be positive, got {factor}")
    src = max(int(round(sr * factor)), 1)
    return resample_linear(pcm, src, sr)


def time_stretch(
    pcm: np.ndarray,
    sr: int,
    rate: float,
    frame_ms: float = 32.0,
    tol_ms: float = 8.0,
) -> np.ndarray:
    """WSOLA tempo change WITHOUT pitch change (Verhelst & Roelands
    1993, "An overlap-add technique based on waveform similarity") —
    the augmentation Ko et al. 2015 call "tempo perturbation",
    complementing speed_perturb (which shifts pitch and tempo
    together). rate 1.25 = 25% faster, same pitch.

    Mechanics: periodic-Hann frames overlap-added at a fixed
    synthesis hop N/2 (exact COLA), analysis positions advance at
    hop·rate, and each frame is chosen within ±tol of its nominal
    analysis position to maximize cross-correlation with the natural
    continuation of the previously chosen frame — waveform-similar
    joins preserve local periodicity, hence pitch. Pure numpy,
    deterministic. Clips shorter than two frames pass through
    unchanged (nothing to align)."""
    if rate <= 0:
        raise ValueError(f"stretch rate must be positive, got {rate}")
    x = np.asarray(pcm, dtype=np.float32)
    n = x.shape[0]
    N = max(int(sr * frame_ms / 1000.0) & ~1, 4)
    if rate == 1.0 or n < 2 * N:
        return x.copy()
    hop = N // 2
    tol = max(int(sr * tol_ms / 1000.0), 1)
    # periodic Hann: exact constant-overlap-add at 50% hop
    w = (0.5 - 0.5 * np.cos(2.0 * np.pi * np.arange(N) / N)).astype(np.float32)

    n_frames = int((n - N - tol) / (hop * rate)) + 1
    if n_frames < 2:
        return x.copy()
    out_len = (n_frames - 1) * hop + N
    out = np.zeros(out_len, np.float32)
    wsum = np.zeros(out_len, np.float32)

    pos = 0
    out[0:N] += x[0:N] * w
    wsum[0:N] += w
    for k in range(1, n_frames):
        p = int(round(k * hop * rate))
        nat = x[pos + hop : pos + hop + N]  # natural continuation
        lo = max(0, p - tol)
        hi = min(n - N, p + tol)
        if hi <= lo or nat.shape[0] < N:
            best = min(max(p, 0), n - N)
        else:
            corr = np.correlate(x[lo : hi + N], nat, mode="valid")
            best = lo + int(np.argmax(corr))
        out[k * hop : k * hop + N] += x[best : best + N] * w
        wsum[k * hop : k * hop + N] += w
        pos = best
    return out / np.maximum(wsum, 1e-6)


def mix_noise(pcm: np.ndarray, snr_db: float, rng: np.random.Generator) -> np.ndarray:
    """Add white noise at `snr_db` relative to the clip's RMS; output
    clipped to [-1, 1]. Silent clips (rms 0) pass through unchanged —
    there is no signal level to define the SNR against."""
    n = pcm.shape[0]
    if n == 0:
        return pcm
    rms = float(np.sqrt(float(np.dot(pcm, pcm)) / n))
    if rms <= 0.0:
        return pcm
    noise_rms = rms / (10.0 ** (snr_db / 20.0))
    noise = rng.normal(0.0, noise_rms, size=n).astype(np.float32)
    return np.clip(pcm + noise, -1.0, 1.0)


def _augment_signal(
    pcm: np.ndarray, sr: int, clip_id: str, mode: str, factor: float, snr_db: float, seed: int
) -> dict:
    if mode == "speed":
        out = speed_perturb(pcm, sr, factor)
    elif mode == "tempo":
        out = time_stretch(pcm, sr, factor)
    else:
        rng = np.random.default_rng([seed, _stable_row_key(clip_id)])
        out = mix_noise(pcm, snr_db, rng)
    return {
        **_rewritten(out, sr),
        "n_samples": out.shape[0],
        "dur_ms": int(round(out.shape[0] * 1000.0 / sr)),
    }


def _augment(clips, mode: str, factor: float, snr_db: float, seed: int):
    fn = partial(_augment_signal, mode=mode, factor=factor, snr_db=snr_db, seed=seed)
    return signal_pass(clips, fn, AUGMENT_FIELDS, "augment_ok", extra=("clip_id",))


def augment_speed(clips, factor: float = 1.1):
    """clips → same rows with `bytes` speed-perturbed by `factor` and
    re-encoded pcm_s16le; dur_ms/n_samples updated (≈ old/factor).
    Corrupt rows degrade to augment_ok=false with null payload."""
    if factor <= 0:
        raise ValueError(f"speed factor must be positive, got {factor}")
    return _augment(clips, "speed", factor, 0.0, 0)


def augment_tempo(clips, rate: float = 1.1):
    """clips → same rows time-stretched by WSOLA: duration scales by
    ≈1/rate with PITCH PRESERVED (speed_perturb shifts both). Same
    execution contract: one mapInArrow pass, bytes consumed in-stage,
    re-encoded pcm_s16le, corrupt rows degrade to augment_ok=false."""
    if rate <= 0:
        raise ValueError(f"stretch rate must be positive, got {rate}")
    return _augment(clips, "tempo", rate, 0.0, 0)


def augment_noise(clips, snr_db: float = 20.0, seed: int = 0):
    """clips → same rows with deterministic white noise mixed at
    `snr_db` vs each clip's RMS, re-encoded pcm_s16le. The noise is a
    pure function of (seed, clip_id) — retries, repartitioning and
    cluster size cannot change the augmented corpus."""
    return _augment(clips, "noise", 1.0, snr_db, seed)
