"""Audio feature extraction — framed log-mel summary per clip.

The multimodal contract (functions/multimodal.py) stubs image/video
decoding behind the sandbox's missing codec libs; AUDIO is the fully
real modality, so its feature-extract step is fully real too: frame
the decoded PCM (25 ms window / 10 ms hop, Hann), power rFFT, mel
filterbank (HTK mel scale, the standard public formula), log — then
summarize per clip (per-band mean/std + spectral centroid / rolloff
/ flatness) so the output is fixed-width feature columns a training
pipeline can join, filter and model on, not an unbounded spectrogram
blob.

Execution shape: identical to the profile stage — one `mapInArrow`
pass, zero-copy numpy views over the Arrow binary buffers, `bytes`
consumed map-side and never emitted. Per clip the heavy work is ONE
strided framing + ONE batched rFFT + one matmul against the (tiny,
module-cached) mel filterbank; no per-sample Python.
"""

from __future__ import annotations

from functools import lru_cache

import numpy as np
import pyarrow as pa

from bdqc_spark.functions.audio import signal_pass

N_MELS = 24
N_MFCC = 13
WIN_MS = 25.0
HOP_MS = 10.0

AUDIO_FEATURES_FIELDS = (
    ("feat_ok", pa.bool_(), False),
    ("n_frames", pa.int32(), 0),
    ("n_mels", pa.int32(), 0),
    ("mel_mean", pa.list_(pa.float32()), None),
    ("mel_std", pa.list_(pa.float32()), None),
    ("mfcc_mean", pa.list_(pa.float32()), None),
    ("mfcc_std", pa.list_(pa.float32()), None),
    ("spectral_centroid", pa.float64(), 0.0),
    ("spectral_rolloff", pa.float64(), 0.0),
    ("spectral_flatness", pa.float64(), 0.0),
)


def _hz_to_mel(f):
    return 2595.0 * np.log10(1.0 + np.asarray(f, dtype=np.float64) / 700.0)


def _mel_to_hz(m):
    return 700.0 * (10.0 ** (np.asarray(m, dtype=np.float64) / 2595.0) - 1.0)


@lru_cache(maxsize=16)
def mel_filterbank(sr: int, n_fft: int, n_mels: int = N_MELS) -> np.ndarray:
    """(n_mels, n_fft//2 + 1) triangular filters on the HTK mel scale,
    0 Hz .. sr/2. Deterministic; cached per (sr, n_fft)."""
    n_bins = n_fft // 2 + 1
    fft_hz = np.linspace(0.0, sr / 2.0, n_bins)
    mel_pts = _mel_to_hz(np.linspace(_hz_to_mel(0.0), _hz_to_mel(sr / 2.0), n_mels + 2))
    fb = np.zeros((n_mels, n_bins), dtype=np.float64)
    for m in range(n_mels):
        lo, ctr, hi = mel_pts[m], mel_pts[m + 1], mel_pts[m + 2]
        up = (fft_hz - lo) / max(ctr - lo, 1e-9)
        down = (hi - fft_hz) / max(hi - ctr, 1e-9)
        fb[m] = np.clip(np.minimum(up, down), 0.0, None)
    return fb


@lru_cache(maxsize=16)
def _hann(n: int) -> np.ndarray:
    return np.hanning(n).astype(np.float64)


@lru_cache(maxsize=8)
def dct_matrix(n_in: int, n_out: int) -> np.ndarray:
    """(n_out, n_in) orthonormal DCT-II basis (the MFCC transform —
    Davis & Mermelstein 1980): D[k,n] = s_k·sqrt(2/N)·cos(π/N·(n+½)·k),
    s_0 = 1/sqrt(2). Orthonormal so a round trip through the full
    basis is the identity (pytest-gated)."""
    n = np.arange(n_in)
    k = np.arange(n_out)[:, None]
    d = np.sqrt(2.0 / n_in) * np.cos(np.pi / n_in * (n + 0.5) * k)
    d[0] /= np.sqrt(2.0)
    return d


def clip_features(pcm: np.ndarray, sr: int, n_mels: int = N_MELS) -> dict | None:
    """One clip's framed log-mel summary; None if too short to frame."""
    win = max(int(round(sr * WIN_MS / 1000.0)), 2)
    hop = max(int(round(sr * HOP_MS / 1000.0)), 1)
    if pcm.shape[0] < win:
        return None
    n_frames = 1 + (pcm.shape[0] - win) // hop
    # strided framing: (n_frames, win) view, no copy
    frames = np.lib.stride_tricks.as_strided(
        np.ascontiguousarray(pcm, dtype=np.float64),
        shape=(n_frames, win),
        strides=(hop * 8, 8),
    )
    spec = np.abs(np.fft.rfft(frames * _hann(win), axis=1)) ** 2  # (n_frames, bins)
    fb = mel_filterbank(int(sr), win, n_mels)
    logmel = np.log(spec @ fb.T + 1e-10)  # (n_frames, n_mels)

    n_bins = spec.shape[1]
    fft_hz = np.linspace(0.0, sr / 2.0, n_bins)
    energy = spec.sum(axis=1) + 1e-20
    centroid = float(((spec @ fft_hz) / energy).mean())
    cum = np.cumsum(spec, axis=1)
    roll_idx = np.argmax(cum >= 0.85 * energy[:, None], axis=1)
    rolloff = float(fft_hz[roll_idx].mean())
    flatness = float(
        (np.exp(np.log(spec + 1e-20).mean(axis=1)) / (spec.mean(axis=1) + 1e-20)).mean()
    )
    mfcc = logmel @ dct_matrix(n_mels, N_MFCC).T  # (n_frames, n_mfcc)
    return {
        "n_frames": n_frames,
        "mel_mean": logmel.mean(axis=0).astype(np.float32),
        "mel_std": logmel.std(axis=0).astype(np.float32),
        "mfcc_mean": mfcc.mean(axis=0).astype(np.float32),
        "mfcc_std": mfcc.std(axis=0).astype(np.float32),
        "spectral_centroid": centroid,
        "spectral_rolloff": rolloff,
        "spectral_flatness": flatness,
    }


def _features_signal(pcm: np.ndarray, sr: int) -> dict | None:
    feats = clip_features(pcm, sr)
    return None if feats is None else {**feats, "n_mels": N_MELS}


def extract_audio_features(clips):
    """clips(clip_id, bytes, sr_hz, codec [, ...]) → per-clip feature
    rows; passthrough columns preserved, `bytes` never leaves the
    stage (same contract as profile_clips)."""
    return signal_pass(clips, _features_signal, AUDIO_FEATURES_FIELDS, "feat_ok")
