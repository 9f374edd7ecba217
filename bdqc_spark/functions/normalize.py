"""Loudness normalization + silence trimming — the two standard
rewrite passes a speech training corpus runs before featurization.

- `clip_normalize`: BS.1770 gated-loudness gain normalization to a
  target LUFS (EBU R128 convention, default −23 LUFS) with a peak
  ceiling guard: if the required gain would push the sample peak past
  the ceiling the gain is reduced so the peak lands exactly on it
  ("normalize but never clip" — `limited=true` records the
  compromise). Pure linear gain — no dynamics processing, so the
  waveform shape (and every downstream spectral feature) is preserved
  up to a scalar.
- `clip_trim_silence`: strips leading/trailing non-speech using the
  SAME energy-gate VAD convention as the profile stage
  (functions/audio.py VAD_FRAME_MS/VAD_RMS_MIN, non-overlapping
  frames, frame energy vs thr²·w) so "what the profiler calls
  silence" and "what the trimmer removes" can never drift apart. A
  configurable pad keeps natural attack/decay around the speech.

Execution contract matches functions/augment.py: one mapInArrow pass
over (clip_id, bytes, sr_hz, codec, ...), bytes decoded zero-copy
from the Arrow buffers, rewritten payload re-encoded as pcm_s16le,
corrupt/undecodable rows degrade to ok=false with a null payload.
Only scalars ever shuffle. Reference parity: the reference's QC
pipeline profiles and flags (SURVEY.md §2 A6/A11); these are the
corresponding REPAIR passes a Spark-first pipeline adds so flagged
clips can be fixed in place rather than only dropped.
"""

from __future__ import annotations

from functools import partial

import numpy as np
import pyarrow as pa

from bdqc_spark.functions.audio import (
    _REWRITE_FIELDS,
    VAD_FRAME_MS,
    VAD_RMS_MIN,
    _rewritten,
    signal_pass,
)
from bdqc_spark.functions.loudness import integrated_lufs

TARGET_LUFS_DEFAULT = -23.0  # EBU R128 programme loudness target
PEAK_CEIL_DBFS = -1.0        # never push sample peak above this


def normalize_gain(
    pcm: np.ndarray, sr: int, target_lufs: float = TARGET_LUFS_DEFAULT
) -> tuple[np.ndarray, float, float, bool]:
    """→ (out_pcm, lufs_before, gain_db_applied, limited).

    Digital silence (integrated loudness −inf) passes through with
    zero gain — there is no loudness to normalize against."""
    lufs = integrated_lufs(pcm, sr)
    if not np.isfinite(lufs):
        return pcm, lufs, 0.0, False
    gain_db = target_lufs - lufs
    g = 10.0 ** (gain_db / 20.0)
    peak = float(np.max(np.abs(pcm), initial=0.0))
    ceil = 10.0 ** (PEAK_CEIL_DBFS / 20.0)
    limited = False
    if peak * g > ceil:
        g = ceil / peak
        gain_db = 20.0 * float(np.log10(g))
        limited = True
    return (pcm * np.float32(g)).astype(np.float32), lufs, gain_db, limited


def trim_silence(
    pcm: np.ndarray, sr: int, pad_ms: int = 100
) -> tuple[np.ndarray, int, int]:
    """→ (trimmed_pcm, lead_trim_ms, trail_trim_ms).

    Frames exactly like speech_ratio (non-overlapping VAD_FRAME_MS
    windows, energy ≥ thr²·w = active); trims everything before the
    first / after the last active frame, minus `pad_ms` of context.
    An all-silent clip returns empty (the caller decides whether
    that's a drop); a clip shorter than one frame passes through."""
    n = pcm.shape[0]
    if n == 0 or sr <= 0:
        return pcm, 0, 0
    w = max(int(sr * VAD_FRAME_MS) // 1000, 1)
    nf = n // w
    if nf == 0:
        return pcm, 0, 0
    x = pcm[: nf * w].reshape(nf, w)
    e = np.einsum("ij,ij->i", x, x, optimize=False)
    thr_e = np.float32(VAD_RMS_MIN * VAD_RMS_MIN * w)
    active = np.flatnonzero(e >= thr_e)
    if active.size == 0:
        return pcm[:0], int(round(n * 1000.0 / sr)), 0
    pad = int(sr * pad_ms) // 1000
    start = max(int(active[0]) * w - pad, 0)
    # the tail partial frame (< w samples) is never VAD-framed; keep it
    # only if the last full frame is active (it is that frame's decay)
    stop_frame_end = (int(active[-1]) + 1) * w
    stop = n if active[-1] == nf - 1 else min(stop_frame_end + pad, n)
    lead_ms = int(round(start * 1000.0 / sr))
    trail_ms = int(round((n - stop) * 1000.0 / sr))
    return pcm[start:stop], lead_ms, trail_ms


NORMALIZE_FIELDS = _REWRITE_FIELDS + (
    ("norm_ok", pa.bool_(), False),
    ("lufs_before", pa.float64(), np.nan),
    ("lufs_after", pa.float64(), np.nan),
    ("gain_db", pa.float64(), np.nan),
    ("limited", pa.bool_(), False),
)
TRIM_FIELDS = _REWRITE_FIELDS + (
    ("trim_ok", pa.bool_(), False),
    ("lead_trim_ms", pa.int32(), 0),
    ("trail_trim_ms", pa.int32(), 0),
    ("dur_ms_after", pa.int32(), 0),
)


def _normalize_signal(pcm: np.ndarray, sr: int, target_lufs: float) -> dict:
    out, lufs0, gain_db, limited = normalize_gain(pcm, sr, target_lufs)
    return {
        **_rewritten(out, sr),
        "lufs_before": lufs0,
        "lufs_after": integrated_lufs(out, sr),
        "gain_db": gain_db,
        "limited": limited,
    }


def _trim_signal(pcm: np.ndarray, sr: int, pad_ms: int) -> dict:
    out, lead, trail = trim_silence(pcm, sr, pad_ms)
    return {
        **_rewritten(out, sr),
        "lead_trim_ms": lead,
        "trail_trim_ms": trail,
        "dur_ms_after": int(round(out.shape[0] * 1000.0 / sr)),
    }


def clip_normalize(clips, target_lufs: float = TARGET_LUFS_DEFAULT):
    """clips(clip_id, bytes, sr_hz, codec, ...) → same rows with
    loudness-normalized pcm_s16le payloads + the gain audit trail."""
    return signal_pass(
        clips,
        partial(_normalize_signal, target_lufs=target_lufs),
        NORMALIZE_FIELDS,
        "norm_ok",
        drop=("dur_ms",),
    )


def clip_trim_silence(clips, pad_ms: int = 100):
    """clips(clip_id, bytes, sr_hz, codec, ...) → same rows with
    leading/trailing silence removed (VAD-gated, padded)."""
    return signal_pass(
        clips, partial(_trim_signal, pad_ms=pad_ms), TRIM_FIELDS, "trim_ok", drop=("dur_ms",)
    )
