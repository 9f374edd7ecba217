"""Per-clip digital-clipping and dynamics signals.

The remaining first-order audio-hygiene checks a speech corpus wants
before training on a clip (all public, textbook DSP):

- ``clipped_frac``: fraction of samples at/above full scale
  (|x| ≥ 32766/32767 — one LSB below int16 full scale, so both the
  +32767 rail and the asymmetric −32768 rail count, and float-origin
  audio saturated at ±1.0 does too);
- ``max_clip_run``: the longest consecutive run of clipped samples —
  distinguishes a single transient touching the rail (harmless) from
  flat-topped waveforms (audible distortion, decode/gain bugs);
- ``crest_db``: 20·log10(peak/RMS). A sine sits at 3.01 dB, speech
  at 10-20 dB; values near 0 dB mean square-wave/hyper-compressed or
  clipped material, implausibly high values mean a single pop in
  near-silence;
- ``dc_offset``: mean sample value — a miswired decode or bad ADC
  leaves a constant bias that wastes headroom and breaks later
  filters;
- ``n_dropouts`` / ``max_dropout_ms`` / ``dropout_frac``: digital
  dropouts — INTERNAL runs of exact-zero samples ≥ DROPOUT_MIN_MS
  inside otherwise-active audio (buffer underruns, splices);
  leading/trailing silence and all-silent clips are excluded by
  construction (those belong to trim/silence rules).

Execution contract is the profile/snr/denoise one: one ``mapInArrow``
pass over the scan, zero-copy Arrow buffers, ``bytes`` consumed
map-side — only four scalars shuffle. No SQL twin exists for the
decode, so the registry entry is rows-only; known-waveform recovery
(hard-clipped sine analytics, square/sine crest factors, run lengths)
and Spark↔numpy parity are pytest-gated in tests/test_clipping.py.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from bdqc_spark.functions.audio import signal_pass

# one LSB below int16 full scale, in the decoder's float domain
# (decode divides by 32767, so the -32768 rail lands at -1.00003)
CLIP_THR = 32766.0 / 32767.0
_EPS = 1e-12


def clipping_stats(pcm: np.ndarray) -> dict | None:
    """{'clipped_frac', 'max_clip_run', 'crest_db', 'dc_offset'} or
    None for an empty clip."""
    n = pcm.shape[0]
    if n == 0:
        return None
    x = np.asarray(pcm, dtype=np.float64)
    clipped = np.abs(x) >= CLIP_THR
    frac = float(np.count_nonzero(clipped)) / n
    if frac > 0.0:
        # longest run of True: diff of cumulative-count at run edges
        padded = np.concatenate(([False], clipped, [False]))
        edges = np.flatnonzero(padded[1:] != padded[:-1])
        max_run = int((edges[1::2] - edges[0::2]).max())
    else:
        max_run = 0
    peak = float(np.max(np.abs(x)))
    rms = float(np.sqrt(np.mean(x * x)))
    crest = 20.0 * np.log10(peak / rms) if rms > _EPS else None
    return {
        "clipped_frac": frac,
        "max_clip_run": max_run,
        "crest_db": crest,
        "dc_offset": float(x.mean()),
    }


# ---- digital dropouts (buffer underruns) ---------------------------------
# A dropout is an INTERNAL run of exact-digital-zero samples inside
# otherwise-active audio — the signature of a buffer underrun, a
# splice, or a lossy pipeline gap. Leading/trailing silence is NOT a
# dropout (that is trim_silence's domain), and an all-silent clip
# reports zero dropouts (the silent-clip rule owns it).
DROPOUT_MIN_MS = 20.0
# one half-LSB in the int16 decode domain: true digital zero only
ZERO_THR = 0.5 / 32767.0


def dropout_stats(pcm: np.ndarray, sr: int) -> dict | None:
    """{'n_dropouts', 'max_dropout_ms', 'dropout_frac'} or None for
    empty/bad inputs. dropout_frac is of the ACTIVE span (first to
    last non-zero sample)."""
    n = pcm.shape[0]
    if n == 0 or sr <= 0:
        return None
    x = np.asarray(pcm, dtype=np.float64)
    zero = np.abs(x) <= ZERO_THR
    nz = np.flatnonzero(~zero)
    if nz.size == 0:
        return {"n_dropouts": 0, "max_dropout_ms": 0.0, "dropout_frac": 0.0}
    inner = zero[nz[0] : nz[-1] + 1]
    padded = np.concatenate(([False], inner, [False]))
    edges = np.flatnonzero(padded[1:] != padded[:-1])
    lens = edges[1::2] - edges[0::2]
    min_run = max(int(sr * DROPOUT_MIN_MS / 1000.0), 1)
    drops = lens[lens >= min_run]
    total = int(drops.sum())
    return {
        "n_dropouts": int(drops.size),
        "max_dropout_ms": float(drops.max()) * 1000.0 / sr if drops.size else 0.0,
        "dropout_frac": total / inner.shape[0],
    }


_CL_FIELDS = (
    ("clip_ok", pa.bool_(), False),
    ("clipped_frac", pa.float64(), np.nan),
    ("max_clip_run", pa.int32(), 0),
    ("crest_db", pa.float64(), np.nan),
    ("dc_offset", pa.float64(), np.nan),
    ("n_dropouts", pa.int32(), 0),
    ("max_dropout_ms", pa.float64(), np.nan),
    ("dropout_frac", pa.float64(), np.nan),
)


def _clipping_signal(pcm: np.ndarray, sr: int | None) -> dict | None:
    st = clipping_stats(pcm)
    if st is None or sr is None:  # dropouts need a valid sr_hz
        return st
    return {**st, **(dropout_stats(pcm, sr) or {})}


def clip_clipping(clips):
    """clips(bytes, codec, …) → per-clip clipping/dynamics signals.
    Same execution contract as the profile stage (module docstring)."""
    return signal_pass(clips, _clipping_signal, _CL_FIELDS, "clip_ok", need_sr=False)
