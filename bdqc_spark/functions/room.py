"""Per-clip room/channel artifact signals: mains hum and reverberation.

Two recording-chain defects a speech corpus wants flagged before
training (both public, textbook audio forensics):

- **Mains hum** (``hum_db_50`` / ``hum_db_60``): narrowband energy at
  the 50 Hz / 60 Hz power-line fundamental and its first two
  harmonics, in dB above the local low-frequency spectral floor
  (median PSD over 30-300 Hz). A ground loop or unbalanced cable
  shows up as a 15-40 dB spike family; clean audio sits near 0 dB.
  The PSD is a Welch-style average of framed |rFFT|² with a window
  long enough (~0.25 s) to resolve 50 from 60 Hz.

- **Reverberation** (``rt60_est`` / ``decay_db_s``): blind decay-rate
  estimation in the Schroeder tradition — no impulse response exists
  for found audio, so the estimator measures the free decays the
  signal itself exposes: frame the energy envelope (10 ms hop), find
  sustained monotonic-decay runs after energy offsets, least-squares
  fit dB-vs-time per run, and take a low percentile of the decay
  magnitudes (the SLOWEST sustained decays are bounded below by the
  room's tail; fast ones are just the source gating off). RT60 =
  -60 / slope. Dry speech gates off at thousands of dB/s (tiny
  "RT60"); a reverberant room caps observable decays near its true
  -60/RT60 slope.

Execution contract is the profile/clipping/pitch one: one
``mapInArrow`` pass, zero-copy Arrow buffers, ``bytes`` consumed
map-side — only scalars shuffle. No SQL twin exists for the decode,
so the registry entry is rows-only; planted-artifact recovery (50 vs
60 Hz discrimination, dry/reverberant ordering, synthetic-RIR RT60
recovery) is pytest-gated in tests/test_room.py.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from bdqc_spark.functions.audio import signal_pass

_EPS = 1e-20

HUM_FUNDAMENTALS = (50.0, 60.0)
N_HARMONICS = 3  # fundamental + 2 harmonics
DECAY_MIN_FRAMES = 8  # ≥ 80 ms of sustained decay
DECAY_MIN_DB_S = 10.0  # runs shallower than this are not decays
FLOOR_LO_HZ, FLOOR_HI_HZ = 30.0, 300.0


def _welch_psd(x: np.ndarray, sr: int) -> tuple[np.ndarray, np.ndarray]:
    """Averaged periodogram with a ~0.5 s Hann window (2 Hz bins —
    the 50/60 Hz families stay disjoint under ±1-bin tolerance);
    50% overlap."""
    win = min(max(int(sr * 0.5), 64), x.shape[0])
    hop = max(win // 2, 1)
    n_frames = 1 + (x.shape[0] - win) // hop
    w = np.hanning(win)
    frames = np.lib.stride_tricks.as_strided(
        np.ascontiguousarray(x, dtype=np.float64),
        shape=(n_frames, win),
        strides=(hop * 8, 8),
    )
    psd = (np.abs(np.fft.rfft(frames * w, axis=1)) ** 2).mean(axis=0)
    freqs = np.fft.rfftfreq(win, 1.0 / sr)
    return freqs, psd


def hum_levels(pcm: np.ndarray, sr: int) -> dict | None:
    """dB of the 50/60 Hz harmonic families above the 30-300 Hz
    spectral floor; None if the clip is too short to resolve them."""
    if pcm.shape[0] < int(sr * 0.5) or pcm.shape[0] < 64:
        return None
    freqs, psd = _welch_psd(pcm, sr)
    lo = np.searchsorted(freqs, FLOOR_LO_HZ)
    hi = np.searchsorted(freqs, FLOOR_HI_HZ)
    if hi - lo < 8:
        return None
    floor = float(np.median(psd[lo:hi])) + _EPS
    out = {}
    df = freqs[1] - freqs[0]
    for f0 in HUM_FUNDAMENTALS:
        vals = []
        for h in range(1, N_HARMONICS + 1):
            target = f0 * h
            if target >= freqs[-1]:
                break
            k = int(round(target / df))
            band = psd[max(k - 1, 0) : k + 2]  # ±1 bin tolerance
            vals.append(10.0 * np.log10(float(band.max()) / floor + _EPS))
        out[f"hum_db_{int(f0)}"] = float(np.mean(vals)) if vals else None
    return out


def decay_stats(pcm: np.ndarray, sr: int) -> dict | None:
    """Blind reverberation estimate from sustained energy decays.

    Returns {'decay_db_s': slowest-quartile sustained decay rate
    (negative, dB/s), 'rt60_est': -60/decay, 'n_decays'}; None if no
    qualifying decay run exists (steady signals expose no free
    decay — callers treat that as "no evidence", not "no reverb")."""
    hop = max(int(sr * 0.010), 1)
    win = max(int(sr * 0.020), 2)
    if pcm.shape[0] < win + hop * (DECAY_MIN_FRAMES + 1):
        return None
    n_frames = 1 + (pcm.shape[0] - win) // hop
    frames = np.lib.stride_tricks.as_strided(
        np.ascontiguousarray(pcm, dtype=np.float64),
        shape=(n_frames, win),
        strides=(hop * 8, 8),
    )
    e_db = 10.0 * np.log10((frames**2).mean(axis=1) + _EPS)

    # monotonic-decay runs (tolerate 0.0 dB flats inside a run)
    falling = np.diff(e_db) < 0.0
    slopes = []
    i = 0
    t_frame = hop / sr
    while i < falling.shape[0]:
        if not falling[i]:
            i += 1
            continue
        j = i
        while j < falling.shape[0] and falling[j]:
            j += 1
        run_len = j - i + 1  # frames i..j inclusive in e_db
        if run_len >= DECAY_MIN_FRAMES:
            seg = e_db[i : j + 1]
            t = np.arange(run_len) * t_frame
            slope = float(np.polyfit(t, seg, 1)[0])  # dB/s
            if slope <= -DECAY_MIN_DB_S:
                slopes.append(slope)
        i = j + 1
    if not slopes:
        return None
    mags = np.sort(-np.asarray(slopes))  # ascending magnitude
    # slowest quartile of sustained decays ~ the room tail bound
    decay = -float(mags[: max(1, mags.shape[0] // 4)].mean())
    return {
        "decay_db_s": decay,
        "rt60_est": float(-60.0 / decay),
        "n_decays": len(slopes),
    }


def room_stats(pcm: np.ndarray, sr: int) -> dict | None:
    hum = hum_levels(pcm, sr)
    if hum is None:
        return None
    dec = decay_stats(pcm, sr) or {}
    return {
        **hum,
        "decay_db_s": dec.get("decay_db_s"),
        "rt60_est": dec.get("rt60_est"),
        "n_decays": dec.get("n_decays", 0),
    }


_ROOM_FIELDS = (
    ("room_ok", pa.bool_(), False),
    ("hum_db_50", pa.float64(), np.nan),
    ("hum_db_60", pa.float64(), np.nan),
    ("decay_db_s", pa.float64(), np.nan),
    ("rt60_est", pa.float64(), np.nan),
    ("n_decays", pa.int32(), 0),
)


def clip_room(clips):
    """clips(bytes, codec, sr_hz, …) → per-clip room/channel signals.
    Same execution contract as the profile stage (module docstring)."""
    return signal_pass(clips, room_stats, _ROOM_FIELDS, "room_ok")
