"""Per-clip speech/music discrimination signals.

A speech corpus wants to DROP music (and music-over-speech) clips
before training; the classic discriminator features are public
(Scheirer & Slaney 1997, "Construction and corroboration of a robust
multifeature speech/music discriminator"):

- ``mod_ratio_2_8hz``: fraction of the energy-envelope modulation
  spectrum in the 2-8 Hz band. Speech is amplitude-modulated at the
  syllabic rate (~4 Hz); sustained music concentrates its envelope
  energy below 2 Hz (tremolo, phrasing) or spreads it flat.
- ``low_energy_frac``: fraction of 20 ms frames whose RMS is below
  half the clip's mean RMS. Speech breathes — inter-word dips and
  pauses put 15-50% of frames in the tail; sustained music holds
  level (near 0%).
- ``spectral_flux``: mean L2 distance between consecutive L2-
  normalized magnitude spectra. Speech alternates voiced/unvoiced/
  silent frames (high flux); steady harmonic music moves slowly.

``music_like`` combines the two envelope features (flux is reported
for downstream rules but not gated — it separates less cleanly on
narrow-band material): a clip is music-like when its envelope is
NOT syllabically modulated AND has (almost) no low-energy frames.

Edge conventions (deterministic, pytest-gated): clips shorter than
``MUS_MIN_FRAMES`` frames or digitally silent report
``music_ok=false`` — too little evidence either way; the keep/drop
layer treats no-evidence as not-music (never drops on a feature it
could not measure).

Execution contract is the profile/snr one: one ``mapInArrow`` pass
over the scan, zero-copy Arrow buffers, ``bytes`` never leaves the
stage — only four scalars per clip shuffle.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from bdqc_spark.functions.audio import signal_pass

MUS_FRAME_MS = 20
MUS_MIN_FRAMES = 75  # >= 1.5 s of evidence at 20 ms frames: below that
# the envelope FFT's bin width (> 0.67 Hz) lets sub-2 Hz tremolo leak
# into the 2-8 Hz band and sustained music reads as modulated
MOD_BAND_HZ = (2.0, 8.0)
LOW_ENERGY_FACTOR = 0.5
# gates calibrated on the synthesized fixtures (tests/test_music.py):
# syllabic speech reads mod_ratio 0.5-0.9 / low_energy 0.2-0.6;
# sustained chords read mod_ratio < 0.2 / low_energy ~0
MOD_RATIO_MIN = 0.35
LOW_ENERGY_MIN = 0.10
_RMS_SILENT = 1e-4
_EPS = 1e-12


def music_stats(pcm: np.ndarray, sr: int) -> dict | None:
    """{'mod_ratio_2_8hz', 'low_energy_frac', 'spectral_flux',
    'music_like'} or None (too short / silent / bad inputs)."""
    n = pcm.shape[0]
    if n == 0 or sr <= 0:
        return None
    w = max(int(sr * MUS_FRAME_MS) // 1000, 1)
    nf = n // w
    if nf < MUS_MIN_FRAMES:
        return None
    x = pcm[: nf * w].reshape(nf, w).astype(np.float64)
    rms = np.sqrt(np.einsum("ij,ij->i", x, x) / w)
    mean_rms = float(rms.mean())
    if float(rms.max()) < _RMS_SILENT:
        return None  # silent: no discrimination evidence
    low_energy = float(np.mean(rms < LOW_ENERGY_FACTOR * mean_rms))

    # modulation spectrum of the (windowed, detrended) envelope;
    # envelope sample rate = 1000 / MUS_FRAME_MS Hz
    env = (rms - mean_rms) * np.hanning(nf)
    spec = np.abs(np.fft.rfft(env)) ** 2
    freqs = np.fft.rfftfreq(nf, d=MUS_FRAME_MS / 1000.0)
    total = float(spec[1:].sum())  # exclude DC
    band = float(spec[(freqs >= MOD_BAND_HZ[0]) & (freqs <= MOD_BAND_HZ[1])].sum())
    mod_ratio = band / total if total > _EPS else 0.0

    # frame-to-frame spectral flux on L2-normalized magnitudes
    mag = np.abs(np.fft.rfft(x * np.hanning(w), axis=1))
    mag /= np.linalg.norm(mag, axis=1, keepdims=True) + _EPS
    flux = float(np.mean(np.linalg.norm(np.diff(mag, axis=0), axis=1)))

    return {
        "mod_ratio_2_8hz": mod_ratio,
        "low_energy_frac": low_energy,
        "spectral_flux": flux,
        "music_like": bool(mod_ratio < MOD_RATIO_MIN and low_energy < LOW_ENERGY_MIN),
    }


_MUSIC_FIELDS = (
    ("music_ok", pa.bool_(), False),
    ("mod_ratio_2_8hz", pa.float64(), np.nan),
    ("low_energy_frac", pa.float64(), np.nan),
    ("spectral_flux", pa.float64(), np.nan),
    ("music_like", pa.bool_(), False),
)


def clip_music(clips):
    """clips(bytes, codec, sr_hz, …) → per-clip speech/music signals.
    Same execution contract as the profile stage (module docstring)."""
    return signal_pass(clips, music_stats, _MUSIC_FIELDS, "music_ok")
