"""Sample-rate normalization — the standard prep step before feature
extraction / model training on a mixed-rate corpus (the synthetic
clips table carries 8 k/16 k/22.05 k/44.1 k, the 10^12-clip corpus
would too).

bdqc has no DSP; this is engine-surface growth in the spirit of its
Binary signature (lib/BDQC/FileSignature/Binary.pm, reconstructed):
a deterministic per-clip transform of the opaque binary column.

DSP: windowed-sinc anti-alias low-pass (Hamming, 63 taps) applied
only when downsampling, then linear interpolation onto the target
grid. All-numpy; per-clip work is vectorized C (one convolve + one
gather per clip), no per-row Python objects.

Execution contract (same as profile/feature stages): ONE mapInArrow
pass, payload bytes read as zero-copy views of the Arrow value
buffer, `bytes` consumed inside the stage; the output carries the
re-encoded pcm_s16le payload so downstream stages see a
single-codec, single-rate corpus.
"""

from __future__ import annotations

from functools import partial

import numpy as np
import pyarrow as pa

from bdqc_spark.functions.audio import _REWRITE_FIELDS, _rewritten, signal_pass

RESAMPLE_FIELDS = _REWRITE_FIELDS + (
    ("resample_ok", pa.bool_(), False),
    ("n_samples", pa.int32(), 0),
    ("src_sr", pa.int32(), 0),
)

_AA_TAPS = 63  # odd → integer group delay, 'same' convolution is centered


def _aa_kernel(sr_in: int, sr_out: int) -> np.ndarray:
    """Hamming-windowed sinc low-pass at 0.45 × the target Nyquist
    (in units of the *input* rate) — suppresses spectra that would
    alias when decimating sr_in → sr_out."""
    fc = 0.45 * (sr_out / sr_in)  # normalized cutoff (fraction of sr_in/2 → of sr_in)
    m = np.arange(_AA_TAPS) - (_AA_TAPS - 1) / 2
    h = 2.0 * fc * np.sinc(2.0 * fc * m)
    h *= np.hamming(_AA_TAPS)
    return (h / h.sum()).astype(np.float32)


def resample_linear(pcm: np.ndarray, sr_in: int, sr_out: int) -> np.ndarray:
    """float32 PCM at sr_in → float32 PCM at sr_out. Identity when
    rates match; anti-alias filtered before decimation."""
    if sr_in == sr_out:
        return pcm
    n = pcm.shape[0]
    if n == 0:
        return pcm
    if sr_out < sr_in:
        pcm = np.convolve(pcm, _aa_kernel(sr_in, sr_out), mode="same").astype(
            np.float32, copy=False
        )
    m = max(int(round(n * sr_out / sr_in)), 1)
    pos = np.arange(m, dtype=np.float64) * (sr_in / sr_out)
    i0 = np.minimum(pos.astype(np.int64), n - 1)
    i1 = np.minimum(i0 + 1, n - 1)
    frac = (pos - i0).astype(np.float32)
    return pcm[i0] * (np.float32(1.0) - frac) + pcm[i1] * frac


def _resample_signal(pcm: np.ndarray, sr: int, target_sr: int) -> dict:
    out = resample_linear(pcm, sr, target_sr)
    return {**_rewritten(out, target_sr), "n_samples": out.shape[0], "src_sr": sr}


def resample_clips(clips, target_sr: int = 16000):
    """clips(clip_id, bytes, sr_hz, codec [, ...]) → same rows with
    `bytes` re-encoded as pcm_s16le at target_sr (resample_ok=false
    rows keep null bytes/codec — corrupt inputs degrade, not crash).
    Passthrough columns preserved; the output composes directly with
    profile_clips / extract_audio_features."""
    return signal_pass(
        clips, partial(_resample_signal, target_sr=target_sr), RESAMPLE_FIELDS, "resample_ok"
    )
