"""Per-clip SNR estimation from VAD-gated frame energies.

The quality-filter signal a speech corpus needs most after loudness:
how far the speech sits above the recording's noise floor. Method
(public, the classic energy-VAD estimator): frame the clip with the
same 20 ms window / RMS gate the pipeline's VAD uses
(``audio.speech_ratio``), take the noise power from the INACTIVE
frames (pauses), the speech+noise power from the ACTIVE frames, and

    snr_db = 10·log10((P_active − P_noise) / P_noise)

Conventions at the edges (all deterministic, all pytest-gated):
- no frames at all (clip shorter than one frame) → no estimate
  (``snr_ok=false``) — too little evidence either way;
- no ACTIVE frames (all-noise clip) → ``snr_ok=true, snr_db=0.0``:
  the clip IS its own noise floor, and 0 dB is what a downstream
  low-SNR rule should see;
- no INACTIVE frames (wall-to-wall speech/tone): the noise floor is
  proxied by the QUIETEST frame — biased high (reports a LOWER
  bound on SNR), which is the conservative direction for a
  keep/drop filter;
- digitally silent pauses (noise power ≈ 0) → capped at +99 dB;
  negative signal estimate (active quieter than pauses) → 0 dB.

Execution contract is the profile/loudness one: one ``mapInArrow``
pass over the scan, zero-copy Arrow buffers, ``bytes`` never leaves
the stage — at 100 TB the payload column is consumed map-side and
only four scalars shuffle.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from bdqc_spark.functions.audio import VAD_FRAME_MS, VAD_RMS_MIN, signal_pass

SNR_CAP_DB = 99.0
_EPS = 1e-12


def snr_stats(pcm: np.ndarray, sr: int) -> dict | None:
    """{'snr_db', 'noise_dbfs', 'active_frac'} or None (no estimate:
    clip shorter than one VAD frame or bad inputs)."""
    n = pcm.shape[0]
    if n == 0 or sr <= 0:
        return None
    w = max(int(sr * VAD_FRAME_MS) // 1000, 1)
    nf = n // w
    if nf == 0:
        return None
    x = pcm[: nf * w].reshape(nf, w)
    e = np.einsum("ij,ij->i", x, x, optimize=False).astype(np.float64) / w
    thr = float(VAD_RMS_MIN) ** 2
    active = e >= thr
    n_act = int(np.count_nonzero(active))
    if n_act == 0:
        noise_pow = float(e.mean())
        return {
            "snr_db": 0.0,
            "noise_dbfs": 10.0 * np.log10(max(noise_pow, _EPS)),
            "active_frac": 0.0,
        }
    if n_act < nf:
        noise_pow = float(e[~active].mean())
    else:
        noise_pow = float(e.min())  # lower-bound proxy: no pauses seen
    act_pow = float(e[active].mean())
    sig_pow = act_pow - noise_pow
    if noise_pow < _EPS:
        snr = SNR_CAP_DB
    elif sig_pow <= 0.0:
        snr = 0.0
    else:
        # clamp to [0, cap]: when pauses exist, active ≥ gate > noise
        # guarantees a positive margin; the no-pause proxy branch can
        # put min(e) ≈ mean(e) (steady tone), where "0 dB" — no
        # measurable margin — is the honest report
        snr = min(max(10.0 * np.log10(sig_pow / noise_pow), 0.0), SNR_CAP_DB)
    return {
        "snr_db": snr,
        "noise_dbfs": 10.0 * np.log10(max(noise_pow, _EPS)),
        "active_frac": n_act / nf,
    }


_SNR_FIELDS = (
    ("snr_ok", pa.bool_(), False),
    ("snr_db", pa.float64(), np.nan),
    ("noise_dbfs", pa.float64(), np.nan),
    ("active_frac", pa.float64(), np.nan),
)


def clip_snr(clips):
    """clips(bytes, codec, sr_hz, …) → per-clip SNR signals. Same
    execution contract as the profile stage (see module docstring)."""
    return signal_pass(clips, snr_stats, _SNR_FIELDS, "snr_ok")
