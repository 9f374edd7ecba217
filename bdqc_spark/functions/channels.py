"""Channel-balance / phase QC for multi-channel WAV clips.

The downmix trap this catches: the whole profile path (by design)
downmixes multi-channel audio to mono via the per-frame channel
mean. A stereo pair whose channels are PHASE-INVERTED (L = -R — a
miswired cable, a broken mid/side decode, a bad stem export) cancels
DESTRUCTIVELY in that mean: the profiler sees silence and the rules
drop a perfectly good clip with no explanation. This operator reads
the channels separately and reports why:

- per-channel RMS + balance_db (dead / one-sided channels),
- lr_corr: Pearson correlation of L against R — ≈+1 dual-mono,
  ≈0 true stereo, ≈−1 phase-inverted,
- phase_inverted: lr_corr < −0.9,
- downmix_loss_db: RMS of the mono mean vs the mean per-channel RMS —
  the measured damage the default downmix would do (≈0 dB dual-mono,
  ≈3 dB uncorrelated stereo, → cancellation for inverted pairs).

Execution contract identical to the other audio ops: ONE mapInArrow
pass, zero-copy payload reads, bytes consumed inside the stage,
corrupt rows degrade to chan_ok=false. Mono clips (and non-WAV
codecs, which are mono by construction in this engine) report
channels=1 with the stereo fields null.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from bdqc_spark.functions.audio import _decode_wav, decode_arrow_slice, signal_pass

CHANNEL_FIELDS = (
    ("chan_ok", pa.bool_(), False),
    ("channels", pa.int32(), None),
    ("rms_l", pa.float64(), None),
    ("rms_r", pa.float64(), None),
    ("balance_db", pa.float64(), None),
    ("lr_corr", pa.float64(), None),
    ("phase_inverted", pa.bool_(), None),
    ("downmix_loss_db", pa.float64(), None),
)

_EPS = 1e-12


def channel_stats(x: np.ndarray) -> dict:
    """(n_frames, channels) float32 → the QC dict. Stereo fields are
    computed over the first two channels; None where undefined (mono,
    or a silent channel making the ratio/correlation meaningless)."""
    n, ch = x.shape
    out = {
        "channels": int(ch),
        "rms_l": None,
        "rms_r": None,
        "balance_db": None,
        "lr_corr": None,
        "phase_inverted": None,
        "downmix_loss_db": None,
    }
    if n == 0:
        return out
    if ch == 1:
        out["rms_l"] = float(np.sqrt(np.mean(x[:, 0].astype(np.float64) ** 2)))
        return out
    left = x[:, 0].astype(np.float64)
    right = x[:, 1].astype(np.float64)
    rms_l = float(np.sqrt(np.mean(left**2)))
    rms_r = float(np.sqrt(np.mean(right**2)))
    out["rms_l"], out["rms_r"] = rms_l, rms_r
    if rms_l > _EPS and rms_r > _EPS:
        out["balance_db"] = float(20.0 * np.log10(rms_l / rms_r))
        lc = left - left.mean()
        rc = right - right.mean()
        denom = float(np.sqrt(np.dot(lc, lc) * np.dot(rc, rc)))
        if denom > _EPS:
            corr = float(np.dot(lc, rc) / denom)
            out["lr_corr"] = corr
            out["phase_inverted"] = bool(corr < -0.9)
    mono = x.astype(np.float64).mean(axis=1)
    rms_mono = float(np.sqrt(np.mean(mono**2)))
    rms_avg = float(np.mean(np.sqrt(np.mean(x.astype(np.float64) ** 2, axis=0))))
    if rms_avg > _EPS:
        # positive = the default downmix LOSES this many dB
        out["downmix_loss_db"] = float(
            -20.0 * np.log10(max(rms_mono, _EPS) / rms_avg)
        )
    return out


def _decode_channels(data: np.ndarray, start: int, end: int, codec: str) -> np.ndarray:
    """(n_frames, channels) float32 samples, channels kept apart."""
    if codec == "wav":
        return _decode_wav(data, start, end, downmix=False)
    if codec == "flac":  # may be stereo too
        from bdqc_spark.functions.flac import flac_decode_channels_i16

        xi, _sr = flac_decode_channels_i16(bytes(data[start:end]))
        return xi.astype(np.float32) / np.float32(32767.0)
    # the remaining codecs are raw mono payloads
    return decode_arrow_slice(data, start, end, codec).reshape(-1, 1)


def _channel_signal(x: np.ndarray, sr: int | None) -> dict:
    return channel_stats(x)


def clips_channel_stats(clips):
    """clips (clip_id, bytes, codec, ...) → per-clip channel QC."""
    return signal_pass(
        clips.select("clip_id", "bytes", "codec"),
        _channel_signal,
        CHANNEL_FIELDS,
        "chan_ok",
        drop=("codec",),
        need_sr=False,
        decode=_decode_channels,
    )
