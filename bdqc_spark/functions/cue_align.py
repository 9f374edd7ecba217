"""Cross-modal cue↔speech alignment QC (timed transcript vs VAD).

The subtitle QC pass (functions/subtitles.py) checks a cue file's
STRUCTURE; this operator checks it against the AUDIO: do the cue
intervals actually cover the detected speech, and is there a constant
time offset (the classic burned-in-subtitle defect — every cue late
by the same lag)? For an audio+transcript training corpus this is
the strongest cheap signal that a timed transcript belongs to its
clip at all.

Method (all from parts the engine already freezes):
- speech mask: the pipeline's own energy VAD (audio.VAD_FRAME_MS /
  VAD_RMS_MIN — same constants as speech_ratio, so no drift between
  this signal and the keep/drop rule);
- cue mask: a frame is cued iff its midpoint falls inside any parsed
  cue (SRT or WebVTT, sniffed by header);
- precision = |cue ∩ speech| / |cue|, recall = |cue ∩ speech| /
  |speech| at lag 0;
- offset: the lag in ±max_shift_ms (20 ms steps) maximizing mask
  overlap — positive = cues LATE relative to the audio; precision/
  recall are re-reported at the best lag, so a constant-offset file
  shows (low raw, high aligned, offset≈lag) while a wrong-transcript
  file shows low everywhere.

Execution contract matches clip_snr: one ``mapInArrow`` pass,
zero-copy Arrow payload slices, ``bytes`` and cue text consumed
map-side — only scalars shuffle.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from bdqc_spark.functions.audio import VAD_FRAME_MS, VAD_RMS_MIN, signal_pass

CUE_ALIGN_FIELDS = (
    ("align_ok", pa.bool_(), False),
    ("n_cues", pa.int32(), 0),
    ("speech_frac", pa.float64(), np.nan),
    ("cue_frac", pa.float64(), np.nan),
    ("cue_precision", pa.float64(), np.nan),
    ("cue_recall", pa.float64(), np.nan),
    ("offset_ms", pa.int32(), 0),
    ("cue_precision_aligned", pa.float64(), np.nan),
    ("cue_recall_aligned", pa.float64(), np.nan),
)


def _parse_cues(subtitle: str) -> list[dict]:
    from bdqc_spark.functions.subtitles import parse_srt, parse_vtt

    if subtitle.lstrip().startswith("WEBVTT"):
        return parse_vtt(subtitle)[0]
    return parse_srt(subtitle)[0]


def _masks(pcm: np.ndarray, sr: int, cues: list[dict]) -> tuple[np.ndarray, np.ndarray]:
    w = max(int(sr * VAD_FRAME_MS) // 1000, 1)
    nf = pcm.shape[0] // w
    x = pcm[: nf * w].reshape(nf, w)
    e = np.einsum("ij,ij->i", x, x, optimize=False)
    speech = e >= np.float32(VAD_RMS_MIN * VAD_RMS_MIN * w)
    mid = (np.arange(nf) + 0.5) * VAD_FRAME_MS
    cue = np.zeros(nf, dtype=bool)
    for c in cues:
        cue |= (mid >= c["start_ms"]) & (mid < c["end_ms"])
    return speech, cue


def _pr(speech: np.ndarray, cue: np.ndarray) -> tuple[float, float]:
    inter = int(np.count_nonzero(speech & cue))
    p = inter / max(int(np.count_nonzero(cue)), 1)
    r = inter / max(int(np.count_nonzero(speech)), 1)
    return p, r


def cue_alignment_stats(
    pcm: np.ndarray, sr: int, subtitle: str, max_shift_ms: int = 2000
) -> dict | None:
    """Alignment metrics, or None when no estimate is possible (no
    parseable cues, clip shorter than one VAD frame)."""
    try:
        cues = _parse_cues(subtitle)
    except (ValueError, AttributeError):
        return None
    if pcm.shape[0] == 0 or sr <= 0:
        return None
    speech, cue = _masks(pcm, sr, cues)
    nf = speech.shape[0]
    if nf == 0:
        return None
    p0, r0 = _pr(speech, cue)
    max_k = min(max_shift_ms // VAD_FRAME_MS, nf - 1)
    best_k, best_inter = 0, int(np.count_nonzero(speech & cue))
    s = speech.astype(np.float32)
    c = cue.astype(np.float32)
    for k in range(-max_k, max_k + 1):
        # positive k: cues late — cue[t] matches speech[t - k]
        if k == 0:
            continue
        if k > 0:
            inter = int(np.dot(s[: nf - k], c[k:]))
        else:
            inter = int(np.dot(s[-k:], c[: nf + k]))
        if inter > best_inter:
            best_inter, best_k = inter, k
    if best_k > 0:
        pa_, ra_ = _pr(speech[: nf - best_k], cue[best_k:])
    elif best_k < 0:
        pa_, ra_ = _pr(speech[-best_k:], cue[: nf + best_k])
    else:
        pa_, ra_ = p0, r0
    return {
        "n_cues": len(cues),
        "speech_frac": float(np.count_nonzero(speech)) / nf,
        "cue_frac": float(np.count_nonzero(cue)) / nf,
        "cue_precision": p0,
        "cue_recall": r0,
        "offset_ms": best_k * VAD_FRAME_MS,
        "cue_precision_aligned": pa_,
        "cue_recall_aligned": ra_,
    }


def _cue_signal(pcm: np.ndarray, sr: int, subtitle: str | None) -> dict | None:
    st = cue_alignment_stats(pcm, sr, subtitle)
    if st is None:
        return None
    return {k: v if k in ("n_cues", "offset_ms") else round(v, 6) for k, v in st.items()}


def cue_alignment(clips) -> "DataFrame":  # noqa: F821
    """clips(bytes, codec, sr_hz, subtitle, …) → per-clip cue↔speech
    alignment metrics. Rows without decodable audio or parseable cues
    get align_ok=false."""
    return signal_pass(
        clips, _cue_signal, CUE_ALIGN_FIELDS, "align_ok", extra=("subtitle",), drop=("subtitle",)
    )
