"""Time-alignment for near-duplicate audio — the shifted-copy
complement to functions/audio_fingerprint.py.

The 100 TB problem this solves: the fingerprint dup path blocks
candidate pairs on *equal decoded frame count*, which is exactly right
for re-encodes but blind to the other big duplicate family — the same
recording with leading silence trimmed or padded (broadcast edits,
segmenter re-cuts, "remastered" uploads). Those copies differ in
length and in start offset, so equality blocking can never pair them.

Design (textbook normalized cross-correlation over the per-frame
energy envelope — public signal-processing material, e.g. Knapp &
Carter's GCC framing, IEEE TASSP 1976, minus the phase transform):

  1. per clip, ONE decode pass (shared with the band-support
     fingerprint — decode once, emit both) computes a log-energy
     envelope: frame RMS energy on the same 25 ms / 10 ms grid as
     audio_features, log-compressed, mean-centred. Long clips are
     mean-pooled down to <= MAX_ENV_FRAMES so the envelope payload is
     bounded (~16 KB worst case) no matter the clip length.
  2. candidates: the same exact block-permutation Hamming join over
     the 64-bit band-support fingerprint — but *without* the frame
     count in the blocking key. The fingerprint is a time-averaged
     spectrum, so a shifted copy of the same material lands within a
     few bits of its source; length is free to differ.
  3. verify + align: per candidate pair, FFT cross-correlation of the
     two centred envelopes with per-lag normalization (overlap energy
     via cumulative sums), constrained to lags keeping >=
     min_overlap_frac of the shorter envelope overlapped. Emits the
     best lag (converted to ms via the envelope hop) and its
     normalized correlation; pairs below min_corr are dropped.

Scale shape: stage 1 is the usual mapInArrow contract (`bytes` never
leaves the stage; only the 8-byte fingerprint + bounded envelope
shuffle). Stage 2 is pure Catalyst. Stage 3 is a pandas UDF that runs
on *candidate pairs only* — post-LSH survivors, not the corpus — and
is O(m log m) per pair via rFFT. Caveat for perfectly stationary
content: a flat envelope carries no alignment signal, so the peak
correlation degrades toward 0 and such pairs are (correctly) not
claimed as aligned duplicates; real speech/music is strongly
amplitude-modulated.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa

from bdqc_spark.functions.audio import signal_pass
from bdqc_spark.functions.audio_features import HOP_MS, WIN_MS, _hann, mel_filterbank
from bdqc_spark.functions.audio_fingerprint import VERIFY_FLOOR, fp_from_spec_mean

MAX_ENV_FRAMES = 4096       # cap on envelope length (mean-pooled above)
MIN_OVERLAP_FRAC = 0.5      # lag search keeps >= this much of the shorter clip
MIN_CORR_DEFAULT = 0.6      # normalized-xcorr acceptance bound
ACT_BANDS = 24              # active-frame verify-profile mel bands
ACT_ALPHA = 0.1             # frame is "active" if power >= alpha * max frame power
ACT_L2_DEFAULT = 3.0        # active-profile L2 acceptance bound
ENV_EPS = 1e-12

ALIGN_FIELDS = (
    ("env_ok", pa.bool_(), False),
    ("audio_fp", pa.int64(), 0),
    ("env", pa.list_(pa.float32()), None),
    ("env_hop_ms", pa.float32(), 0.0),
    ("act_profile", pa.list_(pa.float32()), None),
)


def clip_envelope(pcm: np.ndarray, sr: int):
    """One clip -> (env: float32[<=MAX_ENV_FRAMES] log-RMS, centred;
    hop_ms: float, the effective envelope sample period after any
    mean-pooling) or None if the clip is too short to frame."""
    win = max(int(round(sr * WIN_MS / 1000.0)), 2)
    hop = max(int(round(sr * HOP_MS / 1000.0)), 1)
    if pcm.shape[0] < win:
        return None
    n_frames = 1 + (pcm.shape[0] - win) // hop
    frames = np.lib.stride_tricks.as_strided(
        np.ascontiguousarray(pcm, dtype=np.float64),
        shape=(n_frames, win),
        strides=(hop * 8, 8),
    )
    e = np.einsum("ij,ij->i", frames, frames) / win  # frame mean power
    env = 0.5 * np.log(e + ENV_EPS)                  # log-RMS
    hop_ms = hop * 1000.0 / sr
    if n_frames > MAX_ENV_FRAMES:
        k = -(-n_frames // MAX_ENV_FRAMES)           # ceil division
        pad = (-n_frames) % k
        if pad:
            env = np.concatenate([env, np.full(pad, env[-1])])
        env = env.reshape(-1, k).mean(axis=1)
        hop_ms *= k
    env = env - env.mean()
    return env.astype(np.float32), float(hop_ms)


def clip_align_features(pcm: np.ndarray, sr: int):
    """One clip, ONE framing/FFT pass -> (fp: signed int64 band-support
    fingerprint; env: centred log-RMS envelope, <= MAX_ENV_FRAMES;
    hop_ms: effective envelope period; act_profile: float32[ACT_BANDS]
    log-mel spectrum averaged over ACTIVE frames only) or None.

    The active-frame restriction (power >= ACT_ALPHA * max frame
    power) is the content check that the envelope correlation cannot
    provide: two mostly-silent clips with one burst each align
    perfectly once the bursts coincide, but their *burst spectra*
    differ unless the material is actually shared. For ordinary clips
    nearly every frame is active and the profile degenerates to the
    whole-clip average; trimming/padding changes which frames exist
    but barely moves the many-frame mean (measured twin L2 <= ~0.3
    across trims + µ-law re-encode vs >= ~4.5 for distinct bursts)."""
    win = max(int(round(sr * WIN_MS / 1000.0)), 2)
    hop = max(int(round(sr * HOP_MS / 1000.0)), 1)
    if pcm.shape[0] < win:
        return None
    n_frames = 1 + (pcm.shape[0] - win) // hop
    frames = np.lib.stride_tricks.as_strided(
        np.ascontiguousarray(pcm, dtype=np.float64),
        shape=(n_frames, win),
        strides=(hop * 8, 8),
    )
    pw = np.einsum("ij,ij->i", frames, frames) / win
    spec = np.abs(np.fft.rfft(frames * _hann(win), axis=1)) ** 2
    fp = fp_from_spec_mean(spec.mean(axis=0), sr, win)
    if fp is None:
        return None
    pmax = pw.max()
    if not np.isfinite(pmax) or pmax <= 0.0:
        return None
    act = pw >= ACT_ALPHA * pmax
    e_act = spec[act].mean(axis=0) @ mel_filterbank(int(sr), win, ACT_BANDS).T
    act_profile = np.log(e_act + VERIFY_FLOOR * e_act.mean() + 1e-300).astype(np.float32)

    env = 0.5 * np.log(pw + ENV_EPS)
    hop_ms = hop * 1000.0 / sr
    if n_frames > MAX_ENV_FRAMES:
        k = -(-n_frames // MAX_ENV_FRAMES)
        pad = (-n_frames) % k
        if pad:
            env = np.concatenate([env, np.full(pad, env[-1])])
        env = env.reshape(-1, k).mean(axis=1)
        hop_ms *= k
    env = (env - env.mean()).astype(np.float32)
    return fp, env, float(hop_ms), act_profile


def xcorr_align(env_a: np.ndarray, env_b: np.ndarray,
                min_overlap_frac: float = MIN_OVERLAP_FRAC):
    """Best alignment of two centred envelopes -> (lag, ncc).

    lag is in frames with the convention  b[t] ~= a[t + lag]:  a copy
    made by TRIMMING the first k frames of `a` aligns at lag=+k; a
    copy made by PADDING k frames of lead-in onto `a` aligns at
    lag=-k. ncc is the per-lag normalized cross-correlation (numerator
    by rFFT, per-lag overlap energies by cumulative sums), searched
    only over lags that keep >= min_overlap_frac of the shorter
    envelope overlapped. Returns (0, 0.0) when no lag qualifies.

    The correlation runs over the FIRST DIFFERENCE of the envelopes
    (a one-tap whitener — the discrete cousin of GCC's spectral
    weighting): raw log-energy envelopes of *distinct* content are
    smooth low-d.o.f. signals whose max-over-lags correlation is
    spuriously high (measured up to 0.91 on stationary corpora),
    while differencing crushes that to <= ~0.5 yet leaves genuine
    frame-aligned copies at ~1.0 and re-encoded/odd-offset copies
    >= ~0.75. A perfectly flat envelope differences to zero and
    returns ncc ~ 0 — correct: it carries no alignment signal."""
    a = np.diff(np.asarray(env_a, np.float64))
    b = np.diff(np.asarray(env_b, np.float64))
    la, lb = a.shape[0], b.shape[0]
    if la == 0 or lb == 0:
        return 0, 0.0
    a = a - a.mean()
    b = b - b.mean()
    nfft = 1 << int(la + lb - 1).bit_length()
    cc = np.fft.irfft(np.fft.rfft(a, nfft) * np.conj(np.fft.rfft(b, nfft)), nfft)
    # c[k] = sum_t a[t+k]*b[t]; k>=0 at index k, k<0 at index nfft+k
    lags = np.arange(-(lb - 1), la)
    num = cc[lags % nfft]
    # overlap in b-index space for lag k: t in [max(0,-k), min(lb, la-k))
    t0 = np.maximum(0, -lags)
    t1 = np.minimum(lb, la - lags)
    ovl = t1 - t0
    csa = np.concatenate([[0.0], np.cumsum(a * a)])
    csb = np.concatenate([[0.0], np.cumsum(b * b)])
    ea = csa[np.clip(t1 + lags, 0, la)] - csa[np.clip(t0 + lags, 0, la)]
    eb = csb[np.clip(t1, 0, lb)] - csb[np.clip(t0, 0, lb)]
    ncc = num / np.sqrt(ea * eb + ENV_EPS)
    min_ovl = max(int(np.ceil(min_overlap_frac * min(la, lb))), 2)
    ncc = np.where(ovl >= min_ovl, ncc, -np.inf)
    best = int(np.argmax(ncc))
    if not np.isfinite(ncc[best]):
        return 0, 0.0
    return int(lags[best]), float(min(max(ncc[best], -1.0), 1.0))


def _envelope_signal(pcm: np.ndarray, sr: int) -> dict | None:
    got = clip_align_features(pcm, sr)
    if got is None:
        return None
    return dict(zip(("audio_fp", "env", "env_hop_ms", "act_profile"), got))


def envelope_clips(clips):
    """clips(clip_id, bytes, sr_hz, codec [, ...]) -> per-clip
    band-support fingerprint + bounded log-energy envelope, one decode
    pass; passthrough columns preserved, `bytes` never leaves the
    stage (same contract as profile_clips / fingerprint_clips)."""
    return signal_pass(clips, _envelope_signal, ALIGN_FIELDS, "env_ok")


def audio_aligned_dup_pairs(
    clips,
    id_col: str = "clip_id",
    max_hamming: int = 3,
    min_corr: float = MIN_CORR_DEFAULT,
    min_overlap_frac: float = MIN_OVERLAP_FRAC,
    max_profile_l2: float = ACT_L2_DEFAULT,
    max_bucket_size: int = 500,
):
    """Shifted-copy near-duplicate pairs
    (id_a, id_b, hamming, offset_ms, xcorr):

    envelope+fingerprint pass -> block-permutation Hamming join with
    NO length blocking -> two-factor verify: envelope cross-correlation
    (WHEN does the material align) AND active-frame profile L2 (IS the
    aligned material the same content — pure Catalyst, runs first so
    the Python xcorr UDF only sees spectrally-plausible pairs).
    offset_ms > 0 means id_b starts offset_ms later into the shared
    material than id_a (id_b is a trimmed copy); < 0 means id_b has
    extra lead-in. Output feeds operators/dedup.connected_components
    like every other dup-pair emitter."""
    from pyspark.sql import functions as F

    from bdqc_spark.operators.dedup import hamming_neighbors_fp

    fps = envelope_clips(clips).where(F.col("env_ok")).select(
        id_col, "audio_fp", "env", "env_hop_ms", "act_profile"
    )
    cand = hamming_neighbors_fp(
        fps,
        id_col,
        "audio_fp",
        max_hamming=max_hamming,
        max_bucket_size=max_bucket_size,
        carry_cols=("env", "env_hop_ms", "act_profile"),
    )
    l2 = F.sqrt(
        F.aggregate(
            F.zip_with(
                "act_profile_a",
                "act_profile_b",
                lambda x, y: (x.cast("double") - y.cast("double"))
                * (x.cast("double") - y.cast("double")),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )
    cand = cand.where(l2 <= max_profile_l2)

    @F.pandas_udf("struct<offset_ms: float, xcorr: float>")
    def _align(ea: pd.Series, eb: pd.Series, ha: pd.Series, hb: pd.Series) -> pd.DataFrame:
        offs = np.zeros(len(ea), np.float32)
        corr = np.zeros(len(ea), np.float32)
        for i in range(len(ea)):
            lag, ncc = xcorr_align(ea.iloc[i], eb.iloc[i], min_overlap_frac)
            # lag counts id_a's envelope samples; ms via the mean hop
            # (hops differ only by sub-percent sr rounding)
            offs[i] = lag * 0.5 * (float(ha.iloc[i]) + float(hb.iloc[i]))
            corr[i] = ncc
        return pd.DataFrame({"offset_ms": offs, "xcorr": corr})

    aligned = cand.withColumn(
        "al", _align("env_a", "env_b", "env_hop_ms_a", "env_hop_ms_b")
    )
    return (
        aligned.where(F.col("al.xcorr") >= min_corr)
        .select(
            "id_a",
            "id_b",
            "hamming",
            F.round(F.col("al.offset_ms"), 2).alias("offset_ms"),
            F.round(F.col("al.xcorr"), 4).alias("xcorr"),
        )
    )
