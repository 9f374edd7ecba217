"""From-scratch numpy audio codecs + vectorized decode/profile UDFs.

bdqc's Binary signature (lib/BDQC/FileSignature/Binary.pm,
reconstructed — SURVEY.md A6) profiles opaque binary files; here the
binary column is *decodable* audio, so the profile is computed on
the decoded PCM: validity, duration, RMS/peak, clipping rate, DC
offset. Codecs implemented from public definitions (ITU-T G.711
µ-law/A-law companding, PCM s16/f32 LE); no external audio libs
exist in this sandbox (SURVEY.md §0).

All decoding is vectorized numpy inside Arrow-batched pandas UDFs —
per-batch Python dispatch, per-row work stays in C (input_hint:
"no per-row Python").
"""

from __future__ import annotations

from functools import partial

import numpy as np
import pandas as pd
import pyarrow as pa

CODECS = ("pcm_s16le", "pcm_f32le", "ulaw", "alaw", "wav", "flac")

# Energy-threshold VAD (frame RMS gate). Frozen: the keep/drop rule
# audio.low_speech (plans/rules.py) and the single-node oracle both
# consume speech_ratio computed with these exact constants.
VAD_FRAME_MS = 20
VAD_RMS_MIN = 0.02

AUDIO_PROFILE_SCHEMA = (
    "pcm_ok boolean, n_samples int, dur_ms_decoded int, rms double, "
    "peak double, clip_rate double, dc_off double"
)


# --------------------------------------------------------------------------
# Wire-format ITU-T G.711 µ-law / A-law, as 256-entry decode LUTs and
# 64K-entry encode LUTs (one gather per sample, no transcendental math).
#
# Byte layout per the standard (and the classic Sun Microsystems g711.c
# that every interop stack ships): sign | 3-bit segment | 4-bit mantissa,
# µ-law with bias 0x84 and full bit complement on the wire, A-law with
# even-bit inversion (XOR 0x55). Built from the segmented-companding
# definition below; tests cross-check every entry of all four tables
# against CPython's `audioop` (which embeds the Sun/ITU tables).
# --------------------------------------------------------------------------
_U_SEG_END = np.array([0x3F, 0x7F, 0xFF, 0x1FF, 0x3FF, 0x7FF, 0xFFF, 0x1FFF])
_A_SEG_END = np.array([0x1F, 0x3F, 0x7F, 0xFF, 0x1FF, 0x3FF, 0x7FF, 0xFFF])


def _build_ulaw_dec() -> np.ndarray:
    u = np.arange(256, dtype=np.int32) ^ 0xFF          # wire complement
    t = ((u & 0x0F) << 3) + 0x84
    t = t << ((u & 0x70) >> 4)
    return np.where(u & 0x80, 0x84 - t, t - 0x84).astype(np.int16)


def _build_alaw_dec() -> np.ndarray:
    a = np.arange(256, dtype=np.int32) ^ 0x55          # even-bit inversion
    t = (a & 0x0F) << 4
    seg = (a & 0x70) >> 4
    t = np.where(seg == 0, t + 8, (t + 0x108) << np.maximum(seg - 1, 0))
    return np.where(a & 0x80, t, -t).astype(np.int16)


def _build_ulaw_enc() -> np.ndarray:
    """uint8 code for every int16 sample, indexed by sample.view(uint16)."""
    x = np.arange(-32768, 32768, dtype=np.int32) >> 2  # 14-bit domain
    mask = np.where(x < 0, 0x7F, 0xFF)
    mag = np.minimum(np.abs(x), 8159) + 33             # bias = 0x84 >> 2
    seg = np.searchsorted(_U_SEG_END, mag, side="left")
    uval = (seg << 4) | ((mag >> (seg + 1)) & 0x0F)
    code = np.where(seg >= 8, 0x7F, uval) ^ mask
    # index by the uint16 bit pattern of the sample (two's complement)
    out = np.empty(65536, dtype=np.uint8)
    out[np.arange(-32768, 32768).astype(np.int16).view(np.uint16)] = code.astype(np.uint8)
    return out


def _build_alaw_enc() -> np.ndarray:
    x = np.arange(-32768, 32768, dtype=np.int32) >> 3  # 13-bit domain
    mask = np.where(x >= 0, 0xD5, 0x55)
    mag = np.where(x < 0, -x - 1, x)
    seg = np.searchsorted(_A_SEG_END, mag, side="left")
    shift = np.where(seg < 2, 1, np.minimum(seg, 7))
    aval = (np.minimum(seg, 7) << 4) | ((mag >> shift) & 0x0F)
    code = np.where(seg >= 8, 0x7F, aval) ^ mask
    out = np.empty(65536, dtype=np.uint8)
    out[np.arange(-32768, 32768).astype(np.int16).view(np.uint16)] = code.astype(np.uint8)
    return out


_ULAW_DEC = _build_ulaw_dec()
_ALAW_DEC = _build_alaw_dec()
_ULAW_ENC = _build_ulaw_enc()
_ALAW_ENC = _build_alaw_enc()
# float32 decode tables: one gather straight to [-1, 1] PCM (hot path)
_ULAW_DEC_F32 = (_ULAW_DEC.astype(np.float32) / np.float32(32768.0))
_ALAW_DEC_F32 = (_ALAW_DEC.astype(np.float32) / np.float32(32768.0))


def _to_i16(pcm: np.ndarray) -> np.ndarray:
    x = np.clip(np.asarray(pcm, dtype=np.float64), -1.0, 1.0)
    return np.clip(np.round(x * 32768.0), -32768, 32767).astype(np.int16)


# --------------------------------------------------------------------------
# Encoders (used by the synthetic generator) — float32 PCM in [-1, 1] → bytes
# --------------------------------------------------------------------------
def encode(pcm: np.ndarray, codec: str, sr: int = 16000) -> bytes:
    if codec == "wav":
        return encode_wav(pcm, sr)  # 16-bit PCM RIFF with defaults
    if codec == "pcm_s16le":
        x = np.clip(np.asarray(pcm, dtype=np.float64), -1.0, 1.0)
        return (np.round(x * 32767.0).astype("<i2")).tobytes()
    if codec == "pcm_f32le":
        x = np.clip(np.asarray(pcm, dtype=np.float64), -1.0, 1.0)
        return x.astype("<f4").tobytes()
    if codec == "ulaw":
        return _ULAW_ENC[_to_i16(pcm).view(np.uint16)].tobytes()
    if codec == "alaw":
        return _ALAW_ENC[_to_i16(pcm).view(np.uint16)].tobytes()
    if codec == "flac":
        from bdqc_spark.functions.flac import flac_encode

        return flac_encode(pcm, sr=sr)
    raise ValueError(f"unknown codec {codec!r}")


# --------------------------------------------------------------------------
# Decoders — bytes → float32 PCM in [-1, 1]; raise on malformed payloads.
# float32 on purpose: source precision is ≤16 bits, and the decode
# path is memory-bandwidth-bound at scale — float64 doubles the
# traffic for zero fidelity gain (stats are accumulated in float64).
# --------------------------------------------------------------------------
def decode(raw: bytes, codec: str) -> np.ndarray:
    if codec == "pcm_s16le":
        if len(raw) == 0 or len(raw) % 2 != 0:
            raise ValueError("pcm_s16le payload not a multiple of 2 bytes")
        return np.frombuffer(raw, dtype="<i2").astype(np.float32) / np.float32(32767.0)
    if codec == "pcm_f32le":
        if len(raw) == 0 or len(raw) % 4 != 0:
            raise ValueError("pcm_f32le payload not a multiple of 4 bytes")
        x = np.frombuffer(raw, dtype="<f4")
        if not np.all(np.isfinite(x)) or np.max(np.abs(x), initial=0.0) > 4.0:
            raise ValueError("pcm_f32le payload out of range / non-finite")
        return x
    if codec == "ulaw":
        if len(raw) == 0:
            raise ValueError("empty ulaw payload")
        return _ULAW_DEC_F32[np.frombuffer(raw, dtype=np.uint8)]
    if codec == "alaw":
        if len(raw) == 0:
            raise ValueError("empty alaw payload")
        return _ALAW_DEC_F32[np.frombuffer(raw, dtype=np.uint8)]
    if codec == "wav":
        d = np.frombuffer(raw, dtype=np.uint8)
        return _decode_wav(d, 0, len(d))
    if codec == "flac":
        from bdqc_spark.functions.flac import flac_decode

        return flac_decode(raw)
    raise ValueError(f"unknown codec {codec!r}")


# --------------------------------------------------------------------------
# IMA (DVI) ADPCM — wire format per the IMA "Recommended Practices for
# Enhancing Digital Audio Compatibility" rev 3.00 and the Microsoft
# WAV embedding (format tag 0x11): mono blocks of `block_align` bytes,
# each a 4-byte state header (int16 LE predictor, uint8 step index,
# uint8 reserved) followed by 4-bit nibbles, LOW nibble first, each
# nibble one sample delta. Decode state is sequential WITHIN a block
# but blocks are independent, so both directions vectorize ACROSS
# blocks: the Python loop is samples-per-block long (505 for the
# standard 256-byte block) and every iteration is numpy over all
# blocks of the clip at once.
# --------------------------------------------------------------------------
_IMA_STEP = np.array(
    [
        7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31,
        34, 37, 41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130,
        143, 157, 173, 190, 209, 230, 253, 279, 307, 337, 371, 408,
        449, 494, 544, 598, 658, 724, 796, 876, 963, 1060, 1166, 1282,
        1411, 1552, 1707, 1878, 2066, 2272, 2499, 2749, 3024, 3327,
        3660, 4026, 4428, 4871, 5358, 5894, 6484, 7132, 7845, 8630,
        9493, 10442, 11487, 12635, 13899, 15289, 16818, 18500, 20350,
        22385, 24623, 27086, 29794, 32767,
    ],
    dtype=np.int32,
)
_IMA_INDEX_ADJ = np.array([-1, -1, -1, -1, 2, 4, 6, 8], dtype=np.int32)


def _ima_reconstruct(nib: np.ndarray, pred: np.ndarray, idx: np.ndarray):
    """One ADPCM step for a vector of blocks: nibble → (new pred, new
    idx). The exact reconstruction both decoder and encoder share —
    the encoder MUST track the decoder's predictor or the streams
    drift."""
    step = _IMA_STEP[idx]
    diff = step >> 3
    diff = diff + np.where(nib & 1, step >> 2, 0)
    diff = diff + np.where(nib & 2, step >> 1, 0)
    diff = diff + np.where(nib & 4, step, 0)
    pred = np.clip(np.where(nib & 8, pred - diff, pred + diff), -32768, 32767)
    idx = np.clip(idx + _IMA_INDEX_ADJ[nib & 7], 0, 88)
    return pred, idx


def adpcm_decode_blocks(blocks: np.ndarray) -> np.ndarray:
    """(n_blocks, block_align) uint8 → (n_blocks, samples_per_block)
    int16. samples_per_block = (block_align - 4) * 2 + 1: the header
    predictor is sample 0, every nibble after it is one sample."""
    nblk, ba = blocks.shape
    if ba < 5:
        raise ValueError("adpcm block shorter than its state header")
    pred = blocks[:, 0].astype(np.int32) | (blocks[:, 1].astype(np.int32) << 8)
    pred = (pred ^ 0x8000) - 0x8000  # sign-extend int16
    idx = blocks[:, 2].astype(np.int32)
    if np.any(idx > 88):
        raise ValueError("adpcm step index out of range")
    data = blocks[:, 4:]
    n_nib = data.shape[1] * 2
    nib = np.empty((nblk, n_nib), dtype=np.int32)
    nib[:, 0::2] = data & 0x0F  # low nibble first, per the IMA layout
    nib[:, 1::2] = data >> 4
    out = np.empty((nblk, n_nib + 1), dtype=np.int16)
    out[:, 0] = pred.astype(np.int16)
    for t in range(n_nib):
        pred, idx = _ima_reconstruct(nib[:, t], pred, idx)
        out[:, t + 1] = pred
    return out


def adpcm_encode_blocks(samples: np.ndarray) -> np.ndarray:
    """(n_blocks, samples_per_block) int16 → (n_blocks, block_align)
    uint8. Quantizer is the IMA bitwise-compare form; the predictor is
    updated with the decoder's reconstruction so decode(encode(x))
    tracks x within one step size."""
    nblk, nsamp = samples.shape
    if nsamp < 1 or (nsamp - 1) % 2 != 0:
        raise ValueError("adpcm samples-per-block must be odd")
    s = samples.astype(np.int32)
    pred = s[:, 0]
    idx = np.zeros(nblk, dtype=np.int32)
    nib = np.empty((nblk, nsamp - 1), dtype=np.uint8)
    for t in range(1, nsamp):
        step = _IMA_STEP[idx]
        delta = s[:, t] - pred
        sign = delta < 0
        mag = np.abs(delta)
        b2 = mag >= step
        mag = mag - np.where(b2, step, 0)
        half = step >> 1
        b1 = mag >= half
        mag = mag - np.where(b1, half, 0)
        b0 = mag >= (step >> 2)
        n = (
            np.where(sign, 8, 0)
            | np.where(b2, 4, 0)
            | np.where(b1, 2, 0)
            | np.where(b0, 1, 0)
        ).astype(np.int32)
        pred, idx = _ima_reconstruct(n, pred, idx)
        nib[:, t - 1] = n.astype(np.uint8)
    out = np.empty((nblk, 4 + (nsamp - 1) // 2), dtype=np.uint8)
    p16 = samples[:, 0].astype(np.int16).view(np.uint16)
    out[:, 0] = (p16 & 0xFF).astype(np.uint8)
    out[:, 1] = (p16 >> 8).astype(np.uint8)
    out[:, 2] = 0  # encoder starts each block at step index 0
    out[:, 3] = 0
    out[:, 4:] = nib[:, 0::2] | (nib[:, 1::2] << 4)
    return out


# --------------------------------------------------------------------------
# WAV (RIFF) container — wire-format per the Microsoft/IBM RIFF spec:
# 'RIFF' <u32 size> 'WAVE', then even-aligned <4cc><u32 size> chunks;
# 'fmt ' carries (format_tag u16, channels u16, sample_rate u32,
# byte_rate u32, block_align u16, bits u16), 'data' carries samples.
# Supported format tags: 1 PCM (8-bit unsigned / 16/24/32-bit signed),
# 3 IEEE float32, 6 A-law, 7 µ-law, 0x11 IMA ADPCM (mono, with the
# spec's `fact` chunk carrying the true sample count past the final
# block's padding). Multi-channel payloads are downmixed to mono
# (mean over channels) — the profile/QC semantics are per-clip, not
# per-channel. The header's sample rate is surfaced as hdr_sr so the
# audio.hdr_sr_mismatch rule can cross-check it against the catalog's
# sr_hz column.
# --------------------------------------------------------------------------
_WAV_TAG_PCM, _WAV_TAG_F32, _WAV_TAG_ALAW, _WAV_TAG_ULAW = 1, 3, 6, 7
_WAV_TAG_IMA_ADPCM = 0x11


def _u16(d: np.ndarray, o: int) -> int:
    return int(d[o]) | (int(d[o + 1]) << 8)


def _u32(d: np.ndarray, o: int) -> int:
    return (
        int(d[o])
        | (int(d[o + 1]) << 8)
        | (int(d[o + 2]) << 16)
        | (int(d[o + 3]) << 24)
    )


def _parse_wav(data: np.ndarray, start: int, end: int) -> dict:
    """Validate the RIFF structure at data[start:end] and locate the
    fmt/data chunks. Returns {fmt_tag, hdr_sr, channels, bits,
    data_start, data_end}; raises ValueError on malformed input."""
    n = end - start
    if n < 44:
        raise ValueError("wav payload shorter than minimal header")
    if bytes(data[start : start + 4]) != b"RIFF" or bytes(data[start + 8 : start + 12]) != b"WAVE":
        raise ValueError("wav payload missing RIFF/WAVE magic")
    fmt = None
    dat = None
    fact = None
    o = start + 12
    while o + 8 <= end:
        cid = bytes(data[o : o + 4])
        csz = _u32(data, o + 4)
        body = o + 8
        if body + csz > end:
            raise ValueError("wav chunk overruns payload")
        if cid == b"fmt ":
            if csz < 16:
                raise ValueError("wav fmt chunk too short")
            fmt = (
                _u16(data, body),       # format tag
                _u16(data, body + 2),   # channels
                _u32(data, body + 4),   # sample rate
                _u16(data, body + 12),  # block align
                _u16(data, body + 14),  # bits per sample
            )
        elif cid == b"fact" and csz >= 4:
            fact = _u32(data, body)     # true sample count (compressed fmts)
        elif cid == b"data":
            dat = (body, body + csz)
        o = body + csz + (csz & 1)  # chunks are word-aligned
    if fmt is None or dat is None:
        raise ValueError("wav payload missing fmt or data chunk")
    tag, ch, sr, block_align, bits = fmt
    if not (1 <= ch <= 8):
        raise ValueError(f"wav channel count {ch} unsupported")
    if sr <= 0:
        raise ValueError("wav header sample rate <= 0")
    if tag == _WAV_TAG_IMA_ADPCM and ch != 1:
        raise ValueError("wav ima-adpcm payloads supported mono only")
    ok = (
        (tag == _WAV_TAG_PCM and bits in (8, 16, 24, 32))
        or (tag == _WAV_TAG_F32 and bits == 32)
        or (tag in (_WAV_TAG_ALAW, _WAV_TAG_ULAW) and bits == 8)
        or (tag == _WAV_TAG_IMA_ADPCM and bits == 4)
    )
    if not ok:
        raise ValueError(f"wav format tag {tag} / {bits}-bit unsupported")
    return {
        "fmt_tag": tag,
        "hdr_sr": sr,
        "channels": ch,
        "bits": bits,
        "block_align": block_align,
        "fact_samples": fact,
        "data_start": dat[0],
        "data_end": dat[1],
    }


def wav_info(raw: bytes) -> dict:
    """Header fields of a WAV payload (fmt_tag, hdr_sr, channels,
    bits, data_start, data_end). Raises ValueError when malformed."""
    d = np.frombuffer(raw, dtype=np.uint8)
    return _parse_wav(d, 0, len(d))


def _decode_wav(data: np.ndarray, start: int, end: int, downmix: bool = True) -> np.ndarray:
    """WAV payload → float32 PCM. ``downmix=True`` (the profile/QC
    default) means mono via per-frame channel mean; ``downmix=False``
    returns the channel-preserving (n_frames, channels) array the
    channel-balance QC needs (functions/channels.py)."""
    info = _parse_wav(data, start, end)
    tag, ch, bits = info["fmt_tag"], info["channels"], info["bits"]
    body = data[info["data_start"] : info["data_end"]]
    nb = body.shape[0]
    if tag == _WAV_TAG_IMA_ADPCM:
        ba = info["block_align"]
        if ba < 5 or nb == 0 or nb % ba != 0:
            raise ValueError("wav adpcm data chunk not a whole number of blocks")
        sm = adpcm_decode_blocks(body.reshape(-1, ba))
        pcm = sm.reshape(-1).astype(np.float32) / np.float32(32768.0)
        fact = info["fact_samples"]
        if fact is not None:
            if fact > pcm.shape[0]:
                raise ValueError("wav fact chunk larger than decoded samples")
            pcm = pcm[:fact]
        return pcm if downmix else pcm.reshape(-1, 1)
    bps = bits // 8
    if nb == 0 or nb % (bps * ch) != 0:
        raise ValueError("wav data chunk not a whole number of frames")
    if tag == _WAV_TAG_PCM and bits == 16:
        pcm = body.view("<i2").astype(np.float32) / np.float32(32767.0)
    elif tag == _WAV_TAG_PCM and bits == 24:
        # 3-byte little-endian two's complement (studio-grade PCM)
        b = body.reshape(-1, 3).astype(np.int32)
        v = b[:, 0] | (b[:, 1] << 8) | (b[:, 2] << 16)
        v -= (v >> 23) << 24  # sign-extend bit 23
        pcm = v.astype(np.float32) / np.float32(8388607.0)
    elif tag == _WAV_TAG_PCM and bits == 32:
        pcm = body.view("<i4").astype(np.float32) / np.float32(2147483647.0)
    elif tag == _WAV_TAG_PCM:  # 8-bit unsigned, midpoint 128
        pcm = (body.astype(np.float32) - np.float32(128.0)) / np.float32(127.0)
    elif tag == _WAV_TAG_F32:
        pcm = body.view("<f4")
        if not np.all(np.isfinite(pcm)) or np.max(np.abs(pcm), initial=0.0) > 4.0:
            raise ValueError("wav float payload out of range / non-finite")
    elif tag == _WAV_TAG_ALAW:
        pcm = _ALAW_DEC_F32[body]
    else:  # µ-law
        pcm = _ULAW_DEC_F32[body]
    if not downmix:
        return pcm.reshape(-1, ch)
    if ch > 1:
        pcm = pcm.reshape(-1, ch).mean(axis=1, dtype=np.float32)
    return pcm


def decode_wav_channels(raw: bytes) -> np.ndarray:
    """Channel-preserving WAV decode: (n_frames, channels) float32.
    The per-channel entry point for channel-balance QC; everything
    else keeps the downmixed mono contract."""
    d = np.frombuffer(raw, dtype=np.uint8)
    return _decode_wav(d, 0, len(d), downmix=False)


def encode_wav(
    pcm: np.ndarray,
    sr: int,
    inner: str = "pcm_s16le",
    channels: int = 1,
    hdr_sr: int | None = None,
) -> bytes:
    """float32 mono PCM in [-1, 1] → RIFF/WAV bytes. `inner` picks the
    sample encoding (pcm_s16le, pcm_u8, pcm_f32le, ulaw, alaw);
    `channels` > 1 duplicates the mono signal per channel (the decoder
    downmixes back losslessly); `hdr_sr` overrides the header rate
    (used by the synthetic corpus to make lying headers)."""
    if inner == "pcm_s16le":
        tag, bits = _WAV_TAG_PCM, 16
        body = encode(pcm, "pcm_s16le")
    elif inner == "pcm_s24le":
        tag, bits = _WAV_TAG_PCM, 24
        x = np.clip(np.asarray(pcm, dtype=np.float64), -1.0, 1.0)
        v = np.round(x * 8388607.0).astype(np.int32)
        b = np.empty((v.shape[0], 3), np.uint8)
        b[:, 0] = v & 0xFF
        b[:, 1] = (v >> 8) & 0xFF
        b[:, 2] = (v >> 16) & 0xFF
        body = b.tobytes()
    elif inner == "pcm_s32le":
        tag, bits = _WAV_TAG_PCM, 32
        x = np.clip(np.asarray(pcm, dtype=np.float64), -1.0, 1.0)
        body = np.round(x * 2147483647.0).astype("<i4").tobytes()
    elif inner == "pcm_u8":
        tag, bits = _WAV_TAG_PCM, 8
        x = np.clip(np.asarray(pcm, dtype=np.float64), -1.0, 1.0)
        body = (np.clip(np.round(x * 127.0), -127, 127) + 128).astype(np.uint8).tobytes()
    elif inner == "pcm_f32le":
        tag, bits = _WAV_TAG_F32, 32
        body = encode(pcm, "pcm_f32le")
    elif inner == "ulaw":
        tag, bits = _WAV_TAG_ULAW, 8
        body = encode(pcm, "ulaw")
    elif inner == "alaw":
        tag, bits = _WAV_TAG_ALAW, 8
        body = encode(pcm, "alaw")
    elif inner == "adpcm_ima":
        if channels != 1:
            raise ValueError("wav ima-adpcm encoding supported mono only")
        tag, bits = _WAV_TAG_IMA_ADPCM, 4
        block_align = 256  # the standard mono block: 505 samples
        spb = (block_align - 4) * 2 + 1
        x = _to_i16(pcm)
        n = x.shape[0]
        if n == 0:
            raise ValueError("empty pcm for wav ima-adpcm encoding")
        nblk = (n + spb - 1) // spb
        padded = np.full(nblk * spb, x[-1], dtype=np.int16)
        padded[:n] = x
        body = adpcm_encode_blocks(padded.reshape(nblk, spb)).tobytes()
        rate = int(hdr_sr if hdr_sr is not None else sr)
        spb_bytes = spb  # samples per block, fmt extension field
        hdr = b"".join(
            [
                b"RIFF",
                (4 + 8 + 20 + 8 + 4 + 8 + len(body) + (len(body) & 1)).to_bytes(4, "little"),
                b"WAVE",
                b"fmt ",
                (20).to_bytes(4, "little"),
                tag.to_bytes(2, "little"),
                (1).to_bytes(2, "little"),
                rate.to_bytes(4, "little"),
                # byte rate ≈ rate * block_align / samples_per_block
                (rate * block_align // spb).to_bytes(4, "little"),
                block_align.to_bytes(2, "little"),
                bits.to_bytes(2, "little"),
                (2).to_bytes(2, "little"),       # cbSize
                spb_bytes.to_bytes(2, "little"),  # wSamplesPerBlock
                b"fact",
                (4).to_bytes(4, "little"),
                n.to_bytes(4, "little"),          # true sample count
                b"data",
                len(body).to_bytes(4, "little"),
            ]
        )
        pad = b"\x00" if len(body) & 1 else b""
        return hdr + body + pad
    else:
        raise ValueError(f"unknown wav inner encoding {inner!r}")
    if channels > 1:
        frame = np.frombuffer(body, dtype=np.uint8).reshape(-1, bits // 8)
        body = np.repeat(frame, channels, axis=0).tobytes()
    rate = int(hdr_sr if hdr_sr is not None else sr)
    bps = bits // 8
    block = bps * channels
    hdr = b"".join(
        [
            b"RIFF",
            (36 + len(body) + (len(body) & 1)).to_bytes(4, "little"),
            b"WAVE",
            b"fmt ",
            (16).to_bytes(4, "little"),
            tag.to_bytes(2, "little"),
            channels.to_bytes(2, "little"),
            rate.to_bytes(4, "little"),
            (rate * block).to_bytes(4, "little"),
            block.to_bytes(2, "little"),
            bits.to_bytes(2, "little"),
            b"data",
            len(body).to_bytes(4, "little"),
        ]
    )
    pad = b"\x00" if len(body) & 1 else b""
    return hdr + body + pad


def speech_ratio(pcm: np.ndarray, sr: int) -> float:
    """Fraction of VAD_FRAME_MS frames whose RMS clears VAD_RMS_MIN —
    the energy-gate VAD feeding the audio.low_speech rule. float32
    einsum accumulation on purpose: this exact leaf is shared with
    the single-node oracle, so engine and oracle cannot drift."""
    n = pcm.shape[0]
    if n == 0 or sr <= 0:
        return 0.0
    w = max(int(sr * VAD_FRAME_MS) // 1000, 1)
    nf = n // w
    if nf == 0:
        return 1.0 if float(np.dot(pcm, pcm)) / n >= VAD_RMS_MIN**2 else 0.0
    x = pcm[: nf * w].reshape(nf, w)
    # compare frame ENERGY against thr²·w — one einsum, no divide
    # pass, no temporary (measured 16 → 12.5 µs on a 1.6 s clip,
    # interleaved trials; this runs once per clip in the profile
    # hot loop)
    e = np.einsum("ij,ij->i", x, x, optimize=False)
    thr_e = np.float32(VAD_RMS_MIN * VAD_RMS_MIN * w)
    return float(np.count_nonzero(e >= thr_e)) / nf


BW_NFFT = 512         # Welch segment length for bandwidth_ratio
BW_SEGMENTS = 3       # max averaged segments per clip
BW_BETA = 0.05        # support threshold vs the low-band noise floor

_BW_WIN: dict[int, np.ndarray] = {}


def _bw_window(nfft: int) -> np.ndarray:
    w = _BW_WIN.get(nfft)
    if w is None:
        w = _BW_WIN[nfft] = np.hanning(nfft).astype(np.float32)
    return w


def bandwidth_ratio(pcm: np.ndarray, sr: int) -> float:
    """Effective occupied bandwidth as a fraction of Nyquist — the
    detector behind the audio.bandwidth_low rule (content whose true
    bandwidth is far below its container rate: a sinc-upsampled 8 kHz
    recording in a 16 kHz column, or a lossy-transcode lowpass).

    Estimator: Welch-averaged 512-pt Hann PSD over up to 3 evenly
    spaced segments, 4-bin max-pooled (bridges window-leakage nulls);
    the clip's own noise floor is taken as the median pooled PSD over
    the 5-40%%-of-Nyquist passband, and the occupied bandwidth is the
    highest pooled bin still holding >= BW_BETA x that floor.
    Referencing the *passband floor* (not the peak) keeps tonal
    content with a quiet noise floor from reading as narrowband.
    Returns 1.0 (no evidence -> never flags) for clips under 256
    samples, silent clips, or degenerate floors. float32 FFT on
    purpose (~50 µs/clip in the profile hot loop): the decision
    margin is ~20 dB on either side of BW_BETA.

    Physics caveat, by design: a lossy *re-encode* of band-limited
    content (e.g. a µ-law wire copy) refills the band with
    quantization noise and reads as full-band — the rule catches
    band-limited PCM, not every laundering of it. This exact leaf is
    shared with the single-node oracle (synth/oracle.py) so engine
    and oracle cannot drift."""
    n = pcm.shape[0]
    if n < 256 or sr <= 0:
        return 1.0
    nfft = BW_NFFT if n >= BW_NFFT else 256
    k = BW_SEGMENTS if n >= BW_SEGMENTS * nfft else n // nfft
    if k < 1:
        return 1.0
    step = (n - nfft) // max(k - 1, 1)
    seg = np.empty((k, nfft), np.float32)
    w = _bw_window(nfft)
    for j in range(k):
        s = j * step
        np.multiply(pcm[s : s + nfft], w, out=seg[j], casting="unsafe")
    spec = np.fft.rfft(seg, axis=1)
    psd = (spec.real * spec.real + spec.imag * spec.imag).sum(axis=0)
    nb0 = psd.shape[0]
    pool = 4 if nb0 >= 64 else 1
    nb = nb0 // pool
    psd = psd[: nb * pool].reshape(nb, pool).max(axis=1)
    lo, hi = max(1, int(0.05 * nb)), max(2, int(0.4 * nb))
    floor = float(np.median(psd[lo:hi]))
    if not (psd.max() > 0.0) or floor <= 0.0:
        return 1.0
    above = np.flatnonzero(psd >= np.float32(BW_BETA) * floor)
    return float((above[-1] + 1) / nb)


def snr_db(ref: np.ndarray, est: np.ndarray) -> float:
    """Signal-to-noise ratio of est vs reference PCM, in dB."""
    ref = np.asarray(ref, dtype=np.float64)
    est = np.asarray(est, dtype=np.float64)
    if ref.shape != est.shape:
        return float("-inf")
    noise = np.sum((ref - est) ** 2)
    sig = np.sum(ref**2)
    if noise == 0.0:
        return float("inf")
    if sig == 0.0:
        return float("-inf")
    return float(10.0 * np.log10(sig / noise))


# --------------------------------------------------------------------------
# Zero-copy decode of one Arrow binary column position (no PyBytes)
# --------------------------------------------------------------------------
def decode_arrow_slice(data: np.ndarray, start: int, end: int, codec: str) -> np.ndarray:
    """Decode payload bytes living at data[start:end] of an Arrow
    binary array's value buffer — numpy views, never a bytes copy
    (numpy handles unaligned views). Semantics identical to decode()."""
    n = end - start
    if codec == "pcm_s16le":
        if n == 0 or n % 2 != 0:
            raise ValueError("pcm_s16le payload not a multiple of 2 bytes")
        return data[start:end].view("<i2").astype(np.float32) / np.float32(32767.0)
    if codec == "pcm_f32le":
        if n == 0 or n % 4 != 0:
            raise ValueError("pcm_f32le payload not a multiple of 4 bytes")
        x = data[start:end].view("<f4")
        if not np.all(np.isfinite(x)) or np.max(np.abs(x), initial=0.0) > 4.0:
            raise ValueError("pcm_f32le payload out of range / non-finite")
        return x
    if codec == "ulaw":
        if n == 0:
            raise ValueError("empty ulaw payload")
        return _ULAW_DEC_F32[data[start:end]]
    if codec == "alaw":
        if n == 0:
            raise ValueError("empty alaw payload")
        return _ALAW_DEC_F32[data[start:end]]
    if codec == "wav":
        return _decode_wav(data, start, end)
    if codec == "flac":
        from bdqc_spark.functions.flac import flac_decode

        return flac_decode(data[start:end])
    raise ValueError(f"unknown codec {codec!r}")


# --------------------------------------------------------------------------
# The audio kernel: the one place a clip is decoded
# --------------------------------------------------------------------------
def _binary_buffers(arr: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    """(offsets, data) numpy views of an Arrow (large_)binary array."""
    off_dtype = np.int64 if pa.types.is_large_binary(arr.type) else np.int32
    offsets = np.frombuffer(arr.buffers()[1], dtype=off_dtype)[arr.offset : arr.offset + len(arr) + 1]
    data = np.frombuffer(arr.buffers()[2], dtype=np.uint8)
    return offsets, data


def _signal_ddl(schema, fields, drop=()) -> str:
    """Output DDL of `_signal_batches` over an input of Spark `schema`:
    the pass-through columns in input order, then `fields`."""
    from pyspark.sql.pandas.types import from_arrow_type

    out = {name for name, _, _ in fields}
    keep = [
        f"{f.name} {f.dataType.simpleString()}"
        for f in schema.fields
        if f.name != "bytes" and f.name not in drop and f.name not in out
    ]
    made = [f"{name} {from_arrow_type(t).simpleString()}" for name, t, _ in fields]
    return ", ".join(keep + made)


def _signal_batches(
    batches, fn, fields, ok, extra=(), drop=(), need_sr=True, decode=decode_arrow_slice
):
    """Decode every clip once and hand its PCM to `fn`.

    Batches carry (bytes, codec, sr_hz, ...); sr_hz may be absent when
    not `need_sr`. A row is decoded only if
    its payload and codec are valid and, when `need_sr`, its sr_hz is
    a positive non-null int; the masks come from the Arrow validity
    bitmap (a null int surfaces as NaN through to_numpy, which passes
    neither `is None` nor `<= 0`). The payload is a zero-copy numpy
    view of the Arrow value buffer, and `decode(data, start, end,
    codec)` turns it into the samples (mono float32 PCM by default).
    Then

        fn(pcm, sr, *extra values) -> dict | None

    where sr is None for an invalid sr_hz (only when not `need_sr`)
    and an `extra` name of "bytes" passes the raw payload view. A dict
    sets the `ok` field true and writes its non-None values; None, or
    a ValueError/TypeError from the decode or from `fn`, leaves the
    row not-ok. Every unwritten cell keeps its field's fill value.

    `fields` is a sequence of (name, Arrow type, fill); a fill of None
    makes the field nullable. The output
    batch is every input column except `bytes`, `drop` and the field
    names, in input order, followed by `fields` in declared order."""
    names = [name for name, _, _ in fields]
    for batch in batches:
        n = batch.num_rows
        col = batch.column
        barr = col("bytes")
        offsets, data = _binary_buffers(barr)
        no_bytes = barr.is_null().to_numpy(zero_copy_only=False)
        codec = col("codec").to_pylist()
        # operators that do not need the rate also run without sr_hz
        has_sr = need_sr or "sr_hz" in batch.schema.names
        sr_arr = col("sr_hz") if has_sr else pa.nulls(n, pa.int32())
        sr_null = sr_arr.is_null().to_numpy(zero_copy_only=False)
        sr = sr_arr.to_numpy(zero_copy_only=False)
        args = [None if x == "bytes" else col(x).to_pylist() for x in extra]
        out = {
            name: [fill] * n
            if fill is None or not pa.types.is_primitive(t)
            else np.full(n, fill, t.to_pandas_dtype())
            for name, t, fill in fields
        }
        for i in range(n):
            sr_ok = not sr_null[i] and sr[i] > 0
            if no_bytes[i] or codec[i] not in CODECS or (need_sr and not sr_ok):
                continue
            s, e = int(offsets[i]), int(offsets[i + 1])
            try:
                pcm = decode(data, s, e, codec[i])
                got = fn(pcm, int(sr[i]) if sr_ok else None,
                         *(data[s:e] if a is None else a[i] for a in args))
            except (ValueError, TypeError):
                continue
            if got is None:
                continue
            out[ok][i] = True
            for k, v in got.items():
                if v is not None:
                    out[k][i] = v
        keep = [c for c in batch.schema.names if c != "bytes" and c not in drop and c not in out]
        yield pa.RecordBatch.from_arrays(
            [col(c) for c in keep] + [pa.array(out[name], t) for name, t, _ in fields],
            names=keep + names,
        )


# Output of the rewrite operators: the re-encoded payload replaces the
# input's bytes/sr_hz/codec; a not-ok row gets a null payload.
_REWRITE_FIELDS = (
    ("bytes", pa.binary(), None),
    ("sr_hz", pa.int32(), 0),
    ("codec", pa.string(), None),
)


def _rewritten(pcm: np.ndarray, sr: int) -> dict:
    """The `_REWRITE_FIELDS` values of a rewritten clip."""
    return {"bytes": encode(pcm, "pcm_s16le"), "sr_hz": sr, "codec": "pcm_s16le"}


def signal_pass(
    clips, fn, fields, ok, extra=(), drop=(), need_sr=True, decode=decode_arrow_slice
):
    """clips(bytes, codec, sr_hz, ...) -> one row per clip: the
    pass-through columns plus `fields`, computed by `fn` over each
    decoded clip in ONE mapInArrow pass (see `_signal_batches`).
    `bytes` is consumed map-side and never leaves the stage."""
    gen = partial(
        _signal_batches,
        fn=fn,
        fields=fields,
        ok=ok,
        extra=extra,
        drop=drop,
        need_sr=need_sr,
        decode=decode,
    )
    return clips.mapInArrow(gen, _signal_ddl(clips.schema, fields, drop))


# --------------------------------------------------------------------------
# Vectorized profile: one Arrow batch of (bytes, codec) → audio stats frame
# --------------------------------------------------------------------------
def profile_batch(raw: pd.Series, codec: pd.Series, sr_hz: pd.Series) -> pd.DataFrame:
    """Decode a batch and compute per-clip audio signature.

    Batch-level vectorization strategy: group the batch by codec and
    decode each group's payloads; per-clip stats are tiny reductions
    on the decoded arrays. (Clip payloads are variable-length, so the
    decode itself is per-clip numpy — still C-speed per element; only
    the ~256-row batch loop is Python.)
    """
    n = len(raw)
    out = {
        "pcm_ok": np.zeros(n, dtype=bool),
        "n_samples": np.zeros(n, dtype=np.int32),
        "dur_ms_decoded": np.zeros(n, dtype=np.int32),
        "rms": np.zeros(n, dtype=np.float64),
        "peak": np.zeros(n, dtype=np.float64),
        "clip_rate": np.zeros(n, dtype=np.float64),
        "dc_off": np.zeros(n, dtype=np.float64),
    }
    raw_v = raw.to_numpy(dtype=object)
    codec_v = codec.to_numpy(dtype=object)
    sr_v = pd.to_numeric(sr_hz, errors="coerce").fillna(0).to_numpy()
    for i in range(n):
        b, cd, sr = raw_v[i], codec_v[i], sr_v[i]
        if b is None or cd not in CODECS or not sr or sr <= 0:
            continue
        try:
            pcm = decode(bytes(b), cd)
        except (ValueError, TypeError):
            continue
        ns = pcm.shape[0]
        out["pcm_ok"][i] = True
        out["n_samples"][i] = ns
        out["dur_ms_decoded"][i] = int(round(ns * 1000.0 / sr))
        # float32 element ops, float64 accumulators (accuracy where it
        # matters, half the memory traffic where it doesn't)
        apcm = np.abs(pcm)
        out["rms"][i] = float(np.sqrt(np.mean(np.square(pcm), dtype=np.float64))) if ns else 0.0
        out["peak"][i] = float(np.max(apcm)) if ns else 0.0
        out["clip_rate"][i] = float(np.mean(apcm >= 0.999, dtype=np.float64)) if ns else 0.0
        out["dc_off"][i] = float(np.mean(pcm, dtype=np.float64)) if ns else 0.0
    return pd.DataFrame(out)
