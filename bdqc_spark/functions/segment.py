"""Clip segmentation — window long clips into fixed-length training
segments (the standard prep step between QC and model training: ASR
and audio-LM trainers consume bounded-length segments, not raw
variable-length clips).

Scale design: segmentation is BYTE SLICING, not signal processing —
for the raw codecs (pcm_s16le = 2 B/sample, pcm_f32le = 4, G.711 =
1) a segment is a contiguous slice of the payload at sample-aligned
offsets, so the fast path never decodes, never re-encodes, and
copies exactly the bytes it emits. Mono WAV clips are unwrapped once
(header parse) and their data chunk sliced the same way, emitting
the inner codec; only multi-channel WAV pays a decode (downmix) +
re-encode. One mapInArrow pass; payloads are zero-copy views of the
Arrow value buffer until the final per-segment copy.

Tail policy: a trailing window shorter than `win_ms` is dropped —
deterministic, and matches the common trainer contract of
fixed-length examples. Clips shorter than one window yield no rows.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pyarrow as pa

SEGMENT_FIELDS = (
    "seg_id string, seg_index int, seg_bytes binary, seg_codec string, "
    "seg_n_samples int, seg_ms int"
)

# bytes per sample for the raw (headerless) codecs
_BPS = {"pcm_s16le": 2, "pcm_f32le": 4, "ulaw": 1, "alaw": 1}
# WAV fmt tag → (inner codec name, bytes/sample)
_WAV_INNER = {1: ("pcm_s16le", 2), 3: ("pcm_f32le", 4), 6: ("alaw", 1), 7: ("ulaw", 1)}


def _segment_arrow(win_ms: int, hop_ms: int):
    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from bdqc_spark.functions.audio import (
            CODECS,
            _binary_buffers,
            _parse_wav,
            decode_arrow_slice,
            encode,
        )

        for batch in batches:
            n = batch.num_rows
            barr = batch.column(batch.schema.get_field_index("bytes"))
            offsets, data = _binary_buffers(barr)
            nulls = pa.compute.is_null(barr).to_numpy(zero_copy_only=False)
            codec = batch.column(batch.schema.get_field_index("codec")).to_pylist()
            sr_arr = batch.column(batch.schema.get_field_index("sr_hz"))
            sr_null = pa.compute.is_null(sr_arr).to_numpy(zero_copy_only=False)
            sr = sr_arr.to_numpy(zero_copy_only=False)
            clip_ids = batch.column(batch.schema.get_field_index("clip_id")).to_pylist()

            src_idx: list[int] = []
            seg_id: list[str] = []
            seg_index: list[int] = []
            seg_bytes: list[bytes] = []
            seg_codec: list[str] = []
            seg_n: list[int] = []

            for i in range(n):
                if nulls[i] or codec[i] not in CODECS or sr_null[i] or not (sr[i] > 0):
                    continue
                rate = int(sr[i])
                win = max(rate * win_ms // 1000, 1)
                hop = max(rate * hop_ms // 1000, 1)
                s0, s1 = int(offsets[i]), int(offsets[i + 1])
                try:
                    if codec[i] == "wav":
                        info = _parse_wav(data, s0, s1)
                        inner, bps = _WAV_INNER[info["fmt_tag"]]
                        ch = info["channels"]
                        if ch == 1:
                            body0, body1 = info["data_start"], info["data_end"]
                            nsamp = (body1 - body0) // bps
                            buf, base, out_codec = data, body0, inner
                        else:
                            # multi-channel: one decode+downmix, then
                            # slice the mono pcm_s16le re-encode
                            pcm = decode_arrow_slice(data, s0, s1, "wav")
                            mono = np.frombuffer(encode(pcm, "pcm_s16le"), np.uint8)
                            buf, base, out_codec, bps = mono, 0, "pcm_s16le", 2
                            nsamp = pcm.shape[0]
                    else:
                        bps = _BPS[codec[i]]
                        # structural validity only (the fast path never
                        # decodes): length must be sample-aligned.
                        # Content-level checks (f32 finiteness) are the
                        # QC pipeline's job — segmentation runs on
                        # already-kept clips.
                        if (s1 - s0) <= 0 or (s1 - s0) % bps != 0:
                            continue
                        nsamp = (s1 - s0) // bps
                        buf, base, out_codec = data, s0, codec[i]
                except (ValueError, TypeError, KeyError):
                    continue
                k = 0
                start = 0
                while start + win <= nsamp:
                    lo = base + start * bps
                    sl = buf[lo : lo + win * bps]
                    src_idx.append(i)
                    seg_id.append(f"{clip_ids[i]}#{k}")
                    seg_index.append(k)
                    seg_bytes.append(sl.tobytes())
                    seg_codec.append(out_codec)
                    seg_n.append(win)
                    k += 1
                    start += hop

            passthrough = {
                name: batch.column(batch.schema.get_field_index(name)).take(
                    pa.array(src_idx, pa.int64())
                )
                for name in batch.schema.names
                if name != "bytes"
            }
            yield pa.RecordBatch.from_pydict(
                {
                    **passthrough,
                    "seg_id": pa.array(seg_id, pa.string()),
                    "seg_index": pa.array(seg_index, pa.int32()),
                    "seg_bytes": pa.array(seg_bytes, pa.binary()),
                    "seg_codec": pa.array(seg_codec, pa.string()),
                    "seg_n_samples": pa.array(seg_n, pa.int32()),
                    "seg_ms": pa.array([win_ms] * len(seg_id), pa.int32()),
                }
            )

    return run


def segment_clips(clips, win_ms: int = 1000, hop_ms: int | None = None):
    """clips(clip_id, bytes, sr_hz, codec [, ...]) → one row per
    fixed-length window. hop_ms defaults to win_ms (non-overlapping);
    set hop_ms < win_ms for overlapped windows. Passthrough columns
    are repeated per segment; `bytes` is consumed inside the stage
    and replaced by the per-segment `seg_bytes`."""
    if hop_ms is None:
        hop_ms = win_ms
    if win_ms <= 0 or hop_ms <= 0:
        raise ValueError("win_ms and hop_ms must be positive")
    from bdqc_spark.functions.audio import _signal_ddl

    return clips.mapInArrow(
        _segment_arrow(win_ms, hop_ms), f"{_signal_ddl(clips.schema, ())}, {SEGMENT_FIELDS}"
    )
