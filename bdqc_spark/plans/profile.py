"""Stage 1 — per-clip profiling (SURVEY.md §3.2 stage 1).

The bdqc analogue is calcSignatures (lib/BDQC/KB.pm →
FileSignature/{Generic,Text,Binary}.pm, reconstructed): one pass per
file computing the nested signature map. Here: ONE map-side stage
over the clips table producing `audio`, `text`, `lang` structs —
no shuffle, and `bytes` is consumed *inside* this stage and never
materialized past it (column pruning keeps it out of every
downstream plan — the single most important property at 100 TB).

Python crossing: exactly ONE `mapInArrow` pass. The audio payloads
are decoded by the shared audio kernel
(bdqc_spark.functions.audio._signal_batches) from zero-copy numpy
views over the Arrow binary buffers — no per-row
PyBytes objects, no pandas object columns; measured ~2× faster than
the equivalent pandas UDF on this column (BENCH.md). langid +
perplexity share the same pass (and its text-encode work). Text
composition stats stay in Catalyst (whole-stage codegen).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bdqc_spark.functions import text as T
from bdqc_spark.functions.audio import (
    _parse_wav,
    _signal_batches,
    _signal_ddl,
    bandwidth_ratio,
    speech_ratio,
)
from bdqc_spark.functions.flac import _parse_stream_header as _flac_header

_AUDIO_FIELDS = (
    ("pcm_ok", pa.bool_(), False),
    ("n_samples", pa.int32(), 0),
    ("dur_ms_decoded", pa.int32(), 0),
    ("rms", pa.float64(), 0.0),
    ("peak", pa.float64(), 0.0),
    ("clip_rate", pa.float64(), 0.0),
    ("dc_off", pa.float64(), 0.0),
    ("hdr_sr", pa.int32(), 0),
    ("speech_ratio", pa.float64(), 0.0),
    ("bw_ratio", pa.float64(), 1.0),  # 1.0 = full band / no evidence
)
_LANG_FIELDS = "lang_pred string, lang_conf double, ppl double"


def _audio_signature(pcm: np.ndarray, sr: int, codec: str, raw: np.ndarray) -> dict:
    ns = pcm.shape[0]
    out = {"n_samples": ns, "dur_ms_decoded": int(round(ns * 1000.0 / sr))}
    if ns:
        # fused, allocation-free stats (measured 65→32 µs/clip
        # vs the abs/square temporaries): BLAS dot for the
        # energy, min/max for peak, count_nonzero for clips.
        # float32 dot accumulation differs from the float64
        # mean-of-squares by ~1e-7 relative — orders of
        # magnitude inside the z≥6 decision margins; the
        # single-node oracle uses the IDENTICAL formula
        # (synth/oracle.py) so engine and oracle cannot drift.
        mx, mn = float(pcm.max()), float(pcm.min())
        out["rms"] = float(np.sqrt(float(np.dot(pcm, pcm)) / ns))
        out["peak"] = max(mx, -mn)
        out["clip_rate"] = (
            int(np.count_nonzero(pcm >= 0.999)) + int(np.count_nonzero(pcm <= -0.999))
        ) / ns
        out["dc_off"] = float(pcm.sum(dtype=np.float64)) / ns
        out["speech_ratio"] = speech_ratio(pcm, sr)
        out["bw_ratio"] = bandwidth_ratio(pcm, sr)
    if codec == "wav":
        # decode succeeded so the header re-parse cannot fail;
        # surfaces the container's own sample rate for the
        # audio.hdr_sr_mismatch catalog cross-check
        out["hdr_sr"] = _parse_wav(raw, 0, raw.shape[0])["hdr_sr"]
    elif codec == "flac":
        # same cross-check from the FLAC STREAMINFO block
        out["hdr_sr"] = _flac_header(raw)[0]["sr"]
    return out


def _profile_arrow(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    # Worker-side imports; models are lru_cached per worker process.
    from bdqc_spark.functions.langid import predict_batch
    from bdqc_spark.functions.lm import perplexity_batch

    for out in _signal_batches(
        batches, _audio_signature, _AUDIO_FIELDS, "pcm_ok", extra=("codec", "bytes")
    ):
        transcripts = out.column("transcript").to_pandas()
        lang = predict_batch(transcripts)
        ppl = perplexity_batch(transcripts)
        yield pa.RecordBatch.from_arrays(
            out.columns
            + [
                pa.array(lang["pred"].to_numpy(), pa.string()),
                pa.array(lang["conf"].to_numpy(), pa.float64()),
                pa.array(ppl),  # +inf for no-evidence rows (Arrow-safe)
            ],
            names=out.schema.names + ["lang_pred", "lang_conf", "ppl"],
        )


def _profile_ddl(clips: DataFrame) -> str:
    return f"{_signal_ddl(clips.schema, _AUDIO_FIELDS)}, {_LANG_FIELDS}"


def _nest_profile(flat: DataFrame, keep: list[str]) -> DataFrame:
    return flat.select(
        *keep,
        F.struct(
            F.col("pcm_ok"),
            F.col("n_samples"),
            F.col("dur_ms_decoded"),
            F.col("rms"),
            F.col("peak"),
            F.col("clip_rate"),
            F.col("dc_off"),
            F.col("hdr_sr"),
            F.col("speech_ratio"),
            F.col("bw_ratio"),
        ).alias("audio"),
        T.profile_struct(F.col("transcript")).alias("text"),
        F.struct(
            F.col("lang_pred").alias("pred"),
            F.col("lang_conf").alias("conf"),
            F.col("ppl"),
        ).alias("lang"),
    )


def profile_clips(clips: DataFrame) -> DataFrame:
    """clips(clip_id, bytes, sr_hz, dur_ms, codec, transcript [,bucket])
    → profiles(clip_id, sr_hz, dur_ms, codec, transcript [,bucket],
               audio struct, text struct, lang struct)
    """
    keep = [c for c in clips.columns if c != "bytes"]
    flat = clips.mapInArrow(_profile_arrow, _profile_ddl(clips))
    return _nest_profile(flat, keep)


# --------------------------------------------------------------------------
# Direct-read fast path: workers read their own parquet files
# --------------------------------------------------------------------------
def direct_scan_files(clips: DataFrame, buckets: list[int] | None = None) -> list | None:
    """[(path, bucket), ...] when `clips` is a PLAIN manifest scan of
    bucket-partitioned parquet (the IcebergishTable.read shape), else
    None. The gate is strict: the analyzed plan must be a bare
    LogicalRelation (no Project/Filter — e.g. with_bucket's computed
    bucket column disqualifies, because there file↛bucket) and every
    file must live under a bucket=N partition directory."""
    import re

    import pyarrow.parquet as pq

    try:
        plan = clips._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() != "LogicalRelation":
            return None
        files = clips.inputFiles()
    except Exception:
        return None
    if not files:
        return None
    want = None if buckets is None else {int(b) for b in buckets}
    need = {c for c in clips.columns if c != "bucket"}
    out = []
    for f in files:
        m = re.search(r"bucket=(\d+)/[^/]+$", f)
        if m is None:
            return None
        b = int(m.group(1))
        if want is None or b in want:
            path = re.sub(r"^file:/{0,2}(?=/)", "", f)
            # Evolved-schema guard: a file written before an added
            # column would crash the worker-side column projection
            # (the JVM path surfaces such columns as null) — one
            # driver-side footer read per file, fall back if any file
            # lacks a needed column.
            try:
                have = set(pq.read_schema(path).names)
            except Exception:
                return None
            if not need <= have:
                return None
            out.append((path, b))
    return out


def profile_clips_direct(spark, files: list, clips: DataFrame) -> DataFrame:
    """profile_clips over an explicit (path, bucket) file list: each
    task OPENS AND DECODES ITS OWN parquet file with pyarrow
    (row-group streaming, single-threaded per task — 32 concurrent
    tasks already saturate the box) and runs the exact
    `_profile_arrow` computation on the file's batches, so the values
    are bit-identical to profile_clips(read(files)); only the
    transport of `bytes` changes. The audio payload goes parquet →
    Arrow → numpy views inside ONE process: it never crosses the JVM
    columnar reader or the JVM→Python Arrow socket, which an A/B
    probe showed was ~90% of the profile stage's cost (a pass-through
    mapInArrow over the JVM scan of the 15 GB bench corpus took
    12.9s; the Python compute itself only +1.5s on top). One input
    row per partition → one task per file — the same one-shard-one-
    task shape as the WebDataset source, and at 100 TB the standard
    native-scan integration: the manifest plans, and the worker that
    consumes the bytes is the one that reads them."""
    file_order = [c for c in clips.columns if c != "bucket"]
    keep = [c for c in clips.columns if c != "bytes"]

    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        import pyarrow.parquet as pq

        for b in batches:
            paths = b.column(0).to_pylist()
            buckets = b.column(1).to_pylist()
            for path, bucket in zip(paths, buckets):
                pf = pq.ParquetFile(path)
                try:
                    for rb in pf.iter_batches(
                        batch_size=256, columns=file_order, use_threads=False
                    ):
                        # Column order pinned to the declared schema
                        # (passthrough order follows the input batch),
                        # with `bucket` LAST. That matches `clips`
                        # because Spark's partitioned read of the table
                        # always puts the partition column last, even
                        # when the first append carried `bucket`
                        # mid-schema (IcebergishTable.read; pinned by
                        # tests/test_direct_profile.py).
                        rb = pa.RecordBatch.from_arrays(
                            [rb.column(n) for n in file_order]
                            + [pa.array([bucket] * rb.num_rows, pa.int32())],
                            names=file_order + ["bucket"],
                        )
                        yield from _profile_arrow(iter([rb]))
                finally:
                    pf.close()

    rows = [(p, int(b)) for p, b in files]
    fdf = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, max(len(rows), 1)),
        "path string, bucket int",
    )
    flat = fdf.mapInArrow(gen, _profile_ddl(clips))
    return _nest_profile(flat, keep)
