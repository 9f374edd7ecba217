"""Audio operator parity: run every audio operator of one checkout on a
seeded corpus and write one sha256 per operator output (rows sorted by
clip_id, serialized as one Arrow IPC stream).

    python tools/audio_parity.py CHECKOUT OUT_JSON [N_CLIPS] [SEED]

Run it once per checkout (e.g. a refactor and its parent) with the same
N_CLIPS/SEED and compare the two JSON files: equal hashes mean
byte-identical outputs. The corpus is `generate_clips_pandas(N, SEED)`
with ~10% of clips re-encoded as FLAC and ~3% as stereo WAV, plus
injected null/zero sr_hz, null bytes, an unknown codec, truncated and
one-byte-short payloads, and null/unparseable subtitles.
"""
import hashlib
import json
import sys


def main(argv: list[str]) -> None:
    repo, out_json = argv[0], argv[1]
    n = int(argv[2]) if len(argv) > 2 else 500
    seed = int(argv[3]) if len(argv) > 3 else 2026
    sys.path.insert(0, repo)

    import numpy as np
    import pyarrow as pa

    from bdqc_spark.functions import audio
    from bdqc_spark.functions.subtitles import build_srt
    from bdqc_spark.session import build_session
    from bdqc_spark.synth.clips import generate_clips_pandas

    spark = build_session(app_name="parity", master="local[4]", shuffle_partitions=8)

    pdf = generate_clips_pandas(n, seed=seed).reset_index(drop=True)
    pdf = pdf[["clip_id", "bytes", "sr_hz", "dur_ms", "codec", "transcript"]].copy()
    rng = np.random.default_rng(seed)
    subs = []
    for i in range(len(pdf)):
        u = rng.random()
        raw, codec, sr = pdf.at[i, "bytes"], pdf.at[i, "codec"], int(pdf.at[i, "sr_hz"])
        if 0.0 <= u < 0.10:  # re-encode as FLAC (absent from the synth mix)
            try:
                pdf.at[i, "bytes"] = audio.encode(audio.decode(bytes(raw), codec), "flac", sr=sr)
                pdf.at[i, "codec"] = "flac"
            except ValueError:
                pass
        elif 0.10 <= u < 0.13:  # stereo WAV
            try:
                x = audio.decode(bytes(raw), codec)
                pdf.at[i, "bytes"] = audio.encode_wav(x, sr, channels=2)
                pdf.at[i, "codec"] = "wav"
            except ValueError:
                pass
        elif 0.13 <= u < 0.16:
            pdf.at[i, "sr_hz"] = None
        elif 0.16 <= u < 0.19:
            pdf.at[i, "bytes"] = None
        elif 0.19 <= u < 0.22:
            pdf.at[i, "codec"] = "mp3x"
        elif 0.22 <= u < 0.25:
            pdf.at[i, "bytes"] = bytes(raw)[: int(rng.integers(1, 64))]  # truncated
        elif 0.25 <= u < 0.28:
            pdf.at[i, "bytes"] = bytes(raw)[:-1]  # one byte short
        elif 0.28 <= u < 0.30:
            pdf.at[i, "sr_hz"] = 0
        v = rng.random()
        if v < 0.1:
            subs.append(None)
        elif v < 0.15:
            subs.append("not a subtitle")
        else:
            t0 = int(rng.integers(0, 800))
            subs.append(build_srt([{"start_ms": t0, "end_ms": t0 + 700, "text": "hi"},
                                   {"start_ms": t0 + 900, "end_ms": t0 + 1500, "text": "yo"}]))
    pdf["subtitle"] = subs
    pdf["sr_hz"] = pdf["sr_hz"].astype("Int32")
    clips = spark.createDataFrame(
        pdf,
        "clip_id string, bytes binary, sr_hz int, dur_ms int, codec string, "
        "transcript string, subtitle string",
    ).repartition(4, "clip_id").cache()
    print("rows", clips.count(), "codecs", sorted(pdf.codec.unique()))

    from pyspark.sql import functions as F

    hits = F.element_at(
        F.array(
            F.array(F.lit("audio.dc_offset")),
            F.array(F.lit("audio.clipping"), F.lit("robust_z.rms")),
            F.array(F.lit("audio.low_speech")),
            F.array(F.lit("audio.dc_offset"), F.lit("audio.low_speech"), F.lit("robust_z.rms")),
            F.array(F.lit("audio.silent")),
        ),
        (F.abs(F.xxhash64("clip_id")) % 5 + 1).cast("int"),
    )
    decisions = clips.select("clip_id", F.lit(False).alias("keep"), hits.alias("rule_hits"))

    from bdqc_spark.functions.align import envelope_clips
    from bdqc_spark.functions.audio_features import extract_audio_features
    from bdqc_spark.functions.audio_fingerprint import fingerprint_clips
    from bdqc_spark.functions.augment import augment_noise, augment_speed, augment_tempo
    from bdqc_spark.functions.bitdepth import clip_bitdepth
    from bdqc_spark.functions.channels import clips_channel_stats
    from bdqc_spark.functions.clipping import clip_clipping
    from bdqc_spark.functions.cue_align import cue_alignment
    from bdqc_spark.functions.denoise import clip_denoise
    from bdqc_spark.functions.loops import clip_loops
    from bdqc_spark.functions.loudness import clip_loudness
    from bdqc_spark.functions.music import clip_music
    from bdqc_spark.functions.normalize import clip_normalize, clip_trim_silence
    from bdqc_spark.functions.pitch import clip_pitch
    from bdqc_spark.functions.resample import resample_clips
    from bdqc_spark.functions.room import clip_room
    from bdqc_spark.functions.segment import segment_clips
    from bdqc_spark.functions.snr import clip_snr
    from bdqc_spark.plans.profile import profile_clips
    from bdqc_spark.plans.repair import repair_clips

    no_sub = clips.drop("subtitle")
    ops = {
        "profile_clips": lambda: profile_clips(no_sub),
        "extract_audio_features": lambda: extract_audio_features(no_sub),
        "fingerprint_clips": lambda: fingerprint_clips(no_sub),
        "envelope_clips": lambda: envelope_clips(no_sub),
        "clip_snr": lambda: clip_snr(no_sub),
        "clip_pitch": lambda: clip_pitch(no_sub),
        "clip_music": lambda: clip_music(no_sub),
        "clip_loudness": lambda: clip_loudness(no_sub),
        "clip_loops": lambda: clip_loops(no_sub),
        "clip_room": lambda: clip_room(no_sub),
        "clip_clipping": lambda: clip_clipping(no_sub),
        "clip_bitdepth": lambda: clip_bitdepth(no_sub),
        "clip_denoise": lambda: clip_denoise(no_sub),
        "clip_denoise_emit": lambda: clip_denoise(no_sub, emit_bytes=True),
        "clip_normalize": lambda: clip_normalize(no_sub),
        "clip_trim_silence": lambda: clip_trim_silence(no_sub),
        "resample_clips": lambda: resample_clips(no_sub),
        "augment_speed": lambda: augment_speed(no_sub),
        "augment_tempo": lambda: augment_tempo(no_sub),
        "augment_noise": lambda: augment_noise(no_sub, seed=7),
        "cue_alignment": lambda: cue_alignment(clips),
        "repair_clips": lambda: repair_clips(no_sub, decisions),
        "segment_clips": lambda: segment_clips(no_sub, 250, 200),
        "clips_channel_stats": lambda: clips_channel_stats(no_sub),
    }

    res = {}
    sort_key = {"segment_clips": ["clip_id", "seg_index"]}
    for name, op in ops.items():
        df = op()
        tbl = df.orderBy(*sort_key.get(name, ["clip_id"])).toArrow().combine_chunks()
        sink = pa.BufferOutputStream()
        with pa.ipc.new_stream(sink, tbl.schema) as w:
            w.write_table(tbl)
        h = hashlib.sha256(sink.getvalue().to_pybytes()).hexdigest()
        okc = [c for c in tbl.column_names if c.endswith("_ok")]
        n_ok = int(pa.compute.sum(tbl.column(okc[0])).as_py() or 0) if okc else None
        res[name] = {"sha256": h, "rows": tbl.num_rows, "ok": n_ok, "schema": str(tbl.schema)}
        print(name, tbl.num_rows, n_ok, h[:16], flush=True)
    json.dump(res, open(out_json, "w"), indent=1)
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1:])
