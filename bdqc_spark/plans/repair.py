"""Repair stage: fix flagged clips in place instead of only dropping
them.

The reference pipeline profiles and FLAGS (SURVEY.md §2 A10/A11);
a Spark-first training-data pipeline can close the loop: several
drop reasons are mechanical defects with known rewrites —

    audio.low_speech   → VAD silence trim   (padding, not absence)
    audio.dc_offset    → DC removal         (subtract the mean)
    audio.clipping     → declip             (cubic reconstruction of
                                             railed runs, functions/declip.py)
    robust_z.rms       → loudness normalize (gain to target LUFS)

A clip is repair-ELIGIBLE when it was dropped, at least one of its
rule hits is repairable, and none of its hits is audio-fatal
(audio.decode_failed / audio.silent / meta.sr_invalid — nothing to
rewrite, or the metadata itself lies). Passes apply in the fixed
order dc → declip → trim → normalize (each corrects what the next one
measures: DC skews both the VAD energies and the loudness gate), in
ONE decode→rewrite→encode Arrow pass per clip — not a chain of the
three standalone passes, which would decode three times.

Scale shape: the eligible set is a small fraction of the corpus
(flagged ∧ repairable); `repair_clips` inner-joins that KB-per-
partition plan into the clips scan on clip_id, so only eligible rows
ever reach the Arrow stage, bytes stay map-side, and the join is the
pipeline's existing hash-partitioned key. `repair_and_redecide`
re-profiles ONLY the repaired rows and re-runs `decide` against the
SAME cohort model snapshot — the honest measure of a repair: does
the original gate now pass (`now_keep`), with no model refit that
could move the goalposts.
"""

from __future__ import annotations

from functools import partial

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bdqc_spark.functions.audio import _rewritten, signal_pass
from bdqc_spark.functions.normalize import normalize_gain, trim_silence

# rule_id → repair pass
REPAIRABLE = {
    "audio.low_speech": "trim",
    "audio.dc_offset": "dc",
    "audio.clipping": "declip",
    "robust_z.rms": "normalize",
}
# hits that make a clip unrepairable regardless of other hits
FATAL = ("audio.decode_failed", "audio.silent", "meta.sr_invalid")
# declip runs after dc (DC shifts what counts as a rail hit is not an
# issue — rails are absolute — but reconstruction anchors should be
# DC-corrected) and before trim/normalize (which re-measure energy)
PASS_ORDER = ("dc", "declip", "trim", "normalize")

REPAIR_FIELDS = (
    ("bytes", pa.binary(), None),
    ("sr_hz", pa.int32(), 0),
    ("dur_ms", pa.int32(), 0),
    ("codec", pa.string(), None),
    ("repair_ok", pa.bool_(), False),
    ("passes_applied", pa.string(), None),
)

def repair_plan(decisions: DataFrame) -> DataFrame:
    """decisions(clip_id, keep, rule_hits, ...) → (clip_id, passes)
    for repair-eligible clips. Pure Catalyst — array ops on the
    KB-sized rule vocabulary, no UDFs."""
    repair_map = F.create_map(
        *[F.lit(x) for kv in REPAIRABLE.items() for x in kv]
    )
    passes = F.array_distinct(
        F.transform(
            F.filter(F.col("rule_hits"), lambda h: h.isin(*REPAIRABLE)),
            lambda h: F.element_at(repair_map, h),
        )
    )
    fatal = F.exists(F.col("rule_hits"), lambda h: h.isin(*FATAL))
    return (
        decisions.where(~F.col("keep") & ~fatal)
        .withColumn("passes", passes)
        .where(F.size("passes") > 0)
        .select("clip_id", "passes")
    )


def _repair_signal(
    pcm: np.ndarray, sr: int, passes: list | None, target_lufs: float, pad_ms: int
) -> dict:
    want = set(passes or ())
    done = []
    if "dc" in want:
        pcm = (pcm - np.float32(pcm.mean())) if pcm.size else pcm
        done.append("dc")
    if "declip" in want:
        from bdqc_spark.functions.declip import declip as _declip

        pcm, dst = _declip(pcm)
        # fail-open: a fully-railed clip has no anchor
        # samples — leave it for the drop path
        if dst["ok"] and dst["n_fixed"] > 0:
            done.append("declip")
    if "trim" in want:
        trimmed, _, _ = trim_silence(pcm, sr, pad_ms)
        # fail-open: an all-silent clip has nothing to
        # keep — leave it for the drop path
        if trimmed.size:
            pcm = trimmed
            done.append("trim")
    if "normalize" in want:
        pcm, _, _, _ = normalize_gain(pcm, sr, target_lufs)
        done.append("normalize")
    return {
        **_rewritten(pcm, sr),
        "dur_ms": int(round(pcm.shape[0] * 1000.0 / sr)),
        "passes_applied": ",".join(done),
    }


def repair_clips(
    clips: DataFrame,
    decisions: DataFrame,
    target_lufs: float = -23.0,
    pad_ms: int = 100,
) -> DataFrame:
    """clips × decisions → repaired rows (eligible clips only), with
    rewritten pcm_s16le payloads, recomputed dur_ms, and the audit
    trail of passes actually applied."""
    eligible = clips.join(repair_plan(decisions), on="clip_id", how="inner")
    fn = partial(_repair_signal, target_lufs=target_lufs, pad_ms=pad_ms)
    return signal_pass(
        eligible, fn, REPAIR_FIELDS, "repair_ok", extra=("passes",), drop=("passes",)
    )


def redecide_repaired(fixed: DataFrame, cohort_models: DataFrame) -> DataFrame:
    """Repaired (repair_ok) rows → re-profiled and re-decided against
    the SAME cohort model snapshot → (clip_id, passes_applied,
    now_keep, rule_hits_after). Split out so a sink can write the
    rewritten payloads ONCE and run the report off the written data
    (one Arrow rewrite pass total)."""
    from bdqc_spark.plans.decide import decide
    from bdqc_spark.plans.profile import profile_clips

    audit = fixed.select("clip_id", "passes_applied")
    cols = [c for c in ("clip_id", "bytes", "sr_hz", "dur_ms", "codec", "transcript")
            if c in fixed.columns]
    profiles = profile_clips(fixed.select(*cols))
    redecided = decide(profiles, cohort_models).select(
        "clip_id",
        F.col("keep").alias("now_keep"),
        F.col("rule_hits").alias("rule_hits_after"),
    )
    return audit.join(redecided, on="clip_id", how="inner")


def repair_and_redecide(
    clips: DataFrame,
    decisions: DataFrame,
    cohort_models: DataFrame,
    target_lufs: float = -23.0,
    pad_ms: int = 100,
) -> DataFrame:
    """The honest repair report: repair + redecide_repaired composed."""
    repaired = repair_clips(clips, decisions, target_lufs, pad_ms)
    return redecide_repaired(repaired.where(F.col("repair_ok")), cohort_models)
