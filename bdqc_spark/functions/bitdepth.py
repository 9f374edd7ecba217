"""Per-clip effective bit-depth estimation (requantization QC).

A catalog says ``pcm_s16le``, but was the source really 16-bit?
8-bit material upscaled to 16 (a common lossy-ancestry tell in
scraped audio) lands every sample on a coarse grid: ``x << 8`` makes
every value a multiple of 256, and the replicate conversion
``x * 257`` a multiple of 257. The GCD of the nonzero sample values
exposes both — for genuinely 16-bit content (noise floor, dither)
the GCD collapses to 1 after a handful of samples, so false
positives are ~2^-n in the sample count.

Reported: ``value_gcd``, ``effective_bits`` = round(16 - log2(gcd))
(the bit width of the implied grid), and ``requantized`` =
effective_bits <= REQUANT_BITS_MAX. Honest scope, documented:

- Only the ``pcm_s16le`` wire format carries the raw int16 grid this
  analysis needs; companded codecs (u/A-law are 8-bit wire with a
  14/13-bit decode grid BY DESIGN) and float payloads have no hidden
  16-bit grid to test — they report ``bd_ok=false`` (no evidence),
  never a fake verdict.
- Dithered upconversions randomize the low bits and are invisible to
  a grid test (any detector would need noise-floor spectral
  analysis); this op detects the undithered shift/replicate paths,
  which are what bulk transcode pipelines emit.

Execution contract is the profile/snr one: one ``mapInArrow`` pass,
zero-copy int16 views over the Arrow buffer, only scalars shuffle.
"""

from __future__ import annotations

import math

import numpy as np
import pyarrow as pa

from bdqc_spark.functions.audio import signal_pass

BD_MIN_SAMPLES = 512  # gcd false-positive odds ~2^-512 on real noise
REQUANT_BITS_MAX = 12


def bitdepth_stats(ints: np.ndarray) -> dict | None:
    """{'value_gcd', 'effective_bits', 'requantized'} from int16
    samples, or None (too few samples / digital silence)."""
    if ints.shape[0] < BD_MIN_SAMPLES:
        return None
    nz = ints[ints != 0].astype(np.int32)
    if nz.shape[0] < BD_MIN_SAMPLES // 2:
        return None  # (near-)silence: no grid evidence
    g = int(np.gcd.reduce(np.abs(nz)))
    eff = int(round(16 - math.log2(g))) if g > 0 else 16
    eff = max(1, min(16, eff))
    return {
        "value_gcd": g,
        "effective_bits": eff,
        "requantized": eff <= REQUANT_BITS_MAX,
    }


_BD_FIELDS = (
    ("bd_ok", pa.bool_(), False),
    ("value_gcd", pa.int32(), 0),
    ("effective_bits", pa.int32(), 0),
    ("requantized", pa.bool_(), False),
)


def _s16_samples(data: np.ndarray, start: int, end: int, codec: str) -> np.ndarray:
    """Zero-copy int16 view of a pcm_s16le payload; the int16 wire
    domain only (module docstring: honest scope)."""
    if codec != "pcm_s16le" or (end - start) % 2 != 0:
        raise ValueError("bit depth needs an even-length pcm_s16le payload")
    return data[start:end].view("<i2")


def _bd_signal(ints: np.ndarray, sr: int | None) -> dict | None:
    return bitdepth_stats(ints)


def clip_bitdepth(clips):
    """clips(bytes, codec, …) → per-clip bit-depth signals. Same
    execution contract as the profile stage (module docstring)."""
    return signal_pass(
        clips, _bd_signal, _BD_FIELDS, "bd_ok", need_sr=False, decode=_s16_samples
    )
