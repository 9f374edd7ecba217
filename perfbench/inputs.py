"""Seeded input staging, cached by seed and size (untimed).

The clip generator is lazy inside Spark (`generate_clips_df`), so
appending its result straight into a table would put generator time
inside the measured append. Here clips are generated up front with the
repo's own per-clip generator (`synth.clips.generate_clips_pandas`,
a pure function of seed and clip index) in a small process pool, written
to parquet once, and the oracle labels are computed from the same rows.

Every cache entry is a directory with a `meta.json` written last; an
entry whose row counts do not match its meta is rebuilt.
"""

from __future__ import annotations

import json
import multiprocessing as mp
import os
import shutil
import sys
import time

import pyarrow as pa
import pyarrow.parquet as pq

# Clip payload columns the program reads; the generator's label columns
# (lang_true, anomaly) stay out of the program's input.
CLIP_COLUMNS = ["clip_id", "bytes", "sr_hz", "dur_ms", "codec", "transcript"]
CHUNK = 100


def _gen_chunk(args: tuple[str, int, int, int]) -> pa.Table:
    root, seed, start, n = args
    if root not in sys.path:
        sys.path.insert(0, root)
    from bdqc_spark.synth.clips import generate_clips_pandas

    pdf = generate_clips_pandas(n, seed=seed, start=start)[CLIP_COLUMNS]
    return pa.Table.from_pandas(pdf, preserve_index=False)


def write_clips(root: str, path: str, n: int, seed: int, start: int, procs: int) -> None:
    """Generate clips [start, start+n) of `seed` into one parquet file,
    with the program checked out at `root`."""
    chunks = [(root, seed, s, min(CHUNK, start + n - s)) for s in range(start, start + n, CHUNK)]
    with mp.get_context("spawn").Pool(max(1, min(procs, len(chunks)))) as pool:
        tables = pool.map(_gen_chunk, chunks)
    tbl = pa.concat_tables(tables)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(tbl, path + ".tmp", row_group_size=256)
    os.replace(path + ".tmp", path)


def write_golden(clip_files: list[str], path: str) -> None:
    """Oracle keep/drop + scrubbed transcript for the union of clip files."""
    from bdqc_spark.synth.oracle import oracle_labels

    clips = pa.concat_tables([pq.read_table(p) for p in clip_files]).to_pandas()
    golden = oracle_labels(clips)[["clip_id", "keep", "scrubbed_transcript"]]
    pq.write_table(pa.Table.from_pandas(golden, preserve_index=False), path + ".tmp")
    os.replace(path + ".tmp", path)


def parquet_rows(path: str) -> int:
    return pq.ParquetFile(path).metadata.num_rows


def table_rows(table_dir: str) -> int:
    meta = os.path.join(table_dir, "metadata")
    with open(os.path.join(meta, "version-hint.txt")) as f:
        sid = f.read().strip()
    with open(os.path.join(meta, f"snap-{sid}.json")) as f:
        return int(json.load(f)["summary"]["total_rows"])


class Cache:
    """`<root>/<kind>/<key>/` entries, at most `keep` per kind (least
    recently used go first)."""

    def __init__(self, root: str, keep: int = 4):
        self.root, self.keep = root, keep

    def entry(self, kind: str, key: str, expect: dict, build) -> str:
        d = os.path.join(self.root, kind, key)
        meta = os.path.join(d, "meta.json")
        if os.path.exists(meta):
            with open(meta) as f:
                have = json.load(f)
            if have.get("rows") == expect and self._rows_ok(d, expect):
                os.utime(meta)
                return d
        shutil.rmtree(d, ignore_errors=True)
        self._evict(kind)
        os.makedirs(d)
        t0 = time.time()
        build(d)
        if not self._rows_ok(d, expect):
            raise RuntimeError(f"staged {kind}/{key} has wrong row counts, expected {expect}")
        with open(meta, "w") as f:
            json.dump({"rows": expect, "build_s": time.time() - t0}, f)
        return d

    @staticmethod
    def _rows_ok(d: str, expect: dict) -> bool:
        for rel, n in expect.items():
            p = os.path.join(d, rel)
            if not os.path.exists(p):
                return False
            got = table_rows(p) if os.path.isdir(p) else parquet_rows(p)
            if got != n:
                return False
        return True

    def _evict(self, kind: str) -> None:
        base = os.path.join(self.root, kind)
        if not os.path.isdir(base):
            return
        entries = []
        for name in os.listdir(base):
            meta = os.path.join(base, name, "meta.json")
            entries.append((os.path.getmtime(meta) if os.path.exists(meta) else 0.0, name))
        for _mt, name in sorted(entries)[: max(len(entries) - self.keep + 1, 0)]:
            shutil.rmtree(os.path.join(base, name), ignore_errors=True)
