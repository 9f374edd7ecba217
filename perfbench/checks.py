"""Output-correctness gates.

Pipeline workloads: a run's `decisions` state table against the
single-node oracle (`synth.oracle.oracle_labels`) on the same clips.
Query workload: a query's rows against its DuckDB oracle SQL, compared
order-insensitively in the canonical form of the repo's own oracle
check (`tools/check_oracle.canon`).
"""

from __future__ import annotations

import glob
import os

import pandas as pd
import pyarrow.dataset as ds

MIN_F1 = 0.99


def same_rows(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when equal, else what differs."""
    from tools.check_oracle import canon  # the program root is on sys.path

    if len(got) != len(want):
        return f"row count {len(got)} vs oracle {len(want)}"
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} vs oracle {sorted(want.columns)}"
    a, b = canon(got), canon(want)
    bad = (a != b).any(axis=1)
    if bad.any():
        i = int(bad.idxmax())
        return f"{int(bad.sum())} rows differ, first: {a.iloc[i].to_dict()} vs {b.iloc[i].to_dict()}"
    return None


def read_decisions(out_dir: str) -> pd.DataFrame:
    files = sorted(glob.glob(os.path.join(out_dir, "decisions", "bucket=*", "*.parquet")))
    return (
        ds.dataset(files, format="parquet")
        .to_table(columns=["clip_id", "keep", "scrubbed_transcript"])
        .to_pandas()
    )


def pipeline_gate(decisions: pd.DataFrame, golden: pd.DataFrame, table_rows: int) -> dict:
    """Keep/drop F1 (drop is the positive class) >= MIN_F1, scrubbed
    transcripts equal on rows both sides keep, one decision per row of
    the input table."""
    m = decisions.merge(golden, on="clip_id", suffixes=("_e", "_g"))
    drop_e, drop_g = ~m.keep_e.astype(bool), ~m.keep_g.astype(bool)
    tp = int((drop_e & drop_g).sum())
    fp = int((drop_e & ~drop_g).sum())
    fn = int((~drop_e & drop_g).sum())
    f1 = 2 * tp / max(2 * tp + fp + fn, 1)
    both = m[~drop_e & ~drop_g]
    scrub_mismatch = int((both.scrubbed_transcript_e != both.scrubbed_transcript_g).sum())
    problems = []
    if len(decisions) != table_rows or decisions.clip_id.nunique() != table_rows:
        problems.append(f"{len(decisions)} decisions for {table_rows} table rows")
    if len(m) != len(golden):
        problems.append(f"{len(golden) - len(m)} oracle rows without a decision")
    if f1 < MIN_F1:
        problems.append(f"keep/drop F1 {f1:.4f} < {MIN_F1}")
    if scrub_mismatch:
        problems.append(f"{scrub_mismatch} scrubbed transcripts differ")
    return {
        "ok": not problems,
        "f1": f1,
        "decisions": len(decisions),
        "table_rows": table_rows,
        "kept": int((~drop_e).sum()),
        "scrub_mismatch": scrub_mismatch,
        "problems": problems,
    }
