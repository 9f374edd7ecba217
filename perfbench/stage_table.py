"""Untimed set-up process: write staged clips into a new Iceberg-shaped
table with the program's own append and, optionally, complete a prior
pipeline run over it (the state an incremental run starts from).

    python3 perfbench/stage_table.py ROOT CLIPS.parquet TABLE BUCKETS [PRIOR_OUT]
"""

import os
import sys


def main() -> int:
    root, clips, table, buckets = sys.argv[1:5]
    prior_out = sys.argv[5] if len(sys.argv) > 5 else None
    sys.path.insert(0, root)
    os.environ["BDQC_WARM_START"] = "0"  # set-up is not measured
    from bdqc_spark.plans.pipeline import run_pipeline
    from bdqc_spark.session import build_session
    from bdqc_spark.sources.iceberg import IcebergishTable

    spark = build_session(app_name="perfbench-stage")
    tbl = IcebergishTable(table, num_buckets=int(buckets))
    tbl.append(spark.read.parquet(clips))
    if prior_out:
        run_pipeline(
            spark,
            tbl.read(spark),
            prior_out,
            input_snapshot=tbl.current_snapshot_id(),
            all_buckets=tbl.bucket_ids(),
        )
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
