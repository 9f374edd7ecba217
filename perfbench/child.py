"""One cold benchmark process: the calls a `run_pipeline.py` user's
process makes, or the registry queries, each timed from the outside.

    python3 perfbench/child.py SPEC.json

SPEC (written by run.py) names the workload, the program root, the
staged inputs and where to write the result. The result records epoch
timestamps for every phase so run.py can place them against the
moment it spawned this process. Nothing here is measured by the
program itself except the `stage_seconds` that run_pipeline returns.
"""

import time

T_MAIN = time.time()

import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402


class Steps:
    """Timed steps; each one runs under its own Spark job group when
    tracing so the event log can be split by step."""

    def __init__(self, spark, traced: bool):
        self.spark, self.traced, self.rows = spark, traced, []

    def run(self, name: str, fn, **attrs):
        if self.traced:
            self.spark.sparkContext.setJobGroup(name, name)
        t0 = time.time()
        try:
            out = fn()
            self.rows.append({"name": name, "t0": t0, "t1": time.time(), "ok": True, **attrs})
            return out
        except Exception as e:  # recorded as a failed operation
            self.rows.append(
                {"name": name, "t0": t0, "t1": time.time(), "ok": False,
                 "error": f"{type(e).__name__}: {e}"[:2000], **attrs}
            )
            traceback.print_exc()
            return None


def _pipeline(spec: dict, res: dict) -> None:
    t = time.time()
    from bdqc_spark.plans.pipeline import run_pipeline
    from bdqc_spark.session import build_session
    from bdqc_spark.sources.iceberg import IcebergishTable

    res["t_import"] = (t, time.time())
    t = time.time()
    spark = build_session(app_name="bdqc-pipeline", extra_conf=spec.get("extra_conf"))
    res["t_build"] = (t, time.time())
    t = time.time()
    tbl = IcebergishTable(spec["table"])
    if not tbl.exists():
        raise SystemExit(f"no snapshot at {spec['table']}")
    res["t_open"] = (t, time.time())
    steps = Steps(spark, spec.get("traced", False))
    res["steps"] = steps.rows
    ok = steps.run("append", lambda: tbl.append(spark.read.parquet(spec["batch"]))) is not None

    def plan():
        snapshot = tbl.current_snapshot_id()
        return snapshot, tbl.read(spark), tbl.bucket_ids()

    planned = steps.run("plan", plan) if ok else None
    if planned is not None:
        snapshot, clips, buckets = planned
        result = steps.run(
            "run_pipeline",
            lambda: run_pipeline(spark, clips, spec["out"], input_snapshot=snapshot, all_buckets=buckets),
            op=True,
        )
        if result is not None:
            res["pipeline"] = {
                "stage_seconds": result.stage_seconds,
                "processed_buckets": result.processed_buckets,
                "drift_flagged": result.drift_flagged,
                "snapshot": snapshot,
            }
    res["t_work_end"] = time.time()
    spark.stop()


def _queries(spec: dict, res: dict) -> None:
    t = time.time()
    import __spark_entry__ as entry
    from bdqc_spark.session import build_session
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    res["t_import"] = (t, time.time())
    t = time.time()
    spark = build_session(app_name="bdqc-bench", extra_conf=spec.get("extra_conf"))
    res["t_build"] = (t, time.time())
    t = time.time()
    qs, oracles = entry.queries(), entry.oracle_sql()
    missing = [q for q in spec["queries"] if q not in qs]
    if missing:
        raise SystemExit(f"queries missing from the registry: {missing}")
    res["t_open"] = (t, time.time())
    steps = Steps(spark, spec.get("traced", False))
    res["steps"] = steps.rows
    data = spec["data"]
    last = spec["rounds"] - 1
    observed = {}

    def run_query(q: str, r: int) -> None:
        df = qs[q](spark, data)
        if r == last and q not in oracles:
            # A query without oracle SQL is checked by the row count of
            # its last timed run, counted in its own plan.
            obs = Observation(f"rows_{q}")
            df = df.observe(obs, F.count(F.lit(1)).alias("rows"))
        df.write.format("noop").mode("overwrite").save()
        if r == last and q not in oracles:
            observed[q] = obs

    for r in range(spec["rounds"]):
        order = list(spec["queries"])
        random.Random(f"{spec['seed']}:{r}").shuffle(order)
        for q in order:
            steps.run(f"q:{q}:r{r}", lambda q=q, r=r: run_query(q, r), op=True, query=q, round=r)
    res["t_work_end"] = time.time()
    if spec.get("traced"):
        spark.sparkContext.setJobGroup("check", "check")
    res["checks"] = _check_queries(spark, qs, oracles, observed, spec)
    res["t_check"] = (res["t_work_end"], time.time())
    spark.stop()


def _check_queries(spark, qs: dict, oracles: dict, observed: dict, spec: dict) -> dict:
    """Each query with oracle SQL once more on the timed tables, against
    the SQL in DuckDB; each other query by the row count of its last
    timed run, which must be non-zero."""
    import duckdb
    from checks import same_rows  # this script's own directory is on sys.path
    from bdqc_spark.sources.tables import TABLE_NAMES

    con = duckdb.connect()
    data = spec["data"]
    for name in TABLE_NAMES:
        path = os.path.join(data, f"{name}.parquet")
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    out = {}
    for q in spec["queries"]:
        try:
            if q in oracles:
                got = qs[q](spark, data).toPandas()
                rows = len(got)
                problem = same_rows(got, con.execute(oracles[q]).fetchdf())
            elif q in observed:
                rows = observed[q].get["rows"]
                problem = None if rows > 0 else "no rows"
            else:
                rows, problem = None, "its last timed run failed"
            out[q] = {"ok": problem is None, "rows": rows, "oracle": q in oracles, "problem": problem}
        except Exception as e:
            traceback.print_exc()
            out[q] = {"ok": False, "rows": None, "oracle": q in oracles,
                      "problem": f"{type(e).__name__}: {e}"[:2000]}
    return out


def main() -> int:
    with open(sys.argv[1]) as f:
        spec = json.load(f)
    sys.path.insert(0, spec["root"])
    res: dict = {"t_main": T_MAIN}
    try:
        (_pipeline if spec["workload"] != "query_mix" else _queries)(spec, res)
    except BaseException as e:
        traceback.print_exc()
        res["fatal"] = f"{type(e).__name__}: {e}"[:2000]
    res["t_exit"] = time.time()
    with open(spec["result"], "w") as f:
        json.dump(res, f)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
