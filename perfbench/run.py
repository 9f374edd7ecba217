"""Benchmark harness for the bdqc-spark engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. Each measured sample is a fresh, cold
process (perfbench/child.py) that makes the calls a `run_pipeline.py`
user's process makes (build_session -> IcebergishTable -> append ->
read/bucket_ids -> run_pipeline), or that runs the registry queries,
on `local[nproc]` with SPARK_GRAFT_CPUS=nproc: a closed loop with one
client. Inputs are generated from --seed and staged untimed (cached by
seed and size under .perfbench/). Every output is checked.

--trace 0 reports the end-to-end metrics; --trace 1 runs one traced
process (Spark event log on through build_session's extra_conf, one job
group per step) and reports the per-layer metrics. The last stdout line
is the result JSON; the full record (host facts, every sample, spans,
per-stage rows) goes to .perfbench/results/.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
sys.path.insert(0, HERE)

import checks  # noqa: E402
import inputs  # noqa: E402
import procmon  # noqa: E402
import querydata  # noqa: E402
import tracing  # noqa: E402

# Bump when staged inputs change shape, so stale caches are rebuilt.
STAGE_REV = 3
BUCKETS = 16
WORKLOADS = {
    "incremental_qc": {"base_clips": 1500, "base_seed": 20261017, "batch_clips": 150},
    "query_mix": {"sf": 0.1, "rounds": 2},
}
END_TO_END = ["setup_s", "wall_s", "op_mean_s"]
TAIL_BEYOND = 10  # the tail percentile keeps at least this many samples above it
# A run must end within 180 s once its inputs are staged.
MEASURE_BUDGET_S = 165.0
STAGE_TIMEOUT_S = 600.0


# ---------------------------------------------------------------------------
# processes
# ---------------------------------------------------------------------------


def headline() -> list[str]:
    """bench.py's headline registry queries (the program root is on
    sys.path once preflight has passed)."""
    from bench import HEADLINE

    return list(HEADLINE)


def _env(run_dir: str, ncpu: int) -> dict:
    """Children write only inside their run directory: Spark local dirs,
    Python and JVM temp files."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.update(
        SPARK_GRAFT_CPUS=str(ncpu),
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"),
        TMPDIR=tmp,
        PYSPARK_PYTHON=sys.executable,
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    )
    env.pop("PYSPARK_GATEWAY_PORT", None)
    return env


def spawn(argv: list[str], run_dir: str, ncpu: int, timeout: float, sampler: bool = False):
    """Run one process in a session of its own to completion, then make
    sure every process of that session is gone. Returns (t_spawn, returncode, sampler, log path)."""
    os.makedirs(run_dir, exist_ok=True)
    log = os.path.join(run_dir, "process.log")
    env = _env(run_dir, ncpu)
    with open(log, "wb") as logf:
        t_spawn = time.time()
        p = subprocess.Popen(
            argv, cwd=run_dir, env=env, stdout=logf, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, start_new_session=True,
        )
        mon = procmon.TreeSampler(p.pid) if sampler else None
        if mon:
            mon.start()
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            if mon:
                mon.stop()
            # The session, not the process group: PySpark's worker
            # daemon moves itself into a group of its own.
            procmon.end_processes(session=p.pid)
            p.wait()
    return t_spawn, rc, mon, log


def _log_tail(path: str, n: int = 30) -> str:
    try:
        with open(path, "rb") as f:
            lines = f.read().decode("utf-8", "replace").splitlines()
    except OSError:
        return ""
    return "\n".join(ln for ln in lines[-n:] if "\r" not in ln)


def _copy_tree(src: str, dst: str) -> None:
    """Restore a staged directory: parquet files (immutable once
    written) are hard-linked, everything else is copied."""

    def cp(s, d):
        if s.endswith(".parquet"):
            os.link(s, d)
        else:
            shutil.copy2(s, d)

    shutil.copytree(src, dst, copy_function=cp)


# ---------------------------------------------------------------------------
# staging (untimed)
# ---------------------------------------------------------------------------


def _stage_table(clips: str, table: str, ncpu: int, prior_out: str | None = None) -> None:
    argv = [sys.executable, os.path.join(HERE, "stage_table.py"), ROOT, clips, table, str(BUCKETS)]
    if prior_out:
        argv.append(prior_out)
    run_dir = os.path.join(WORK, "runs", f"stage-{os.getpid()}")
    try:
        _t, rc, _m, log = spawn(argv, run_dir, ncpu, STAGE_TIMEOUT_S)
        if rc != 0:
            raise RuntimeError(f"staging process failed (rc={rc}):\n{_log_tail(log)}")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def stage(workload: str, seed: int, ncpu: int) -> dict:
    cache = inputs.Cache(os.path.join(WORK, "cache"))
    cfg = WORKLOADS[workload]
    if workload == "incremental_qc":
        nb, nn, bseed = cfg["base_clips"], cfg["batch_clips"], cfg["base_seed"]

        def build_base(d):
            clips = os.path.join(d, "clips.parquet")
            inputs.write_clips(ROOT, clips, nb, bseed, 0, ncpu)
            _stage_table(clips, os.path.join(d, "table"), ncpu, os.path.join(d, "prior"))
            if len(checks.read_decisions(os.path.join(d, "prior"))) != nb:
                raise RuntimeError("prior run did not decide every base clip")

        base = cache.entry(
            "incr_base", f"r{STAGE_REV}-s{bseed}-n{nb}-b{BUCKETS}",
            {"clips.parquet": nb, "table": nb}, build_base,
        )

        def build_batch(d):
            batch = os.path.join(d, "batch.parquet")
            inputs.write_clips(ROOT, batch, nn, seed, nb, ncpu)
            inputs.write_golden(
                [os.path.join(base, "clips.parquet"), batch], os.path.join(d, "golden.parquet")
            )

        d = cache.entry(
            "incr_batch", f"r{STAGE_REV}-s{seed}-n{nn}-base{bseed}x{nb}",
            {"batch.parquet": nn, "golden.parquet": nb + nn}, build_batch,
        )
        return {"table": os.path.join(base, "table"), "prior": os.path.join(base, "prior"),
                "batch": os.path.join(d, "batch.parquet"),
                "golden": os.path.join(d, "golden.parquet"),
                "clips": nb + nn, "prior_profiles": nb}
    sf = cfg["sf"]
    d = cache.entry(
        "qdata", f"r{STAGE_REV}-s{seed}-sf{sf}",
        {f"{t}.parquet": n for t, n in querydata.row_counts(sf).items()},
        lambda dst: querydata.write_tables(dst, seed, sf),
    )
    return {"data": d}


# ---------------------------------------------------------------------------
# one cold process
# ---------------------------------------------------------------------------


def run_child(
    workload: str, seed: int, staged: dict, cdir: str, ncpu: int, traced: bool, timeout: float
) -> dict:
    os.makedirs(cdir)
    spec = {"workload": workload, "root": ROOT, "seed": seed, "traced": traced,
            "result": os.path.join(cdir, "result.json")}
    if traced:
        evdir = os.path.join(cdir, "eventlog")
        os.makedirs(evdir)
        spec["extra_conf"] = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + evdir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }
    if workload == "query_mix":
        spec.update(data=staged["data"], queries=headline(), rounds=WORKLOADS[workload]["rounds"])
    else:
        table = os.path.join(cdir, "table")
        _copy_tree(staged["table"], table)
        out = os.path.join(cdir, "out")
        _copy_tree(staged["prior"], out)
        spec.update(table=table, out=out, batch=staged["batch"])
    with open(os.path.join(cdir, "spec.json"), "w") as f:
        json.dump(spec, f)
    t_spawn, rc, mon, log = spawn(
        [sys.executable, os.path.join(HERE, "child.py"), os.path.join(cdir, "spec.json")],
        cdir, ncpu, timeout, sampler=True,
    )
    try:
        with open(spec["result"]) as f:
            res = json.load(f)
    except (OSError, ValueError):
        res = {"fatal": f"no result (rc={rc})"}
    c = {"t_spawn": t_spawn, "rc": rc, "res": res, "spec": spec, "mon": mon, "log": log}
    if res.get("fatal") or rc != 0:
        c["log_tail"] = _log_tail(log)
    return c


def evaluate(workload: str, c: dict, staged: dict) -> dict:
    """Times, operations and output checks of one cold process."""
    res, t0 = c["res"], c["t_spawn"]
    steps = res.get("steps") or []
    ev = {"rc": c["rc"], "fatal": res.get("fatal"), "steps": steps}
    planned = 2  # build_session, table/registry open
    done = sum(1 for k in ("t_build", "t_open") if k in res)
    if workload == "query_mix":
        nq = len(c["spec"]["queries"])
        planned += nq * WORKLOADS[workload]["rounds"] + nq
        qchecks = res.get("checks") or {}
        ev["checks"] = qchecks
        done += sum(1 for ch in qchecks.values() if ch["ok"])
    else:
        planned += 4  # append, plan, run_pipeline, gate
        if "pipeline" in res:
            try:
                gate = checks.pipeline_gate(
                    checks.read_decisions(c["spec"]["out"]),
                    pq.read_table(staged["golden"]).to_pandas(),
                    inputs.table_rows(c["spec"]["table"]),
                )
            except Exception as e:  # unreadable output counts as a failed check
                gate = {"ok": False, "problems": [f"{type(e).__name__}: {e}"]}
            ev["gate"] = gate
            done += 1 if gate["ok"] else 0
            ev["stage_seconds"] = res["pipeline"]["stage_seconds"]
    done += sum(1 for s in steps if s["ok"])
    ev["attempted"], ev["failed"] = planned, planned - done
    if "t_open" in res:
        ev["setup_s"] = res["t_open"][1] - t0
        ev["session_import_s"] = res["t_import"][1] - res["t_import"][0]
        ev["session_build_s"] = res["t_build"][1] - res["t_build"][0]
        ev["interpreter_s"] = res["t_main"] - t0
    if "t_work_end" in res:
        ev["wall_s"] = res["t_work_end"] - t0
    ev["ops_s"] = [s["t1"] - s["t0"] for s in steps if s.get("op") and s["ok"]]
    mon = c["mon"]
    ev["peak_rss_mb"] = mon.peak_rss_mb()
    if "wall_s" in ev:
        ev["tree_cpu_s"] = mon.cpu_between(t0, res["t_work_end"])
    return ev


def tail(values: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile that still has
    TAIL_BEYOND samples above it; the maximum when there are too few."""
    v = sorted(values)
    n = len(v)
    if n <= TAIL_BEYOND:
        return v[-1], 100.0
    return v[n - TAIL_BEYOND - 1], 100.0 * (n - TAIL_BEYOND) / n


def summary(values: list[float]) -> dict:
    """Median, the highest percentile with TAIL_BEYOND samples beyond it,
    and the sample count."""
    v, p = tail(values)
    return {"median": statistics.median(values), "tail": v, "tail_percentile": p, "n": len(values)}


# ---------------------------------------------------------------------------
# traced process -> per-layer metrics
# ---------------------------------------------------------------------------

def per_layer_names() -> list[str]:
    names = [
        "session.import_s", "session.build_s", "query.cold_penalty_s",
        "iceberg.plan_s", "iceberg.append_s", "iceberg.files_planned", "iceberg.bytes_planned",
        "A.s", "A.clips_profiled", "A.clips_scanned", "A.useful_frac", "A.input_bytes",
        "A.python_bytes_sent", "A.shuffle_write_bytes", "A.spill_bytes", "A.executor_cpu_s",
        "A.gc_s", "A.busy_frac", "A.python_cpu_s",
    ]
    for st in ("B", "B2", "C"):
        names += [f"{st}.s", f"{st}.shuffle_write_bytes", f"{st}.executor_cpu_s", f"{st}.busy_frac"]
    names += ["D.s", "pipeline.jobs", "pipeline.driver_idle_s", "pipeline.window_gap_s",
              "pipeline.clips_per_s"]
    names += ["query.p50_s", "query.tail_s"]
    for q in headline():
        names += [f"query.{q}_s", f"query.{q}.shuffle_bytes"]
    names += ["spark.task_failures", "spark.stage_retries", "proc.peak_rss_mb", "proc.busy_frac"]
    return names


def unit_of(name: str) -> str:
    for suffixes, unit in (
        (("_per_s",), "1/s"),
        (("_s", ".s"), "s"),
        (("bytes", "bytes_sent", "bytes_planned"), "bytes"),
        (("_frac",), "fraction"),
        (("_mb",), "MB"),
    ):
        if name.endswith(suffixes):
            return unit
    return "count"


def _event_log(cdir: str) -> dict:
    evdir = os.path.join(cdir, "eventlog")
    files = sorted(os.listdir(evdir)) if os.path.isdir(evdir) else []
    if not files:
        raise RuntimeError("traced process wrote no event log")
    return tracing.read_event_log(os.path.join(evdir, files[0]))


def _manifest_plan(table: str, snapshot: str) -> tuple[int, int]:
    with open(os.path.join(table, "metadata", f"snap-{snapshot}.json")) as f:
        snap = json.load(f)
    rels = [r for fs in snap["bucket_files"].values() for r in fs]
    size = sum(os.path.getsize(os.path.join(table, "data", r)) for r in rels)
    return len(rels), size


def _profile_rows(out: str) -> int:
    import glob

    files = glob.glob(os.path.join(out, "profiles", "bucket=*", "*.parquet"))
    return sum(inputs.parquet_rows(p) for p in files)


def traced_layers(workload: str, c: dict, ev: dict, staged: dict, ncpu: int) -> tuple[dict, dict]:
    """Per-layer metrics of one traced process, and the trace record:
    the span tree with self times and one row per Spark stage."""
    res, t0, mon = c["res"], c["t_spawn"], c["mon"]
    log = _event_log(os.path.dirname(c["spec"]["result"]))
    jobs, stages = log["jobs"], log["stages"]
    for j in jobs:
        if j["completed"] is None:
            j["completed"] = j["submitted"]
    m = {k: 0.0 for k in per_layer_names()}
    m["session.import_s"] = ev["session_import_s"]
    m["session.build_s"] = ev["session_build_s"]
    m["proc.peak_rss_mb"] = ev["peak_rss_mb"]
    m["proc.busy_frac"] = ev["tree_cpu_s"] / (ev["wall_s"] * ncpu)
    m["spark.task_failures"] = sum(s["failed_tasks"] for s in stages)
    m["spark.stage_retries"] = sum(1 for s in stages if s["attempt"] > 0)

    # span tree: process -> setup -> step -> stage window -> job
    t_exit = res.get("t_exit", t0)
    proc = tracing.Span("process", t0, t_exit, kind="process")
    setup = proc.add(tracing.Span("setup", t0, res["t_open"][1], kind="setup"))
    for key, name in (("t_import", "import"), ("t_build", "build_session"), ("t_open", "open")):
        setup.add(tracing.Span(name, *res[key], kind="call"))
    step_spans = {}
    for s in res.get("steps") or []:
        step_spans[s["name"]] = proc.add(tracing.Span(s["name"], s["t0"], s["t1"], kind="step"))
    t_done = res["t_work_end"]
    if "t_check" in res:
        step_spans["check"] = proc.add(tracing.Span("check", *res["t_check"], kind="check"))
        t_done = res["t_check"][1]
    proc.add(tracing.Span("teardown", t_done, t_exit, kind="teardown"))
    windows: list[tracing.Span] = []
    run = step_spans.get("run_pipeline")
    if run is not None and "pipeline" in res:
        windows = tracing.stage_windows(run.start, res["pipeline"]["stage_seconds"])
        for w in windows:
            run.add(w)
    by_window = tracing.attribute_jobs(jobs, windows)
    in_window = {j["job_id"]: name for name, js in by_window.items() for j in js}
    job_group = {j["job_id"]: j["group"] for j in jobs}
    for s in stages:
        s["group"] = job_group.get(s["job_id"])
        s["window"] = in_window.get(s["job_id"])
    flat = {w.name: w for w in windows}
    flat.update({n.name: n for w in windows for n in w.children})
    build = setup.children[1]
    for j in jobs:
        js = tracing.Span(f"job {j['job_id']}", j["submitted"], j["completed"], kind="job",
                        attrs={"group": j["group"]})
        if j["job_id"] in in_window:
            parent = flat[in_window[j["job_id"]]]
        elif j["group"] in step_spans:
            parent = step_spans[j["group"]]
        elif build.start <= j["submitted"] < build.end:
            parent = build  # the session's warm start
        else:
            parent = proc
        parent.add(js)

    def stage_rows(job_list):
        ids = {j["job_id"] for j in job_list}
        return [s for s in stages if s["job_id"] in ids]

    for s in res.get("steps") or []:
        if s["name"] == "plan":
            m["iceberg.plan_s"] = s["t1"] - s["t0"]
        elif s["name"] == "append":
            m["iceberg.append_s"] = s["t1"] - s["t0"]
    if workload != "query_mix" and "pipeline" in res:
        table, out = c["spec"]["table"], c["spec"]["out"]
        files, size = _manifest_plan(table, res["pipeline"]["snapshot"])
        m["iceberg.files_planned"], m["iceberg.bytes_planned"] = files, size
        for short, wname in (("A", "A_profile"), ("B", "B_models"), ("B2", "B2_drift"),
                             ("C", "C_decide"), ("D", "D_metrics")):
            if wname not in flat:
                continue
            w = flat[wname]
            m[f"{short}.s"] = w.self_time() if short == "B" else w.duration
            f = tracing.fold_stages(stage_rows(by_window[wname]))
            if f"{short}.shuffle_write_bytes" in m:
                m[f"{short}.shuffle_write_bytes"] = f["shuffle_write_bytes"]
                m[f"{short}.executor_cpu_s"] = f["cpu_ns"] / 1e9
                m[f"{short}.busy_frac"] = (f["run_ms"] / 1e3) / max(m[f"{short}.s"] * ncpu, 1e-9)
            if short == "A":
                data_dir = os.path.join(table, "data")
                a_stages = stage_rows(by_window[wname])
                clip_scans = [s for s in a_stages if any(data_dir in loc for loc in s["scan_rows"])]
                m["A.clips_profiled"] = _profile_rows(out) - staged["prior_profiles"]
                m["A.clips_scanned"] = sum(
                    v for s in clip_scans for loc, v in s["scan_rows"].items() if data_dir in loc
                )
                a_execs = {j["execution_id"] for j in by_window[wname]}
                m["A.input_bytes"] = sum(
                    b["bytes"] for b in log["scan_bytes"]
                    if b["execution_id"] in a_execs and data_dir in b["location"]
                )
                m["A.useful_frac"] = m["A.clips_profiled"] / max(m["A.clips_scanned"], 1)
                m["A.python_bytes_sent"] = f["python_bytes_sent"]
                m["A.spill_bytes"] = f["disk_spill_bytes"]
                m["A.gc_s"] = f["gc_ms"] / 1e3
                m["A.python_cpu_s"] = mon.cpu_between(w.start, w.end, "workers")
        run_jobs = [j for j in jobs if j["group"] == "run_pipeline"]
        m["pipeline.jobs"] = len(run_jobs)
        m["pipeline.driver_idle_s"] = tracing.idle_time(
            run.start, run.end, [(j["submitted"], j["completed"]) for j in run_jobs]
        )
        m["pipeline.window_gap_s"] = tracing.idle_time(
            run.start, run.end, [(w.start, w.end) for w in windows]
        )
        m["pipeline.clips_per_s"] = ev["gate"].get("decisions", 0) / run.duration
    if workload == "query_mix":
        rounds: dict[int, float] = {}
        per_q: dict[str, list[tuple[float, float]]] = {}
        for s in res.get("steps") or []:
            if not s.get("op"):
                continue
            dur = s["t1"] - s["t0"]
            rounds[s["round"]] = rounds.get(s["round"], 0.0) + dur
            shuffle = tracing.fold_stages(stage_rows([j for j in jobs if j["group"] == s["name"]]))
            per_q.setdefault(s["query"], []).append((dur, shuffle["shuffle_write_bytes"]))
        for q, vals in per_q.items():
            m[f"query.{q}_s"] = statistics.median(v[0] for v in vals)
            m[f"query.{q}.shuffle_bytes"] = statistics.median(v[1] for v in vals)
        later = [rounds[r] for r in sorted(rounds) if r > 0]
        if later:
            m["query.cold_penalty_s"] = rounds[0] - statistics.median(later)
        if ev["ops_s"]:
            m["query.p50_s"] = statistics.median(ev["ops_s"])
            m["query.tail_s"] = tail(ev["ops_s"])[0]
    return m, {"spans": proc.to_rows(), "spark_stages": stages}


# ---------------------------------------------------------------------------
# results
# ---------------------------------------------------------------------------


def _history_wall(workload: str, seed: int, code_rev: str) -> list[float]:
    """Untraced wall times of earlier correct runs of this workload on
    the same code: of the same seed when there are any, else of every
    seed. Empty when no run of this code is recorded."""
    d = os.path.join(WORK, "results")
    by_seed: dict[int, list[float]] = {}
    for fn in sorted(os.listdir(d)) if os.path.isdir(d) else []:
        try:
            with open(os.path.join(d, fn)) as f:
                r = json.load(f)
        except (OSError, ValueError):
            continue
        if (r.get("workload") == workload and not r.get("trace") and r.get("correct")
                and r.get("host", {}).get("code_rev") == code_rev):
            by_seed.setdefault(r["seed"], []).extend(
                s["wall_s"] for s in r["samples"] if "wall_s" in s
            )
    return by_seed.get(seed) or [w for ws in by_seed.values() for w in ws]


def _clean_stale_runs() -> None:
    d = os.path.join(WORK, "runs")
    for name in os.listdir(d) if os.path.isdir(d) else []:
        pid = name.rsplit("-", 1)[-1]
        if pid.isdigit() and not os.path.exists(f"/proc/{pid}"):
            shutil.rmtree(os.path.join(d, name), ignore_errors=True)


def preflight() -> str | None:
    """Why the program cannot be benchmarked in this checkout, if so."""
    for rel in ("bdqc_spark/__init__.py", "bdqc_spark/session.py", "__spark_entry__.py"):
        if not os.path.exists(os.path.join(ROOT, rel)):
            return f"program not found: {rel} is missing under {ROOT}"
    if shutil.which("java") is None:
        return "java is not on PATH"
    try:
        import pyspark  # noqa: F401
    except ImportError:
        return "pyspark is not importable"
    return None


def measure() -> tuple[int, str | None]:
    """(exit code, result line) of one benchmark run."""
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_start = time.time()
    problem = preflight()
    if problem:
        print(f"perfbench: {problem}", file=sys.stderr)
        return 2, None
    sys.path.insert(0, ROOT)
    host = procmon.host_facts(ROOT)
    ncpu = host["nproc"]
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    _clean_stale_runs()
    disk_before = procmon.free_disk_gb(ROOT)
    t_stage = time.time()
    try:
        staged = stage(args.workload, args.seed, ncpu)
    except Exception as e:
        print(f"perfbench: staging inputs failed: {type(e).__name__}: {e}", file=sys.stderr)
        return 1, None
    stage_s = time.time() - t_stage
    run_dir = os.path.join(WORK, "runs", f"{args.workload}-s{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    samples, traced, per_layer = [], None, None
    detail: dict = {}
    attempted = failed = 0
    try:
        t_measure = time.time()

        def left() -> float:
            return max(MEASURE_BUDGET_S - (time.time() - t_measure), 1.0)

        if args.trace:
            c = run_child(args.workload, args.seed, staged, os.path.join(run_dir, "traced"), ncpu, True, left())
            ev = evaluate(args.workload, c, staged)
            samples.append(ev)
            ev["attempted"] += 1  # reading the trace
            try:
                if "wall_s" not in ev or ev["fatal"]:
                    raise RuntimeError("the traced process did not finish its steps")
                per_layer, traced = traced_layers(args.workload, c, ev, staged, ncpu)
            except (OSError, KeyError, ValueError, RuntimeError) as e:
                ev["failed"] += 1
                ev["trace_error"] = f"{type(e).__name__}: {e}"
                print(f"perfbench: reading the trace failed: {ev['trace_error']}", file=sys.stderr)
            history = _history_wall(args.workload, args.seed, host["code_rev"])
            if history and "wall_s" in ev:
                detail["trace_overhead_s"] = ev["wall_s"] - statistics.median(history)
                detail["trace_overhead_base_n"] = len(history)
        else:
            i = 0
            while True:
                c = run_child(
                    args.workload, args.seed, staged, os.path.join(run_dir, f"c{i}"), ncpu, False, left()
                )
                ev = evaluate(args.workload, c, staged)
                samples.append(ev)
                i += 1
                took = time.time() - c["t_spawn"]
                if ev["failed"] or time.time() - t_measure + took > args.seconds:
                    break
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    for ev in samples:
        attempted += ev["attempted"]
        failed += ev["failed"]
        if ev.get("log_tail"):
            print(ev["log_tail"], file=sys.stderr)
    ok_samples = [s for s in samples if "wall_s" in s]
    metrics: dict[str, dict] = {}
    if args.trace:
        if per_layer is not None:
            metrics = {k: {"value": float(v), "unit": unit_of(k)} for k, v in per_layer.items()}
    elif ok_samples:
        ops = [o for s in ok_samples for o in s["ops_s"]]
        per_sample = {
            "setup_s": [s["setup_s"] for s in ok_samples],
            "wall_s": [s["wall_s"] for s in ok_samples],
            "op_mean_s": [statistics.fmean(s["ops_s"]) for s in ok_samples if s["ops_s"]],
            "op_s": ops,
        }
        detail["distributions"] = {k: summary(v) for k, v in per_sample.items() if v}
        metrics = {
            k: {"value": statistics.median(per_sample[k]), "unit": "s"}
            for k in END_TO_END if per_sample[k]
        }
        detail["peak_rss_mb"] = statistics.median(s["peak_rss_mb"] for s in ok_samples)
        rates = [s["gate"]["decisions"] / s["ops_s"][0]
                 for s in ok_samples if s.get("gate", {}).get("ok") and s["ops_s"]]
        if rates:
            detail["clips_per_s"] = statistics.median(rates)
    want = per_layer_names() if args.trace else END_TO_END
    correct = failed == 0 and bool(samples) and set(metrics) == set(want)
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics,
        "error_rate": failed / max(attempted, 1), **detail, "host": host,
        "staged": {k: v for k, v in staged.items() if not isinstance(v, str)},
        "stage_s": stage_s, "config": WORKLOADS[args.workload], "buckets": BUCKETS,
        "disk_free_gb": {"before": disk_before, "after": procmon.free_disk_gb(ROOT)},
        "samples": samples, "trace_record": traced, "total_s": time.time() - t_start,
    }
    path = os.path.join(
        WORK, "results", f"{int(t_start)}-{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}.json"
    )
    with open(path, "w") as f:
        json.dump(record, f, indent=1, default=str)
    print(f"perfbench: detail record {os.path.relpath(path, ROOT)}")
    return 0, json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics})


def _terminate(signum, _frame):
    raise SystemExit(128 + signum)


def end_all() -> None:
    """Stop every process this run started, however it ends: the
    multiprocessing resource tracker of input staging first, gracefully,
    then anything else still below this process."""
    from multiprocessing import resource_tracker

    try:
        resource_tracker._resource_tracker._stop()
    except Exception as e:  # it is killed below instead
        print(f"perfbench: resource tracker: {type(e).__name__}: {e}", file=sys.stderr)
    procmon.end_processes()


def main() -> int:
    signal.signal(signal.SIGTERM, _terminate)
    procmon.become_subreaper()
    line = None
    try:
        code, line = measure()
    finally:
        end_all()
    if line is not None:
        print(line)
    return code


if __name__ == "__main__":
    raise SystemExit(main())
