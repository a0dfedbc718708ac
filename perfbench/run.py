"""The repo benchmark: one closed-loop client driving the engine on
``local[<cpus>]``, one workload per run.

    python3 perfbench/run.py --workload etl_queries --seed 1 --seconds 5 --trace 0

Run from the root of a checkout.  The first run builds the input tables
under ``.bench_build/perfbench`` (and every engine temp file goes there
too).  Each run:

1. sets the engine up -- imports, ``session.get_spark``, one warm-up
   query -- and times the three parts (``setup_s`` is their sum);
2. runs passes over the workload's seeded op list until ``--seconds``
   have gone by (at least one pass), each op starting when the previous
   one has finished; a returned DataFrame is materialized with a
   ``noop`` write inside the op's timer;
3. checks every op's output outside the timers and counts what each op
   leaves behind (persisted RDDs, ``p311_*`` temp dirs, active streams);
4. prints a detail JSON line, then the result line:
   ``{"correct", "attempted", "failed", "metrics"}`` -- the end-to-end
   metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.

With ``--trace 1`` the run also reads every Spark job from the status
store, keeps pass/op/construct/materialize/job/trigger spans in memory
and writes them to ``.bench_build/perfbench/traces/<run id>.jsonl`` at
exit.  See ``perfbench/README.md`` for the metric definitions.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import types
import uuid

PROCESS_T0 = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
sys.path[:0] = [HERE, ROOT, os.path.join(ROOT, "tools")]

# per workload: (scale factor of its base tables, corpus amplification)
SCALES = {
    "full": {"etl_queries": (0.01, 1), "curation_x16": (0.01, 16), "index_lifecycle": (0.01, 1)},
    "small": {"etl_queries": (0.001, 1), "curation_x16": (0.001, 2), "index_lifecycle": (0.001, 1)},
}

# the end-to-end metrics the result line carries (BENCHMARK.json); the
# rest are steady too little on a shared VM to gate on and ride the
# detail line
GATED = ("setup_s", "pass_s", "pass_cpu_s")
SUM_KEYS = (
    "task_s", "task_cpu_s", "gc_s", "shuffle_read_bytes", "shuffle_write_bytes",
    "spill_bytes", "failed_tasks",
)


def per_layer_units() -> dict[str, str]:
    from tracer import DURATION_PARTS
    from workloads import FAMILIES

    units = {
        "session.import_s": "s", "session.start_s": "s", "session.warmup_s": "s",
        "plans.construct_s": "s", "spark.jobs": "count", "spark.stages": "count",
        "spark.driver_gap_s": "s", "spark.task_s": "s", "spark.task_cpu_s": "s",
        "spark.gc_s": "s", "spark.shuffle_read_bytes": "bytes",
        "spark.shuffle_write_bytes": "bytes", "spark.spill_bytes": "bytes",
        "spark.failed_tasks": "count", "sources.input_bytes": "bytes",
        "sources.input_rows": "count", "sources.rows_read_per_row_out": "ratio",
    }
    for kind in ("build", "append", "delete", "compact", "serve"):
        for fam in FAMILIES:
            units[f"ext.{kind}_s.{fam}"] = "s"
    units.update({
        "artifact.output_bytes": "bytes", "artifact.files_written": "count",
        "artifact.bytes_per_doc_byte": "ratio", "streaming.triggers": "count",
    })
    for part in DURATION_PARTS:
        units[f"streaming.{part}_s"] = "s"
    units.update({"ext.persist_leaked": "count", "ext.tmp_leaked": "count"})
    return units


# --- environment ----------------------------------------------------------


def confine(tmp: str) -> dict[str, str]:
    """Keep every file the engine, Spark and the JVM write inside ``tmp``.
    Returns the path settings for the session (not tuning settings)."""
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    # Spark's Python workers unpickle engine code (e.g. Python data sources)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    tempfile.tempdir = tmp
    return {
        "spark.local.dir": os.path.join(tmp, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
        f"-Dderby.system.home={tmp}",
        "spark.ui.showConsoleProgress": "false",
    }


def ensure_data(scale: str) -> None:
    """Generate every workload's base tables once per checkout."""
    import gen

    for sf in sorted({sf for sf, _ in SCALES[scale].values()}):
        d = data_dir(sf)
        if not os.path.isdir(d):
            tmp = f"{d}.tmp{uuid.uuid4().hex[:8]}"
            gen.generate(tmp, sf)
            os.rename(tmp, d)


def data_dir(sf: float) -> str:
    return os.path.join(WORK, "data", f"sf{sf}")


def start_engine(conf: dict[str, str]):
    """Imports and session start, timed (the warm-up is timed by the caller)."""
    t0 = time.time()
    import pyspark.sql  # noqa: F401

    from pipeline311_spark import plans  # noqa: F401 — registers every query
    from pipeline311_spark.session import get_spark

    t1 = time.time()
    spark = get_spark("perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, {"session.import_s": t1 - t0, "session.start_s": time.time() - t1}


def stop(spark) -> None:
    """Stop the session and wait for the driver JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=60)
        except (OSError, subprocess.TimeoutExpired):
            proc.kill()
            proc.wait()


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


# --- the closed loop ------------------------------------------------------


class Runner:
    def __init__(self, spark, workload, trace: bool) -> None:
        from tracer import JobHarvester, TriggerListener, leak_counts

        self.spark, self.wl, self.trace = spark, workload, trace
        self.jvm_pid = jvm_pid()
        self.last_snapshot = leak_counts(spark)
        self.listener = TriggerListener()
        spark.streams.addListener(self.listener)
        self.harvester = JobHarvester(spark) if trace else None
        self.tracer_s = 0.0
        self.records: list[dict] = []
        self.passes: list[dict] = []

    def run_op(self, op, pass_no: int) -> dict:
        from tracer import engine_cpu_s, flush_listeners, leak_counts
        from workloads import frame_hash, noop

        before = self.last_snapshot
        err, df = None, None
        cpu0 = engine_cpu_s(self.jvm_pid)
        t0 = time.time()
        t1 = None
        try:
            df = op.run()
            t1 = time.time()
            if df is not None:
                noop(df)
        except Exception as e:  # noqa: BLE001 — an op failure is data
            err = f"{type(e).__name__}: {(str(e).splitlines() or [''])[0][:200]}"
        t2 = time.time()
        rec = {
            "op": op.name, "kind": op.kind, "family": op.family, "pass": pass_no,
            "start": t0, "construct_end": t1 or t2, "end": t2, "error": err,
            "cpu_s": engine_cpu_s(self.jvm_pid) - cpu0,
        }
        h0 = time.time()
        flush_listeners(self.spark)
        rec["triggers"] = self.listener.between(t0, t2)
        if self.trace:
            # submission times are whole milliseconds
            rec["jobs"] = [j for j in self.harvester.new_jobs() if t0 - 1e-3 <= j["start"] <= t2]
            rec["files_written"] = _files_since(op.out_dir, t0)
        self.tracer_s += (time.time() - h0) if self.trace else 0.0
        rec["rows_out"] = None
        c0 = time.time()
        if err is None and op.expect is not None:
            try:
                got = frame_hash(df)
                rec["rows_out"] = got["rows"]
                want = op.expect()
                if got != want:
                    err = f"wrong output: got {got} want {want}"
            except Exception as e:  # noqa: BLE001
                err = f"check failed: {type(e).__name__}: {str(e)[:200]}"
            rec["error"] = err
        if op.after is not None:
            op.after()
        if self.trace:
            h0 = time.time()
            self.harvester.new_jobs()  # drop the check's own jobs
            self.tracer_s += time.time() - h0
        df = None
        rec["check_s"] = time.time() - c0
        after = self.last_snapshot = leak_counts(self.spark)
        rec["persist_leaked"] = max(0, after[0] - before[0])
        rec["tmp_leaked"] = max(0, after[1] - before[1])
        rec["streams_leaked"] = max(0, after[2] - before[2])
        self.records.append(rec)
        return rec

    def run(self, seconds: float) -> None:
        t_start = time.time()
        pass_no = 0
        while True:
            p0 = time.time()
            recs = [self.run_op(op, pass_no) for op in self.wl.ops(pass_no)]
            self.passes.append({
                "pass": pass_no, "start": p0, "end": time.time(),
                "op_s": sum(r["end"] - r["start"] for r in recs),
                "cpu_s": sum(r["cpu_s"] for r in recs),
            })
            pass_no += 1
            if time.time() - t_start >= seconds:
                break


def _files_since(path: str | None, t0: float) -> int:
    if not path or not os.path.isdir(path):
        return 0
    return sum(
        1
        for dp, _, fs in os.walk(path)
        for f in fs
        if not f.endswith(".crc") and os.path.getmtime(os.path.join(dp, f)) >= t0 - 1.0
    )


# --- metrics --------------------------------------------------------------


def tail(lat: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least ten
    samples beyond it, floored at the median."""
    s = sorted(lat)
    n = len(s)
    if n <= 20:
        return statistics.median(s), 50.0
    return s[n - 11], 100.0 * (n - 10) / n


def end_to_end(runner: Runner, setup: dict, rss_mb: float) -> tuple[dict, dict]:
    """Every end-to-end metric as {name: {"value", "unit"}}, plus facts
    about them (tail percentile, sample count)."""
    recs = runner.records
    wl = runner.wl
    lat = [r["end"] - r["start"] for r in recs]
    pass_s = statistics.median(p["op_s"] for p in runner.passes)
    tail_v, tail_p = tail(lat)

    def p50(xs):
        return statistics.median(xs) if xs else None

    def kind_p50(*kinds):
        return p50([r["end"] - r["start"] for r in recs if r["kind"] in kinds])

    m = {
        "setup_s": (sum(setup.values()), "s"),
        "pass_s": (pass_s, "s"),
        "pass_cpu_s": (statistics.median(p["cpu_s"] for p in runner.passes), "s"),
        "latency_p50_s": (statistics.median(lat), "s"),
        "latency_tail_s": (tail_v, "s"),
        "failed_frac": (sum(1 for r in recs if r["error"]) / len(recs), "ratio"),
        "peak_rss_mb": (rss_mb, "MB"),
        "docs_per_s": (wl.docs / pass_s if wl.docs else None, "1/s"),
        "trigger_p50_s": (
            p50([t.get("triggerExecution", 0) / 1000.0 for r in recs for t in r["triggers"]]),
            "s",
        ),
    }
    if wl.name == "index_lifecycle":
        m.update({
            "serve_p50_s": (kind_p50("serve"), "s"),
            "update_p50_s": (kind_p50("append", "delete"), "s"),
            "compact_s": (kind_p50("compact"), "s"),
            "index_bytes_per_doc_byte": (statistics.mean(wl.index_bytes.values()), "ratio"),
        })
    metrics = {k: {"value": v, "unit": u} for k, (v, u) in m.items() if v is not None}
    facts = {"latency_tail_percentile": tail_p, "latency_samples": len(lat)}
    return metrics, facts


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


def per_op_layers(r: dict, doc_bytes: dict[str, int]) -> dict[str, float]:
    """Every per-layer figure of one op execution (traced runs); the
    session figures are per run, not per op."""
    from tracer import DURATION_PARTS, covered

    out = {k: 0.0 for k in per_layer_units() if not k.startswith("session.")}
    jobs = r.get("jobs", [])
    wall = r["end"] - r["start"]
    out.update({
        "plans.construct_s": r["construct_end"] - r["start"],
        "spark.jobs": len(jobs),
        "spark.stages": sum(j["stages"] for j in jobs),
        "spark.driver_gap_s": wall - covered(
            [(j["start"], j["end"]) for j in jobs], r["start"], r["end"]
        ),
        "sources.input_bytes": sum(j["input_bytes"] for j in jobs),
        "sources.input_rows": sum(j["input_rows"] for j in jobs),
        "artifact.output_bytes": sum(j["output_bytes"] for j in jobs),
        "artifact.files_written": r.get("files_written", 0),
        "streaming.triggers": len(r["triggers"]),
        "ext.persist_leaked": r["persist_leaked"],
        "ext.tmp_leaked": r["tmp_leaked"],
    })
    for k in SUM_KEYS:
        out[f"spark.{k}"] = sum(j[k] for j in jobs)
    for part in DURATION_PARTS:
        out[f"streaming.{part}_s"] = sum(t.get(part, 0) for t in r["triggers"]) / 1000.0
    out["sources.rows_read_per_row_out"] = _ratio(out["sources.input_rows"], r["rows_out"])
    if r["family"]:
        out[f"ext.{r['kind']}_s.{r['family']}"] = wall
        out["artifact.bytes_per_doc_byte"] = _ratio(
            out["artifact.output_bytes"], doc_bytes[r["family"]]
        )
    return out


def per_layer(runner: Runner, setup: dict) -> dict[str, float]:
    """Per-pass sums of the per-op figures (ratios re-formed from the
    sums), median over passes; the session figures of this run."""
    doc_bytes = getattr(runner.wl, "doc_bytes", {})
    by_pass = []
    for p in runner.passes:
        recs = [r for r in runner.records if r["pass"] == p["pass"]]
        ops = [per_op_layers(r, doc_bytes) for r in recs]
        tot = {k: sum(o[k] for o in ops) for k in ops[0]}
        tot["sources.rows_read_per_row_out"] = _ratio(
            tot["sources.input_rows"], sum(r["rows_out"] or 0 for r in recs)
        )
        tot["artifact.bytes_per_doc_byte"] = _ratio(
            tot["artifact.output_bytes"], sum(doc_bytes.values())
        )
        by_pass.append(tot)
    out = {k: statistics.median(t[k] for t in by_pass) for k in by_pass[0]}
    out.update(setup)
    return out


def spans(runner: Runner, run_id: str) -> list[dict]:
    """pass -> op -> construct/materialize -> Spark job / stream trigger."""
    out = []

    def add(name, start, end, parent):
        sid = len(out)
        out.append({"id": sid, "name": name, "start": start, "end": end,
                    "parent": parent, "run_id": run_id})
        return sid

    for p in runner.passes:
        pid = add(f"pass{p['pass']}", p["start"], p["end"], None)
        for r in (r for r in runner.records if r["pass"] == p["pass"]):
            oid = add(r["op"], r["start"], r["end"], pid)
            cid = add("construct", r["start"], r["construct_end"], oid)
            mid = add("materialize", r["construct_end"], r["end"], oid)
            for j in r.get("jobs", []):
                add(f"job{j['id']}", j["start"], j["end"], cid if j["start"] < r["construct_end"] else mid)
            for t in r["triggers"]:
                add("trigger", t["_t"], t["_t"] + t.get("triggerExecution", 0) / 1000.0, oid)
    return out


def self_times(sp: list[dict]) -> dict[str, float]:
    """Self time per span level: own duration minus the children's."""
    from tracer import covered

    kids: dict[int, list[tuple[float, float]]] = {}
    for s in sp:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out: dict[str, float] = {}
    for s in sp:
        level = (
            "pass" if s["name"].startswith("pass") and s["parent"] is None
            else "job" if s["name"].startswith("job")
            else s["name"] if s["name"] in ("construct", "materialize", "trigger")
            else "op"
        )
        own = s["end"] - s["start"] - covered(kids.get(s["id"], []), s["start"], s["end"])
        out[level] = out.get(level, 0.0) + own
    return out


# --- main -------------------------------------------------------------------


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument(
        "--workload", required=True, choices=("etl_queries", "curation_x16", "index_lifecycle")
    )
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=5.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=tuple(SCALES), default="full")
    args = ap.parse_args()

    # the engine must be importable; fail before doing anything else
    import pipeline311_spark  # noqa: F401

    run_id = uuid.uuid4().hex[:12]
    tmp = os.path.join(WORK, "tmp", run_id)
    conf = confine(tmp)
    try:
        ensure_data(args.scale)
        sf, factor = SCALES[args.scale][args.workload]
        return bench(args, run_id, tmp, conf, data_dir(sf), factor)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def bench(args, run_id, tmp, conf, base_dir, factor) -> int:
    import bench as legacy_bench  # the machine stamp, imported unedited

    import workloads

    machine = legacy_bench._machine_state()  # before the JVM starts
    spark, setup = start_engine(conf)
    try:
        ctx = types.SimpleNamespace(
            seed=args.seed, rng=workloads.seeded_rng(args.seed, args.workload),
            base_dir=base_dir, factor=factor, tmp_dir=tmp,
        )
        h0 = time.time()
        wl = workloads.WORKLOADS[args.workload](spark, ctx)
        harness_s = time.time() - h0
        t0 = time.time()
        wl.warmup()
        setup["session.warmup_s"] = time.time() - t0
        runner = Runner(spark, wl, bool(args.trace))
        runner.run(args.seconds)
        from tracer import peak_rss_mb

        rss = peak_rss_mb(jvm_pid())
        e2e, facts = end_to_end(runner, setup, rss)
        detail = {"end_to_end": e2e, **facts, "passes": len(runner.passes), "setup": setup,
                  "op_latency_s": [[r["op"], round(r["end"] - r["start"], 3)]
                                   for r in runner.records]}
        detail.update({"workload": args.workload, "seed": args.seed, "run_id": run_id,
                       "harness_s": harness_s, "machine": machine,
                       "errors": [(r["op"], r["error"]) for r in runner.records if r["error"]],
                       "leaked": {k: sum(r[f"{k}_leaked"] for r in runner.records)
                                  for k in ("persist", "tmp", "streams")}})
        if args.trace:
            layers = per_layer(runner, setup)
            sp = spans(runner, run_id)
            os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
            with open(os.path.join(WORK, "traces", f"{run_id}.jsonl"), "w") as f:
                for s in sp:
                    f.write(json.dumps(s) + "\n")
            detail["layer_self_s"] = self_times(sp)
            detail["tracer_overhead_s"] = runner.tracer_s / len(runner.passes)
            detail["tracer_overhead_frac"] = (
                detail["tracer_overhead_s"] / e2e["pass_s"]["value"]
            )
            detail["ops"] = [
                {"op": r["op"], "pass": r["pass"],
                 **per_op_layers(r, getattr(wl, "doc_bytes", {}))}
                for r in runner.records
            ]
            units = per_layer_units()
            metrics = {k: {"value": layers[k], "unit": units[k]} for k in units}
        else:
            metrics = {k: e2e[k] for k in GATED}
        wl.close()
    finally:
        s0 = time.time()
        stop(spark)
    detail["stop_s"] = time.time() - s0
    detail["check_s"] = sum(r["check_s"] for r in runner.records)
    detail["process_s"] = time.time() - PROCESS_T0
    failed = sum(1 for r in runner.records if r["error"])
    print(json.dumps(detail, default=str))
    print(json.dumps({
        "correct": failed == 0, "attempted": len(runner.records), "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
