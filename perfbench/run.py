"""The lake benchmark: one command, one workload per run.

    python3 perfbench/run.py --workload relational_x10 --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. It generates (or reuses) the seeded
inputs under ``.perfbench_work/``, drives the engine's own session through
the workload, checks every output, prints each metric by name with its unit,
and ends with one JSON line::

    {"correct": true, "attempted": 24, "failed": 0, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics (END_TO_END); ``--trace 1``
switches on spans and the Spark event log and reports the per-layer metrics
(PER_LAYER) instead. The exit code is 0 only when every check passed. A
detail record (fingerprint, load witness, per-op and per-pass times, data
generation time, errors) is written to ``.perfbench_work/detail/``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

WORK_DIR = ".perfbench_work"
WORKLOADS = ["relational_x10", "llm_corpus_sf01", "ingest_cycles"]

END_TO_END = [
    ("setup_s", "s"),
    ("pass_s", "s"),
    ("op_p50_s", "s"),
    ("op_tail_s", "s"),
    ("ok_ratio", "ratio"),
    ("rows_per_s", "1/s"),
]

# Last component of the module of every query fn in relational_x10. The
# traced llm_corpus_sf01 run also prints (and records in its detail record)
# the modules only it reaches: curation, dedup, media and similarity.
PLAN_MODULES = ["clustering", "relational", "text", "windows"]
PER_LAYER = [
    ("session.peak_rss_mb", "MB"),
    ("session.get_spark_s", "s"),
    ("session.release_cached_s", "s"),
    ("catalog.load_table_calls", "count"),
    ("catalog.load_table_s", "s"),
    ("plan.build_s", "s"),
    ("plan.build_jobs", "count"),
    *[(f"plan.build_s.{m}", "s") for m in PLAN_MODULES],
    ("exec.action_s", "s"),
    ("exec.jobs", "count"),
    ("exec.stages", "count"),
    ("exec.tasks", "count"),
    ("exec.task_s", "s"),
    ("exec.core_util", "ratio"),
    ("exec.task_max_over_median", "ratio"),
    ("exec.input_bytes", "bytes"),
    ("exec.shuffle_write_bytes", "bytes"),
    ("exec.shuffle_read_bytes", "bytes"),
    ("exec.spill_bytes", "bytes"),
    ("exec.python_bytes_sent", "bytes"),
    ("exec.python_bytes_received", "bytes"),
    ("exec.python_rows", "count"),
    ("ingest.detect_s", "s"),
    ("ingest.latest_runs_s", "s"),
    ("ingest.history_files", "count"),
    ("ingest.history_append_s", "s"),
    ("ingest.tables_reloaded", "count"),
    ("ingest.table_s", "s"),
    ("ingest.worker_busy_ratio", "ratio"),
    ("lake.write_s", "s"),
    ("lake.bytes_written", "bytes"),
    ("lake.files_written", "count"),
    ("lake.write_amp", "ratio"),
    ("lake.space_amp", "ratio"),
    ("txlog.apply_s", "s"),
    ("txlog.change_feed_s", "s"),
    ("txlog.compact_s", "s"),
    ("txlog.rows_rewritten_per_changed_row", "ratio"),
    ("txlog.live_files", "count"),
    ("txlog.versions", "count"),
    ("trace.pass_s", "s"),
]

# Layers each workload exercises; a per-layer metric outside them reads 0
# and the detail record says why.
_EXERCISED = {
    "relational_x10": ("session.", "catalog.", "plan.", "exec.", "trace."),
    "llm_corpus_sf01": ("session.", "catalog.", "plan.", "exec.", "trace."),
    "ingest_cycles": ("session.", "exec.", "ingest.", "lake.", "txlog.", "trace."),
}


def _parse(argv: list[str] | None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def _launch_env(root: str, work: str, event_log: str | None) -> None:
    """Place the JVM, its Python workers and every temp file inside the
    checkout, and switch the event log on from outside the engine. No engine
    conf is overridden."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root, *filter(None, [os.environ.get("PYTHONPATH")])]
    )
    # -XX:-UsePerfData: no hsperfdata file in the system temp dir
    args = [f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData'"]
    if event_log:
        args += [
            "--conf spark.eventLog.enabled=true",
            "--conf spark.eventLog.compress=false",
            f"--conf spark.eventLog.dir=file://{event_log}",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args + ["pyspark-shell"])
    import tempfile

    tempfile.tempdir = None


def _adopt_orphans() -> None:
    """Make this process the reaper of every descendant whose parent ends
    first (Linux ``PR_SET_CHILD_SUBREAPER``), so that the Python workers the
    JVM forks can still be waited for once the JVM has exited."""
    if sys.platform.startswith("linux"):
        import ctypes

        ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)


def _children() -> list[int]:
    me, kids = os.getpid(), []
    for p in os.listdir("/proc"):
        if p.isdigit():
            try:
                with open(f"/proc/{p}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            if int(stat.rsplit(")", 1)[1].split()[1]) == me:
                kids.append(int(p))
    return kids


def stop_children(grace_s: float = 20.0) -> None:
    """Wait until every child of this process has ended, adopted orphans
    included: SIGTERM after ``grace_s`` seconds, SIGKILL after twice that."""
    import signal

    if not os.path.isdir("/proc"):
        return
    start = time.monotonic()
    while kids := _children():
        waited = time.monotonic() - start
        for pid in kids:
            try:
                if waited > 2 * grace_s:
                    os.kill(pid, signal.SIGKILL)
                elif waited > grace_s:
                    os.kill(pid, signal.SIGTERM)
                os.waitpid(pid, os.WNOHANG)
            except (ProcessLookupError, ChildProcessError):
                pass
        time.sleep(0.05)


def _engine_fingerprint(root: str) -> dict:
    import duckdb
    import pyarrow
    import pyspark

    h = hashlib.sha256()
    pkg = os.path.join(root, "feature_datalake_sl_mandic_spark")
    for base, _, files in sorted(os.walk(pkg)):
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(base, f), "rb") as fh:
                    h.update(f.encode() + fh.read())
    commit = None
    if os.path.isdir(os.path.join(root, ".git")):
        proc = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=root, capture_output=True, text=True, timeout=30
        )
        commit = proc.stdout.strip() or None
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "duckdb": duckdb.__version__,
        "engine_commit": commit,
        "engine_source_sha256": h.hexdigest(),
    }


def end_to_end(run) -> tuple[dict[str, float], dict]:
    from perfbench.workloads import median, op_tail

    secs = [o["seconds"] for o in run.ops]
    ok = [o for o in run.ops if o["ok"]]
    tail, q, n = op_tail(secs)
    failed = sum(not o["ok"] for o in run.ops)
    values = {
        "setup_s": median(run.detail["setup_s"]),
        "pass_s": median([p["seconds"] for p in run.passes]),
        "op_p50_s": median(secs),
        "op_tail_s": tail,
        "ok_ratio": 1.0 - failed / len(run.ops),
        "rows_per_s": sum(o["rows_in"] for o in ok) / max(sum(o["seconds"] for o in ok), 1e-9),
    }
    notes = {
        "peak_rss_mb": run.extra["peak_rss_mb"],
        "op_tail_s": f"p{q:.1f} of n={n} op latencies",
        "fail_ratio": failed / len(run.ops),
        "attempted": len(run.ops),
        "failed": failed,
    }
    if any("bytes_written" in o for o in ok):
        written = sum(o.get("bytes_written", 0) for o in ok)
        src = sum(o.get("src_bytes", 0.0) for o in ok)
        notes["write_amp"] = written / src if src else 0.0
        notes["space_amp"] = run.extra.get("space_amp", 0.0)
    return values, notes


def per_layer(run, workload: str, log, notes: dict) -> tuple[dict[str, float], dict[str, str]]:
    """Per-layer metrics of a traced run: mean per measured pass unless the
    metric is a state at the end of the run. Besides PER_LAYER it holds
    ``plan.build_s.<module>`` of every other module the workload's queries
    live in."""
    from collections import defaultdict

    from perfbench.trace import exec_counts
    from perfbench.workloads import median

    tr = run.tracer
    n_pass = len(run.passes)
    measured = {o["id"] for o in run.ops}
    span_tot: dict[str, float] = defaultdict(float)
    span_cnt: dict[str, int] = defaultdict(int)
    for s in tr.spans:
        if s.op in measured:
            span_tot[s.name] += s.end - s.start
            span_cnt[s.name] += 1
    module_tot: dict[str, float] = defaultdict(float)
    for o in run.ops:
        if "module" in o:
            module_tot[o["module"].rsplit(".", 1)[-1]] += o["build_end"] - o["start"]

    build_jobs, action_jobs = [], []
    for o in run.ops:
        if workload == "ingest_cycles":
            action_jobs += [j.id for j in log.jobs.values() if o["start"] <= j.submit <= o["end"]]
        else:
            mine = [j for j in log.jobs.values() if j.group == o["id"]]
            build_jobs += [j.id for j in mine if j.submit < o["build_end"]]
            action_jobs += [j.id for j in mine if j.submit >= o["build_end"]]
    ex = exec_counts(log, action_jobs)
    if workload == "ingest_cycles":
        action_s = sum(o["seconds"] for o in run.ops)
    else:
        action_s = span_tot["exec.action"]
    per_pass = lambda v: v / n_pass  # noqa: E731
    setup = [s for s in tr.spans if s.name == "session.get_spark"]
    release = [s.end - s.start for s in tr.spans if s.name == "session.release_cached"]
    changed = sum(o.get("cdf_changed", 0) for o in run.ops)
    vals = {
        "session.peak_rss_mb": run.extra["peak_rss_mb"],
        "session.get_spark_s": median([s.end - s.start for s in setup]),
        "session.release_cached_s": median(release) if release else 0.0,
        "catalog.load_table_calls": per_pass(span_cnt["catalog.load_table"]),
        "catalog.load_table_s": per_pass(span_tot["catalog.load_table"]),
        "plan.build_s": per_pass(span_tot["plan.build"]),
        "plan.build_jobs": per_pass(len(build_jobs)),
        **{f"plan.build_s.{m}": per_pass(module_tot[m]) for m in sorted({*PLAN_MODULES, *module_tot})},
        "exec.action_s": per_pass(action_s),
        "exec.core_util": ex["task_s"] / (action_s * run.nproc) if action_s else 0.0,
        "exec.task_max_over_median": ex["task_max_over_median"],
        **{
            f"exec.{k}": per_pass(ex[k])
            for k in (
                "jobs", "stages", "tasks", "task_s", "input_bytes", "shuffle_write_bytes",
                "shuffle_read_bytes", "spill_bytes", "python_bytes_sent",
                "python_bytes_received", "python_rows",
            )
        },
        "ingest.detect_s": per_pass(span_tot["ingest.detect"]),
        "ingest.latest_runs_s": per_pass(span_tot["ingest.latest_runs"]),
        "ingest.history_files": run.detail.get("history_files", 0),
        "ingest.history_append_s": per_pass(span_tot["ingest.history_append"]),
        "ingest.tables_reloaded": per_pass(sum(o.get("tables_reloaded", 0) for o in run.ops)),
        "ingest.table_s": per_pass(span_tot["ingest.table"]),
        "ingest.worker_busy_ratio": (
            span_tot["ingest.table"] / (action_s * run.nproc) if workload == "ingest_cycles" else 0.0
        ),
        "lake.write_s": per_pass(span_tot["lake.write"]),
        "lake.bytes_written": per_pass(sum(o.get("lake_bytes_written", 0) for o in run.ops)),
        "lake.files_written": per_pass(sum(o.get("lake_files_written", 0) for o in run.ops)),
        "lake.write_amp": notes.get("write_amp", 0.0),
        "lake.space_amp": run.extra.get("space_amp", 0.0),
        "txlog.apply_s": per_pass(span_tot["txlog.apply"]),
        "txlog.change_feed_s": per_pass(span_tot["txlog.change_feed"]),
        "txlog.compact_s": per_pass(span_tot["txlog.compact"]),
        "txlog.rows_rewritten_per_changed_row": (
            sum(o.get("cdf_rows_written", 0) for o in run.ops) / changed if changed else 0.0
        ),
        "txlog.live_files": run.detail.get("txlog_live_files", 0),
        "txlog.versions": run.detail.get("txlog_versions", 0),
        "trace.pass_s": median([p["seconds"] for p in run.passes]),
    }
    unavailable = {
        k: "layer not exercised by this workload"
        for k in vals
        if not k.startswith(_EXERCISED[workload])
    }
    for k in (f"plan.build_s.{m}" for m in PLAN_MODULES):
        if k not in unavailable and module_tot[k.rsplit(".", 1)[-1]] == 0:
            unavailable[k] = "no query of this workload is defined in that module"
    return vals, unavailable


def main(argv: list[str] | None = None) -> int:
    args = _parse(argv)
    _adopt_orphans()
    try:
        return _main(args)
    finally:
        stop_children()


def _main(args: argparse.Namespace) -> int:
    root = os.getcwd()
    work = os.path.join(root, WORK_DIR)
    event_log = None
    if args.trace:
        event_log = os.path.join(work, "eventlog", f"{args.workload}-s{args.seed}")
        shutil.rmtree(event_log, ignore_errors=True)
        os.makedirs(event_log)
    _launch_env(root, work, event_log)
    if root not in sys.path:
        sys.path.insert(0, root)
    # the engine must be importable before anything is generated
    import feature_datalake_sl_mandic_spark  # noqa: F401

    from perfbench import trace, workloads

    fingerprint = _engine_fingerprint(root)
    run = workloads.Run(
        seed=args.seed,
        seconds=args.seconds,
        nproc=len(os.sched_getaffinity(0)),
        work=work,
        cache=os.path.join(work, "cache"),
        tracer=trace.Tracer(enabled=bool(args.trace)),
    )
    t0 = time.perf_counter()
    try:
        if args.workload == "ingest_cycles":
            workloads.run_ingest_workload(run)
        else:
            workloads.run_query_workload(run, args.workload)
    finally:
        run.tracer.unpatch()
        workloads.stop_spark()
    values, notes = end_to_end(run)
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "wall_s": time.perf_counter() - t0,
        "fingerprint": {**fingerprint, **run.detail.pop("fingerprint_spark", {})},
        "end_to_end": values,
        "notes": notes,
        "errors": run.errors,
        "passes": run.passes,
        "ops": run.ops,
        **run.detail,
    }
    if args.trace:
        log = trace.read_event_log(event_log)
        layer_vals, unavailable = per_layer(run, args.workload, log, notes)
        detail["per_layer"] = layer_vals
        detail["unavailable"] = unavailable
        run.tracer.dump(os.path.join(work, "trace", f"{args.workload}-s{args.seed}.spans.jsonl"))
        self_t = run.tracer.self_times()
        by_name: dict[str, list[float]] = {}
        for s in run.tracer.spans:
            tot = by_name.setdefault(s.name, [0, 0.0, 0.0])
            tot[0] += 1
            tot[1] += s.end - s.start
            tot[2] += self_t[s.id]
        detail["spans"] = {k: {"count": c, "total_s": t, "self_s": st} for k, (c, t, st) in by_name.items()}
        metrics = {k: {"value": layer_vals[k], "unit": u} for k, u in PER_LAYER}
    else:
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END}

    os.makedirs(os.path.join(work, "detail"), exist_ok=True)
    detail_path = os.path.join(
        work, "detail", f"{args.workload}-s{args.seed}-t{args.trace}.json"
    )
    with open(detail_path, "w") as f:
        json.dump(detail, f, indent=1, default=str)

    sentinel = detail.get("sentinel_s") or [0.0]
    print(f"# {args.workload} seed={args.seed} trace={args.trace} detail={detail_path}")
    print(
        f"# fingerprint nproc={fingerprint['nproc']} "
        f"shuffle.partitions={detail['fingerprint'].get('spark.sql.shuffle.partitions')} "
        f"driver.memory={detail['fingerprint'].get('spark.driver.memory')} "
        f"datagen_s={detail.get('datagen_s', 0):.3f} sentinel_min_s={min(sentinel):.4f}"
    )
    for k, u in END_TO_END:
        extra = f"  ({notes['op_tail_s']})" if k == "op_tail_s" else ""
        print(f"{k} = {values[k]:.6g} {u}{extra}")
    print(f"fail_ratio = {notes['fail_ratio']:.6g} ratio  ({notes['failed']} of {notes['attempted']} ops)")
    print(f"peak_rss_mb = {notes['peak_rss_mb']:.6g} MB")
    for k in ("write_amp", "space_amp"):
        if k in notes:
            print(f"{k} = {notes[k]:.6g} ratio")
    if args.trace:
        units = dict(PER_LAYER)
        for k, v in layer_vals.items():
            why = detail["unavailable"].get(k)
            print(f"{k} = {v:.6g} {units.get(k, 's')}" + (f"  ({why})" if why else ""))
    for e in run.errors[:20]:
        print(f"ERROR {e}")
    correct = not run.errors
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": notes["attempted"],
                "failed": notes["failed"],
                "metrics": metrics,
            }
        )
    )
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
