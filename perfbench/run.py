"""CDC data-plane benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds its inputs from the seed, drives the
package in this checkout, checks every result against the DuckDB oracle and
prints one JSON object as the last line of stdout: end-to-end metrics with
``--trace 0``, per-layer metrics with ``--trace 1``. Everything the run
writes stays under ``.perfbench/`` in the current directory; see README.md.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time

PKG = "tabular_cdc_bootstrapper_spark"
WORKLOADS = ("poll_scattered_snapshot", "mor_reads_and_writes")
# a run is correct only when all of these ran and held
REQUIRED_CHECKS = ("inputs_deterministic", "final_state", "planted_wrong_caught")
END_TO_END = {
    "setup_s": "s",
    "initial_load_s": "s",
    "poll_p50_s": "s",
    "write_amp": "ratio",
    "space_amp": "ratio",
    "read_mix_s": "s",
    "dml_p50_s": "s",
}
PER_LAYER = {
    "session.start_s": "s",
    "cli.self_s": "s",
    "cli.schema_infer_s": "s",
    "cli.row_count_s": "s",
    "catalog.bootstrap_s": "s",
    "catalog.repoint_s": "s",
    "runner.ingest_s": "s",
    "runner.files_ingested": "count",
    "runner.rows_ingested": "count",
    "runner.merge_stream_s": "s",
    "state_table.merge_s": "s",
    "state_table.commit_s": "s",
    "mirror.merge_s": "s",
    "mirror.touched_frac": "ratio",
    "mirror.bytes_written": "bytes",
    "mirror.files_written": "count",
    "mirror.delta_chain_len": "count",
    "mirror.files_per_read": "count",
    "mirror.read_full_s": "s",
    "mirror.read_point_s": "s",
    "mirror.read_range_s": "s",
    "mirror.read_version_s": "s",
    "mirror.read_final_s": "s",
    "mirror.compact_s": "s",
    "mirror.compact_bytes_rewritten": "bytes",
    "mirror.expire_s": "s",
    "log.publish_s": "s",
    "log.entries": "count",
    "log.commit_conflicts": "count",
    "feeds.table_changes_s": "s",
    "sql.update_s": "s",
    "sql.delete_s": "s",
    "spark.jobs_per_poll": "count",
    "spark.job_s_per_poll": "s",
    "spark.driver_gap_s_per_poll": "s",
    "spark.tasks_per_poll": "count",
    "spark.shuffle_mb_per_poll": "MB",
    "spark.jobs_per_read": "count",
    "driver.peak_rss_mb": "MB",
    "jvm.peak_rss_mb": "MB",
    "trace.overhead_s": "s",
    "trace.poll_accounted_frac": "ratio",
}


def _fail(msg: str, code: int = 2) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return code


def _spark_jvms() -> list[int]:
    """PIDs of live Spark JVMs on this host (another benchmark or a test
    session competing for the cores)."""
    pids = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/cmdline", "rb") as fh:
                cmd = fh.read()
        except OSError:
            continue
        if b"java" in cmd and b"org.apache.spark" in cmd:
            pids.append(int(d))
    return pids


def _source_sha(root: str) -> str:
    h = hashlib.sha256()
    for d, dirs, files in sorted(os.walk(os.path.join(root, PKG))):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, root).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def _git_sha(root: str) -> str | None:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
            text=True, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None if out.returncode == 0 else None


def _stop_spark(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def _host_probe_s() -> float:
    """Seconds for a fixed pure-Python loop, median of three: a record of
    how fast this host ran, for comparing artifacts across hosts."""
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        acc = 0
        for i in range(1_000_000):
            acc += i
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the host since boot, from /proc/stat."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return ticks[7], sum(ticks)


def _tail(xs: list[float]) -> dict:
    """Highest percentile with at least ten samples beyond it."""
    n = len(xs)
    if n < 11:
        return {"n": n, "pct": None, "value": None}
    pct = int(100 * (n - 10) / n)
    return {"n": n, "pct": pct, "value": sorted(xs)[max(0, int(n * pct / 100) - 1)]}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, PKG, "__init__.py")):
        return _fail(f"no {PKG}/ package in {root}; run from the repository root")
    if args.workload not in WORKLOADS:
        return _fail(f"unknown workload {args.workload!r}; one of {WORKLOADS}")
    if args.seconds < 1:
        return _fail("--seconds must be at least 1")

    base = os.path.join(root, ".perfbench")
    work = os.path.join(base, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    results = os.path.join(base, "results")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.makedirs(results, exist_ok=True)
    cpus = min(4, len(os.sched_getaffinity(0)))
    os.environ.update(
        TMPDIR=tmp,
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_MASTER=f"local[{cpus}]",
        SPARK_DRIVER_MEMORY="2g",
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        # every JVM the launcher starts keeps its temp files in the work dir
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        PYSPARK_PYTHON=sys.executable,
    )
    sys.path.insert(0, root)
    import importlib

    pkg = importlib.import_module(PKG)
    if not os.path.abspath(pkg.__file__).startswith(os.path.join(root, PKG) + os.sep):
        return _fail(f"{PKG} imported from {pkg.__file__}, not from {root}")

    # a concurrent Spark JVM fakes 2-3x regressions: wait briefly for one
    # that is shutting down, then flag the run if any is still alive
    others = _spark_jvms()
    deadline = time.time() + 30
    while others and time.time() < deadline:
        time.sleep(1)
        others = _spark_jvms()
    if others:
        print(f"perfbench: WARNING {len(others)} other Spark JVM(s) alive: {others}",
              file=sys.stderr)

    import pyspark

    import spans
    import workloads

    tracer = spans.Tracer()
    if args.trace:
        spans.instrument(tracer)
        tracer.active = True  # set-up spans; the run switches it per step
    run = workloads.Run(args.workload, args.seed, args.seconds, bool(args.trace), work, tracer)
    event_dir = os.path.join(work, "eventlog")
    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.ui.showConsoleProgress": "false",
    }
    if args.trace:
        os.makedirs(event_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_dir,
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.compress": "false",
        })

    stamp = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": os.cpu_count(), "cpus_used": cpus,
        "python": platform.python_version(), "pyspark": pyspark.__version__,
        "git_sha": _git_sha(root), "source_sha256": _source_sha(root),
        # nothing is timed before the primer's load and polls
        "warmup_polls": workloads.PRIME_POLLS,
        "primer_keys": workloads.PRIME_KEYS,
        "initial_loads": workloads.INITIAL_LOADS,
        "other_spark_jvms_at_start": len(others),
        "host_probe_s": _host_probe_s(),
    }
    steal0, total0 = _cpu_ticks()
    try:
        try:
            workloads.setup(run, conf)
            tracer.active = False
            stamp["master"] = run.spark.sparkContext.master
            stamp["java"] = run.spark.sparkContext._jvm.System.getProperty("java.version")
            workloads.run_workload(run)
            jvm_pid = getattr(getattr(pyspark.SparkContext._gateway, "proc", None), "pid", None)
            run.facts["jvm_peak_mb"] = workloads.peak_rss_mb(jvm_pid) if jvm_pid else 0.0
        finally:
            if run.spark is not None:
                _stop_spark(run.spark)
        jobs = spans.spark_jobs(event_dir) if args.trace else []
        stamp["other_spark_jvms_at_end"] = len(_spark_jvms())
        steal1, total1 = _cpu_ticks()
        stamp["host_steal_frac"] = (steal1 - steal0) / max(total1 - total0, 1)
        e2e, extra = end_to_end(run)
        layers = per_layer(run, jobs, untraced_p50(results, stamp)) if args.trace else {}
        breakdown = poll_breakdown(run) if args.trace else {}
    finally:
        if args.trace and tracer.spans:
            tracer.dump(os.path.join(results, f"spans-{args.workload}-{args.seed}.json"))
        shutil.rmtree(work, ignore_errors=True)

    # "final_state" is the verdict on the final read op, counted there
    checks = {k: v for k, v in run.checks.items() if k != "final_state"}
    failed = sum(1 for op in run.ops if not op.ok) + sum(1 for ok in checks.values() if not ok)
    attempted = len(run.ops) + len(checks)
    correct = failed == 0 and all(run.checks.get(k) for k in REQUIRED_CHECKS)
    artifact = {
        "stamp": stamp, "checks": run.checks, "facts": run.facts,
        "end_to_end": e2e, "detail": extra, "per_layer": layers,
        "poll_self_time_breakdown_s": breakdown,
        "ops_failed_frac": failed / attempted,
    }
    path = os.path.join(
        results, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    )
    with open(path, "w") as fh:
        json.dump(artifact, fh, indent=1, default=str)
    print("stamp " + json.dumps(stamp))
    print("checks " + json.dumps(run.checks) + f" artifact {os.path.relpath(path, root)}")
    chosen, units = (layers, PER_LAYER) if args.trace else (e2e, END_TO_END)
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": chosen[k], "unit": units[k]} for k in units},
    }))
    return 0


def _polls(run, kinds=("poll",)):
    return [op for op in run.ops if op.kind in kinds]


def _med(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def end_to_end(run) -> tuple[dict, dict]:
    polls = _polls(run)
    secs = [op.seconds for op in polls]
    initial = _polls(run, ("initial",))
    in_bytes = sum(op.info["in_bytes"] for op in polls)
    e2e = {
        "setup_s": run.setup_s,
        "initial_load_s": _med(op.seconds for op in initial),
        "poll_p50_s": _med(secs),
        "write_amp": run.facts.get("window_bytes_written", 0) / max(in_bytes, 1),
        "space_amp": run.facts.get("mirror_bytes", 0) / max(run.facts.get("oracle_parquet_bytes", 0), 1),
        "read_mix_s": sum(op.seconds for op in run.ops if op.kind.startswith("read.")),
        "dml_p50_s": _med(op.seconds for op in run.ops if op.kind.startswith("sql.")),
    }
    compact = [op.seconds for op in run.ops if op.kind == "maint.compact"]
    expire = [op.seconds for op in run.ops if op.kind == "maint.expire"]
    # reported but not bounded: the throughput is the window's events over
    # the same poll times as poll_p50_s, and the JVM's peak RSS follows its
    # garbage collector's heap sizing, which spreads by about 20% between
    # runs
    extra = {
        "changed_rows_per_s": sum(op.info["events"] for op in polls) / max(sum(secs), 1e-9),
        "peak_rss_mb": run.facts.get("driver_py_peak_mb", 0.0) + run.facts.get("jvm_peak_mb", 0.0),
        "ops": [(op.kind, round(op.seconds, 4), op.ok) for op in run.ops],
        "poll_tail_s": _tail(secs),
        "read_tail_s": _tail([op.seconds for op in run.ops if op.kind.startswith("read.")]),
        "maintenance_s": _med(c + e for c, e in zip(compact, expire)),
    }
    return e2e, extra


def poll_breakdown(run) -> dict:
    """Median self time per span name over the traced polls, beside the
    median poll wall: the self times of one poll's spans sum to its wall."""
    selfs = run.tracer.self_times()
    rows: dict[str, list[float]] = {}
    walls = []
    for op in _polls(run):
        if op.span is None:
            continue
        walls.append(op.span.end - op.span.start)
        per: dict[str, float] = {"poll": selfs[op.span.id]}
        for s in run.tracer.descendants(op.span):
            per[s.name] = per.get(s.name, 0.0) + selfs[s.id]
        for name, v in per.items():
            rows.setdefault(name, []).append(v)
    out = {name: _med(v) for name, v in sorted(rows.items())}
    out["(wall)"] = _med(walls)
    return out


def untraced_p50(results: str, stamp: dict) -> float | None:
    """``poll_p50_s`` of the untraced run of the same workload, seed,
    window and sources, from its artifact; None if there is none."""
    path = os.path.join(
        results, f"{stamp['workload']}-seed{stamp['seed']}-trace0.json"
    )
    try:
        with open(path) as fh:
            art = json.load(fh)
    except (OSError, ValueError):
        art = {}
    same = all(
        art.get("stamp", {}).get(k) == stamp[k] for k in ("seconds", "source_sha256")
    )
    stamp["trace_overhead_baseline"] = os.path.basename(path) if same else None
    if not same:
        print(
            f"perfbench: no untraced artifact {path} for these sources; "
            "trace.overhead_s reads 0. Run --trace 0 with the same seed first.",
            file=sys.stderr,
        )
        return None
    return art["end_to_end"]["poll_p50_s"]


def per_layer(run, jobs: list[dict], untraced_poll_p50: float | None) -> dict:
    import spans

    tracer = run.tracer
    selfs = tracer.self_times()
    polls = _polls(run)
    traced = [op for op in polls if op.span is not None]

    def per_poll(name: str, self_time: bool = False, attr: str | None = None) -> float:
        vals = []
        for op in traced:
            tot = 0.0
            for s in tracer.descendants(op.span):
                if s.name != name:
                    continue
                if attr is not None:
                    tot += s.attrs.get(attr, 0)
                else:
                    tot += selfs[s.id] if self_time else s.end - s.start
            vals.append(tot)
        return _med(vals)

    def op_med(kind: str, key: str | None = None) -> float:
        return _med(
            (op.info.get(key, 0) if key else op.seconds)
            for op in run.ops if op.kind == kind and op.ok
        )

    touched = []
    for op in traced:
        n = sum(s.attrs.get("touched", 0) for s in tracer.descendants(op.span) if s.name == "mirror.merge")
        if op.info.get("partitions"):
            touched.append(n / op.info["partitions"])
    reads = [op for op in run.ops if op.kind.startswith("read.")]
    # share of a poll's wall inside the package's layer spans: the wall
    # minus the self time of the poll itself and of the entry points that
    # only call into those layers
    accounted = []
    for op in traced:
        wall = op.span.end - op.span.start
        glue = selfs[op.span.id] + sum(
            selfs[s.id] for s in tracer.descendants(op.span)
            if s.name in ("cli.main", "runner.pipeline")
        )
        accounted.append(1.0 - glue / wall if wall > 0 else 0.0)

    def spark_per(ops, fn) -> float:
        return _med(fn(spans.jobs_in(jobs, op.start, op.start + op.seconds), op) for op in ops)

    return {
        "session.start_s": run.setup_s,
        "cli.self_s": per_poll("cli.main", self_time=True),
        "cli.schema_infer_s": per_poll("cli.schema_infer"),
        "cli.row_count_s": per_poll("cli.row_count"),
        "catalog.bootstrap_s": per_poll("catalog.bootstrap"),
        "catalog.repoint_s": per_poll("catalog.repoint"),
        "runner.ingest_s": per_poll("runner.ingest"),
        "runner.files_ingested": per_poll("runner.ingest", attr="files"),
        "runner.rows_ingested": per_poll("runner.ingest", attr="rows"),
        "runner.merge_stream_s": per_poll("runner.pipeline", self_time=True),
        "state_table.merge_s": per_poll("state_table.merge"),
        "state_table.commit_s": per_poll("state_table.commit"),
        "mirror.merge_s": per_poll("mirror.merge"),
        "mirror.touched_frac": _med(touched),
        "mirror.bytes_written": op_med("poll", "out_bytes"),
        "mirror.files_written": op_med("poll", "out_files"),
        "mirror.delta_chain_len": op_med("read.full", "delta_chain_len"),
        "mirror.files_per_read": op_med("read.full", "files_per_read"),
        "mirror.read_full_s": op_med("read.full"),
        "mirror.read_point_s": op_med("read.point"),
        "mirror.read_range_s": op_med("read.range"),
        "mirror.read_version_s": op_med("read.version"),
        "mirror.read_final_s": op_med("read.final"),
        "mirror.compact_s": op_med("maint.compact"),
        "mirror.compact_bytes_rewritten": op_med("maint.compact", "bytes_rewritten"),
        "mirror.expire_s": op_med("maint.expire"),
        "log.publish_s": per_poll("log.publish"),
        "log.entries": run.facts.get("log_entries", 0),
        "log.commit_conflicts": sum(1 for s in tracer.spans if s.attrs.get("conflict")),
        "feeds.table_changes_s": op_med("read.changes"),
        "sql.update_s": op_med("sql.update"),
        "sql.delete_s": op_med("sql.delete"),
        "spark.jobs_per_poll": spark_per(polls, lambda js, op: len(js)),
        "spark.job_s_per_poll": spark_per(polls, lambda js, op: sum(j["end"] - j["start"] for j in js)),
        "spark.driver_gap_s_per_poll": spark_per(
            polls, lambda js, op: op.seconds - spans.busy_time(js, op.start, op.start + op.seconds)
        ),
        "spark.tasks_per_poll": spark_per(polls, lambda js, op: sum(j["tasks"] for j in js)),
        "spark.shuffle_mb_per_poll": spark_per(
            polls, lambda js, op: sum(j["shuffle_bytes"] for j in js) / 1e6
        ),
        "spark.jobs_per_read": spark_per(reads, lambda js, op: len(js)),
        "driver.peak_rss_mb": run.facts.get("driver_py_peak_mb", 0.0),
        "jvm.peak_rss_mb": run.facts.get("jvm_peak_mb", 0.0),
        "trace.overhead_s": (
            0.0 if untraced_poll_p50 is None
            else _med(op.seconds for op in traced) - untraced_poll_p50
        ),
        "trace.poll_accounted_frac": _med(accounted),
    }


if __name__ == "__main__":
    sys.exit(main())
