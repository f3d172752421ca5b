"""The benchmark's workloads: closed loops with one client and one poll at a
time, driving the CDC data plane through its public entry points.

Both workloads run the same sequence: set-up, a primer (the workload in
miniature, untimed), three initial loads from scratch, the polls of the
measured window, then a fixed read mix, maintenance (versioned mirror only)
and six ``TableSql`` DML statements on the mirror the window left, and a
final full read checked against the oracle.
``poll_scattered_snapshot`` polls through ``__main__.main()``, the way the
CLI runs, configured through its environment contract;
``mor_reads_and_writes`` calls ``run_cdc_pipeline_available_now`` and also
runs the mirror's maintenance calls. Every result is checked against the
DuckDB oracle outside the timed region.
"""

from __future__ import annotations

import datetime
import os
import shutil
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa

import gen
from gen import KEY, TS
from oracle import COLS, Oracle, cents, planted_wrong
from spans import Tracer

# the primer: the workload on a mirror of PRIME_KEYS keys per replica (1%
# of the real one), loaded and polled PRIME_POLLS times before anything is
# timed. On a new JVM the first pass pays class loading and JIT
# compilation: about 10 s, which varied by several seconds between runs.
PRIME_KEYS = 1_500
PRIME_POLLS = 1
# initial loads, each from scratch into its own work dir; initial_load_s is
# their median. The first still runs about 30% slower than the other two
# (JIT compilation at full size), and a single load spread by up to a
# third between runs on a shared host.
INITIAL_LOADS = 3
# a lower bound on one poll's seconds, to size the generated stream so a
# run never runs out of change files
MIN_POLL_S = 0.5
# the window runs for --seconds and at least this many polls, so a slow
# host cannot leave the median resting on one or two samples
MIN_WINDOW_POLLS = 3
DML_KEYS_PER_STMT = 8
# rounds of one UPDATE and one DELETE. The first statement of a run is
# often 30% slower than the rest, and over two statements dml_p50_s spread
# by up to 0.2 IQR/median between runs.
DML_ROUNDS = 3
# hash buckets of the merge-on-read mirror. At the runner's default of 64,
# uniform events touch every bucket, a poll costs 2-2.5x as much on 4
# cores, and a run no longer fits in about a minute.
MOR_BUCKETS = 16
ENVELOPE = ("op", TS, "_src_file")


@dataclass
class Op:
    kind: str
    start: float  # epoch seconds, to match Spark event-log times
    seconds: float
    ok: bool
    span: object = None  # the op's span, in a traced run
    info: dict = field(default_factory=dict)


@dataclass
class Run:
    workload: str
    seed: int
    seconds: int
    traced: bool
    work: str
    tracer: Tracer
    spark: object = None
    inputs: gen.Inputs | None = None
    primer: gen.Inputs | None = None
    ops: list[Op] = field(default_factory=list)
    setup_s: float = 0.0
    checks: dict = field(default_factory=dict)
    facts: dict = field(default_factory=dict)

    def timed(self, kind: str, fn, **info) -> tuple[Op, object]:
        """Run ``fn`` as one op inside span ``kind``. An exception fails the
        op and is recorded, not raised."""
        start = time.time()
        t0 = time.perf_counter()
        with self.tracer.span(kind) as s:
            try:
                out, ok = fn(), True
            except Exception as exc:  # noqa: BLE001 — a failed op is counted
                out, ok = None, False
                info["error"] = repr(exc)[:300]
        op = Op(kind, start, time.perf_counter() - t0, ok, s, info)
        self.ops.append(op)
        return op, out


def _tree_files(root: str) -> dict[str, int]:
    out = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            try:
                out[p] = os.path.getsize(p)
            except FileNotFoundError:  # removed while walking
                pass
    return out


def _new_bytes(before: dict[str, int], after: dict[str, int]) -> tuple[int, int]:
    new = [s for p, s in after.items() if p not in before]
    return sum(new), len(new)


def setup(run: Run, conf: dict[str, str]) -> None:
    """Generate the primer's inputs, then the real inputs twice, and check
    that both copies are byte-identical (the determinism check); then start
    the session and ship the package once, cold: the JVM is new and the
    run's TMPDIR holds no package zip yet."""
    import tabular_cdc_bootstrapper_spark.session as session
    import tabular_cdc_bootstrapper_spark.shipping as shipping

    n_polls = max(int(np.ceil(run.seconds / MIN_POLL_S)), MIN_WINDOW_POLLS) + 1
    run.primer = gen.generate(
        run.workload, run.seed, os.path.join(run.work, "primer-inputs"), PRIME_POLLS,
        base_keys=PRIME_KEYS,
    )
    sums = []
    for rep in range(2):
        if run.inputs is not None:
            shutil.rmtree(run.inputs.root)
        t0 = time.perf_counter()
        run.inputs = gen.generate(
            run.workload, run.seed, os.path.join(run.work, f"inputs{rep}"), n_polls
        )
        run.facts.setdefault("gen_s", []).append(time.perf_counter() - t0)
        sums.append(gen.checksums(run.inputs))
    run.checks["inputs_deterministic"] = sums[0] == sums[1]
    run.facts["driver_peak_reset"] = reset_peak_rss()

    t0 = time.perf_counter()
    with run.tracer.span("session.start"):
        run.spark = session.get_spark("perfbench", extra_conf=conf)
        shipping.ensure_self_on_workers(run.spark)
    run.setup_s = time.perf_counter() - t0


def reset_peak_rss() -> bool:
    """Reset this process's VmHWM to its current RSS, so the driver's peak
    leaves out the memory the generator used."""
    try:
        with open("/proc/self/clear_refs", "w") as fh:
            fh.write("5")
    except OSError:
        return False
    return True


def peak_rss_mb(pid: int | str = "self") -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


# -- how each workload polls -----------------------------------------------------

def _cli_poller(run: Run, inputs: gen.Inputs, tag: str):
    """poll_scattered_snapshot: ``__main__.main()`` with the snapshot layout.
    Each ``tag`` is a first run of the CLI: its own work dir, warehouse and
    database."""
    from tabular_cdc_bootstrapper_spark.__main__ import main
    from tabular_cdc_bootstrapper_spark.streaming.state_table import (
        ParquetStateTable,
    )

    cdc_work = os.path.join(run.work, tag, "cdc")
    env = dict(
        TABULAR_BUCKET_NAME="bench",
        TABULAR_BUCKET_MONITOR_PATH="orders",
        TABULAR_TARGET_DATABASE=f"bench_{tag}",
        TABULAR_CDC_ID_FIELD=KEY,
        TABULAR_CDC_TIMESTAMP_FIELD=TS,
        SPARK_CDC_SOURCE_DIR=inputs.source,
        SPARK_CDC_WORK_DIR=cdc_work,
        ENGINE_WAREHOUSE_DIR=os.path.join(run.work, tag, "engine-warehouse"),
        SPARK_CDC_MIRROR_LAYOUT="snapshot",
    )
    mirror_root = os.path.join(cdc_work, "orders", "mirror")

    def poll():
        os.environ.update(env)
        with run.tracer.span("cli.main"):
            rc = main()
        if rc != 0:
            raise RuntimeError(f"main() returned {rc}")
        return ParquetStateTable(mirror_root)

    return poll, mirror_root


def _runner_poller(run: Run, inputs: gen.Inputs, tag: str):
    """mor_reads_and_writes: the runner with a merge-on-read mirror, in the
    work dir of ``tag``."""
    import tabular_cdc_bootstrapper_spark.streaming.pipeline as pipeline
    from tabular_cdc_bootstrapper_spark.config import CdcTarget

    target = CdcTarget("s3://bench/orders", key_column=KEY, ts_column=TS)
    schema = run.spark.read.parquet(
        os.path.join(inputs.source, inputs.load_files[0])
    ).schema
    work = os.path.join(run.work, tag, "cdc", "orders")

    def poll():
        out = pipeline.run_cdc_pipeline_available_now(
            run.spark, inputs.source, schema, work, target,
            mirror_layout="bucketed_versioned_mor", n_buckets=MOR_BUCKETS,
        )
        return out["mirror"]

    return poll, os.path.join(work, "mirror")


POLLERS = {
    "poll_scattered_snapshot": _cli_poller,
    "mor_reads_and_writes": _runner_poller,
}


# -- the run ---------------------------------------------------------------------

def run_workload(run: Run) -> None:
    make_poller = POLLERS[run.workload]
    table = None

    def poll(kind: str, poll_once, root: str, inputs: gen.Inputs | None = None):
        """One pipeline pass as op ``kind``, after landing the next change
        file of ``inputs`` (none for a load); returns the mirror."""
        before = _tree_files(root)
        size = n = 0
        if inputs is not None:
            size, n = inputs.land()
        op, out = run.timed(kind, poll_once)
        op.info.update(events=n, in_bytes=size)
        op.info["out_bytes"], op.info["out_files"] = _new_bytes(before, _tree_files(root))
        if out is not None:
            cur = out.current()
            op.info["version"] = int(cur["version"])
            op.info["partitions"] = len(cur.get("buckets") or ()) or 1
        return out

    # the primer: the workload in miniature, through the same entry point,
    # so class loading and JIT compilation are paid before the first timed
    # op and not in it
    prime_once, prime_root = make_poller(run, run.primer, "prime")
    poll("prime", prime_once, prime_root)
    for _ in range(PRIME_POLLS):
        poll("prime", prime_once, prime_root, run.primer)
    shutil.rmtree(os.path.join(run.work, "prime"), ignore_errors=True)
    # the initial load, repeated from scratch: each load has its own work
    # dir, warehouse and database, and the last one's mirror takes the polls
    for i in range(INITIAL_LOADS):
        if i:
            shutil.rmtree(os.path.join(run.work, f"load{i - 1}"), ignore_errors=True)
        poll_once, mirror_root = make_poller(run, run.inputs, f"load{i}")
        table = poll("initial", poll_once, mirror_root)
    if table is None:
        run.checks["mirror_exists"] = False
        return
    t_end = time.perf_counter() + run.seconds
    i = 0
    run.tracer.active = run.traced
    try:
        while (
            time.perf_counter() < t_end or i < MIN_WINDOW_POLLS
        ) and run.inputs.landed < len(run.inputs.incrementals):
            table = poll("poll", poll_once, mirror_root, run.inputs) or table
            i += 1
    finally:
        run.tracer.active = False
    polls = [op for op in run.ops if op.kind == "poll"]
    run.facts["window_bytes_written"] = sum(op.info["out_bytes"] for op in polls)
    # the driver's peak so far: from here on the oracle and the final
    # read's Arrow copy share the process
    run.facts["driver_py_peak_mb"] = peak_rss_mb()
    orc = Oracle()
    try:
        _after_window(run, orc, table, mirror_root)
    finally:
        orc.close()


def _maintain(run: Run, table, mirror_root: str) -> None:
    """``rewrite_data_files`` + ``expire_snapshots``, the periodic
    maintenance of a versioned mirror; the snapshot layout has none."""
    if not hasattr(table, "rewrite_data_files"):
        return
    before = _tree_files(mirror_root)
    op, _ = run.timed("maint.compact", lambda: table.rewrite_data_files(run.spark))
    op.info["bytes_rewritten"] = _new_bytes(before, _tree_files(mirror_root))[0]
    run.timed("maint.expire", lambda: table.expire_snapshots(keep_last=2))


def _after_window(run: Run, orc: Oracle, table, mirror_root: str) -> None:
    """The read mix, maintenance (versioned mirror only) and six DML
    statements on the mirror the window left, each op checked against the
    oracle, then the final state check.

    The full read and the change feed run first, over the delta chains the
    window's polls built. The point and range reads run after maintenance;
    the version read then reads the pre-maintenance snapshot, so three
    reads pay the read-fold cost and the run stays near a minute."""
    from pyspark.sql import functions as F

    import tabular_cdc_bootstrapper_spark.streaming.feeds as feeds
    from tabular_cdc_bootstrapper_spark.sql import TableSql

    spark = run.spark
    run.tracer.active = run.traced
    files = run.inputs.landed_files()
    v = int(table.current()["version"])
    orc.latest("cur", files)
    orc.latest("prev", files[:-1])  # version v - 1, the previous poll
    rng = np.random.default_rng([run.seed, 7])

    def check_agg(op: Op, out, oracle_table: str, where: str = "TRUE") -> None:
        op.ok = op.ok and tuple(out[0]) == orc.aggregate(oracle_table, where)

    op, out = run.timed(
        "read.full", lambda: table.read(spark).agg(*_agg_exprs()).collect(), **_shape(table)
    )
    check_agg(op, out, "cur")
    op, out = run.timed(
        "read.changes",
        lambda: [
            (int(r[0]), r[1])
            for r in feeds.table_changes(spark, table, v - 1, v, KEY, drop_cols=ENVELOPE)
            .select(KEY, "op").collect()
        ],
    )
    op.ok = op.ok and len(out) == len(set(out)) and set(out) == orc.changes("prev", "cur")
    _maintain(run, table, mirror_root)

    # reserved keys (some of which the DML below changes) and random keys,
    # live, deleted or never inserted
    n_keys = gen.SHAPES[run.workload].replicas * gen.BASE_KEYS
    keys = sorted(
        {int(k) for k in rng.choice(run.inputs.dml_keys, 4, replace=False)}
        | {int(k) for k in rng.integers(0, 2 * n_keys, 4)}
    )
    pruned = hasattr(table, "read_pruned")
    op, out = run.timed(
        "read.point",
        lambda: (
            table.read_pruned(spark, KEY, keys) if pruned
            else table.read(spark).filter(F.col(KEY).isin(keys))
        ).select(*COLS).toArrow(),
    )
    where = f"{KEY} IN ({', '.join(map(str, keys))})"
    op.ok = op.ok and orc.mismatches(_ntz(out), "cur", where) == 0

    y, mo = divmod(int(rng.integers(0, gen.N_MONTHS)), 12)
    lo = datetime.datetime(1995 + y, mo + 1, 1)
    hi = (lo + datetime.timedelta(days=32)).replace(day=1) - datetime.timedelta(microseconds=1)
    op, out = run.timed(
        "read.range",
        lambda: (
            table.read_pruned(spark, "o_orderdate", lo, hi) if pruned
            else table.read(spark).filter(F.col("o_orderdate").between(lo, hi))
        ).agg(*_agg_exprs()).collect(),
    )
    check_agg(op, out, "cur", f"o_orderdate BETWEEN TIMESTAMP '{lo}' AND TIMESTAMP '{hi}'")

    # the snapshot before the current one: v - 1, or v itself when
    # maintenance committed on top of it (a rewrite changes no rows)
    head = int(table.current()["version"])
    op, out = run.timed(
        "read.version", lambda: table.read_version(spark, head - 1).agg(*_agg_exprs()).collect()
    )
    check_agg(op, out, "prev" if head == v else "cur")

    dml_keys = [int(k) for k in run.inputs.dml_keys]
    sql = TableSql(spark, {"orders": table})
    chunks = [
        ", ".join(map(str, dml_keys[i:i + DML_KEYS_PER_STMT]))
        for i in range(0, 2 * DML_ROUNDS * DML_KEYS_PER_STMT, DML_KEYS_PER_STMT)
    ]
    dml = []
    for upd, dele in zip(chunks[::2], chunks[1::2]):
        dml += [
            "UPDATE orders SET o_orderpriority = '1-URGENT', o_orderstatus = 'F' "
            f"WHERE {KEY} IN ({upd})",
            f"DELETE FROM orders WHERE {KEY} IN ({dele})",
        ]
    for stmt in dml:
        run.timed("sql." + stmt.split()[0].lower(), lambda: sql.sql(stmt))
    run.tracer.active = False

    orc.latest("expected", files)
    for stmt in dml:
        orc.apply_dml("expected", stmt)
    op, got = run.timed(
        "read.final", lambda: _ntz(table.read(spark).select(*COLS).toArrow()), **_shape(table)
    )
    if got is None:
        return
    op.ok = orc.mismatches(got, "expected") == 0
    run.checks["final_state"] = op.ok
    run.checks["planted_wrong_caught"] = orc.mismatches(planted_wrong(got), "expected") > 0
    run.facts["mirror_rows"] = got.num_rows
    run.facts["mirror_bytes"] = sum(_tree_files(mirror_root).values())
    run.facts["oracle_parquet_bytes"] = orc.parquet_bytes(
        "expected", os.path.join(run.work, "oracle_state.parquet")
    )
    run.facts["log_entries"] = len(table.history())


def _agg_exprs():
    """Row count and exact price-cents sum, as the oracle computes them."""
    from pyspark.sql import functions as F

    return [F.count(F.lit(1)), F.sum(F.expr(cents())).cast("long")]


def _shape(table) -> dict:
    """Delta-chain length per partition and files a full read opens, from
    the current manifest (versioned mirrors only)."""
    cur = table.current() or {}
    buckets = cur.get("buckets")
    if not buckets:
        return {}
    deltas = cur.get("deltas") or {}
    dirs = [d for d in buckets.values() if d]
    for chain in deltas.values():
        dirs += [d["dir"] if isinstance(d, dict) else d for d in chain]
    files = sum(
        sum(1 for f in os.listdir(d) if f.endswith(".parquet"))
        for d in dirs if os.path.isdir(d)
    )
    return {
        "delta_chain_len": sum(len(c) for c in deltas.values()) / len(buckets),
        "files_per_read": files,
    }


def _ntz(t: pa.Table) -> pa.Table:
    """Timestamps without a time zone, so Arrow and DuckDB compare
    wall-clock values (the session time zone is UTC)."""
    cols = []
    for f in t.schema:
        col = t.column(f.name)
        if pa.types.is_timestamp(f.type) and f.type.tz is not None:
            col = col.cast(pa.timestamp(f.type.unit, tz="UTC")).cast(pa.timestamp(f.type.unit))
        cols.append(col)
    return pa.table(cols, names=t.schema.names)
