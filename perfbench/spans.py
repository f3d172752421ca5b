"""Traced-run mode: spans around the package's public calls, recorded from
outside the package, plus Spark-job attribution from the event log.

``instrument`` replaces module and class attributes of
``tabular_cdc_bootstrapper_spark`` with timing wrappers; the package itself
is not edited. Spans are kept in memory (``Tracer.spans``) and written out
once, when the run ends. A span's self time is its duration minus the part
of it its child spans cover.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)


class Tracer:
    """Span recorder. ``active`` switches recording on and off, so a traced
    run records the steps it reports and skips the rest."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.active = False
        self._stack: list[Span] = []

    def begin(self, name: str, **attrs) -> Span | None:
        if not self.active:
            return None
        parent = self._stack[-1].id if self._stack else None
        s = Span(len(self.spans), name, parent, time.time(), attrs=attrs)
        self.spans.append(s)
        self._stack.append(s)
        return s

    def end(self, s: Span | None) -> None:
        if s is None:
            return
        s.end = time.time()
        self._stack.pop()

    @contextmanager
    def span(self, name: str, **attrs):
        s = self.begin(name, **attrs)
        try:
            yield s
        finally:
            self.end(s)

    def self_times(self) -> dict[int, float]:
        child_time: dict[int, float] = {}
        for s in self.spans:
            if s.parent is not None:
                child_time[s.parent] = child_time.get(s.parent, 0.0) + (
                    s.end - s.start
                )
        return {s.id: (s.end - s.start) - child_time.get(s.id, 0.0) for s in self.spans}

    def descendants(self, root: Span) -> list[Span]:
        ids = {root.id}
        out = []
        for s in self.spans[root.id + 1:]:  # children are recorded after parents
            if s.parent in ids:
                ids.add(s.id)
                out.append(s)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(
                [
                    {
                        "id": s.id, "name": s.name, "parent": s.parent,
                        "start": s.start, "end": s.end, "attrs": s.attrs,
                    }
                    for s in self.spans
                ],
                fh,
            )


def _wrap(tracer: Tracer, name: str, fn, caller: str | None = None, after=None):
    """Time every call of ``fn`` as span ``name``. ``caller``: only calls
    made directly from that module are timed. ``after(span, result)``
    records counts from the result."""

    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        if caller is not None and sys._getframe(1).f_globals.get("__name__") != caller:
            return fn(*args, **kwargs)
        s = tracer.begin(name)
        try:
            out = fn(*args, **kwargs)
            if after is not None and s is not None:
                after(s, out)
            return out
        finally:
            tracer.end(s)

    return wrapper


def _patch(owner, attr: str, tracer: Tracer, name: str, **kw) -> None:
    setattr(owner, attr, _wrap(tracer, name, getattr(owner, attr), **kw))


def _ingest_progress(ckpt: str, q) -> dict:
    """Rows and files one ingest query consumed: rows from its progress
    reports, files from the file source's own metadata log (one JSON line
    per file, per batch id) in the query's checkpoint."""
    rows = files = 0
    for p in q.recentProgress:
        rows += int(p.get("numInputRows") or 0)
        batch = p.get("batchId")
        if batch is None or not p.get("numInputRows"):
            continue
        for path in (
            os.path.join(ckpt, "sources", "0", str(batch)),
            os.path.join(ckpt, "sources", "0", f"{batch}.compact"),
        ):
            if os.path.exists(path):
                with open(path) as fh:
                    files += sum(
                        1 for line in fh
                        if line.startswith("{") and json.loads(line).get("batchId") == batch
                    )
                break
    return {"rows": rows, "files": files}


def instrument(tracer: Tracer) -> None:
    """Wrap the package's public calls named in README.md's layer map."""
    import pyspark.sql

    import tabular_cdc_bootstrapper_spark.catalog as catalog
    import tabular_cdc_bootstrapper_spark.session as session
    import tabular_cdc_bootstrapper_spark.shipping as shipping
    import tabular_cdc_bootstrapper_spark.sql as tsql
    import tabular_cdc_bootstrapper_spark.streaming.feeds as feeds
    import tabular_cdc_bootstrapper_spark.streaming.pipeline as pipeline
    import tabular_cdc_bootstrapper_spark.streaming.runner as runner
    from tabular_cdc_bootstrapper_spark.streaming._protocol import (
        CommitConflict,
        SnapshotLog,
    )
    from tabular_cdc_bootstrapper_spark.streaming.bucket_mirror import (
        VersionedBucketMirror,
    )
    from tabular_cdc_bootstrapper_spark.streaming.state_table import (
        ParquetStateTable,
    )

    cli = "tabular_cdc_bootstrapper_spark.__main__"
    _patch(session, "get_spark", tracer, "session.get_spark")
    _patch(shipping, "ensure_self_on_workers", tracer, "session.ship")
    _patch(catalog, "bootstrap_all", tracer, "catalog.bootstrap")
    _patch(catalog, "point_table_to", tracer, "catalog.repoint")
    _patch(catalog, "point_table_to_partitioned", tracer, "catalog.repoint")
    # inline steps of __main__.main: schema inference over the source dir
    # and the mirror row count, timed only when main itself makes the call
    _patch(pyspark.sql.DataFrameReader, "parquet", tracer, "cli.schema_infer", caller=cli)
    try:  # Spark 4 classic sessions return this subclass, which overrides count
        from pyspark.sql.classic.dataframe import DataFrame
    except ImportError:
        DataFrame = pyspark.sql.DataFrame
    _patch(DataFrame, "count", tracer, "cli.row_count", caller=cli)
    _patch(pipeline, "run_cdc_pipeline_available_now", tracer, "runner.pipeline")

    orig_ingest = runner.start_changelog_ingest

    @functools.wraps(orig_ingest)
    def ingest(spark, source_dir, schema, changelog_dir, checkpoint_dir, *a, **kw):
        s = tracer.begin("runner.ingest")
        try:
            q = orig_ingest(spark, source_dir, schema, changelog_dir, checkpoint_dir, *a, **kw)
            # the caller awaits termination next; awaiting here first puts
            # the whole stream run inside this span (a second await on a
            # terminated query returns at once)
            q.awaitTermination()
            if s is not None:
                s.attrs.update(_ingest_progress(checkpoint_dir, q))
            return q
        finally:
            tracer.end(s)

    runner.start_changelog_ingest = ingest
    _patch(runner, "cdc_merge_batch", tracer, "state_table.merge")
    _patch(ParquetStateTable, "commit", tracer, "state_table.commit")

    def touched(s, rec):
        m = rec if isinstance(rec, dict) else {}
        s.attrs["touched"] = len(m.get("touched_buckets") or ())

    _patch(VersionedBucketMirror, "merge_batch", tracer, "mirror.merge", after=touched)

    orig_publish = SnapshotLog.publish

    @functools.wraps(orig_publish)
    def publish(self, *a, **kw):
        s = tracer.begin("log.publish")
        try:
            return orig_publish(self, *a, **kw)
        except CommitConflict:
            if s is not None:
                s.attrs["conflict"] = 1
            raise
        finally:
            tracer.end(s)

    SnapshotLog.publish = publish
    _patch(feeds, "table_changes", tracer, "feeds.table_changes")

    orig_sql = tsql.TableSql.sql

    @functools.wraps(orig_sql)
    def sql(self, statement, *a, **kw):
        kind = statement.strip().split(None, 1)[0].lower()
        with tracer.span(f"sql.{kind}"):
            return orig_sql(self, statement, *a, **kw)

    tsql.TableSql.sql = sql


# -- Spark event log ---------------------------------------------------------

def spark_jobs(event_dir: str) -> list[dict]:
    """Jobs of the (stopped) application's event log: submission and
    completion time in epoch seconds, task count, shuffle bytes written."""
    paths = sorted(glob.glob(os.path.join(event_dir, "*")), key=os.path.getmtime)
    if not paths:
        return []
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    with open(paths[-1]) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                j = jobs[ev["Job ID"]] = {
                    "start": ev["Submission Time"] / 1000.0,
                    "end": None, "tasks": 0, "shuffle_bytes": 0,
                }
                for sid in ev.get("Stage IDs", ()):
                    stage_job[sid] = ev["Job ID"]
            elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                j = jobs.get(stage_job.get(ev.get("Stage ID")))
                if j is None:
                    continue
                j["tasks"] += 1
                sw = (ev.get("Task Metrics") or {}).get("Shuffle Write Metrics") or {}
                j["shuffle_bytes"] += int(sw.get("Shuffle Bytes Written") or 0)
    return [j for j in jobs.values() if j["end"] is not None]


def jobs_in(jobs: list[dict], start: float, end: float) -> list[dict]:
    return [j for j in jobs if start <= j["start"] < end]


def busy_time(jobs: list[dict], start: float, end: float) -> float:
    """Length of the union of the jobs' intervals, clipped to [start, end]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(j["start"], start), min(j["end"], end)) for j in jobs):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
