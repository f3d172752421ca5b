"""Seeded workload generator: an orders-shaped mirror plus one DMS change
stream per workload.

Everything is derived from ``seed`` alone and written with pyarrow, so the
same seed gives byte-identical files (``checksums`` proves it). The base
table copies the shape of the TPC-H sf0.1 ``orders`` fixture: 150,000 dense
keys, the same six columns and value domains, order dates spread over the
80 months 1995-01 .. 2001-08. Rows carry the DMS envelope the engine
consumes: ``op`` (I/U/D) and a monotonically increasing ``transact_seq``.

File-name contract (``CdcTarget`` globs): full-load files are named
``LOAD*.parquet`` and incrementals carry a dash, ``20240101-<n>.parquet``.
Incrementals are written to ``staging/`` and landed into the monitored
``source/`` dir one per poll by ``Inputs.land``.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_KEYS = 150_000
N_MONTHS = 80  # 1995-01 .. 2001-08, as in the fixture
STATUSES = pa.array(["F", "O", "P"])
PRIORITIES = pa.array(
    ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
)
OPS = pa.array(["U", "D", "I"])
KEY = "o_orderkey"
TS = "transact_seq"
PAYLOAD = ["o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority"]
COLUMNS = [KEY, *PAYLOAD, "op", TS]
SCHEMA = pa.schema(
    [
        (KEY, pa.int64()),
        ("o_custkey", pa.int64()),
        ("o_orderstatus", pa.string()),
        ("o_totalprice", pa.float64()),
        ("o_orderdate", pa.timestamp("us")),
        ("o_orderpriority", pa.string()),
        ("op", pa.string()),
        (TS, pa.int64()),
    ]
)
_MONTH0 = np.datetime64("1995-01", "M")


MIX = (0.7, 0.2, 0.1)  # U, D, I shares of each poll's events
# a full load lands as several LOAD files, as DMS splits a full load by
# size; four per replica spread the initial load's scan over four cores
LOAD_FILES_PER_REPLICA = 4
DML_KEYS = 4_000  # keys reserved for TableSql DML, never in the stream


@dataclass(frozen=True)
class Shape:
    """The traffic shape of one workload's change stream."""

    stream: int  # index of the workload's rng stream under the seed
    replicas: int  # mirror size = replicas x BASE_KEYS keys
    events: int | None  # events per poll; None = ``live_frac`` of live keys
    live_frac: float = 0.0


SHAPES = {
    "poll_scattered_snapshot": Shape(stream=2, replicas=2, events=None, live_frac=0.01),
    "mor_reads_and_writes": Shape(stream=0, replicas=1, events=1_500),
}


@dataclass
class Inputs:
    """Paths and per-poll facts of one generated workload."""

    root: str
    source: str
    staging: str
    load_files: list[str]
    incrementals: list[str]
    events_per_file: list[int]
    dml_keys: np.ndarray
    landed: int = 0

    def land(self) -> tuple[int, int]:
        """Move the next change file into the monitored dir; returns its
        byte size and event count."""
        name = self.incrementals[self.landed]
        src = os.path.join(self.staging, name)
        dst = os.path.join(self.source, name)
        size = os.path.getsize(src)
        os.replace(src, dst)
        n = self.events_per_file[self.landed]
        self.landed += 1
        return size, n

    def landed_files(self) -> list[str]:
        return [os.path.join(self.source, f) for f in self.load_files] + [
            os.path.join(self.source, f) for f in self.incrementals[: self.landed]
        ]


def _write(rows: dict, path: str) -> None:
    table = pa.table({c: rows[c] for c in COLUMNS}, schema=SCHEMA)
    pq.write_table(
        table, path, compression="snappy",
        use_dictionary=["o_orderstatus", "o_orderpriority", "op"],
    )


def generate(
    workload: str, seed: int, root: str, n_polls: int, base_keys: int = BASE_KEYS
) -> Inputs:
    """Write the full load into ``root/source`` and ``n_polls`` change
    files into ``root/staging``; the streams are a pure function of
    (workload, seed, n_polls, base_keys). A ``base_keys`` below
    ``BASE_KEYS`` scales the mirror, the events per poll and the DML keys
    down with it: the same workload in miniature."""
    shape = SHAPES[workload]
    rng = np.random.default_rng([seed, shape.stream])
    scale = base_keys / BASE_KEYS
    source = os.path.join(root, "source")
    staging = os.path.join(root, "staging")
    os.makedirs(source)
    os.makedirs(staging)

    n0 = base_keys * shape.replicas
    events = None if shape.events is None else max(1, int(shape.events * scale))
    n_ins = events if events is not None else int(n0 * shape.live_frac)
    cap = n0 + int(np.ceil(n_ins * MIX[2])) * n_polls + 1
    # per-key column state; keys are dense ints 0..cap-1
    cust = np.zeros(cap, np.int64)
    status = np.zeros(cap, np.int64)
    price = np.zeros(cap, np.float64)
    month = np.zeros(cap, np.int64)
    day = np.zeros(cap, np.int64)
    prio = np.zeros(cap, np.int64)
    alive = np.zeros(cap, bool)

    def fill(keys: np.ndarray) -> None:
        k = len(keys)
        cust[keys] = rng.integers(0, 15_000, k)
        status[keys] = rng.integers(0, 3, k)
        price[keys] = np.round(rng.uniform(1_000.0, 500_000.0, k), 2)
        month[keys] = rng.integers(0, N_MONTHS, k)
        day[keys] = rng.integers(0, 28, k)
        prio[keys] = rng.integers(0, 5, k)

    # base orders, then replicas with offset keys (same payload shape)
    base = np.arange(base_keys)
    fill(base)
    for r in range(1, shape.replicas):
        keys = base + r * base_keys
        for a in (cust, status, price, month, day, prio):
            a[keys] = a[base]
        cust[keys] = (cust[keys] + 7 * r) % 15_000
    alive[:n0] = True
    seq = 0

    def rows(keys: np.ndarray, ops: np.ndarray) -> dict:
        nonlocal seq
        dates = (_MONTH0 + month[keys]).astype("datetime64[D]") + day[keys]
        out = {
            KEY: keys.astype(np.int64),
            "o_custkey": cust[keys],
            "o_orderstatus": STATUSES.take(status[keys]),
            "o_totalprice": price[keys],
            "o_orderdate": dates.astype("datetime64[us]"),
            "o_orderpriority": PRIORITIES.take(prio[keys]),
            "op": OPS.take(ops),
            TS: np.arange(seq, seq + len(keys), dtype=np.int64),
        }
        seq += len(keys)
        return out

    load_files = []
    for i, keys in enumerate(np.array_split(np.arange(n0), shape.replicas * LOAD_FILES_PER_REPLICA)):
        name = f"LOAD{i + 1:08d}.parquet"
        _write(rows(keys, np.full(len(keys), 2)), os.path.join(source, name))
        load_files.append(name)

    reserved = np.zeros(cap, bool)
    dml_keys = np.sort(rng.choice(n0, max(2, int(DML_KEYS * scale)), replace=False))
    reserved[dml_keys] = True

    next_key = n0
    incrementals, counts = [], []
    for p in range(n_polls):
        n = events if events is not None else int(alive.sum() * shape.live_frac)
        n_u = int(round(n * MIX[0]))
        n_d = int(round(n * MIX[1]))
        n_i = n - n_u - n_d
        live = np.flatnonzero(alive & ~reserved)
        picked = rng.choice(live, n_u + n_d, replace=False)
        upd, dele = picked[:n_u], picked[n_u:]
        new = np.arange(next_key, next_key + n_i)
        next_key += n_i
        # updates change payload, never the key or the partition source
        status[upd] = rng.integers(0, 3, n_u)
        price[upd] = np.round(rng.uniform(1_000.0, 500_000.0, n_u), 2)
        prio[upd] = rng.integers(0, 5, n_u)
        fill(new)
        alive[dele] = False
        alive[new] = True
        keys = np.concatenate([upd, dele, new])
        ops = np.repeat([0, 1, 2], [n_u, n_d, n_i])
        order = rng.permutation(len(keys))
        name = f"20240101-{p + 1:09d}.parquet"
        _write(rows(keys[order], ops[order]), os.path.join(staging, name))
        incrementals.append(name)
        counts.append(len(keys))
    return Inputs(
        root=root,
        source=source,
        staging=staging,
        load_files=load_files,
        incrementals=incrementals,
        events_per_file=counts,
        dml_keys=dml_keys,
    )


def checksums(inputs: Inputs) -> dict[str, str]:
    """sha256 of every generated file, keyed by name."""
    out = {}
    for d in (inputs.source, inputs.staging):
        for name in sorted(os.listdir(d)):
            with open(os.path.join(d, name), "rb") as fh:
                out[name] = hashlib.sha256(fh.read()).hexdigest()
    return out
