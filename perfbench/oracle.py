"""DuckDB oracle: the expected mirror, computed independently of Spark.

Runs outside every timed region. The expected state of a CDC mirror is the
latest event per key (by ``transact_seq``) over the landed change files,
with deletes removed, plus any DML the workload ran on keys the change
stream never touches. Every mirror read the benchmark makes is compared
with the same query over that state.
"""

from __future__ import annotations

import os

import duckdb
import pyarrow as pa

from gen import KEY, PAYLOAD, TS

COLS = [KEY, *PAYLOAD, TS]
_SEL = ", ".join(COLS)


def cents(col: str = "o_totalprice") -> str:
    """Prices as exact integer cents, so sums compare exactly."""
    return f"CAST(round({col} * 100) AS BIGINT)"


class Oracle:
    def __init__(self) -> None:
        self.con = duckdb.connect()

    def close(self) -> None:
        self.con.close()

    def latest(self, table: str, files: list[str]) -> None:
        """``table`` := latest event per key over ``files``, deletes removed."""
        paths = "[" + ", ".join(f"'{p}'" for p in files) + "]"
        self.con.execute(
            f"CREATE OR REPLACE TABLE {table} AS SELECT {_SEL} FROM (SELECT *, "
            f"row_number() OVER (PARTITION BY {KEY} ORDER BY {TS} DESC) AS rn "
            f"FROM read_parquet({paths})) WHERE rn = 1 AND op <> 'D'"
        )

    def apply_dml(self, table: str, statement: str) -> None:
        """Run a ``TableSql`` UPDATE/DELETE written against table ``orders``
        (the forms the workloads use are plain SQL) on ``table``."""
        self.con.execute(statement.replace(" orders ", f" {table} ", 1))

    def aggregate(self, table: str, where: str = "TRUE") -> tuple:
        """(row count, sum of price cents); the sum is None over no rows,
        as Spark's is."""
        n, s = self.con.execute(
            f"SELECT count(*), sum({cents()}) FROM {table} WHERE {where}"
        ).fetchone()
        return (int(n), None if s is None else int(s))

    def changes(self, old: str, new: str) -> set[tuple[int, str]]:
        """(key, I/U/D) turning ``old`` into ``new``; U = payload differs."""
        diff = " OR ".join(f"a.{c} IS DISTINCT FROM b.{c}" for c in PAYLOAD)
        rows = self.con.execute(
            f"SELECT coalesce(a.{KEY}, b.{KEY}), CASE WHEN a.{KEY} IS NULL THEN 'I' "
            f"WHEN b.{KEY} IS NULL THEN 'D' ELSE 'U' END FROM {old} a FULL OUTER "
            f"JOIN {new} b ON a.{KEY} = b.{KEY} WHERE a.{KEY} IS NULL OR "
            f"b.{KEY} IS NULL OR {diff}"
        ).fetchall()
        return {(int(k), op) for k, op in rows}

    def mismatches(self, got: pa.Table, table: str, where: str = "TRUE") -> int:
        """Rows in exactly one of ``got`` and ``table`` filtered by
        ``where`` (as multisets)."""
        self.con.register("got", got.select(COLS))
        try:
            n = self.con.execute(
                f"SELECT (SELECT count(*) FROM (SELECT {_SEL} FROM {table} WHERE "
                f"{where} EXCEPT ALL SELECT {_SEL} FROM got)) + (SELECT count(*) "
                f"FROM (SELECT {_SEL} FROM got EXCEPT ALL SELECT {_SEL} FROM "
                f"{table} WHERE {where}))"
            ).fetchone()[0]
        finally:
            self.con.unregister("got")
        return int(n)

    def parquet_bytes(self, table: str, path: str) -> int:
        """Size of ``table`` written as one zstd parquet file."""
        self.con.execute(
            f"COPY (SELECT * FROM {table} ORDER BY {KEY}) TO '{path}' "
            "(FORMAT parquet, COMPRESSION zstd)"
        )
        size = os.path.getsize(path)
        os.remove(path)
        return size


def planted_wrong(got: pa.Table) -> pa.Table:
    """A copy of a mirror read with one row dropped and one price changed:
    the comparison must reject it, or it could never fail."""
    if got.num_rows < 2:
        raise ValueError("planted check needs at least two rows")
    price = got.column("o_totalprice").to_pylist()
    price[1] = price[1] + 0.01
    idx = got.schema.get_field_index("o_totalprice")
    wrong = got.set_column(idx, "o_totalprice", pa.array(price, pa.float64()))
    return wrong.slice(1)
