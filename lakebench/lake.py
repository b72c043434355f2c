"""Staging of the benchmark's tables through the program's public API,
with a DuckDB model of every table kept in step.

Each lakehouse table ``bench.lake.<name>`` has a DuckDB twin ``<name>``
loaded from the same generated parquet and changed by the same
statements, so any result ``client.sql`` returns can be checked
against the model.
"""

from __future__ import annotations

import math
import os

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq


CATALOG, SCHEMA = "bench", "lake"
PREFIX = f"{CATALOG}.{SCHEMA}."
FORMATS = ("delta", "iceberg", "parquet")
# raw width in bytes of one value of each fixed-width DuckDB type;
# strings count their length
_WIDTH = {"BIGINT": 8, "DOUBLE": 8, "DATE": 4}


def to_model_sql(sql: str) -> str:
    """A statement over ``bench.lake.<t>`` names, rewritten for the
    DuckDB model (same SQL, bare table names)."""
    return sql.replace(PREFIX, "")


class Lake:
    def __init__(self, client, spark, work: str):
        from local_lakehouse_spark import Catalog, Schema

        self.client = client
        self.spark = spark
        self.work = work
        self.duck = duckdb.connect()
        self.locations: dict[str, str] = {}
        self.formats: dict[str, str] = {}
        os.makedirs(os.path.join(work, "src"), exist_ok=True)
        os.makedirs(os.path.join(work, "tables"), exist_ok=True)
        client.create_catalog(Catalog(name=CATALOG))
        client.create_schema(Schema(name=SCHEMA, catalog_name=CATALOG))

    def source(self, name: str, table: pa.Table) -> str:
        path = os.path.join(self.work, "src", name + ".parquet")
        pq.write_table(table, path)
        return path

    def create(self, name: str, fmt: str, src: str) -> None:
        loc = os.path.join(self.work, "tables", name)
        self.client.create_as_table(
            self.spark.read.parquet(src), CATALOG, SCHEMA, name,
            file_type=fmt.upper(), location=loc,
        )
        self.locations[name] = loc
        self.formats[name] = fmt
        self.duck.execute(f"CREATE TABLE {name} AS SELECT * FROM read_parquet('{src}')")

    def append(self, name: str, src: str) -> None:
        self.client.write_table(
            self.spark.read.parquet(src), CATALOG, SCHEMA, name, mode="APPEND"
        )
        self.duck.execute(f"INSERT INTO {name} SELECT * FROM read_parquet('{src}')")

    def delete(self, name: str, predicate: str) -> None:
        """Row-level delete while staging: Delta and parquet through
        ``client.sql``, Iceberg through ``iceberg_py``'s position-delete
        writer (``client.sql`` DELETE on Iceberg is a known defect)."""
        if self.formats[name] == "iceberg":
            from local_lakehouse_spark.sources import iceberg_py

            iceberg_py.delete_iceberg_where(self.spark, self.locations[name], predicate)
        else:
            self.client.sql(f"DELETE FROM {PREFIX}{name} WHERE {predicate}").collect()
        self.duck.execute(f"DELETE FROM {name} WHERE {predicate}")

    def query(self, sql: str) -> list[tuple]:
        return self.duck.execute(to_model_sql(sql)).fetchall()

    def raw_bytes(self, name: str) -> int:
        """Bytes of live user data: fixed-width values at their width,
        strings at their length."""
        parts = []
        for col, typ, *_ in self.duck.execute(f"DESCRIBE {name}").fetchall():
            if typ == "VARCHAR":
                parts.append(f"coalesce(sum(length({col})), 0)")
            else:
                parts.append(f"count(*) * {_WIDTH[typ]}")
        return int(self.duck.execute(f"SELECT {' + '.join(parts)} FROM {name}").fetchone()[0])

    def disk_bytes(self, name: str) -> int:
        return sum(size for _, size in files_under(self.locations[name]))

    def close(self) -> None:
        self.duck.close()


def files_under(root: str) -> list[tuple[str, int]]:
    out = []
    for d, _, names in os.walk(root):
        for n in names:
            p = os.path.join(d, n)
            out.append((p, os.path.getsize(p)))
    return out


def same_rows(got: list, want: list) -> bool:
    """Row lists equal position by position; doubles within a relative
    1e-9 (Spark and DuckDB sum in different orders)."""
    if len(got) != len(want):
        return False
    for g, w in zip(got, want):
        if len(g) != len(w):
            return False
        for a, b in zip(g, w):
            if isinstance(a, float) or isinstance(b, float):
                if a is None or b is None or not math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9):
                    return False
            elif a != b:
                return False
    return True
