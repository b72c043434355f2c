"""The three workloads: what each stages and the statements it sends.

Each workload cycles through a fixed rotation of statement kinds (a
kind is a statement shape on one table format); the parameters of
every statement are drawn from the seeded generator. Runs measure
whole rotations, so every kind weighs the same in every run.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Iterator, Optional

import numpy as np

from . import datagen
from .lake import FORMATS, PREFIX, Lake, to_model_sql

LI = ", ".join(datagen.LI_COLS)
# raw bytes of one lineitem row: six 8-byte numbers, two 1-char
# strings, one 4-byte date
LI_ROW_BYTES = 6 * 8 + 2 * 1 + 4
FEED_ID_BASE = 2 * datagen.NEW_ID_BASE


@dataclass
class Op:
    kind: str
    read: str  # client.sql SELECT whose rows are checked against the model
    tables: tuple
    dml: Optional[str] = None  # client.sql DML run first, timed with the read
    affected: Optional[str] = None  # model query for the DML's own result rows
    model: tuple = ()  # DuckDB statements applying the DML to the model
    written_rows: Optional[str] = None  # model query: rows the DML writes


def _li_history(lake: Lake, rng: np.random.Generator, n: int, n_orders: int) -> None:
    """Bulk-load ``li_<fmt>`` in every format, then give each a history
    of small commits. Delta: three appends, one deletion-vector delete
    and six property commits (version 10 carries a checkpoint), then
    one more append, so a snapshot replays a checkpoint plus a commit.
    Iceberg: one append and one position delete (three snapshots).
    Parquet: one append."""
    from local_lakehouse_spark.sources import delta_py

    src = lake.source("li", datagen.lineitem(rng, np.arange(n), n_orders))
    for f in FORMATS:
        lake.create(f"li_{f}", f, src)
    next_id = datagen.NEW_ID_BASE

    def batch() -> str:
        nonlocal next_id
        ids = np.arange(next_id, next_id + 500)
        next_id += 500
        return lake.source(f"hist_{next_id}", datagen.lineitem(rng, ids, n_orders))

    def okey_pred() -> str:
        return f"okey = {int(rng.integers(0, n_orders))}"

    for _ in range(2):
        lake.append("li_delta", batch())
    lake.delete("li_delta", okey_pred())
    for i in range(6):
        delta_py.set_properties(lake.locations["li_delta"], {"lakebench.step": str(i)})
    lake.append("li_delta", batch())
    lake.append("li_delta", batch())
    lake.append("li_iceberg", batch())
    lake.delete("li_iceberg", okey_pred())
    lake.append("li_parquet", batch())


def _table_read(t: str) -> str:
    return f"SELECT count(*), sum(qty), sum(price), min(id), max(id) FROM {PREFIX}{t}"


def _delete_or_update(verb: str, fmt: str, pred: str) -> Op:
    """DELETE or UPDATE of ``li_<fmt>`` by ``pred``; the DML's own
    result is the number of rows it matched."""
    t = f"li_{fmt}"
    if verb == "delete":
        dml = f"DELETE FROM {PREFIX}{t} WHERE {pred}"
        written = "SELECT 0"
    else:
        dml = f"UPDATE {PREFIX}{t} SET qty = qty + 1, price = price + 0.5 WHERE {pred}"
        written = f"SELECT count(*) FROM {t} WHERE {pred}"
    return Op(
        f"{verb}.{fmt}", _table_read(t), (t,), dml,
        affected=f"SELECT count(*) FROM {t} WHERE {pred}",
        model=(to_model_sql(dml),), written_rows=written,
    )


def known_defect_ops(rng: np.random.Generator, n_orders: int) -> list[Op]:
    """DELETE and UPDATE on an Iceberg table through client.sql: they
    raise KeyError today, so they stay out of the measured mix and run
    once per run."""
    return [
        _delete_or_update(verb, "iceberg", f"okey = {int(rng.integers(0, n_orders))}")
        for verb in ("delete", "update")
    ]


class Lookup:
    """Point and narrow-range SELECTs with Zipf-skewed keys on a Delta
    table with a long history, an Iceberg v2 table with position
    deletes and a parquet table."""

    name = "lookup"
    rows = 200_000
    warmup_rotations = 2
    kinds = [f"{s}.{f}" for s in ("point", "range") for f in FORMATS]

    def stage(self, lake: Lake, rng: np.random.Generator) -> None:
        self.n_orders = self.rows // 4
        _li_history(lake, rng, self.rows, self.n_orders)
        self.tables = tuple(f"li_{f}" for f in FORMATS)
        self.key = datagen.Zipf(rng, np.arange(self.rows))

    def ops(self, rng: np.random.Generator) -> Iterator[Op]:
        while True:
            for kind in self.kinds:
                shape, f = kind.split(".")
                t, k = f"li_{f}", self.key()
                if shape == "point":
                    sql = f"SELECT id, okey, qty, price, rflag, ship FROM {PREFIX}{t} WHERE id = {k}"
                else:
                    sql = (
                        f"SELECT count(*), sum(qty), sum(price) FROM {PREFIX}{t} "
                        f"WHERE id BETWEEN {k} AND {k + 63}"
                    )
                yield Op(kind=kind, read=sql, tables=(t,))


class Scan:
    """TPC-H Q1-style aggregate, an orders-lineitem join-aggregate and a
    Q6-style date-range filter over the same data in each format."""

    name = "scan"
    rows = 1_500_000
    warmup_rotations = 1
    kinds = [f"{s}.{f}" for f in FORMATS for s in ("q1", "join", "range")]

    def stage(self, lake: Lake, rng: np.random.Generator) -> None:
        self.n_orders = self.rows // 4
        li = lake.source("li", datagen.lineitem(rng, np.arange(self.rows), self.n_orders))
        orders = lake.source("orders", datagen.orders(rng, self.n_orders))
        for f in FORMATS:
            lake.create(f"li_{f}", f, li)
            lake.create(f"orders_{f}", f, orders)
        self.tables = tuple(f"{t}_{f}" for f in FORMATS for t in ("li", "orders"))

    def ops(self, rng: np.random.Generator) -> Iterator[Op]:
        while True:
            for kind in self.kinds:
                shape, f = kind.split(".")
                li, o = f"{PREFIX}li_{f}", f"{PREFIX}orders_{f}"
                d = int(rng.integers(0, datagen.DAYS - 365))
                lo, hi = datagen.date_str(d), datagen.date_str(d + 365)
                if shape == "q1":
                    cut = datagen.date_str(datagen.DAYS - int(rng.integers(60, 121)))
                    sql = (
                        "SELECT rflag, lstatus, sum(qty), sum(price), sum(price * (1 - disc)), "
                        "sum(price * (1 - disc) * (1 + tax)), avg(qty), avg(price), avg(disc), "
                        f"count(*) FROM {li} WHERE ship <= DATE '{cut}' "
                        "GROUP BY rflag, lstatus ORDER BY rflag, lstatus"
                    )
                    tables = (f"li_{f}",)
                elif shape == "join":
                    sql = (
                        f"SELECT o.prio, count(*), sum(l.price * (1 - l.disc)) FROM {o} o "
                        f"JOIN {li} l ON o.okey = l.okey WHERE o.odate >= DATE '{lo}' "
                        f"AND o.odate < DATE '{hi}' GROUP BY o.prio ORDER BY o.prio"
                    )
                    tables = (f"li_{f}", f"orders_{f}")
                else:
                    sql = (
                        f"SELECT count(*), sum(price * disc) FROM {li} WHERE ship >= DATE '{lo}' "
                        f"AND ship < DATE '{hi}' AND disc BETWEEN 0.05 AND 0.07 AND qty < 24"
                    )
                    tables = (f"li_{f}",)
                yield Op(kind=kind, read=sql, tables=tables)


class Dml:
    """INSERT, DELETE, UPDATE and MERGE through client.sql, each
    followed by a verifying read of the whole table. State carries
    across the run. Iceberg takes INSERT and MERGE only: its DELETE and
    UPDATE through client.sql are the known defects. Parquet tables are
    left out: a rotation over them would add about seven seconds of
    copy-on-write rewrites to every run (lookup still reads parquet)."""

    name = "dml"
    rows = 40_000
    warmup_rotations = 1
    groups = 400  # feed batches; each INSERT or MERGE consumes one
    formats = ("delta", "iceberg")
    kinds = ["insert.delta", "insert.iceberg", "delete.delta", "update.delta", "merge.delta", "merge.iceberg"]

    def stage(self, lake: Lake, rng: np.random.Generator) -> None:
        """Bulk-load ``li_<fmt>`` and the feed, then six Delta property
        commits, so the Delta log passes its first checkpoint (version
        10) during warm-up and measured ops replay commits after it."""
        import pyarrow as pa

        from local_lakehouse_spark.sources import delta_py

        self.n_orders = self.rows // 4
        src = lake.source("li", datagen.lineitem(rng, np.arange(self.rows), self.n_orders))
        for f in self.formats:
            lake.create(f"li_{f}", f, src)
        for i in range(6):
            delta_py.set_properties(lake.locations["li_delta"], {"lakebench.step": str(i)})
        self.tables = tuple(f"li_{f}" for f in self.formats)
        # each feed group: 8 new ids and 8 distinct ids of bulk-loaded rows
        old = rng.permutation(self.rows)[: self.groups * 8].reshape(self.groups, 8)
        new = FEED_ID_BASE + np.arange(self.groups * 8).reshape(self.groups, 8)
        feed = datagen.lineitem(rng, np.concatenate([new, old], axis=1).ravel(), self.n_orders)
        feed = feed.append_column("grp", pa.array(np.repeat(np.arange(self.groups, dtype=np.int64), 16)))
        lake.create("feed", "parquet", lake.source("feed", feed))
        self.next_group = {f: 0 for f in self.formats}

    def _group(self, f: str) -> int:
        g = self.next_group[f]
        self.next_group[f] = (g + 1) % self.groups
        return g

    def ops(self, rng: np.random.Generator) -> Iterator[Op]:
        while True:
            for kind in self.kinds:
                yield self._op(kind, rng)

    def _op(self, kind: str, rng: np.random.Generator) -> Op:
        verb, f = kind.split(".")
        t = f"li_{f}"
        read = _table_read(t)
        if verb == "insert":
            src = f"FROM {PREFIX}feed WHERE grp = {self._group(f)} AND id >= {FEED_ID_BASE}"
            dml = f"INSERT INTO {PREFIX}{t} SELECT {LI} {src}"
            return Op(
                kind, read, (t,), dml, model=(to_model_sql(dml),),
                written_rows=to_model_sql(f"SELECT count(*) {src}"),
            )
        if verb == "merge":
            g = self._group(f)
            src = f"SELECT {LI} FROM {PREFIX}feed WHERE grp = {g}"
            dml = (
                f"MERGE INTO {PREFIX}{t} t USING ({src}) s ON t.id = s.id "
                "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
            )
            sets = ", ".join(f"{c} = s.{c}" for c in datagen.LI_COLS if c != "id")
            model = (
                to_model_sql(f"UPDATE {t} SET {sets} FROM ({src}) s WHERE {t}.id = s.id"),
                to_model_sql(f"INSERT INTO {t} {src} AND id NOT IN (SELECT id FROM {t})"),
            )
            return Op(kind, read, (t,), dml, model=model, written_rows=f"SELECT count(*) FROM feed WHERE grp = {g}")
        return _delete_or_update(verb, f, f"okey = {int(rng.integers(0, self.n_orders))}")


WORKLOADS = {w.name: w for w in (Lookup, Scan, Dml)}
