"""Seeded CDC data generator and its plain-Python oracle.

The generator writes what a Datastream-style CDC pipeline lands on
storage and nothing else reaches the engine:

* a base snapshot export as one parquet file (written with pyarrow);
* one Avro object-container file per CDC batch, each record a Datastream
  change envelope (``operators.cdc.envelope_schema`` around the payload
  row, encoded with ``avro_ocf.ocf_encode``).

``Oracle`` replays the same changes in plain Python — latest change per
key, deletes applied — and answers every query the benchmark asks, so
each engine result can be checked exactly.
"""

from __future__ import annotations

import datetime
import hashlib
import os
import random

#: payload columns in table order; ``pk_id`` is the record key, ``day``
#: the partition column and ``updated_at`` the precombine field
COLUMNS = ["pk_id", "day", "name", "value", "updated_at"]

#: day partitions of the base snapshot
N_DAYS = 16
#: the newest partitions, which take every update and delete
HOT_DAYS = 2

_DAY0 = datetime.date(2026, 1, 1)
_BASE_TS = datetime.datetime(2025, 12, 1)
_CHANGE_TS = datetime.datetime(2026, 2, 1)


def payload_type():
    from pyspark.sql.types import (
        IntegerType,
        StringType,
        StructField,
        StructType,
        TimestampNTZType,
    )

    return StructType(
        [
            StructField("pk_id", IntegerType()),
            StructField("day", StringType()),
            StructField("name", StringType()),
            StructField("value", IntegerType()),
            StructField("updated_at", TimestampNTZType()),
        ]
    )


def day_name(d: int) -> str:
    return (_DAY0 + datetime.timedelta(days=d)).isoformat()


def row_digest(row: tuple) -> int:
    """60-bit digest of one row; the Spark side computes the same value
    with ``conv(substr(md5(concat_ws('|', ...)), 1, 15), 16, 10)``."""
    text = "|".join(str(v) for v in row)
    return int(hashlib.md5(text.encode("utf-8")).hexdigest()[:15], 16)


class Oracle:
    """Expected table state: ``pk_id -> row`` with rows in COLUMNS order."""

    def __init__(self, rows: list[tuple]):
        self.rows = {r[0]: r for r in rows}
        #: order-independent sum of row digests, kept up to date by apply
        self.digest = sum(row_digest(r) for r in rows)

    def apply(self, changes: list[tuple]) -> dict[str, int]:
        """Apply one batch of ``(op, row)`` changes: the latest change
        per key (by ``updated_at``) wins, a DELETE removes the key.
        Returns the rows the batch updated, inserted and deleted, as a
        MERGE of the batch reports them."""
        latest: dict[int, tuple] = {}
        for op, row in changes:
            cur = latest.get(row[0])
            if cur is None or row[4] > cur[1][4]:
                latest[row[0]] = (op, row)
        counts = {"updated": 0, "inserted": 0, "deleted": 0}
        for pk, (op, row) in latest.items():
            old = self.rows.pop(pk, None)
            if old is not None:
                self.digest -= row_digest(old)
            if op != "DELETE":
                self.rows[pk] = row
                self.digest += row_digest(row)
                counts["updated" if old is not None else "inserted"] += 1
            elif old is not None:
                counts["deleted"] += 1
        return counts

    def fingerprint(self) -> tuple[int, int]:
        """(row count, order-independent sum of row digests)."""
        return len(self.rows), self.digest

    def day_aggregates(self) -> dict[str, tuple[int, int]]:
        out: dict[str, list[int]] = {}
        for r in self.rows.values():
            acc = out.setdefault(r[1], [0, 0])
            acc[0] += 1
            acc[1] += r[3]
        return {d: (c, s) for d, (c, s) in out.items()}

    def range_answer(self, lo: int, hi: int) -> tuple[int, int]:
        """(count, sum(value)) over ``lo <= pk_id < hi``."""
        c = s = 0
        for pk in range(lo, hi):
            r = self.rows.get(pk)
            if r is not None:
                c += 1
                s += r[3]
        return c, s

    def lookup(self, keys: list[int]) -> list[tuple]:
        return sorted(self.rows[k] for k in keys if k in self.rows)


class CdcGenerator:
    """Base snapshot plus CDC batches, all derived from one seed.

    Base: ``n_base`` rows over ``N_DAYS`` day partitions, keys assigned
    in day order, so the newest partitions hold the newest keys. Each
    batch of changes is, by share of rows:

    * updates to live keys of the newest ``HOT_DAYS`` partitions
      (80%, less the delete share);
    * inserts of new keys into the newest partition (10%);
    * repeat changes to a key already updated or inserted in the same
      batch, which precombine must resolve (10%);
    * deletes of live hot keys (``delete_frac``).
    """

    def __init__(self, seed: int, n_base: int, delete_frac: float = 0.0):
        self.rng = random.Random(seed)
        self.n_base = n_base
        self.delete_frac = delete_frac
        self.per_day = -(-n_base // N_DAYS)
        self.next_pk = n_base
        self.clock = 0
        self.log_pos = 0
        #: live keys of the hot partitions -> their day
        self._hot: dict[int, str] = {}

    def _name(self) -> str:
        return "n%08x" % self.rng.getrandbits(32)

    def _value(self) -> int:
        return self.rng.randrange(1_000_000)

    def base_rows(self) -> list[tuple]:
        rows = []
        hot_from = (N_DAYS - HOT_DAYS) * self.per_day
        for pk in range(self.n_base):
            rows.append(
                (
                    pk,
                    day_name(pk // self.per_day),
                    self._name(),
                    self._value(),
                    _BASE_TS + datetime.timedelta(seconds=pk),
                )
            )
            if pk >= hot_from:
                self._hot[pk] = rows[-1][1]
        return rows

    def _tick(self) -> datetime.datetime:
        self.clock += 1
        return _CHANGE_TS + datetime.timedelta(seconds=self.clock)

    def next_batch(self, n: int) -> list[tuple]:
        """One batch of ``n`` ``(op, row)`` changes."""
        n_ins = n // 10
        n_rep = n // 10
        n_del = int(n * self.delete_frac)
        n_upd = n - n_ins - n_rep - n_del
        days = self._hot
        hot = sorted(days)
        picked = self.rng.sample(hot, n_upd + n_del)
        changes: list[tuple] = []
        touched = []
        for pk in picked[:n_upd]:
            row = (pk, days[pk], self._name(), self._value(), self._tick())
            changes.append(("UPDATE-INSERT", row))
            touched.append(pk)
        newest = day_name(N_DAYS - 1)
        for _ in range(n_ins):
            pk = self.next_pk
            self.next_pk += 1
            days[pk] = newest
            row = (pk, newest, self._name(), self._value(), self._tick())
            changes.append(("INSERT", row))
            touched.append(pk)
        for _ in range(n_rep):
            pk = self.rng.choice(touched)
            row = (pk, days[pk], self._name(), self._value(), self._tick())
            changes.append(("UPDATE-INSERT", row))
        for pk in picked[n_upd:]:
            row = (pk, days[pk], self._name(), self._value(), self._tick())
            changes.append(("DELETE", row))
            del days[pk]
        self.rng.shuffle(changes)
        return changes

    def envelopes(self, changes: list[tuple]) -> list[dict]:
        """Datastream change envelopes for one batch, ready for the
        Avro encoder."""
        out = []
        for op, row in changes:
            self.log_pos += 1
            ts = row[4]
            out.append(
                {
                    "uuid": "%032x" % self.rng.getrandbits(128),
                    "read_timestamp": ts,
                    "source_timestamp": ts,
                    "object": "bench_orders",
                    "read_method": "mysql-cdc-binlog",
                    "stream_name": "bench-stream",
                    "schema_key": "bench-orders-v1",
                    "sort_keys": [
                        {"member0": ts.isoformat(sep=" "), "member1": self.log_pos}
                    ],
                    "source_metadata": {
                        "table": "orders",
                        "database": "bench",
                        "primary_keys": ["pk_id"],
                        "log_file": "mysql-bin.000001",
                        "log_position": self.log_pos,
                        "change_type": op,
                        "is_deleted": op == "DELETE",
                    },
                    "payload": dict(zip(COLUMNS, row)),
                }
            )
        return out


def write_base_parquet(path: str, rows: list[tuple]) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    cols = list(zip(*rows))
    table = pa.table(
        {
            "pk_id": pa.array(cols[0], pa.int32()),
            "day": pa.array(cols[1], pa.string()),
            "name": pa.array(cols[2], pa.string()),
            "value": pa.array(cols[3], pa.int32()),
            "updated_at": pa.array(cols[4], pa.timestamp("us")),
        }
    )
    pq.write_table(table, path)


def write_avro_batch(path: str, avro_schema: dict, envelopes: list[dict]) -> int:
    """Write one landed CDC file; returns its size in bytes."""
    from hudi_and_delta_showcase_spark.avro_ocf import ocf_encode

    blob = ocf_encode(avro_schema, envelopes)
    tmp = path + ".tmp"
    with open(tmp, "wb") as fh:
        fh.write(blob)
    os.replace(tmp, path)
    return len(blob)
