"""Seeded input generator and the independent oracle model.

Everything the engine sees is produced here from one seed: parquet change
files (written with pyarrow, so the bytes depend only on the seed) and the
key lists the read operations ask for.  Alongside the inputs, ``DimModel``
keeps a plain-Python model of every key's expected SCD2 state, written
without the engine's code, which the workloads check results against.

Generated data keeps the model exact by construction:

* every event carries a globally unique ``v`` and ``_loaded_at`` is part of
  the change hash, so no two versions of a key ever hash equal and the
  engine never collapses a version away;
* ``_updated_at`` is unique per event (microsecond field = event sequence
  number), so ``(key, _updated_at)`` identifies one event and duplicates are
  exact row copies;
* a soft delete sets ``deleted_at = _updated_at``, so every version's
  validity starts at its ``_updated_at``.
"""

from __future__ import annotations

import bisect
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

US = 1_000_000
DAY = 86_400 * US
EPOCH0 = 1_704_067_200 * US  # 2024-01-01T00:00:00Z in microseconds
MAX_EVENTS = US  # the microsecond field holds the event sequence number

TS = pa.timestamp("us", tz="UTC")
SCHEMA = pa.schema([
    ("id", pa.int64()),
    ("name", pa.string()),
    ("amount", pa.int64()),
    ("v", pa.int64()),
    ("deleted_at", TS),
    ("_updated_at", TS),
    ("_loaded_at", TS),
])
NAMES = np.array([f"name-{i:03d}" for i in range(512)], dtype=object)


def spark_schema():
    from pyspark.sql.types import (
        LongType, StringType, StructField, StructType, TimestampType,
    )

    return StructType([
        StructField("id", LongType()),
        StructField("name", StringType()),
        StructField("amount", LongType()),
        StructField("v", LongType()),
        StructField("deleted_at", TimestampType()),
        StructField("_updated_at", TimestampType()),
        StructField("_loaded_at", TimestampType()),
    ])


def us_to_iso(us: int) -> str:
    """Microseconds since the epoch as a UTC literal Spark casts exactly."""
    import datetime

    d = datetime.datetime(1970, 1, 1) + datetime.timedelta(microseconds=int(us))
    return d.strftime("%Y-%m-%d %H:%M:%S.%f")


class Batch:
    """One generated change batch: column arrays plus the measured shares of
    the properties the workloads vary."""

    def __init__(self, cols: dict, props: dict):
        self.cols = cols
        self.props = props
        self.added = 0  # versions the batch adds to the model

    @property
    def rows(self) -> int:
        return len(self.cols["id"])

    def table(self) -> pa.Table:
        c = self.cols
        deleted = np.where(c["deleted"], c["updated_at"], 0)
        return pa.table(
            {
                "id": pa.array(c["id"], pa.int64()),
                "name": pa.array(NAMES[c["name"]], pa.string()),
                "amount": pa.array(c["amount"], pa.int64()),
                "v": pa.array(c["v"], pa.int64()),
                "deleted_at": pa.array(deleted, TS, mask=~c["deleted"]),
                "_updated_at": pa.array(c["updated_at"], TS),
                "_loaded_at": pa.array(c["loaded_at"], TS),
            },
            schema=SCHEMA,
        )

    def write(self, path: str) -> int:
        """Write the batch as one parquet file; returns its size in bytes."""
        pq.write_table(self.table(), path, compression="snappy")
        return os.path.getsize(path)


class DimModel:
    """Expected state of one SCD2 dimension, kept independently of the
    engine: per key the sorted validity instants of its versions and its
    current row ``(updated_at, name, amount, v, deleted)``."""

    def __init__(self):
        self.versions: dict[int, list[int]] = {}
        self.current: dict[int, tuple] = {}
        self.rows = 0

    def apply(self, batch: Batch) -> int:
        """Fold a batch in; returns the number of versions it added."""
        c = batch.cols
        seen = set()
        added = 0
        for i in range(batch.rows):
            k, u = int(c["id"][i]), int(c["updated_at"][i])
            if (k, u) in seen:
                continue  # exact duplicate row of this batch
            seen.add((k, u))
            vs = self.versions.setdefault(k, [])
            bisect.insort(vs, u)
            added += 1
            cur = self.current.get(k)
            if cur is None or u > cur[0]:
                self.current[k] = (
                    u, NAMES[c["name"][i]], int(c["amount"][i]),
                    int(c["v"][i]), bool(c["deleted"][i]),
                )
        self.rows += added
        return added

    def deleted_keys(self) -> int:
        return sum(1 for cur in self.current.values() if cur[4])

    def snapshot_count(self, t_us: int) -> int:
        """Rows ``snapshot_at(t)`` returns: one per key whose first version
        starts at or before ``t`` (versions tile [first, forever))."""
        return sum(1 for vs in self.versions.values() if vs[0] <= t_us)

    def _version_at(self, k: int, t_us: int):
        vs = self.versions.get(k, ())
        i = bisect.bisect_right(vs, t_us)
        return vs[i - 1] if i else None

    def diff_count(self, t1_us: int, t2_us: int) -> int:
        """Rows ``scd2_diff(t1, t2)`` returns: keys whose version in force
        differs between the two instants (insert, delete or update; every
        version has a unique payload through ``v``)."""
        return sum(
            1 for k in self.versions
            if self._version_at(k, t1_us) != self._version_at(k, t2_us)
        )

    def joined_windows(self, other: "DimModel") -> int:
        """Rows ``scd2_join([self, other])`` returns: one per window of the
        per-key spine of both dimensions' distinct validity instants."""
        total = 0
        for k in self.versions.keys() | other.versions.keys():
            total += len(
                set(self.versions.get(k, ())) | set(other.versions.get(k, ()))
            )
        return total


class Generator:
    """Deterministic event source for one dimension.  All randomness comes
    from ``seed``; the same seed and call sequence give identical arrays."""

    def __init__(self, seed: int, n_keys: int, n_hot: int = 0):
        self.rng = np.random.default_rng(seed)
        self.n_keys = n_keys
        self.n_hot = n_hot  # ids [0, n_hot) are the hot keys
        self.next_id = n_keys
        self.seq = 0
        self.model = DimModel()

    def _events(self, ids: np.ndarray, updated_at: np.ndarray,
                deleted: np.ndarray, loaded_at: int) -> dict:
        n = len(ids)
        if self.seq + n >= MAX_EVENTS:
            raise RuntimeError("generator event budget exhausted")
        seqs = np.arange(self.seq, self.seq + n, dtype=np.int64)
        self.seq += n
        # The microsecond field is the event number: unique instants.
        updated_at = (updated_at // US) * US + seqs
        return {
            "id": ids.astype(np.int64),
            "name": self.rng.integers(0, len(NAMES), n),
            "amount": self.rng.integers(0, 1_000_000, n, dtype=np.int64),
            "v": seqs,
            "deleted": deleted.astype(bool),
            "updated_at": updated_at.astype(np.int64),
            "loaded_at": np.full(n, loaded_at, dtype=np.int64),
        }

    def initial(self, versions: tuple[int, int], hot_versions: int = 0,
                history_days: int = 30) -> Batch:
        """The initial change log: every key gets ``versions`` (inclusive
        range) versions spread over ``history_days`` before day 0, hot keys
        ``hot_versions``; about 3% of keys end deleted."""
        per_key = self.rng.integers(versions[0], versions[1] + 1, self.n_keys)
        per_key[: self.n_hot] = hot_versions
        ids = np.repeat(np.arange(self.n_keys, dtype=np.int64), per_key)
        span = history_days * DAY
        updated = EPOCH0 - span + self.rng.integers(0, span, len(ids))
        deleted = self.rng.random(len(ids)) < 0.03
        batch = Batch(self._events(ids, updated, deleted, EPOCH0), {})
        batch.added = self.model.apply(batch)
        return batch

    def batch(self, day: int, rows: int, hot_share: float = 0.0,
              dup_share: float = 0.0, late_share: float = 0.0,
              delete_share: float = 0.0, new_key_share: float = 0.0,
              key_count: int | None = None) -> Batch:
        """One change batch loaded on ``day`` (>= 1).

        ``key_count`` draws the cold rows from that many distinct keys
        (micro-batches); otherwise cold keys are uniform over the table.
        ``late_share`` of rows carry an ``_updated_at`` from up to a week
        before the load day (out-of-order arrival)."""
        rng = self.rng
        n_dup = int(round(rows * dup_share))
        n = rows - n_dup
        n_hot = int(round(n * hot_share)) if self.n_hot else 0
        n_new = int(round((n - n_hot) * new_key_share))
        n_cold = n - n_hot - n_new
        cold_lo = self.n_hot
        if key_count:
            pool = rng.choice(
                np.arange(cold_lo, self.next_id), key_count, replace=False
            )
            cold = rng.choice(pool, n_cold)
        else:
            cold = rng.integers(cold_lo, self.next_id, n_cold)
        new = np.arange(self.next_id, self.next_id + n_new, dtype=np.int64)
        self.next_id += n_new
        ids = np.concatenate([rng.integers(0, max(self.n_hot, 1), n_hot), cold, new])
        late = rng.random(n) < late_share
        day_of = np.where(late, day - rng.integers(1, 8, n), day)
        updated = EPOCH0 + day_of * DAY + rng.integers(0, DAY, n)
        deleted = rng.random(n) < delete_share
        loaded_at = EPOCH0 + (day + 1) * DAY - US
        cols = self._events(ids, updated, deleted, loaded_at)
        if n_dup:
            pick = rng.integers(0, n, n_dup)
            cols = {k: np.concatenate([v, v[pick]]) for k, v in cols.items()}
        order = rng.permutation(rows)
        cols = {k: v[order] for k, v in cols.items()}
        props = self._measure(cols)
        batch = Batch(cols, props)
        batch.added = self.model.apply(batch)
        return batch

    def _measure(self, cols: dict) -> dict:
        """Measured shares of the batch's rows, taken against the model
        before the batch is folded in."""
        n = len(cols["id"])
        pairs = set(zip(cols["id"].tolist(), cols["updated_at"].tolist()))
        late = sum(
            1 for k, u in zip(cols["id"].tolist(), cols["updated_at"].tolist())
            if k in self.model.current and u < self.model.current[k][0]
        )
        return {
            "rows": n,
            "distinct_keys": len(set(cols["id"].tolist())),
            "hot_share": float(np.mean(cols["id"] < self.n_hot)) if self.n_hot else 0.0,
            "dup_share": 1.0 - len(pairs) / n,
            "late_share": late / n,
            "delete_share": float(np.mean(cols["deleted"])),
        }

    def keys(self, count: int) -> list[int]:
        """Distinct lookup keys drawn uniformly from the keys the model
        knows (so every lookup has an expected answer)."""
        pool = np.fromiter(self.model.versions.keys(), dtype=np.int64)
        return sorted(int(k) for k in self.rng.choice(pool, count, replace=False))
