"""Seeded inputs for the benchmark: the star-schema fixture tables the query
mixes read, and the envelope files the streaming workload consumes.

Everything here is a pure function of its seed, so the same ``--seed`` gives
byte-identical tables.  The seed sets the tables' row order, not their
contents (see CONTENT_SEED).  The table shapes follow FIXTURES.md §4 (column
names, types and value ranges of the driver-generated tables), at a fixed size a
little under the sf0.01 fixture, so every query of both mixes runs in well
under a second of executor time and the pass time is dominated by what each
mix is meant to stress.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Row counts of the generated tables (lineitem ~ 4 lines per order).
SIZES = {
    "customer": 750,
    "supplier": 50,
    "part": 1000,
    "orders": 7500,
    "lineitem": 30000,
    "events": 5000,
    "documents": 500,
    "embeddings": 500,
}

#: Seed of the fixture tables' contents.  Every run's seed permutes the rows
#: of every table but keeps the same rows: the work of data-dependent
#: operators follows the contents (semantic dedup's connected-components
#: loop ran 31 jobs on one seed's embeddings and 40 on three others), and a
#: run-to-run change in work would read as noise between runs of the same
#: code.
CONTENT_SEED = 0

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PART_ADJ = ["small", "red", "blue", "hot", "old", "large", "new", "green"]
_PART_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "nut"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()

_US_PER_DAY = 86_400_000_000


def _days(rng: np.random.Generator, n: int, first: str, last: str) -> pa.Array:
    lo = np.datetime64(first, "D").astype(np.int64)
    hi = np.datetime64(last, "D").astype(np.int64)
    us = rng.integers(lo, hi + 1, n) * _US_PER_DAY
    return pa.array(us, type=pa.timestamp("us"))


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def make_tables(seed: int) -> dict[str, pa.Table]:
    """All ten fixture tables: the rows drawn from CONTENT_SEED, in an
    order drawn from ``seed``."""
    order = np.random.default_rng(seed)
    return {name: t.take(order.permutation(t.num_rows)) for name, t in _contents(CONTENT_SEED).items()}


def _contents(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = SIZES
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": _REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": np.arange(n["customer"], dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
            "c_nationkey": rng.integers(0, 25, n["customer"]).astype(np.int32),
            "c_acctbal": _money(rng, n["customer"], -999.99, 9999.99),
            "c_mktsegment": rng.choice(_SEGMENTS, n["customer"]),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n["supplier"], dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
            "s_nationkey": rng.integers(0, 25, n["supplier"]).astype(np.int32),
            "s_acctbal": _money(rng, n["supplier"], -999.99, 9999.99),
        }
    )
    keys = np.arange(n["part"], dtype=np.int64)
    t["part"] = pa.table(
        {
            "p_partkey": keys,
            "p_name": [
                f"{_PART_ADJ[a]} {_PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n["part"]), rng.integers(0, 8, n["part"]))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n["part"])],
            "p_type": rng.choice(_PART_TYPES, n["part"]),
            "p_size": rng.integers(1, 51, n["part"]).astype(np.int32),
            "p_retailprice": np.round(900.0 + (keys % 1000) * 0.1, 1),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n["orders"], dtype=np.int64),
            "o_custkey": rng.integers(0, n["customer"], n["orders"]),
            "o_orderstatus": rng.choice(["F", "O", "P"], n["orders"]),
            "o_totalprice": _money(rng, n["orders"], 1000.0, 500000.0),
            "o_orderdate": _days(rng, n["orders"], "1995-01-01", "2001-08-01"),
            "o_orderpriority": rng.choice(_PRIORITIES, n["orders"]),
        }
    )
    m = n["lineitem"]
    t["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n["orders"], m),
            "l_partkey": rng.integers(0, n["part"], m),
            "l_suppkey": rng.integers(0, n["supplier"], m),
            "l_linenumber": rng.integers(1, 8, m).astype(np.int32),
            "l_quantity": rng.integers(1, 51, m).astype(np.float64),
            "l_extendedprice": _money(rng, m, 900.0, 105000.0),
            "l_discount": rng.integers(0, 11, m) / 100.0,
            "l_tax": rng.integers(0, 9, m) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], m),
            "l_linestatus": rng.choice(["F", "O"], m),
            "l_shipdate": _days(rng, m, "1995-01-02", "2001-11-04"),
        }
    )
    e = n["events"]
    start = np.datetime64("2024-01-01", "us").astype(np.int64)
    gaps = rng.exponential(30 * _US_PER_DAY / e, e).astype(np.int64)
    t["events"] = pa.table(
        {
            "event_id": np.arange(e, dtype=np.int64),
            "ts": pa.array(start + np.cumsum(gaps), pa.timestamp("us")),
            "user_id": rng.integers(0, max(2, e // 66), e),
            "event_type": rng.choice(_EVENT_TYPES, e),
            "value": np.round(rng.exponential(50.0, e) + 0.01, 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)],
        }
    )
    t["documents"] = _documents(rng, n["documents"])
    v = n["embeddings"]
    vecs = rng.standard_normal((v, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table(
        {
            "vec_id": np.arange(v, dtype=np.int64),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": rng.integers(0, 10, v).astype(np.int32),
        }
    )
    return t


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Bag-of-words documents; one in twenty is a near-duplicate of an
    earlier one (a few words rewritten, ``dup`` appended), so the dedup and
    quality operators have real matches to find."""
    texts: list[str] = []
    for i in range(n):
        if i >= 10 and rng.random() < 0.05:
            words = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(words), max(1, len(words) // 20)):
                words[j] = _WORDS[int(rng.integers(0, len(_WORDS)))]
            texts.append(" ".join(words + ["dup"]))
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(rng.choice(_WORDS, k)))
    langs = rng.choice(_LANGS, n, p=[0.44, 0.14, 0.14, 0.14, 0.14])
    return pa.table(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": langs,
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
        }
    )


def write_tables(directory: str, seed: int) -> dict[str, int]:
    """Write every fixture table as ``<directory>/<name>.parquet``; returns
    the byte size of each file."""
    os.makedirs(directory, exist_ok=True)
    sizes = {}
    for name, table in make_tables(seed).items():
        path = os.path.join(directory, f"{name}.parquet")
        pq.write_table(table, path)
        sizes[name] = os.path.getsize(path)
    return sizes


# ---------------------------------------------------------------------------
# Envelope records for the streaming workload
# ---------------------------------------------------------------------------

#: Payload of a record's first, unprocessed arrival; its ack is a later row
#: with the same (shard, seq) and any other payload.
PENDING = b"pending"
_DONE = b"done"

ENVELOPE_ARROW = pa.schema(
    [
        pa.field("data", pa.binary(), nullable=False),
        pa.field("partitionKey", pa.string(), nullable=False),
        pa.field("explicitHashKey", pa.string()),
        pa.field("sequenceNumber", pa.string(), nullable=False),
        pa.field("subSequenceNumber", pa.int64()),
        pa.field("approximateArrivalTimestamp", pa.timestamp("us", tz="UTC"), nullable=False),
        pa.field("encryptionType", pa.string()),
    ]
)


class RecordSource:
    """Seeded record maker shared by the backlog stager and the live
    generator: per-shard sequence numbers increase by one, and a small
    share of records first arrives unprocessed and is acked
    ``ack_delay`` batches later (the out-of-order-completion gap case)."""

    def __init__(self, seed: int, shards: int, pending_share: float, ack_delay: int):
        self.rng = np.random.default_rng(seed)
        self.shards = shards
        self.pending_share = pending_share
        self.ack_delay = ack_delay
        self.next_seq = np.zeros(shards, dtype=np.int64)
        self._batch = 0
        self._acks: dict[int, list[tuple[int, int]]] = {}

    def batch(self, n: int) -> tuple[np.ndarray, np.ndarray, np.ndarray, dict]:
        """The next ``n`` new records plus the acks due now.  Returns
        (shard, seq, pending_flag) row arrays and, per shard, the
        [first, last] range of new seqs."""
        shard = self.rng.integers(0, self.shards, n)
        seq = np.empty(n, dtype=np.int64)
        ranges = {}
        for s in range(self.shards):
            idx = np.flatnonzero(shard == s)
            if len(idx):
                first = int(self.next_seq[s])
                seq[idx] = np.arange(first, first + len(idx))
                self.next_seq[s] += len(idx)
                ranges[s] = [first, first + len(idx) - 1]
        pending = self.rng.random(n) < self.pending_share
        due = self._batch + self.ack_delay
        self._acks.setdefault(due, []).extend(zip(shard[pending].tolist(), seq[pending].tolist()))
        acks = self._acks.pop(self._batch, [])
        self._batch += 1
        if acks:
            a_shard, a_seq = (np.array(x, dtype=np.int64) for x in zip(*acks))
            shard = np.concatenate([shard, a_shard])
            seq = np.concatenate([seq, a_seq])
            pending = np.concatenate([pending, np.zeros(len(acks), dtype=bool)])
        return shard, seq, pending, ranges

    def flush_acks(self) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        """Every ack still outstanding, as processed rows."""
        acks = [a for due in sorted(self._acks) for a in self._acks[due]]
        self._acks.clear()
        shard = np.array([a[0] for a in acks], dtype=np.int64)
        seq = np.array([a[1] for a in acks], dtype=np.int64)
        return shard, seq, np.zeros(len(acks), dtype=bool)


def envelope_table(shard: np.ndarray, seq: np.ndarray, pending: np.ndarray, created: float) -> pa.Table:
    """Envelope rows (ENVELOPE_SCHEMA) stamped with ``created`` (epoch
    seconds) as their approximateArrivalTimestamp."""
    n = len(seq)
    return pa.table(
        {
            "data": np.where(pending, PENDING, _DONE).astype(object),
            "partitionKey": shard.astype(str),
            "explicitHashKey": pa.nulls(n, pa.string()),
            "sequenceNumber": seq.astype(str),
            "subSequenceNumber": np.zeros(n, dtype=np.int64),
            "approximateArrivalTimestamp": np.full(n, int(created * 1e6), dtype=np.int64),
            "encryptionType": pa.nulls(n, pa.string()),
        }
    ).cast(ENVELOPE_ARROW)


def write_atomic(table: pa.Table, directory: str, name: str) -> None:
    """Write to a dot-prefixed temp file (ignored by the file source's
    listing), then rename it into place."""
    tmp = os.path.join(directory, f".{name}.tmp")
    pq.write_table(table, tmp)
    os.rename(tmp, os.path.join(directory, name))
