"""Seeded input generators for the three workloads.

Everything the engine sees is produced here from the workload seed, and
every generator also returns the record the correctness checker uses
(``check.Ledger``); nothing here calls engine code.

- ``message_store``: the messages of the get_mix store and the put_churn
  base store: Zipf-skewed topics ``fleet.d<i>.m<j>``, two contracts,
  about 5% TTL rows (some already expired), a few rows written to
  wildcard topics and 200-byte payloads that name their write.
- ``ChurnPlan``: the seeded operations of one put_churn cycle.
- ``analytics_tables``: the four tables the analytics queries read,
  generated from a fixed seed so their result digests can be pinned.
"""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

MASTER = 3376684800  # the engine's default contract (unitdb's master contract)
ALT = 1042  # the second tenant
DAY_US = 86_400_000_000
T_END_US = 1_735_689_600 * 1_000_000  # 2025-01-01T00:00:00Z: end of the base history
NO_EXPIRY = np.iinfo(np.int64).max
PAYLOAD_BYTES = 200
_FILL = np.random.default_rng(7).bytes(1 << 20)

N_DEVICES, N_METRICS = 100, 10
CONCRETE_TOPICS = [f"fleet.d{i}.m{j}" for i in range(N_DEVICES) for j in range(N_METRICS)]
PATTERN_TOPICS = ["fleet.d3...", "fleet.*.m1"]
TTL_CHOICES_S = np.array([3600, 6 * 3600, 3 * 86400, 7 * 86400, 60 * 86400])

MESSAGE_SCHEMA = pa.schema([
    ("seq", pa.int64()),
    ("msg_id", pa.binary()),
    ("contract", pa.int64()),
    ("topic", pa.string()),
    ("ts", pa.timestamp("us", tz="UTC")),
    ("expires_at", pa.timestamp("us", tz="UTC")),
    ("payload", pa.binary()),
    ("encrypted", pa.bool_()),
])


def payload(wid: int) -> bytes:
    """The payload of write ``wid``: the id in ASCII, then random bytes
    from an offset the id picks, so payloads hardly compress."""
    head = b"%d|" % wid
    start = wid * 2654435761 % (len(_FILL) - PAYLOAD_BYTES)
    return head + _FILL[start : start + PAYLOAD_BYTES - len(head)]


def payload_seq(p: bytes) -> int:
    return int(p[: p.index(b"|")])


def zipf_weights(n: int, rng: np.random.Generator, s: float = 1.1) -> np.ndarray:
    """Zipf weights over a seeded permutation of ``n`` items."""
    w = 1.0 / np.arange(1, n + 1) ** s
    return (w / w.sum())[rng.permutation(n)]


@dataclass
class Messages:
    """Columns of generated messages (one entry per row)."""

    seq: np.ndarray  # int64
    topic: list[str]
    contract: np.ndarray  # int64
    ts_us: np.ndarray  # int64
    exp_us: np.ndarray  # int64, NO_EXPIRY when the row has no TTL

    def __len__(self) -> int:
        return len(self.seq)

    def to_arrow(self) -> pa.Table:
        exp = self.exp_us
        return pa.table(
            {
                "seq": pa.array(self.seq, pa.int64()),
                "msg_id": pa.nulls(len(self), pa.binary()),
                "contract": pa.array(self.contract, pa.int64()),
                "topic": pa.array(self.topic, pa.string()),
                "ts": pa.array(self.ts_us, pa.timestamp("us", tz="UTC")),
                "expires_at": pa.array(exp, pa.timestamp("us", tz="UTC"), mask=exp == NO_EXPIRY),
                "payload": pa.array([payload(int(s)) for s in self.seq], pa.binary()),
                "encrypted": pa.array(np.zeros(len(self), bool)),
            },
            schema=MESSAGE_SCHEMA,
        )

    def write(self, path: Path) -> None:
        """Write one Parquet file."""
        path.parent.mkdir(parents=True, exist_ok=True)
        pq.write_table(self.to_arrow(), path)


def message_store(
    rng: np.random.Generator, weights: np.ndarray, n: int, days: int = 30
) -> Messages:
    """``n`` messages over the ``days`` before T_END, seq in time order."""
    topics = rng.choice(len(CONCRETE_TOPICS), size=n, p=weights)
    names = [CONCRETE_TOPICS[t] for t in topics]
    for i in rng.choice(n, size=max(2, n // 1000), replace=False):
        names[i] = PATTERN_TOPICS[i % len(PATTERN_TOPICS)]
    ts = np.sort(T_END_US - rng.integers(1, days * DAY_US, size=n))
    contract = np.where(rng.random(n) < 0.1, ALT, MASTER).astype(np.int64)
    exp = np.full(n, NO_EXPIRY, np.int64)
    ttl_rows = rng.random(n) < 0.05
    exp[ttl_rows] = ts[ttl_rows] + rng.choice(TTL_CHOICES_S, ttl_rows.sum()) * 1_000_000
    return Messages(np.arange(1, n + 1, dtype=np.int64), names, contract, ts, exp)


def hot_topic(rng: np.random.Generator, weights: np.ndarray) -> str:
    return CONCRETE_TOPICS[rng.choice(len(CONCRETE_TOPICS), p=weights)]


# ------------------------------------------------------------ put_churn


@dataclass
class Put:
    topic: str
    contract: int
    ts_us: int
    ttl_s: int | None


@dataclass
class ChurnPlan:
    """The seeded puts of one put_churn cycle and the topics it reads back."""

    bursts: list[list[Put]] = field(default_factory=list)
    batch_puts: list[Put] = field(default_factory=list)
    get_topics: list[str] = field(default_factory=list)


BURSTS, BURST_PUTS, BATCH_PUTS, BATCH_DELETES, SINGLE_DELETES = 2, 100, 50, 5, 2
BULK_ROWS, STREAM_ROWS = 5_000, 1_000


def churn_plan(rng: np.random.Generator, weights: np.ndarray, day_start_us: int) -> ChurnPlan:
    """One cycle's writes, all stamped within the virtual day that starts
    at ``day_start_us``. One put in ten carries a TTL of 1 s, 1 h or 30
    days; the first two have expired when the cycle reads at the end of
    its day."""

    def put(i: int) -> Put:
        ttl = None
        if rng.random() < 0.1:
            ttl = int(rng.choice([1, 3600, 86400 * 30]))
        contract = ALT if rng.random() < 0.1 else MASTER
        return Put(hot_topic(rng, weights), contract, day_start_us + i * 1_000_000, ttl)

    plan = ChurnPlan()
    for b in range(BURSTS):
        plan.bursts.append([put(b * BURST_PUTS + k) for k in range(BURST_PUTS)])
    plan.batch_puts = [put(BURSTS * BURST_PUTS + k) for k in range(BATCH_PUTS)]
    written = [p.topic for b in plan.bursts for p in b] + [p.topic for p in plan.batch_puts]
    plan.get_topics = [written[int(k)] for k in rng.choice(len(written), 4, replace=False)]
    return plan


def timed_rows(
    rng: np.random.Generator, weights: np.ndarray, n: int, first_seq: int, start_us: int, span_us: int
) -> Messages:
    """``n`` messages with explicit seqs, stamped inside [start, start+span)."""
    topics = [CONCRETE_TOPICS[t] for t in rng.choice(len(CONCRETE_TOPICS), size=n, p=weights)]
    ts = np.sort(start_us + rng.integers(0, span_us, size=n))
    contract = np.where(rng.random(n) < 0.1, ALT, MASTER).astype(np.int64)
    exp = np.full(n, NO_EXPIRY, np.int64)
    seq = np.arange(first_seq, first_seq + n, dtype=np.int64)
    return Messages(seq, topics, contract, ts, exp)


# ------------------------------------------------------------ analytics

ANALYTICS_SEED = 20240101
EVENT_TYPES = ["click", "view", "purchase", "error", "signup"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch spark "
    "line sort window order data column join small customer query big stream "
    "filter group vector"
).split()


def analytics_tables(out_dir: Path, scale: float = 1.0) -> dict[str, int]:
    """Write events, lineitem, customer and documents (about TPC-H sf0.01
    in size at ``scale`` 1) under ``out_dir``; returns rows per table. The
    seed is fixed: the analytics workload pins a digest of every query
    result."""
    rng = np.random.default_rng(ANALYTICS_SEED)
    out_dir.mkdir(parents=True, exist_ok=True)
    t0 = dt.datetime(2024, 1, 1)
    n_ev = int(10_000 * scale)
    ev_ts = np.sort(rng.integers(0, 30 * DAY_US, n_ev))
    events = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array([t0 + dt.timedelta(microseconds=int(u)) for u in ev_ts], pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 150, n_ev), pa.int64()),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n_ev, p=[0.4, 0.3, 0.1, 0.1, 0.1])),
        "value": pa.array(np.round(rng.gamma(2.0, 20.0, n_ev) + 0.01, 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
    })
    n_ord, n_li = int(15_000 * scale), int(60_000 * scale)
    qty = rng.integers(1, 51, n_li).astype(float)
    ship = rng.integers(0, 2500, n_li)
    lineitem = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, 2000, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, 100, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2100, n_li), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_li)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_li)),
        "l_shipdate": pa.array(
            [dt.datetime(1995, 1, 2) + dt.timedelta(days=int(d)) for d in ship], pa.timestamp("us")
        ),
    })
    n_cust = int(1_500 * scale)
    customer = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{k:09d}" for k in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2)),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust)),
    })
    n_doc = int(500 * scale)
    texts = [" ".join(rng.choice(WORDS, int(rng.integers(10, 90)))) for _ in range(n_doc)]
    for d in range(0, n_doc, 20):  # near-duplicates: one word changed
        words = texts[d].split()
        words[int(rng.integers(0, len(words)))] = str(rng.choice(WORDS))
        texts[d + 1] = " ".join(words)
    documents = pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(["en", "de", "fr", "es", "zh"], n_doc)),
        "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n_doc)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    tables = {"events": events, "lineitem": lineitem, "customer": customer, "documents": documents}
    for name, table in tables.items():
        pq.write_table(table, out_dir / f"{name}.parquet")
    return {name: table.num_rows for name, table in tables.items()}
