"""Correctness checking that does not use engine code.

``Ledger`` is the benchmark's own record of every message it wrote and
every seq it deleted. The expected answer of a Get is computed from it:
symmetric wildcard topic match (``*`` is one level, a trailing ``...``
is zero or more; either side may hold wildcards, and the side treated as
concrete keeps its wildcard tokens as literals), contract, ``?last=``
window, TTL and tombstones, newest-first by seq, first ``limit`` rows.

Analytics results are checked against pinned, order-independent digests.
"""

from __future__ import annotations

import hashlib
import json
from pathlib import Path

import numpy as np

from gen import PAYLOAD_BYTES, Messages, payload, payload_seq

DIGESTS_PATH = Path(__file__).with_name("analytics_digests.json")


def _parts(topic: str) -> tuple[str, ...]:
    if topic.endswith("..."):
        body = topic[:-3]
        return (tuple(body.split(".")) if body else ()) + ("...",)
    return tuple(topic.split("."))


def _one_way(pattern: tuple[str, ...], concrete: tuple[str, ...]) -> bool:
    if pattern and pattern[-1] == "...":
        base = pattern[:-1]
        return len(concrete) >= len(base) and all(p in ("*", c) for p, c in zip(base, concrete))
    return len(pattern) == len(concrete) and all(p in ("*", c) for p, c in zip(pattern, concrete))


def topics_match(stored: str, query: str) -> bool:
    s, q = _parts(stored), _parts(query)
    return _one_way(s, q) or _one_way(q, s)


class Ledger:
    """Every acknowledged message, keyed for newest-first lookup.

    Each row's payload names its write id (``wid``): the seq itself for
    rows written with an explicit seq, a benchmark counter otherwise.
    ``(order, sub)`` sorts like the engine's seq. A seq the engine assigns
    inside a batch commit is not returned to the caller, so such a row
    gets ``(highest seq acknowledged before the batch, i)``: seqs are
    allocated in increasing order.
    """

    def __init__(self) -> None:
        self._cols: dict[str, list] = {
            k: [] for k in ("order", "sub", "seq", "wid", "contract", "ts", "exp")
        }
        self._topics: list[str] = []
        self._topic_ids: dict[str, int] = {}
        self._tid: list[int] = []
        self._frozen: dict | None = None
        self.deleted: set[int] = set()
        self.max_seq = 0
        self.payload_bytes = 0

    def _tid_of(self, topic: str) -> int:
        if topic not in self._topic_ids:
            self._topic_ids[topic] = len(self._topics)
            self._topics.append(topic)
        return self._topic_ids[topic]

    def add_messages(self, m: Messages) -> None:
        c = self._cols
        c["order"].extend(m.seq.tolist())
        c["sub"].extend([0] * len(m))
        c["seq"].extend(m.seq.tolist())
        c["wid"].extend(m.seq.tolist())
        c["contract"].extend(m.contract.tolist())
        c["ts"].extend(m.ts_us.tolist())
        c["exp"].extend(m.exp_us.tolist())
        self._tid.extend(self._tid_of(t) for t in m.topic)
        self.max_seq = max(self.max_seq, int(m.seq.max()))
        self.payload_bytes += PAYLOAD_BYTES * len(m)
        self._frozen = None

    def add(
        self, seq: int | None, sub: int, wid: int, topic: str, contract: int, ts_us: int, exp_us: int
    ) -> None:
        """One message; ``seq=None`` for a batch row whose seq is unknown."""
        c = self._cols
        c["order"].append(seq if seq is not None else self.max_seq)
        c["sub"].append(sub)
        c["seq"].append(seq if seq is not None else -1)
        c["wid"].append(wid)
        c["contract"].append(contract)
        c["ts"].append(ts_us)
        c["exp"].append(exp_us)
        self._tid.append(self._tid_of(topic))
        if seq is not None:
            self.max_seq = max(self.max_seq, seq)
        self.payload_bytes += PAYLOAD_BYTES
        self._frozen = None

    def delete(self, seq: int) -> None:
        self.deleted.add(seq)
        self._frozen = None

    def known_seqs(self) -> np.ndarray:
        seq = np.asarray(self._cols["seq"], np.int64)
        return seq[seq > 0]

    def _arrays(self) -> dict:
        if self._frozen is None:
            a = {k: np.asarray(v, np.int64) for k, v in self._cols.items()}
            a["tid"] = np.asarray(self._tid, np.int64)
            a["dead"] = np.isin(a["seq"], np.fromiter(self.deleted, np.int64, len(self.deleted)))
            # rank = position in seq order, so one argsort serves every query
            rank = np.empty(len(a["order"]), np.int64)
            rank[np.lexsort((a["sub"], a["order"]))] = np.arange(len(rank))
            a["rank"] = rank
            self._frozen = a
        return self._frozen

    def live_count(self, now_us: int) -> int:
        a = self._arrays()
        return int(np.count_nonzero(~a["dead"] & (a["exp"] > now_us)))

    def expected(self, topic: str, contract: int, limit: int, now_us: int, last_s: float | None) -> np.ndarray:
        """Row indices of the expected answer, newest first."""
        a = self._arrays()
        tids = [i for i, t in enumerate(self._topics) if topics_match(t, topic)]
        keep = np.isin(a["tid"], tids) & (a["contract"] == contract) & ~a["dead"] & (a["exp"] > now_us)
        if last_s is not None:
            keep &= a["ts"] >= now_us - int(last_s * 1_000_000)
        idx = np.flatnonzero(keep)
        return idx[np.argsort(-a["rank"][idx], kind="stable")][:limit]

    def check(self, got: list[bytes], topic: str, contract: int, limit: int, now_us: int, last_s: float | None) -> str | None:
        """None when ``got`` is the expected answer, else what differs."""
        idx = self.expected(topic, contract, limit, now_us, last_s)
        if len(got) != len(idx):
            return f"{topic}: {len(got)} rows, expected {len(idx)}"
        for i, (p, w) in enumerate(zip(got, self._arrays()["wid"][idx].tolist())):
            if p != payload(w):
                return f"{topic}: row {i} is write {payload_seq(p)}, expected {w}"
        return None


def digest(rows) -> str:
    """Order-independent digest of a query result."""
    h = hashlib.sha256()
    for line in sorted(repr(tuple(r)) for r in rows):
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def pinned_digests() -> dict[str, str]:
    return json.loads(DIGESTS_PATH.read_text())
