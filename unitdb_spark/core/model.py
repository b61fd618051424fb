"""Core data model: Entry / Query builders, message IDs, constants.

Re-expresses the reference's Entry/Query/ID semantics
(reference: entry.go:42-95, query.go:50-123, message/id.go:27-86,
uid/uid.go:28-62) as plain Python dataclasses. No storage concerns.
"""

from __future__ import annotations

import os
import struct
import threading
import time
from dataclasses import dataclass, field, replace

from unitdb_spark.core.topic import TopicSpec, parse_duration, parse_topic

# Tenant/namespace isolation key; default master contract
# (message/id.go:27-28).
MASTER_CONTRACT = 3376684800

# Query limit defaults (options.go:166-174).
DEFAULT_QUERY_LIMIT = 1000
MAX_QUERY_LIMIT = 100_000

# Payload cap (db_internal.go:59-60).
MAX_PAYLOAD_BYTES = 1 << 30

# Epoch offset used by the reference's inverted-epoch ID
# (uid/uid.go: Offset). We keep our own fixed offset; IDs only need to
# be unique + sortable, not bit-identical to the reference.
_EPOCH_OFFSET = 1_577_836_800  # 2020-01-01T00:00:00Z
_MAX_U32 = 0xFFFFFFFF


class _SeqSource:
    """Monotonic sequence allocator (single-writer, driver-side).

    Mirrors the atomic counter in db_internal.go:362-364. Sequences
    must be strictly increasing across flushes so newest-first ordering
    by seq is global (SURVEY §7 hard-bit #2).
    """

    def __init__(self, start: int = 0) -> None:
        self._lock = threading.Lock()
        self._next = start + 1

    def advance_to(self, floor: int) -> None:
        with self._lock:
            if floor >= self._next:
                self._next = floor + 1

    def next(self) -> int:
        with self._lock:
            seq = self._next
            self._next += 1
            return seq


def new_contract() -> int:
    """Random non-master tenant key (db.go:321-328)."""
    while True:
        c = int.from_bytes(os.urandom(4), "big")
        if c != MASTER_CONTRACT and c != 0:
            return c


def message_id(seq: int, contract: int = MASTER_CONTRACT, ts: float | None = None) -> bytes:
    """16-byte lexicographically sortable message ID, newest-first.

    Layout mirrors message/id.go:44-52: 4-byte *inverted* epoch
    (MaxUint32 - (now - offset), so newer sorts first), 4-byte
    contract, 8-byte sequence.
    """
    now = int(ts if ts is not None else time.time())
    inv = _MAX_U32 - max(0, now - _EPOCH_OFFSET)
    return struct.pack(">IIQ", inv & _MAX_U32, contract & _MAX_U32, seq)


def message_id_seq(msg_id: bytes) -> int:
    return struct.unpack(">Q", msg_id[8:16])[0]


@dataclass
class Entry:
    """A message to write (entry.go:42-51 + builder entry.go:54-95)."""

    topic: str
    payload: bytes = b""
    contract: int = MASTER_CONTRACT
    ttl: str | float | None = None  # "1h" or seconds
    msg_id: bytes | None = None
    # per-entry encryption flag (entry.go:54-95 WithEncryption; the
    # reference stores the bit in the ID, db_internal.go:304-306 — we
    # keep a queryable boolean column so reads decrypt selectively)
    encryption: bool = False

    # -- builder API (NewEntry/WithID/WithTTL/WithContract/WithPayload) --
    def with_id(self, msg_id: bytes) -> "Entry":
        return replace(self, msg_id=msg_id)

    def with_encryption(self) -> "Entry":
        """entry.go WithEncryption(): encrypt THIS entry's payload
        (store key required; store-wide encryption encrypts all)."""
        return replace(self, encryption=True)

    def with_ttl(self, ttl: str | float) -> "Entry":
        return replace(self, ttl=ttl)

    def with_contract(self, contract: int) -> "Entry":
        return replace(self, contract=contract)

    def with_payload(self, payload: bytes) -> "Entry":
        return replace(self, payload=payload)

    def ttl_seconds(self) -> float | None:
        # explicit builder TTL wins over the topic's ?ttl= option —
        # same precedence rule as Query.last_seconds
        if self.ttl is not None:
            if isinstance(self.ttl, (int, float)):
                return float(self.ttl)
            return parse_duration(self.ttl)
        return parse_topic(self.topic).ttl_seconds


def new_entry(topic: str, payload: bytes = b"") -> Entry:
    return Entry(topic=topic, payload=payload)


@dataclass
class Query:
    """A read request (query.go:50-123).

    ``topic`` may carry ``?last=`` options; explicit fields win over
    topic options. ``limit`` defaults to 1000, capped at 100000
    (options.go:166-174).
    """

    topic: str
    contract: int = MASTER_CONTRACT
    limit: int = 0
    last: str | float | None = None  # trailing window ("1h" or seconds)
    _spec: TopicSpec | None = field(default=None, repr=False, compare=False)

    def with_contract(self, contract: int) -> "Query":
        return replace(self, contract=contract, _spec=None)

    def with_limit(self, limit: int) -> "Query":
        return replace(self, limit=limit, _spec=None)

    def with_last(self, last: str | float) -> "Query":
        return replace(self, last=last, _spec=None)

    @property
    def spec(self) -> TopicSpec:
        if self._spec is None:
            object.__setattr__(self, "_spec", parse_topic(self.topic))
        return self._spec  # type: ignore[return-value]

    def effective_limit(self) -> int:
        limit = self.limit or self.spec.last_count or DEFAULT_QUERY_LIMIT
        return min(limit, MAX_QUERY_LIMIT)

    def last_seconds(self) -> float | None:
        if self.last is not None:
            if isinstance(self.last, (int, float)):
                return float(self.last)
            return parse_duration(self.last)
        return self.spec.last_seconds


def new_query(topic: str) -> Query:
    return Query(topic=topic)
