"""Approval workload inputs, generated from the seed, and the plain-Python
reference model of sequential approval semantics.

Reference semantics, one event at a time in batch order:

- insert keeps the first row per key (rows whose key exists are skipped);
- update keeps the last row per key (a new key is inserted);
- delete is queued, and the key is removed when the queue is drained;
- reject leaves every table unchanged;
- poison (missing file or unknown operation) ends with status ``failed``
  and one ``dead_letters`` row.

Every event ends ``is_processed`` with one notification.
"""

from __future__ import annotations

import csv
import os
import random
from dataclasses import dataclass, field

COLUMNS = ("id", "name", "amount")

# One batch: 4 inserts, 4 updates, 1 delete and one last event that is a
# reject (p = 0.7) or a poison (p = 0.3), so the mix over batches is
# 40/40/10/7/3 insert/update/delete/reject/poison. Tables, keys and the
# arrival order are drawn from the seed.
BATCH_KINDS = ("insert",) * 4 + ("update",) * 4 + ("delete",)
REJECT_SHARE = 0.7

# share of CSV keys that miss: inserts that collide with an existing
# row, and updates that create a new one
MISS_SHARE = 0.1


@dataclass(frozen=True)
class Sizes:
    ledger_rows: int
    tables: int
    table_rows: int
    csv_rows: int

    @property
    def events_per_batch(self) -> int:
        return len(BATCH_KINDS) + 1


@dataclass(frozen=True)
class Event:
    event_id: str
    kind: str  # insert | update | delete | reject | poison
    table: str
    file_name: str
    operation: str

    @property
    def action(self) -> str:
        return "reject" if self.kind == "reject" else "approve"

    @property
    def expected_status(self) -> str:
        return {"reject": "rejected", "poison": "failed"}.get(self.kind, "approved")


@dataclass
class Model:
    tables: dict[str, dict[str, tuple[str, str]]]
    pending: set[tuple[str, str]] = field(default_factory=set)

    def apply(self, ev: Event, rows: list[tuple[str, str, str]]) -> None:
        t = self.tables[ev.table]
        if ev.kind == "insert":
            for k, name, amount in rows:
                t.setdefault(k, (name, amount))
        elif ev.kind == "update":
            for k, name, amount in rows:
                t[k] = (name, amount)
        elif ev.kind == "delete":
            self.pending.update((ev.table, k) for k, _, _ in rows)

    def drain(self) -> int:
        n = len(self.pending)
        for table, k in self.pending:
            self.tables[table].pop(k, None)
        self.pending.clear()
        return n


class Generator:
    """Seeded source of initial tables and approval batches; applies
    every batch it hands out to the reference model."""

    def __init__(self, seed: int, sizes: Sizes, csv_root: str) -> None:
        self.rng = random.Random(seed)
        self.sizes = sizes
        self.csv_root = csv_root
        self.names = [f"t{i}" for i in range(sizes.tables)]
        self.next_key = sizes.table_rows
        self.model = Model(
            {
                t: {str(k): self._row_values(f"init{k}") for k in range(sizes.table_rows)}
                for t in self.names
            }
        )
        self.events: list[Event] = []
        self.csv_bytes = 0

    def _row_values(self, name: str) -> tuple[str, str]:
        return name, f"{self.rng.randrange(10**6) / 100:.2f}"

    def initial_rows(self, table: str) -> list[tuple[str, str, str]]:
        return [(k, *v) for k, v in self.model.tables[table].items()]

    def _keys(self, ev_kind: str, table: str) -> list[str]:
        existing = list(self.model.tables[table])
        out = []
        for _ in range(self.sizes.csv_rows):
            hit = self.rng.random() >= MISS_SHARE
            if ev_kind == "insert":
                hit = not hit
            if hit and existing:
                out.append(self.rng.choice(existing))
            else:
                out.append(str(self.next_key))
                self.next_key += 1
        return out

    def batch(self, batch_no: int) -> list[Event]:
        """The next batch, with its CSV files written, in an arrival
        order drawn from the seed."""
        last = "reject" if self.rng.random() < REJECT_SHARE else "poison"
        drafts = [(kind, self.rng.choice(self.names)) for kind in (*BATCH_KINDS, last)]
        self.rng.shuffle(drafts)
        events = []
        for i, (kind, table) in enumerate(drafts):
            eid = f"b{batch_no:04d}e{i:02d}"
            fname = f"{eid}.csv"
            op = "update" if kind in ("reject", "poison") else kind
            missing = False
            if kind == "poison":
                missing = self.rng.random() < 0.5
                if not missing:
                    op = "merge"  # unknown operation
            ev = Event(eid, kind, table, fname, op)
            rows = [
                (k, *self._row_values(f"{eid}r{j}"))
                for j, k in enumerate(self._keys(kind, table))
            ]
            if not missing:
                path = os.path.join(self.csv_root, fname)
                with open(path, "w", newline="") as f:
                    w = csv.writer(f)
                    w.writerow(COLUMNS)
                    w.writerows(rows)
                if kind != "poison":
                    self.csv_bytes += os.path.getsize(path)
            if kind not in ("reject", "poison"):
                self.model.apply(ev, rows)
            events.append(ev)
        self.events.extend(events)
        return events
