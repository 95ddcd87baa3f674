"""Seeded binlog-shaped change feed and the pure-Python oracle that folds it.

A feed event is one JSON line ``{source, event_type, tbl, payload, seq}``,
the shape ``scripts/cdc_throughput.py`` writes and
``dumpr_spark.streaming.state.streaming_tx_filter`` reads. ``event_type`` is
``tx-begin``/``tx-commit``/``tx-rollback`` (markers, no table) or
``write``/``update``/``delete`` (row events whose payload is the full row
image, after the change or, for a delete, before it).

Generation is a pure function of the seed: the same seed gives the same
events and the same file bytes. Binlog ``seq`` values start at SEQ_BASE,
above every snapshot seq: ``snapshot_to_changes`` stamps snapshot rows
``table_seq * 2^53 + monotonically_increasing_id`` with table_seq 0 and 1
here, so every snapshot seq is below 2^54, and a binlog event with a lower
seq would silently lose the last-write-wins fold to the snapshot image.

Files are written outside the watched directory and renamed into it, so the
streaming file source never lists a partial file. Each file's modification
time is set to its creation stamp, which is strictly increasing, so the file
source takes files in creation (and seq) order.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

import numpy as np

from dumpr_spark.cdc.materialize import into_entity_map

SEQ_BASE = 1 << 54
N_SOURCES = 4
TX_ROWS = (4, 24)  # row events per transaction, inclusive
ROLLBACK_SHARE = 0.05
UNTX_SHARE = 0.03  # share of steps that emit a row outside any transaction
HOT_KEYS = 3  # per table, for the "recent" locality
ORDERS, LINEITEM = "orders", "lineitem"
ID_FIELD = {ORDERS: "o_orderkey", LINEITEM: "l_id"}
ROW_EVENTS = ("write", "update", "delete")


def lineitem_id(orderkey: int, linenumber: int) -> int:
    """Numeric line-item key (line numbers are 1..7), so the key range of a
    new order's lines sits at the top like the order's own key."""
    return orderkey * 8 + linenumber


def canon_value(v):
    """One spelling for a JSON value from Spark's to_json or from Python:
    timestamps as 'YYYY-MM-DD HH:MM:SS', integral floats kept as floats."""
    if hasattr(v, "isoformat"):
        return v.isoformat(sep=" ")[:19]
    if isinstance(v, str) and len(v) >= 19 and v[4] == "-" and v[10] == "T":
        return v[:10] + " " + v[11:19]
    return v


def canon_row(content: str | dict) -> tuple:
    d = json.loads(content) if isinstance(content, str) else content
    return tuple(sorted((k, canon_value(v)) for k, v in d.items()))


def _jsonable(row: dict) -> dict:
    out = {}
    for k, v in row.items():
        if hasattr(v, "isoformat"):
            v = v.isoformat(sep=" ")[:19]
        elif isinstance(v, np.generic):
            v = v.item()
        out[k] = v
    return out


def snapshot_images(orders: list[dict], lineitems: list[dict]) -> dict[str, dict[int, dict]]:
    """Snapshot rows by table and key, with JSON-ready values."""
    return {ORDERS: {int(r["o_orderkey"]): _jsonable(r) for r in orders},
            LINEITEM: {int(r["l_id"]): _jsonable(r) for r in lineitems}}


@dataclass
class FeedFile:
    name: str
    events: list[dict]
    created_ns: int = 0
    nbytes: int = 0

    @property
    def row_ops(self) -> int:
        return sum(e["event_type"] in ROW_EVENTS for e in self.events)

    def payload(self) -> bytes:
        return "".join(json.dumps(e, sort_keys=True) + "\n"
                       for e in self.events).encode()


@dataclass
class _Source:
    name: str
    pending: list = field(default_factory=list)  # (event_type, tbl, row) left in the open tx


class FeedGenerator:
    """Transactions from several sources, interleaved event by event.

    `images` maps each table to its snapshot rows by key (see
    `snapshot_images`); the generator keeps its own copy of the mapping.
    Transactions insert new orders with their lines at the top of the key
    range and update or delete existing rows; `locality`
    chooses which existing keys: ``"zipf"`` draws ranks Zipf-skewed over a
    seeded permutation of the whole key range, ``"recent"`` draws from the
    newest keys plus a few hot keys. Some transactions roll back and some
    rows arrive outside any transaction.
    """

    def __init__(self, seed, images: dict[str, dict[int, dict]], locality: str = "zipf"):
        self.rng = np.random.default_rng(seed)
        self.sources = [_Source(f"s{i}") for i in range(N_SOURCES)]
        self.locality = locality
        self.rows = {t: dict(rows) for t, rows in images.items()}
        self.keys = {t: sorted(rows) for t, rows in self.rows.items()}
        self.perm = {t: self.rng.permutation(len(k)) for t, k in self.keys.items()}
        self.hot = {t: [k[(i + 1) * len(k) // (HOT_KEYS + 1)] for i in range(HOT_KEYS)]
                    for t, k in self.keys.items()}
        self.deleted: set[tuple] = set()
        self.next_order = self.keys[ORDERS][-1] + 1
        self.seq = SEQ_BASE
        self.n_files = 0

    # -- row images --------------------------------------------------------
    def _pick(self, tbl: str) -> int | None:
        """An existing, undeleted key of `tbl` under the locality policy."""
        keys = self.keys[tbl]
        for _ in range(8):
            if self.locality == "zipf":
                rank = int(self.rng.zipf(1.3)) - 1
                key = keys[int(self.perm[tbl][rank % len(self.perm[tbl])])]
            elif self.rng.random() < 0.25:
                key = self.hot[tbl][int(self.rng.integers(0, len(self.hot[tbl])))]
            else:
                key = keys[-1 - int(self.rng.integers(0, min(len(keys), 2000)))]
            if (tbl, key) not in self.deleted:
                return key
        return None

    def _insert(self) -> list[tuple]:
        key = self.next_order
        self.next_order += 1
        orders, lines = self.rows[ORDERS], self.rows[LINEITEM]
        template = orders[self.keys[ORDERS][key % len(self.keys[ORDERS])]]
        order = dict(template, o_orderkey=key,
                     o_totalprice=round(float(self.rng.uniform(1000, 500000)), 2))
        orders[key] = order
        self.keys[ORDERS].append(key)
        out = [("write", ORDERS, order)]
        for ln in range(1, int(self.rng.integers(1, 4)) + 1):
            lt = lines[self.keys[LINEITEM][(key + ln) % len(self.keys[LINEITEM])]]
            line = dict(lt, l_orderkey=key, l_linenumber=ln,
                        l_id=lineitem_id(key, ln),
                        l_quantity=float(self.rng.integers(1, 51)))
            lines[line["l_id"]] = line
            self.keys[LINEITEM].append(line["l_id"])
            out.append(("write", LINEITEM, line))
        return out

    def _change(self) -> list[tuple]:
        tbl = ORDERS if self.rng.random() < 0.5 else LINEITEM
        key = self._pick(tbl)
        if key is None:
            return self._insert()
        row = self.rows[tbl][key]
        if self.rng.random() < 0.2:
            self.deleted.add((tbl, key))
            return [("delete", tbl, row)]
        if tbl == ORDERS:
            new = dict(row, o_totalprice=round(float(self.rng.uniform(1000, 500000)), 2),
                       o_orderstatus=("F", "O", "P")[int(self.rng.integers(0, 3))])
        else:
            new = dict(row, l_quantity=float(self.rng.integers(1, 51)))
        self.rows[tbl][key] = new
        return [("update", tbl, new)]

    def _tx_body(self) -> list[tuple]:
        lo, hi = TX_ROWS
        n = int(self.rng.integers(lo, hi + 1))
        body: list[tuple] = []
        while len(body) < n:
            body.extend(self._insert() if self.rng.random() < 0.4 else self._change())
        return body

    # -- events ------------------------------------------------------------
    def _event(self, src: _Source, et: str, tbl=None, row=None) -> dict:
        self.seq += 1
        return {"source": src.name, "event_type": et, "tbl": tbl,
                "payload": None if row is None else json.dumps(row, sort_keys=True),
                "seq": self.seq}

    def _step(self, src: _Source) -> list[dict]:
        """The source's next event: the next row of its open transaction,
        its closing marker, or a new transaction's begin / a row outside
        any transaction."""
        if src.pending:
            et, tbl, row = src.pending.pop(0)
            return [self._event(src, et, tbl, row)]
        if self.rng.random() < UNTX_SHARE:
            return [self._event(src, et, tbl, row) for et, tbl, row in self._change()]
        body = self._tx_body()
        end = "tx-rollback" if self.rng.random() < ROLLBACK_SHARE else "tx-commit"
        src.pending = body + [(end, None, None)]
        return [self._event(src, "tx-begin")]

    def take(self, n_row_ops: int) -> list[dict]:
        """Events from randomly interleaved sources until `n_row_ops` row
        events have been emitted (transactions may stay open)."""
        out: list[dict] = []
        rows = 0
        while rows < n_row_ops:
            src = self.sources[int(self.rng.integers(0, len(self.sources)))]
            for e in self._step(src):
                if e["event_type"] in ROW_EVENTS:
                    rows += 1
                out.append(e)
        return out

    def next_file(self, events: list[dict]) -> FeedFile:
        f = FeedFile(f"part-{self.n_files:06d}.json", events)
        self.n_files += 1
        return f


def publish(f: FeedFile, staging: str, watched: str, created_ns: int) -> None:
    """Write `f` under `staging`, stamp its mtime, rename it into `watched`."""
    tmp = os.path.join(staging, f.name)
    data = f.payload()
    with open(tmp, "wb") as fh:
        fh.write(data)
    f.nbytes = len(data)
    os.utime(tmp, ns=(created_ns, created_ns))
    f.created_ns = created_ns
    os.rename(tmp, os.path.join(watched, f.name))


# -- oracle ------------------------------------------------------------------

def released_rows(events: list[dict]) -> list[dict]:
    """The reference transaction filter, in stream (seq) order per source:
    rows between tx-begin and tx-commit are released at the commit, a
    rollback drops them, a nested begin keeps the buffer, rows outside any
    transaction pass straight through, and a still-open tail is withheld."""
    state: dict[str, tuple[bool, list]] = {}
    out: list[dict] = []
    for e in sorted(events, key=lambda e: e["seq"]):
        in_tx, buf = state.get(e["source"], (False, []))
        et = e["event_type"]
        if et == "tx-begin":
            in_tx = True
        elif et == "tx-commit":
            out.extend(buf)
            in_tx, buf = False, []
        elif et == "tx-rollback":
            in_tx, buf = False, []
        elif in_tx:
            buf = buf + [e]
        else:
            out.append(e)
        state[e["source"]] = (in_tx, buf)
    return sorted(out, key=lambda e: e["seq"])


def expected_state(snapshot: dict[tuple, dict], events: list[dict]) -> dict:
    """(tbl, id) -> canonical row after folding the released feed rows over
    the snapshot, last write wins by seq (`into_entity_map`)."""
    changes = [{"op": "upsert", "tbl": k[0], "id": k[1], "content": v}
               for k, v in snapshot.items()]
    for e in released_rows(events):
        row = json.loads(e["payload"])
        changes.append({
            "op": "delete" if e["event_type"] == "delete" else "upsert",
            "tbl": e["tbl"], "id": str(row[ID_FIELD[e["tbl"]]]), "content": row,
        })
    return {k: canon_row(v) for k, v in into_entity_map(changes).items()}


def compare_state(expected: dict, actual: dict) -> tuple[int, int]:
    """(keys attempted, keys missing, extra or different)."""
    keys = expected.keys() | actual.keys()
    bad = sum(expected.get(k) != actual.get(k) for k in keys)
    return len(keys), bad
