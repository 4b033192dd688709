"""Seeded input generators and the pure-Python replay oracle.

CDC change events use the Debezium envelope of
``cdc_local_data_pipeline_docker_spark.cdc.fixtures``: one JSON line per
Kafka record ``{"key", "value", "topic", "partition", "offset",
"timestamp"}``, the key as JSON, the value as the after-image row (or
``null`` for a tombstone, or a truncated payload for a malformed event),
decimals as strings and timestamps as epoch microseconds.

Traffic properties (fixed here, reported by every run):

* events per cycle per topic: ``CYCLE_EVENTS`` (most go to ``orders``
  and ``order_items``); the initial snapshot is ``SNAPSHOT_ROWS``;
* event-kind shares: ``KIND_SHARES`` (insert/update/tombstone/malformed
  = 35/58/6/1, the prototype's mix);
* update-key skew: an update picks a key inserted in the last
  ``RECENT_CYCLES`` cycles with probability ``RECENT_BIAS`` (the order
  lifecycle: new orders get paid, shipped, delivered); the measured share
  of updates that hit such keys is reported as ``recent_update_share``.

Everything is drawn from ``random.Random`` seeded by the run's seed, so
the same seed writes byte-identical files. The analytic tables are
generated from a fixed seed: on ``analytic_mix`` the run seed only sets
the query order.
"""

from __future__ import annotations

import json
import os
import random
import zlib
from dataclasses import dataclass, field

TOPIC_PREFIX = "dbserver1.ecommerce"
TOPICS = ("customers", "products", "orders", "order_items")
PRIMARY_KEYS = {
    "orders": "order_id",
    "customers": "customer_id",
    "products": "product_id",
    "order_items": "order_item_id",
}
#: wire field order per topic (catalog.CDC_WIRE_SCHEMAS)
WIRE_FIELDS = {
    "orders": ("order_id", "customer_id", "order_date", "status",
               "total_amount", "shipping_address"),
    "customers": ("customer_id", "email", "first_name", "last_name", "phone"),
    "products": ("product_id", "product_name", "category", "price",
                 "stock_quantity"),
    "order_items": ("order_item_id", "order_id", "product_id", "quantity",
                    "unit_price", "subtotal"),
}
#: initial snapshot per topic: the prototype replay this benchmark was
#: designed from held 75,625-87,100 live orders; these tables are that
#: size divided by 12.5, because the full size (``--scale 12.5``) adds
#: about 10 s to a CDC run, more than the run budget has (README, Inputs)
SNAPSHOT_ROWS = {"customers": 1000, "products": 500, "orders": 6000,
                 "order_items": 9000}
#: events per change batch (one batch per topic per cycle); set here, as
#: the prototype's per-cycle rates were not recorded
CYCLE_EVENTS = {"customers": 100, "products": 60, "orders": 800,
                "order_items": 1200}
KIND_SHARES = (("insert", 0.35), ("update", 0.58), ("tombstone", 0.06),
               ("malformed", 0.01))
RECENT_CYCLES = 3
RECENT_BIAS = 0.8
BASE_TS_MS = 1_700_000_000_000
BASE_DATE_US = 1_700_000_000_000_000
MALFORMED_VALUE = '{"truncated": '
_STATUSES = ("pending", "processing", "shipped", "delivered", "cancelled")


def row_crc(topic: str, row: dict, last_offset: int) -> int:
    """Order-insensitive row fingerprint: crc32 of the wire fields and the
    winning offset joined by ``|``. The Spark side computes the same value
    with ``crc32(concat_ws('|', ...))`` (see ``workloads.live_fingerprint``)."""
    vals = [str(row[f]) for f in WIRE_FIELDS[topic]] + [str(last_offset)]
    return zlib.crc32("|".join(vals).encode())


@dataclass
class TopicState:
    """Generator and replay state of one topic."""

    topic: str
    rng: random.Random
    next_id: int = 1
    offset: int = 0
    live: dict = field(default_factory=dict)  # pk -> (row, last_offset)
    keys: list = field(default_factory=list)  # live pks, for O(1) sampling
    key_pos: dict = field(default_factory=dict)
    inserted_at: list = field(default_factory=list)  # per-cycle insert pks
    crc_sum: int = 0
    n_malformed: int = 0
    n_updates: int = 0
    n_recent_updates: int = 0

    def _fresh_row(self, i: int) -> dict:
        r = self.rng
        if self.topic == "customers":
            return {"customer_id": i, "email": f"user{i}@example.com",
                    "first_name": f"First{i}", "last_name": f"Last{i}",
                    "phone": f"555-{1000 + i % 9000}"}
        if self.topic == "products":
            return {"product_id": i, "product_name": f"Product {i}",
                    "category": r.choice(("Electronics", "Furniture", "Toys")),
                    "price": f"{r.randint(100, 99999) / 100:.2f}",
                    "stock_quantity": r.randint(0, 100)}
        if self.topic == "orders":
            return {"order_id": i, "customer_id": r.randint(1, 2000),
                    "order_date": BASE_DATE_US + i * 60_000_000,
                    "status": "pending",
                    "total_amount": f"{r.randint(1000, 500000) / 100:.2f}",
                    "shipping_address": f"{i} Elm St"}
        return {"order_item_id": i, "order_id": r.randint(1, max(1, i // 2)),
                "product_id": r.randint(1, 1000), "quantity": r.randint(1, 5),
                "unit_price": f"{r.randint(100, 99999) / 100:.2f}",
                "subtotal": f"{r.randint(100, 99999) / 100:.2f}"}

    def _updated(self, row: dict) -> dict:
        r = self.rng
        row = dict(row)
        if self.topic == "orders":
            row["status"] = r.choice(_STATUSES)
            row["total_amount"] = f"{r.randint(1000, 500000) / 100:.2f}"
        elif self.topic == "customers":
            row["phone"] = f"555-{r.randint(2000, 9999)}"
        elif self.topic == "products":
            row["stock_quantity"] = r.randint(0, 100)
        else:
            row["quantity"] = r.randint(1, 9)
        return row

    def _put(self, pk: int, row: dict, off: int) -> None:
        old = self.live.get(pk)
        if old is None:
            self.key_pos[pk] = len(self.keys)
            self.keys.append(pk)
        else:
            self.crc_sum -= row_crc(self.topic, *old)
        self.live[pk] = (row, off)
        self.crc_sum += row_crc(self.topic, row, off)

    def _drop(self, pk: int) -> None:
        row_off = self.live.pop(pk)
        self.crc_sum -= row_crc(self.topic, *row_off)
        i = self.key_pos.pop(pk)
        last = self.keys.pop()
        if last != pk:
            self.keys[i] = last
            self.key_pos[last] = i

    def _pick_update_key(self, pool: list) -> int:
        if pool and self.rng.random() < RECENT_BIAS:
            for _ in range(8):
                k = self.rng.choice(pool)
                if k in self.live:
                    return k
        return self.rng.choice(self.keys)

    def _record(self, key_id: int, value: str | None) -> str:
        line = json.dumps({
            "key": json.dumps({PRIMARY_KEYS[self.topic]: key_id}),
            "value": value,
            "topic": f"{TOPIC_PREFIX}.{self.topic}",
            "partition": 0,
            "offset": self.offset,
            "timestamp": BASE_TS_MS + self.offset * 1000 + self.rng.randint(0, 999),
        })
        self.offset += 1
        return line

    def snapshot(self, n: int) -> list[str]:
        """Initial load (Debezium op='r'): ``n`` fresh rows."""
        lines = []
        for _ in range(n):
            pk = self.next_id
            self.next_id += 1
            row = self._fresh_row(pk)
            self._put(pk, row, self.offset)
            lines.append(self._record(pk, json.dumps(row)))
        return lines

    def cycle(self, n: int) -> list[str]:
        """One change batch of ``n`` events in a seeded interleaved order."""
        kinds = []
        for kind, share in KIND_SHARES:
            kinds += [kind] * max(1, round(n * share))
        self.rng.shuffle(kinds)
        lines = []
        ins = []
        pool = [k for c in self.inserted_at[-RECENT_CYCLES:] for k in c]
        recent = set(pool)
        for kind in kinds:
            if kind == "insert" or (kind != "malformed" and not self.keys):
                pk = self.next_id
                self.next_id += 1
                row = self._fresh_row(pk)
                ins.append(pk)
                recent.add(pk)
            elif kind == "update":
                pk = self._pick_update_key(pool)
                row = self._updated(self.live[pk][0])
                self.n_updates += 1
                self.n_recent_updates += pk in recent
            elif kind == "tombstone":
                pk = self.rng.choice(self.keys)
                self._drop(pk)
                lines.append(self._record(pk, None))
                continue
            else:
                self.n_malformed += 1
                lines.append(self._record(10_000_000 + self.offset, MALFORMED_VALUE))
                continue
            self._put(pk, row, self.offset)
            lines.append(self._record(pk, json.dumps(row)))
        self.inserted_at.append(ins)
        return lines


@dataclass
class CdcInputs:
    """Generated CDC inputs: per-cycle files and the replay state after
    every cycle (cycle 0 is the initial snapshot)."""

    n_cycles: int
    files: dict  # (topic, cycle) -> staged path
    events: dict  # (topic, cycle) -> event count
    expect: dict  # (topic, cycle) -> (live count, crc sum)
    malformed: dict  # (topic, cycle) -> malformed so far (cumulative)
    recent_update_share: float


def generate_cdc(stage_dir: str, seed: int, n_cycles: int,
                 scale: float = 1.0) -> CdcInputs:
    """Write ``n_cycles`` + 1 change batches per topic under ``stage_dir``
    (``<topic>/<topic>_c<cycle>.jsonl``) and replay them. Batch 0 is the
    snapshot of ``SNAPSHOT_ROWS`` times ``scale`` rows."""
    files, events, expect, malformed = {}, {}, {}, {}
    n_up = n_recent = 0
    for topic in TOPICS:
        st = TopicState(topic, random.Random(f"{seed}:{topic}"))
        os.makedirs(os.path.join(stage_dir, topic), exist_ok=True)
        for c in range(n_cycles + 1):
            lines = (st.snapshot(round(SNAPSHOT_ROWS[topic] * scale)) if c == 0
                     else st.cycle(CYCLE_EVENTS[topic]))
            path = os.path.join(stage_dir, topic, f"{topic}_c{c:05d}.jsonl")
            with open(path, "w") as f:
                f.write("\n".join(lines))
                f.write("\n")
            files[topic, c] = path
            events[topic, c] = len(lines)
            expect[topic, c] = (len(st.live), st.crc_sum)
            malformed[topic, c] = st.n_malformed
        n_up += st.n_updates
        n_recent += st.n_recent_updates
    return CdcInputs(n_cycles, files, events, expect, malformed,
                     n_recent / max(1, n_up))


def replay_live(lines, topic: str) -> dict[int, tuple[dict, int]]:
    """Latest state of one topic from raw envelope lines, by hand:
    latest offset wins per key, tombstones delete, malformed are skipped.
    Independent of the generator's own bookkeeping, so the self-tests can
    check the generator's running state against it."""
    pk_name = PRIMARY_KEYS[topic]
    live: dict[int, tuple[dict, int]] = {}
    for line in lines:
        e = json.loads(line)
        v = e["value"]
        if v is not None:
            try:
                row = json.loads(v)
            except ValueError:
                continue
            if not isinstance(row, dict) or row.get(pk_name) is None:
                continue
        key_id = json.loads(e["key"])[pk_name]
        if v is None:
            live.pop(key_id, None)
        else:
            live[key_id] = (row, e["offset"])
    return live


# --- analytic tables -------------------------------------------------------

ANALYTIC_SEED = 20260817
ANALYTIC_ROWS = {"customer": 7500, "supplier": 500, "part": 10000,
                 "orders": 75000, "lineitem": 300000, "events": 50000,
                 "documents": 2500, "embeddings": 1000}
_VOCAB = ("spark stream window hash join merge sort slow query scan customer "
          "order data batch part line column small fast value group agg "
          "filter big key row table vector the a of and").split()


def generate_analytic(out_dir: str) -> str:
    """Write the ten TPC-H-shaped tables the registry queries read
    (``region nation customer supplier part orders lineitem events
    documents embeddings``), with the column names and types of the
    engine's sf0.1 test tables, from a fixed seed. Returns ``out_dir``."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(ANALYTIC_SEED)
    n = ANALYTIC_ROWS
    os.makedirs(out_dir, exist_ok=True)

    def money(lo, hi, size):
        return rng.integers(int(lo * 100), int(hi * 100), size) / 100.0

    def days(start, n_days, size):
        base = np.datetime64(start, "D")
        return (base + rng.integers(0, n_days, size)).astype("datetime64[us]")

    def write(name, cols):
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    def pick(values, size):
        return np.asarray(values, dtype=object)[rng.integers(0, len(values), size)]

    write("region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    write("nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    nc = n["customer"]
    write("customer", {
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
        "c_acctbal": money(-999.99, 9999.99, nc),
        "c_mktsegment": pick(("AUTOMOBILE", "BUILDING", "FURNITURE",
                              "HOUSEHOLD", "MACHINERY"), nc)})
    ns = n["supplier"]
    write("supplier", {
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
        "s_acctbal": money(-999.99, 9999.99, ns)})
    npt = n["part"]
    write("part", {
        "p_partkey": np.arange(npt, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(
            pick(("large", "hot", "blue", "small"), npt),
            pick(("ring", "bolt", "nut", "gear"), npt))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, npt)],
        "p_type": pick(("LARGE", "ECONOMY", "SMALL", "STANDARD"), npt),
        "p_size": rng.integers(1, 51, npt).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(npt) % 1000) / 10.0, 2)})
    no = n["orders"]
    write("orders", {
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no),
        "o_orderstatus": pick(("O", "F", "P"), no),
        "o_totalprice": money(1000, 500000, no),
        "o_orderdate": days("1995-01-01", 2404, no),
        "o_orderpriority": pick(("1-URGENT", "2-HIGH", "3-MEDIUM",
                                 "4-NOT SPECIFIED", "5-LOW"), no)})
    nl = n["lineitem"]
    write("lineitem", {
        "l_orderkey": rng.integers(0, no, nl),
        "l_partkey": rng.integers(0, npt, nl),
        "l_suppkey": rng.integers(0, ns, nl),
        "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": money(900, 105000, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": pick(("A", "N", "R"), nl),
        "l_linestatus": pick(("F", "O"), nl),
        "l_shipdate": days("1995-01-02", 2498, nl)})
    ne = n["events"]
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    write("events", {
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": np.sort(t0 + rng.integers(0, 30 * 86400 * 10**6, ne)),
        "user_id": rng.integers(0, 1500, ne),
        "event_type": pick(("signup", "click", "error", "view", "purchase"), ne),
        "value": money(0, 560, ne),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})
    nd = n["documents"]
    lens = rng.integers(8, 90, nd)
    words = pick(_VOCAB, int(lens.sum()))
    texts, at = [], 0
    for k in lens:
        texts.append(" ".join(words[at:at + k]))
        at += k
    write("documents", {
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": texts,
        "lang": pick(("en", "en", "en", "fr", "zh", "de", "es"), nd),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    nv = n["embeddings"]
    vec = rng.standard_normal((nv, 64)).astype(np.float32) * 0.1
    write("embeddings", {
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, nv).astype(np.int32)})
    return out_dir
