"""Seeded input generator for the warehouse benchmark.

Single process, pyarrow + numpy only (no Spark), so input generation is
never billed to the system under test. Everything derives from one
``numpy.random.Generator`` seeded by ``--seed``: the same seed writes
byte-identical inputs.

Two products:

* ``write_star_schema`` -- the TESTDATA tables (``region nation customer
  supplier part orders lineitem events documents embeddings``, same column
  names and types as the fixtures) at the benchmark's fixed size. Users and
  SKUs are Zipf-skewed, so a few keys carry most rows.
* ``OdsStream`` -- the ODS file stream of ``rt_pipeline``: CDC envelope files
  for ``ods_base_db/`` and behaviour-event files for ``ods_base_log/``,
  pre-serialised to a staging directory so that landing one is a rename.
  The envelope carries order inserts, updates and deletes, new users, and
  dimension update waves; the event files carry a fixed share of
  out-of-order events and a smaller share far beyond the watermark.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Star-schema size: one dws_batch pass takes a few seconds on 4 cores.
SIZES = {
    "customers": 3000,
    "parts": 2000,
    "suppliers": 100,
    "orders": 12000,  # 1-7 lines each: ~48k lineitem rows
    "events": 25000,
    "event_users": 600,
    "documents": 800,
    "embeddings": 200,
}
ZIPF_S = 1.1  # skew exponent of users and SKUs

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
EVENT_TYPES = ["view", "click", "error", "purchase", "signup"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
COLORS = ["red", "blue", "green", "small", "large", "steel", "brass", "copper"]
THINGS = ["widget", "bolt", "ring", "gear", "valve", "spring", "plate"]
TYPES = ["ECONOMY", "SMALL", "MEDIUM", "LARGE", "PROMO", "STANDARD"]
LANGS = ["en", "en", "en", "zh", "de", "fr", "es"]
VOCAB = (
    "key agg row scan slow fast table value part hash batch window spark order "
    "data column join small line customer query stream state sink log index "
    "filter merge commit event user session page click view price"
).split()

EPOCH = dt.datetime(2024, 1, 1)
US_PER_DAY = 86_400_000_000
EPOCH_US = int((EPOCH - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000


def zipf_keys(rng: np.random.Generator, n_keys: int, size: int) -> np.ndarray:
    """``size`` draws from keys 0..n_keys-1 with Zipf(ZIPF_S) popularity;
    the popularity rank is shuffled onto the key space."""
    p = 1.0 / np.arange(1, n_keys + 1) ** ZIPF_S
    ranks = rng.choice(n_keys, size=size, p=p / p.sum())
    return rng.permutation(n_keys)[ranks]


def cents_price(rng: np.random.Generator, lo: float, hi: float, size: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, size), 2)


def ts_array(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), pa.int64()).cast(pa.timestamp("us"))


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path)


def events_table(
    rng: np.random.Generator, ids: np.ndarray, ts_us: np.ndarray, n_users: int
) -> pa.Table:
    n = len(ids)
    return pa.table({
        "event_id": pa.array(ids, pa.int64()),
        "ts": ts_array(ts_us),
        "user_id": pa.array(zipf_keys(rng, n_users, n), pa.int64()),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n)]),
        "value": pa.array(cents_price(rng, 0.01, 500.0, n)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def write_star_schema(out_dir: str, seed: int) -> dict[str, int]:
    """Write the ten fixture tables as ``<out_dir>/<name>.parquet``; returns
    row counts per table."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    s = SIZES
    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    nc = s["customers"]
    tables["customer"] = pa.table({
        "c_custkey": pa.array(range(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": cents_price(rng, -999.0, 9999.0, nc),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, nc)],
    })
    ns = s["suppliers"]
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(range(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": cents_price(rng, -999.0, 9999.0, ns),
    })
    npart = s["parts"]
    retail = np.round(900.0 + (np.arange(npart) % 1000) * 0.1, 2)
    tables["part"] = pa.table({
        "p_partkey": pa.array(range(npart), pa.int64()),
        "p_name": [
            f"{COLORS[a]} {THINGS[b]}"
            for a, b in zip(rng.integers(0, len(COLORS), npart), rng.integers(0, len(THINGS), npart))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
        "p_type": np.array(TYPES)[rng.integers(0, len(TYPES), npart)],
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": retail,
    })
    no = s["orders"]
    start_day = (dt.datetime(1995, 1, 1) - EPOCH).days
    o_day = start_day + rng.integers(0, 2400, no)
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(range(no), pa.int64()),
        "o_custkey": pa.array(zipf_keys(rng, nc, no), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
        "o_totalprice": cents_price(rng, 900.0, 400000.0, no),
        "o_orderdate": ts_array(o_day * US_PER_DAY + EPOCH_US),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, no)],
    })
    lines = rng.integers(1, 8, no)
    okey = np.repeat(np.arange(no), lines)
    nl = len(okey)
    lineno = np.concatenate([np.arange(1, k + 1) for k in lines])
    partkey = zipf_keys(rng, npart, nl)
    qty = rng.integers(1, 51, nl).astype("float64")
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(partkey, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(lineno, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * retail[partkey], 2),
        "l_discount": np.round(rng.integers(0, 11, nl) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, nl) / 100.0, 2),
        "l_returnflag": np.array(["R", "A", "N"])[rng.integers(0, 3, nl)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, nl)],
        # ship within [-20, +120] days of the order: straddles both the
        # order_wide [0, 90] and the payment_wide [-15, +5] join bands
        "l_shipdate": ts_array((o_day[okey] + rng.integers(-20, 121, nl)) * US_PER_DAY + EPOCH_US),
    })
    ne = s["events"]
    ev_ts = np.sort(rng.integers(0, 30 * US_PER_DAY, ne)) + EPOCH_US
    tables["events"] = events_table(rng, np.arange(ne), ev_ts, s["event_users"])
    nd = s["documents"]
    n_words = rng.integers(5, 60, nd)
    word_ids = zipf_keys(rng, len(VOCAB), int(n_words.sum()))
    texts, pos = [], 0
    for k in n_words:
        texts.append(" ".join(VOCAB[w] for w in word_ids[pos:pos + k]))
        pos += k
    tables["documents"] = pa.table({
        "doc_id": pa.array(range(nd), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.integers(0, len(LANGS), nd)],
        "source": [f"src{i}" for i in rng.integers(0, 18, nd)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    nv = s["embeddings"]
    emb = rng.standard_normal((nv, 16)).astype("float32")
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(range(nv), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 4, nv), pa.int32()),
    })
    for name, t in tables.items():
        _write(t, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


# -- ODS stream -------------------------------------------------------------

ODS_DB_SCHEMA = pa.schema([
    ("source_table", pa.string()),
    ("op", pa.string()),
    ("id", pa.int64()),
    ("user_id", pa.int64()),
    ("total_amount", pa.float64()),
    ("name", pa.string()),
    ("acct", pa.float64()),
])
ODS_DB_DDL = (
    "source_table string, op string, id long, user_id long, "
    "total_amount double, name string, acct double"
)
ODS_LOG_DDL = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)

OOO_SHARE = 0.10  # events shifted back by up to OOO_MAX_US (inside the watermark)
OOO_MAX_US = 30 * 60 * 1_000_000
LATE_SHARE = 0.01  # events shifted back by LATE_US (far beyond the watermark)
LATE_US = 10 * US_PER_DAY
FILE_EVENT_SPAN_US = 20 * 60 * 1_000_000  # event time covered by one log file


class OdsStream:
    """Deterministic ODS file stream. Files are numbered per directory;
    ``db_file(i)`` / ``log_file(i)`` return the i-th envelope / event
    table, a pure function of (seed, i), so the backlog phase and the
    oracle regenerate nothing.

    Dimension contract (what keeps the DWD dim MERGE batch-order-free):
    every user key is inserted once -- base users in db file 0, one new
    user per db file after it -- and updated at most once, by the wave of
    the file whose index is a multiple of ``WAVE_EVERY``; wave k updates
    the disjoint key block ``perm[k*WAVE_KEYS:(k+1)*WAVE_KEYS]`` of the
    base users."""

    BASE_USERS = 4000
    WAVE_EVERY = 4
    WAVE_KEYS = 40
    ORDER_IDS_PER_FILE = 100_000  # order id blocks never overlap

    def __init__(self, seed: int, db_rows: int, log_rows: int):
        self.seed = seed
        self.db_rows = db_rows
        self.log_rows = log_rows
        rng = np.random.default_rng([seed, 2])
        self.wave_perm = rng.permutation(self.BASE_USERS)

    def _rng(self, kind: int, i: int) -> np.random.Generator:
        return np.random.default_rng([self.seed, 3, kind, i])

    def max_waves(self) -> int:
        return self.BASE_USERS // self.WAVE_KEYS

    def db_file(self, i: int) -> pa.Table:
        rng = self._rng(0, i)
        cols: dict[str, list] = {f.name: [] for f in ODS_DB_SCHEMA}

        def add(src, op, ids, user_ids, amounts, names, accts):
            n = len(ids)
            cols["source_table"] += [src] * n
            cols["op"] += [op] * n
            cols["id"] += list(ids)
            cols["user_id"] += list(user_ids)
            cols["total_amount"] += list(amounts)
            cols["name"] += list(names)
            cols["acct"] += list(accts)

        if i == 0:
            keys = np.arange(self.BASE_USERS)
            add("user_info", "insert", keys, [None] * len(keys), [None] * len(keys),
                [f"user{k}" for k in keys], cents_price(rng, 0.0, 5000.0, len(keys)))
        else:
            k = self.BASE_USERS + i
            add("user_info", "insert", [k], [None], [None], [f"user{k}"],
                cents_price(rng, 0.0, 5000.0, 1))
        if i % self.WAVE_EVERY == 0 and i > 0:
            wave = i // self.WAVE_EVERY - 1
            if wave >= self.max_waves():
                raise ValueError(f"db file {i} needs more than {self.max_waves()} update waves")
            keys = self.wave_perm[wave * self.WAVE_KEYS:(wave + 1) * self.WAVE_KEYS]
            add("user_info", "update", keys, [None] * len(keys), [None] * len(keys),
                [f"user{k}v{wave}" for k in keys], cents_price(rng, 0.0, 5000.0, len(keys)))
        n = self.db_rows - len(cols["id"])
        if n > 0:
            ids = i * self.ORDER_IDS_PER_FILE + np.arange(n)
            ops = np.array(["insert", "update", "delete"])[
                rng.choice(3, n, p=[0.8, 0.15, 0.05])
            ]
            users = zipf_keys(rng, self.BASE_USERS, n)
            amounts = cents_price(rng, 1.0, 2000.0, n)
            for op in ("insert", "update", "delete"):
                m = ops == op
                add("order_info", op, ids[m], users[m], amounts[m],
                    [None] * int(m.sum()), [None] * int(m.sum()))
        return pa.table(cols, schema=ODS_DB_SCHEMA)

    def log_file(self, i: int) -> pa.Table:
        rng = self._rng(1, i)
        n = self.log_rows
        base = EPOCH_US + i * FILE_EVENT_SPAN_US
        ts = base + np.sort(rng.integers(0, FILE_EVENT_SPAN_US, n))
        shift = rng.random(n)
        ooo = shift < OOO_SHARE
        ts[ooo] -= rng.integers(0, OOO_MAX_US, int(ooo.sum()))
        if i > 0:  # file 0 opens the stream: nothing is late yet
            late = shift > 1.0 - LATE_SHARE
            ts[late] -= LATE_US
        ids = i * 10_000_000 + np.arange(n)
        return events_table(rng, ids, ts, self.BASE_USERS)

    def stage(self, staging: str, kind: str, first: int, count: int) -> list[str]:
        """Serialise files ``first .. first+count-1`` of one directory kind
        (``db`` or ``log``) under ``staging``; returns their paths."""
        os.makedirs(staging, exist_ok=True)
        make = self.db_file if kind == "db" else self.log_file
        paths = []
        for i in range(first, first + count):
            p = os.path.join(staging, f"{kind}-{i:06d}.parquet")
            _write(make(i), p)
            paths.append(p)
        return paths

