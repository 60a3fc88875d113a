"""Seeded input generator for the benchmark.

Every input a workload touches is made here, before any timing, from
``--seed`` alone: the star-schema tables the headline queries scan, the
object-store slices and warehouse upsert batches, the ANN and dedup
ingest batches, the search query and probe sets, and each cycle's op
order. The same seed gives byte-identical parquet files.

The tables follow the layout and value domains of the engine's test
data (TPC-H-like star schema plus ``events``, ``documents`` and
``embeddings``; see FIXTURES.md), so every registry entry runs on them
unchanged and its DuckDB oracle applies.
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from bench import LEGACY_TEN

# The ten headline queries the engine has tracked since its first
# benchmark rounds: relational, event, text, dedup and similarity
# entries, each with a DuckDB oracle.
HEADLINE_QUERIES = sorted(LEGACY_TEN)

# Row counts at scale 1.0 (about the engine's sf0.01 test tier).
BASE_ROWS = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "events": 10000,
    "documents": 1200,
    "embeddings": 1200,
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.13, 0.15]
WORDS = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
DIM = 64
N_LABELS = 10

# Batch and probe sizes follow the engine's own recipes. The persisted-
# index lifecycle entries (q_sim_index_ingest, q_dedup_cluster_incremental)
# index a 3/4 base of the corpus, ingest batches of 1/8 of it, search 3
# ANN queries, and probe the stored dedup index with a whole batch.
BATCH_FRACTION = 8
ANN_QUERIES = 3
# Object-store / warehouse rounds. A slice is 1/10 of the orders with
# their lineitems (q_io_roundtrip_csv_gzip); an upsert batch is 1/8 of
# the target (the lifecycle batch fraction), half changed existing keys
# and half new keys (the mix of the engine's upsert tests).
# A scan_io cycle is the ten queries and IO_ROUNDS_PER_CYCLE rounds;
# round 0 is the warm-up. Three rounds give each object-store and
# warehouse op type three samples a cycle, so its median ignores one
# outlier (a GC pause, a stolen time slice).
SCAN_CYCLES = 5
IO_ROUNDS_PER_CYCLE = 3
IO_ROUNDS = 1 + SCAN_CYCLES * IO_ROUNDS_PER_CYCLE
IO_OPS_PER_ROUND = 7  # ScanIO._io_ops: 3 writes/compaction, 2 reads, upsert, query
IO_SLICE_FRACTION = 10

_DAY_US = 86_400_000_000
_EPOCH = dt.datetime(1970, 1, 1)


def _us(d: dt.datetime) -> int:
    return (d - _EPOCH) // dt.timedelta(microseconds=1)


def _ts(values_us: np.ndarray) -> pa.Array:
    return pa.array(values_us.astype("int64"), pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def raw_bytes(table: pa.Table) -> int:
    """Bytes of the rows as values (fixed-width columns at their width,
    strings at their UTF-8 length): the input-size base of
    ``stored_bytes_per_input_byte``."""
    total = 0
    for col in table.columns:
        t = col.type
        if pa.types.is_string(t):
            total += sum(len(s.encode()) for s in col.to_pylist() if s is not None)
        elif pa.types.is_list(t):
            total += sum(len(v) for v in col.to_pylist()) * t.value_type.bit_width // 8
        else:
            total += len(col) * t.bit_width // 8
    return total


@dataclass
class Lifecycle:
    """One stored index's seeded inputs: a 3/4 base, fixed-size ingest
    batches and one search set per batch, each its own parquet file."""

    base_ids: list[int]
    batches: list[list[int]]
    base_path: str
    batch_paths: list[str]
    searches: list[list[int]] = field(default_factory=list)
    search_paths: list[str] = field(default_factory=list)

    def indexed_after(self, n_batches: int) -> set[int]:
        return set(self.base_ids).union(*self.batches[:n_batches])


@dataclass
class Inputs:
    """Paths and seeded selections for one run."""

    data_dir: str
    tables: dict[str, pa.Table] = field(default_factory=dict)
    # per-workload seeded selections, filled by make_inputs
    query_order: list[list[str]] = field(default_factory=list)
    io_slices: list[str] = field(default_factory=list)
    io_expected: list[dict] = field(default_factory=list)
    upserts: list[str] = field(default_factory=list)
    upsert_expected: list[dict] = field(default_factory=list)
    upsert_raw_bytes: list[int] = field(default_factory=list)
    slice_raw_bytes: list[int] = field(default_factory=list)
    interleave: list[list[bool]] = field(default_factory=list)
    ann: Lifecycle | None = None
    dedup: Lifecycle | None = None
    # index_lifecycle: per cycle, whether the ANN pair runs first
    ann_first: list[bool] = field(default_factory=list)

    def path(self, table: str) -> str:
        return os.path.join(self.data_dir, f"{table}.parquet")


def _star_tables(rng: np.random.Generator, scale: float) -> dict[str, pa.Table]:
    n = {k: max(10, int(v * scale)) for k, v in BASE_ROWS.items()}
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    nc = n["customer"]
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(nc), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, nc),
            "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, nc)],
        }
    )
    ns = n["supplier"]
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(ns), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, ns),
        }
    )
    npart = n["part"]
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(npart), pa.int64()),
            "p_name": [
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))
            ],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, npart)],
            "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, npart)],
            "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) / 10.0, 2),
        }
    )
    no = n["orders"]
    day0 = _us(dt.datetime(1995, 1, 1))
    odays = rng.integers(0, (dt.datetime(2001, 8, 1) - dt.datetime(1995, 1, 1)).days + 1, no)
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(no), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
            "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, no)],
            "o_totalprice": _money(rng, 1000.0, 500000.0, no),
            "o_orderdate": _ts(day0 + odays * _DAY_US),
            "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, no)],
        }
    )
    lines = rng.integers(1, 8, no)
    nl = int(lines.sum())
    okey = np.repeat(np.arange(no), lines)
    lineno = np.concatenate([np.arange(1, k + 1) for k in lines])
    qty = rng.integers(1, 51, nl).astype("float64")
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(okey, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
            "l_linenumber": pa.array(lineno, pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * _money(rng, 900.0, 2100.0, nl), 2),
            "l_discount": np.round(rng.integers(0, 11, nl) / 100.0, 2),
            "l_tax": np.round(rng.integers(0, 9, nl) / 100.0, 2),
            "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, nl)],
            "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, nl)],
            "l_shipdate": _ts(day0 + (odays[okey] + rng.integers(1, 122, nl)) * _DAY_US),
        }
    )
    ne = n["events"]
    ts = np.sort(rng.integers(0, 30 * _DAY_US, ne)) + _us(dt.datetime(2024, 1, 1))
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(ne), pa.int64()),
            "ts": _ts(ts),
            "user_id": pa.array(rng.integers(0, 150, ne), pa.int64()),
            "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, ne)],
            "value": _money(rng, 0.01, 490.0, ne),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
        }
    )
    out["documents"] = _documents(rng, n["documents"], 0)
    out["embeddings"] = _embeddings(rng, n["embeddings"])
    return out


def _texts(
    rng: np.random.Generator, n: int, parents: list[str] | None = None, dup_rate: float = 0.25
) -> list[str]:
    """Random texts over the shared vocabulary; a ``dup_rate`` share are
    one-word edits of an earlier text or of ``parents``, so the corpus
    holds near-duplicate clusters for the dedup lifecycle."""
    texts: list[str] = []
    for _ in range(n):
        pool = (parents or []) + texts
        if pool and rng.random() < dup_rate:
            toks = pool[int(rng.integers(0, len(pool)))].split()
            toks[int(rng.integers(0, len(toks)))] = WORDS[int(rng.integers(0, len(WORDS)))]
        else:
            toks = [WORDS[j] for j in rng.integers(0, len(WORDS), int(rng.integers(10, 100)))]
        texts.append(" ".join(toks))
    return texts


def _documents(
    rng: np.random.Generator,
    n: int,
    first_id: int,
    parents: list[str] | None = None,
    dup_rate: float = 0.25,
) -> pa.Table:
    texts = _texts(rng, n, parents, dup_rate)
    return pa.table(
        {
            "doc_id": pa.array(np.arange(first_id, first_id + n), pa.int64()),
            "text": texts,
            "lang": [LANGS[i] for i in rng.choice(len(LANGS), n, p=LANG_P)],
            "source": [f"src{(first_id + i) % 20}" for i in range(n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    centers = rng.normal(0.0, 1.0, (N_LABELS, DIM))
    labels = rng.integers(0, N_LABELS, n)
    vecs = (centers[labels] + rng.normal(0.0, 0.6, (n, DIM))) / 8.0
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(vecs.astype("float32")), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )


def _subset(table: pa.Table, key: str, ids: list[int], path: str) -> str:
    keys = table.column(key).to_numpy()
    pq.write_table(table.filter(pa.array(np.isin(keys, ids))), path)
    return path


def _split_lifecycle(rng: np.random.Generator, table: pa.Table, key: str, sub: str) -> Lifecycle:
    perm = rng.permutation(table.num_rows)
    n_base = (3 * table.num_rows) // 4
    base_ids = sorted(int(i) for i in perm[:n_base])
    rest = perm[n_base:]
    size = max(1, table.num_rows // BATCH_FRACTION)
    batches = [
        sorted(int(i) for i in rest[k : k + size]) for k in range(0, len(rest) - size + 1, size)
    ]
    os.makedirs(sub, exist_ok=True)
    return Lifecycle(
        base_ids=base_ids,
        batches=batches,
        base_path=_subset(table, key, base_ids, os.path.join(sub, "base.parquet")),
        batch_paths=[
            _subset(table, key, ids, os.path.join(sub, f"batch_{k:03d}.parquet"))
            for k, ids in enumerate(batches)
        ],
    )


def _ann_inputs(rng: np.random.Generator, inp: Inputs) -> Lifecycle:
    emb = inp.tables["embeddings"]
    sub = os.path.join(inp.data_dir, "ann")
    lc = _split_lifecycle(rng, emb, "vec_id", sub)
    pool = np.array(lc.base_ids)
    for k in range(len(lc.batches)):
        ids = sorted(int(i) for i in rng.choice(pool, ANN_QUERIES, replace=False))
        lc.searches.append(ids)
        lc.search_paths.append(_subset(emb, "vec_id", ids, os.path.join(sub, f"queries_{k:03d}.parquet")))
    return lc


def _dedup_inputs(rng: np.random.Generator, inp: Inputs) -> Lifecycle:
    docs = inp.tables["documents"]
    sub = os.path.join(inp.data_dir, "dedup")
    lc = _split_lifecycle(rng, docs, "doc_id", sub)
    # Probe documents get new ids (the index contract wants them
    # disjoint from indexed ids); half are edits of base documents.
    texts = docs.column("text").to_pylist()
    base_texts = [texts[i] for i in lc.base_ids]
    n = len(lc.batches[0])
    for k in range(len(lc.batches)):
        probes = _documents(rng, n, docs.num_rows + k * n, base_texts, 0.5)
        lc.searches.append(probes.column("doc_id").to_pylist())
        path = os.path.join(sub, f"probes_{k:03d}.parquet")
        pq.write_table(probes, path)
        lc.search_paths.append(path)
    return lc


def make_inputs(seed: int, data_dir: str, workload: str, scale: float = 1.0) -> Inputs:
    """Write every table under ``data_dir`` and derive ``workload``'s
    seeded batches, query/probe sets, object keys and op order."""
    rng = np.random.default_rng(seed)
    os.makedirs(data_dir, exist_ok=True)
    inp = Inputs(data_dir=data_dir, tables=_star_tables(rng, scale))
    for name, table in inp.tables.items():
        pq.write_table(table, inp.path(name))
    if workload == "scan_io":
        _scan_io_inputs(rng, inp)
    elif workload == "index_lifecycle":
        inp.ann = _ann_inputs(rng, inp)
        inp.dedup = _dedup_inputs(rng, inp)
        inp.ann_first = [bool(b) for b in rng.integers(0, 2, len(inp.ann.batches))]
    else:
        raise ValueError(f"unknown workload {workload!r}")
    return inp


def _scan_io_inputs(rng: np.random.Generator, inp: Inputs) -> None:
    orders = inp.tables["orders"]
    lineitem = inp.tables["lineitem"]
    n_orders = orders.num_rows
    io_dir = os.path.join(inp.data_dir, "io")
    os.makedirs(io_dir, exist_ok=True)
    inp.query_order = [list(rng.permutation(HEADLINE_QUERIES)) for _ in range(SCAN_CYCLES)]
    # The queries and the object/warehouse ops of a cycle, interleaved in
    # a seeded order that keeps each sequence's own order.
    n_io = IO_OPS_PER_ROUND * IO_ROUNDS_PER_CYCLE
    inp.interleave = [
        list(rng.permutation([True] * len(HEADLINE_QUERIES) + [False] * n_io))
        for _ in range(SCAN_CYCLES)
    ]
    l_okey = lineitem.column("l_orderkey").to_numpy()
    for r in range(IO_ROUNDS):
        keys = rng.choice(n_orders, max(1, n_orders // IO_SLICE_FRACTION), replace=False)
        rows = lineitem.filter(pa.array(np.isin(l_okey, keys)))
        path = os.path.join(io_dir, f"slice_{r:02d}.parquet")
        pq.write_table(rows, path)
        inp.io_slices.append(path)
        inp.io_expected.append(slice_aggregates(rows))
        inp.slice_raw_bytes.append(raw_bytes(rows))

    # Warehouse model: the target starts as ``orders``; each round
    # upserts changed rows for existing keys plus brand-new keys.
    price_cents = np.round(orders.column("o_totalprice").to_numpy() * 100).astype("int64")
    status = np.array(orders.column("o_orderstatus").to_pylist(), dtype=object)
    schema = orders.schema
    n_up = max(2, n_orders // BATCH_FRACTION)
    n_new = n_up // 2
    for r in range(IO_ROUNDS):
        old = rng.choice(len(price_cents), n_up - n_new, replace=False)
        new = np.arange(n_new) + len(price_cents)
        keys = np.concatenate([old, new])
        n = len(keys)
        day0 = _us(dt.datetime(1995, 1, 1))
        upd = pa.table(
            {
                "o_orderkey": pa.array(keys, pa.int64()),
                "o_custkey": pa.array(rng.integers(0, inp.tables["customer"].num_rows, n), pa.int64()),
                "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n)],
                "o_totalprice": _money(rng, 1000.0, 500000.0, n),
                "o_orderdate": _ts(day0 + rng.integers(0, 2000, n) * _DAY_US),
                "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n)],
            },
            schema=schema,
        )
        path = os.path.join(io_dir, f"upsert_{r:02d}.parquet")
        pq.write_table(upd, path)
        inp.upserts.append(path)
        inp.upsert_raw_bytes.append(raw_bytes(upd))
        price_cents = np.concatenate([price_cents, np.zeros(len(new), "int64")])
        status = np.concatenate([status, np.array([""] * len(new), dtype=object)])
        price_cents[keys] = np.round(upd.column("o_totalprice").to_numpy() * 100).astype("int64")
        status[keys] = upd.column("o_orderstatus").to_pylist()
        inp.upsert_expected.append(
            {
                "rows": int(len(price_cents)),
                "price_cents": int(price_cents.sum()),
                "status_f": int((status == "F").sum()),
            }
        )


def slice_aggregates(rows: pa.Table) -> dict:
    """The read-back check of an object-store round trip: row count and
    exact integer sums, computed from the source rows."""
    return {
        "rows": rows.num_rows,
        "qty": int(rows.column("l_quantity").to_numpy().sum()),
        "price_cents": int(np.round(rows.column("l_extendedprice").to_numpy() * 100).sum()),
        "max_key": int(rows.column("l_orderkey").to_numpy().max()),
    }
