"""The benchmark's workloads: one client, closed loop.

Each workload prepares its state (``warm_up``: the index builds, or the
warehouse bulk load plus one pass over every op type), then yields
cycles of operations. A cycle is a fixed, seeded mix, so a run that
completes whole cycles always has the same proportion of op types.

Every call into the engine goes through ``self.span(<module>.<function>)``
so a traced run attributes Spark jobs and time to the layer called. The
benchmark's own input frames are opened before the span (a parquet
scan's schema read is a Spark job of its own).
Result checks that need their own Spark or DuckDB work run outside the
timed interval, in ``verify``: headline queries and dedup probe searches
against the engine's DuckDB oracle SQL, ANN recall, final cluster labels.
"""

from __future__ import annotations

import hashlib
import os
import time
from dataclasses import dataclass
from typing import Callable

import numpy as np
from pyspark.sql import functions as F

from pandas_aws_spark import objectstore, oracle
from pandas_aws_spark.operators import annindex, dedup
from pandas_aws_spark.registry import load_registry, load_table
from pandas_aws_spark.warehouse import WarehouseClient

from inputs import HEADLINE_QUERIES, IO_ROUNDS_PER_CYCLE, Inputs, raw_bytes

# Registry recipe of the persisted-index lifecycle entries
# (q_sim_index_ingest, q_dedup_cluster_incremental).
ANN_BUILD = dict(n_centroids=8, m=8, k_codes=16, iters=2)
ANN_SEARCH = dict(nprobe=2, k=10, oversample=5)
DEDUP_RECIPE = dict(shingle_k=3, n_hashes=8, bands=4)
DEDUP_THRESHOLD = 0.8
# Recall@10 of each stored-index search against exact top-k must not
# fall below the engine's own floor for this search (8 cells, nprobe 2,
# re-rank of a 5x shortlist: tests/test_pq.py,
# test_ivf_pq_partial_probe_recall_floor), well above chance (about
# 0.01 here). It catches a broken probe or re-rank, not a tuning change:
# the first search of 40 seeds read 0.40-0.87, median 0.65.
ANN_RECALL_FLOOR = 0.1


@dataclass
class Op:
    # "write" (stores output) or "read" (reads stored output back); the
    # headline queries and warehouse upserts have kinds of their own.
    kind: str
    op_type: str  # one engine call sequence, e.g. read_prefix, ann_search
    run: Callable[[], bool]  # returns False when the result is wrong


class Workload:
    tables: tuple[str, ...] = ()
    recall: float | None = None  # mean ANN recall@k, where searched

    def __init__(self, ctx, inputs: Inputs):
        self.ctx = ctx
        self.inp = inputs
        self.root = os.path.join(ctx.root, "artifacts")
        self.artifacts: dict[str, str] = {}  # name -> directory of stored output
        self.input_bytes = 0
        self.failures: list[str] = []
        self.verified: dict[str, int] = {}  # what verify compared, by kind

    @property
    def spark(self):
        return self.ctx.spark

    def span(self, name: str):
        return self.ctx.tracer.span(name)

    def register(self) -> None:
        """Per-session set-up: resolve the input tables."""
        for t in self.tables:
            load_table(self.spark, self.inp.data_dir, t).schema

    def check(self, ok: bool, what: str) -> bool:
        if not ok:
            self.failures.append(what)
        return ok

    def n_cycles(self) -> int:
        raise NotImplementedError

    def warm_up(self) -> dict[str, float]:
        """Prepare state before the measured cycles; returns the seconds
        of each part that is the engine's own set-up work (counted in
        ``setup_s``), as opposed to warming or checking."""
        raise NotImplementedError

    def cycle(self, r: int) -> list[Op]:
        raise NotImplementedError

    def verify(self) -> int:
        """Deferred result checks; returns the number of failed ops."""
        return 0

    def digest(self) -> str | None:
        """Fingerprint of the run's search results, where it has any."""
        return None


# ---------------------------------------------------------------------------
# scan_io: headline queries + object-store and warehouse round trips
# ---------------------------------------------------------------------------


class ScanIO(Workload):
    tables = ("lineitem", "orders")

    def __init__(self, ctx, inputs):
        super().__init__(ctx, inputs)
        self.registry = load_registry()
        missing = [q for q in HEADLINE_QUERIES if q not in self.registry]
        if missing:
            raise RuntimeError(f"headline queries missing from the registry: {missing}")
        self.obj = os.path.join(self.root, "objects")
        self.artifacts = {"objects": self.obj}
        self.wh: WarehouseClient | None = None
        self.measured: list[str] = []  # headline queries run in measured cycles

    def n_cycles(self) -> int:
        return len(self.inp.query_order)

    def _query(self, name: str) -> Op:
        spec = self.registry[name]

        def run() -> bool:
            with self.span("queries.build"):
                df = spec.fn(self.spark, self.inp.data_dir)
            with self.span("queries.execute"):
                df.write.format("noop").mode("overwrite").save()
                dedup.release_cached_inputs(df)
            return True

        return Op("query", "query", run)

    def _read_back(self, df, r: int) -> bool:
        row = df.agg(
            F.count(F.lit(1)),
            F.sum("l_quantity"),
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")),
            F.max("l_orderkey"),
        ).collect()[0]
        got = {"rows": row[0], "qty": int(row[1]), "price_cents": row[2], "max_key": row[3]}
        return self.check(got == self.inp.io_expected[r], f"read-back round {r}: {got}")

    def _io_ops(self, r: int) -> list[Op]:
        spark, inp = self.spark, self.inp
        # Object keys are file:// URIs, as an s3a:// deployment would pass.
        csv_base = f"file://{self.obj}/csv"
        csv_key = f"r{r:02d}"
        pq_path = f"file://{self.obj}/parquet/r{r:02d}"

        def source():
            return spark.read.parquet(inp.io_slices[r])

        def write_csv() -> bool:
            src = source()
            with self.span("objectstore.write_df"):
                objectstore.write_df(
                    src, f"{csv_base}/{csv_key}", format="csv", compression="gzip",
                    parts=4, sort_keys=["l_orderkey", "l_linenumber"],
                )
            self.input_bytes += inp.slice_raw_bytes[r]
            return True

        def write_parquet() -> bool:
            src = source()
            with self.span("objectstore.write_df"):
                objectstore.write_df(src, pq_path, format="parquet", parts=4)
            return True

        def compact() -> bool:
            with self.span("objectstore.compact_prefix"):
                out = objectstore.compact_prefix(spark, pq_path, format="parquet")
            return self.check(out["files_after"] == 1, f"compaction round {r}: {out}")

        def read_parquet() -> bool:
            with self.span("objectstore.read_df"):
                df = objectstore.read_df(spark, pq_path, format="parquet")
                return self._read_back(df, r)

        def read_prefix() -> bool:
            schema = source().schema
            with self.span("objectstore.read_df_from_prefix"):
                df = objectstore.read_df_from_prefix(
                    spark, csv_base, prefix=f"{csv_key}/", suffix=".csv.gz",
                    format="csv", schema=schema,
                )
                return self._read_back(df, r)

        def upsert() -> bool:
            updates = spark.read.parquet(inp.upserts[r])
            with self.span("warehouse.WarehouseClient.upsert"):
                self.wh.upsert(updates, "orders_wh", ["o_orderkey"])
            self.input_bytes += inp.upsert_raw_bytes[r]
            return True

        def query_wh() -> bool:
            with self.span("warehouse.WarehouseClient.query_df"):
                row = self.wh.query_df(
                    "SELECT count(*) AS n, "
                    "sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents, "
                    "sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS f "
                    "FROM orders_wh"
                ).collect()[0]
            got = {"rows": row["n"], "price_cents": row["cents"], "status_f": row["f"]}
            return self.check(got == inp.upsert_expected[r], f"warehouse round {r}: {got}")

        return [
            Op("write", "write_csv", write_csv),
            Op("write", "write_parquet", write_parquet),
            Op("write", "compact", compact),
            Op("read", "read_parquet", read_parquet),
            Op("read", "read_prefix", read_prefix),
            Op("upsert", "upsert", upsert),
            Op("read", "warehouse_query", query_wh),
        ]

    def warm_up(self) -> dict[str, float]:
        spark = self.spark
        self.wh = WarehouseClient(spark, warehouse_dir=f"{self.obj}/warehouse")
        orders = load_table(spark, self.inp.data_dir, "orders")
        t0 = time.perf_counter()
        # upload creates the target (create_table cannot: its Spark DDL
        # spells doubles "DOUBLE PRECISION", which Spark SQL rejects).
        self.wh.upload(orders, "orders_wh", mode="overwrite")
        load_s = time.perf_counter() - t0
        self.input_bytes += raw_bytes(self.inp.tables["orders"])
        # One pass over every op type: each headline query, and round 0
        # of the object/warehouse ops.
        for name in HEADLINE_QUERIES:
            self._query(name).run()
        for op in self._io_ops(0):
            op.run()
        return {"warehouse_load_s": load_s}

    def cycle(self, r: int) -> list[Op]:
        self.measured.extend(self.inp.query_order[r])
        queries = [self._query(q) for q in self.inp.query_order[r]]
        first = 1 + r * IO_ROUNDS_PER_CYCLE
        io = [op for k in range(first, first + IO_ROUNDS_PER_CYCLE) for op in self._io_ops(k)]
        return [queries.pop(0) if is_query else io.pop(0) for is_query in self.inp.interleave[r]]

    def verify(self) -> int:
        """Each headline query the measured cycles ran, executed once
        more on the same session after them and compared with its
        DuckDB oracle; a mismatch fails every measured op of it."""
        failed = 0
        con = oracle.duckdb_connection(self.inp.data_dir)
        try:
            for name in sorted(set(self.measured)):
                spec = self.registry[name]
                res = oracle.check_query(self.spark, con, name, spec.fn, spec.oracle, self.inp.data_dir)
                if not self.check(res.ok, f"{name} oracle: {res.detail}"):
                    failed += self.measured.count(name)
        finally:
            con.close()
        self.verified["queries"] = len(set(self.measured))
        return failed


# ---------------------------------------------------------------------------
# index_lifecycle: stored IVF-PQ and MinHash-LSH indexes, ingest/search mix
# ---------------------------------------------------------------------------


def exact_topk(vecs: np.ndarray, ids: np.ndarray, query_ids: list[int], k: int) -> dict[int, set]:
    """Brute-force top-k by L2 over unit-normalised vectors, excluding
    the query itself (the search's ``exclude_self``)."""
    norms = np.linalg.norm(vecs, axis=1, keepdims=True)
    unit = np.divide(vecs, norms, out=np.zeros_like(vecs), where=norms > 0)
    pos = {int(i): n for n, i in enumerate(ids)}
    out = {}
    for q in query_ids:
        d = ((unit - unit[pos[q]]) ** 2).sum(axis=1)
        d[pos[q]] = np.inf
        out[q] = {int(ids[j]) for j in np.argsort(d, kind="stable")[:k]}
    return out


class AnnIndexOps:
    """``q_sim_index_ingest`` stretched into a steady mix: build + write
    over the base, then per batch {append; read + search}."""

    def __init__(self, wl: "IndexLifecycle"):
        self.wl = wl
        self.lc = wl.inp.ann
        self.path = os.path.join(wl.root, "ann_index")
        self.results: list[tuple[int, list]] = []
        emb = wl.inp.tables["embeddings"]
        self.vec_ids = emb.column("vec_id").to_numpy()
        self.vecs = np.stack(emb.column("embedding").to_numpy(zero_copy_only=False)).astype("float64")
        self.row_bytes = raw_bytes(emb) / emb.num_rows
        self.recall = float("nan")

    def build(self) -> None:
        wl = self.wl
        base = wl.spark.read.parquet(self.lc.base_path)
        with wl.span("operators.annindex.build_ann_index"):
            index = annindex.build_ann_index(base, **ANN_BUILD)
        with wl.span("operators.annindex.write_ann_index"):
            annindex.write_ann_index(index, self.path)
        wl.input_bytes += self.row_bytes * len(self.lc.base_ids)

    def ops(self, b: int) -> list[Op]:
        wl, lc = self.wl, self.lc

        def ingest() -> bool:
            batch = wl.spark.read.parquet(lc.batch_paths[b])
            with wl.span("operators.annindex.append_ann_index"):
                annindex.append_ann_index(batch, self.path, batch_id=f"b{b:03d}")
            wl.input_bytes += self.row_bytes * len(lc.batches[b])
            return True

        def search() -> bool:
            queries = wl.spark.read.parquet(lc.search_paths[b])
            with wl.span("operators.annindex.read_ann_index"):
                stored = annindex.read_ann_index(wl.spark, self.path)
            with wl.span("operators.annindex.ann_index_topk"):
                rows = annindex.ann_index_topk(queries, stored, **ANN_SEARCH).collect()
            self.results.append((b, [(r["query_id"], r["neighbor_id"], r["rank"]) for r in rows]))
            return True

        return [Op("write", "ann_ingest", ingest), Op("read", "ann_search", search)]

    def verify(self) -> int:
        """Recall@k of every search against exact top-k over what the
        index held at the time (base + batches up to the search's)."""
        failed, recalls = 0, []
        k = ANN_SEARCH["k"]
        for b, rows in self.results:
            indexed = self.lc.indexed_after(b + 1)
            mask = np.isin(self.vec_ids, sorted(indexed))
            exact = exact_topk(self.vecs[mask], self.vec_ids[mask], self.lc.searches[b], k)
            got: dict[int, set] = {q: set() for q in self.lc.searches[b]}
            for q, n, _ in rows:
                got[q].add(n)
            valid = all(g <= indexed for g in got.values())
            recall = float(np.mean([len(got[q] & exact[q]) / k for q in got]))
            recalls.append(recall)
            if not self.wl.check(valid and recall >= ANN_RECALL_FLOOR, f"ann search {b}: recall {recall:.3f}"):
                failed += 1
        if recalls:
            self.recall = float(np.mean(recalls))
        return failed


class DedupIndexOps:
    """``q_dedup_cluster_incremental`` stretched into a steady mix: build
    + write + initial labels over the base, then per batch {ingest:
    pairs against the stored index, label merge, append; search: probe
    pairs against the stored index plus a label read}."""

    def __init__(self, wl: "IndexLifecycle"):
        self.wl = wl
        self.lc = wl.inp.dedup
        self.path = os.path.join(wl.root, "dedup_index")
        self.results: list[tuple[int, list]] = []
        self.ingested = 0
        docs = wl.inp.tables["documents"]
        self.row_bytes = raw_bytes(docs) / docs.num_rows

    def build(self) -> None:
        wl = self.wl
        base = wl.spark.read.parquet(self.lc.base_path)
        with wl.span("operators.dedup.build_dedup_index"):
            index = dedup.build_dedup_index(base, "doc_id", "text", **DEDUP_RECIPE)
        with wl.span("operators.dedup.write_dedup_index"):
            dedup.write_dedup_index(index, self.path)
        with wl.span("operators.dedup.read_dedup_index"):
            stored = dedup.read_dedup_index(wl.spark, self.path)
        # The lazy self-pairs plan runs inside init_cluster_labels.
        pairs = dedup.index_self_near_dup_pairs(stored, threshold=DEDUP_THRESHOLD)
        with wl.span("operators.dedup.init_cluster_labels"):
            dedup.init_cluster_labels(pairs, self.path)
        wl.input_bytes += self.row_bytes * len(self.lc.base_ids)

    def ops(self, b: int) -> list[Op]:
        wl, lc = self.wl, self.lc
        bid = f"b{b:03d}"

        def ingest() -> bool:
            batch = wl.spark.read.parquet(lc.batch_paths[b])
            with wl.span("operators.dedup.read_dedup_index"):
                stored = dedup.read_dedup_index(wl.spark, self.path)
            with wl.span("operators.dedup.build_dedup_index"):
                delta = dedup.build_dedup_index(batch, "doc_id", "text", **DEDUP_RECIPE)
            with wl.span("operators.dedup.index_batch_near_dup_pairs"):
                pairs = dedup.index_batch_near_dup_pairs(delta, stored, threshold=DEDUP_THRESHOLD)
            with wl.span("operators.dedup.merge_cluster_labels"):
                dedup.merge_cluster_labels(pairs.select("id_a", "id_b"), self.path, batch_id=bid)
            with wl.span("operators.dedup.append_dedup_index"):
                dedup.append_dedup_index(delta, self.path, batch_id=bid)
            wl.input_bytes += self.row_bytes * len(lc.batches[b])
            self.ingested = b + 1
            return True

        def search() -> bool:
            probes = wl.spark.read.parquet(lc.search_paths[b])
            with wl.span("operators.dedup.read_dedup_index"):
                stored = dedup.read_dedup_index(wl.spark, self.path)
            with wl.span("operators.dedup.indexed_near_dup_pairs"):
                found = dedup.indexed_near_dup_pairs(probes, stored, "text", threshold=DEDUP_THRESHOLD)
                rows = found.collect()
                dedup.release_cached_inputs(found)
            with wl.span("operators.dedup.read_cluster_labels"):
                dedup.read_cluster_labels(wl.spark, self.path).collect()
            self.results.append((b, [(r["id_a"], r["id_b"]) for r in rows]))
            return True

        return [Op("write", "dedup_ingest", ingest), Op("read", "dedup_search", search)]

    def _oracle_pairs(self, doc_ids: set[int], probe_path: str | None = None) -> list[tuple[int, int]]:
        """Near-dup pairs (id_a < id_b) among ``doc_ids`` of the corpus,
        plus the documents in ``probe_path``, from the engine's DuckDB
        oracle SQL for MinHash-LSH dedup with the same recipe."""
        import duckdb

        from pandas_aws_spark.queries.dedup import _MINHASH_CAND_CTE, _SHINGLES_CTE, _VERIFY_CTE

        ids = ",".join(str(i) for i in sorted(doc_ids))
        view = f"SELECT * FROM read_parquet('{self.wl.inp.path('documents')}') WHERE doc_id IN ({ids})"
        if probe_path:
            view += f" UNION ALL SELECT * FROM read_parquet('{probe_path}')"
        con = duckdb.connect()
        try:
            con.sql(f"CREATE VIEW documents AS {view}")
            return con.sql(
                "WITH " + _SHINGLES_CTE + _MINHASH_CAND_CTE
                + _VERIFY_CTE.format(thr=DEDUP_THRESHOLD) + " SELECT id_a, id_b FROM pairs"
            ).fetchall()
        finally:
            con.close()

    def verify(self) -> int:
        """Each probe search must return exactly the oracle's probe x
        indexed pairs over what the index held at the time; final labels
        must equal a from-scratch connected-components run over the
        union corpus (the oracle's pairs of exactly the ingested
        documents, closed into components, min id per component, here)."""
        failed = 0
        for b, rows in self.results:
            indexed, probes = self.lc.indexed_after(b + 1), set(self.lc.searches[b])
            want = set()
            for x, y in self._oracle_pairs(indexed, self.lc.search_paths[b]):
                if x in probes and y in indexed:
                    want.add((x, y))
                elif y in probes and x in indexed:
                    want.add((y, x))
            got = set(rows)
            self.wl.verified["dedup_search_pairs"] = self.wl.verified.get("dedup_search_pairs", 0) + len(want)
            what = f"dedup search {b}: {len(got & want)} of {len(want)} pairs, {len(got - want)} extra"
            if not self.wl.check(got == want, what):
                failed += 1
        got = dedup.read_cluster_labels(self.wl.spark, self.path).toPandas()
        want = components(self._oracle_pairs(self.lc.indexed_after(self.ingested)))
        have = dict(zip(got["doc_id"].tolist(), got["cluster_id"].tolist()))
        self.wl.verified["labelled_docs"] = len(want)
        if not self.wl.check(have == want, f"final cluster labels: {len(have)} vs {len(want)} docs"):
            failed += 1
        return failed


def components(pairs: list[tuple[int, int]]) -> dict[int, int]:
    """doc -> smallest doc id of its connected component, over the docs
    that appear in ``pairs``."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


class IndexLifecycle(Workload):
    tables = ("embeddings", "documents")

    def __init__(self, ctx, inputs):
        super().__init__(ctx, inputs)
        self.ann = AnnIndexOps(self)
        self.dedup = DedupIndexOps(self)
        self.artifacts = {"ann_index": self.ann.path, "dedup_index": self.dedup.path}

    def n_cycles(self) -> int:
        return len(self.inp.ann.batches)

    def warm_up(self) -> dict[str, float]:
        out = {}
        for name, ops in (("ann_build_s", self.ann), ("dedup_build_s", self.dedup)):
            t0 = time.perf_counter()
            ops.build()
            out[name] = time.perf_counter() - t0
        return out

    def cycle(self, r: int) -> list[Op]:
        pairs = [self.ann.ops(r), self.dedup.ops(r)]
        if not self.inp.ann_first[r]:
            pairs.reverse()
        return pairs[0] + pairs[1]

    def verify(self) -> int:
        failed = self.ann.verify() + self.dedup.verify()
        self.recall = self.ann.recall
        return failed

    def digest(self) -> str:
        h = hashlib.sha256()
        for tag, results in (("ann", self.ann.results), ("dedup", self.dedup.results)):
            for b, rows in results:
                h.update(repr((tag, b, sorted(rows))).encode())
        return h.hexdigest()[:16]


WORKLOADS = {"scan_io": ScanIO, "index_lifecycle": IndexLifecycle}
