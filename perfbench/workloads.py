"""The workloads: inputs, set-up, op decks, op execution and checks.

Each workload is driven through the engine's public entry points the way
a JasmineGraph user reaches them, and every op's result is checked
against DuckDB over the same input files, outside the op's timing.

An op is ``(kind, params)``. A *deck* is one block of ops whose kind
counts are fixed, so every run sends the same mix: the seed picks the
inputs and the parameters (and, for Cypher, the order inside each deck).
"""

from __future__ import annotations

import json
import math
import os
import shutil
import time
from collections import Counter

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import datagen
from jasminegraph_spark.projection import CO_ORDER_CTE, TPCH_GRAPH_CTE

GRAPH = "bench"


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def _norm(v):
    """A row value as the row protocol and DuckDB can both be compared on:
    numbers (the protocol renders them as strings) by value, rest as text."""
    if v is None:
        return ("z", "")
    try:
        return ("n", round(float(v), 6))
    except (TypeError, ValueError):
        return ("s", str(v))


def _rows(dicts, ordered: bool = False) -> list:
    out = [tuple((k, _norm(d[k])) for k in sorted(d)) for d in dicts]
    return out if ordered else sorted(out)


def _deck(counts: dict, rng, make) -> list:
    ops = [(kind, make(kind)) for kind, n in counts.items() for _ in range(n)]
    return [ops[i] for i in rng.permutation(len(ops))]


def _co_order_file(con, path: str) -> None:
    con.execute(f"CREATE TABLE co AS {CO_ORDER_CTE} SELECT src, dst FROM co_edges")
    con.execute(f"COPY (SELECT src, dst FROM co ORDER BY src, dst) TO '{path}' "
                "(FORMAT csv, DELIMITER ' ', HEADER false)")


class Workload:
    name = ""
    default_sf = 0.01
    counts: dict = {}

    def __init__(self, run_dir: str, seed: int, sf: float):
        self.run_dir = run_dir
        self.data = os.path.join(run_dir, "data")
        self.rows = datagen.write_tables(self.data, seed, sf)
        self.con = duckdb.connect()
        for t in ("region", "nation", "customer", "supplier", "part", "orders", "lineitem"):
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                             f"'{os.path.join(self.data, t)}.parquet'")
        self._fresh = 0

    def fresh_dir(self, stem: str) -> str:
        self._fresh += 1
        return os.path.join(self.run_dir, f"{stem}{self._fresh}")

    def start_deck(self) -> None:
        """Untimed preparation before each deck."""

    def deck(self, rng) -> list:
        return _deck(self.counts, rng, lambda kind: self.params(kind, rng))

    def warmup_round(self, rng) -> list:
        """One op of each kind."""
        return [(kind, self.params(kind, rng)) for kind in self.counts]

    def layer_totals(self) -> dict:
        """Per-run layer measures that are not per-op medians."""
        return {}


class CypherInteractive(Workload):
    """Cypher text from a fixed template set, answered through
    `engine.cypher_rows` (the JSON row protocol) and fully drained. The
    engine has a `storage_path`, as the CLI has, so the perf ledger is live."""

    name = "cypher-interactive"
    default_sf = 0.01
    # weighted to point reads: id seeks are 17 of 22 ops, so the median
    # (rank 11.5) and the tail percentile (rank 12) of a run land among
    # them, not between two kinds
    counts = {"id_seek": 17, "expand_1hop": 1, "expand_2hop": 1,
              "supplier_coneighbours": 1, "label_aggregate": 1, "order_by_limit": 1}
    TEMPLATES = {
        "id_seek": ("MATCH (c:Customer) WHERE id(c) = 'c:{ck}' "
                    "RETURN id(c) AS id, c.name AS name, c.mktsegment AS segment"),
        "expand_1hop": ("MATCH (c:Customer)-[:PLACED]->(o:Order) WHERE id(c) = 'c:{ck}' "
                        "RETURN id(o) AS order_id, o.totalprice AS total"),
        "expand_2hop": ("MATCH (c:Customer)-[:PLACED]->(o:Order)-[:CONTAINS]->(p:Part) "
                        "WHERE id(c) = 'c:{ck}' RETURN id(o) AS order_id, id(p) AS part_id"),
        "supplier_coneighbours": (
            "MATCH (s1:Supplier)-[r1:SUPPLIES]->(p:Part)<-[r2:SUPPLIES]-(s2:Supplier) "
            "WHERE id(s1) = 's:{sk}' RETURN id(p) AS part_id, id(s2) AS other_id"),
        "label_aggregate": ("MATCH (n:Customer) WHERE n.nationkey = {nk} "
                            "RETURN n.mktsegment AS segment, count(*) AS customers"),
        "order_by_limit": ("MATCH (c:Customer)-[:PLACED]->(o:Order) WHERE c.nationkey = {nk} "
                           "RETURN c.name AS name, count(*) AS orders "
                           "ORDER BY orders DESC, name LIMIT 10"),
    }
    ORACLES = {
        "id_seek": ("SELECT n.id, c.c_name AS name, c.c_mktsegment AS segment "
                    "FROM g_nodes n JOIN customer c ON n.id = 'c:' || c.c_custkey "
                    "WHERE n.label = 'Customer' AND n.id = 'c:{ck}'"),
        "expand_1hop": ("SELECT e.dst AS order_id, o.o_totalprice AS total FROM g_edges e "
                        "JOIN orders o ON e.dst = 'o:' || o.o_orderkey "
                        "WHERE e.type = 'PLACED' AND e.src = 'c:{ck}'"),
        "expand_2hop": ("SELECT e1.dst AS order_id, e2.dst AS part_id "
                        "FROM g_edges e1 JOIN g_edges e2 ON e2.src = e1.dst "
                        "WHERE e1.type = 'PLACED' AND e2.type = 'CONTAINS' "
                        "AND e1.src = 'c:{ck}'"),
        "supplier_coneighbours": (
            "SELECT e1.dst AS part_id, e2.src AS other_id "
            "FROM g_edges e1 JOIN g_edges e2 ON e2.dst = e1.dst "
            "WHERE e1.type = 'SUPPLIES' AND e2.type = 'SUPPLIES' "
            "AND e1.src = 's:{sk}' AND e2.id <> e1.id"),
        "label_aggregate": ("SELECT c_mktsegment AS segment, count(*) AS customers "
                            "FROM customer WHERE c_nationkey = {nk} GROUP BY 1"),
        "order_by_limit": ("SELECT c.c_name AS name, count(*) AS orders FROM g_edges e "
                           "JOIN customer c ON e.src = 'c:' || c.c_custkey "
                           "WHERE e.type = 'PLACED' AND c.c_nationkey = {nk} "
                           "GROUP BY 1 ORDER BY orders DESC, name LIMIT 10"),
    }

    def __init__(self, run_dir, seed, sf):
        super().__init__(run_dir, seed, sf)
        self.n_cust = self.rows["customer"]
        self.n_supp = self.rows["supplier"]
        self.n_edges = self.con.execute(
            TPCH_GRAPH_CTE + "SELECT count(*) FROM g_edges").fetchone()[0]
        self.expected: dict = {}

    def params(self, kind, rng) -> dict:
        # only every third customer places orders (see datagen)
        return {"ck": 1 + 3 * int(rng.integers(0, self.n_cust // 3)),
                "sk": int(rng.integers(1, self.n_supp + 1)),
                "nk": int(rng.integers(0, 25))}

    def setup(self, spark, tr) -> dict:
        from jasminegraph_spark.engine import JasmineEngine
        from jasminegraph_spark.projection import tpch_graph

        self.engine = JasmineEngine(spark, storage_path=self.fresh_dir("store"))
        t0 = time.perf_counter()
        with tr.span("sources.ingest"):
            self.engine.catalog.register(tpch_graph(spark, self.data, GRAPH))
        return {"sources.ingest_s": time.perf_counter() - t0,
                "graph.store_bytes_per_edge": dir_bytes(self.data) / self.n_edges}

    def run_op(self, op, tr):
        kind, p = op
        text = self.TEMPLATES[kind].format(**p)
        if not tr.enabled:
            return list(self.engine.cypher_rows(GRAPH, text))
        # traced: the same calls cypher_rows makes, one span each, plus a
        # parse and a bare compile of the same text to split the layers
        from jasminegraph_spark.cypher import cypher_query, parse
        from jasminegraph_spark.sources.sinks import reference_rows

        with tr.span("cypher.parse"):
            parse(text)
        with tr.span("cypher.compile"):
            cypher_query(self.engine.catalog.get(GRAPH), text)
        with tr.span("engine.cypher"):
            df = self.engine.cypher(GRAPH, text)
        with tr.span("sinks.rows"):
            return list(reference_rows(df, 2))

    def op_layers(self, op, tr, op_id, counters) -> dict:
        compile_s = tr.seconds("cypher.compile", op_id)
        out = {"cypher.parse_s": tr.seconds("cypher.parse", op_id),
               "cypher.compile_s": compile_s,
               "perf.ledger_s": max(0.0, tr.seconds("engine.cypher", op_id) - compile_s),
               "sinks.rows_s": tr.seconds("sinks.rows", op_id)}
        win = tr.window("sinks.rows", op_id)
        out["sinks.jobs"] = len(counters.jobs_in(*win)) if win else 0
        return out

    def check(self, op, result) -> bool:
        kind, p = op
        key = (kind, tuple(sorted(p.items())))
        if key not in self.expected:
            cur = self.con.execute(TPCH_GRAPH_CTE + self.ORACLES[kind].format(**p))
            cols = [d[0] for d in cur.description]
            self.expected[key] = [dict(zip(cols, r)) for r in cur.fetchall()]
        ordered = kind == "order_by_limit"
        got = _rows((json.loads(r) for r in result), ordered)
        return got == _rows(self.expected[key], ordered)

    def layer_totals(self) -> dict:
        perf = os.path.join(self.engine.storage_path, "_perfdb")
        n = len([f for f in os.listdir(perf) if f.endswith(".parquet")]) \
            if os.path.isdir(perf) else 0
        return {"perf.ledger_files": n}


class GraphAnalytics(Workload):
    """The co-order edge list in two paths over the same edges.

    Batch: the list is ingested with `engine.add_graph` into a store, and
    the analytics verbs run as the CLI serves them. Incremental: a
    `StreamingTriangleCounter` is fed the same edges in seeded hash
    batches (the `adstrmk --strian` write path: parquet append, state
    merge). A deck holds one pass over all batches into a fresh state
    directory, in order, with the analytics ops at fixed places between them;
    before fixed batches the counter is dropped and rebuilt from its durable
    state, and the rebuild belongs to that batch's op.
    """

    name = "graph-analytics"
    default_sf = 0.002
    # per deck: 28 stream batches (2 after a restart) and 5 analytics ops
    # at fixed places: the light verbs spread through the deck, the two
    # whole-graph verbs at its end, so that their after-effects (cleanup,
    # GC) slow no batch. The egonets and the degree distribution are the
    # fastest 3 ops, the 26 plain batches the middle cluster, restarts and
    # the whole-graph verbs the slowest 4, so the median (rank 17 of 33)
    # and the tail percentile (rank 23) both sit well inside the batch
    # cluster, which is large enough to hold them steady
    ANALYTICS = ((6, "egonet"), (13, "degree_distribution"), (20, "egonet"),
                 (27, "triangle_count"), (27, "top_k_pagerank"))  # (after batch, verb)
    ORDER = tuple(kind for _, kind in ANALYTICS)
    counts = dict(Counter(ORDER))
    N_BATCHES = 28
    RESTART_BEFORE = (2, 16)
    WARMUP_BATCHES = 6
    TOP_K = 10

    def __init__(self, run_dir, seed, sf):
        super().__init__(run_dir, seed, sf)
        self.edge_file = os.path.join(run_dir, "co_order_edges.txt")
        _co_order_file(self.con, self.edge_file)
        self.n_edges = self.con.execute("SELECT count(*) FROM co").fetchone()[0]
        # egonet seeds: vertices of middling degree (40th-60th percentile),
        # so the seed changes which egonets run, not how big they are
        self.vertices = [r[0] for r in self.con.execute(
            "WITH d AS (SELECT v, count(*) AS deg FROM (SELECT src AS v FROM co "
            "UNION ALL SELECT dst FROM co) GROUP BY v), "
            "q AS (SELECT quantile_disc(deg, 0.4) AS lo, quantile_disc(deg, 0.6) AS hi FROM d) "
            "SELECT v FROM d, q WHERE deg BETWEEN lo AND hi ORDER BY v").fetchall()]
        self.triangles = self.con.execute(
            "SELECT count(*) FROM co e1 JOIN co e2 ON e2.src = e1.dst "
            "JOIN co e3 ON e3.src = e1.src AND e3.dst = e2.dst").fetchone()[0]
        self.degrees = sorted(self.con.execute(
            "SELECT degree, count(*) FROM (SELECT dst, count(*) AS degree FROM co "
            "GROUP BY dst) GROUP BY degree").fetchall())
        self.ranks = self._pagerank(alpha=0.85, iterations=10)
        self.egonets: dict = {}
        self._stage_batches(run_dir, seed)
        self.counter = None
        self.last_state_bytes = 0

    def _stage_batches(self, run_dir: str, seed: int) -> None:
        """One parquet file per batch, and the oracle's triangle count of
        every batch prefix."""
        cols = self.con.execute("SELECT src, dst FROM co ORDER BY src, dst").fetchnumpy()
        src, dst = cols["src"].astype(np.int64), cols["dst"].astype(np.int64)
        # a seeded hash of the edge picks its batch
        h = (src.astype(np.uint64) * np.uint64(0x9E3779B1)
             + dst.astype(np.uint64) * np.uint64(0x85EBCA77)
             + np.uint64(seed) * np.uint64(0xC2B2AE3D))
        batch = ((h ^ (h >> np.uint64(29))) % np.uint64(self.N_BATCHES)).astype(np.int64)
        os.makedirs(os.path.join(run_dir, "batches"), exist_ok=True)
        self.batch_files = []
        for b in range(self.N_BATCHES):
            f = os.path.join(run_dir, "batches", f"b{b}.parquet")
            pq.write_table(pa.table({"src": src[batch == b], "dst": dst[batch == b]}), f)
            self.batch_files.append(f)
        self.con.register("cob_arrow", pa.table({"src": src, "dst": dst, "bt": batch}))
        self.con.execute("CREATE TABLE cob AS SELECT * FROM cob_arrow")
        # a triangle appears with the last of its three edges
        per_batch = dict(self.con.execute(
            "SELECT greatest(e1.bt, e2.bt, e3.bt), count(*) FROM cob e1 "
            "JOIN cob e2 ON e2.src = e1.dst "
            "JOIN cob e3 ON e3.src = e1.src AND e3.dst = e2.dst GROUP BY 1").fetchall())
        self.prefix = np.cumsum([per_batch.get(b, 0) for b in range(self.N_BATCHES)]).tolist()

    def _pagerank(self, alpha: float, iterations: int) -> dict:
        """pgrnk on the symmetrized graph, as the engine defines it: uniform
        restart 1/N, mass split by out-degree, `iterations` rounds."""
        c = self.con
        c.execute("CREATE TABLE pe AS SELECT src::VARCHAR AS s, dst::VARCHAR AS d FROM co "
                  "UNION SELECT dst::VARCHAR, src::VARCHAR FROM co")
        c.execute("CREATE TABLE od AS SELECT s, count(*)::DOUBLE AS deg FROM pe GROUP BY s")
        n = c.execute("SELECT count(*) FROM od").fetchone()[0]
        c.execute(f"CREATE TABLE r0 AS SELECT s AS node, 1.0 / {n} AS rank FROM od")
        for i in range(iterations):
            c.execute(f"CREATE TABLE r{i + 1} AS SELECT pe.d AS node, "
                      f"{1.0 - alpha} / {n} + {alpha} * sum(r.rank / od.deg) AS rank "
                      f"FROM pe JOIN r{i} r ON pe.s = r.node JOIN od ON od.s = pe.s "
                      "GROUP BY pe.d")
        return dict(c.execute(f"SELECT node, rank FROM r{iterations}").fetchall())

    def _stream_ops(self) -> list:
        return [("stream_restart_batch" if b in self.RESTART_BEFORE else "stream_batch",
                 {"b": b}) for b in range(self.N_BATCHES)]

    def deck(self, rng) -> list:
        """The batches in order, the analytics ops at their places."""
        out = []
        for i, op in enumerate(self._stream_ops()):
            out.append(op)
            out += [(kind, self.params(kind, rng)) for b, kind in self.ANALYTICS if b == i]
        return out

    def warmup_round(self, rng) -> list:
        # one analytics op of each kind, then the first WARMUP_BATCHES
        # batches (a restart among them): the batch path keeps getting
        # faster for well over ten batches, so a round runs six of them
        return (super().warmup_round(rng)
                + self._stream_ops()[:self.WARMUP_BATCHES])

    def params(self, kind, rng) -> dict:
        if kind == "egonet":
            return {"v": str(self.vertices[int(rng.integers(0, len(self.vertices)))])}
        return {}

    def setup(self, spark, tr) -> dict:
        from jasminegraph_spark.engine import JasmineEngine

        self.spark = spark
        self.engine = JasmineEngine(spark, storage_path=self.fresh_dir("store"))
        t0 = time.perf_counter()
        with tr.span("sources.ingest"):
            self.engine.add_graph(GRAPH, self.edge_file)
        ingest = time.perf_counter() - t0
        self.counter = None
        self.start_deck()
        graph_dir = os.path.join(self.engine.storage_path, GRAPH)
        return {"sources.ingest_s": ingest,
                "graph.store_bytes_per_edge": dir_bytes(graph_dir) / self.n_edges}

    def start_deck(self) -> None:
        """A fresh counter on an empty state directory."""
        from jasminegraph_spark.streaming import StreamingTriangleCounter

        if self.counter is not None:
            self.last_state_bytes = dir_bytes(self.counter.state_path)
            shutil.rmtree(self.counter.state_path, ignore_errors=True)
        self.counter = StreamingTriangleCounter(self.spark, self.fresh_dir("state"))

    def run_op(self, op, tr):
        kind, p = op
        if kind.startswith("stream_"):
            return self._stream_op(kind, p["b"], tr)
        e = self.engine
        if kind == "triangle_count":
            with tr.span("analytics.build"):
                return e.triangle_count(GRAPH)
        with tr.span("analytics.build"):
            if kind == "top_k_pagerank":
                df = e.top_k_pagerank(GRAPH, self.TOP_K)
            elif kind == "degree_distribution":
                df = e.degree_distribution(GRAPH)
            else:
                df = e.egonet(GRAPH, p["v"])
        with tr.span("analytics.consume"):
            return df.collect()

    def _stream_op(self, kind: str, b: int, tr):
        from jasminegraph_spark.streaming import StreamingTriangleCounter

        resumed = None
        if kind == "stream_restart_batch":
            before = self.counter.total
            with tr.span("streaming.restart"):
                self.counter = StreamingTriangleCounter(self.spark, self.counter.state_path)
            resumed = (before, self.counter.total)
        with tr.span("streaming.batch"):
            batch = self.spark.read.schema("src long, dst long").parquet(self.batch_files[b])
            total = self.counter.process_batch(batch, b)
        return total, resumed

    def op_layers(self, op, tr, op_id, counters) -> dict:
        kind = op[0]
        batch_s = tr.seconds("streaming.batch", op_id)
        if kind == "stream_batch":
            return {"streaming.batch_s": batch_s}
        if kind == "stream_restart_batch":
            return {"streaming.post_restart_batch_s": batch_s,
                    "streaming.restart_s": tr.seconds("streaming.restart", op_id)}
        win = tr.window("analytics.build", op_id)
        return {"analytics.build_s": tr.seconds("analytics.build", op_id),
                "analytics.build_jobs": len(counters.jobs_in(*win)) if win else 0,
                "analytics.consume_s": tr.seconds("analytics.consume", op_id)}

    def check(self, op, result) -> bool:
        kind, p = op
        if kind.startswith("stream_"):
            # the prefix count after the batch, and a restart resumes the
            # exact total it was dropped at
            total, resumed = result
            ok = total == self.prefix[p["b"]]
            return ok and (resumed is None or resumed[0] == resumed[1])
        if kind == "triangle_count":
            return result == self.triangles
        if kind == "degree_distribution":
            return sorted((r["degree"], r["n_nodes"]) for r in result) == self.degrees
        if kind == "egonet":
            v = p["v"]
            if v not in self.egonets:
                self.egonets[v] = sorted(self.con.execute(
                    "WITH ce AS (SELECT least(src::VARCHAR, dst::VARCHAR) AS a, "
                    "greatest(src::VARCHAR, dst::VARCHAR) AS b FROM co), "
                    "ego AS (SELECT a AS n FROM ce WHERE a = $v OR b = $v "
                    "UNION SELECT b FROM ce WHERE a = $v OR b = $v) "
                    "SELECT a, b FROM ce WHERE a IN (SELECT n FROM ego) "
                    "AND b IN (SELECT n FROM ego)", {"v": v}).fetchall())
            return sorted((r["a"], r["b"]) for r in result) == self.egonets[v]
        # top-k pagerank: each returned rank matches the oracle's rank of
        # that node, and the k ranks are the oracle's k largest (ties may
        # order either way)
        close = lambda x, y: math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-12)  # noqa: E731
        want = sorted(self.ranks.values(), reverse=True)[:self.TOP_K]
        got = [r["rank"] for r in result]
        return (len(result) == len(want)
                and all(close(r["rank"], self.ranks.get(r["node"], -1.0)) for r in result)
                and all(close(a, b) for a, b in zip(got, want)))

    def layer_totals(self) -> dict:
        return {"streaming.state_bytes_per_edge": self.last_state_bytes / self.n_edges}


WORKLOADS = {w.name: w for w in (CypherInteractive, GraphAnalytics)}
