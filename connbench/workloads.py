"""The benchmark's workloads, each one client in a closed loop.

A workload generates its inputs from the seed (untimed), creates its
stores through ``keyed_store.create_table`` (timed as set-up), and then
hands out ops one round at a time.  Every op carries the expected answer
computed independently of the program (DuckDB over the generated parquet,
or an in-memory model of the kv table) and is checked after it returns.
"""

from __future__ import annotations

import functools
import math
import os
from dataclasses import dataclass
from typing import Callable

import duckdb
import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from spark_dynamodb_spark.sources import keyed_store, read_dynamo, write_dynamo
from spark_dynamodb_spark.sources.pruning import with_pruned_scans

import data


@dataclass
class Op:
    kind: str
    items: int  # items the op scans (scans) or reads and writes (kv)
    run: Callable[[], object]  # the timed call
    check: Callable[[object], bool]  # untimed; False counts as a failed op
    read: dict | None = None  # {table, options, filters} for the in-process reader replay
    write: dict | None = None  # {table, rows, schema, options} for the writer replay
    applied: Callable[[], None] | None = None  # model update once the op succeeded


def builder(kind: str, fn: Callable[..., Op], *args) -> Callable[[], Op]:
    """A zero-argument op builder that knows its kind before it runs."""
    b = functools.partial(fn, *args)
    b.kind = kind
    return b


def rows_match(got: list, want: list) -> bool:
    """Order-insensitive row equality; doubles compare to 1e-9 relative
    (the engines sum doubles in different orders)."""
    if len(got) != len(want):
        return False
    def key(row):
        return tuple((v is None, round(v, 6) if isinstance(v, float) else v) for v in row)

    for g, w in zip(sorted(map(tuple, got), key=key), sorted(map(tuple, want), key=key)):
        if len(g) != len(w):
            return False
        for a, b in zip(g, w):
            if isinstance(a, float) or isinstance(b, float):
                if a is None or b is None or not math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9):
                    return False
            elif a != b:
                return False
    return True


def table_bytes(store_dir: str, table: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(os.path.join(store_dir, table)):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def live_items(store_dir: str, table: str) -> int:
    return sum(pq.ParquetFile(p).metadata.num_rows for p in keyed_store.list_segments(store_dir, table))


class Workload:
    name = ""
    stores: tuple[str, ...] = ()
    setup_rounds = 3  # store creations per run; set-up time uses their median
    warm_paths: frozenset = frozenset()  # code paths the warm-up runs once each
    warm_ops = 0  # warm-up runs at least this many ops
    trace_rounds = 2  # traced rounds a traced run makes

    def __init__(self, seed: int, input_dir: str, store_dir: str, tracer) -> None:
        self.rng = np.random.default_rng(seed)
        self.input_dir = input_dir
        self.store_dir = store_dir
        self.tr = tracer
        self.spark = None
        self.con = duckdb.connect()

    def _save(self, name: str, table) -> None:
        path = os.path.join(self.input_dir, f"{name}.parquet")
        pq.write_table(table, path)
        self.con.execute(f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM read_parquet('{path}')")

    def _input(self, name: str):
        return self.spark.read.parquet(os.path.join(self.input_dir, f"{name}.parquet"))

    def generate(self) -> None:
        raise NotImplementedError

    def create_stores(self) -> None:
        raise NotImplementedError

    def next_round(self) -> list[Callable[[], Op]]:
        """The next round's ops, each built when the loop reaches it."""
        raise NotImplementedError

    def final_checks(self) -> list[tuple[str, bool]]:
        return []

    def path(self, kind: str) -> str:
        """The code path an op kind warms."""
        return kind

    def items_in_stores(self) -> tuple[int, int]:
        """(bytes on disk, live items) over the workload's stores."""
        return (
            sum(table_bytes(self.store_dir, t) for t in self.stores),
            sum(live_items(self.store_dir, t) for t in self.stores),
        )

    def close(self) -> None:
        self.con.close()

    def _read(self, table: str, **options):
        with self.tr.span("dynamo.reader.plan"):
            return read_dynamo(self.spark, table, storeDir=self.store_dir, **options)

    def _collect(self, df):
        with self.tr.span("spark.action"):
            return df.collect()


# ---------------------------------------------------------------------------
# scan_analytics: reader path only
# ---------------------------------------------------------------------------


class ScanAnalytics(Workload):
    """Scans over a 100k-item fact table (16 segments), a 15k-item
    dimension table (8 segments) and a 40k-item event table (8
    segments, GSI by_user).  One round = each scan kind once, in a
    seeded order with seeded parameters."""

    name = "scan_analytics"
    stores = ("lineitem", "part", "events")
    N_FACT, N_DIM, N_EVENTS, N_USERS = 100_000, 15_000, 40_000, 1_000
    KINDS = ("scan_fact", "scan_filter", "scan_pruned", "gsi_query", "scan_small")
    warm_paths = frozenset(KINDS)
    trace_rounds = 1  # every round holds every kind

    def generate(self) -> None:
        self._save("lineitem", data.lineitem(self.rng, self.N_FACT))
        self.part = data.part(self.rng, self.N_DIM)
        self._save("part", self.part)
        self._save("events", data.events(self.rng, self.N_EVENTS, self.N_USERS))
        self.part_rows = [tuple(r.values()) for r in self.part.to_pylist()]

    def create_stores(self) -> None:
        ks = keyed_store.create_table
        with self.tr.span("keyed_store.create_table", table="lineitem"):
            ks(self.spark, self._input("lineitem"), "lineitem", "l_orderkey", "l_linenumber",
               store_dir=self.store_dir, n_segments=16)
        with self.tr.span("keyed_store.create_table", table="part"):
            ks(self.spark, self._input("part"), "part", "p_partkey",
               store_dir=self.store_dir, n_segments=8)
        with self.tr.span("keyed_store.create_table", table="events"):
            ks(self.spark, self._input("events"), "events", "event_id",
               gsis=[{"name": "by_user", "hash_key": "user_id", "range_key": "ts"}],
               store_dir=self.store_dir, n_segments=8)

    def next_round(self) -> list[Callable[[], Op]]:
        return [builder(k, getattr(self, "_" + k)) for k in self.rng.permutation(self.KINDS)]

    def _want(self, sql: str) -> list:
        return self.con.execute(sql).fetchall()

    def _scan_fact(self) -> Op:
        want = self._want(
            "SELECT l_returnflag, l_linestatus, count(*), sum(l_quantity), sum(l_extendedprice) "
            "FROM lineitem GROUP BY ALL"
        )

        def run():
            df = self._read("lineitem")
            return self._collect(
                df.groupBy("l_returnflag", "l_linestatus").agg(
                    F.count("*"), F.sum("l_quantity"), F.sum("l_extendedprice")
                )
            )

        return Op("scan_fact", self.N_FACT, run, lambda got: rows_match(got, want),
                  read={"table": "lineitem", "options": {}, "filters": []})

    def _scan_filter(self) -> Op:
        from pyspark.sql.datasource import GreaterThanOrEqual, In, LessThanOrEqual

        lo = float(self.rng.integers(1, 41))
        hi = lo + float(self.rng.integers(2, 11))
        flags = tuple(sorted(self.rng.choice(data.FLAGS, 2, replace=False).tolist()))
        want = self._want(
            f"SELECT l_linestatus, count(*), sum(l_extendedprice) FROM lineitem "
            f"WHERE l_quantity BETWEEN {lo} AND {hi} AND l_returnflag IN {flags} GROUP BY ALL"
        )

        def run():
            df = self._read("lineitem")
            c = F.col("l_quantity")
            q = df.filter((c >= lo) & (c <= hi) & F.col("l_returnflag").isin(*flags))
            return self._collect(q.groupBy("l_linestatus").agg(F.count("*"), F.sum("l_extendedprice")))

        filters = [
            GreaterThanOrEqual(("l_quantity",), lo),
            LessThanOrEqual(("l_quantity",), hi),
            In(("l_returnflag",), flags),
        ]
        return Op("scan_filter", self.N_FACT, run, lambda got: rows_match(got, want),
                  read={"table": "lineitem", "options": {}, "filters": filters})

    def _scan_pruned(self) -> Op:
        from pyspark.sql.datasource import GreaterThanOrEqual

        d = float(self.rng.integers(2, 9)) / 100.0
        want = self._want(
            f"SELECT l_linestatus, count(*), sum(l_extendedprice * (1 - l_discount)) "
            f"FROM lineitem WHERE l_discount >= {d} GROUP BY ALL"
        )
        read = {"table": "lineitem", "options": {}, "filters": [GreaterThanOrEqual(("l_discount",), d)]}

        def build(read_fn):
            df = read_fn("lineitem", storeDir=self.store_dir)
            read["options"] = {"columns": ",".join(df.columns)}  # pass 2's pruned projection
            return df.filter(F.col("l_discount") >= d).groupBy("l_linestatus").agg(
                F.count("*"), F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
            )

        def run():
            with self.tr.span("pruning.plan"):
                q = with_pruned_scans(self.spark, build)
            return self._collect(q)

        return Op("scan_pruned", self.N_FACT, run, lambda got: rows_match(got, want), read=read)

    def _gsi_query(self) -> Op:
        from pyspark.sql.datasource import EqualTo

        user = int(self.rng.integers(1, self.N_USERS + 1))
        want = self._want(f"SELECT * FROM events WHERE user_id = {user}")

        def run():
            df = self._read("events", indexName="by_user")
            return self._collect(df.filter(F.col("user_id") == user))

        return Op("gsi_query", self.N_EVENTS, run, lambda got: rows_match(got, want),
                  read={"table": "events", "options": {"indexName": "by_user"},
                        "filters": [EqualTo(("user_id",), user)]})

    def _scan_small(self) -> Op:
        def run():
            return self._collect(self._read("part"))

        return Op("scan_small", self.N_DIM, run, lambda got: rows_match(got, self.part_rows),
                  read={"table": "part", "options": {}, "filters": []})


# ---------------------------------------------------------------------------
# kv_mixed: point reads beside writes
# ---------------------------------------------------------------------------


WRITE_KINDS = ("put", "update", "delete", "put_if_absent")
WRITE_OPTIONS = {"put": {}, "update": {"update": "true"}, "delete": {"delete": "true"},
                 "put_if_absent": {"putIfAbsent": "true"}}
# Sizes of a round's two writes always sum to 26 items, so every round
# reads and writes the same number of items whatever the seed.
WRITE_SIZE_PAIRS = ((1, 25), (4, 22), (7, 19), (10, 16), (13, 13))


class KvMixed(Workload):
    """A 150k-item table in 8 segments.  One round = 8 ops in seeded
    order: 5 GetItem, 1 BatchGet of 25 keys, 2 writes of consecutive kinds
    in the cycle put, update, delete, put-if-absent.  Keys are Zipf-skewed
    over the items ever written; puts draw 30% fresh keys, so writes
    insert."""

    name = "kv_mixed"
    stores = ("kv",)
    N_ITEMS, N_SEGMENTS = 150_000, 8
    FRESH = 20_000  # spare keys for inserts
    warm_paths = frozenset({"read", "write"})
    warm_ops = 3  # a read after the first write: the op after a cold write still runs slow

    def path(self, kind: str) -> str:
        return "write" if kind in WRITE_KINDS else "read"

    def generate(self) -> None:
        keys = self.rng.permutation(np.arange(1, 2 * (self.N_ITEMS + self.FRESH), dtype=np.int64))
        self.universe = [int(k) for k in keys[: self.N_ITEMS]]  # rank order for the Zipf draw
        self.universe_set = set(self.universe)
        self.fresh = [int(k) for k in keys[self.N_ITEMS: self.N_ITEMS + self.FRESH]]
        self.zipf = data.Zipf(self.N_ITEMS + self.FRESH)
        table = data.kv_table(self.rng, keys[: self.N_ITEMS])
        self._save("kv", table)
        self.model = {r["pk"]: r for r in table.to_pylist()}
        self.write_turn = int(self.rng.integers(0, len(WRITE_KINDS)))

    def create_stores(self) -> None:
        with self.tr.span("keyed_store.create_table", table="kv"):
            keyed_store.create_table(self.spark, self._input("kv"), "kv", "pk",
                                     store_dir=self.store_dir, n_segments=self.N_SEGMENTS)

    def _key(self) -> int:
        return self.universe[self.zipf.draw(self.rng, len(self.universe))]

    def _keys(self, n: int) -> list[int]:
        out: list[int] = []
        while len(out) < n:
            k = self._key()
            if k not in out:
                out.append(k)
        return out

    def next_round(self) -> list[Callable[[], Op]]:
        sizes = WRITE_SIZE_PAIRS[int(self.rng.integers(0, len(WRITE_SIZE_PAIRS)))]
        plan = ["get"] * 5 + ["batch_get"] + ["write"] * 2
        ops, writes = [], 0
        for kind in self.rng.permutation(plan):
            if kind == "get":
                ops.append(("get", 1))
            elif kind == "batch_get":
                ops.append(("batch_get", 25))
            else:
                ops.append((WRITE_KINDS[(self.write_turn + writes) % 4], sizes[writes]))
                writes += 1
        # The next round starts one kind later, so rounds one and three
        # (a traced run's traced rounds) cover all four kinds.
        self.write_turn += 1
        # Keys for a later op are drawn after earlier writes inserted theirs.
        return [builder(kind, self.op, kind, n) for kind, n in ops]

    def op(self, kind: str, n: int) -> Op:
        if kind in ("get", "batch_get"):
            return self._get(kind, self._keys(n))
        return self._write(kind, n)

    def _get(self, kind: str, keys: list[int]) -> Op:
        from pyspark.sql.datasource import EqualTo, In

        def run():
            df = self._read("kv")
            c = F.col("pk")
            return self._collect(df.filter(c == keys[0] if kind == "get" else c.isin(*keys)))

        def check(got) -> bool:
            want = [tuple(self.model[k].values()) for k in keys if k in self.model]
            return rows_match(got, want)

        f = EqualTo(("pk",), keys[0]) if kind == "get" else In(("pk",), tuple(keys))
        return Op(kind, len(keys), run, check, read={"table": "kv", "options": {}, "filters": [f]})

    def _write(self, kind: str, n: int) -> Op:
        if kind in ("put", "put_if_absent"):
            n_fresh = int(round(0.3 * n)) if self.fresh else 0
            keys = self._keys(n - n_fresh) + [self.fresh.pop() for _ in range(n_fresh)]
            items = [data.kv_item(self.rng, k) for k in keys]
            rows = [tuple(i.values()) for i in items]
            schema = "pk long, a long, b double, s string, t string"
        elif kind == "update":
            keys = self._keys(n)
            rows = [(k, int(self.rng.integers(0, 1 << 40))) for k in keys]
            schema = "pk long, a long"
        else:
            keys = self._keys(n)
            rows = [(k,) for k in keys]
            schema = "pk long"
        opts = WRITE_OPTIONS[kind]

        def run():
            df = self.spark.createDataFrame(rows, schema)
            with self.tr.span("dynamo.writer.write", kind=kind):
                write_dynamo(df, "kv", storeDir=self.store_dir, **opts)

        def applied() -> None:
            for r in rows:
                k = r[0]
                if kind == "put":
                    self.model[k] = dict(zip(("pk", "a", "b", "s", "t"), r))
                elif kind == "put_if_absent":
                    self.model.setdefault(k, dict(zip(("pk", "a", "b", "s", "t"), r)))
                elif kind == "delete":
                    self.model.pop(k, None)
                elif k in self.model:
                    self.model[k]["a"] = r[1]
                else:  # UpdateItem on a missing key inserts it
                    self.model[k] = {"pk": k, "a": r[1], "b": None, "s": None, "t": None}
            for k in keys:
                if k not in self.universe_set:
                    self.universe.append(k)
                    self.universe_set.add(k)

        return Op(kind, n, run, lambda _got: True, applied=applied,
                  write={"table": "kv", "rows": rows, "schema": schema, "options": opts})

    def final_checks(self) -> list[tuple[str, bool]]:
        """Every acknowledged write must be readable: a full scan of the
        table through the connector's reader equals the model.  The scan
        runs in-process, since a Spark collect of 150k items costs ~7 s
        per run; gets and batch gets cover the Spark path."""
        from spark_dynamodb_spark.sources.dynamo import DynamoDataSource

        opts = {"tablename": "kv", "storedir": self.store_dir}
        source = DynamoDataSource(opts)
        reader = source.reader(source.schema())
        got = {r["pk"]: r for p in reader.partitions() for b in reader.read(p) for r in b.to_pylist()}
        return [("kv_full_scan_equals_model", got == self.model)]


# ---------------------------------------------------------------------------
# landing-zone probe: operators, no connector
# ---------------------------------------------------------------------------


class LandingProbe(Workload):
    """c121, the batch landing-zone pipeline, once over a seeded corpus
    with the fixture documents' shape.  Not a workload of its own (see
    "Left out" in connbench/BENCHMARK.md): it rides on the end of the
    scan_analytics traced run to measure the operators.pipeline layer."""

    name = "landing_probe"
    N_DOCS = 2_000

    def generate(self) -> None:
        from spark_dynamodb_spark.registry import REGISTRY

        import spark_dynamodb_spark.operators.pipeline  # noqa: F401  (registers c121)

        self.c121 = REGISTRY.resolve("c121_train_shards_capstone")
        self._save("documents", data.documents(self.rng, self.N_DOCS))
        cur = self.con.execute(self.c121.oracle)
        self.cols = [d[0] for d in cur.description]
        self.want = cur.fetchall()

    def _c121(self) -> Op:
        def run():
            with self.tr.span("operators.pipeline.build"):
                df = self.c121.fn(self.spark, self.input_dir)
            with self.tr.span("operators.pipeline.action"):
                return df.select(*self.cols).collect()

        return Op("c121", self.N_DOCS, run, lambda got: rows_match(got, self.want))

    def op(self) -> Callable[[], Op]:
        return builder("c121", self._c121)


WORKLOADS = {w.name: w for w in (ScanAnalytics, KvMixed)}
