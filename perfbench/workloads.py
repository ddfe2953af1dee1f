"""The benchmark's workloads: which operations one pass runs, how their
inputs are staged from the seed, and how their outputs are checked.

Every workload is a closed loop with one client: the driver thread issues
the next operation only after the previous one has returned.  A query
operation is the registered build ``REGISTRY[name].fn(spark, sf_dir)``
followed by the final action, a ``noop`` write of the returned frame.
"""

from __future__ import annotations

import os
import random
import shutil
import sys
from dataclasses import dataclass
from typing import Any, Callable

FIXTURE_TABLES = ("region", "nation", "customer", "supplier", "part",
                  "orders", "lineitem", "events", "documents", "embeddings")

QUERY_SET = ("tpch_q1", "tpch_q3", "tpch_q6", "llm_image_phash_dedup",
             "stream_dedup_keyed")


@dataclass
class Op:
    """One closed-loop operation: ``build`` returns a frame (or None) and
    ``act`` runs the final action on it.  ``kind`` is the end-to-end
    bucket a table operation's time lands in (write/read/maint)."""
    name: str
    build: Callable[[], Any]
    act: Callable[[Any], Any] | None = None
    kind: str = "query"


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _oracle_helpers():
    """canon / spark_frame / duck_frame from the oracle-parity suite, so
    the benchmark compares results exactly the way the tests do."""
    tests = os.path.join(os.getcwd(), "tests")
    if tests not in sys.path:
        sys.path.insert(0, tests)
    from test_oracle_parity import canon, duck_frame, spark_frame
    return canon, duck_frame, spark_frame


def _duck(sf_dir: str):
    import duckdb

    con = duckdb.connect()
    for t in FIXTURE_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{sf_dir}/{t}.parquet')")
    return con


class QueryWorkload:
    """A fixed set of registered queries, shuffled per pass by the seed."""

    def __init__(self, name: str, spark, sf_dir: str, seed: int):
        from data_eng_iceberg_demo_spark.plans.registry import (
            REGISTRY, _load_all_modules)

        _load_all_modules()
        self.name, self.spark, self.sf_dir = name, spark, sf_dir
        self.specs = [REGISTRY[n] for n in QUERY_SET]
        self.rng = random.Random(seed)

    def ops(self) -> list[Op]:
        order = self.rng.sample(self.specs, len(self.specs))
        return [Op(s.name, lambda s=s: s.fn(self.spark, self.sf_dir), noop)
                for s in order]

    def end_pass(self) -> dict:
        return {}

    def check(self) -> dict[str, bool]:
        canon, duck_frame, spark_frame = _oracle_helpers()
        con = _duck(self.sf_dir)
        ok = {}
        for s in self.specs:
            try:
                got = canon(spark_frame(s.fn(self.spark, self.sf_dir)))
                want = canon(duck_frame(con.execute(s.oracle)))
                ok[s.name] = len(got) > 0 and got.equals(want)
            except Exception as ex:  # a failure lowers ok_ratio, no retry
                print(f"check {s.name}: {type(ex).__name__}: {ex}",
                      file=sys.stderr)
                ok[s.name] = False
        con.close()
        return ok


# ---------------------------------------------------------------- tables

_DELETE_MOD, _UPDATE_MOD = 7, 11


class LakehouseWorkload:
    """One cycle of icelite table operations on a fresh table built from
    the ``orders`` fixture, partitioned by ``years(o_orderdate)``.

    The seed picks the insert batch split, the merged keys, the delete
    and update predicates and the scanned date window; every cycle of a
    run replays the same operations, so every cycle ends in the same
    table state."""

    BATCHES = 4

    def __init__(self, name: str, spark, sf_dir: str, seed: int,
                 work: str):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        self.name, self.spark = name, spark
        self.work = os.path.join(work, "lake")
        rng = np.random.default_rng(seed)
        orders = pq.read_table(f"{sf_dir}/orders.parquet")
        orders = orders.take(rng.permutation(orders.num_rows))
        n = orders.num_rows
        n_new = n // 20                       # keys the merge inserts
        w = rng.uniform(0.5, 1.5, self.BATCHES)   # batch shares, 1:3 at most
        bounds = np.round(np.concatenate([[0], np.cumsum(w) / w.sum()])
                          * (n - n_new)).astype(int).tolist()
        self.batches = [orders.slice(a, b - a)
                        for a, b in zip(bounds, bounds[1:])]
        base = orders.slice(0, n - n_new)
        upd = base.take(rng.choice(base.num_rows, n // 20, replace=False))
        price = pc.round(pc.multiply(upd["o_totalprice"], 1.1), 2)
        upd = (upd.set_column(upd.schema.get_field_index("o_totalprice"),
                              "o_totalprice", price)
                  .set_column(upd.schema.get_field_index("o_orderstatus"),
                              "o_orderstatus",
                              pa.array(["F"] * upd.num_rows)))
        self.merge_src = pa.concat_tables([upd, orders.slice(n - n_new)])
        self.delete_pred = f"o_custkey % {_DELETE_MOD} = {rng.integers(_DELETE_MOD)}"
        self.update_pred = f"o_orderkey % {_UPDATE_MOD} = {rng.integers(_UPDATE_MOD)}"
        y, m = 1995 + int(rng.integers(5)), 1 + int(rng.integers(12))
        self.scan_lo = f"{y}-{m:02d}-01"
        self.scan_hi = f"{y + 1}-{m:02d}-01"

        os.makedirs(os.path.join(self.work, "in"), exist_ok=True)
        self.paths = []
        for i, t in enumerate([*self.batches, self.merge_src]):
            p = os.path.join(self.work, "in", f"part{i}.parquet")
            pq.write_table(t, p)
            self.paths.append(p)
        self.schema = spark.read.parquet(self.paths[0]).schema
        self.cycle = 0
        self.table = None
        self.results: dict[str, list] = {}
        self.written: dict[str, int] = {}
        self.kept: str | None = None

    def _frame(self, i: int):
        return self.spark.read.schema(self.schema).parquet(self.paths[i])

    @staticmethod
    def _agg(df, by: str | None = None):
        import pyspark.sql.functions as F

        cents = F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        g = df.groupBy(by) if by else df
        rows = g.agg(F.count("*").alias("n"), cents.alias("cents")).collect()
        return sorted(tuple(r) for r in rows)

    def _create(self):
        from data_eng_iceberg_demo_spark.tables.icelite import IceliteCatalog

        self.cycle += 1
        self.catalog = IceliteCatalog(self.spark,
                                      os.path.join(self.work, "warehouse"))
        self.catalog.create_namespace("bench")
        self.table = self.catalog.create_table(f"bench.orders_{self.cycle}",
                                               self.schema)
        self.table.set_partition("years", "o_orderdate")

    def _insert(self, i: int):
        self.table.insert(self._frame(i))
        if i == self.BATCHES - 1:
            self.version = self.table.meta["current_snapshot"]

    def _keep(self, key: str, by: str | None = None):
        def act(df):
            self.results.setdefault(key, []).append(self._agg(df, by))
        return act

    def ops(self) -> list[Op]:
        t = lambda: self.table  # noqa: E731 - the table is made by op 0
        ops = [Op("create_table", self._create, kind="ddl")]
        ops += [Op("insert", lambda i=i: self._insert(i), kind="write")
                for i in range(self.BATCHES)]
        ops += [
            Op("merge_into", lambda: t().merge_into(
                self._frame(self.BATCHES), "o_orderkey",
                ["o_totalprice", "o_orderstatus"]), kind="write"),
            Op("delete_where", lambda: t().delete_where(
                self.delete_pred, mode="merge-on-read"), kind="write"),
            Op("update_where", lambda: t().update_where(
                self.update_pred, {"o_orderpriority": "'1-URGENT'"}),
               kind="write"),
            Op("read", lambda: t().read(),
               self._keep("read", "o_orderstatus"), kind="read"),
            Op("read_version", lambda: t().read(version=self.version),
               self._keep("read_version"), kind="read"),
            Op("scan", lambda: t().scan(self.scan_lo, self.scan_hi),
               self._keep("scan"), kind="read"),
            Op("rewrite_data_files", lambda: t().rewrite_data_files(),
               kind="maint"),
            Op("expire_snapshots", lambda: t().expire_snapshots(retain_last=1),
               kind="maint"),
            Op("remove_orphan_files", lambda: t().remove_orphan_files(),
               kind="maint"),
        ]
        return ops

    def observe(self) -> None:
        """Note every file the table directory holds now.  Traced runs
        call this after each operation, so a file a later step deletes
        still counts as written."""
        for d, _, fs in os.walk(self.table.tdir):
            for f in fs:
                p = os.path.join(d, f)
                self.written.setdefault(p, os.path.getsize(p))

    def end_pass(self) -> dict:
        """Table facts at the end of a cycle."""
        t = self.table
        sizes = {os.path.join(d, f): os.path.getsize(os.path.join(d, f))
                 for d, _, fs in os.walk(t.tdir) for f in fs}
        data = t.file_count()
        facts = {
            "storage_mb": sum(sizes.values()) / 2**20,
            "icelite.live_data_files": data,
            "icelite.live_delete_files":
                sum(p.endswith(".parquet") for p in sizes) - data,
            "icelite.files_planned_ratio":
                len(t.plan_files(self.scan_lo, self.scan_hi)) / data,
            "icelite.metadata_bytes":
                sum(v for p, v in sizes.items() if not p.endswith(".parquet")),
            "icelite.bytes_written_mb": sum(self.written.values()) / 2**20,
        }
        self.written = {}
        # the last cycle's table stays for the end-state check
        if self.kept is not None:
            shutil.rmtree(self.kept, ignore_errors=True)
        self.kept = t.tdir
        return facts

    def expected(self) -> dict:
        """DuckDB replay of the same seeded operations."""
        import duckdb
        import pyarrow as pa

        _, duck_frame, _ = _oracle_helpers()
        con = duckdb.connect()
        con.register("b", pa.concat_tables(self.batches))
        con.register("s", self.merge_src)
        con.execute("""
            CREATE TABLE merged AS
            SELECT b.o_orderkey, b.o_custkey,
                   CASE WHEN s.o_orderkey IS NULL THEN b.o_orderstatus
                        ELSE s.o_orderstatus END AS o_orderstatus,
                   CASE WHEN s.o_orderkey IS NULL THEN b.o_totalprice
                        ELSE s.o_totalprice END AS o_totalprice,
                   b.o_orderdate, b.o_orderpriority
            FROM b LEFT JOIN s USING (o_orderkey)
            UNION ALL
            SELECT * FROM s WHERE o_orderkey NOT IN (SELECT o_orderkey FROM b)""")
        con.execute(f"""
            CREATE TABLE final AS
            SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
                   o_orderdate,
                   CASE WHEN {self.update_pred} THEN '1-URGENT'
                        ELSE o_orderpriority END AS o_orderpriority
            FROM merged WHERE NOT ({self.delete_pred})""")
        agg = ("count(*) AS n, "
               "sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents")

        def rows(sql):
            return sorted(tuple(r) for r in con.execute(sql).fetchall())

        out = {
            "read": rows(f"SELECT o_orderstatus, {agg} FROM final "
                         "GROUP BY o_orderstatus"),
            "read_version": rows(f"SELECT {agg} FROM b"),
            "scan": rows(f"SELECT {agg} FROM final WHERE o_orderdate >= "
                         f"TIMESTAMP '{self.scan_lo}' AND o_orderdate < "
                         f"TIMESTAMP '{self.scan_hi}'"),
            "final": duck_frame(con.execute("SELECT * FROM final")),
        }
        con.close()
        return out

    def check(self) -> dict[str, bool]:
        """Compare every cycle's read results and the last cycle's end
        state against the DuckDB replay; a mismatch in the end state
        marks every write and maintenance step of the cycle."""
        canon, _, spark_frame = _oracle_helpers()
        want = self.expected()
        ok = {k: bool(self.results.get(k))
              and all(r == want[k] for r in self.results[k])
              for k in ("read", "read_version", "scan")}
        try:
            same = canon(spark_frame(self.table.read())).equals(
                canon(want["final"]))
        except Exception as ex:
            print(f"check end state: {type(ex).__name__}: {ex}",
                  file=sys.stderr)
            same = False
        for op in self.ops():
            if op.kind != "read":
                ok[op.name] = same
        return ok
