"""The two workloads, each driven through the engine's public calls.

A workload has ``setup`` (warm-up and, for etl_refresh, table creation),
``run_pass`` (one timed pass, recording its operation latencies in an
``Ops``) and ``verify`` (the output checks, outside every timed window).
Every call into an engine layer is wrapped in a span named after that
layer.
"""

from __future__ import annotations

import os
import shutil
import sys
import time
from contextlib import contextmanager

import bench
from imdb_top_250_etl_pipeline_spark.operators.pinning import pin_scope, pinned_rdd_count
from imdb_top_250_etl_pipeline_spark.plans import lookup
from imdb_top_250_etl_pipeline_spark.sources import txn
from imdb_top_250_etl_pipeline_spark.sources.catalog import load

# Plan-build (eager pins, driver job chains) and the Python seam: iterative
# BPE, the perceptual-hash image near-dup (Arrow UDF plus banded join),
# the markup-parsing pandas UDF, the embedding quantizer and exact cosine
# top-k.
LLM_CORPUS = [
    "text_bpe_merges",
    "multimodal_ahash_dedup",
    "udf_parse_markup",
    "multimodal_embedding_quantize",
    "sim_cosine_topk",
]

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


@contextmanager
def timed_pin_scope(tr):
    """``pin_scope`` whose release on exit is its own pinning.release span."""
    cm = pin_scope()
    cm.__enter__()
    try:
        yield
    finally:
        with tr.span("pinning.release"):
            cm.__exit__(None, None, None)


def warm_up(spark, warm_dir: str) -> None:
    """Start the scheduler and JIT the parquet-scan and shuffle-agg paths.

    Deliberately light: cold per-query costs (codegen, Python worker
    start) land in the first timed pass, which is what a fresh batch
    pays."""
    load(spark, warm_dir, "orders").groupBy("o_orderstatus").count().collect()


class Ops:
    """Latencies and failures of one run's operations, by kind."""

    def __init__(self) -> None:
        self.lat: dict[str, list[float]] = {}
        self.attempted = 0
        self.failed: list[str] = []

    def record(self, kind: str, seconds: float) -> None:
        self.lat.setdefault(kind, []).append(seconds)

    def fail(self, what: str) -> None:
        self.failed.append(what)

    def run(self, kind: str, what: str, fn):
        """Time one operation; an error counts it as failed.  Returns
        ``(ok, result)``."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            out = fn()
        except Exception as ex:  # a failing operation is counted, not fatal
            print(f"perfbench: {what} failed: {ex!r}"[:400], file=sys.stderr)
            self.fail(what)
            return False, None
        self.record(kind, time.perf_counter() - t0)
        return True, out


class QueryWorkload:
    """A list of registered queries, each built and written to the noop sink."""

    def __init__(self, names, sf_dir, warm_dir, expected, traced):
        self.names = names
        self.sf_dir = sf_dir
        self.warm_dir = warm_dir
        self.expected = expected
        self.traced = traced
        self.fns: dict = {}
        self.hashes: dict[str, str] = {}
        self.per_query: dict[str, list[float]] = {n: [] for n in names}

    def setup(self, spark, tr) -> None:
        # the raw operator forms bench.py times for oracle-promoted queries
        raw = bench._raw_overrides()
        self.fns = {n: raw.get(n) or lookup(n).fn for n in self.names}
        with tr.span("session.warmup"):
            warm_up(spark, self.warm_dir)

    def run_pass(self, spark, tr, p: int, ops: Ops, check: bool) -> float:
        """Run every query once; returns the seconds spent checking.

        With ``check``, each result is collected and hashed inside its
        pin scope (so the pins are reused), with the clock stopped."""
        from tests.oracle_harness import _hash_rows

        checking = 0.0
        for name in self.names:
            ops.attempted += 1
            with tr.span("query", op=f"{name}#{p}"):
                t0 = time.perf_counter()
                t1 = t2 = 0.0
                try:
                    with timed_pin_scope(tr):
                        with tr.span("plans.build") as b:
                            df = self.fns[name](spark, self.sf_dir)
                            if self.traced:
                                b.attrs["pins"] = pinned_rdd_count(spark)
                        with tr.span("execute.write"):
                            df.write.format("noop").mode("overwrite").save()
                        t1 = t2 = time.perf_counter()
                        if check:
                            with tr.span("check"):
                                rows = [tuple(r) for r in df.collect()]
                                cols = [c.lower() for c in df.columns]
                                self.hashes[name] = _hash_rows(cols, rows)
                            t2 = time.perf_counter()
                except Exception as ex:  # a failing query is counted, not fatal
                    print(f"perfbench: {name} failed: {ex!r}"[:400], file=sys.stderr)
                    ops.fail(name)
                    continue
                checking += t2 - t1
                ops.record("query", time.perf_counter() - t0 - (t2 - t1))
                self.per_query[name].append(ops.lat["query"][-1])
        return checking

    def duckdb_hashes(self) -> dict[str, str]:
        """Hashes of the DuckDB twins of the queries timed in registered form."""
        import duckdb
        from tests.oracle_harness import _hash_rows

        raw = bench._raw_overrides()
        out = {}
        with duckdb.connect() as con:
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.sf_dir}/{t}.parquet'")
            for name in self.names:
                oracle = lookup(name).oracle
                if oracle is not None and name not in raw:
                    rel = con.sql(oracle)
                    out[name] = _hash_rows([c.lower() for c in rel.columns], rel.fetchall())
        return out

    def verify(self, spark, ops: Ops) -> dict:
        """Spark hashes vs the committed table; DuckDB twins vs the same."""
        duck = self.duckdb_hashes()
        report = {}
        for name in self.names:
            want = self.expected.get(name)
            entry = {"spark": want is not None and self.hashes.get(name) == want}
            if name in duck:
                entry["duckdb"] = duck[name] == want
            if not all(entry.values()):
                ops.fail(f"check:{name}")
            report[name] = entry
        return report


# --- etl_refresh -------------------------------------------------------------

KEY = "o_orderkey"
UPDATE_COLS = ["o_orderstatus", "o_totalprice", "o_orderpriority"]
STABLE_COLS = ["o_custkey", "o_orderdate"]
APP_ID = "weekly-refresh"
READBACK_SQL = (
    "SELECT o_orderstatus, count(*) AS n, "
    "sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents, "
    "max(o_orderkey) AS max_key FROM {t} GROUP BY o_orderstatus"
)


def readback(spark, table: str):
    from pyspark.sql import functions as F

    return (
        txn.txn_read(spark, table)
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents"),
            F.max("o_orderkey").alias("max_key"),
        )
    )


def read_batch(spark, path: str):
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    df = spark.read.parquet(path)
    return df.withColumn("o_orderdate", F.col("o_orderdate").cast(T.TimestampType()))


def _data_files(table: str) -> dict[str, int]:
    d = os.path.join(table, "data")
    return {f: os.path.getsize(os.path.join(d, f)) for f in os.listdir(d)}


class EtlRefresh:
    """The reference's weekly refresh, on a transaction-log table of orders.

    One pass is one refresh cycle: three MERGE rounds, each followed by an
    aggregate read-back, then an idempotent append of the week's new
    orders, a retried re-apply of that append (which must commit
    nothing), and an OPTIMIZE."""

    TABLE_FILES = 4  # range-clustered files after create and OPTIMIZE
    MERGE_FILES = None  # merged files keep the shuffle's layout until OPTIMIZE

    def __init__(self, sf_dir, warm_dir, work, cycles, traced):
        self.sf_dir = sf_dir
        self.warm_dir = warm_dir
        self.cycles = cycles  # [{"merges": [path...], "append": path}]
        self.traced = traced
        self.table = os.path.join(work, "orders")
        self.readbacks: list[list[tuple]] = []
        self.done: list[int] = []
        self.bytes_user = 0
        self.bytes_written = 0

    def setup(self, spark, tr) -> None:
        with tr.span("session.warmup"):
            warm_up(spark, self.warm_dir)
        with tr.span("txn.create"):
            shutil.rmtree(self.table, ignore_errors=True)
            txn.txn_create(load(spark, self.sf_dir, "orders"), self.table, KEY, self.TABLE_FILES)

    def run_pass(self, spark, tr, p: int, ops: Ops, check: bool) -> float:
        """One refresh cycle.  Its outputs are checked in ``verify``, so no
        time goes to checking here."""
        cycle = self.cycles[p]
        for i, path in enumerate(cycle["merges"]):
            with tr.span("round", op=f"c{p}r{i}"):
                self._merge(spark, tr, path, ops)
                _ok, rows = ops.run("read", f"read c{p}r{i}", lambda: self._read(spark, tr))
                self.readbacks.append(rows or [])
        with tr.span("round", op=f"c{p}append"):
            self._append(spark, tr, cycle["append"], p, ops)
            before = _data_files(self.table)
            with tr.span("txn.optimize") as sp:
                ops.run(
                    "optimize",
                    f"optimize c{p}",
                    lambda: txn.txn_optimize(spark, self.table, target_files=self.TABLE_FILES),
                )
            sp.attrs["bytes_written"] = self._written(before)
        self.done.append(p)
        if self.traced:
            with tr.span("txn.snapshot") as sp:
                v, _schema, _key, live = txn.snapshot(self.table)
                sp.attrs.update(files_live=len(live), log_versions=v + 1)
        return 0.0

    def _read(self, spark, tr) -> list[tuple]:
        with tr.span("txn.read_build"):
            df = readback(spark, self.table)
        with tr.span("txn.read_exec"):
            return sorted(tuple(r) for r in df.collect())

    def _written(self, before: dict[str, int]) -> int:
        """Bytes of the data files that appeared since ``before``."""
        n = sum(s for f, s in _data_files(self.table).items() if f not in before)
        self.bytes_written += n
        return n

    def _merge(self, spark, tr, path: str, ops: Ops) -> None:
        live_before = set(txn.snapshot(self.table)[3]) if self.traced else set()
        before = _data_files(self.table)
        with tr.span("input.read"):
            batch = read_batch(spark, path)
        with tr.span("txn.merge") as sp:
            ok, _v = ops.run(
                "merge",
                f"merge {os.path.basename(path)}",
                lambda: txn.txn_merge(
                    spark, self.table, batch, UPDATE_COLS, STABLE_COLS, self.MERGE_FILES
                ),
            )
        self.bytes_user += os.path.getsize(path)
        sp.attrs["bytes_written"] = self._written(before)
        if ok and self.traced:
            with tr.span("txn.snapshot"):
                live_after = set(txn.snapshot(self.table)[3])
            sp.attrs["files_rewritten"] = len(live_before - live_after)

    def _append(self, spark, tr, path: str, p: int, ops: Ops) -> None:
        """The week's new orders, appended idempotently, then re-applied
        as a retried job would: the re-apply must commit nothing."""
        before = _data_files(self.table)
        with tr.span("input.read"):
            batch = read_batch(spark, path)
        with tr.span("txn.append") as sp:
            ok, v = ops.run(
                "append",
                f"append c{p}",
                lambda: txn.txn_append(batch, self.table, KEY, app_txn=(APP_ID, p)),
            )
        self.bytes_user += os.path.getsize(path)
        sp.attrs["bytes_written"] = self._written(before)
        if ok and v is None:
            ops.fail(f"append c{p} committed nothing")
        head = txn.latest_version(self.table)
        with tr.span("txn.replay_skip"):
            ok, again = ops.run(
                "reapply",
                f"re-apply c{p}",
                lambda: txn.txn_append(batch, self.table, KEY, app_txn=(APP_ID, p)),
            )
        if ok and (again is not None or txn.latest_version(self.table) != head):
            ops.fail(f"re-apply c{p} committed")

    def verify(self, spark, ops: Ops) -> dict:
        """Replay the executed cycles in DuckDB; compare every read-back
        aggregate and the final table."""
        import duckdb
        import numpy as np

        con = duckdb.connect()
        con.execute("SET TimeZone='UTC'")
        con.execute(f"CREATE TABLE t AS SELECT * FROM '{self.sf_dir}/orders.parquet'")
        upd = ", ".join(
            f"CASE WHEN i.{KEY} IS NOT NULL THEN i.{c} ELSE e.{c} END AS {c}" for c in UPDATE_COLS
        )
        stab = ", ".join(
            f"CASE WHEN e.{KEY} IS NOT NULL THEN e.{c} ELSE i.{c} END AS {c}" for c in STABLE_COLS
        )
        bad_reads = 0
        k = 0
        for p in self.done:
            for path in self.cycles[p]["merges"]:
                con.execute(
                    f"CREATE OR REPLACE TABLE t AS SELECT coalesce(i.{KEY}, e.{KEY}) AS {KEY}, "
                    f"{upd}, {stab} FROM t e FULL OUTER JOIN '{path}' i ON e.{KEY} = i.{KEY}"
                )
                want = sorted(con.sql(READBACK_SQL.format(t="t")).fetchall())
                if self.readbacks[k] != want:
                    bad_reads += 1
                    ops.fail(f"check:read {k}")
                k += 1
            con.execute(f"INSERT INTO t BY NAME SELECT * FROM '{self.cycles[p]['append']}'")
        cols = [KEY] + STABLE_COLS + UPDATE_COLS
        want = con.sql(f"SELECT {', '.join(cols)} FROM t ORDER BY {KEY}").df()
        got = txn.txn_read(spark, self.table).select(*cols).toPandas()
        got = got.sort_values(KEY).reset_index(drop=True)
        same = len(got) == len(want)
        for c in cols if same else []:
            a, b = got[c].to_numpy(), want[c].to_numpy()
            if c == "o_orderdate":
                a, b = a.astype("datetime64[us]"), b.astype("datetime64[us]")
            same = same and bool(np.array_equal(a, b))
        if not same:
            ops.fail("check:final table")
        con.close()
        return {"reads_checked": k, "reads_bad": bad_reads, "final_table": same, "rows": len(got)}
