"""table_lifecycle: icelite table writes and merge-on-read scans through
the REST catalog. Closed loop, one Spark driver.

`SparkTable` (format.icelite) runs against `RestCatalogClient`, talking
to `RestCatalogServer` in a child process. Every cycle runs four phases of
seed-parameterised operations on one v3 table, each write followed by a
scan:

1. two appends;
2. merge-on-read delete (deletion vectors), equality delete;
3. merge-on-read update, merge-on-read merge;
4. rewrite_position_deletes (odd cycles) or rewrite_data_files (even
   cycles).

expire_snapshots is not in the sequence: `SparkTable.expire_snapshots`
needs the library `Catalog` (it reads `catalog.store`) and fails against
`RestCatalogClient`.

Every scan computes the row count and an order-independent checksum, and
each is checked against a DuckDB model that applies the same operations,
outside the timed operation.
"""

from __future__ import annotations

import os
import random
import time
from collections import defaultdict
from pathlib import Path

import duckdb
import numpy as np
import pandas as pd

import spark_env
from common import ServerProc, group_counts, hd_median, log, median, tail, tree_peak_rss_mb
from layers import TABLE_OPS
from server_main import server_layers
from spans import Tracer

BASE_ROWS = 20_000
APPEND_ROWS = 2_000
MERGE_ROWS = 600
MIN_CYCLES = 1
DELETE_OPS = ("delete_mor", "delete_eq", "update", "merge")
CHECKSUM_SQL = "count(*), sum(id), sum(k), sum(v), sum(length(s))"


def _rows(rng: np.random.Generator, first_id: int, n: int) -> pd.DataFrame:
    words = np.array(["alpha", "beta", "gamma", "delta", "epsilon", "zeta"])
    return pd.DataFrame({
        "id": np.arange(first_id, first_id + n, dtype=np.int64),
        "k": rng.integers(0, 100, n).astype(np.int32),
        "v": rng.integers(0, 1_000_000, n).astype(np.int64),
        "s": words[rng.integers(0, len(words), n)],
    })


class _Model:
    """The table as DuckDB sees it after the same operations."""

    def __init__(self) -> None:
        self.con = duckdb.connect()
        self.con.execute("CREATE TABLE m (id BIGINT, k INTEGER, v BIGINT, s VARCHAR)")

    def append(self, df: pd.DataFrame) -> None:
        self.con.register("src", df)
        self.con.execute("INSERT INTO m SELECT id, k, v, s FROM src")
        self.con.unregister("src")

    def delete(self, cond: str) -> None:
        self.con.execute(f"DELETE FROM m WHERE {cond}")

    def update(self, cond: str, expr: str) -> None:
        self.con.execute(f"UPDATE m SET v = {expr} WHERE {cond}")

    def merge(self, df: pd.DataFrame) -> None:
        self.con.register("src", df)
        self.con.execute("UPDATE m SET v = src.v FROM src WHERE m.id = src.id")
        self.con.execute(
            "INSERT INTO m SELECT id, k, v, s FROM src WHERE id NOT IN (SELECT id FROM m)"
        )
        self.con.unregister("src")

    def checksum(self, cond: str | None = None) -> tuple:
        where = f" WHERE {cond}" if cond else ""
        row = self.con.execute(f"SELECT {CHECKSUM_SQL} FROM m{where}").fetchone()
        return tuple(int(x or 0) for x in row)

    def user_bytes(self) -> int:
        n, total = self.con.execute("SELECT count(*), sum(length(s)) FROM m").fetchone()
        return 20 * int(n) + int(total or 0)

    def sample_ids(self, rng: np.random.Generator, n: int) -> np.ndarray:
        ids = self.con.execute("SELECT id FROM m ORDER BY id").fetchnumpy()["id"]
        return rng.choice(ids, size=min(n, len(ids)), replace=False)


def _install_tracing(tracer: Tracer) -> None:
    from lakekeeper_spark.format.icelite import SparkTable
    from lakekeeper_spark.functions import localframe
    from lakekeeper_spark.rest.client import RestCatalogClient

    tracer.wrap_class(SparkTable, "format.icelite")
    tracer.wrap_class(RestCatalogClient, "rest.client")
    tracer.wrap_everywhere(localframe, "local_df", "functions.local_df")


def _dir_files(root: Path) -> set[str]:
    return {str(p) for p in root.rglob("*") if p.is_file()}


class _Lifecycle:
    def __init__(self, ctx, spark, client, tracer: Tracer) -> None:
        from lakekeeper_spark.format.icelite import SparkTable
        from lakekeeper_spark.format.types import struct_to_schema

        self.ctx, self.spark, self.tracer = ctx, spark, tracer
        self.rng = np.random.default_rng(ctx.seed)
        self.pick = random.Random(ctx.seed)
        self.client = client
        self.sc = spark.sparkContext
        schema = spark.createDataFrame(_rows(self.rng, 0, 1)).schema
        self.ddl_schema = schema
        client.create_namespace("wh", ["bench"])
        client.create_table("wh", ["bench"], "t", struct_to_schema(schema), format_version=3)
        self.table = SparkTable(spark, client, "wh", ["bench"], "t")
        self.model = _Model()
        self.next_id = 0
        self.lat: dict[str, list[float]] = defaultdict(list)
        self.all_lat: list[float] = []
        self.op_log: list[tuple[int, str, float, bool]] = []  # cycle, op, s, traced
        self.attempted = self.failed = 0
        self.problems: list[str] = []
        self.check_s = 0.0
        self.state: dict[str, list[float]] = defaultdict(list)
        self.seen_files: set[str] = set()
        self.cycle = -1
        self.n_ops = 0
        self.structure: list[tuple[str, dict[str, int]]] = []
        self.traced_run = False

    # ---- one timed operation -------------------------------------------
    def _op(self, op: str, fn, timed: bool = True, sample: bool = True):
        self.attempted += 1
        self.n_ops += 1
        # traced runs trace every other operation, shifting by one each
        # cycle, so each operation is timed both ways across two cycles
        self.tracer.active = self.traced_run and (self.n_ops + self.cycle) % 2 == 0
        group = f"c{self.cycle}:{self.n_ops}:{op}"
        self.sc.setJobGroup(group, op)
        self.tracer.op_id = group
        t0 = time.perf_counter()
        try:
            out = fn()
        except Exception as e:  # noqa: BLE001 - a failed operation is counted
            self.failed += 1
            self.problems.append(f"{op}: {type(e).__name__}: {e}"[:300])
            return None
        dt = time.perf_counter() - t0
        if timed:
            self.lat[op].append(dt)
            if sample:
                self.all_lat.append(dt)
            self.op_log.append((self.cycle, op, dt, self.tracer.active))
            self.structure.append((op, group_counts(self.spark, group)))
        return out

    # ---- operations ----------------------------------------------------
    def append(self, n: int, timed: bool = True) -> None:
        pdf = _rows(self.rng, self.next_id, n)
        self.next_id += n
        df = self.spark.createDataFrame(pdf, self.ddl_schema)
        if self._op("append", lambda: self.table.append(df), timed) is not None:
            self.model.append(pdf)

    def scan(self, cond: str | None = None, timed: bool = True) -> None:
        from pyspark.sql import functions as F

        def plan():
            return self.table.scan()

        def execute(df):
            if cond:
                df = df.filter(cond)
            row = df.agg(
                F.count(F.lit(1)), F.sum("id"), F.sum("k"), F.sum("v"),
                F.sum(F.length("s")),
            ).collect()[0]
            return tuple(int(x or 0) for x in row)

        # one scan operation, timed in its two parts: building the
        # DataFrame (metadata, manifests, delete files) and running it
        df = self._op("scan_plan", plan, timed, sample=False)
        got = None
        if df is not None:
            got = self._op("scan_exec", lambda: execute(df), timed, sample=False)
        if timed and got is not None:
            dt = self.lat["scan_plan"][-1] + self.lat["scan_exec"][-1]
            self.lat["scan"].append(dt)
            self.all_lat.append(dt)
        t0 = time.perf_counter()
        self.attempted += 1
        want = self.model.checksum(cond)
        if got != want:
            self.failed += 1
            self.problems.append(f"scan({cond}) cycle {self.cycle}: got {got} want {want}")
        self._record_state()
        self.check_s += time.perf_counter() - t0

    def _record_state(self) -> None:
        from lakekeeper_spark.format.icelite import snapshot_delete_entries, snapshot_entries

        meta = self.table.metadata()
        snap = next((s for s in meta["snapshots"]
                     if s["snapshot-id"] == meta.get("current-snapshot-id")), None)
        data = [e for e in snapshot_entries(snap) if e.get("content", "data") == "data"]
        self.state["files_live"].append(len(data))
        self.state["delete_artifacts_live"].append(len(snapshot_delete_entries(snap)))
        root = Path(meta["location"].removeprefix("file://"))
        files = _dir_files(root)
        stored = sum(os.path.getsize(p) for p in files if os.path.exists(p))
        new = files - self.seen_files
        self.seen_files |= files
        self.state["files_written"].append(
            sum(1 for p in new if p.endswith(".parquet") or p.endswith(".puffin")))
        self.state["manifests_written"].append(sum(1 for p in new if p.endswith(".avro")))
        self.state["bytes_stored_per_user_byte"].append(stored / max(1, self.model.user_bytes()))

    def delete_mor(self) -> None:
        cond = f"id % 50 = {self.pick.randrange(50)}"
        if self._op("delete_mor",
                    lambda: self.table.delete_where(cond, mode="merge-on-read")) is not None:
            self.model.delete(cond)

    def delete_eq(self) -> None:
        cond = f"k = {self.pick.randrange(100)}"
        if self._op("delete_eq", lambda: self.table.delete_where(
                cond, mode="equality", equality_cols=["id"])) is not None:
            self.model.delete(cond)

    def update(self) -> None:
        cond = f"id % 47 = {self.pick.randrange(47)}"
        if self._op("update", lambda: self.table.update_where(
                cond, {"v": "v + 1"}, mode="merge-on-read")) is not None:
            self.model.update(cond, "v + 1")

    def merge(self) -> None:
        half = MERGE_ROWS // 2
        old = self.model.sample_ids(self.rng, half)
        src = _rows(self.rng, self.next_id, MERGE_ROWS)
        src.loc[: len(old) - 1, "id"] = old
        self.next_id += MERGE_ROWS
        df = self.spark.createDataFrame(src, self.ddl_schema)
        if self._op("merge", lambda: self.table.merge(
                df, "t.id = s.id", matched_update={"v": "s.v"},
                not_matched_insert=True, mode="merge-on-read")) is not None:
            self.model.merge(src)

    def rewrite(self) -> None:
        if self.cycle % 2:
            self._op("rewrite", self.table.rewrite_position_deletes)
        else:
            self._op("rewrite", self.table.rewrite_data_files)

    def run_cycle(self, traced: bool, warm: bool = False) -> None:
        """One cycle. A scan follows every write, and there are as many
        fast writes (appends, MOR delete) as slow ones, so the median
        operation is a scan. The warm cycle runs each operation once."""
        self.cycle += 1
        self.n_ops = 0
        self.traced_run = traced
        self.append(APPEND_ROWS)
        self.scan()
        if not warm:
            self.append(APPEND_ROWS)
            self.scan(f"k < {self.pick.randrange(10, 60)}")
        self.delete_mor()
        self.scan(f"k >= {self.pick.randrange(40, 90)}")
        self.delete_eq()
        if not warm:
            self.scan(f"id % 10 < {self.pick.randrange(2, 8)}")
        self.update()
        if not warm:
            self.scan(f"k < {self.pick.randrange(30, 70)}")
        self.merge()
        self.scan()
        self.rewrite()
        self.scan()
        self.tracer.active = False


def run(ctx) -> dict:
    t_start = time.perf_counter()
    ev_dir = ctx.run_dir / "eventlog" if ctx.trace else None
    spark_env.configure(ctx.run_dir, ctx.tmp_dir, ev_dir)
    server = ServerProc(ctx.run_dir / "catalog", ctx.trace)
    spark = None
    tracer = Tracer()
    try:
        from lakekeeper_spark.rest.client import RestCatalogClient

        spark, start_s = spark_env.start("perfbench-table-lifecycle")
        if ctx.trace:
            _install_tracing(tracer)
        client = RestCatalogClient(server.url)
        client.create_warehouse("wh", str(ctx.run_dir / "warehouse"))
        lc = _Lifecycle(ctx, spark, client, tracer)
        lc.append(BASE_ROWS, timed=False)
        t_warm = time.perf_counter()
        # warm cycle: every operation's code path once, untimed results kept
        # out of the statistics
        lc.run_cycle(traced=False, warm=True)
        warm_s = time.perf_counter() - t_start
        lc.lat.clear()
        lc.all_lat.clear()
        lc.op_log.clear()
        lc.state.clear()
        lc.structure.clear()
        setup_s = warm_s - lc.check_s
        cycle_est = max(1e-3, time.perf_counter() - t_warm)
        # a traced run needs one untraced cycle to compare against
        n_cycles = max(2 if ctx.trace else MIN_CYCLES, round(ctx.seconds / cycle_est))
        if ctx.trace:
            server.send("trace on")
        t_meas = time.perf_counter()
        for c in range(n_cycles):
            lc.run_cycle(traced=ctx.trace)
        meas_s = time.perf_counter() - t_meas
        rss, parts = tree_peak_rss_mb(os.getpid())
    finally:
        if spark is not None:
            spark_env.stop(spark)
        srv = server.stop()

    lat = lc.all_lat
    pct, tail_v = tail(lat)
    deletes = [x for op in DELETE_OPS for x in lc.lat[op]]
    e2e = {
        "setup_s": setup_s,
        "ops_per_s": len(lat) / sum(lat) if lat else 0.0,
        # the cycle has as many fast operations as slow ones, so the
        # sample median would sit between the two groups
        "latency_p50_ms": 1e3 * hd_median(lat),
        "latency_tail_ms": 1e3 * tail_v,
    }
    layer = {
        "session.start_s": start_s,
        "session.jvm_rss_peak_mb": parts.get("java", 0.0),
        "process.peak_rss_mb": rss,
    }
    jobs: dict[str, list[int]] = defaultdict(list)
    for op, counts in lc.structure:
        jobs[op].append(counts["spark_jobs"])
    for op, js in jobs.items():
        layer[f"format.icelite.{op}.spark_jobs"] = median(js)
    for k, vals in lc.state.items():
        layer[f"format.icelite.{k}"] = (
            sum(vals) / len(vals) if k != "bytes_stored_per_user_byte" else median(vals))
    if ctx.trace:
        layer.update(_traced_layers(lc, tracer, srv))
    for m in lc.problems:
        log(f"table_lifecycle: {m}")
    return {
        "correct": not lc.problems,
        "attempted": lc.attempted,
        "failed": lc.failed,
        "end_to_end": e2e,
        "per_layer": layer,
        "structure": {f"{i:02d}:{op}": c for i, (op, c) in enumerate(lc.structure)},
        "detail": {
            "append_p50_ms": 1e3 * median(lc.lat["append"]),
            "delete_p50_ms": 1e3 * median(deletes),
            "scan_p50_ms": 1e3 * median(lc.lat["scan"]),
            "bytes_stored_per_user_byte": median(lc.state["bytes_stored_per_user_byte"]),
            "latency_tail_pct": pct,
            "samples": len(lat),
            "cycles": n_cycles,
            "measured_s": meas_s,
            "check_s": lc.check_s,
            "peak_rss_mb": rss,
            "rss_parts_mb": parts,
            "op_p50_ms": {op: 1e3 * median(v) for op, v in lc.lat.items()},
            "op_ms": [(op, round(1e3 * dt, 1)) for _c, op, dt, _t in lc.op_log],
            "problems": lc.problems,
        },
    }


def _traced_layers(lc: _Lifecycle, tracer: Tracer, srv: dict) -> dict[str, float]:
    out: dict[str, float] = {}
    by_op: dict[str, list[float]] = defaultdict(list)
    plain: dict[str, list[float]] = defaultdict(list)
    for _cycle, op, dt, traced in lc.op_log:
        (by_op if traced else plain)[op].append(dt)
    for op in TABLE_OPS:
        if by_op.get(op):
            out[f"format.icelite.{op}.s"] = median(by_op[op])
    # catalog share: time inside RestCatalogClient calls / operation time
    cat = tracer.by_op("rest.client")
    traced_ops = [dt for _c, _o, dt, traced in lc.op_log if traced]
    if traced_ops:
        out["format.icelite.catalog_share"] = sum(cat.values()) / sum(traced_ops)
        local = tracer.summary().get("functions.local_df", {"calls": 0, "s": 0.0})
        out["functions.local_df.calls"] = local["calls"] / len(traced_ops)
        out["functions.local_df.s"] = local["s"] / len(traced_ops)
    s = tracer.summary()
    out["format.icelite.commit_retries"] = sum(
        n for (name, err), n in tracer.errors.items()
        if name.startswith("rest.client.commit") and "Commit" in err)
    out.update(server_layers(srv, client_spans=s))
    common = [op for op in by_op if plain.get(op)]
    if common:
        ratios = [median(by_op[op]) / median(plain[op]) for op in common]
        out["harness.trace_overhead_pct"] = 100.0 * (median(ratios) - 1.0)
    return out
