"""Round-17 second-pass scan/DML fast paths vs their fallback paths.

The optimization round replaced several per-action driver barriers with
metadata-gated fast paths:

  - equality-delete sequence tags and v3 lineage id/seq resolution attach
    as LITERAL map expressions below ``SparkTable._PATH_MAP_MAX`` (the
    broadcast join remains above the gate);
  - small Puffin tombstone sets (<= ``icelite._DV_INLINE_POS_MAX``
    positions) anti-filter as one literal expression instead of a
    broadcast anti-join;
  - MOR deletes with a metadata-known small position count fuse the DV
    encode + container write into one coalesced task
    (``icelite._DV_FUSED_ROWS_MAX``);
  - pinned row-id range derivation runs driver-side (numpy) instead of a
    single-partition window.

Every fast path must emit EXACTLY what its fallback emits — these tests
pin that by running the same lifecycle with the gates forced off.
"""

from __future__ import annotations

import pytest

from lakekeeper_spark.format import icelite
from lakekeeper_spark.format.icelite import SparkTable
from lakekeeper_spark.format.types import struct_to_schema

DDL = "id int, v double, s string"
ROWS = [(i, float(i), f"s{i % 7}") for i in range(40)]


def _lifecycle(spark, catalog, name, ns):
    """The c04-style mixed lifecycle: eq delete -> v3 upgrade -> two DV
    deletes -> rewrite. Returns every observable the queries read."""
    catalog.create_namespace("wh", [ns], exists_ok=True)
    df = spark.createDataFrame(ROWS, DDL).coalesce(2)
    catalog.create_table("wh", [ns], name, struct_to_schema(df.schema))
    t = SparkTable(spark, catalog, "wh", [ns], name)
    t.append(df)
    t.delete_where("id < 5", mode="equality", equality_cols=["id"])
    obs = [sorted(r.id for r in t.scan().collect())]
    t.append(df.filter("id < 3"))
    t._commit([], [{"action": "upgrade-format-version", "format-version": 3}])
    t.delete_where("id >= 30", mode="merge-on-read")
    obs.append(sorted(r.id for r in t.scan().collect()))
    t.delete_where("id % 2 = 0 AND id >= 10", mode="merge-on-read")
    obs.append(sorted(r.id for r in t.scan().collect()))
    obs.append(t.delete_files().count())
    # summaries carry the deleted-row-id-ranges (driver-side numpy path)
    obs.append(
        [s["summary"].get("deleted-row-id-ranges") for s in t.metadata()["snapshots"]]
    )
    t.rewrite_position_deletes()
    obs.append(sorted((r.id, r.v, r.s) for r in t.scan().collect()))
    obs.append(
        sorted(
            ((-1 if r._row_id is None else r._row_id), r._change_type)
            for r in t.changelog_row_ids().collect()
        )
    )
    return obs


def test_fast_paths_match_fallback_paths(spark, catalog, monkeypatch):
    fast = _lifecycle(spark, catalog, "t_fast", "fp")
    # force every gate OFF: literal maps -> broadcast joins, inline
    # tombstone filter -> broadcast anti-join, fused DV write -> the
    # distributed per-file encode, driver-side ranges -> the window path
    monkeypatch.setattr(SparkTable, "_PATH_MAP_MAX", -1)
    monkeypatch.setattr(icelite, "_DV_INLINE_POS_MAX", -1)
    monkeypatch.setattr(icelite, "_DV_FUSED_ROWS_MAX", -1)
    monkeypatch.setattr(icelite, "_EQ_INLINE_ROWS_MAX", -1)
    # r18: driver-side DV consolidation -> the distributed encode path
    monkeypatch.setattr(icelite, "_DV_LOCAL_MERGE_MAX", -1)
    orig_ranges = SparkTable._row_id_ranges

    def window_ranges(self, ids, n=None, pinned=False):
        return orig_ranges(self, ids, n=n, pinned=False)

    monkeypatch.setattr(SparkTable, "_row_id_ranges", window_ranges)
    slow = _lifecycle(spark, catalog, "t_slow", "fp")
    assert fast == slow


def test_inline_pos_filter_falls_back_on_decode_failure(
    spark, catalog, monkeypatch
):
    """A scan whose Puffin container can't be decoded driver-side must
    fall back to the distributed anti-join, not fail at plan time."""
    catalog.create_namespace("wh", ["fpf"], exists_ok=True)
    df = spark.createDataFrame(ROWS, DDL).coalesce(1)
    catalog.create_table("wh", ["fpf"], "t", struct_to_schema(df.schema))
    t = SparkTable(spark, catalog, "wh", ["fpf"], "t")
    t.append(df)
    t._commit([], [{"action": "upgrade-format-version", "format-version": 3}])
    t.delete_where("id >= 35", mode="merge-on-read")
    want = sorted(r.id for r in t.scan().collect())

    def boom(path):
        raise RuntimeError("driver decode unavailable")

    import lakekeeper_spark.format.dv as dv_mod

    real = dv_mod.read_deletion_vectors_cached

    def guarded(path, _real=real):
        import inspect

        # fail only the driver-side (plan-time) decode; executor tasks
        # pickle the dv module fresh, so this patch never reaches them
        for fr in inspect.stack():
            if fr.function == "_inline_pos_filter":
                raise RuntimeError("driver decode unavailable")
        return _real(path)

    monkeypatch.setattr(dv_mod, "read_deletion_vectors_cached", guarded)
    got = sorted(r.id for r in t.scan().collect())
    assert got == want


def test_row_id_ranges_numpy_matches_window(spark):
    """The pinned numpy gaps-and-islands derivation == the window
    derivation on unique id sets, including the range-count cap and the
    NULL bail-out."""
    from pyspark.sql import functions as F

    t = SparkTable.__new__(SparkTable)
    t.spark = spark
    cases = [
        [1, 2, 3, 7, 8, 20],
        [5],
        list(range(100, 200)) + [500, 502, 504],
        [0, 2, 4, 6, 8, 10],
    ]
    for ids in cases:
        df = spark.createDataFrame([(i,) for i in ids], "_row_id long")
        pinned = df.localCheckpoint(eager=True)
        fast = t._row_id_ranges(pinned, n=len(ids), pinned=True)
        slow = t._row_id_ranges(df, n=len(ids), pinned=False)
        assert fast == slow, ids
    # NULL id -> not rangeable on both paths
    df = spark.createDataFrame([(1,), (None,)], "_row_id long")
    assert t._row_id_ranges(df.localCheckpoint(eager=True), n=2, pinned=True) is None
    assert t._row_id_ranges(df, n=2, pinned=False) is None
    # range-count cap: scattered ids exceeding _MAX_RANGES -> None on both
    import pyspark.sql.functions as _F

    sparse = spark.range(SparkTable._MAX_RANGES + 1).select(
        (F.col("id") * 3).alias("_row_id")
    )
    n = SparkTable._MAX_RANGES + 1
    assert t._row_id_ranges(sparse.localCheckpoint(eager=True), n=n, pinned=True) is None
    assert t._row_id_ranges(sparse, n=n, pinned=False) is None


def test_inline_eq_filter_null_keys_fall_back(spark, tmp_path):
    """An eligible-sized equality delete with mixed NULL/non-NULL keys
    must return None (join path, eqNullSafe semantics) — and must not
    raise: sorting mixed None/value tuples is a TypeError, so the NULL
    bail-out has to run before the sort (ADVICE r17)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = SparkTable.__new__(SparkTable)
    t.spark = spark
    pq.write_table(
        pa.table({"id": pa.array([3, None, 1], type=pa.int64())}),
        str(tmp_path / "eq_null.parquet"),
    )
    meta = {"location": str(tmp_path)}
    e = {"record-count": 3, "path": "eq_null.parquet", "sequence-number": 5}
    assert t._inline_eq_filter(meta, e, [("id", "long", "id")]) is None
    # all-non-NULL keys of the same shape stay on the inline path
    pq.write_table(
        pa.table({"id": pa.array([3, 2, 1], type=pa.int64())}),
        str(tmp_path / "eq_ok.parquet"),
    )
    e2 = {"record-count": 3, "path": "eq_ok.parquet", "sequence-number": 5}
    assert t._inline_eq_filter(meta, e2, [("id", "long", "id")]) is not None


def test_path_map_expr_tolerates_duplicate_paths(spark):
    """Duplicate manifest paths must not trip DUPLICATED_MAP_KEY under
    the default spark.sql.mapKeyDedupPolicy=EXCEPTION (ADVICE r17): the
    literal map dedupes pairs the way the join fallback tolerated them."""
    from pyspark.sql import functions as F

    col = SparkTable._path_map_expr([("a", 1), ("a", 1), ("b", None)])
    row = spark.range(1).select(
        F.try_element_at(col, F.lit("a")).alias("va"),
        F.try_element_at(col, F.lit("b")).alias("vb"),
    ).collect()[0]
    assert row.va == 1 and row.vb is None


def test_dv_local_merge_failure_leaves_no_partial_puffin(
    spark, catalog, monkeypatch, caplog
):
    """A driver-side DV merge whose container write fails part-way must
    remove its partial .puffin output and log why before the distributed
    path takes over: no file under the table is left unreferenced."""
    import logging
    import os
    import sys
    from pathlib import Path

    import lakekeeper_spark.format.dv as dv_mod
    from lakekeeper_spark.format.icelite import snapshot_entries

    catalog.create_namespace("wh", ["fpw"], exists_ok=True)
    df = spark.createDataFrame(ROWS, DDL).coalesce(1)
    catalog.create_table("wh", ["fpw"], "t", struct_to_schema(df.schema))
    t = SparkTable(spark, catalog, "wh", ["fpw"], "t")
    t.append(df)
    t._commit([], [{"action": "upgrade-format-version", "format-version": 3}])
    t.delete_where("id >= 35", mode="merge-on-read")

    real = dv_mod.write_deletion_vector_blobs
    partial: list[str] = []

    def write_partial_then_fail(path, *args, **kwargs):
        # only the driver-side writer fails; executor tasks import the
        # dv module fresh, so this patch never reaches them
        if sys._getframe(1).f_code.co_name != "_write_deletion_vectors_local":
            return real(path, *args, **kwargs)
        Path(path).write_bytes(b"PFA1")
        partial.append(path)
        raise OSError("injected container write failure")

    monkeypatch.setattr(dv_mod, "write_deletion_vector_blobs", write_partial_then_fail)
    with caplog.at_level(logging.WARNING, logger="lakekeeper_spark.format.icelite"):
        t.delete_where("id % 2 = 0 AND id >= 10", mode="merge-on-read")
    assert partial and not any(os.path.exists(p) for p in partial)
    assert "injected container write failure" in caplog.text
    want = [i for i in range(35) if i < 10 or i % 2]
    assert sorted(r.id for r in t.scan().collect()) == want
    meta = t.metadata()
    loc = meta["location"]
    referenced = {
        os.path.join(loc, e["path"])
        for s in meta["snapshots"]
        for e in snapshot_entries(s)
    }
    on_disk = {str(p) for p in Path(loc).rglob("*.puffin")}
    assert on_disk and on_disk <= referenced
