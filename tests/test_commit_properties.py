"""Property-based tests for the TableUpdate commit engine.

SURVEY.md §5 notes the reference has no property-based testing; this goes
beyond its pure-function commit tests (commit_tables.rs:199-375) by driving
apply_commit with randomized update sequences and asserting the
TableMetadata invariants Iceberg requires after EVERY fold step:

  - pointer validity: current-schema-id / default-spec-id /
    default-sort-order-id / current-snapshot-id always resolve
  - last-column-id is an upper bound over every schema's field ids
  - snapshot-log only references live snapshots
  - apply_commit is pure (input metadata is never mutated) and
    deterministic (same input -> same output)
"""

from __future__ import annotations

import copy

from hypothesis import given, settings
from hypothesis import strategies as st

from lakekeeper_spark.catalog.commit import (
    CommitConflict,
    CommitValidationError,
    apply_commit,
    new_table_metadata,
)

BASE_SCHEMA = {
    "schema-id": 0,
    "fields": [{"id": 1, "name": "id", "type": "int", "required": False}],
}


def _fresh_meta():
    return new_table_metadata("uuid-1", "/tmp/t", copy.deepcopy(BASE_SCHEMA))


@st.composite
def update_sequences(draw):
    """A sequence of structurally-valid updates (they may still conflict
    semantically — the engine must either apply them or raise, never
    corrupt)."""
    n = draw(st.integers(min_value=1, max_value=12))
    updates = []
    next_field = 2
    next_snapshot = 1
    for _ in range(n):
        kind = draw(
            st.sampled_from(
                [
                    "add-schema",
                    "set-current-schema",
                    "add-spec",
                    "set-default-spec",
                    "add-sort-order",
                    "set-default-sort-order",
                    "snapshot",
                    "v3-snapshot",
                    "remove-snapshots",
                    "set-properties",
                    "remove-properties",
                    "remove-snapshot-ref",
                ]
            )
        )
        if kind == "add-schema":
            fields = [
                {"id": i, "name": f"c{i}", "type": "int", "required": False}
                for i in range(1, next_field + 1)
            ]
            next_field += 1
            updates.append(
                {"action": "add-schema", "schema": {"schema-id": -1, "fields": fields}}
            )
        elif kind == "set-current-schema":
            updates.append(
                {"action": "set-current-schema", "schema-id": draw(st.sampled_from([-1, 0]))}
            )
        elif kind == "add-spec":
            updates.append({"action": "add-spec", "spec": {"spec-id": -1, "fields": []}})
        elif kind == "set-default-spec":
            updates.append({"action": "set-default-spec", "spec-id": -1})
        elif kind == "add-sort-order":
            updates.append(
                {"action": "add-sort-order", "sort-order": {"order-id": -1, "fields": []}}
            )
        elif kind == "set-default-sort-order":
            updates.append({"action": "set-default-sort-order", "sort-order-id": -1})
        elif kind == "snapshot":
            sid = next_snapshot
            next_snapshot += 1
            updates.append(
                {
                    "action": "add-snapshot",
                    "snapshot": {
                        "snapshot-id": sid,
                        "timestamp-ms": 1000 + sid,
                        "manifest": [],
                        "summary": {"operation": "append"},
                    },
                }
            )
            updates.append(
                {"action": "set-snapshot-ref", "ref-name": "main", "snapshot-id": sid}
            )
        elif kind == "v3-snapshot":
            # row lineage: the engine stamps first-row-id onto the new
            # snapshot and its data files (inline entries) or descriptors
            sid = next_snapshot
            next_snapshot += 1
            rows = draw(st.integers(min_value=0, max_value=5))
            if draw(st.booleans()):
                files = {"manifest": [{"path": f"d{sid}", "content": "data", "record-count": rows}]}
            else:
                files = {"manifests": [{"path": f"m{sid}", "content": "data", "null-id-rows": rows}]}
            updates.append({"action": "upgrade-format-version", "format-version": 3})
            updates.append(
                {
                    "action": "add-snapshot",
                    "snapshot": {
                        "snapshot-id": sid,
                        "timestamp-ms": 1000 + sid,
                        **files,
                        "summary": {"operation": "append"},
                    },
                }
            )
            updates.append(
                {"action": "set-snapshot-ref", "ref-name": "main", "snapshot-id": sid}
            )
        elif kind == "remove-snapshots":
            ids = st.integers(min_value=1, max_value=max(1, next_snapshot - 1))
            updates.append(
                {
                    "action": "remove-snapshots",
                    "snapshot-ids": draw(st.lists(ids, min_size=1, max_size=2)),
                }
            )
        elif kind == "set-properties":
            key = draw(st.sampled_from(["a", "b", "c"]))
            updates.append({"action": "set-properties", "updates": {key: "v"}})
        elif kind == "remove-properties":
            updates.append(
                {"action": "remove-properties", "removals": [draw(st.sampled_from(["a", "b"]))]}
            )
        elif kind == "remove-snapshot-ref":
            updates.append({"action": "remove-snapshot-ref", "ref-name": "main"})
    return updates


def _check_invariants(meta):
    schema_ids = {s["schema-id"] for s in meta["schemas"]}
    assert meta["current-schema-id"] in schema_ids
    assert meta["default-spec-id"] in {s["spec-id"] for s in meta["partition-specs"]}
    assert meta["default-sort-order-id"] in {o["order-id"] for o in meta["sort-orders"]}
    max_field = max(
        (f["id"] for s in meta["schemas"] for f in s.get("fields", [])), default=0
    )
    assert meta["last-column-id"] >= max_field
    snap_ids = {s["snapshot-id"] for s in meta["snapshots"]}
    if meta["current-snapshot-id"] is not None:
        assert meta["current-snapshot-id"] in snap_ids
    assert all(e["snapshot-id"] in snap_ids for e in meta["snapshot-log"])
    for name, ref in meta["refs"].items():
        assert ref["snapshot-id"] in snap_ids, name


@settings(max_examples=60, deadline=None)
@given(update_sequences())
def test_commit_engine_invariants_hold(updates):
    meta = _fresh_meta()
    for upd in updates:
        arg = meta
        before = copy.deepcopy(meta)
        try:
            meta = apply_commit(arg, [], [upd])
        except (CommitConflict, CommitValidationError):
            # a rejected update must leave metadata untouched
            assert arg == before
            continue
        assert arg == before  # purity: the input dict is never mutated
        _check_invariants(meta)


@settings(max_examples=30, deadline=None)
@given(update_sequences())
def test_commit_engine_pure_and_deterministic(updates):
    meta = _fresh_meta()
    frozen = copy.deepcopy(meta)
    try:
        out1 = apply_commit(meta, [], updates)
    except (CommitConflict, CommitValidationError):
        assert meta == frozen
        return
    assert meta == frozen  # purity: input untouched
    out2 = apply_commit(meta, [], updates)
    out1.pop("last-updated-ms"), out2.pop("last-updated-ms")
    for s in out1["snapshots"] + out2["snapshots"]:
        s.pop("timestamp-ms", None)
    assert out1 == out2  # determinism (modulo wall-clock stamps)
