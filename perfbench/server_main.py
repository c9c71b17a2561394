"""Child-process launcher for the program's REST catalog server.

    python3 perfbench/server_main.py <state_dir> <trace 0|1>

Starts `RestCatalogServer` over a SQLite `Metastore` in `state_dir`, prints
`{"url": ...}` on stdout and then reads commands from stdin, one per line:

- `trace on` / `trace off`: start or stop recording spans;
- `stats`: print a JSON summary of the spans recorded so far;
- `stop` (or end of input): print the summary, shut down and exit.

With trace 1, wrappers around `Catalog`, `Metastore` and the request
dispatch of the server's handler are installed here, in the child, so the
server's own process records its spans.
"""

from __future__ import annotations

import json
import sys
import threading
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
sys.path.insert(0, str(HERE.parent))

from spans import Tracer  # noqa: E402


class _Pending:
    """Requests in flight inside the handler, and the most seen at once."""

    def __init__(self) -> None:
        self.now = 0
        self.max = 0
        self.lock = threading.Lock()


def _install(tracer: Tracer, pending: _Pending) -> None:
    from lakekeeper_spark.catalog.catalog import Catalog
    from lakekeeper_spark.catalog.metastore import Metastore
    from lakekeeper_spark.rest import server

    tracer.wrap_class(Catalog, "catalog")
    tracer.wrap_class(
        Metastore, "catalog.metastore",
        ["begin", "commit", "rollback", "record_endpoint"],
    )
    handler = server._Handler
    orig_dispatch = handler._dispatch
    orig_reply = handler._reply

    def dispatch(self, method):
        with pending.lock:
            pending.now += 1
            pending.max = max(pending.max, pending.now)
        try:
            return tracer.call("rest.server.handler", orig_dispatch, (self, method), {})
        finally:
            with pending.lock:
                pending.now -= 1

    def reply(self, code, payload=None, headers=None, head_only=False):
        if tracer.active and payload is not None:
            # Content-Length the client will read; serialised once more
            # here only while tracing
            stats["response_bytes"] += len(json.dumps(payload))
            stats["responses"] += 1
        if tracer.active and code == 304:
            stats["304"] += 1
        return orig_reply(self, code, payload, headers, head_only)

    stats = {"response_bytes": 0, "responses": 0, "304": 0}
    handler._dispatch = dispatch
    handler._reply = reply
    _install.stats = stats  # type: ignore[attr-defined]


def summary(tracer: Tracer, pending: _Pending) -> dict:
    spans = tracer.summary()
    # write transaction: BEGIN IMMEDIATE .. COMMIT/ROLLBACK on one thread;
    # lock wait: time inside BEGIN IMMEDIATE itself
    txn_s, open_at = 0.0, {}
    for _sid, _par, _op, name, t0, t1, th in sorted(tracer.spans, key=lambda s: s[4]):
        if name == "catalog.metastore.begin":
            open_at[th] = t0
        elif name in ("catalog.metastore.commit", "catalog.metastore.rollback") and th in open_at:
            txn_s += t1 - open_at.pop(th)
    return {
        "spans": spans,
        "write_txn_s": txn_s,
        "pending_max": pending.max,
        "http": getattr(_install, "stats", {}),
        "parentage": tracer.parentage(),
        "errors": {f"{n}:{e}": c for (n, e), c in tracer.errors.items()},
    }


def server_layers(srv: dict, client_spans: dict | None = None) -> dict[str, float]:
    """Per-call server-side numbers from the REST child's span summary."""
    spans = srv.get("spans", {})
    out: dict[str, float] = {}

    def per_call(name: str) -> float:
        rec = spans.get(name)
        return rec["s"] / rec["calls"] if rec and rec["calls"] else 0.0

    out["catalog.load_table.s"] = per_call("catalog.load_table")
    out["catalog.commit_transaction.s"] = per_call("catalog.commit_transaction")
    begins = spans.get("catalog.metastore.begin", {}).get("calls", 0)
    out["catalog.metastore.write_txn_s"] = srv.get("write_txn_s", 0.0) / begins if begins else 0.0
    out["catalog.metastore.lock_wait_s"] = per_call("catalog.metastore.begin")
    rec = spans.get("catalog.metastore.record_endpoint", {"calls": 0, "s": 0.0})
    out["catalog.metastore.record_endpoint.calls"] = rec["calls"]
    out["catalog.metastore.record_endpoint.s"] = per_call("catalog.metastore.record_endpoint")
    handler = spans.get("rest.server.handler", {"calls": 0, "s": 0.0})
    out["rest.server.handler_s"] = per_call("rest.server.handler")
    out["rest.server.pending_max"] = srv.get("pending_max", 0)
    http = srv.get("http", {})
    if http.get("responses"):
        out["rest.response_bytes"] = http["response_bytes"] / http["responses"]
    if client_spans is not None:
        client = [v for k, v in client_spans.items() if k.startswith("rest.client.")]
        calls = sum(v["calls"] for v in client)
        if calls and handler["calls"]:
            out["rest.transport_s"] = max(
                0.0, sum(v["self_s"] for v in client) / calls - out["rest.server.handler_s"])
    loads = spans.get("catalog.load_table", {}).get("calls", 0)
    if loads:
        out["catalog.etag_304_ratio"] = http.get("304", 0) / loads
    out["catalog.commit.attempts"] = spans.get("catalog.commit_transaction", {}).get("calls", 0)
    out["catalog.commit.conflicts"] = srv.get("errors", {}).get(
        "catalog.commit_transaction:CommitConflict", 0)
    return out


def main() -> int:
    state = Path(sys.argv[1])
    trace = sys.argv[2] == "1"
    state.mkdir(parents=True, exist_ok=True)
    from lakekeeper_spark.catalog.catalog import Catalog
    from lakekeeper_spark.catalog.metastore import Metastore
    from lakekeeper_spark.rest.server import RestCatalogServer

    tracer, pending = Tracer(), _Pending()
    if trace:
        _install(tracer, pending)
    t0 = time.perf_counter()
    server = RestCatalogServer(Catalog(Metastore(str(state / "metastore.db")))).start()
    print(json.dumps({"url": server.url, "start_s": time.perf_counter() - t0}), flush=True)
    try:
        for line in sys.stdin:
            cmd = line.strip()
            if cmd == "trace on":
                tracer.active = trace
            elif cmd == "trace off":
                tracer.active = False
            elif cmd == "stats":
                print(json.dumps(summary(tracer, pending)), flush=True)
            elif cmd == "stop":
                break
    finally:
        server.stop()
    print(json.dumps(summary(tracer, pending)), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
