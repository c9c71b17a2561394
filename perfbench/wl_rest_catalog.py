"""rest_catalog: open-loop REST traffic against the catalog server. No Spark.

The server (`RestCatalogServer` over a SQLite `Metastore`) runs in a child
process. The generator sends requests on a fixed schedule from at most
`nproc` sender threads, over a ladder of offered rates; each request is
timed from the moment it was due, so a stall also counts against the
requests queued behind it.

Mix: about 80% loadTable (half revalidated with If-None-Match), 10%
list/head, 10% commits (single-table add-snapshot commits that retry on
409 the way engines do, plus multi-table property transactions). Tables
are picked with Zipf skew, in the same proportions in every step; four of
them start with long snapshot histories, so metadata ranges from kilobytes
to hundreds of kilobytes.
"""

from __future__ import annotations

import bisect
import http.client
import itertools
import json
import random
import re
import threading
import time
from collections import defaultdict

from common import ServerProc, median, nproc, quantile, tail
from server_main import server_layers

N_TABLES = 32
# snapshots seeded into four tables, by Zipf popularity rank (0 = hottest);
# the hottest table carries the longest history, so large-metadata loads
# and commits are a steady share of the traffic, not rare events
HISTORY = {0: 1000, 3: 300, 7: 100, 15: 30}
REF_RATE = 25.0  # requests/s at which latencies are reported (lightly loaded)
LADDER = (50.0, 100.0, 150.0, 200.0, 250.0)  # rates probed for max_rate_rps
LIMIT_MS = 100.0  # tail latency limit for a rate to count as sustained
COMMIT_RETRIES = 4
WINDOWS = 4  # consecutive slices of a step, see `read_p50_ms`
KINDS = ["load", "load_etag", "list", "head", "commit", "txn"]
READS = ("load", "load_etag", "list", "head")
KIND_WEIGHTS = [40, 40, 5, 5, 8, 2]
SETUPS = 3
SCHEMA = {
    "type": "struct",
    "schema-id": 0,
    "fields": [
        {"id": 1, "name": "id", "type": "long", "required": False},
        {"id": 2, "name": "v", "type": "string", "required": False},
    ],
}


def _snapshot(sid: int, parent: int | None) -> dict:
    return {
        "snapshot-id": sid,
        "parent-snapshot-id": parent,
        "timestamp-ms": 1_700_000_000_000 + sid,
        "summary": {"operation": "append", "added-data-files": "1"},
        "manifest-list": f"file:///bench/snap-{sid}.avro",
        "schema-id": 0,
    }


def _snapshot_updates(sid: int, parent: int | None) -> list[dict]:
    return [
        {"action": "add-snapshot", "snapshot": _snapshot(sid, parent)},
        {"action": "set-snapshot-ref", "ref-name": "main", "type": "branch",
         "snapshot-id": sid},
    ]


def _setup(ctx, i: int, rng: random.Random):
    from lakekeeper_spark.rest.client import RestCatalogClient

    server = ServerProc(ctx.run_dir / f"catalog{i}", ctx.trace)
    try:
        client = RestCatalogClient(server.url)
        client.create_warehouse("wh", str(ctx.run_dir / f"warehouse{i}"))
        client.create_namespace("wh", ["ns"])
        names = [f"t{j:02d}" for j in range(N_TABLES)]
        for n in names:
            client.create_table("wh", ["ns"], n, SCHEMA)
        # long histories on a minority at fixed popularity ranks; the seed
        # only decides which table name holds which rank
        ranked = list(names)
        rng.shuffle(ranked)
        next_sid = 1
        for rank, n_snaps in HISTORY.items():
            parent = None
            for lo in range(0, n_snaps, 250):
                ups = []
                for _ in range(min(250, n_snaps - lo)):
                    ups.append({"action": "add-snapshot",
                                "snapshot": _snapshot(next_sid, parent)})
                    parent = next_sid
                    next_sid += 1
                ups.append({"action": "set-snapshot-ref", "ref-name": "main",
                            "type": "branch", "snapshot-id": parent})
                client.commit_table("wh", ["ns"], ranked[rank], [], ups)
    except BaseException:
        server.stop()
        raise
    return server, ranked, next_sid


class _Conn:
    """One sender's keep-alive HTTP/1.1 connection to the server, the way
    engine REST clients pool connections. Bodies are read in full but not
    parsed."""

    def __init__(self, url: str) -> None:
        host, port = url.removeprefix("http://").split(":")
        self.conn = http.client.HTTPConnection(host, int(port), timeout=60)

    def request(self, method: str, path: str, body: dict | None = None,
                headers: dict | None = None) -> tuple[int, bytes, str | None]:
        data = json.dumps(body).encode() if body is not None else None
        hdrs = dict(headers or {})
        if data is not None:
            hdrs["Content-Type"] = "application/json"
        self.conn.request(method, path, body=data, headers=hdrs)
        resp = self.conn.getresponse()
        raw = resp.read()
        return resp.status, raw, resp.getheader("ETag")

    def close(self) -> None:
        self.conn.close()


_TABLES = "/catalog/v1/wh/namespaces/ns/tables"
# the one field a commit needs from a load response; found without parsing
# metadata of up to hundreds of KB, which would hold the generator's GIL
# while other senders are due
_CURRENT = re.compile(rb'"current-snapshot-id":\s*(-?\d+|null)')


class _Load:
    """Shared generator state: per-table ETags, the commit log used by the
    end-of-run checks, and the problems found."""

    def __init__(self, url: str, ranked: list[str], next_sid: int) -> None:
        self.url = url
        self.names = ranked  # hottest first
        self.weights = [1.0 / (r + 1) ** 1.1 for r in range(len(ranked))]
        self.lock = threading.Lock()
        self.etags: dict[str, str] = {}
        self.next_sid = next_sid
        self.commits: dict[str, list[tuple[float, float, str]]] = defaultdict(list)
        self.seen_seq: dict[tuple[int, str], int] = {}
        self.problems: list[str] = []  # failed checks
        self.errors: list[str] = []  # failed requests
        self.prop_seq = 0
        self.conflicts = 0

    def new_ids(self) -> tuple[int, str]:
        with self.lock:
            self.next_sid += 1
            self.prop_seq += 1
            return self.next_sid, str(self.prop_seq)

    def _expect(self, what: str, status: int, ok: tuple[int, ...]) -> None:
        if status not in ok:
            raise RuntimeError(f"{what}: HTTP {status}")

    # ---- one request ---------------------------------------------------
    def pick(self, n: int, rng: random.Random) -> list[str]:
        """`n` table names in Zipf proportion by systematic sampling: each
        table gets the floor or the ceiling of its share, so the share of
        large-metadata requests is the same in every run."""
        cum = list(itertools.accumulate(self.weights))
        u = rng.random()
        return [self.names[min(bisect.bisect_right(cum, (i + u) / n * cum[-1]),
                               len(self.names) - 1)] for i in range(n)]

    def do(self, conn: _Conn, kind: str, name: str, rng: random.Random, tid: int) -> None:
        path = f"{_TABLES}/{name}"
        if kind in ("load", "load_etag"):
            etag = self.etags.get(name) if kind == "load_etag" else None
            status, _raw, got = conn.request(
                "GET", path, headers={"If-None-Match": etag} if etag else None)
            self._expect(f"load {name}", status, (200, 304))
            got = got or etag
            seq = int(got.strip('W/"'))
            key = (tid, name)
            if seq < self.seen_seq.get(key, -1):
                self.problems.append(f"{name}: metadata sequence went back to {seq}")
            self.seen_seq[key] = seq
            self.etags[name] = got
        elif kind == "list":
            status, _raw, _ = conn.request("GET", _TABLES)
            self._expect("list", status, (200,))
        elif kind == "head":
            status, _raw, _ = conn.request("HEAD", path)
            self._expect(f"head {name}", status, (204,))
        elif kind == "commit":
            # load, then commit a new snapshot under assert-ref-snapshot-id;
            # a 409 reloads and retries, as engines do
            for attempt in range(COMMIT_RETRIES + 1):
                status, raw, _ = conn.request("GET", path)
                self._expect(f"load {name}", status, (200,))
                m = _CURRENT.search(raw)
                if m is None:
                    raise RuntimeError(f"load {name}: no current-snapshot-id")
                cur = None if m[1] == b"null" else int(m[1])
                sid, prop = self.new_ids()
                t0 = time.perf_counter()
                status, _raw, _ = conn.request("POST", path, {
                    "requirements": [{"type": "assert-ref-snapshot-id", "ref": "main",
                                      "snapshot-id": cur}],
                    "updates": _snapshot_updates(sid, cur)
                    + [{"action": "set-properties", "updates": {"bench.last": prop}}],
                })
                if status == 409:
                    with self.lock:
                        self.conflicts += 1
                    if attempt == COMMIT_RETRIES:
                        raise RuntimeError(f"commit {name}: 409 after {attempt} retries")
                    continue
                self._expect(f"commit {name}", status, (200,))
                with self.lock:
                    self.commits[name].append((t0, time.perf_counter(), prop))
                return
        elif kind == "txn":
            other = rng.choices(self.names, self.weights)[0]
            pair = [name] if other == name else [name, other]
            _sid, prop = self.new_ids()
            t0 = time.perf_counter()
            status, _raw, _ = conn.request("POST", "/catalog/v1/wh/transactions/commit", {
                "table-changes": [
                    {"identifier": {"namespace": ["ns"], "name": n}, "requirements": [],
                     "updates": [{"action": "set-properties",
                                  "updates": {"bench.last": prop}}]}
                    for n in pair
                ]})
            self._expect("transaction", status, (200, 204))
            with self.lock:
                for n in pair:
                    self.commits[n].append((t0, time.perf_counter(), prop))

    # ---- one step of the ladder -----------------------------------------
    def step(self, rate: float, seconds: float, seed: int, threads: int) -> dict:
        n = max(1, int(rate * seconds))
        rng = random.Random(seed)
        # the exact mix in every step, in seeded order
        total = sum(KIND_WEIGHTS)
        kinds = [k for k, w in zip(KINDS, KIND_WEIGHTS) for _ in range(round(n * w / total))]
        kinds += ["load"] * (n - len(kinds))
        # tables in Zipf proportion within every kind
        reqs = [(k, name) for k in KINDS for name in self.pick(kinds.count(k), rng)]
        rng.shuffle(reqs)
        n = len(reqs)
        results: list[tuple[int, str, float, float, bool]] = []  # i, kind, latency, late, ok
        start = time.perf_counter() + 0.05

        def sender(tid: int) -> None:
            conn = _Conn(self.url)
            r = random.Random(seed * 1000 + tid)
            out = []
            for i in range(tid, n, threads):
                due = start + i / rate
                now = time.perf_counter()
                if due > now:
                    time.sleep(due - now)
                sent = time.perf_counter()
                ok = True
                try:
                    self.do(conn, *reqs[i], r, tid)
                except Exception as e:  # noqa: BLE001 - counted as a failed request
                    ok = False
                    with self.lock:
                        self.errors.append(f"{reqs[i][0]}: {type(e).__name__}: {e}"[:200])
                done = time.perf_counter()
                out.append((i, reqs[i][0], done - due, sent - due, ok))
            conn.close()
            with self.lock:
                results.extend(out)

        ts = [threading.Thread(target=sender, args=(t,)) for t in range(threads)]
        for t in ts:
            t.start()
        for t in ts:
            t.join()
        wall = time.perf_counter() - start
        results.sort()
        lat = [x[2] for x in results if x[4]]
        ok = all(x[4] for x in results)
        pct, tail_v = tail(lat)
        # read latency: the median of the read medians of consecutive
        # slices of the schedule. Commits (all above 40 ms) would put the
        # pooled median of every request on the edge between fast reads
        # and large-metadata loads, where it jumped by half between runs;
        # a box slowdown that covers less than half of the step does not
        # move the median of the slices.
        chunk = -(-len(results) // WINDOWS)
        win = [1e3 * median([x[2] for x in results[j:j + chunk] if x[4] and x[1] in READS])
               for j in range(0, len(results), chunk)]
        return {
            "rate": rate,
            "requests": len(results),
            "failed": sum(1 for x in results if not x[4]),
            "p50_ms": 1e3 * median(lat),
            "read_p50_ms": median(win),
            "read_p50_by_slice_ms": win,
            "mean_ms": 1e3 * sum(lat) / max(1, len(lat)),
            "tail_pct": pct,
            "tail_ms": 1e3 * tail_v,
            "late_p99_ms": 1e3 * quantile([x[3] for x in results], 0.99),
            "achieved_rps": len(results) / wall,
            "wall_s": wall,
            "ok": ok,
            "by_kind": {
                k: [1e3 * x[2] for x in results if x[1] == k and x[4]]
                for k in KINDS
            },
        }

    def check_final(self) -> None:
        """The last committed property of each table is visible."""
        from lakekeeper_spark.rest.client import RestCatalogClient

        client = RestCatalogClient(self.url)
        for name, log in self.commits.items():
            meta, _ = client.load_table("wh", ["ns"], name)
            have = meta.get("properties", {}).get("bench.last")
            log = sorted(log, key=lambda c: c[1])
            last = log[-1]
            overlapped = any(c[1] > last[0] for c in log[:-1])
            if overlapped:
                if have not in {c[2] for c in log}:
                    self.problems.append(f"{name}: property {have} never committed")
            elif have != last[2]:
                self.problems.append(f"{name}: last commit {last[2]} not visible ({have})")


def _sustained(s: dict) -> bool:
    """A step meets the limit: every request served, tail latency within
    LIMIT_MS and at least 90% of the offered rate achieved."""
    return s["ok"] and s["tail_ms"] <= LIMIT_MS and s["achieved_rps"] >= 0.9 * s["rate"]


def _max_rate(steps: list[dict]) -> float:
    """Highest offered rate whose step is sustained, interpolated between
    the last passing and the first failing step on tail latency."""
    best, prev = 0.0, None
    for s in steps:
        if not _sustained(s):
            if prev is not None and s["tail_ms"] > prev["tail_ms"]:
                frac = (LIMIT_MS - prev["tail_ms"]) / (s["tail_ms"] - prev["tail_ms"])
                best = prev["rate"] + max(0.0, min(1.0, frac)) * (s["rate"] - prev["rate"])
            return best
        best, prev = s["rate"], s
    return best


def run(ctx) -> dict:
    rng = random.Random(ctx.seed)
    threads = nproc()
    setup_times = []
    server = None
    for i in range(SETUPS):
        t0 = time.perf_counter()
        server, names, next_sid = _setup(ctx, i, random.Random(ctx.seed))
        setup_times.append(time.perf_counter() - t0)
        if i < SETUPS - 1:
            server.stop()
    try:
        load = _Load(server.url, names, next_sid)
        warm = load.step(REF_RATE, 2.0, rng.randrange(1 << 30), threads)  # not recorded
        ref_s = 0.75 * ctx.seconds
        step_s = 0.25 * ctx.seconds / len(LADDER)
        cpu0 = server.cpu_s()
        ref = load.step(REF_RATE, ref_s, rng.randrange(1 << 30), threads)
        ref_cpu_s = server.cpu_s() - cpu0
        traced = None
        srv_stats = {}
        if ctx.trace:
            server.send("trace on")
            traced = load.step(REF_RATE, ref_s, rng.randrange(1 << 30), threads)
            server.send("trace off")
            srv_stats = server.stats()
        # the ladder stops at the first rate the server does not sustain
        steps = [ref]
        for rate in LADDER:
            steps.append(load.step(rate, step_s, rng.randrange(1 << 30), threads))
            if not _sustained(steps[-1]):
                break
        load.check_final()
        rss = server.peak_rss_mb()
    finally:
        srv_final = server.stop()

    max_rate = _max_rate(steps)
    loads = ref["by_kind"]["load"] + ref["by_kind"]["load_etag"]
    commits = ref["by_kind"]["commit"] + ref["by_kind"]["txn"]
    timed = steps + [warm] + ([traced] if traced else [])
    attempted = sum(s["requests"] for s in timed) + len(load.commits)
    failed = sum(s["failed"] for s in timed) + len(load.problems)
    e2e = {
        "setup_s": median(setup_times),
        # requests served per second of the server's own CPU time: the rate
        # one busy core sustains (the server runs under one GIL)
        "ops_per_s": ref["requests"] / max(ref_cpu_s, 1e-9),
        "latency_p50_ms": ref["read_p50_ms"],
        "latency_tail_ms": ref["tail_ms"],
    }
    layer: dict[str, float] = {
        "rest.load_p50_ms": median(loads),
        "rest.load_p99_ms": quantile(loads, 0.99),
        "rest.commit_p50_ms": median(commits),
        "rest.commit_p99_ms": quantile(commits, 0.99),
        "rest.max_rate_rps": max_rate,
        "process.peak_rss_mb": rss,
        "harness.send_late_p99_ms": ref["late_p99_ms"],
    }
    if traced is not None:
        layer.update(server_layers(srv_stats))
        layer["harness.trace_overhead_pct"] = 100.0 * (
            traced["read_p50_ms"] / ref["read_p50_ms"] - 1.0)
        handler = layer.get("rest.server.handler_s", 0.0)
        # client-observed time per request minus server handler time
        layer["rest.transport_s"] = max(0.0, traced["mean_ms"] / 1e3 - handler)
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "end_to_end": e2e,
        "per_layer": layer,
        "structure": {},
        "detail": {
            "setup_times_s": setup_times,
            "peak_rss_mb": rss,
            "max_rate_rps": max_rate,
            "server_cpu_s_at_reference": ref_cpu_s,
            "limit_ms": LIMIT_MS,
            "reference_rate_rps": REF_RATE,
            "load_p50_ms": median(loads),
            "load_tail": tail(loads),
            "commit_p50_ms": median(commits),
            "commit_tail": tail(commits),
            "commit_conflicts_client": load.conflicts,
            "steps": [{k: v for k, v in s.items() if k != "by_kind"} for s in steps],
            "traced_step": {k: v for k, v in (traced or {}).items() if k != "by_kind"},
            "server_parentage": srv_final.get("parentage", {}),
            "problems": load.problems[:20],
            "errors": load.errors[:20],
        },
    }
