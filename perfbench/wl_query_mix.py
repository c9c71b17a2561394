"""query_mix: registry queries, closed loop, one client, local[nproc].

Setup generates the seeded inputs, starts the program's session and runs
every query of MIX once, collecting its result and checking it against
the registry's DuckDB oracle (outside any timing). The measured loop then
runs whole passes over MIX in a seed-shuffled order, each query to
completion with the noop sink, as bench.py does. Each execution runs under
its own Spark job group, so jobs, stages and tasks are counted per query
in every run.
"""

from __future__ import annotations

import os
import random
import time
from collections import defaultdict

import datagen
import oracle
import spark_env
from common import (group_counts, hd_median, log, median, parse_event_log, tail,
                    tree_peak_rss_mb, union_ms)
from layers import FAMILIES, family_of
from spans import Tracer

# From bench.py's HEADLINE, one to four per family, the cheaper ones so a
# run fits its time budget; every one has an exact DuckDB oracle. c04 is
# left out (icelite work belongs to table_lifecycle).
MIX = [
    "q01_pricing_summary",
    "q06_forecast_revenue",
    "q13_customer_distribution",
    "w01_top_orders_per_customer",
    "e02_hourly_rollup",
    "e03_sessionization",
    "d01_dedup_exact",
    "t01_text_stats",
    "t03_fingerprint",
    "t07_skipgram_pairs",
    "s01_knn_bruteforce",
    "h03_countmin_heavy_hitters",
    "st01_stream_hourly_rollup",
]
MIN_PASSES = 2


def _install_tracing(tracer: Tracer) -> None:
    from lakekeeper_spark.functions import localframe

    tracer.wrap_everywhere(localframe, "local_df", "functions.local_df")


def run(ctx) -> dict:
    rng = random.Random(ctx.seed)
    t_start = time.perf_counter()
    data_dir = str(ctx.run_dir / "data")
    datagen.write_tables(data_dir, ctx.seed)
    ev_dir = ctx.run_dir / "eventlog" if ctx.trace else None
    spark_env.configure(ctx.run_dir, ctx.tmp_dir, ev_dir)
    spark, start_s = spark_env.start("perfbench-query-mix")
    tracer = Tracer()
    try:
        from lakekeeper_spark.data import TABLES
        from lakekeeper_spark.registry import load_registry

        reg = load_registry()
        if ctx.trace:
            _install_tracing(tracer)
        sc = spark.sparkContext
        con = oracle.connect(data_dir, TABLES)

        attempted = failed = 0
        check_s = 0.0
        problems: list[str] = []
        warm: dict[str, float] = {}
        order = list(MIX)
        rng.shuffle(order)
        for name in order:
            attempted += 1
            sc.setJobGroup(f"warm:{name}", name)
            t0 = time.perf_counter()
            try:
                got = reg[name].spark_fn(spark, data_dir).toPandas()
            except Exception as e:  # noqa: BLE001 - a failed query is a failed op
                failed += 1
                problems.append(f"{name}: {type(e).__name__}: {e}"[:300])
                continue
            warm[name] = time.perf_counter() - t0
            t1 = time.perf_counter()
            bad = mismatch_reason(con, reg[name], got)
            check_s += time.perf_counter() - t1
            if bad:
                failed += 1
                problems.append(f"{name}: {bad}")
        con.close()
        setup_s = time.perf_counter() - t_start - check_s
        est_pass = sum(warm.values()) or 1.0

        lat: list[float] = []
        per_query: dict[str, list[tuple[int, float]]] = defaultdict(list)
        counts: dict[str, list[dict[str, int]]] = defaultdict(list)
        n_pass = max(MIN_PASSES, round(ctx.seconds / est_pass))
        t_meas = time.perf_counter()
        for p in range(n_pass):
            rng.shuffle(order)
            for name in order:
                # traced runs trace each query in every other pass, half
                # of the queries in each pass
                tracer.active = ctx.trace and (MIX.index(name) + p) % 2 == 0
                tag = "traced" if tracer.active else "plain"
                attempted += 1
                group = f"p{p}:{tag}:{name}"
                sc.setJobGroup(group, name)
                tracer.op_id = group
                t0 = time.perf_counter()
                try:
                    reg[name].spark_fn(spark, data_dir).write.format("noop").mode(
                        "overwrite"
                    ).save()
                except Exception as e:  # noqa: BLE001
                    failed += 1
                    problems.append(f"{name}: {type(e).__name__}: {e}"[:300])
                    continue
                dt = time.perf_counter() - t0
                lat.append(dt)
                per_query[name].append((p, dt, tracer.active))
                counts[name].append(group_counts(spark, group))
        tracer.active = False
        meas_s = time.perf_counter() - t_meas
        rss, parts = tree_peak_rss_mb(os.getpid())
    finally:
        spark_env.stop(spark)

    structure = {name: cs[0] for name, cs in counts.items()}
    repeats = all(c == cs[0] for cs in counts.values() for c in cs)

    pct, tail_v = tail(lat)
    e2e = {
        "setup_s": setup_s,
        "ops_per_s": len(lat) / sum(lat) if lat else 0.0,
        # the median query: Harrell-Davis median over queries of each
        # one's median latency, so one slow execution cannot move it
        "latency_p50_ms": 1e3 * hd_median([median([x[1] for x in v])
                                           for v in per_query.values()]),
        "latency_tail_ms": 1e3 * tail_v,
    }
    layer: dict[str, float] = {
        "session.start_s": start_s,
        "session.jvm_rss_peak_mb": parts.get("java", 0.0),
        "process.peak_rss_mb": rss,
    }
    if ctx.trace:
        layer.update(_family_layers(ctx, per_query, counts, tracer))
    for m in problems:
        log(f"query_mix: {m}")
    return {
        "correct": not problems,
        "attempted": attempted,
        "failed": failed,
        "end_to_end": e2e,
        "per_layer": layer,
        "structure": structure,
        "detail": {
            "latency_tail_pct": pct,
            "samples": len(lat),
            "passes": n_pass,
            "measured_s": meas_s,
            "check_s": check_s,
            "peak_rss_mb": rss,
            "rss_parts_mb": parts,
            "query_ms": {q: [round(1e3 * x[1], 1) for x in v] for q, v in per_query.items()},
            "structure_repeats_across_passes": repeats,
            "problems": problems,
        },
    }


def mismatch_reason(con, query, got) -> str | None:
    if query.oracle is None:
        return "no oracle"
    return oracle.mismatch(got, con.execute(query.oracle).df())


def _family_layers(ctx, per_query, counts, tracer: Tracer) -> dict[str, float]:
    """Per family, per traced execution: wall, driver gap (wall minus the
    union of its Spark job spans), structural counts and task metrics."""
    ev = parse_event_log(str(ctx.run_dir / "eventlog"))
    local = tracer.by_op("functions.local_df")
    calls = defaultdict(int)
    for _sid, _par, op, name, *_ in tracer.spans:
        if name == "functions.local_df":
            calls[op] += 1
    acc: dict[str, dict[str, list[float]]] = defaultdict(lambda: defaultdict(list))
    local_s: list[float] = []
    local_calls: list[float] = []
    for name, runs in per_query.items():
        fam = family_of(name)
        for (p, wall, traced), c in zip(runs, counts[name]):
            if not traced:
                continue
            group = f"p{p}:traced:{name}"
            e = ev.get(group, {})
            rec = acc[fam]
            rec["wall_s"].append(wall)
            rec["driver_gap_s"].append(max(0.0, wall - union_ms(e.get("jobs", [])) / 1e3))
            for k, v in c.items():
                rec[k].append(v)
            for k in ("shuffle_bytes", "executor_cpu_s", "gc_s", "spill_bytes"):
                rec[k].append(e.get(k, 0))
            local_s.append(local.get(group, 0.0))
            local_calls.append(calls.get(group, 0))
    out: dict[str, float] = {}
    for fam in FAMILIES:
        for k, vals in acc.get(fam, {}).items():
            out[f"queries.{fam}.{k}"] = sum(vals) / len(vals)
    if local_s:
        out["functions.local_df.s"] = sum(local_s) / len(local_s)
        out["functions.local_df.calls"] = sum(local_calls) / len(local_calls)
    ratios = []
    for runs in per_query.values():
        on = [d for _p, d, t in runs if t]
        off = [d for _p, d, t in runs if not t]
        if on and off:
            ratios.append(median(on) / median(off))
    if ratios:
        out["harness.trace_overhead_pct"] = 100.0 * (median(ratios) - 1.0)
    return out
