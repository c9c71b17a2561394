"""Benchmark entry point.

    python3 perfbench/run.py --workload <query_mix|table_lifecycle|rest_catalog>
                             --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The workload builds its inputs from the
seed, sets up, measures for about `--seconds`, checks the program's
outputs and prints two lines on stdout: a report (box facts and every
number the run produced) and, last, the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are the end-to-end ones, with `--trace 1`
the per-layer ones (see layers.py). All files go to a run directory under
`.perfbench_runs/` in the checkout, which is removed at the end.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import sys
import tempfile
import time
from pathlib import Path
from types import SimpleNamespace

sys.path.insert(0, str(Path(__file__).resolve().parent))

from common import ROOT, box_facts, cpu_ticks, loadavg, log, nproc, steal_pct  # noqa: E402
from layers import END_TO_END, per_layer  # noqa: E402

WORKLOADS = {
    "query_mix": "wl_query_mix",
    "table_lifecycle": "wl_table_lifecycle",
    "rest_catalog": "wl_rest_catalog",
}


def _program_present() -> bool:
    return (ROOT / "lakekeeper_spark" / "__init__.py").is_file()


def _hygiene(run_dir: Path) -> Path:
    """Own TMPDIR per workload run, Spark sized to the box, session
    defaults for driver memory."""
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = None
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ.pop("SPARK_GRAFT_DRIVER_MEM", None)
    return tmp


def _metrics(values: dict[str, float], units: dict[str, str]) -> dict[str, dict]:
    return {
        name: {"value": float(values.get(name, 0.0)), "unit": unit}
        for name, unit in units.items()
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not _program_present():
        log("perfbench: lakekeeper_spark/ not found next to perfbench/; "
            "run from the root of a full checkout")
        return 2

    run_dir = ROOT / ".perfbench_runs" / f"{args.workload}-s{args.seed}-p{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    try:
        tmp = _hygiene(run_dir)
        sys.path.insert(0, str(ROOT))
        facts = box_facts(args.seed)
        ctx = SimpleNamespace(
            seed=args.seed, seconds=args.seconds, trace=bool(args.trace),
            run_dir=run_dir, tmp_dir=tmp,
        )
        wl = importlib.import_module(WORKLOADS[args.workload])
        t0 = time.perf_counter()
        res = wl.run(ctx)
        # lkspark_* dirs the program left in its TMPDIR (counted, then
        # removed with the run directory)
        left = sorted(p.name for p in tmp.glob("lkspark_*"))
        res["per_layer"]["harness.tmp_dirs_left"] = len(left)
        facts["loadavg_end"] = loadavg()
        facts["steal_pct"] = round(steal_pct(facts.pop("cpu_ticks_start"), cpu_ticks()), 2)
        facts["wall_s"] = round(time.perf_counter() - t0, 3)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            run_dir.parent.rmdir()
        except OSError:
            pass

    if args.trace:
        metrics = _metrics(res["per_layer"], per_layer())
    else:
        metrics = _metrics(res["end_to_end"], END_TO_END)
    report = {
        "workload": args.workload,
        "trace": args.trace,
        "box": facts,
        "end_to_end": res["end_to_end"],
        "per_layer": res["per_layer"] if args.trace else {},
        "structure": res.get("structure", {}),
        "detail": res.get("detail", {}),
        "tmp_dirs_left": left[:20],
    }
    print(json.dumps({"report": report}, sort_keys=True, default=str))
    print(json.dumps({
        "correct": bool(res["correct"]),
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
