"""Benchmark for docling_japanese_books_spark: one command, one workload.

    python3 perfbench/run.py --workload extract_resume --seed 1 --seconds 15 --trace 0

Run from the repository root. It generates the workload's inputs from the
seed, starts a local[4] session with the package's production config
(``get_spark(cores=4)``), runs one warm-up op, measures ops for
``--seconds``, checks every output, and prints a readable report followed
by one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics of
BENCHMARK.json; with ``--trace 1`` they are its per-layer metrics, from a
run that also records spans around every call into the package (written to
.perfbench_out/trace-<workload>-<seed>.jsonl) and probes each layer.
Layers a workload never calls report 0. Scratch files live under
.perfbench_work/ and are removed at exit.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import sys
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

from harness import Bench, log, prepare_env  # noqa: E402
from metrics import median, self_time_by_module, tail  # noqa: E402

WORKLOADS = ("extract_resume", "headline_queries")


def end_to_end(res) -> dict:
    return {
        "setup_s": (res.setup_s, "s"),
        "op_s_p50": (median(res.walls), "s"),
        "docs_per_s": (res.docs / res.rate_wall_s, "docs/s"),
    }


def report(workload: str, seed: int, res, e2e: dict, spans) -> None:
    """Human-readable lines: every end-to-end metric, plus the ones that are
    only defined on some workloads or need more samples than a run has."""
    out = [f"workload {workload} seed {seed}: {len(res.walls)} ops measured"]
    for name, (value, unit) in e2e.items():
        out.append(f"  {name:<20} {value:12.4f} {unit}")
    out.append(f"  {'peak_rss_mb':<20} {res.peak_rss_mb:12.4f} MB")
    t = tail(res.walls)
    if t:
        out.append(f"  {'op_s_tail':<20} {t.value:12.4f} s  (p{t.percentile:.1f} of n={t.n})")
    else:
        out.append(f"  {'op_s_tail':<20}          n/a    (n={len(res.walls)}, needs 11)")
    if "headline_s" in res.extra:
        out.append(f"  {'headline_s':<20} {res.extra['headline_s']:12.4f} s")
    if "scaling_efficiency" in res.per_layer:
        out.append(f"  {'scaling_efficiency':<20} {res.per_layer['scaling_efficiency']:12.4f} ratio")
    out.append(f"  {'failed_frac':<20} {res.failed / res.attempted:12.4f} ratio "
               f"({res.failed} of {res.attempted})")
    out.append(f"  op walls (s): {[round(w, 3) for w in res.walls]}")
    left = res.extra.get("cached_relations_left", [])
    out.append(f"  cached relations left by the previous op: {left}")
    for p in res.problems:
        out.append(f"  PROBLEM: {p.splitlines()[0]}")
    if spans:
        out.append("  self time by module (s):")
        for mod, s in sorted(self_time_by_module(spans).items(), key=lambda kv: -kv[1]):
            out.append(f"    {mod:<40} {s:10.4f}")
    print("\n".join(out), flush=True)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    sys.path.insert(0, str(ROOT))
    try:
        import docling_japanese_books_spark  # noqa: F401
        import workloads
    except ImportError as ex:
        log(f"cannot import the package under test from {ROOT}: {ex}")
        return 2
    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    prepare_env(ROOT, work)

    bench = None
    try:
        bench = Bench(work, trace=bool(args.trace))
        res = workloads.WORKLOADS[args.workload](bench, args.seed, args.seconds)
        spans = list(bench.tracer.spans)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if bench is not None:
            bench.close()
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            work.parent.rmdir()  # only when no other run is using it

    e2e = end_to_end(res)
    report(args.workload, args.seed, res, e2e, spans)
    if args.trace:
        bench.tracer.write(ROOT / ".perfbench_out" / f"trace-{args.workload}-{args.seed}.jsonl")
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        layers = dict(res.per_layer)
        layers["session.start_s"] = median(bench.tracer.durations("session.start"))
        layers["peak_rss_mb"] = res.peak_rss_mb
        unknown = set(layers) - set(units)
        if unknown:
            log(f"per-layer metrics missing from BENCHMARK.json: {sorted(unknown)}")
            return 1
        missing = sorted(set(units) - set(layers))
        log(f"{len(missing)} per-layer metrics are 0 (layer not called): {missing}")
        metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": u} for k, u in units.items()}
    else:
        names = [m["name"] for m in spec["end_to_end"]]
        if set(names) != set(e2e):
            log(f"end-to-end metrics {sorted(e2e)} do not match BENCHMARK.json {names}")
            return 1
        metrics = {k: {"value": float(e2e[k][0]), "unit": e2e[k][1]} for k in names}
    print(
        json.dumps(
            {
                "correct": res.failed == 0,
                "attempted": res.attempted,
                "failed": res.failed,
                "metrics": metrics,
            }
        ),
        flush=True,
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
