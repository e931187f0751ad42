"""Benchmark entry point. Run from the root of a data_cube_spark checkout:

    python3 perfbench/run.py --workload cube_interactive --seed 1 --seconds 20 --trace 0

One process runs one workload: it generates the seeded inputs, starts one
Spark session, sets up ``SETUP_REPS`` times (``setup_s`` is the median),
runs an untimed warm-up cycle over every op class, then a fixed number of
timed cycles (``--seconds`` over the workload's nominal cycle time), and
checks every output outside the timed region. With ``--trace 0`` it
reports the end-to-end metrics of ``BENCHMARK.json``; with ``--trace 1``
the per-layer ones, alternating untraced and traced cycles so that
``trace.overhead_ratio`` compares the two. The last line of standard
output is one JSON object.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

from harness import (Session, Tracer, execute_metrics, latency_metrics, median,
                     overhead_ratio)
from workloads import SETUP_REPS, WORKLOADS

WORK_ROOT = ".perfbench_work"


class Context:
    """What a workload needs from the runner."""

    def __init__(self, args, work_dir: str) -> None:
        self.seed = args.seed
        self.scale = args.scale
        self.work_dir = work_dir
        self.tracer = Tracer(enabled=bool(args.trace))
        self.session = Session(work_dir)


def parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=0.01,
                    help="TPC-H scale factor of the generated star (default 0.01)")
    return ap.parse_args(argv)


def measure(wl, ctx: Context, seconds: float, trace: bool) -> dict:
    """Set up, warm up, run the timed cycles, verify. Returns raw figures."""
    t0 = time.perf_counter()
    wl.generate()
    gen_s = time.perf_counter() - t0
    with ctx.tracer.span("session.start"):
        t0 = time.perf_counter()
        ctx.session.start()
        start_s = time.perf_counter() - t0
    setups = []
    for rep in range(SETUP_REPS):
        t0 = time.perf_counter()
        wl.setup(rep)
        setups.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    wl.warmup()
    warm_s = time.perf_counter() - t0

    # a fixed number of cycles per --seconds, so every run and every commit
    # measures the same ops at the same point of the JVM's warm-up curve
    cycles = max(2 if trace else 1, round(seconds / wl.cycle_s))
    walls = {False: 0.0, True: 0.0}
    for cycle in range(cycles):
        traced = trace and cycle % 2 == 1
        walls[traced] += wl.cycle(cycle, traced)
    rss_py, rss_jvm = ctx.session.peak_rss_mb()
    stored = wl.stored_mb()
    t0 = time.perf_counter()
    failed = wl.verify()
    return {"setups": setups, "walls": walls, "cycles": cycles, "failed": failed,
            "rss_py": rss_py, "rss_jvm": rss_jvm, "stored_mb": stored, "gen_s": gen_s,
            "start_s": start_s, "warmup_s": warm_s, "verify_s": time.perf_counter() - t0}


def report(wl, ctx: Context, raw: dict, trace: bool, spec: dict) -> dict:
    ops = wl.ops
    if trace:
        tr = ctx.tracer
        values = {
            "session.start_s": median(tr.durations("session.start")),
            "sources.load_s": median(tr.durations("sources.load")),
            **execute_metrics(ops),
            **wl.layer_metrics(),
            "trace.overhead_ratio": overhead_ratio(ops, raw["walls"]),
        }
    else:
        values = {
            "setup_s": median(raw["setups"]),
            **latency_metrics(ops, raw["walls"][False]),
            "peak_rss_mb": raw["rss_py"] + raw["rss_jvm"],
            "stored_mb": raw["stored_mb"],
        }
    names = spec["per_layer" if trace else "end_to_end"]
    return {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
            for m in names}


def main(argv=None) -> int:
    args = parse(argv)
    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "data_cube_spark", "__init__.py"))
            and os.path.isfile(os.path.join(root, "tools", "verify_gate.py"))
            and os.path.isfile(os.path.join(root, "BENCHMARK.json"))):
        print("perfbench: run from the root of a data_cube_spark checkout "
              "(data_cube_spark/, tools/verify_gate.py and BENCHMARK.json)", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)

    work_dir = os.path.join(root, WORK_ROOT, args.workload)
    shutil.rmtree(work_dir, ignore_errors=True)
    os.makedirs(work_dir)
    ctx = Context(args, work_dir)
    wl = WORKLOADS[args.workload](ctx)
    try:
        raw = measure(wl, ctx, args.seconds, bool(args.trace))
        metrics = report(wl, ctx, raw, bool(args.trace), spec)
    finally:
        ctx.session.close()
    trace_dir = os.path.join(root, WORK_ROOT, "traces")
    os.makedirs(trace_dir, exist_ok=True)
    ctx.tracer.dump(os.path.join(
        trace_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), wl.ops)

    attempted, failed = wl.attempted(), raw["failed"]
    samples = sum(1 for o in wl.ops if o.traced == bool(args.trace))
    print(f"# {args.workload} seed={args.seed} scale={args.scale} trace={args.trace} "
          f"cycles={raw['cycles']} ops={len(wl.ops)} checked={attempted} "
          f"error_rate={failed / max(attempted, 1):.4f} setups_s={[round(s, 3) for s in raw['setups']]} start_s={raw['start_s']:.2f} "
          f"gen_s={raw['gen_s']:.2f} warmup_s={raw['warmup_s']:.2f} "
          f"verify_s={raw['verify_s']:.2f} peak_rss_py_mb={raw['rss_py']:.0f} "
          f"peak_rss_jvm_mb={raw['rss_jvm']:.0f}")
    print("# noise controls: fresh process per run, local[4], no console progress bar, "
          "untimed warm-up cycle over every op class, first 2 epochs of every stream "
          "round as warm-up, fixed cycle count, 1 GB driver heap "
          "with a fixed 256 MB young generation")
    for name, m in metrics.items():
        print(f"#   {name} = {m['value']:.6g} {m['unit']} (samples {samples})")
    print("# op latencies_s:", [round(o.latency_s, 3) for o in wl.ops if o.traced == bool(args.trace)])
    print(json.dumps({"correct": failed == 0, "attempted": max(attempted, 1),
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
