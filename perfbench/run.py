#!/usr/bin/env python3
"""The benchmark of the paper's split pipeline and the OpsMain lifecycle.

Usage (from the repository root):
  python3 perfbench/run.py --workload backfill_3d --seed 1 --seconds 15 --trace 0

Builds the harness (perfbench/jvm) with the program from this checkout,
starts it, generates the workload's inputs from the seed three times,
warms up with one untimed iteration, then runs at least two iterations and
until they have measured `--seconds`, through `graft.split.SplitJob.run()` or `graft.OpsMain.run()`,
gating every commit unit's output. It prints every metric by name with its
unit, a `record:` line (host fingerprint, input sizes, every unit's
latency, spans when traced) and, last, one JSON object:
  {"correct", "attempted", "failed", "metrics"}
with the end-to-end metrics for `--trace 0` and the per-layer metrics for
`--trace 1`. See perfbench/README.md.
"""
import time

T_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pb import jvm  # noqa: E402
from pb.layers import LayerTrace  # noqa: E402
from pb.metrics import median  # noqa: E402
from pb.workloads import SIZES, WORKLOADS  # noqa: E402

SETUP_ROUNDS = 3


def declared():
    """name → unit of the end-to-end and of the per-layer metrics, as
    BENCHMARK.json declares them."""
    with open(os.path.join(jvm.ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    return ({m["name"]: m["unit"] for m in bench["end_to_end"]},
            {m["name"]: m["unit"] for m in bench["per_layer"]})


def fingerprint(info, cores, digest):
    try:
        sha = subprocess.run(["git", "rev-parse", "HEAD"], cwd=jvm.ROOT, capture_output=True,
                             text=True, timeout=10).stdout.strip() or None
    except OSError:
        sha = None
    return {"nproc": os.cpu_count(), "cores": cores, "heap_mb": info.get("heap_mb"),
            "jdk": info.get("java"), "spark": info.get("spark"), "git_sha": sha,
            "source_sha256": digest}


def run(args):
    wl = WORKLOADS[args.workload]
    end_to_end, per_layer = declared()
    full, smoke = SIZES[args.workload]
    if args.size == "smoke":
        full = smoke
    cores = os.cpu_count()
    t = time.time()
    cp, digest = jvm.classpath()
    build_s = time.time() - t
    work = os.path.join(jvm.BUILD_DIR, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    h = None
    try:
        h = jvm.Harness(cp, cores, args.trace, work, os.path.join(work, "..", "harness.log"))
        start_s = time.time() - T_START - build_s  # a build is not set-up
        gen_s = []
        for k in range(SETUP_ROUNDS):
            t = time.time()
            inputs = os.path.join(work, f"inputs{k}")
            info = wl.generate(inputs, args.seed, full)
            gen_s.append(time.time() - t)
            if k:
                shutil.rmtree(os.path.join(work, f"inputs{k - 1}"))
        # warm-up: one untimed iteration at full size, so the JIT and Spark's
        # code-generation caches have seen every plan of the workload
        t = time.time()
        warm_units = wl.iterate(h, inputs, work, "warm", False).units
        warm_s = time.time() - t
        setup_s = start_s + median(gen_s) + warm_s

        # iterations run until their measured time reaches --seconds, and
        # at least two, so that wall_s is a median of samples (the gate
        # between iterations is not measured). A traced run alternates
        # untraced and traced iterations: the difference of their medians
        # is the tracing overhead.
        its, traced = [], []
        measured = 0.0
        while measured < args.seconds or len(its) < 2:
            trace = bool(args.trace) and len(its) % 2 == 1
            t = time.time()
            its.append(wl.iterate(h, inputs, work, len(its), trace))
            measured += its[-1].wall or (time.time() - t)
            if trace:
                traced.append(its[-1])

        units = warm_units + [u for it in its for u in it.units]
        failed = sum(1 for u in units if not u.ok)
        untraced = [it for it in its if it not in traced]
        latencies = [u.latency for it in untraced for u in it.units if u.latency is not None]
        e2e = {
            "setup_s": setup_s,
            "wall_s": median([it.wall for it in untraced if it.wall is not None]),
            "commit_p50_s": median(latencies),
            "bytes_out_per_byte_in": median([it.bytes_out / it.bytes_in for it in untraced
                                             if it.bytes_in]),
        }
        record = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "seconds": args.seconds, "size": args.size,
            "host": fingerprint(h.info, cores, digest),
            "inputs": dict(info, seed=args.seed),
            "setup": {"build_s": build_s, "start_s": start_s, "generate_s": gen_s,
                      "warm_s": warm_s},
            "iterations": [{"wall_s": it.wall, "traced": it in traced,
                            "bytes_in": it.bytes_in, "bytes_out": it.bytes_out,
                            "files_out": it.files_out,
                            "units": [[u.name, u.latency, u.ok] for u in it.units]}
                           for it in its],
            "commit_samples": len(latencies),
            "attempted": len(units), "failed": failed,
            "fail_ratio": failed / len(units),
            "end_to_end": e2e,
        }
        shown = [(k, e2e[k], end_to_end[k]) for k in end_to_end]
        shown.append(("fail_ratio", failed / len(units), "ratio"))
        metrics = {k: {"value": e2e[k], "unit": end_to_end[k]} for k in end_to_end}
        if args.trace:
            per_it, spans = [], []
            for it in traced:
                lt = LayerTrace(cores, per_layer)
                for meta, resp in it.calls:
                    if "error" in resp:
                        continue
                    if meta["kind"] == "split":
                        lt.add_split(resp, meta, it.in_sizes)
                    else:
                        lt.add_ops(resp, meta)
                vals, self_t = lt.finish(it, it.wall or 0.0)
                per_it.append(vals)
                spans.append({"self_s": self_t, "spans": lt.spans()})
            layer = {k: median([v[k] for v in per_it]) for k in per_layer}
            layer["trace.overhead_s"] = (median([it.wall for it in traced])
                                         - median([it.wall for it in untraced]))
            record["per_layer"] = layer
            record["traces"] = spans
            metrics = {k: {"value": layer[k], "unit": per_layer[k]} for k in per_layer}
            shown += [(k, layer[k], per_layer[k]) for k in per_layer]
        for name, value, unit in shown:
            print(f"{name:30s} {value:16.6f} {unit}")
        rec_dir = os.path.join(jvm.BUILD_DIR, "records")
        os.makedirs(rec_dir, exist_ok=True)
        with open(os.path.join(rec_dir, f"{args.workload}-s{args.seed}-t{args.trace}-"
                               f"{int(T_START)}.json"), "w") as fh:
            json.dump(record, fh)
        print("record: " + json.dumps(record))
        return {"correct": failed == 0, "attempted": len(units), "failed": failed,
                "metrics": metrics}
    finally:
        if h is not None:
            h.close()
        shutil.rmtree(work, ignore_errors=True)


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "smoke"), default="full",
                   help="smoke: small inputs, for the benchmark's own tests")
    args = p.parse_args()
    try:
        result = run(args)
    except jvm.BuildError as e:
        print(f"perfbench: cannot build: {e}", file=sys.stderr)
        return 2
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
