#!/usr/bin/env python3
"""Seeded, layer-traced benchmark of the event-stream-detection engine.

    python3 perfbench/run.py --workload stream_detect --seed 1 \\
        --seconds 10 --trace 0

Run from the repository root. It sets the program up (``setup_s`` runs
from process start to the end of set-up, minus the generation of the
workload's inputs from ``--seed``), runs timed operations for
``--seconds`` seconds (at least one), checks every operation's output,
scales the end-to-end times to a reference host speed
(``perfbench/hostspeed.py``), and prints the host-fit settings, then ONE
JSON line as the last line of standard output:

    {"correct": ..., "attempted": N, "failed": N, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer ones (spans go to ``.perfbench_work/spans/*.jsonl``). See
``perfbench/README.md`` for the workloads and the metric map.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import glob  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
from dataclasses import replace  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
# stop starting timed operations past this point, so the run ends well
# inside its three-minute limit
OP_DEADLINE_S = 120.0

# host-fit pins; they must be in the environment before numpy, the JVM
# or the Python workers start
CORES = len(os.sched_getaffinity(0))
_PINS = {
    "OMP_NUM_THREADS": "1", "OPENBLAS_NUM_THREADS": "1",
    "MKL_NUM_THREADS": "1", "NUMEXPR_NUM_THREADS": "1",
    "VECLIB_MAXIMUM_THREADS": "1",
    "BESD_DRIVER_MEM": os.environ.get("BESD_DRIVER_MEM", "4g"),
    "PYSPARK_PYTHON": sys.executable,
    "PYSPARK_DRIVER_PYTHON": sys.executable,
    "TMPDIR": os.path.join(WORK_ROOT, "tmp"),
}


def git_commit() -> str:
    try:
        return subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
            text=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def code_digest() -> str:
    """Digest of the program's and the benchmark's sources, so that output
    hashes are compared only between runs of the same code."""
    h = hashlib.sha256()
    for pkg in ("bigdata_event_stream_detection_spark", "perfbench"):
        for path in sorted(glob.glob(os.path.join(ROOT, pkg, "**", "*.py"),
                                     recursive=True)):
            h.update(os.path.relpath(path, ROOT).encode())
            with open(path, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]


def check_hashes(ops, store: str) -> int:
    """Fail each op whose output hash differs from the first hash recorded
    in ``store`` (one file per workload, seed and code digest; the first
    op of the first run writes it); returns the number of newly failed
    ops."""
    if not ops:
        return 0
    if os.path.exists(store):
        with open(store) as f:
            expected = f.read().strip()
    else:
        expected = ops[0].info["hash"]
        os.makedirs(os.path.dirname(store), exist_ok=True)
        with open(store, "w") as f:
            f.write(expected)
    newly = 0
    for o in ops:
        if o.ok and o.info.get("hash") != expected:
            o.ok = False
            newly += 1
    return newly


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[1])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
    work = os.path.join(WORK_ROOT, run_id)
    os.environ.update(_PINS)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    for d in (_PINS["TMPDIR"], os.environ["SPARK_LOCAL_DIRS"]):
        os.makedirs(d, exist_ok=True)
    sys.path.insert(0, ROOT)

    from perfbench import hostspeed
    from perfbench.probes import MemSampler, Tracer, spark_layer
    from perfbench.spark_sessions import Sessions
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    digest = code_digest()
    settings = {
        "commit": git_commit(), "code_digest": digest,
        "workload": args.workload,
        "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "cores": CORES, "pins": {**_PINS, "SPARK_LOCAL_DIRS":
                                 os.environ["SPARK_LOCAL_DIRS"]},
        "host_probe": {"loop": hostspeed.LOOP,
                       "period_s": hostspeed.PERIOD_S,
                       "ref_loop_s": hostspeed.REF_LOOP_S},
    }
    print(json.dumps({"settings": settings}), flush=True)

    wl = WORKLOADS[args.workload](work, args.seed, CORES)
    sessions = Sessions(work, CORES)
    # forked before the JVM or any thread starts
    speed = hostspeed.HostSpeed()
    sampler = MemSampler(exclude=speed.pids)
    try:
        t = time.perf_counter()
        with speed.active():
            spark = sessions.open()
            session_start_s = time.perf_counter() - t
            t_gen = time.perf_counter()
            wl.generate(spark)
            gen_s = time.perf_counter() - t_gen
            wl.setup(spark)
        # process start to the end of set-up, minus input generation
        setup_s = time.perf_counter() - PROCESS_START - gen_s
        setup_window = (t, time.perf_counter())
        t = time.perf_counter()
        wl.begin(spark)
        begin_s = time.perf_counter() - t

        ops, failed = [], 0
        t_loop = time.perf_counter()
        # a traced run needs one untraced operation as its baseline; an
        # untraced one starts no operation that would end past --seconds,
        # going by the last one (operations still speed up as the JVM
        # compiles, so the last is the best guess of the next)
        seconds = 0 if args.trace else args.seconds
        walls = []
        while not ops or (time.perf_counter() - t_loop
                          + (walls[-1] if walls else 0) <= seconds
                          and time.perf_counter() - PROCESS_START
                          < OP_DEADLINE_S):
            with sampler.active(), speed.active():
                t = time.perf_counter()
                try:
                    op = wl.op(spark)
                except Exception as e:  # a failed op is counted, not fatal
                    print(f"op failed: {e!r}", file=sys.stderr)
                    failed += 1
                    ops.append(None)
                    continue
                op.window = (t, time.perf_counter())
            ops.append(op)
            walls.append(op.wall_s)
            failed += not op.ok
        good = [o for o in ops if o is not None]
        speed.close()
        # set-up's and each operation's times at the reference host speed
        setup_ref_s = setup_s * speed.scale(*setup_window)
        scaled = []
        for o in good:
            k = speed.scale(*o.window)
            scaled.append(replace(o, wall_s=o.wall_s * k,
                                  samples_s=[x * k for x in o.samples_s]))
        # the same seed and code must give the same output rows every time
        failed += check_hashes(good, os.path.join(
            WORK_ROOT, "hashes", f"{args.workload}-{args.seed}-{digest}"))
        print(json.dumps({"gen_s": gen_s, "setup_s": setup_s,
                          "setup_ref_s": setup_ref_s,
                          "begin_s": begin_s, "ops": [
            {"wall_s": o.wall_s, "ref_wall_s": r.wall_s, "ok": o.ok,
             "samples_s": o.samples_s,
             "info": {k: v for k, v in o.info.items()
                      if k in ("hash", "phases_s")}}
            for o, r in zip(good, scaled)]}), file=sys.stderr)

        if args.trace == 0:
            metrics = {"setup_s": (setup_ref_s, "s")}
            if good:
                e2e = wl.e2e(scaled)
                metrics["docs_per_ref_s"] = (e2e["docs_per_s"], "1/s")
                metrics["op_p50_ref_s"] = (e2e["op_p50_s"], "s")
            metrics["peak_worker_pss_mb"] = (sampler.peak_workers / 2**20,
                                             "MB")
            metrics["ok_ops_frac"] = ((len(ops) - failed) / len(ops), "frac")
        else:
            with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
                units = {m["name"]: m["unit"]
                         for m in json.load(f)["per_layer"]}
            # a layer the workload does not exercise reports 0
            layers = dict.fromkeys(units, 0)
            layers.update(wl.layers_untraced(good))
            wall = wl.e2e(good)
            layers["wall.setup_s"] = setup_s
            layers["wall.docs_per_s"] = wall["docs_per_s"]
            layers["wall.op_p50_s"] = wall["op_p50_s"]
            layers["host.loop_us"] = statistics.median(
                speed.loop_s(*o.window) for o in good) * 1e6
            layers["session.start_s"] = session_start_s
            layers["mem.peak_pss_mb"] = sampler.peak / 2**20
            tr = Tracer(run_id)
            sessions.close_context()
            spark = sessions.open(event_log=True)
            wl.begin(spark)
            untraced = statistics.median(o.wall_s for o in good)
            m, (t0, t1), ok = wl.trace(spark, tr, untraced)
            layers.update(m)
            failed += not ok
            if hasattr(wl, "cores1"):
                sessions.close_context()
                spark = sessions.open(cores=1)
                wl.cores1(spark, tr, layers)
            sessions.close_context()
            layers.update(spark_layer(sessions.evlog_dir, t0, t1))
            spans = os.path.join(WORK_ROOT, "spans")
            os.makedirs(spans, exist_ok=True)
            tr.write(os.path.join(spans, f"{run_id}.jsonl"))
            metrics = {k: (layers[k], units[k]) for k in units}
            ops.append(None)   # the traced operation counts as attempted
        result = {
            "correct": failed == 0,
            "attempted": len(ops),
            "failed": failed,
            "metrics": {k: {"value": float(v), "unit": u}
                        for k, (v, u) in metrics.items()},
        }
    finally:
        t = time.perf_counter()
        speed.close()
        sampler.close()
        sessions.shutdown()
        shutil.rmtree(work, ignore_errors=True)
        print(json.dumps({"shutdown_s": time.perf_counter() - t,
                          "total_s": time.perf_counter() - PROCESS_START}),
              file=sys.stderr)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.exit(main())
