"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout of the repository. Generates the workload's
inputs from the seed (untimed, in a separate process), sets up the Spark
session and the program-side state, measures for ``--seconds``, verifies the
outputs against references computed here, and prints one JSON object as the
last line of stdout: ``correct``, ``attempted``, ``failed`` and ``metrics``.
``--trace 0`` reports the ``end_to_end`` metrics of BENCHMARK.json,
``--trace 1`` the ``per_layer`` ones, and writes every span to
``.bench_traces/``. Lines before the result start with ``#``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import harness  # noqa: E402


def load_spec(root: str) -> dict:
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        return json.load(f)


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description="ape_dts_spark benchmark")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "ape_dts_spark", "__init__.py")):
        print("error: run from the root of a checkout holding ape_dts_spark/", file=sys.stderr)
        return 2
    spec = load_spec(root)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"error: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    work = os.path.join(root, ".bench_work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    inputs = os.path.join(work, "inputs")
    env = harness.set_host_env(root, work)
    sys.path.insert(0, root)

    params = dict(workloads.PARAMS[args.workload]["gen"])
    if args.trace:
        params.update(workloads.PARAMS[args.workload].get("traced_gen", {}))
    started = time.perf_counter()
    subprocess.run(
        [sys.executable, os.path.join(HERE, "gen.py"), "inputs", "--workload", args.workload,
         "--seed", str(args.seed), "--out", inputs,
         "--params", json.dumps(params)],
        check=True,
    )
    gen_s = time.perf_counter() - started
    with open(os.path.join(inputs, "inputs.json")) as f:
        meta = json.load(f)

    from ape_dts_spark.session import get_spark

    sampler = harness.RssSampler().start()
    session = harness.Session(get_spark)
    run = workloads.Run(
        workload=args.workload, seed=args.seed, seconds=args.seconds, inputs=inputs,
        work=work, meta=meta, tracer=harness.Tracer(bool(args.trace)), session=session,
        sampler=sampler, started=started,
    )
    # a terminated run still stops Spark and waits for its processes
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    ticks = harness.cpu_ticks()
    host = {"cpus": harness.host_cpus(), "loadavg_start": harness.loadavg(),
            "commit": harness.git_commit(root), "source_sha256": harness.source_digest(root),
            "driver_memory": env["SPARK_DRIVER_MEMORY"]}
    run.mark("inputs")
    try:
        out = workloads.WORKLOADS[args.workload](run)
        run.mark("layers")
        workloads.codec_probe(run)
    finally:
        sampler.stop()
        session.close()
        harness.reap(sampler.seen)
    run.mark("close")
    host["loadavg_end"] = harness.loadavg()
    host["cpu_steal_pct"] = round(harness.steal_pct(ticks, harness.cpu_ticks()), 2)
    run.trace_extra["rss_mb_at_peak"] = sampler.at_peak

    lat_vals, lat_w = out["latency"]
    lat = np.repeat(np.asarray(lat_vals, dtype=float), lat_w) if lat_w else np.asarray(lat_vals)
    e2e = {
        "setup_s": harness.median(run.setup_times),
        "rows_per_s": out["rows_per_s"],
        "latency_p50_s": harness.pct(lat, 50),
        "latency_p90_s": harness.pct(lat, 90),
        "peak_rss_mb": sampler.peak_mb,
    }
    probes, probe_failed = run.trace_extra.get("codec_probes", (0, 0))
    layer = dict(run.layer)
    layer["session.start_s"] = run.session_starts[0]  # the cold start; later calls reuse it
    layer["failed_ratio"] = (run.failed + probe_failed) / (run.attempted + probes)
    layer["trace.rows_per_s"] = e2e["rows_per_s"]
    layer["trace.latency_p50_s"] = e2e["latency_p50_s"]

    section = "per_layer" if args.trace else "end_to_end"
    values = layer if args.trace else e2e
    metrics = {}
    for m in spec[section]:
        v = values.get(m["name"], 0.0)  # a layer this workload does not exercise did no work
        metrics[m["name"]] = {"value": float(v), "unit": m["unit"]}

    correct = all(c["ok"] for c in run.checks) and run.failed == 0
    print(f"# host {json.dumps(host)}")
    sizes = {k: v for k, v in meta.items() if k not in ("snapshot", "corpus")}
    print(f"# inputs {args.workload} seed={args.seed} generated in {gen_s:.2f}s "
          f"(not timed); {json.dumps(sizes)}")
    for c in run.checks:
        print(f"# verify {'ok  ' if c['ok'] else 'FAIL'} {c['name']}: "
              f"{c['mismatches']} mismatches {c['detail']}")
    print(f"# samples {json.dumps(run.trace_extra)}")
    for name, m in metrics.items():
        print(f"# {section} {name} = {m['value']:.6g} {m['unit']}")
    if args.trace:
        tdir = os.path.join(root, ".bench_traces")
        os.makedirs(tdir, exist_ok=True)
        path = os.path.join(tdir, f"{args.workload}-seed{args.seed}.json")
        with open(path, "w") as f:
            json.dump({"workload": args.workload, "seed": args.seed, "host": host,
                       "end_to_end": e2e, "per_layer": layer, "spans": run.tracer.spans,
                       "checks": run.checks, "samples": run.trace_extra}, f, indent=1)
        print(f"# trace written to {os.path.relpath(path, root)}")
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": correct, "attempted": run.attempted, "failed": run.failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
