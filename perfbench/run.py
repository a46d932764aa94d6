#!/usr/bin/env python3
"""Benchmark runner for the engine's first-run cost, layer by layer.

Run from the repository root:

    python3 perfbench/run.py --workload curation_memo --seed 1 --seconds 24 --trace 0
    python3 perfbench/run.py --workload etl_write --seed 1 --seconds 24 --trace 1

One process, one ``local[nproc]`` session, one client in a closed loop.
The registry tables are generated once per checkout (fixed seed) under
``.bench_build/perfbench``; the seed sets the operation order of every
pass and every ``etl_write`` input. With ``--trace 0`` the last stdout
line carries the end-to-end metrics of BENCHMARK.json, with ``--trace 1``
its per-layer metrics; the lines before it record the run settings and
sample counts. See NOTES.md for the metric-to-layer map.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import re
import resource
import shutil
import signal
import subprocess
import sys
import tempfile
import time
import types

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("curation_memo", "etl_write")
# --seconds buys as many measured passes as fit at these nominal pass
# times of the 4-core host: every run of the same settings does the same
# work, however fast the host runs it. A time-bound loop fits fewer passes
# on a slow host, and the JVM keeps getting faster over the first passes,
# so a slow run would also measure earlier, slower passes.
PASS_SECONDS = {"curation_memo": 12.0, "etl_write": 12.0}
HEAP = "2g"  # the Spark JVM heap (local mode: one JVM runs scheduler and executors)
SIZES = {
    "bench": {"sf": 0.01, "etl": {
        "batches": 16, "users": 16, "rounds": 4, "team_size": 4, "base_rows": 50_000,
        "commits": 1, "stream_batches": 2, "change_share": 0.03}},
    "smoke": {"sf": 0.001, "etl": {
        "batches": 4, "users": 8, "rounds": 2, "team_size": 4, "base_rows": 2_000,
        "commits": 1, "stream_batches": 2, "change_share": 0.05}},
}


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=tuple(SIZES), default="bench",
                   help="input size: bench (default) or the tiny smoke size")
    return p.parse_args(argv)


def ensure_tables(sf: float) -> tuple[str, dict]:
    """The fixed registry tables for scale ``sf``, generated on first use."""
    import datagen

    out = os.path.join(BUILD, f"tables-sf{sf}")
    marker = os.path.join(out, "rows.json")
    if not os.path.exists(marker):
        os.makedirs(BUILD, exist_ok=True)
        tmp = tempfile.mkdtemp(prefix="tables-", dir=BUILD)
        rows = datagen.write_tables(tmp, sf)
        with open(os.path.join(tmp, "rows.json"), "w") as f:
            json.dump(rows, f)
        try:
            os.rename(tmp, out)
        except OSError:  # another run published the same tables first
            shutil.rmtree(tmp, ignore_errors=True)
    with open(marker) as f:
        return out, json.load(f)


def pin_environment(run_dir: str) -> None:
    """Every path the engine, the JVM and the Python workers write to lies
    inside ``run_dir``; workers can import the package from the root."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    path = os.environ.get("PYTHONPATH")
    os.environ.update({
        "PYTHONPATH": ROOT + (os.pathsep + path if path else ""),
        "SPARK_DRIVER_MEMORY": HEAP,
        # the whole heap committed and touched at start: without it, G1's
        # heap growth and how much of the heap a run happened to touch
        # spread the JVM's peak RSS by 10-25% run to run
        "SPARK_SUBMIT_OPTS": f"-Xms{HEAP} -XX:+AlwaysPreTouch",
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
        "JAVA_TOOL_OPTIONS": " ".join(filter(None, [os.environ.get("JAVA_TOOL_OPTIONS"),
                                                    java_opts])),
    })
    tempfile.tempdir = None
    sys.path.insert(0, ROOT)


def import_engine() -> types.SimpleNamespace:
    from bangdatapipeline_spark import bang, caches, pipeline, registry, session
    from bangdatapipeline_spark.sources.txn_table import TxnTable
    from bangdatapipeline_spark.streaming import replay, sinks

    return types.SimpleNamespace(bang=bang, caches=caches, pipeline=pipeline, registry=registry,
                                 session=session, TxnTable=TxnTable,
                                 replay=replay, sinks=sinks)


def settings(args, cpus: int) -> dict:
    import pyspark

    sha = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        try:
            sha = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                                 text=True, timeout=10).stdout.strip() or None
        except (OSError, subprocess.SubprocessError):
            pass
    digest = hashlib.sha256()
    pkg = os.path.join(ROOT, "bangdatapipeline_spark")
    for d, dirs, names in sorted(os.walk(pkg)):
        dirs.sort()
        for n in sorted(names):
            if n.endswith(".py"):
                with open(os.path.join(d, n), "rb") as f:
                    digest.update(f.read())
    return {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "size": args.size, "cpus": cpus, "heap": HEAP,
            "pyspark": pyspark.__version__, "git_sha": sha,
            "source_sha256": digest.hexdigest()[:16]}


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def stop_spark(spark) -> None:
    """Stop the session and the JVM it runs in, and wait for the JVM."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def measure(args, bench: dict, run_dir: str) -> tuple[dict, dict, dict]:
    import numpy as np

    import datagen
    import workloads as wl
    from checks import OracleChecker
    from spans import SparkProbe, Tracer

    size = SIZES[args.size]
    table_dir, table_counts = ensure_tables(size["sf"])
    inputs = prime_inputs = None
    if args.workload == "etl_write":
        inputs = datagen.make_etl_inputs(os.path.join(run_dir, "inputs"), args.seed, size["etl"])
        prime_inputs = datagen.make_etl_inputs(os.path.join(run_dir, "prime-inputs"),
                                               args.seed, SIZES["smoke"]["etl"])
    cpus = len(os.sched_getaffinity(0))

    tracer = Tracer(enabled=bool(args.trace))
    t0 = time.perf_counter()
    with tracer.span("setup"):
        with tracer.span("engine.import"):
            engine = import_engine()
        with tracer.span("registry.load"):
            registry = engine.registry.load_all()
        with tracer.span("session.start"):
            spark = engine.session.get_spark("perfbench", cpus=str(cpus))
    try:
        tracer.attach(spark.sparkContext)
        with tracer.span("session.warmup"):
            # first use of each code path the workload runs cost more than
            # its later runs and varied by +-15% run to run; one throwaway
            # pass (ETL on tiny inputs) takes it
            primer = wl.Context(engine, spark, Tracer(), None, None, table_dir, {},
                                os.path.join(run_dir, "prime"), 1, None)
            if args.workload == "curation_memo":
                for key in wl.CURATION_KEYS:
                    wl.registry_op(primer, key, "cold")
            else:
                wl.etl_cycle(primer, prime_inputs, SIZES["smoke"]["etl"], 0, warm=False)
            engine.caches.release(spark)
        setup_s = time.perf_counter() - t0

        keys = wl.CURATION_KEYS if args.workload == "curation_memo" else []
        checker = OracleChecker(ROOT, table_dir, registry, os.path.join(BUILD, "oracles"))
        table_rows = {}
        for key in keys:  # oracle answers and input sizes, outside every timer
            checker.expected(key)
            sql = registry[key].oracle or ""
            table_rows[key] = sum(n for t, n in table_counts.items()
                                  if re.search(rf"\b{t}\b", sql))
        probe = SparkProbe(spark) if args.trace else None
        passes = max(1, int(args.seconds // PASS_SECONDS[args.workload]))
        ctx = wl.Context(engine, spark, tracer, probe, checker, table_dir, table_rows,
                         run_dir, passes, np.random.default_rng(args.seed))
        if args.workload == "curation_memo":
            wl.run_curation_memo(ctx)
        else:
            wl.run_etl_write(ctx, inputs, size["etl"])
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        rss = vm_hwm_mb(jvm_pid) + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
        info = settings(args, cpus)
    finally:
        stop_spark(spark)

    e2e, samples = wl.end_to_end(ctx)
    e2e["setup_s"] = setup_s
    e2e["peak_rss_mb"] = rss
    values = e2e
    if args.trace:
        values = wl.per_layer(ctx)
        if args.workload == "etl_write" and values.get("python.nodes"):
            raise SystemExit("control workload drifted: etl_write plans ran Python nodes")
        setup_spans = {s["name"]: s["end"] - s["start"] for s in tracer.spans
                       if s["name"].startswith(("session.", "registry."))}
        values["session.start_s"] = setup_spans["session.start"]
        values["registry.load_s"] = setup_spans["registry.load"]
        values["session.warmup_s"] = setup_spans["session.warmup"]
        values["trace.overhead_s"] = tracer.overhead_s
        values["trace.cold_total_s"] = e2e["cold_total_s"]
        samples["self_s"] = {k: round(v, 4) for k, v in tracer.layer_self_times().items()}
        os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
        tracer.dump(os.path.join(BUILD, "traces", f"{args.workload}-seed{args.seed}.json"))
    section = "per_layer" if args.trace else "end_to_end"
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in bench[section]}
    result = {
        "correct": not any(r.get("mismatch") for r in ctx.records),
        "attempted": samples["attempted"],
        "failed": samples["failed"],
        "metrics": metrics,
    }
    errors = sorted({f"{r['key']}/{r['phase']}: {r.get('error') or r.get('mismatch')}"
                     for r in ctx.records if r.get("error") or r.get("mismatch")})
    samples["failures"] = errors
    return info, samples, result


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops its JVM and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    missing = [p for p in ("bangdatapipeline_spark", os.path.join("tests", "oracle.py"),
                           "BENCHMARK.json") if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: not a checkout of the engine, missing {missing}", file=sys.stderr)
        return 2
    if args.seconds <= 0:
        print("perfbench: --seconds must be positive", file=sys.stderr)
        return 2
    if os.environ.get("PYTHONHASHSEED") != "0":
        # the same string hashes, so the same set order in the engine's
        # plan building, in every run
        os.environ["PYTHONHASHSEED"] = "0"
        os.execv(sys.executable, [sys.executable, *sys.argv])
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    os.makedirs(BUILD, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"run-{args.workload}-", dir=BUILD)
    try:
        pin_environment(run_dir)
        info, samples, result = measure(args, bench, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print("# settings " + json.dumps(info))
    print("# samples " + json.dumps(samples))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
