"""The two workloads and the per-operation measurement they share.

One client runs operations in a closed loop: each starts when the
previous one has returned. An operation's latency runs from its first
engine call to its collected (or committed) result; output checks, cache
releases before cold operations and trace collection run outside it.
"""

from __future__ import annotations

import math
import os
import re
import statistics
import time

from checks import check_export, check_table
from spans import MB

# Memo-backed, eager-setup-heavy or top-cold keys.
CURATION_KEYS = ["graph_pagerank", "knn_pq_topk", "eval_rank_metrics"]

_MAX_LAYERS = {"spark.task_skew", "caches.pinned_mb", "caches.cached_relations",
               "caches.heap_used_mb"}


class Context:
    """Everything a workload needs: the engine handles, the tracer and
    probe, the output checker, the number of passes and the seeded order."""

    def __init__(self, engine, spark, tracer, probe, checker, table_dir, table_rows,
                 work_dir, passes, rng):
        self.engine = engine
        self.spark = spark
        self.tracer = tracer
        self.probe = probe
        self.checker = checker
        self.table_dir = table_dir
        self.table_rows = table_rows
        self.work_dir = work_dir
        self.passes = passes
        self.rng = rng
        self.records: list[dict] = []
        self.commit_samples: list[float] = []

    def harvest(self, root: dict, extra_groups: set[str] = frozenset()) -> dict:
        """Spark-side layer numbers for the jobs under span ``root``."""
        t = time.perf_counter()
        spans = self.tracer.subtree(root)
        jobs = self.probe.jobs({s["group"] for s in spans} | set(extra_groups))
        build = {s["group"] for s in spans if s["name"] == "operators.build"}
        layers = {"operators.build_jobs": float(sum(j["jobGroup"] in build for j in jobs)),
                  "spark.jobs": float(len(jobs))}
        stage = self.probe.stage_metrics(jobs)
        for k in ("stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s", "task_skew",
                  "shuffle_write_mb", "shuffle_read_mb", "spill_mb"):
            layers[f"spark.{k}"] = stage[k]
        layers["tables.scan_mb"] = stage["scan_mb"]
        layers["tables.scan_rows"] = stage["scan_rows"]
        layers["scan_tasks"] = stage["scan_tasks"]
        plan = self.probe.plan_metrics(jobs)
        layers["spark.broadcast_mb"] = plan["broadcast_mb"]
        layers["spark.broadcast_build_s"] = plan["broadcast_build_s"]
        for k in ("nodes", "boot_s", "total_s", "sent_mb", "received_mb"):
            layers[f"python.{k}"] = plan[f"python_{k}"]
        for s in spans:
            if s is not root:
                layers[f"{s['name']}_s"] = layers.get(f"{s['name']}_s", 0.0) + s["end"] - s["start"]
        self.tracer.overhead_s += time.perf_counter() - t
        return layers

    def sample_caches(self, layers: dict) -> None:
        t = time.perf_counter()
        state = self.probe.cache_state(self.engine.caches.free_heap_fraction(self.spark))
        for k, v in state.items():
            layers[f"caches.{k}"] = v
        self.tracer.overhead_s += time.perf_counter() - t


def _error(e: Exception) -> str:
    """Exception type plus Spark's error class when there is one."""
    text = str(e)
    cls = re.search(r"\[([A-Z][A-Z_]+)\]", text)
    first = next((ln for ln in text.splitlines() if ln.strip()), "")
    return f"{type(e).__name__}: {cls.group(1) if cls else first[:300]}"


# --------------------------------------------------------------------------
# registry operations
# --------------------------------------------------------------------------
def registry_op(ctx: Context, key: str, phase: str) -> dict:
    """Run registry ``key`` once: ``cold`` after a cache release, ``warm``
    in the same session, ``stale`` with a release between build and
    collect."""
    engine, tracer = ctx.engine, ctx.tracer
    q = engine.registry.REGISTRY[key]
    module = q.fn.__module__.rsplit(".", 1)[-1]
    if phase == "cold":
        engine.caches.release(ctx.spark)
    rec = {"key": key, "phase": phase, "module": module,
           "rows_in": ctx.table_rows.get(key, 0)}
    t0 = time.perf_counter()
    try:
        with tracer.span("op", key=key, phase=phase) as op:
            with tracer.span("operators.build", module=module):
                df = q.fn(ctx.spark, ctx.table_dir)
            if phase == "stale":
                with tracer.span("caches.release"):
                    engine.caches.release(ctx.spark)
            with tracer.span("spark.plan"):
                df._jdf.queryExecution().executedPlan()
            with tracer.span("spark.exec"):
                pdf = df.toPandas()
        rec["latency_s"] = time.perf_counter() - t0
    except Exception as e:  # a failed operation is a measured outcome
        rec["error"] = _error(e)
        ctx.records.append(rec)
        return rec
    rec["mismatch"] = ctx.checker.check(key, pdf) if ctx.checker else None
    if tracer.enabled:
        layers = ctx.harvest(op)
        layers["spark.collect_rows"] = float(len(pdf))
        layers["spark.collect_mb"] = float(pdf.memory_usage(deep=True).sum()) / MB
        layers[f"operators.{module}.build_s"] = layers.get("operators.build_s", 0.0)
        ctx.sample_caches(layers)
        rec["layers"] = layers
    ctx.records.append(rec)
    return rec


def run_curation_memo(ctx: Context) -> None:
    """Per pass and key, in a seeded order: cold, then warm; the last pass
    adds stale after warm, so each key runs cold, warm, stale in turn."""
    for n in range(ctx.passes):
        phases = ("cold", "warm", "stale") if n == ctx.passes - 1 else ("cold", "warm")
        for key in ctx.rng.permutation(CURATION_KEYS):
            for phase in phases:
                registry_op(ctx, str(key), phase)


# --------------------------------------------------------------------------
# etl_write
# --------------------------------------------------------------------------
def _dir_files(path: str, suffix: str = ".parquet") -> list[str]:
    out = []
    for d, _, names in os.walk(path):
        out.extend(os.path.join(d, n) for n in names if n.endswith(suffix))
    return out


def _etl_op(ctx: Context, key: str, phase: str, cycle: int, fn, rows: int = 0):
    """Time one ETL call under its own span; return (value, record). The
    span is named after the layer (``txn_table.merge_2`` runs in span
    ``txn_table.merge``)."""
    rec = {"key": key, "phase": phase, "cycle": cycle, "rows_in": rows}
    t0 = time.perf_counter()
    try:
        with ctx.tracer.span("op", key=key, phase=phase) as op:
            with ctx.tracer.span(re.sub(r"_\d+$", "", key)):
                value = fn()
        rec["latency_s"] = time.perf_counter() - t0
    except Exception as e:  # a failed operation is a measured outcome
        rec["error"] = _error(e)
        ctx.records.append(rec)
        return None, rec
    if ctx.tracer.enabled:
        rec["layers"] = ctx.harvest(op, getattr(value, "extra_groups", set()))
    ctx.records.append(rec)
    return value, rec


class _Stream:
    """Result of one streamed replay: the finished query's progress, and
    the job group Spark runs its micro-batches under (the query's run id)."""

    def __init__(self, query):
        self.progress = query.recentProgress
        self.extra_groups = {str(query.runId)}


def _export(ctx: Context, inputs: dict, phase: str, cycle: int, dest: str) -> None:
    """Bang batches through ``analysis_frame`` to a partitioned Parquet
    export, checked against the generator's rows."""
    eng, spark = ctx.engine, ctx.spark

    def load():
        raw = eng.bang.load_batches(spark, inputs["bang_dir"])
        return eng.bang.analysis_frame(raw, ["viable", "mood"], {"viable": eng.bang.likert5})

    frame, _ = _etl_op(ctx, "bang.load", phase, cycle, load)
    if frame is None:
        return
    _, rec = _etl_op(ctx, "pipeline.to_parquet", phase, cycle,
                     lambda: eng.pipeline.Frame(frame).to_parquet(dest, ["round"]),
                     rows=len(inputs["export_rows"]))
    if "error" in rec:
        return
    rec["mismatch"] = check_export(dest, inputs["export_rows"])
    files = _dir_files(dest)
    layers = rec.setdefault("layers", {})
    layers.update({
        "bang.scan_tasks": layers.get("scan_tasks", 0.0),
        "pipeline.files_written": float(len(files)),
        "pipeline.mb_written": sum(map(os.path.getsize, files)) / MB,
        "bang.json_files": float(inputs["json_files"]),
        "bang.input_mb": inputs["json_bytes"] / MB,
    })


def etl_cycle(ctx: Context, inputs: dict, size: dict, cycle: int, warm: bool = True) -> None:
    """After a cache release: the Bang export; CREATE, compaction of the
    ingest's small files, direct CDC commits and a snapshot read; then the
    streamed commits. The export and the read run cold, then (``warm``)
    again with no release between. Each output is checked against its
    replay."""
    eng = ctx.engine
    spark = ctx.spark
    out = os.path.join(ctx.work_dir, f"cycle{cycle}")
    eng.caches.release(spark)
    phase = "cold"
    _export(ctx, inputs, phase, cycle, os.path.join(out, "export"))
    if warm:
        _export(ctx, inputs, "warm", cycle, os.path.join(out, "export-warm"))

    path = os.path.join(out, "table")
    table, rec = _etl_op(
        ctx, "txn_table.create", phase, cycle,
        lambda: eng.TxnTable.create(spark, path, spark.read.parquet(inputs["base_path"]),
                                    key_col="acct_id", n_buckets=8))
    if table is None:
        return
    _etl_op(ctx, "txn_table.compact", phase, cycle, table.compact)
    merge_stats = []
    for k, cl in enumerate(inputs["changelogs"]):
        stats, rec = _etl_op(
            ctx, f"txn_table.merge_{k}", phase, cycle,
            lambda cl=cl, k=k: table.merge_cdc(spark.read.parquet(cl), app_id="direct",
                                               version=k + 1),
            rows=inputs["changelog_rows_each"][k])
        if stats is not None:
            ctx.commit_samples.append(rec["latency_s"])
            merge_stats.append(stats)
    for p in (phase, "warm") if warm else (phase,):
        _etl_op(ctx, "txn_table.read", p, cycle, lambda: table.read().toPandas())

    def stream():
        chunks = eng.replay.write_chunks(
            spark, ctx.table_dir, n_chunks=size["stream_batches"], base_dir=out,
            df=spark.read.parquet(inputs["stream_changelog"]), order_col="ts_us")
        q = eng.sinks.txn_table_merge_sink(eng.replay.read_stream(spark, chunks), table,
                                           app_id="stream")
        q.awaitTermination()
        return _Stream(q)

    streamed, rec = _etl_op(ctx, "streaming.replay", phase, cycle, stream,
                            rows=inputs["changelog_rows_each"][-1])
    if streamed is None:
        return
    batches = [p for p in streamed.progress if p.numInputRows > 0]
    batch_s = [p.durationMs.get("triggerExecution", 0) / 1e3 for p in batches]
    ctx.commit_samples.extend(batch_s)
    last = table.last_txn_version("stream")
    committed = 0 if last is None else last + 1
    live = [os.path.join(path, "data", e["path"]) for e in table.snapshot()]
    rec["mismatch"] = check_table(
        live, inputs["base_path"], inputs["changelogs"] + [inputs["stream_changelog"]])
    written = _dir_files(os.path.join(path, "data"))
    written_mb = sum(map(os.path.getsize, written)) / MB
    live_mb = sum(map(os.path.getsize, live)) / MB
    rec.setdefault("layers", {}).update({
        "streaming.batches": float(len(batches)),
        "streaming.batch_p50_s": statistics.median(batch_s) if batch_s else 0.0,
        "streaming.skipped_commits": float(max(0, len(batches) - committed)),
        "txn_table.buckets_rewritten": float(sum(len(s["touched_buckets"]) for s in merge_stats)),
        "txn_table.files_added": float(sum(s["files_added"] for s in merge_stats)),
        "txn_table.mb_written": written_mb,
        "txn_table.write_amp": written_mb / live_mb if live_mb else 0.0,
    })


def run_etl_write(ctx: Context, inputs: dict, size: dict) -> None:
    for n in range(ctx.passes):
        etl_cycle(ctx, inputs, size, n)


# --------------------------------------------------------------------------
# metrics
# --------------------------------------------------------------------------
def end_to_end(ctx: Context) -> tuple[dict, dict]:
    """End-to-end metrics and their sample counts."""
    ok = [r for r in ctx.records if "latency_s" in r]
    by_key: dict[tuple[str, str], list[float]] = {}
    for r in ok:
        by_key.setdefault((r["key"], r["phase"]), []).append(r["latency_s"])
    med = {k: statistics.median(v) for k, v in by_key.items()}
    cold = {k: v for (k, p), v in med.items() if p == "cold"}
    warm = {k: v for (k, p), v in med.items() if p == "warm"}
    cold_total = sum(cold.values())
    rows_in = {r["key"]: r["rows_in"] for r in ok}
    if any("cycle" in r for r in ctx.records):  # etl_write: rows over all calls
        commits = ctx.commit_samples
        chain = [r for r in ok if r["phase"] == "cold"]
        rows_per_s = sum(r["rows_in"] for r in chain) / sum(r["latency_s"] for r in chain)
    else:
        # the median key's cold latency: a pooled median of every cold
        # sample would fall in the gap between two keys' latencies
        commits = list(cold.values())
        rows_per_s = sum(rows_in[k] for k in cold) / cold_total if cold_total else 0.0
    attempted = len(ctx.records)
    failed = sum(1 for r in ctx.records if "error" in r or r.get("mismatch"))
    metrics = {
        "cold_total_s": cold_total,
        "cold_geomean_s": math.exp(sum(math.log(v) for v in cold.values()) / len(cold))
        if cold else 0.0,
        "warm_total_s": sum(warm.values()),
        "rows_per_s": rows_per_s,
        "commit_p50_s": statistics.median(commits) if commits else 0.0,
        "op_ok_share": (attempted - failed) / attempted if attempted else 0.0,
    }
    samples = {
        "passes": ctx.passes, "cold_ops": len(cold), "cold_samples": sum(len(v) for (k, p), v in by_key.items()
                                                   if p == "cold"),
        "warm_ops": len(warm), "commit_samples": len(commits),
        "attempted": attempted, "failed": failed,
        "cold_median_s": {k: round(v, 4) for k, v in sorted(cold.items())},
        "warm_median_s": {k: round(v, 4) for k, v in sorted(warm.items())},
        "commit_s": [round(x, 4) for x in commits],
        "latency_s": {f"{k}/{p}": [round(x, 4) for x in v] for (k, p), v in sorted(by_key.items())},
    }
    return metrics, samples


def per_layer(ctx: Context) -> dict:
    """Layer numbers for one pass of the workload: each registry key in
    each phase, or each call of one ETL cycle. A number is the median over
    that operation's samples, summed over operations; peak-type numbers
    are maxima over the run."""
    groups: dict[tuple[str, str], list[dict]] = {}
    for r in ctx.records:
        if "layers" in r:
            groups.setdefault((r["key"], r["phase"]), []).append(r["layers"])
    out: dict[str, float] = {}
    for samples in groups.values():
        names = set().union(*samples)
        for name in names:
            vals = [s.get(name, 0.0) for s in samples]
            if name in _MAX_LAYERS:
                out[name] = max(out.get(name, 0.0), max(vals))
            else:
                out[name] = out.get(name, 0.0) + statistics.median(vals)
    stale = {r["key"] for r in ctx.records if r["phase"] == "stale" and "error" in r}
    out["caches.stale_failures"] = float(len(stale))
    return out
