"""Run one workload in this process: start the session, set up, run a
fixed count of untimed warm-up rounds and of timed rounds, check every
operation, and assemble the result.

Untraced runs give the end-to-end metrics.  Traced runs record spans and
read the status stores; they alternate untraced and traced timed rounds
(untraced first and last) so the tracing overhead is measured inside one
process.
"""

from __future__ import annotations

import contextlib
import hashlib
import os
import statistics
import subprocess
import time
from concurrent.futures import ThreadPoolExecutor

import probes
from spans import Tracer, self_times, totals
from workloads import CORPUS, WORKLOADS


def timed_rounds(workload, seconds: int, trace: bool) -> int:
    """Timed-round count: ``seconds`` over the workload's nominal round
    time on the reference host, at least one.  When tracing, odd and at
    least three, so untraced rounds bracket every traced one and a
    warm-up trend across the rounds cancels in the overhead.  A constant
    for given arguments — never derived from how fast this run's rounds
    are."""
    n = max(1, round(seconds / workload.nominal_round_s))
    return max(3, n | 1) if trace else n


class Context:
    """What a workload needs from the harness: the session, the seed, a
    work directory, the tracer, and ``op``/``phase`` scopes that record
    spans, job groups and per-operation probes when tracing is on."""

    def __init__(self, seed: int, work: str, tracer: Tracer):
        self.seed = seed
        self.work = work
        self.tracer = tracer
        self.spark = None
        self.notes: dict = {}
        self.phases: list[dict] = []
        self.op_probes: list[dict] = []

    @contextlib.contextmanager
    def op(self, name: str, **attrs):
        rec: dict = {}
        with self.tracer.span("op", op=name, **attrs):
            yield rec
        if self.tracer.enabled:
            probe = {"op": name, **attrs,
                     "persisted_rdds": probes.persisted_rdds(self.spark)}
            if "fp_df" in rec:
                probe["catalyst_ms"] = probes.phase_ms(rec["fp_df"])
            self.op_probes.append(probe)

    @contextlib.contextmanager
    def phase(self, name: str, kind: str):
        """``kind`` is ``build`` (query construction, including any jobs
        it launches) or ``action`` (the timed action)."""
        if not self.tracer.enabled:
            yield
            return
        sc = self.spark.sparkContext
        sc.setJobGroup(f"pb|{name}|{kind}", f"{name} {kind}")
        rec = {"op": name, "kind": kind, "start": time.time()}
        try:
            with self.tracer.span(kind, op=name):
                yield
        finally:
            rec["end"] = time.time()
            self.phases.append(rec)
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)


def start_session(ctx: Context, app: str):
    from play_bq_gcp_spark.session import get_spark

    tmp = os.path.join(ctx.work, "jvm-tmp")
    os.makedirs(tmp, exist_ok=True)
    with ctx.tracer.span("session.start"):
        spark = get_spark(
            app_name=app,
            extra_conf={
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
                "spark.ui.showConsoleProgress": "false",
            },
        )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and its gateway JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def stamp(spark, args, warmup: int, timed: int) -> dict:
    sc = spark.sparkContext
    return {
        "master": sc.master,
        "default_parallelism": sc.defaultParallelism,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "driver_heap": spark.conf.get("spark.driver.memory", None),
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "git_sha": _git_sha(),
        "source_digest": _source_digest(),
        "warmup_rounds": warmup,
        "timed_rounds": timed,
        "nproc": len(os.sched_getaffinity(0)),
        "spark_version": spark.version,
    }


def _git_sha() -> str | None:
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    try:
        out = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def _source_digest() -> str:
    """sha1 over the engine package's Python sources, so result files
    from checkouts without git history still say which code ran."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pkg = os.path.join(root, "play_bq_gcp_spark")
    h = hashlib.sha1()
    for d, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                h.update(os.path.relpath(os.path.join(d, f), root).encode())
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def run(args, work: str, t_start: float) -> dict:
    tracer = Tracer()
    tracer.enabled = bool(args.trace)
    ctx = Context(args.seed, work, tracer)
    workload = WORKLOADS[args.workload]()
    timed = timed_rounds(workload, args.seconds, bool(args.trace))
    # input generation (and corpus_mix's DuckDB oracles) overlaps the
    # JVM start: neither needs the session
    with ThreadPoolExecutor(max_workers=1) as pool:
        prepared = pool.submit(workload.prepare, ctx)
        ctx.spark = start_session(ctx, f"perfbench-{args.workload}")
        try:
            prepared.result()
        except BaseException:
            stop_session(ctx.spark)
            raise
    try:
        return _run(args, ctx, workload, timed, t_start)
    finally:
        tracer.unwrap_all()
        stop_session(ctx.spark)


def _run(args, ctx, workload, timed: int, t_start: float) -> dict:
    spark = ctx.spark
    if args.trace:
        _install_wrappers(ctx)
        listener = probes.CountingListener()
        spark.streams.addListener(listener)
        window = probes.JobWindow(spark)
    load = probes.loadavg()
    # (round, timed, traced, loadavg before)
    rounds = [(r, False, False, load) for r in workload.setup(ctx)]
    ctx.tracer.enabled = False  # warm-up rounds run as in untraced runs
    for _ in range(workload.warmup):
        load = probes.loadavg()
        rounds.append((workload.round(ctx, len(rounds)), False, False, load))
    setup_s = time.monotonic() - t_start
    tracer = ctx.tracer
    traced_layers = []
    for i in range(timed):
        traced = bool(args.trace) and i % 2 == 1
        tracer.enabled = traced
        load = probes.loadavg()
        ticks = probes.cpu_ticks()
        if traced:
            window.mark()
            span0 = len(tracer.spans)
            phase0, probe0 = len(ctx.phases), len(ctx.op_probes)
            stream0 = listener.snapshot()
            with probes.StorageSampler(spark) as sampler:
                rnd = workload.round(ctx, len(rounds))
            jobs = window.collect()
            traced_layers.append(_layers(
                ctx, rnd, jobs, tracer.spans[span0:], ctx.phases[phase0:],
                ctx.op_probes[probe0:], stream0, listener.snapshot(),
                sampler.peak,
            ))
        else:
            rnd = workload.round(ctx, len(rounds))
        rnd.steal_share = probes.steal_share(ticks, probes.cpu_ticks())
        rounds.append((rnd, True, traced, load))
    tracer.enabled = False
    final_ops = workload.finish(ctx)

    # attempted = every timed operation plus the final-state checks;
    # a failed warm-up check also makes the run incorrect
    attempted = [op for r, t, _, _ in rounds if t for op in r.ops] + final_ops
    all_ok = all(op.ok for r, _, _, _ in rounds for op in r.ops) and all(
        op.ok for op in final_ops)
    round_s = [r.wall_s for r, t, _, _ in rounds if t]

    result = {
        "workload": args.workload,
        "stamp": stamp(spark, args, len(rounds) - timed, timed),
        "inputs": ctx.notes,
        "setup_s": setup_s,
        "rounds": [
            {"index": r.index, "timed": t, "traced": tr, "loadavg_before": ld,
             "wall_s": r.wall_s, "steal_share": r.steal_share,
             "ops": [vars(op) for op in r.ops]}
            for r, t, tr, ld in rounds
        ],
        "final_checks": [vars(op) for op in final_ops],
        "correct": all_ok,
        "attempted": len(attempted),
        "failed": sum(not op.ok for op in attempted),
    }
    if not args.trace:
        result["metrics"] = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "run_s": {"value": statistics.median(round_s), "unit": "s"},
        }
    else:
        traced_s = [r.wall_s for r, t, tr, _ in rounds if t and tr]
        plain_s = [r.wall_s for r, t, tr, _ in rounds if t and not tr]
        layers = _median_layers(traced_layers)
        layers["session.start_s"] = totals(tracer.spans, "session.start")[0]
        layers["pipeline.bootstrap_s"] = totals(tracer.spans,
                                                "pipeline.bootstrap")[0]
        layers["trace.overhead_s"] = (statistics.median(traced_s)
                                      - statistics.median(plain_s))
        layers["driver.peak_rss_mb"] = (
            probes.vm_hwm_mb(probes.jvm_pid(spark)) + probes.vm_hwm_mb())
        result["metrics"] = {k: {"value": v, "unit": PER_LAYER_UNITS[k]}
                             for k, v in sorted(layers.items())}
        result["self_time_s"] = _self_time_by_name(tracer.spans)
        result["traced_rounds"] = traced_layers
    result["spans"] = tracer.spans
    return result


def _install_wrappers(ctx: Context) -> None:
    """Spans (and counters) around calls into ``catalog.read_table`` and
    the ``storage.txn_table`` write/read entry points."""
    from play_bq_gcp_spark import catalog
    from play_bq_gcp_spark.storage import txn_table as tt

    tracer = ctx.tracer

    def on_read_table(attrs, args, kwargs, call):
        path = catalog.table_path(args[1], args[2])
        before = catalog._SCAN_CACHE.get(path)
        df = call()
        attrs["hit"] = before is not None and df is before[2]
        return df

    def on_commit(path_arg: int):
        def on_call(attrs, args, kwargs, call):
            path = args[path_arg]
            try:
                prev = tt.snapshot(path)
            except FileNotFoundError:
                prev = None
            snap = call()
            _commit_counters(attrs, path, prev, snap)
            return snap
        return on_call

    tracer.wrap(catalog, "read_table", "catalog.read_table", on_read_table)
    tracer.wrap(tt, "read", "txn_table.read")
    tracer.wrap(tt, "append", "txn_table.append", on_commit(1))
    tracer.wrap(tt, "overwrite", "txn_table.overwrite", on_commit(1))
    tracer.wrap(tt, "merge_into", "txn_table.merge_into", on_commit(1))


def _commit_counters(attrs: dict, path: str, prev, snap) -> None:
    before = set(prev.files) if prev is not None else set()
    after = set(snap.files)
    written = after - before
    rewritten = before - after
    attrs.update(
        table=os.path.basename(path),
        files_written=len(written),
        files_rewritten=len(rewritten),
        files_carried=len(before & after),
        rows_written=sum(snap.file_stats.get(f, {}).get("rows", 0)
                         for f in written),
        bytes_written=sum(os.path.getsize(os.path.join(path, f))
                          for f in written),
        live_bytes=sum(os.path.getsize(os.path.join(path, f)) for f in after),
        live_rows=snap.rows,
        disk_bytes=_tree_bytes(os.path.join(path, "data")),
    )


def _tree_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(d, f))
    return total


PER_LAYER_UNITS = {
    "session.start_s": "s",
    "pipeline.bootstrap_s": "s",
    "pipeline.run_daily_s": "s",
    "pipeline.jobs_per_cycle": "count",
    "txn_table.read_s": "s",
    "txn_table.append_s": "s",
    "txn_table.merge_into_s": "s",
    "txn_table.commits": "count",
    "txn_table.files_rewritten": "count",
    "txn_table.files_carried": "count",
    "txn_table.rewrite_useful_ratio": "ratio",
    "txn_table.write_amp": "ratio",
    "txn_table.space_amp": "ratio",
    "catalog.read_table_calls": "count",
    "catalog.read_table_s": "s",
    "catalog.scan_cache_hit_ratio": "ratio",
    "queries.build_s": "s",
    "queries.build_jobs": "count",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "exec.action_s": "s",
    "exec.jobs": "count",
    "exec.tasks": "count",
    "exec.task_s": "s",
    "exec.gc_s": "s",
    "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.slot_utilization": "ratio",
    "python.eval_s": "s",
    "python.rows": "count",
    "streaming.batches": "count",
    "streaming.batch_s": "s",
    "streaming.state_rows": "count",
    "cache.persisted_after_op": "count",
    "cache.storage_bytes_peak": "bytes",
    "trace.overhead_s": "s",
    "driver.peak_rss_mb": "MiB",
    **{f"entry.{n}.build_s": "s" for n in CORPUS},
    **{f"entry.{n}.action_s": "s" for n in CORPUS},
}


def _layers(ctx, rnd, jobs, spans, phases, op_probes, stream0, stream1,
            storage_peak) -> dict:
    """Per-layer values of one traced round."""
    cores = ctx.spark.sparkContext.defaultParallelism
    out = {k: 0 for k in PER_LAYER_UNITS}

    # jobs → (op, kind): by job group, else by the phase whose wall-clock
    # interval holds the submission (streaming micro-batches run under
    # their query's own job group)
    kind_of = {}
    for j in jobs:
        if j["group"].startswith("pb|"):
            kind_of[j["job"]] = j["group"].rsplit("|", 1)[1]
            continue
        for p in phases:
            if j["submitted"] is not None and p["start"] <= j["submitted"] <= p["end"]:
                kind_of[j["job"]] = p["kind"]
                break
    action_jobs = [j for j in jobs if kind_of.get(j["job"]) == "action"]
    out["queries.build_jobs"] = sum(kind_of.get(j["job"]) == "build"
                                    for j in jobs)
    out["exec.jobs"] = len(action_jobs)
    for key in ("tasks", "task_s", "gc_s", "shuffle_read_bytes",
                "shuffle_write_bytes", "spill_bytes"):
        out[f"exec.{key}"] = sum(j[key] for j in action_jobs)
    out["python.eval_s"] = sum(j["python_eval_s"] for j in jobs)
    out["python.rows"] = sum(j["python_rows"] for j in jobs)

    for op in rnd.ops:
        if f"entry.{op.name}.build_s" in out:
            out[f"entry.{op.name}.build_s"] = op.build_s
            out[f"entry.{op.name}.action_s"] = op.action_s
    out["queries.build_s"], _ = totals(spans, "build")
    out["exec.action_s"], _ = totals(spans, "action")
    if out["exec.action_s"] > 0:
        out["exec.slot_utilization"] = out["exec.task_s"] / (
            out["exec.action_s"] * cores)

    for name in ("catalyst.analysis_ms", "catalyst.optimization_ms",
                 "catalyst.planning_ms"):
        phase = name.split(".")[1][: -len("_ms")]
        out[name] = sum(p.get("catalyst_ms", {}).get(phase, 0)
                        for p in op_probes)

    reads = [s for s in spans if s["name"] == "catalog.read_table"]
    out["catalog.read_table_calls"] = len(reads)
    out["catalog.read_table_s"], _ = totals(spans, "catalog.read_table")
    if reads:
        out["catalog.scan_cache_hit_ratio"] = (
            sum(bool(s["attrs"].get("hit")) for s in reads) / len(reads))

    out["txn_table.read_s"], _ = totals(spans, "txn_table.read")
    out["txn_table.append_s"], _ = totals(spans, "txn_table.append")
    out["txn_table.merge_into_s"], _ = totals(spans, "txn_table.merge_into")
    commits = [s for s in spans if s["name"] in (
        "txn_table.append", "txn_table.overwrite", "txn_table.merge_into")]
    out["txn_table.commits"] = len(commits)
    merges = [s["attrs"] for s in commits if s["name"] == "txn_table.merge_into"]
    out["txn_table.files_rewritten"] = sum(m["files_rewritten"] for m in merges)
    out["txn_table.files_carried"] = sum(m["files_carried"] for m in merges)
    changed = sum(p.get("changed_rows", 0) for p in op_probes)
    if merges and changed:
        rows_written = sum(m["rows_written"] for m in merges)
        out["txn_table.rewrite_useful_ratio"] = changed / rows_written
        last = merges[-1]
        compact_changed = changed * last["live_bytes"] / last["live_rows"]
        appended = sum(s["attrs"]["bytes_written"] for s in commits
                       if s["name"] == "txn_table.append")
        out["txn_table.write_amp"] = (
            (sum(m["bytes_written"] for m in merges) + appended)
            / (compact_changed + appended))
        out["txn_table.space_amp"] = last["disk_bytes"] / last["live_bytes"]

    cycles = [s for s in spans if s["name"] == "pipeline.run_daily"]
    if cycles:
        out["pipeline.run_daily_s"], _ = totals(spans, "pipeline.run_daily")
        out["pipeline.jobs_per_cycle"] = len(jobs) / len(cycles)

    out["streaming.batches"] = stream1["batches"] - stream0["batches"]
    out["streaming.batch_s"] = stream1["batch_s"] - stream0["batch_s"]
    out["streaming.state_rows"] = stream1["state_rows"] - stream0["state_rows"]
    out["cache.persisted_after_op"] = max(
        (p["persisted_rdds"] for p in op_probes), default=0)
    out["cache.storage_bytes_peak"] = storage_peak
    for whole_run in ("trace.overhead_s", "session.start_s",
                      "pipeline.bootstrap_s", "driver.peak_rss_mb"):
        del out[whole_run]
    return out


def _median_layers(traced: list[dict]) -> dict:
    return {k: statistics.median(r[k] for r in traced) for k in traced[0]}


def _self_time_by_name(spans: list[dict]) -> dict[str, float]:
    st = self_times(spans)
    out: dict[str, float] = {}
    for s in spans:
        if s["id"] in st:
            out[s["name"]] = out.get(s["name"], 0.0) + st[s["id"]]
    return out
