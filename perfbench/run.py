#!/usr/bin/env python3
"""CDC ingest benchmark: one workload per run, one closed-loop caller.

    python3 perfbench/run.py --workload bulk_tail --seed 1 --seconds 12 --trace 0

Each run starts its own Spark session at ``local[<cores>]``, lands a
seeded change log, runs every call of the timed loop once on a throwaway
table, runs the timed loop, and then checks the final table state and every
lookup result against an independent DuckDB replay of the log.  The last
line of standard output is one JSON object; the lines before it print
every metric by name and unit.  ``--trace 1`` additionally attributes
Spark work to each layer call and prints the per-layer metrics instead
of the end-to-end ones.  See README.md beside this file.

Everything the run writes stays under ``.perfbench-work/`` at the root of
the checkout; the run exits non-zero without a result line if the engine
package is not importable from the checkout.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench-work")

E2E_UNITS = {
    "setup_s": "s",
    "ingest_events_per_s": "1/s",
    "batch_latency_p50_s": "s",
    "compact_s": "s",
    "scan_s": "s",
    "repo_scan_s": "s",
    "table_bytes_per_row": "B",
    "peak_rss_mb": "MB",
}

# Printed on every run but without a regression bound (see README.md):
# over ten seeds the lookups' run-to-run spread reached 0.35 of the
# median on bulk_tail, above the 0.25 the other metrics are held to; a
# run affords 2-4 batches, so the batch tail is the slowest one of them,
# a single sample whose spread between sets of runs reached 0.31.
INFO_UNITS = {"batch_latency_tail_s": "s", "lookup_p50_ms": "ms", "lookup_tail_ms": "ms"}

LAYER_UNITS = {
    "session.start_s": "s",
    "generator.write_s": "s",
    "planner.batch_s": "s",
    "merge.spark_jobs_per_batch": "count",
    "merge.driver_gap_s": "s",
    "merge.buckets_rewritten_per_batch": "count",
    "merge.stage_busy_s": "s",
    "merge.task_cpu_s_per_mevent": "s",
    "merge.shuffle_bytes_per_event": "B",
    "merge.spill_bytes": "B",
    "merge.gc_s": "s",
    "merge.reduce_skew": "ratio",
    "merge.winners_per_event": "ratio",
    "changelog.records_scanned_per_event": "ratio",
    "lake.bytes_written_per_event": "B",
    "lake.files_per_batch": "count",
    "lake.manifest_bytes": "B",
    "lake.live_files_at_read": "count",
    "compact.bytes_rewritten": "B",
    "compact.stage_busy_s": "s",
    "lookup.spark_jobs": "count",
    "lookup.driver_gap_ms": "ms",
    "lookup.files_read": "count",
    "lookup.bytes_read": "B",
    "scan.bytes_read": "B",
    "scan.rows_read_per_row_returned": "ratio",
    "stream.trigger_ms": "ms",
    "stream.add_batch_ms": "ms",
    "stream.overhead_ms": "ms",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["bulk_tail", "trickle_stream"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def tail(values: list[float]) -> tuple[float, float, int]:
    """(value, percentile, n): the highest percentile with at least ten
    samples beyond it; with fewer than 21 samples no such percentile sits
    at or above the median, so the maximum is reported instead."""
    xs = sorted(values)
    n = len(xs)
    k = n - 11 if n >= 21 else n - 1
    return xs[k], 100.0 * (k + 1) / n, n


class Context:
    """What the workloads share: the session, the span log, operation
    counts."""

    def __init__(self, spark, tracer, traced: bool, parallelism: int):
        self.spark = spark
        self.tracer = tracer
        self.traced = traced
        self.parallelism = parallelism
        self.attempted = 0
        self.failed = 0

    def batches_from(self, span: dict, state) -> None:
        """One ``batch`` span per commit inside ``span``: from the previous
        commit (or the call's start) to this batch's ``post_apply`` hook."""
        prev = span["start"]
        for m in sorted(m for m in state.marks if span["start"] <= m <= span["end"]):
            self.tracer.add("batch", prev, m, parent=span["id"])
            prev = m
            self.attempted += 1


def start_spark(shape, run_dir: str, traced: bool, cores: int):
    from glad_tiles_pipeline_spark.session import get_spark

    conf = {
        "spark.local.dir": os.path.join(run_dir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        # A heap fixed at its maximum from the start: a growable heap
        # grows as far as the collector's heuristics take it, so the
        # process tree's peak memory swung between 1.8 and 2.9 GB over
        # runs of the same work.  No hsperfdata file in the system temp dir.
        "spark.driver.extraJavaOptions": f"-Xms2g -XX:-UsePerfData -Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
        "spark.ui.showConsoleProgress": "false",
        # the timed loops fill a 2 GB heap; a larger one is a worse
        # neighbour on a shared host
        "spark.driver.memory": "2g",
    }
    if traced:
        ev = os.path.join(run_dir, "eventlog")
        os.makedirs(ev)
        conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": ev,
                     "spark.eventLog.compress": "false", "spark.eventLog.rolling.enabled": "false"})
    spark = get_spark(app_name="perfbench", master=f"local[{cores}]",
                      shuffle_partitions=shape.shuffle_partitions, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, then wait until the JVM
    and every process below it (the Python workers) have ended."""
    from tracing import descendants, wait_gone

    started = descendants(os.getpid())
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    wait_gone(started, timeout_s=30)


def commit_log(table, since: int) -> list[dict]:
    """Per snapshot after ``since``: kind, files added and their bytes."""
    prev = {f["path"] for f in table.manifest(since)["files"]}
    out = []
    for sid in range(since + 1, table.current_snapshot_id() + 1):
        m = table.manifest(sid)
        files = {f["path"] for f in m["files"]}
        added = sorted(files - prev)
        out.append({
            "sid": sid,
            "kind": "compact" if (m.get("metrics") or {}).get("merge_mode") == "compact" else "ingest",
            "files": len(added),
            "bytes": sum(os.path.getsize(os.path.join(table.root, p)) for p in added),
        })
        prev = files
    return out


def engine_hash() -> str:
    """Identifies the engine and benchmark sources, so stored fingerprints
    are only ever compared within one version of the code."""
    h = hashlib.sha256()
    for top in (os.path.join(ROOT, "glad_tiles_pipeline_spark"), HERE):
        for dirpath, dirnames, files in sorted(os.walk(top)):
            dirnames.sort()
            for fn in sorted(files):
                if fn.endswith(".py"):
                    with open(os.path.join(dirpath, fn), "rb") as f:
                        h.update(fn.encode() + f.read())
    return h.hexdigest()[:16]


def check_fingerprint(workload: str, seconds: int, seed: int, fp: dict) -> list[str]:
    """Exact counts must repeat for a seed and differ between seeds.  The
    first run of a seed records them; later runs (traced or not) compare."""
    d = os.path.join(WORK, "fingerprints", engine_hash(), f"{workload}-sec{seconds}")
    os.makedirs(d, exist_ok=True)
    errors = []
    mine = os.path.join(d, f"seed{seed}.json")
    if os.path.exists(mine):
        with open(mine) as f:
            old = json.load(f)
        if old != fp:
            errors.append(f"fingerprint of seed {seed} changed: {old} -> {fp}")
    else:
        with open(mine, "w") as f:
            json.dump(fp, f, sort_keys=True)
    others = 0
    for fn in sorted(os.listdir(d)):
        if fn != f"seed{seed}.json" and fn.endswith(".json"):
            with open(os.path.join(d, fn)) as f:
                if json.load(f) == fp:
                    errors.append(f"fingerprint of seed {seed} equals that of {fn[:-5]}")
            others += 1
    print(f"# fingerprint {json.dumps(fp, sort_keys=True)} "
          f"(differs from {others - len([e for e in errors if 'equals' in e])} other seeds)")
    return errors


def e2e_metrics(tracer, state, setup_s: float, peak_rss: int, peak_at: float,
                commits_head_bytes: int) -> tuple[dict, dict, dict]:
    """(bounded metrics, notes, metrics printed without a bound)."""
    def durs(name):
        return [s["end"] - s["start"] for s in tracer.under(name, "measure")]

    events = sum(r["metrics"]["events_read"] for r in state.results if not r.get("skipped"))
    batch = durs("batch")
    look = [d * 1000 for d in durs("lookup")]
    b_tail, b_pct, b_n = tail(batch)
    l_tail, l_pct, l_n = tail(look)
    m = {
        "setup_s": setup_s,
        "ingest_events_per_s": events / sum(durs("ingest")),
        "batch_latency_p50_s": statistics.median(batch),
        "compact_s": statistics.median(durs("compact")),
        "scan_s": statistics.median(durs("scan")),
        "repo_scan_s": statistics.median(durs("repo_scan")),
        "table_bytes_per_row": commits_head_bytes / state.scan_rows[-1],
        "peak_rss_mb": peak_rss / 2**20,
    }
    phase = next(sp["name"] for sp in reversed(tracer.spans) if sp["start"] <= peak_at <= sp["end"])
    notes = {
        "peak_rss_mb": f"during {phase}",
        "batch_latency_tail_s": f"p{b_pct:.0f} of {b_n} batches",
        "lookup_tail_ms": f"p{l_pct:.0f} of {l_n} lookups",
        "ingest_events_per_s": f"{events} events",
        "compact_s": f"median of {len(durs('compact'))}",
        "scan_s": f"median of {len(durs('scan'))}",
    }
    info = {"batch_latency_tail_s": b_tail,
            "lookup_p50_ms": statistics.median(look), "lookup_tail_ms": l_tail}
    return m, notes, info


def main(argv=None) -> int:
    args = parse_args(argv)
    t_start = time.time()
    # The engine comes from this checkout, for the driver and for the
    # Python workers Spark forks for the Arrow UDFs, whatever the cwd.
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + ([os.environ["PYTHONPATH"]] if os.environ.get("PYTHONPATH") else []))
    import glad_tiles_pipeline_spark  # noqa: F401  (fails fast without the engine)
    from oracle import Oracle
    from tracing import RssSampler, StreamProgress, Tracer
    from workloads import WORKLOADS

    wl = WORKLOADS[args.workload]
    shape = wl.shape(args.seconds)
    traced = bool(args.trace)
    cores = len(os.sched_getaffinity(0))
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # the launcher JVM's hsperfdata

    tracer = Tracer(spark_groups=traced)
    spark = None
    oracle = None
    errors: list[str] = []
    progress = None
    rss = RssSampler()
    ok = False
    try:
        with tracer.span("setup"):
            with tracer.span("session"):
                spark = start_spark(shape, run_dir, traced, cores)
            tracer.sc = spark.sparkContext
            ctx = Context(spark, tracer, traced, cores)
            state = wl.prepare(ctx, shape, args.seed, os.path.join(run_dir, "main"))
            oracle = Oracle([os.path.join(d, "*.parquet") for d in state.log_dirs],
                            os.path.join(run_dir, "duckdb"))
            state.keys = oracle.probe_keys(args.seed, shape.probe)
            state.hot_repo = oracle.hot_repo()
            with tracer.span("warmup"):
                wl.warm(ctx, shape, state)
        setup_s = time.time() - t_start
        sid0 = state.table.current_snapshot_id()
        if traced:
            progress = StreamProgress()
            spark.streams.addListener(progress.listener)
            _trace_apply_batch(tracer)
        with tracer.span("measure"), rss:
            wl.measure(ctx, shape, state)
        with tracer.span("verify"):
            errors += _verify(ctx, state, oracle, run_dir)
        commits = commit_log(state.table, sid0)
        head = state.table.manifest()
        head_bytes = sum(os.path.getsize(os.path.join(state.table.root, f["path"]))
                         for f in head["files"])
        manifest_bytes = os.path.getsize(
            os.path.join(state.table.root, "manifests", f"v{head['snapshot_id']}.json"))
        ok = True
    except Exception:
        traceback.print_exc()
    finally:
        if spark is not None:
            stop_spark(spark)
        if oracle is not None:
            oracle.close()
    if not ok:
        shutil.rmtree(run_dir, ignore_errors=True)
        return 1

    metrics, notes, info = e2e_metrics(tracer, state, setup_s, rss.peak_bytes, rss.peak_at,
                                       head_bytes)
    fp = _fingerprint(state, commits)
    ctx.attempted += 1
    errors += check_fingerprint(args.workload, args.seconds, args.seed, fp)
    ctx.failed += len(errors)

    results_dir = os.path.join(WORK, "results")
    os.makedirs(results_dir, exist_ok=True)
    stem = os.path.join(results_dir, f"{args.workload}-sec{args.seconds}-seed{args.seed}")
    tracer.dump(f"{stem}-trace{args.trace}.spans.json")
    report = {"e2e": metrics, "info": info, "notes": notes, "fingerprint": fp, "errors": errors}
    if traced:
        from tracing import Attribution, read_event_log

        att = Attribution(read_event_log(os.path.join(run_dir, "eventlog")), tracer.spans)
        out = _layer_metrics(tracer, att, state, commits, progress, manifest_bytes)
        report["layers"] = out
        untraced = f"{stem}-trace0.json"
        if os.path.exists(untraced):
            with open(untraced) as f:
                base = json.load(f)["e2e"]
            report["overhead"] = {k: metrics[k] - base[k] for k in metrics}
            for k, v in report["overhead"].items():
                print(f"# tracing overhead {k:24s} {v:+.6g} {E2E_UNITS[k]}")
        units = LAYER_UNITS
    else:
        out = metrics
        units = E2E_UNITS
    with open(f"{stem}-trace{args.trace}.json", "w") as f:
        json.dump(report, f, indent=1, sort_keys=True)
    shutil.rmtree(run_dir, ignore_errors=True)

    for e in errors:
        print(f"# FAILED {e}")
    for k, v in metrics.items():
        print(f"# {k:34s} {v:14.6g} {E2E_UNITS[k]:6s} {notes.get(k, '')}")
    for k, v in info.items():
        print(f"# {k:34s} {v:14.6g} {INFO_UNITS[k]:6s} {notes.get(k, '')} (no bound)")
    if traced:
        for k, v in out.items():
            print(f"# {k:34s} {v:14.6g} {LAYER_UNITS[k]}")
    print(f"# failed_ops {ctx.failed}/{ctx.attempted}")
    print(json.dumps({
        "correct": not errors,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in out.items()},
    }))
    return 0 if not errors else 1


def _trace_apply_batch(tracer) -> None:
    """Record an ``apply_batch`` span around each MERGE the batch planner
    runs (traced runs only): the planner-side analogue of the stream's
    addBatch duration."""
    import glad_tiles_pipeline_spark.plans.planner as planner

    inner = planner.apply_batch

    def apply_batch(*a, **kw):
        t0 = tracer.now()
        try:
            return inner(*a, **kw)
        finally:
            tracer.add("apply_batch", t0, tracer.now(), parent=tracer.current())

    planner.apply_batch = apply_batch


def _verify(ctx, state, oracle, run_dir: str) -> list[str]:
    """Final state and every lookup against the DuckDB replay."""
    from pyspark.sql import functions as F

    export = os.path.join(run_dir, "engine_state")
    state.table.scan(ctx.spark).select(
        "repo", "path", "commit", "lang", "content_sha",
        F.sha2("content", 256).alias("content_sha_check"),
    ).write.parquet(export)
    errors = []
    mm = oracle.state_mismatches(os.path.join(export, "*.parquet"), state.max_offset)
    ctx.attempted += 1
    print(f"# final state vs oracle: {mm}")
    if mm["missing"] or mm["extra"] or mm["bad_sha"]:
        errors.append(f"final state differs from the oracle: {mm}")
    if mm["expected_rows"] != state.scan_rows[-1]:
        errors.append(f"scan().count() {state.scan_rows[-1]} != oracle rows {mm['expected_rows']}")
    expected = oracle.expected_lookups([(hw, r, p) for hw, r, p, _ in state.probes])
    for (hw, repo, path, rows), exp in zip(state.probes, expected):
        if rows != ([exp] if exp is not None else []):
            errors.append(f"lookup ({repo}, {path}) at offset {hw}: {rows} != {exp}")
    return errors


def _fingerprint(state, commits: list[dict]) -> dict:
    done = [r["metrics"] for r in state.results if not r.get("skipped")]
    ingest = [c for c in commits if c["kind"] == "ingest"]
    comp = [c for c in commits if c["kind"] == "compact"]
    return {
        "batches": len(done),
        "events_read": sum(m["events_read"] for m in done),
        "winners": sum(m["winners"] for m in done),
        "deletes": sum(m["deletes_requested"] for m in done),
        "live_rows": state.scan_rows[-1],
        "files_written": sum(c["files"] for c in ingest),
        "bytes_written": sum(c["bytes"] for c in ingest),
        "compactions": len(comp),
        "compact_files": sum(c["files"] for c in comp),
    }


def _layer_metrics(tracer, att, state, commits, progress, manifest_bytes: int) -> dict:
    med = statistics.median

    def mean(xs):
        return sum(xs) / len(xs)

    def spans(name):
        return tracer.under(name, "measure")

    done = [r["metrics"] for r in state.results if not r.get("skipped")]
    events = sum(m["events_read"] for m in done)
    by_id = {s["id"]: s for s in tracer.spans}
    batches = spans("batch")
    per_batch = []
    for b in batches:
        jobs = att.window_jobs(b["start"], b["end"], by_id[b["parent"]])
        tasks = att.tasks_of(jobs)
        busy = att.busy_s(jobs, b["start"], b["end"])
        per_batch.append({
            "jobs": len(jobs), "busy": busy, "gap": (b["end"] - b["start"]) - busy,
            "tasks": tasks, "gc": sum(t["gc_s"] for t in tasks), "skew": att.reduce_skew(jobs),
        })
    all_tasks = [t for pb in per_batch for t in pb["tasks"]]
    ingest_commits = [c for c in commits if c["kind"] == "ingest"]
    compact_commits = [c for c in commits if c["kind"] == "compact"]

    def span_io(name):
        out = []
        for s in spans(name):
            jobs = att.jobs_in(s)
            tasks = att.tasks_of(jobs)
            busy = att.busy_s(jobs, s["start"], s["end"])
            out.append({"jobs": len(jobs), "gap": (s["end"] - s["start"]) - busy, "busy": busy,
                        "bytes": sum(t["input_bytes"] for t in tasks),
                        "records": sum(t["input_records"] for t in tasks),
                        "attrs": s["attrs"]})
        return out

    lookups, scans, compacts = span_io("lookup"), span_io("scan"), span_io("compact")
    skews = [pb["skew"] for pb in per_batch if pb["skew"] is not None]
    if progress is not None and progress.progress:
        trig = [p["duration_ms"].get("triggerExecution", 0) for p in progress.progress]
        add = [p["duration_ms"].get("addBatch", 0) for p in progress.progress]
    else:
        trig = [(b["end"] - b["start"]) * 1000 for b in batches]
        add = [(s["end"] - s["start"]) * 1000 for s in spans("apply_batch")]
    setup = [s for s in tracer.spans if s["name"] == "land" and s["parent"] and
             by_id[s["parent"]]["name"] == "setup"]
    return {
        "session.start_s": sum(s["end"] - s["start"] for s in tracer.spans if s["name"] == "session"),
        "generator.write_s": sum(s["end"] - s["start"] for s in setup),
        "planner.batch_s": med([b["end"] - b["start"] for b in batches]),
        "merge.spark_jobs_per_batch": mean([pb["jobs"] for pb in per_batch]),
        "merge.driver_gap_s": med([pb["gap"] for pb in per_batch]),
        "merge.buckets_rewritten_per_batch": mean([m["buckets_rewritten"] for m in done]),
        "merge.stage_busy_s": med([pb["busy"] for pb in per_batch]),
        "merge.task_cpu_s_per_mevent": sum(t["cpu_s"] for t in all_tasks) / (events / 1e6),
        "merge.shuffle_bytes_per_event": sum(t["shuffle_write"] for t in all_tasks) / events,
        "merge.spill_bytes": sum(t["spill"] for t in all_tasks) / len(per_batch),
        "merge.gc_s": med([pb["gc"] for pb in per_batch]),
        "merge.reduce_skew": med(skews) if skews else 1.0,
        "merge.winners_per_event": sum(m["winners"] for m in done) / events,
        "changelog.records_scanned_per_event": sum(t["input_records"] for t in all_tasks) / events,
        "lake.bytes_written_per_event": sum(c["bytes"] for c in ingest_commits) / events,
        "lake.files_per_batch": sum(c["files"] for c in ingest_commits) / len(ingest_commits),
        "lake.manifest_bytes": manifest_bytes,
        "lake.live_files_at_read": med(state.live_files),
        "compact.bytes_rewritten": med([c["bytes"] for c in compact_commits]) if compact_commits else 0,
        "compact.stage_busy_s": med([c["busy"] for c in compacts]),
        "lookup.spark_jobs": mean([x["jobs"] for x in lookups]),
        "lookup.driver_gap_ms": med([x["gap"] for x in lookups]) * 1000,
        "lookup.files_read": med([x["attrs"]["files"] for x in lookups]),
        "lookup.bytes_read": med([x["bytes"] for x in lookups]),
        "scan.bytes_read": med([x["bytes"] for x in scans]),
        "scan.rows_read_per_row_returned": med([x["records"] / max(x["attrs"]["rows"], 1) for x in scans]),
        "stream.trigger_ms": med(trig),
        "stream.add_batch_ms": med(add),
        "stream.overhead_ms": med([t - a for t, a in zip(trig, add)]),
    }


if __name__ == "__main__":
    sys.exit(main())
