"""The closed-loop workloads, each driven by a single caller through
the engine's public functions.

Each workload has three steps.  ``prepare`` lands its seeded log and
creates its table; ``warm`` runs every call of the timed loop once,
untimed, on a small slice of that log (seeding the real table where the
workload needs one); ``measure`` is the timed loop.  Set-up is
``prepare`` + ``warm``.

Work per run is a fixed quota derived from ``--seconds`` with the
per-workload rates below, never from the clock, so one seed always does
the same work and yields the same exact counts.
"""

from __future__ import annotations

import glob
import os
import shutil
from dataclasses import dataclass, field

from glad_tiles_pipeline_spark.operators.merge import compact, plan_compaction
from glad_tiles_pipeline_spark.plans.lake import LakeTable
from glad_tiles_pipeline_spark.plans.planner import ingest_changelog
from glad_tiles_pipeline_spark.sources.generator import change_log
from glad_tiles_pipeline_spark.streaming.bridge import stream_ingest

DELTA_PROBE_KEYS = 6


@dataclass
class Shape:
    """Sizes of one workload instance."""

    n_buckets: int
    shuffle_partitions: int
    content_repeat: int
    paths_per_repo: int
    seed_events: int      # events in the table before the timed loop
    window: int           # events per ingest window / stream file
    windows: int          # ingest windows (or stream files) in the timed loop
    probe: dict           # lookup keys per read probe, by kind
    scans: int = 1        # repeats of each scan in a read probe
    compactions: int = 1  # timed compactions, each of an identical copy of the table


@dataclass
class State:
    table: LakeTable
    log_dirs: list
    base: str
    max_offset: int
    marks: list = field(default_factory=list)    # post_apply hook times
    results: list = field(default_factory=list)  # apply_batch summaries
    probes: list = field(default_factory=list)   # (hw, repo, path, rows) per lookup
    live_files: list = field(default_factory=list)
    scan_rows: list = field(default_factory=list)
    keys: list = field(default_factory=list)
    hot_repo: str = ""


def _land(ctx, shape: Shape, seed: int, n_events: int, out: str) -> None:
    with ctx.tracer.span("land", events=n_events):
        change_log(
            ctx.spark, n_events, seed=seed, paths_per_repo=shape.paths_per_repo,
            content_repeat=shape.content_repeat, partitions=ctx.parallelism,
        ).write.parquet(out)


def _mark(state: State, tracer):
    def hook(events, batch_id, offsets):
        state.marks.append(tracer.now())
    return hook


def _new_table(state: State, name: str, n_buckets: int) -> LakeTable:
    return LakeTable.create(os.path.join(state.base, name), n_buckets=n_buckets)


def read_probe(ctx, state: State, hw: int, table: LakeTable | None = None,
               keys: list | None = None, scans: int = 1) -> None:
    """Point lookups for the fixed key set (or ``keys``), then ``scans``
    hot-repo scans and full counts.  Lookup results are kept for the
    oracle, which replays the log to offset ``hw``.  With another ``table``
    (a warm-up) nothing is kept."""
    spark, tr = ctx.spark, ctx.tracer
    keep = table is None
    table = table or state.table
    if keep:
        state.live_files.append(len(table.manifest()["files"]))
    for kind, repo, path in state.keys if keys is None else keys:
        with tr.span("lookup", kind=kind) as s:
            rows = table.lookup(spark, repo, path).select("commit", "lang", "content_sha").collect()
        if keep:
            ctx.attempted += 1
            state.probes.append((hw, repo, path, [tuple(r) for r in rows]))
            if ctx.traced:
                s["attrs"]["files"] = len(table.lookup(spark, repo, path).inputFiles())
    for _ in range(scans):
        with tr.span("repo_scan", repo=state.hot_repo) as s:
            s["attrs"]["rows"] = len(table.scan(spark, repos=[state.hot_repo]).collect())
        with tr.span("scan") as s:
            n = table.scan(spark).count()
            s["attrs"]["rows"] = n
        if keep:
            ctx.attempted += 2
            state.scan_rows.append(n)


class BulkTail:
    """Backfill / catch-up with reads beside it: ~1 KB files over a key
    space far larger than a window are tailed through mor windows; the
    delta-heavy snapshot is probed, the compaction policy picks the
    read-amplified buckets, and the freshly compacted snapshot is probed
    again."""

    name = "bulk_tail"

    def shape(self, seconds: int) -> Shape:
        return Shape(n_buckets=16, shuffle_partitions=8, content_repeat=16, paths_per_repo=20_000,
                     seed_events=0, window=40_000, windows=max(2, round(seconds / 5)),
                     probe={"hot": 5, "cold": 5, "deleted": 3, "absent": 2})

    def prepare(self, ctx, shape: Shape, seed: int, base: str) -> State:
        log = os.path.join(base, "log")
        n = shape.window * shape.windows
        _land(ctx, shape, seed, n, log)
        table = LakeTable.create(os.path.join(base, "table"), n_buckets=shape.n_buckets)
        return State(table=table, log_dirs=[log], base=base, max_offset=n - 1)

    def warm(self, ctx, shape: Shape, state: State) -> None:
        # a window of half the timed size: smaller ones leave the first
        # timed batch visibly slower than the rest
        t = _new_table(state, "warm", shape.n_buckets)
        ingest_changelog(ctx.spark, t, state.log_dirs[0], batch_size=shape.window // 2,
                         max_batches=1, merge_mode="mor")
        read_probe(ctx, state, -1, table=t, keys=state.keys[:1])
        compact(ctx.spark, t, buckets=plan_compaction(t, max_delta_files=0))
        read_probe(ctx, state, -1, table=t, keys=state.keys[:1])

    def measure(self, ctx, shape: Shape, state: State) -> None:
        tr, spark, table = ctx.tracer, ctx.spark, state.table
        with tr.span("ingest") as s:
            state.results += ingest_changelog(
                spark, table, state.log_dirs[0], batch_size=shape.window,
                merge_mode="mor", post_apply=_mark(state, tr),
            )
        ctx.batches_from(s, state)
        # fewer lookups on the delta-heavy snapshot than on the compacted
        # one: the two latency clusters then never straddle the median
        read_probe(ctx, state, state.max_offset, keys=state.keys[:DELTA_PROBE_KEYS])
        with tr.span("compact"):
            # every bucket holds one delta file per window by now
            compact(spark, table, buckets=plan_compaction(table, max_delta_files=1))
        ctx.attempted += 1
        read_probe(ctx, state, state.max_offset)


class TrickleStream:
    """Continuous small batches into a hot table: a mor backfill seeds the
    table in set-up; the timed part compacts two identical copies of it
    and then the table itself (the switch-over to streaming), drains one
    ~10k-event file per micro-batch through the streaming bridge with
    copy-on-write merges, then probes reads."""

    name = "trickle_stream"

    def shape(self, seconds: int) -> Shape:
        return Shape(n_buckets=8, shuffle_partitions=4, content_repeat=1, paths_per_repo=1_000,
                     seed_events=20_000, window=10_000, windows=max(4, round(seconds / 2.5)),
                     probe={"hot": 2, "cold": 2, "deleted": 1, "absent": 1}, scans=8,
                     compactions=3)

    def prepare(self, ctx, shape: Shape, seed: int, base: str) -> State:
        """One generated log, one file per ``window`` events (``spark.range``
        slices evenly by partition), split in two directories: the seed
        files, and the stream files, so the stream sees only its own."""
        total = shape.seed_events + shape.windows * shape.window
        log_dir = os.path.join(base, "log")
        seed_dir, stream_dir = os.path.join(base, "log_seed"), os.path.join(base, "log_stream")
        with ctx.tracer.span("land", events=total):
            change_log(
                ctx.spark, total, seed=seed, paths_per_repo=shape.paths_per_repo,
                content_repeat=shape.content_repeat, partitions=total // shape.window,
            ).write.parquet(log_dir)
        files = sorted(glob.glob(os.path.join(log_dir, "part-*.parquet")))
        n_seed = shape.seed_events // shape.window
        os.makedirs(seed_dir)
        os.makedirs(stream_dir)
        for i, p in enumerate(files):
            dst = os.path.join(seed_dir if i < n_seed else stream_dir, os.path.basename(p))
            os.rename(p, dst)
            if i >= n_seed:
                # the file source takes files in modification-time order:
                # stamp them in offset order, as a change feed lands them
                os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))
        table = LakeTable.create(os.path.join(base, "table"), n_buckets=shape.n_buckets)
        return State(table=table, log_dirs=[seed_dir, stream_dir], base=base, max_offset=total - 1)

    def warm(self, ctx, shape: Shape, state: State) -> None:
        """The seed is a mor ingest, which warms that path.  Identical
        copies of the seeded table follow: the timed part compacts all but
        the first beside the table itself, so compact_s is a median over
        runs of one compaction; the first runs the timed calls once here,
        on one stream file."""
        spark = ctx.spark
        with ctx.tracer.span("seed"):
            ingest_changelog(spark, state.table, state.log_dirs[0],
                             batch_size=shape.seed_events, merge_mode="mor")
        for i in range(shape.compactions):
            shutil.copytree(state.table.root, os.path.join(state.base, f"copy{i}"))
        t = LakeTable(os.path.join(state.base, "copy0"))
        compact(spark, t)
        one = os.path.join(state.base, "warm_stream")
        os.makedirs(one)
        first = sorted(glob.glob(os.path.join(state.log_dirs[1], "*.parquet")))[0]
        shutil.copy2(first, one)
        stream_ingest(spark, t, one, os.path.join(state.base, "warm_checkpoint"),
                      max_files_per_trigger=1, merge_mode="cow")
        # the timed probe is all short, driver-bound jobs: warm them longer
        read_probe(ctx, state, -1, table=t, keys=state.keys, scans=4)

    def measure(self, ctx, shape: Shape, state: State) -> None:
        tr = ctx.tracer
        copies = [LakeTable(os.path.join(state.base, f"copy{i}")) for i in range(1, shape.compactions)]
        for table in copies + [state.table]:
            with tr.span("compact"):
                compact(ctx.spark, table)
            ctx.attempted += 1
        with tr.span("ingest") as s:
            state.results += stream_ingest(
                ctx.spark, state.table, state.log_dirs[1], os.path.join(state.base, "checkpoint"),
                max_files_per_trigger=1, merge_mode="cow", post_apply=_mark(state, tr),
            )
        ctx.batches_from(s, state)
        read_probe(ctx, state, state.max_offset, scans=shape.scans)


WORKLOADS = {w.name: w for w in (BulkTail(), TrickleStream())}
