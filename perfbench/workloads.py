"""The three benchmark workloads, driven through the package's public API.

Each workload builds its inputs from the seed (the engine only ever sees
parquet files), repeats its set-up a few times (``setup_s`` is the
median), runs a closed timed loop for the requested seconds, then checks
every output against an independent reference outside the timed region.

- ``backfill``   phase 1 + phase 2: ``bootstrap.bulk_bootstrap`` of a
                 folded snapshot, then ``CdcPipeline.run_available`` over
                 replay files on the ``replay`` CLI defaults (stats on, no
                 view), one file per micro-batch; repeated as whole
                 cycles on fresh tables until time is up.
- ``tail_view``  a long-running tail on the ``tail --maintain-view``
                 defaults (stats on, view refreshed every batch, async
                 compaction at 8 files per bucket). One stream with
                 ``maxFilesPerTrigger=1``; the next tail file is dropped
                 into the feed only when the previous batch has finished
                 (one closed-loop client).
- ``query_suite`` a fixed subset of ``__spark_entry__.queries()`` on
                 the project's sf0.001 test tier (copied into
                 ``perfbench/data/``), run to a noop sink pass after
                 pass; the seed sets the query order.

Both CDC workloads end with point lookups of touched conversations
through ``operators.merge.read_state``, so read cost sits beside write
cost.
"""

from __future__ import annotations

import math
import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

from perfbench.proctree import tree_cpu_s

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# a copy of the project's sf0.001 test tier (the ten tables queries() read)
DATA_DIR = os.path.join(ROOT, "perfbench", "data")

# queries() entries timed by query_suite, one or two per layer:
# functions/text.py (minhash buckets, n-gram jaccard pairs), vectors.py
# (IVF assign), multimodal.py (decode), the transcript fold -> render ->
# near-dup -> operators/components.py chain (conversation_dedup), a
# relational aggregate, and a point lookup (the suite's read probe).
# ~5 s a warm pass on 4 cores; all 60 take ~70 s, longer than a run.
QUERY_SUBSET = [
    "point_lookup",
    "q1_pricing",
    "minhash_lsh_buckets",
    "ngram_jaccard_pairs",
    "ivf_assign",
    "multimodal_decode",
    "conversation_dedup",
]

# input sizes and engine config per workload; "smoke" is the tiny run of
# perfbench/test_smoke.py
SIZES = {
    "backfill": {
        "full": dict(snapshot_events=100_000, replay_events=120_000, replay_files=4,
                     n_convs=1_000, n_buckets=16, lookups=8),
        "smoke": dict(snapshot_events=3_000, replay_events=2_000, replay_files=2,
                      n_convs=60, n_buckets=4, lookups=2),
    },
    "tail_view": {
        "full": dict(base_events=20_000, base_convs=400, tail_events=5_000,
                     tail_convs=50, tail_files=8, n_buckets=4, lookups=8),
        "smoke": dict(base_events=3_000, base_convs=60, tail_events=500,
                      tail_convs=10, tail_files=6, n_buckets=4, lookups=2),
    },
    "query_suite": {
        "full": dict(tier="sf0.001"),
        "smoke": dict(tier="sf0.001"),
    },
}
SETUP_REPS = 3
COMPACT_AT = 8  # CdcPipeline's default compact_threshold (files per bucket)
WARM_BATCHES = 2  # tail batches run before the clock starts (JIT warm-up)
PROBES_PER_PASS = 4  # extra point_lookup runs after each query_suite pass
PAYLOAD = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]


@dataclass
class Result:
    """What a workload measured: wall and process-tree CPU seconds of its
    unit operations (``ops``: micro-batches or query passes) and of its
    point reads (``probes``), and ``items`` of work (events, query runs)
    finished in the timed window's ``work_s`` wall and ``work_cpu_s`` CPU
    seconds."""

    setup_walls: list[float] = field(default_factory=list)
    ops: list[float] = field(default_factory=list)
    ops_cpu: list[float] = field(default_factory=list)
    probes: list[float] = field(default_factory=list)
    probes_cpu: list[float] = field(default_factory=list)
    items: int = 0
    work_s: float = 0.0
    work_cpu_s: float = 0.0
    attempted: int = 0
    failed: int = 0
    checks: list[str] = field(default_factory=list)  # failed check messages
    info: dict = field(default_factory=dict)  # workload-named metrics
    layer: dict = field(default_factory=dict)  # per-layer metrics


def _write_snapshot(path: str, feed: pd.DataFrame) -> int:
    """Fold a feed to its latest live row per key and write it as the
    bootstrap source (raw text: the engine normalizes on the way in)."""
    snap = feed.drop_duplicates(["conv_id", "turn_idx"], keep="last")
    snap = snap[snap["op"] != "d"][PAYLOAD]
    snap.to_parquet(path, index=False, coerce_timestamps="us", allow_truncated_timestamps=True)
    return len(snap)


def _lookup_convs(feed: pd.DataFrame, k: int, seed: int) -> list[str]:
    convs = sorted(feed["conv_id"].unique())
    rng = np.random.default_rng(seed)
    return [convs[i] for i in rng.choice(len(convs), size=min(k, len(convs)), replace=False)]


def _frame_eq(name: str, got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    from couch_to_mongo_spark.oracle import assert_state_parity

    try:
        assert_state_parity(got, want)
    except AssertionError as e:
        return f"{name}: {e}"
    return None


class Ctx:
    """Run-wide handles: session, tracer, work dir, seed, seconds, size."""

    def __init__(self, spark, tracer, work: str, seed: int, seconds: float, size: str):
        self.spark = spark
        self.tracer = tracer
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.size = size

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)


class BatchClock:
    """Times every ``CdcPipeline.process_batch`` call (a span per batch in
    traced runs) and runs ``after`` once each batch has returned. The
    first ``warm`` batches are warm-up: their spans are tagged so the
    per-layer figures leave them out."""

    def __init__(self, ctx: Ctx, tag: str, warm: int = 0):
        from couch_to_mongo_spark.streaming import cdc

        self.ctx = ctx
        self.tag = tag
        self.walls: list[tuple[float, float, int]] = []
        self.cpu: list[tuple[float, float]] = []
        self.after = None
        self._cls = cdc.CdcPipeline
        self._orig = cdc.CdcPipeline.process_batch
        clock = self

        def process_batch(pipe, batch_df, batch_id):
            c0, t0 = tree_cpu_s(), time.perf_counter()
            n = len(clock.walls)
            with ctx.tracer.span("cdc.batch", trace=f"{clock.tag}-{n}-b{batch_id}",
                                 batch=batch_id, warm=n < warm):
                clock._orig(pipe, batch_df, batch_id)
            clock.walls.append((t0, time.perf_counter(), batch_id))
            clock.cpu.append((c0, tree_cpu_s()))
            if clock.after is not None:
                clock.after(batch_id)

        self._cls.process_batch = process_batch

    def close(self) -> None:
        self._cls.process_batch = self._orig


def _lookups(ctx: Ctx, table, convs: list[str], res: Result, tag: str) -> dict[str, pd.DataFrame]:
    """Point lookups through ``read_state``, one conversation each, after
    one untimed lookup that plans and compiles the read path."""
    from couch_to_mongo_spark.operators import merge
    from pyspark.sql import functions as F

    def one(conv: str) -> pd.DataFrame:
        return merge.read_state(table).where(F.col("conv_id") == conv).toPandas()

    one(convs[0])
    out = {}
    for conv in convs:
        c0, t0 = tree_cpu_s(), time.perf_counter()
        with ctx.tracer.span("read_state", trace=f"{tag}-lookup-{conv}"):
            out[conv] = one(conv)
        res.probes.append(time.perf_counter() - t0)
        res.probes_cpu.append(tree_cpu_s() - c0)
        res.attempted += 1
    return out


def _check_lookups(name: str, got: dict[str, pd.DataFrame], expected: pd.DataFrame, res: Result) -> None:
    for conv, frame in got.items():
        want = expected[expected["conv_id"] == conv]
        msg = _frame_eq(f"{name} lookup {conv}", frame[PAYLOAD], want[PAYLOAD])
        if msg:
            res.failed += 1
            res.checks.append(msg)


# ---------------------------------------------------------------- backfill


def backfill(ctx: Ctx) -> Result:
    from couch_to_mongo_spark import bootstrap, gen, oracle
    from couch_to_mongo_spark.operators.merge import read_state
    from couch_to_mongo_spark.streaming.cdc import CdcPipeline

    z = SIZES["backfill"][ctx.size]
    res = Result()
    nb = z["n_buckets"]
    snap_feed = gen.make_changes_df(
        n_events=z["snapshot_events"], n_convs=z["n_convs"], seed=ctx.seed
    )
    replay_feed = gen.make_changes_df(
        n_events=z["replay_events"], n_convs=z["n_convs"], seed=ctx.seed + 1,
        seq_start=z["snapshot_events"],
    )
    snap_path = ctx.path("snapshot.parquet")
    n_snap = _write_snapshot(snap_path, snap_feed)
    replay_dir = ctx.path("replay")
    gen.write_change_files(replay_dir, replay_feed, n_files=z["replay_files"])
    # set-up: the same cycle on a tenth of the inputs, repeated; the first
    # pass also pays JIT and Python-worker start
    warm_snap = ctx.path("warm_snapshot.parquet")
    _write_snapshot(warm_snap, snap_feed.iloc[: len(snap_feed) // 10])
    warm_dir = ctx.path("warm_replay")
    gen.write_change_files(warm_dir, replay_feed.iloc[: len(replay_feed) // 10], n_files=2)
    clock = BatchClock(ctx, "backfill")
    try:
        for rep in range(SETUP_REPS):
            t0 = time.perf_counter()
            d = ctx.path(f"warm{rep}")
            bootstrap.bulk_bootstrap(ctx.spark, f"{d}/tbl", ctx.spark.read.parquet(warm_snap), n_buckets=nb)
            CdcPipeline(ctx.spark, f"{d}/tbl", warm_dir, f"{d}/ckpt", n_buckets=nb,
                        max_files_per_trigger=1).run_available()
            res.setup_walls.append(time.perf_counter() - t0)
            shutil.rmtree(d, ignore_errors=True)
        clock.walls.clear()
        clock.cpu.clear()
        ctx.tracer.reset()

        boot_walls, replay_walls, cycles = [], [], []
        deadline = time.perf_counter() + ctx.seconds
        k = 0
        while k == 0 or time.perf_counter() < deadline:
            d = ctx.path(f"cycle{k}")
            n_before = len(clock.walls)
            c0, t0 = tree_cpu_s(), time.perf_counter()
            res.attempted += 1
            bootstrap.bulk_bootstrap(
                ctx.spark, f"{d}/tbl", ctx.spark.read.parquet(snap_path), n_buckets=nb
            )
            t1 = time.perf_counter()
            pipe = CdcPipeline(ctx.spark, f"{d}/tbl", replay_dir, f"{d}/ckpt",
                               n_buckets=nb, max_files_per_trigger=1).run_available()
            t2 = time.perf_counter()
            res.work_cpu_s += tree_cpu_s() - c0
            res.attempted += len(clock.walls) - n_before
            boot_walls.append(t1 - t0)
            replay_walls.append(t2 - t1)
            res.items += n_snap + len(replay_feed)
            res.work_s += t2 - t0
            lookups = _lookups(
                ctx, pipe.table, _lookup_convs(replay_feed, z["lookups"], ctx.seed + k), res, f"cycle{k}"
            )
            cycles.append((d, pipe.table, lookups, len(clock.walls) - n_before))
            k += 1
        res.ops = [b - a for a, b, _ in clock.walls]
        res.ops_cpu = [b - a for a, b in clock.cpu]
    finally:
        clock.close()
    res.info["bootstrap_rows_per_s"] = (n_snap / statistics.median(boot_walls), "rows/s")
    res.info["replay_events_per_s"] = (len(replay_feed) / statistics.median(replay_walls), "events/s")
    res.info["backfill_cycles"] = (len(cycles), "count")
    res.layer.update(_table_layout(cycles[-1][1], [snap_path] + sorted(
        os.path.join(replay_dir, f) for f in os.listdir(replay_dir))))

    expected = oracle.expected_state(pd.concat([snap_feed, replay_feed], ignore_index=True))
    for d, table, lookups, n_batches in cycles:
        msg = _frame_eq(f"backfill {d}", read_state(table).toPandas()[PAYLOAD], expected)
        if msg:
            res.failed += 1 + n_batches
            res.checks.append(msg)
        _check_lookups("backfill", lookups, expected, res)
    return res


# ---------------------------------------------------------------- tail_view


def tail_view(ctx: Ctx) -> Result:
    import threading

    from couch_to_mongo_spark import bootstrap, gen, oracle
    from couch_to_mongo_spark.functions.transcripts import render_conversations
    from couch_to_mongo_spark.operators.corpus_view import RenderedCorpusView
    from couch_to_mongo_spark.operators.merge import read_state
    from couch_to_mongo_spark.streaming.cdc import CdcPipeline

    z = SIZES["tail_view"][ctx.size]
    res = Result()
    nb = z["n_buckets"]
    base_feed = gen.make_changes_df(n_events=z["base_events"], n_convs=z["base_convs"], seed=ctx.seed)
    tail_feed = gen.make_changes_df(
        n_events=z["tail_events"] * z["tail_files"], n_convs=z["tail_convs"],
        seed=ctx.seed + 1, seq_start=z["base_events"],
    )
    snap_path = ctx.path("snapshot.parquet")
    _write_snapshot(snap_path, base_feed)
    staged = gen.write_change_files(ctx.path("staged"), tail_feed, n_files=z["tail_files"])

    # set-up: phase 1 -- base table (bulk copy) + its rendered view, built
    # from scratch SETUP_REPS times; the last build is the one tailed. The
    # copy writes COMPACT_AT files per bucket, the layout a long tail's
    # table has just before compaction fires: every run compacts once,
    # started by the first warm-up batch and joined before the second, so
    # every timed batch sees the same layout and no compaction competes
    # with it.
    boot_walls = []
    for rep in range(SETUP_REPS):
        t0 = time.perf_counter()
        d = ctx.path(f"base{rep}")
        primary, _ = bootstrap.bulk_bootstrap(
            ctx.spark, f"{d}/tbl", ctx.spark.read.parquet(snap_path), n_buckets=nb,
            files_per_bucket=COMPACT_AT,
        )
        boot_walls.append(time.perf_counter() - t0)
        RenderedCorpusView(ctx.spark, primary, f"{d}/view", n_buckets=nb).refresh(
            ctx.spark.read.parquet(snap_path).select("conv_id"), seq=-1,
            run_id="init", batch_id=0, broadcast_convs=False,
        )
        res.setup_walls.append(time.perf_counter() - t0)
        if rep < SETUP_REPS - 1:
            shutil.rmtree(d, ignore_errors=True)
    d = ctx.path(f"base{SETUP_REPS - 1}")
    changes = ctx.path("changes")
    os.makedirs(changes)

    fed: list[str] = []
    done = threading.Event()
    state = {"deadline": None}
    clock = BatchClock(ctx, "tail", warm=WARM_BATCHES)

    def feed() -> None:
        p = staged[len(fed)]
        shutil.move(p, os.path.join(changes, os.path.basename(p)))
        fed.append(os.path.join(changes, os.path.basename(p)))

    def after(batch_id: int) -> None:
        # the compaction the first batch starts is joined before the next
        # batch; the clock starts after the last warm-up batch
        if len(clock.walls) == 1:
            pipe.finish_maintenance()
        if state["deadline"] is None and len(clock.walls) == WARM_BATCHES:
            state["deadline"] = time.perf_counter() + ctx.seconds
        if state["deadline"] is None or (
            time.perf_counter() < state["deadline"] and len(fed) < len(staged)
        ):
            feed()
        else:
            done.set()

    clock.after = after
    ctx.tracer.reset()
    feed()
    pipe = CdcPipeline(
        ctx.spark, f"{d}/tbl", changes, f"{d}/ckpt", n_buckets=nb,
        max_files_per_trigger=1, maintain_view=f"{d}/view",
    )
    q = pipe.start_continuous(processing_time="0 seconds")
    try:
        while not done.wait(0.2):
            if not q.isActive:
                break
        q.stop()
        q.awaitTermination()
    except Exception as e:  # a failed batch terminates the query
        res.failed += 1
        res.checks.append(f"tail stream: {e!r}"[:500])
    finally:
        clock.close()
    pipe.finish_maintenance()
    timed = clock.walls[WARM_BATCHES:]
    timed_cpu = clock.cpu[WARM_BATCHES:]
    res.ops = [b - a for a, b, _ in timed]
    res.ops_cpu = [b - a for a, b in timed_cpu]
    res.attempted += len(clock.walls)
    n_events = z["tail_events"] * len(res.ops)
    span_s = timed[-1][1] - timed[0][0] if timed else 0.0
    res.items, res.work_s = n_events, span_s
    res.work_cpu_s = timed_cpu[-1][1] - timed_cpu[0][0] if timed_cpu else 0.0
    res.info["tail_events_per_s"] = (n_events / span_s if span_s else float("nan"), "events/s")
    res.info["warmup_batch_s"] = (" ".join(f"{b - a:.2f}" for a, b, _ in clock.walls[:WARM_BATCHES]), "s")
    res.info["batch_walls_s"] = (" ".join(f"{x:.2f}" for x in res.ops), "s")
    res.layer.update(_table_layout(pipe.table, [snap_path] + fed))
    res.layer["bootstrap.bulk_bootstrap.s"] = statistics.median(boot_walls)

    applied = tail_feed.iloc[: z["tail_events"] * len(clock.walls)]
    lookups = _lookups(ctx, pipe.table, _lookup_convs(applied, z["lookups"], ctx.seed), res, "tail")

    expected = oracle.expected_state(pd.concat([base_feed, applied], ignore_index=True))
    state_pdf = read_state(pipe.table).toPandas()[PAYLOAD]
    msg = _frame_eq("tail state", state_pdf, expected)
    if msg is None:
        want = render_conversations(read_state(pipe.table)).toPandas()
        got = pipe.view.read().toPandas()
        msg = _view_eq(got, want)
    if msg:
        res.failed += len(clock.walls)
        res.checks.append(msg)
    _check_lookups("tail", lookups, expected, res)
    return res


def _view_eq(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    cols = ["conv_id", "n_turns", "n_chars", "doc"]
    a = got[cols].sort_values("conv_id").reset_index(drop=True)
    b = want[cols].sort_values("conv_id").reset_index(drop=True)
    if len(a) != len(b):
        return f"view rows {len(a)} vs full render {len(b)}"
    bad = ~(a.astype(str) == b.astype(str)).all(axis=1)
    if bad.any():
        return f"view differs from full render on {int(bad.sum())} conversations, first {a.conv_id[bad.idxmax()]}"
    return None


def _table_layout(table, input_files: list[str]) -> dict:
    """Files per bucket and on-disk bytes of the live table against the
    bytes of the input files that produced it."""
    snap = table.snapshot()
    per_bucket = [len(fl) for fl in snap.files.values()] or [0]
    live = sum(os.path.getsize(os.path.join(table.path, f)) for fl in snap.files.values() for f in fl)
    inp = sum(os.path.getsize(p) for p in input_files)
    return {
        "tableformat.files_per_bucket_max": max(per_bucket),
        "tableformat.bytes_per_input_byte": live / inp if inp else 0.0,
    }


# ---------------------------------------------------------------- queries


def query_suite(ctx: Ctx) -> Result:
    import duckdb

    import __spark_entry__ as E

    entry_contract = _entry_contract()
    res = Result()
    data = os.path.join(DATA_DIR, SIZES["query_suite"][ctx.size]["tier"])
    qs = E.queries()
    oracles = E.oracle_sql()
    # the seed fixes the order of the queries within a pass
    order = [QUERY_SUBSET[i] for i in np.random.default_rng(ctx.seed).permutation(len(QUERY_SUBSET))]

    outputs: dict[str, pd.DataFrame] = {}

    def run(name: str, tag: str, collect: bool = False) -> tuple[float, float]:
        c0, t0 = tree_cpu_s(), time.perf_counter()
        with ctx.tracer.span("query", trace=f"{tag}-{name}", query=name):
            df = qs[name](ctx.spark, data)
            if collect:
                outputs[name] = df.toPandas()
            else:
                df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0, tree_cpu_s() - c0

    # set-up: whole warm passes, repeated. The first is cold; it collects
    # each query's rows for the checks, so no pass is run only for them.
    for rep in range(SETUP_REPS):
        t0 = time.perf_counter()
        for name in order:
            run(name, f"warm{rep}", collect=rep == 0)
        res.setup_walls.append(time.perf_counter() - t0)
    ctx.tracer.reset()

    per_query: dict[str, list[float]] = {n: [] for n in order}
    per_query_cpu: dict[str, list[float]] = {n: [] for n in order}
    window_c0, window_t0 = tree_cpu_s(), time.perf_counter()
    deadline = window_t0 + ctx.seconds
    p = 0
    while p == 0 or time.perf_counter() < deadline:
        c0, t0 = tree_cpu_s(), time.perf_counter()
        for name in order:
            res.attempted += 1
            wall, cpu = run(name, f"pass{p}")
            per_query[name].append(wall)
            per_query_cpu[name].append(cpu)
        res.ops.append(time.perf_counter() - t0)
        res.ops_cpu.append(tree_cpu_s() - c0)
        # the read probe: the pass's own point lookup plus PROBES_PER_PASS
        # more, outside the pass
        res.probes.append(per_query["point_lookup"][-1])
        res.probes_cpu.append(per_query_cpu["point_lookup"][-1])
        for _ in range(PROBES_PER_PASS):
            res.attempted += 1
            wall, cpu = run("point_lookup", f"probe{p}")
            res.probes.append(wall)
            res.probes_cpu.append(cpu)
        p += 1
    # throughput over the whole window, probes included
    res.items = p * (len(order) + PROBES_PER_PASS)
    res.work_s = time.perf_counter() - window_t0
    res.work_cpu_s = tree_cpu_s() - window_c0
    meds = {n: statistics.median(per_query[n]) for n in QUERY_SUBSET}
    res.info["query_total_s"] = (statistics.median(res.ops), "s")
    res.info["query_geomean_s"] = (math.exp(statistics.fmean(math.log(v) for v in meds.values())), "s")
    res.info["query_passes"] = (p, "count")
    res.layer.update({f"query.{n}.s": v for n, v in meds.items()})

    con = duckdb.connect()
    for t in entry_contract.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    for name in QUERY_SUBSET:
        try:
            entry_contract.compare(name, outputs[name], con.execute(oracles[name]).fetchdf())
        except AssertionError as e:
            res.failed += len(per_query[name]) + (p * PROBES_PER_PASS if name == "point_lookup" else 0)
            res.checks.append(str(e)[:500])
    con.close()
    return res


def _entry_contract():
    """``tests/test_entry_contract.py``, loaded by path: its ``compare``
    is the order-insensitive rule every query is held to against its
    ``oracle_sql()`` twin, and ``TABLES`` the tables they read."""
    import importlib.util

    path = os.path.join(ROOT, "tests", "test_entry_contract.py")
    spec = importlib.util.spec_from_file_location("perfbench_entry_contract", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


WORKLOADS = {"backfill": backfill, "tail_view": tail_view, "query_suite": query_suite}
