"""Which engine functions the traced run wraps, and the per-layer metrics
computed from the spans.

Every name is patched where its caller looks it up, so nothing inside
``couch_to_mongo_spark/`` changes: ``streaming.cdc`` imports
``merge_batch`` and ``feed_schema_drift`` into its own namespace, the
pipeline imports ``operators.compact.compact`` at call time, and methods
are looked up on their classes.
"""

from __future__ import annotations

import statistics

from perfbench.workloads import QUERY_SUBSET

CDC_LAYER_METRICS = [
    ("cdc.batch.s", "s"),
    ("cdc.batch.self_s", "s"),
    ("cdc.jobs_per_batch", "count"),
    ("cdc.stream_gap.s", "s"),
    ("merge.merge_batch.self_s", "s"),
    ("merge.merge_batch.jobs", "count"),
    ("sources.drift_check.s", "s"),
    ("lineage.append.s", "s"),
    ("tableformat.commit.s", "s"),
    ("tableformat.write_bucketed.s", "s"),
    ("tableformat.write_bucketed.files", "count"),
    ("tableformat.read_buckets.s", "s"),
    ("tableformat.read_buckets.files", "count"),
    ("spark.shuffle_write_bytes_per_batch", "bytes"),
    ("spark.tasks_per_batch", "count"),
    ("corpus_view.refresh.s", "s"),
    ("corpus_view.refresh.jobs", "count"),
    ("corpus_view.maybe_compact.s", "s"),
    ("compact.s", "s"),
    ("compact.buckets", "count"),
    ("compact.files_in", "count"),
    ("tableformat.files_per_bucket_max", "count"),
    ("read_state.s", "s"),
    ("tableformat.bytes_per_input_byte", "ratio"),
    ("bootstrap.bulk_bootstrap.s", "s"),
]
QUERY_LAYER_METRICS = [(f"query.{n}.s", "s") for n in QUERY_SUBSET] + [
    ("query.jobs", "count"),
    ("query.shuffle_write_bytes", "bytes"),
    ("query.spill_bytes", "bytes"),
]
TRACE_METRICS = [("trace.op_s_p50", "s"), ("trace.bookkeeping_s_per_op", "s")]
PER_LAYER = CDC_LAYER_METRICS + QUERY_LAYER_METRICS + TRACE_METRICS


def install(tracer) -> None:
    """Wrap each layer's public entry points in spans."""
    from couch_to_mongo_spark import bootstrap
    from couch_to_mongo_spark.operators import compact as compact_mod
    from couch_to_mongo_spark.operators.corpus_view import RenderedCorpusView
    from couch_to_mongo_spark.streaming import cdc
    from couch_to_mongo_spark.streaming.lineage import LineageLog
    from couch_to_mongo_spark.tableformat import LakeTable

    tracer.wrap(cdc, "merge_batch", "merge.merge_batch")
    tracer.wrap(cdc, "feed_schema_drift", "sources.drift_check")
    tracer.wrap(LineageLog, "append", "lineage.append")
    tracer.wrap(LakeTable, "commit", "tableformat.commit")
    tracer.wrap(
        LakeTable, "write_bucketed", "tableformat.write_bucketed",
        counts=lambda out, *a, **k: {"files": sum(len(v) for v in out.values())},
    )
    tracer.wrap(
        LakeTable, "read_buckets", "tableformat.read_buckets",
        counts=lambda out, *a, **k: {"files": len(out.inputFiles())},
    )
    tracer.wrap(RenderedCorpusView, "refresh", "corpus_view.refresh")
    tracer.wrap(RenderedCorpusView, "maybe_compact", "corpus_view.maybe_compact")
    tracer.wrap(
        compact_mod, "compact", "compact",
        counts=lambda out, *a, **k: {"buckets": len(out), "files_in": sum(out.values())},
    )
    tracer.wrap(bootstrap, "bulk_bootstrap", "bootstrap.bulk_bootstrap")


def _med(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def compute(tracer, res) -> dict[str, float]:
    """Per-layer metrics of one traced run. Per-batch figures are medians
    over the timed micro-batches of the sum within each batch's span tree;
    compaction figures are totals over the run's stream, warm-up included
    (compaction runs on its own thread, outside any batch); layers a
    workload does not reach read 0."""
    kids = tracer.children()
    spans = tracer.spans
    by_name: dict[str, list] = {}
    for s in spans:
        by_name.setdefault(s.name, []).append(s)
    out: dict[str, float] = {name: 0.0 for name, _ in PER_LAYER}

    batches = sorted(
        (s for s in by_name.get("cdc.batch", []) if not s.attrs.get("warm")),
        key=lambda s: s.start,
    )
    per_batch: dict[str, list[float]] = {}
    for b in batches:
        tree = tracer.subtree(b, kids)
        acc: dict[str, float] = {}
        for s in tree:
            acc[f"{s.name}.s"] = acc.get(f"{s.name}.s", 0.0) + s.dur
            if s.name in ("tableformat.write_bucketed", "tableformat.read_buckets"):
                acc[f"{s.name}.files"] = acc.get(f"{s.name}.files", 0) + s.attrs.get("files", 0)
            if s.name in ("merge.merge_batch", "corpus_view.refresh"):
                sub = tracer.subtree(s, kids)
                acc[f"{s.name}.jobs"] = acc.get(f"{s.name}.jobs", 0) + sum(len(x.jobs) for x in sub)
            if s.name == "merge.merge_batch":
                acc["merge.merge_batch.self_s"] = acc.get("merge.merge_batch.self_s", 0.0) + tracer.self_time(s, kids)
        jobs = [j for s in tree for j in s.jobs]
        st = tracer.stage_totals(jobs)
        acc["cdc.batch.self_s"] = tracer.self_time(b, kids)
        acc["cdc.jobs_per_batch"] = len(jobs)
        acc["spark.shuffle_write_bytes_per_batch"] = st["shuffle_write_bytes"]
        acc["spark.tasks_per_batch"] = st["tasks"]
        for k, v in acc.items():
            per_batch.setdefault(k, []).append(v)
    for name, _ in CDC_LAYER_METRICS:
        if name in per_batch:
            # a layer absent from some batches counts 0 there
            vals = per_batch[name] + [0.0] * (len(batches) - len(per_batch[name]))
            out[name] = _med(vals)
    out["cdc.stream_gap.s"] = _med([
        nxt.start - prev.end
        for prev, nxt in zip(batches, batches[1:])
        if nxt.attrs.get("batch") == prev.attrs.get("batch", -2) + 1
    ])

    out["compact.s"] = sum(s.dur for s in by_name.get("compact", []))
    out["compact.buckets"] = sum(s.attrs.get("buckets", 0) for s in by_name.get("compact", []))
    out["compact.files_in"] = sum(s.attrs.get("files_in", 0) for s in by_name.get("compact", []))
    out["corpus_view.maybe_compact.s"] = sum(s.dur for s in by_name.get("corpus_view.maybe_compact", []))
    out["read_state.s"] = _med([s.dur for s in by_name.get("read_state", [])])
    out["bootstrap.bulk_bootstrap.s"] = _med([s.dur for s in by_name.get("bootstrap.bulk_bootstrap", [])])

    queries = [q for q in by_name.get("query", []) if q.trace.startswith("pass")]
    if queries:
        passes: dict[str, list[int]] = {}
        for q in queries:
            jobs = [j for s in tracer.subtree(q, kids) for j in s.jobs]
            passes.setdefault(q.trace.split("-", 1)[0], []).extend(jobs)
        totals = [tracer.stage_totals(j) | {"jobs": len(j)} for j in passes.values()]
        out["query.jobs"] = _med([t["jobs"] for t in totals])
        out["query.shuffle_write_bytes"] = _med([t["shuffle_write_bytes"] for t in totals])
        out["query.spill_bytes"] = _med([t["spill_bytes"] for t in totals])

    for k, v in res.layer.items():
        out[k] = v
    out["trace.op_s_p50"] = _med(res.ops)
    out["trace.bookkeeping_s_per_op"] = tracer.bookkeeping_s / max(len(res.ops), 1)
    return out
