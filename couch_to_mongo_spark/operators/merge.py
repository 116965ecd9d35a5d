"""MERGE INTO as a merge-on-read delta append (SURVEY.md §2.1 S6, §2.6 JN3).

Semantics of the reference's upsert sink — unordered bulkWrite of
``UpdateOneModel({_id}, {$set: doc}, upsert=true)`` (reference:
Mongo.java:115-187) — generalized to the composite key ``(conv_id,
turn_idx)`` and extended with deletes (which the reference silently drops,
SURVEY.md §2.10):

    MERGE INTO target t USING batch s
    ON t.conv_id = s.conv_id AND t.turn_idx = s.turn_idx
    WHEN MATCHED AND s.op = 'd' THEN DELETE
    WHEN MATCHED AND (s._seq, s.rev) > (t._seq, t.rev) THEN UPDATE SET *
    WHEN NOT MATCHED THEN INSERT *

Physical plan (no Iceberg/Delta dependency, so the table format is built
from scratch), chosen to be **order-insensitive**: the table stores the
winning ``(_seq, _rev)`` per key plus tombstones (``_deleted``), and
readers resolve

    state = LWW( every delta row of a bucket )

so MERGE is an append — no anti-join, no conditional update logic, no
rewrite of existing rows. Replaying any batch, in any order, reconverges
to the same state; deletes are durable tombstones (purged by compaction),
fixing the reference's delete-resurrection gap.

This module owns that decision: ``KEY_COLS`` (the key), :func:`lww_order`
(the winner order) and :func:`resolve` (LWW per key, then optionally the
live rows only). The apply window, :func:`read_state`, the corpus-view
refresh, compaction, rescale, the lineage stats and the change feed all
call these three.

Steps (one write path):
1. one exchange: the batch is repartitioned by bucket ``pmod(xxhash64(
   conv_id), n_buckets)`` and LWW-deduped inside those partitions, so one
   row per key reaches the write;
2. the post-dedup transform runs on the winners; poison rows are
   quarantined;
3. the winners stream out of the same partitions as per-bucket delta
   files; the touched buckets are the buckets written, so I/O is
   O(changed);
4. lineage stats (``collect_stats``) come from ONE aggregate over the
   written delta, the touched buckets' pre-state and the raw batch; the
   change feed (``cdf``) is classified from the same written delta;
5. the snapshot is committed atomically with lineage and the
   ``(run_id, batch_id)`` fence entry. Compaction (operators/compact.py)
   folds buckets back to one file.
"""

from __future__ import annotations

import os
from dataclasses import asdict, dataclass
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from couch_to_mongo_spark.operators.dedup import bucket_partitioned_lww, lww_dedup, rev_gen
from couch_to_mongo_spark.operators.poison import POISON_COL
from couch_to_mongo_spark.operators.schema_evolution import align_to_schema, evolve_schema
from couch_to_mongo_spark.tableformat import BUCKET_COL, LakeTable, bucket_expr

# engine-managed columns stored in the table alongside the payload
SEQ_COL = "_seq"
REV_COL = "_rev"
DELETED_COL = "_deleted"
ENGINE_COLS = (SEQ_COL, REV_COL, DELETED_COL)
# transient columns never persisted
TRANSIENT_COLS = ("op", "seq", BUCKET_COL)
#: the engine key — the reference's ``_id`` (Mongo.java:115-187), per turn
KEY_COLS = ("conv_id", "turn_idx")


def lww_order(seq: str = SEQ_COL) -> list[Column]:
    """The last-writer-wins order, highest wins: change seq (``seq`` names
    it: ``seq`` in a change batch, ``_seq`` in the table), then the
    revision generation (parsed inline by ``dedup.rev_gen``), then the
    revision string as tiebreaker. A null revision ranks below every real
    one."""
    return [F.col(seq), rev_gen(REV_COL), F.col(REV_COL)]


def resolve(df: DataFrame, live_only: bool = True) -> DataFrame:
    """Merge-on-read resolution of raw delta rows: the :func:`lww_order`
    winner per key, tombstones included. With ``live_only``, tombstone
    winners and the engine columns are dropped — the public state. Any
    pre-filter that keeps or drops whole keys composes safely: LWW is per
    key, so it cannot change a surviving key's winner."""
    df = lww_dedup(df, list(KEY_COLS), lww_order())
    if not live_only:
        return df
    return df.where(~F.coalesce(F.col(DELETED_COL), F.lit(False))).drop(*ENGINE_COLS)


def engine_fields() -> list[T.StructField]:
    return [
        T.StructField(SEQ_COL, T.LongType(), True),
        T.StructField(REV_COL, T.StringType(), True),
        T.StructField(DELETED_COL, T.BooleanType(), True),
    ]


def with_engine_schema(payload: T.StructType) -> T.StructType:
    """Payload schema + engine columns — the physical table schema."""
    return T.StructType(list(payload.fields) + engine_fields())


@dataclass
class MergeResult:
    skipped: bool
    snapshot_id: int | None = None
    n_inserts: int = 0
    n_updates: int = 0
    n_deletes: int = 0
    rows_applied: int = 0
    seq_min: int | None = None
    seq_max: int | None = None
    touched_buckets: int = 0
    n_poison: int = 0

    def to_lineage(self) -> dict[str, Any]:
        return asdict(self)


def merge_batch(
    table: LakeTable,
    batch_df: DataFrame,
    run_id: str,
    batch_id: int,
    collect_stats: bool = True,
    transform_after_dedup=None,
    dead_letter=None,
    cdf=None,
) -> MergeResult:
    """Apply one change batch to the table, exactly-once under replay.

    ``batch_df`` columns: ``KEY_COLS`` + op + seq + _rev (optional) +
    payload columns.

    The LWW-deduped batch (tombstones included) is appended as per-bucket
    delta files — write cost O(batch), never O(table). Readers resolve
    multi-version rows with the same LWW ordering (:func:`read_state`) and
    compaction folds buckets back to one file.

    ``collect_stats`` fills the lineage counts: ``n_inserts`` /
    ``n_updates`` / ``n_deletes`` classify each written row that outranks
    the LWW-resolved pre-state of its key (the rows the change feed
    emits), and ``seq_min`` / ``seq_max`` are the raw SOURCE range
    (pre-dedup, poison rows included — the analogue of the reference's
    per-doc sequence audit, Mongo.java:535).
    Without it, ``rows_applied`` / ``seq_min`` / ``seq_max`` are the
    written rows and their ``_seq`` range, read from the parquet footers
    at no Spark cost.

    ``cdf`` (a :class:`~couch_to_mongo_spark.operators.cdf.ChangeFeedLog`):
    emit row-level semantic changes (insert / update pre+post images /
    delete) for this batch — O(changed rows), classified from the written
    delta against the touched buckets' full-width pre-state.
    """
    if table.is_batch_committed(run_id, batch_id):
        return MergeResult(skipped=True)

    # metadata-only load: merge needs version/schema/n_buckets here;
    # read_buckets resolves just the touched buckets' manifests, so a cold
    # driver's per-batch manifest I/O is O(touched), not O(n_buckets)
    snap = table.snapshot(materialize=False)
    n_buckets = snap.n_buckets

    # --- normalize batch to engine shape: _seq/_rev/_deleted + payload ---
    b = batch_df
    if REV_COL not in b.columns:
        b = b.withColumn(REV_COL, F.lit(None).cast("string"))
    # Single-shuffle apply. The ONE exchange is the bucket repartition,
    # done FIRST; everything downstream reuses it: the partition key is a
    # subset of the dedup window's partitionBy, so Catalyst plans the LWW
    # as Sort+WindowGroupLimit+Window with NO further exchange
    # (WindowGroupLimit prunes losers during the sort), and the
    # bucket-partitioned write streams straight out of the same partitions
    # (one file per bucket). The payload crosses the wire exactly once.
    # Plan-asserted in tests/test_plans.py::test_fast_merge_single_shuffle.
    b = bucket_partitioned_lww(b, list(KEY_COLS), lww_order(seq="seq"), n_buckets)
    b, n_poison, poison_cache = _transform_and_quarantine(
        b, transform_after_dedup, dead_letter, run_id, batch_id
    )
    b = b.withColumn(DELETED_COL, F.col("op") == F.lit("d")).withColumnRenamed(
        "seq", SEQ_COL
    )
    payload_fields = [
        f
        for f in b.schema.fields
        if f.name not in TRANSIENT_COLS and f.name not in ENGINE_COLS
    ]
    evolved = evolve_schema(
        snap.schema, with_engine_schema(T.StructType(payload_fields))
    )
    # align drops the physical bucket column; the ROWS stay in their
    # bucket partitions (projections preserve partitioning), so the
    # partitionBy write still emits one file per bucket
    new_rows = align_to_schema(b, evolved).withColumn(
        BUCKET_COL, bucket_expr(KEY_COLS[0], n_buckets)
    )
    delta = table.write_bucketed(
        new_rows, snapshot_hint=f"s{snap.version + 1:08d}", n_buckets=n_buckets
    )
    if poison_cache is not None:
        poison_cache.unpersist()
    touched = sorted(delta.keys())
    rows, mn, mx, per_file = _footer_seq_stats(table, delta)
    result = MergeResult(
        skipped=False,
        rows_applied=rows,
        seq_min=mn,
        seq_max=mx,
        touched_buckets=len(touched),
        n_poison=n_poison,
    )
    if touched and (collect_stats or cdf is not None):
        # Both consumers read the delta back by path (a narrow column scan,
        # not a re-run of the dedup) and the touched buckets AS OF `snap`:
        # the pre-state is the one this batch merged onto, whatever a
        # concurrent writer appends to these buckets before our commit.
        written = table.spark.read.schema(evolved).parquet(
            *[os.path.join(table.path, f) for fl in delta.values() for f in fl]
        )
        pre = table.read_buckets(touched, version=snap.version)
        if cdf is not None:
            _emit_changes(cdf, written, pre, evolved, run_id, batch_id)
        if collect_stats:
            _fold_stats(result, written, pre, batch_df)
    # append commit: rebases automatically under concurrent writers
    new_snap = table.commit(
        delta, touched, result.to_lineage(), new_schema=evolved,
        run_id=run_id, batch_id=batch_id, append=True,
        new_file_stats=per_file,
    )
    result.snapshot_id = new_snap.snapshot_id
    return result


def _fold_stats(result, written, pre, batch_df) -> None:
    """Fill ``result``'s lineage counts and source seq range from ONE
    aggregate: the union of the pre-state (``_src`` 0), the written delta
    (1) and the raw batch (2), grouped by key, then folded to one row.

    Per key: the pre-state's LWW-resolved winner says whether the key was
    live (the RESOLVED winner is non-deleted, not "any version non-deleted":
    after delete-then-reinsert the reinsert is an insert, and a delete of
    an already-tombstoned key is not a delete); the written row (one per
    key) says upsert or tombstone, and counts only if it outranks that
    winner — a redelivered or out-of-order row changes nothing, the same
    rule the change feed applies; the raw rows give the source seq range,
    which is below the winners' range when a key repeats in the batch."""
    eng = [*KEY_COLS, SEQ_COL, REV_COL, DELETED_COL]
    u = (
        pre.select(*eng).withColumn("_src", F.lit(0))
        .unionByName(written.select(*eng).withColumn("_src", F.lit(1)))
        .unionByName(
            batch_df.select(*KEY_COLS, F.col("seq").alias(SEQ_COL))
            .withColumn("_src", F.lit(2)),
            allowMissingColumns=True,
        )
    )
    src = F.col("_src")
    order = F.struct(*lww_order())
    per_key = u.groupBy(*KEY_COLS).agg(
        F.max_by(
            F.when(src == 0, F.coalesce(F.col(DELETED_COL), F.lit(False))),
            F.when(src == 0, order),
        ).alias("pre_dead"),
        F.max(F.when(src == 0, order)).alias("pre_order"),
        F.max(F.when(src == 1, order)).alias("new_order"),
        F.max(F.when(src == 1, F.col(DELETED_COL))).alias("new_dead"),
        F.min(F.when(src == 2, F.col(SEQ_COL))).alias("lo"),
        F.max(F.when(src == 2, F.col(SEQ_COL))).alias("hi"),
    )
    # a key with no pre-state row has a null pre_dead: not live
    pre_live = F.coalesce(~F.col("pre_dead"), F.lit(False))
    wins = F.col("pre_order").isNull() | (F.col("new_order") > F.col("pre_order"))
    upsert = ~F.col("new_dead") & wins
    row = per_key.agg(
        F.min("lo").alias("seq_min"),
        F.max("hi").alias("seq_max"),
        F.count(F.when(upsert & ~pre_live, 1)).alias("n_inserts"),
        F.count(F.when(upsert & pre_live, 1)).alias("n_updates"),
        F.count(F.when(F.col("new_dead") & wins & pre_live, 1)).alias("n_deletes"),
    ).collect()[0]
    result.n_inserts = row["n_inserts"]
    result.n_updates = row["n_updates"]
    result.n_deletes = row["n_deletes"]
    result.rows_applied = row["n_inserts"] + row["n_updates"] + row["n_deletes"]
    result.seq_min, result.seq_max = row["seq_min"], row["seq_max"]


def _emit_changes(cdf, written, pre, evolved, run_id, batch_id) -> None:
    """Classify the written delta against the LWW-resolved full-width
    pre-state (tombstone winners included, see classify_changes) and
    write this batch's change-feed rows. Written BEFORE the commit to a
    deterministic per-batch dir (overwrite): a crash-replay rewrites
    identical content, and rows of a never-committed batch are excluded
    by fence-aware reads (ChangeFeedLog.read committed_only)."""
    from couch_to_mongo_spark.operators.cdf import classify_changes

    ex = resolve(align_to_schema(pre, evolved), live_only=False)
    changes, cache = classify_changes(written, ex, run_id, batch_id)
    cdf.append(changes, run_id, batch_id)
    cache.unpersist()


def read_state(table: LakeTable, version: int | None = None) -> DataFrame:
    """The logical (public) table state: live rows, payload columns only —
    :func:`resolve` over every delta row of the snapshot. On a compacted
    table the dedup is a no-op pass."""
    return resolve(table.read(version))


def _transform_and_quarantine(b, transform_after_dedup, dead_letter, run_id, batch_id):
    """Apply the post-dedup transform (e.g. the Arrow text normalizer) and,
    if it is poison-isolating (operators/poison.py), quarantine the rows it
    could not process and keep the healthy remainder — the Spark rendering
    of the reference's insertMany bisection (Mongo.java:250-261). Returns
    (df, n_poison, poison_cache); the caller unpersists the cache after the
    write materializes."""
    n_poison = 0
    poison_cache = None
    if transform_after_dedup is not None:
        # applied to winners only, downstream of the dedup, so a Python
        # kernel runs on n_keys rows across all cores rather than n_events
        b = transform_after_dedup(b)
    if POISON_COL in b.columns:
        if dead_letter is None:
            raise ValueError(
                f"transform produced {POISON_COL} but no dead_letter log given"
            )
        poison_cache = b.persist()
        # the physical bucket column is write routing, not audit data
        poison = poison_cache.where(F.col(POISON_COL).isNotNull()).drop(BUCKET_COL)
        n_poison = dead_letter.append(poison, run_id, batch_id)
        b = poison_cache.where(F.col(POISON_COL).isNull()).drop(POISON_COL)
    return b, n_poison, poison_cache


def _one_footer(path: str) -> tuple[int, int | None, int | None]:
    """(rows, seq_min, seq_max) of one parquet file from its footer."""
    import pyarrow.parquet as _pq

    md = _pq.read_metadata(path)
    fmn, fmx = None, None
    idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
    if SEQ_COL in idx:
        ci = idx[SEQ_COL]
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(ci).statistics
            if st is not None and st.has_min_max:
                fmn = st.min if fmn is None else min(fmn, st.min)
                fmx = st.max if fmx is None else max(fmx, st.max)
    return md.num_rows, fmn, fmx


# below this many files the thread-pool overhead beats the serial loop
_FOOTER_PARALLEL_THRESHOLD = 32


def _footer_seq_stats(table, new_files):
    """rows + min/max(_seq) of the freshly written delta files, read from
    parquet footers (metadata-only I/O). Also returns the per-file stats
    dict {relpath: [rows, seq_min, seq_max]} persisted into the snapshot
    for seq-range scan pruning (LakeTable.read(min_seq=...)).

    Per-micro-batch MERGE touches O(touched buckets) files — a serial loop
    is fine. Whole-table writers (bulk_bootstrap, rescale_buckets) hand in
    every file of the table, so above a threshold the footer reads fan out
    to a thread pool (pyarrow releases the GIL on I/O): a 10^5-file table
    must not pay 10^5 serial opens in its commit path."""
    rel = [f for fl in new_files.values() for f in fl]
    paths = [os.path.join(table.path, f) for f in rel]
    if len(paths) > _FOOTER_PARALLEL_THRESHOLD:
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=min(32, len(paths))) as pool:
            stats = list(pool.map(_one_footer, paths))
    else:
        stats = [_one_footer(p) for p in paths]

    rows, mn, mx = 0, None, None
    per_file: dict[str, list] = {}
    for f, (n, fmn, fmx) in zip(rel, stats):
        rows += n
        per_file[f] = [n, fmn, fmx]
        if fmn is not None:
            mn = fmn if mn is None else min(mn, fmn)
            mx = fmx if mx is None else max(mx, fmx)
    return rows, mn, mx, per_file
