"""Lineage stats of merge_batch (collect_stats=True) against a pandas fold.

The stats come from one aggregate over the written delta, the touched
buckets' pre-state and the raw batch. The fold below restates their
contract independently: per batch, the LWW winner of each key (minus
quarantined winners) is classified against the LWW-resolved state before
the batch (insert = upsert over an absent or tombstoned key, update =
upsert over a live key, delete = tombstone over a live key), and the seq
range is the raw source range, poison and losing duplicates included.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from couch_to_mongo_spark.operators.merge import merge_batch, with_engine_schema
from couch_to_mongo_spark.operators.poison import isolate_poison
from couch_to_mongo_spark.schemas import TRANSCRIPT_SCHEMA
from couch_to_mongo_spark.sources.json_changes import DeadLetterLog
from couch_to_mongo_spark.tableformat import LakeTable

COLS = ["seq", "op", "conv_id", "turn_idx", "_rev", "text"]
MARKER = "\x00POISON\x00"


def _feed(seed: int = 97, n_batches: int = 5, per_batch: int = 60) -> list[pd.DataFrame]:
    """Seeded batches over a small key space (so keys repeat inside a
    batch and across batches), with scripted edge cases on key (k0, 0):
    batch 0 inserts it, batch 1 deletes it, batch 2 deletes it again
    (already tombstoned), batch 3 reinserts it. Every batch opens with a
    row for (k1, 0) that a later row of the same batch overrides, so the
    raw seq minimum is a losing duplicate."""
    rng = np.random.default_rng(seed)
    keys = [(f"k{c}", t) for c in range(6) for t in range(3)]
    scripted = {0: "i", 1: "d", 2: "d", 3: "i"}
    batches, seq = [], 0
    for bi in range(n_batches):
        rows = [(seq, "u", "k1", 0, f"{seq + 1}-a", f"early {seq}")]
        seq += 1
        for _ in range(per_batch):
            c, t = keys[rng.integers(len(keys))]
            if (c, t) == ("k0", 0) and bi in scripted:
                continue
            op = rng.choice(["i", "u", "d"], p=[0.3, 0.5, 0.2])
            rows.append((seq, op, c, t, f"{seq + 1}-a", None if op == "d" else f"t{seq}"))
            seq += 1
        rows.append((seq, "u", "k1", 0, f"{seq + 1}-a", f"late {seq}"))
        seq += 1
        if bi in scripted:
            op = scripted[bi]
            rows.append((seq, op, "k0", 0, f"{seq + 1}-a", None if op == "d" else f"t{seq}"))
            seq += 1
        pdf = pd.DataFrame(rows, columns=COLS)
        batches.append(pdf.sample(frac=1.0, random_state=seed + bi).reset_index(drop=True))
    return batches


def _winners(pdf: pd.DataFrame) -> pd.DataFrame:
    gen = pdf["_rev"].str.split("-").str[0].astype("int64")
    o = pdf.assign(_g=gen).sort_values(["seq", "_g", "_rev"])
    return o.groupby(["conv_id", "turn_idx"], as_index=False).tail(1)


def _expected(batches: list[pd.DataFrame], poison_seqs: set[int]) -> list[tuple]:
    state: dict[tuple, tuple] = {}  # key -> (order tuple, deleted)
    out = []
    for pdf in batches:
        w = _winners(pdf)
        w = w[~w["seq"].isin(poison_seqs)]
        recs = w.to_dict("records")
        ins = upd = dele = 0
        for r in recs:
            k = (r["conv_id"], r["turn_idx"])
            live = k in state and not state[k][1]
            if r["op"] == "d":
                dele += live
            else:
                ins += not live
                upd += live
        for r in recs:
            k = (r["conv_id"], r["turn_idx"])
            order = (r["seq"], r["_g"], r["_rev"])
            if k not in state or order > state[k][0]:
                state[k] = (order, r["op"] == "d")
        out.append(
            (ins, upd, dele, ins + upd + dele, int(pdf["seq"].min()), int(pdf["seq"].max()))
        )
    return out


def _poison_kernel():
    marker = MARKER

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        if pdf["text"].fillna("").str.contains(marker, regex=False).any():
            raise ValueError("unencodable control sequence")
        return pdf

    return kernel


def test_folded_stats_match_pandas_fold(spark, tmp_path):
    batches = _feed()
    # poison the winning upsert of one key in batch 2: the kernel only
    # ever sees winners, so a losing row would never reach it
    w = _winners(batches[2])
    target = w[(w["op"] != "d") & (w["conv_id"] != "k0")].iloc[0]
    poison_seq = int(target["seq"])
    batches[2].loc[batches[2]["seq"] == poison_seq, "text"] = MARKER

    # the fixture holds every case the aggregate must get right
    allrows = pd.concat(batches)
    assert allrows.duplicated(["conv_id", "turn_idx"]).any()
    for pdf in batches:
        assert int(pdf["seq"].min()) < int(_winners(pdf)["seq"].min())
    expected = _expected(batches, {poison_seq})
    k0 = [
        _winners(pdf).query("conv_id == 'k0' and turn_idx == 0")["op"].tolist()
        for pdf in batches[:4]
    ]
    assert k0 == [["i"], ["d"], ["d"], ["i"]]  # insert, delete, re-delete, reinsert

    table = LakeTable.create(
        spark, str(tmp_path / "t"), with_engine_schema(TRANSCRIPT_SCHEMA), n_buckets=4
    )
    dead = DeadLetterLog(str(tmp_path / "dead"))
    kernel = _poison_kernel()
    got = []
    for i, pdf in enumerate(batches):
        res = merge_batch(
            table,
            spark.createDataFrame(pdf),
            run_id="r",
            batch_id=i,
            transform_after_dedup=lambda df: isolate_poison(df, kernel),
            dead_letter=dead,
        )
        assert res.n_poison == (1 if i == 2 else 0), i
        got.append(
            (res.n_inserts, res.n_updates, res.n_deletes, res.rows_applied,
             res.seq_min, res.seq_max)
        )
    assert got == expected
    assert dead.read(spark).count() == 1
