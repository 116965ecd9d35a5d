"""The merge-on-read decision lives in operators/merge.py only.

``KEY_COLS``, ``lww_order`` and ``resolve`` are the one definition of the
engine key, the winner order and the resolution. Every engine module
imports them; a module that spells the key tuple or a stored ``rev_gen``
order column again has grown a second copy that can drift from the first.
"""

from __future__ import annotations

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parent.parent / "couch_to_mongo_spark"
SCANNED = [
    *sorted((PKG / "operators").glob("*.py")),
    *sorted((PKG / "streaming").glob("*.py")),
    PKG / "bootstrap.py",
    PKG / "tableformat.py",
]
OWNER = PKG / "operators" / "merge.py"


def _copies(path: pathlib.Path) -> list[str]:
    """Lines of ``path`` that spell the key tuple or a "rev_gen" column.
    A parameter default is exempt: it names a column the caller gets
    back, not an order (``dedup.with_rev_gen(out_col="rev_gen")``)."""
    tree = ast.parse(path.read_text())
    defaults = {
        id(d)
        for node in ast.walk(tree)
        if isinstance(node, ast.arguments)
        for d in [*node.defaults, *node.kw_defaults]
        if d is not None
    }
    hits = []
    for node in ast.walk(tree):
        if isinstance(node, (ast.Tuple, ast.List)):
            vals = [e.value for e in node.elts if isinstance(e, ast.Constant)]
            if vals == ["conv_id", "turn_idx"]:
                hits.append(f"{path.name}:{node.lineno} key tuple")
        elif (
            isinstance(node, ast.Constant)
            and node.value == "rev_gen"
            and id(node) not in defaults
        ):
            hits.append(f"{path.name}:{node.lineno} rev_gen column")
    return hits


def test_key_and_order_spelled_only_in_merge():
    assert OWNER.exists()
    hits = [h for p in SCANNED if p != OWNER for h in _copies(p)]
    assert hits == [], hits


def test_guard_sees_a_copy(tmp_path):
    """The scan is not vacuous: both spellings in a module are found."""
    p = tmp_path / "copy.py"
    p.write_text(
        'KEY = ("conv_id", "turn_idx")\n'
        'ORDER = ["_seq", "rev_gen", "_rev"]\n'
        'def f(df, out_col="rev_gen"):\n'
        "    return df\n"
    )
    assert sorted(_copies(p)) == ["copy.py:1 key tuple", "copy.py:2 rev_gen column"]
