"""The seeded input generator: same seed, same tables.

Run with: python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402


def test_same_seed_same_tables_other_seed_other_values():
    a, b, c = gen.make_tables(0.001, 5), gen.make_tables(0.001, 5), gen.make_tables(0.001, 6)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])


def test_row_counts_and_key_closure():
    t = gen.make_tables(0.001, 1)
    want = gen.row_counts(0.001)
    assert {k: v.num_rows for k, v in t.items()} == want
    orders = t["orders"].column("o_orderkey").to_pylist()
    assert set(t["lineitem"].column("l_orderkey").to_pylist()) <= set(orders)
    docs = t["documents"].to_pydict()
    assert docs["n_chars"] == [len(x) for x in docs["text"]]


def test_ensure_reuses_only_matching_tables(tmp_path):
    out = str(tmp_path / "d")
    gen.ensure(0.001, 2, out)
    stamp = os.path.join(out, "lineitem.parquet")
    mtime = os.path.getmtime(stamp)
    gen.ensure(0.001, 2, out)
    assert os.path.getmtime(stamp) == mtime
    gen.ensure(0.001, 3, out)  # another seed rewrites
    assert os.path.getmtime(stamp) != mtime
