"""Dump .explain("formatted") per query -> <out_dir>/<name>_<tag>.txt.

Usage:
    python tools/plans.py <out_dir> <tag> [name ...]

Defaults to every ``bench.BENCH_QUERIES`` entry when no names are given.
The scale-factor dir comes from ``$SPARK_GRAFT_SF_DIR``, as in bench.py.
Plan generation is driver-side (no job execution), though builders that
materialize intermediates still run those jobs.

Command lines behind the committed dumps, with SPARK_GRAFT_SF_DIR set to
the sf0.1 fixture (``before`` at the parent commit, ``after`` at the
change):

    # plans/r11/ (every bench query of that round)
    python tools/plans.py plans/r11 before
    python tools/plans.py plans/r11 after
    # plans/r12/
    python tools/plans.py plans/r12 before er03_entity_clusters \\
        gr03_kcore gr04_bfs_distances gr07_link_prediction \\
        gr11_landmark_centrality l03_cosine_topk l36_minhash_sql \\
        l42_ensemble_dedup l59_incremental_neardup l60_split_leakage \\
        lx_lsh_topk
    # ... and the same names with tag ``after``
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import BENCH_QUERIES  # noqa: E402
from pydatalake_gen2_spark.registry import load_all  # noqa: E402
from pydatalake_gen2_spark.session import get_spark  # noqa: E402


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR")
    if len(sys.argv) < 3 or not sf_dir:
        print(__doc__)
        return 2
    out_dir, tag = sys.argv[1], sys.argv[2]
    names = sys.argv[3:] or BENCH_QUERIES
    os.makedirs(out_dir, exist_ok=True)
    reg = load_all()
    spark = get_spark("plans")
    for name in names:
        if name not in reg:
            print(f"skip {name}: not registered")
            continue
        try:
            df = reg[name].spark_fn(spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as e:  # noqa: BLE001 — record the failure verbatim
            plan = f"EXPLAIN FAILED: {type(e).__name__}: {e}"
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({len(plan)} chars)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
