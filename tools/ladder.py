"""Scale ladder: time registered queries across scale-factor directories.

Usage:
    python tools/ladder.py <sf_dir> [sf_dir ...] <query> [query ...]

Arguments that name an existing directory are scale-factor dirs; the
rest are registered query names. Protocol: one Spark session; for each
sf_dir in order, for each query in order, a cold then a warm run, each
timed as ``spark_fn`` + ``count()`` with ``release_persisted()`` after.
One line per run: ``<sf_dir> <query> [cold|warm] <wall>s rows=<count>``.

Command lines behind the committed logs (sf10/sf30 from
``tools/gen_scale.py``; the r12 logs ran on 32 cores under
``SPARK_DRIVER_MEM=64g``). The r10 and r11 logs recorded one run per
query, which is the ``[cold]`` line here:

    # evidence/ladder_r10.log (er03 lines; its two simhash lines timed
    # dedup operator calls at band_max_df=1000, which no pair runs)
    python tools/ladder.py fixtures/sf10 fixtures/sf30 er03_entity_clusters
    # evidence/ladder_r11.log
    python tools/ladder.py fixtures/sf10 fixtures/sf30 \\
        gr11_landmark_centrality l36_minhash_sql l59_incremental_neardup
    # evidence/ladder_r12_after.log (ladder_r12_before_sf10.log: the
    # same at the parent commit, fixtures/sf10 only)
    python tools/ladder.py fixtures/sf10 fixtures/sf30 \\
        gr11_landmark_centrality l36_minhash_sql l59_incremental_neardup \\
        lx_lsh_topk gr04_bfs_distances l60_split_leakage
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pydatalake_gen2_spark.operators.util import release_persisted
from pydatalake_gen2_spark.registry import ensure_views, load_all
from pydatalake_gen2_spark.session import get_spark


def main() -> int:
    args = sys.argv[1:]
    dirs = [a for a in args if os.path.isdir(a)]
    names = [a for a in args if not os.path.isdir(a)]
    reg = load_all()
    unknown = [n for n in names if n not in reg]
    if not dirs or not names or unknown:
        print(__doc__ if not unknown else f"not registered: {unknown}")
        return 2
    spark = get_spark("ladder")
    for sf_dir in dirs:
        ensure_views(spark, sf_dir)
        for name in names:
            for run in ("cold", "warm"):
                t0 = time.time()
                n = reg[name].spark_fn(spark, sf_dir).count()
                wall = time.time() - t0
                release_persisted()
                print(f"{sf_dir} {name} [{run}] {wall:.1f}s rows={n}", flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
