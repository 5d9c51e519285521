"""Dev loop: run registered query pairs against the DuckDB oracle.

Usage:
    python tools/check.py [sf_dir] [name_prefix ...]
    python tools/check.py --analyze [sf_dir] [name_prefix ...]

``--analyze`` is the pre-commit gate: it CONSTRUCTS every selected pair's
DataFrame and forces Spark's analyzer over it (``df.schema``) without
executing a job, so an operator that fails at analysis time (illegal
expression, unresolved column, bad plan shape) can never ship unrun —
the dq07 class of bug. It runs the same registry audit as tier-1
(``typeaudit.audit_all``: dtype-class parity and the shape contract).
Seconds for most of the registry; pairs that materialize fixtures inside
their builder still pay that one-time cost.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pydatalake_gen2_spark.harness import run_all
from pydatalake_gen2_spark.registry import load_all
from pydatalake_gen2_spark.session import get_spark


def _selected(prefixes: list[str]) -> list[str]:
    from pydatalake_gen2_spark.registry import REGISTRY

    return sorted(
        n for n in REGISTRY if not prefixes or any(n.startswith(p) for p in prefixes)
    )


def analyze_only(sf_dir: str, prefixes: list[str]) -> int:
    """Construct + analyze every selected pair without running a job and
    apply the registry audit (``typeaudit.audit_all``): dtype-class parity
    against DuckDB's static bind of the oracle and the canonicalizer shape
    contract."""
    from pydatalake_gen2_spark.typeaudit import audit_all

    names = _selected(prefixes)
    t0 = time.time()
    bad = audit_all(get_spark("analyze"), sf_dir, names)
    for name, problems in bad.items():
        print(f"FAIL {name:38s} {problems}")
    print(f"\nanalyze+audit: {len(names) - len(bad)}/{len(names)} pass "
          f"({time.time() - t0:.1f}s)")
    return 1 if bad else 0


def main() -> int:
    argv = sys.argv[1:]
    analyze = "--analyze" in argv
    argv = [a for a in argv if a != "--analyze"]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.001"
    prefixes = argv[1:]
    load_all()
    if analyze:
        return analyze_only(sf_dir, prefixes)

    names = _selected(prefixes)
    spark = get_spark("check")
    results = run_all(spark, sf_dir, names)
    bad = 0
    for r in results:
        ok = r["status"] in ("match", "rows_only")
        if not ok:
            bad += 1
        line = f"{'OK ' if ok else 'FAIL'} {r['name']:38s} {r['status']}"
        if not ok:
            line += f"\n     {r.get('detail', '')[:500]}"
        print(line)
    print(f"\n{len(results) - bad}/{len(results)} pass")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
