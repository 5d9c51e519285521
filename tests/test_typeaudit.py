"""Round-11 gate-parity tests: the dtype-class audit and the Decimal-strict
canonicalizer — the two defenses against the dq08 class (driver-red on a
rendering-type drift that every round-1..10 local gate passed).
"""

from __future__ import annotations

from decimal import Decimal

import pytest

from pydatalake_gen2_spark.harness import canon_rows
from pydatalake_gen2_spark.typeaudit import (
    audit_pair,
    duck_type_class,
    spark_type_class,
)


# ---------------------------------------------------------------------------
# Canonicalizer: Decimal must be distinct from int and float
# ---------------------------------------------------------------------------

def test_canon_decimal_vs_int_fails():
    # The dq08 driver red row in miniature: DuckDB HUGEINT surfaced as
    # Decimal('2126') vs Spark int64 2126.  Pre-round-11 the canonicalizer
    # coerced Decimal→float and Python hashed 2126.0 == 2126; now the
    # multiset compare must FAIL.
    spark_side = canon_rows(["val"], [(2126,)])
    duck_side = canon_rows(["val"], [(Decimal("2126"),)])
    assert spark_side != duck_side


def test_canon_decimal_vs_float_fails():
    assert canon_rows(["v"], [(2126.0,)]) != canon_rows(["v"], [(Decimal("2126"),)])


def test_canon_decimal_scale_drift_fails():
    # Declared-scale drift renders differently through Arrow decimal128:
    # '2126.00' vs '2126.0'.  Equal Decimal VALUES, unequal canon.
    assert canon_rows(["v"], [(Decimal("2126.00"),)]) != canon_rows(
        ["v"], [(Decimal("2126.0"),)]
    )


def test_canon_decimal_equal_matches():
    a = canon_rows(["v"], [(Decimal("12.50"),), (Decimal("-3.00"),)])
    b = canon_rows(["v"], [(Decimal("-3.00"),), (Decimal("12.50"),)])
    assert a == b


# ---------------------------------------------------------------------------
# Type-class mapping units
# ---------------------------------------------------------------------------

def test_spark_type_classes():
    from pyspark.sql import types as T

    assert spark_type_class(T.LongType()) == "int"
    assert spark_type_class(T.IntegerType()) == "int"
    assert spark_type_class(T.DecimalType(38, 0)) == "decimal(s=0)"
    assert spark_type_class(T.DecimalType(12, 2)) == "decimal(s=2)"
    assert spark_type_class(T.DoubleType()) == "float"
    assert spark_type_class(T.ArrayType(T.LongType())) == "array<int>"
    assert (
        spark_type_class(T.StructType([T.StructField("A", T.StringType())]))
        == "struct<a:str>"
    )


def test_duck_type_classes(duck):
    rel = duck.sql(
        "SELECT 1::BIGINT AS a, 1::HUGEINT AS h, 1.5::DECIMAL(12,2) AS d, "
        "1.5::DOUBLE AS f, [1::BIGINT] AS arr, 'x' AS s"
    )
    classes = {c: duck_type_class(t) for c, t in zip(rel.columns, rel.types)}
    assert classes == {
        "a": "int",
        "h": "decimal(s=0)",  # Arrow materializes HUGEINT as decimal128(38,0)
        "d": "decimal(s=2)",
        "f": "float",
        "arr": "array<int>",
        "s": "str",
    }


# ---------------------------------------------------------------------------
# The planted-HUGEINT regression: an oracle that leaves sum(BIGINT) uncast
# must be REJECTED by the static gate even though values are identical.
# ---------------------------------------------------------------------------

def test_planted_hugeint_oracle_rejected(spark, duck, sf_dir):
    from pydatalake_gen2_spark import registry as reg
    from pydatalake_gen2_spark.registry import QueryPair

    name = "zz_test_planted_hugeint"

    def spark_fn(s, d):
        reg.ensure_views(s, d)
        return s.sql("SELECT sum(r_regionkey) AS val FROM region")

    # sum(BIGINT) in DuckDB widens to HUGEINT — the exact dq08 drift.
    qp = QueryPair(name, spark_fn, "SELECT sum(r_regionkey) AS val FROM region")
    reg.REGISTRY[name] = qp
    try:
        problems = audit_pair(spark, duck, sf_dir, name)
        assert problems == ["dtype: val spark=int duck=decimal(s=0)"]
    finally:
        del reg.REGISTRY[name]


def test_cast_hugeint_oracle_accepted(spark, duck, sf_dir):
    from pydatalake_gen2_spark import registry as reg
    from pydatalake_gen2_spark.registry import QueryPair

    name = "zz_test_cast_hugeint"

    def spark_fn(s, d):
        reg.ensure_views(s, d)
        return s.sql("SELECT sum(r_regionkey) AS val FROM region")

    qp = QueryPair(
        name, spark_fn,
        "SELECT CAST(sum(r_regionkey) AS BIGINT) AS val FROM region",
    )
    reg.REGISTRY[name] = qp
    try:
        assert audit_pair(spark, duck, sf_dir, name) == []
    finally:
        del reg.REGISTRY[name]


def test_planted_array_output_rejected(spark, sf_dir, monkeypatch):
    """A pair whose output column is an array (the canonicalizer cannot
    hash list cells) fails both the registry audit and
    ``tools/check.py --analyze``, which is a thin caller of it."""
    import importlib.util
    import os

    from pydatalake_gen2_spark import registry as reg
    from pydatalake_gen2_spark.registry import QueryPair
    from pydatalake_gen2_spark.typeaudit import audit_all

    name = "zz_test_planted_array"

    def spark_fn(s, d):
        reg.ensure_views(s, d)
        return s.sql("SELECT array(r_regionkey) AS arr FROM region")

    reg.REGISTRY[name] = QueryPair(
        name, spark_fn, "SELECT [r_regionkey] AS arr FROM region"
    )
    try:
        bad = audit_all(spark, sf_dir, [name])
        assert list(bad) == [name]
        assert [p.split(":")[0] for p in bad[name]] == ["complex_output"]
        path = os.path.join(
            os.path.dirname(os.path.dirname(__file__)), "tools", "check.py"
        )
        spec = importlib.util.spec_from_file_location("check_tool", path)
        check = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(check)
        monkeypatch.setattr(check, "get_spark", lambda *a, **k: spark)
        assert check.analyze_only(sf_dir, [name]) == 1
    finally:
        del reg.REGISTRY[name]


# ---------------------------------------------------------------------------
# The registry-wide gates: one construction pass over every pair (the
# session's ``registry_audit``, the same call as tools/check.py --analyze)
# applies the dtype-class parity check here and the canonicalizer shape
# contract in tests/test_correctness.py.
# ---------------------------------------------------------------------------

@pytest.mark.slow
def test_registry_dtype_parity(registry_audit):
    from pydatalake_gen2_spark.typeaudit import SHAPE_RULES

    bad = {n: ps for n, ps in registry_audit.items()
           if any(p.split(":")[0] not in SHAPE_RULES for p in ps)}
    assert bad == {}, f"dtype-class drift in {len(bad)} pairs: {bad}"
