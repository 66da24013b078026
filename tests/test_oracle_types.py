"""Type-level oracle lint, plus the one oracle canon's own checks.

The r2 red rows were NOT value bugs — DuckDB promotes sum(BIGINT) to
HUGEINT, the then-separate local canonicalizer stringified it the same
as BIGINT, but the external driver's did not, so the value-hash
diverged while every local check stayed green. A value comparison
cannot see a type's rendering; binding each oracle and asserting no
unportable output types is the guard that can. DESCRIBE only binds (no
execution), so this covers all oracles in seconds."""

from __future__ import annotations

import pytest

from data_warehouse_data_mining_spark import registry
from tools.driver_sweep import canon_cell, compare, nonscalar_columns

# Types whose text rendering is engine/canonicalizer-sensitive. HUGEINT
# is the proven offender (r2); DECIMAL is the second proven offender
# (r4: rfm_segmentation — Spark DECIMAL(27,6) stringifies
# '1290671.940000' vs DuckDB DOUBLE '1290671.94'). Oracles may cast
# THROUGH decimal internally, but the output edge must be
# BIGINT/DOUBLE/etc.
_FORBIDDEN = ("HUGEINT", "UHUGEINT", "DECIMAL")


def test_no_hugeint_typed_columns_in_any_oracle(duck):
    bad = {}
    for name, sql in registry.oracle_sqls().items():
        cols = duck.execute(f"DESCRIBE {sql}").fetchall()
        hits = [
            (c[0], c[1])
            for c in cols
            if any(t in c[1].upper() for t in _FORBIDDEN)
        ]
        if hits:
            bad[name] = hits
    assert not bad, (
        "oracles emit driver-canonicalizer-unsafe column types "
        "(wrap the offending sums in CAST(... AS BIGINT)): " + repr(bad)
    )


def test_oracle_output_types_are_portable(duck):
    """Every oracle output column must land in the small portable set
    the driver's comparator canonicalizes identically to Spark —
    anything novel (intervals, nested lists, enums, uuid, blob) needs
    an explicit decision, not an accidental pass-through."""
    allowed_prefixes = (
        "BIGINT", "INTEGER", "SMALLINT", "TINYINT", "UBIGINT", "UINTEGER",
        "DOUBLE", "FLOAT", "VARCHAR", "BOOLEAN", "DATE",
        "TIMESTAMP",
    )
    bad = {}
    for name, sql in registry.oracle_sqls().items():
        cols = duck.execute(f"DESCRIBE {sql}").fetchall()
        hits = [
            (c[0], c[1])
            for c in cols
            if not c[1].upper().startswith(allowed_prefixes)
        ]
        if hits:
            bad[name] = hits
    assert not bad, f"oracle columns outside the portable type set: {bad!r}"


def test_canon_distinguishes_decimal_from_double():
    """The blind spot that let r4's red row pass locally for two rounds:
    a second canon collapsed Decimal->float, so Spark DECIMAL(27,6) vs
    DuckDB DOUBLE hashed identically here while the external driver
    (which stringifies) flagged them. The canon must preserve decimal
    scale, keep a bool apart from the int it equals, render bytes as
    hex and fold -0.0 into 0.0."""
    from decimal import Decimal

    assert canon_cell(Decimal("1290671.940000")) != canon_cell(1290671.94)
    assert canon_cell(Decimal("1290671.94")) == "1290671.94"
    # same-scale decimal on both sides still agrees
    assert canon_cell(Decimal("3.471")) == canon_cell(3.471)
    assert canon_cell(True) == "True" and canon_cell(False) == "False"
    assert canon_cell(True) != canon_cell(1)
    assert canon_cell(False) != canon_cell(0)
    assert canon_cell(b"\x00\xff") == "00ff"
    assert canon_cell(-0.0) == canon_cell(0.0) == "0.0"


def test_compare_rejects_boolean_against_integer():
    """A Spark BOOLEAN column must not match a DuckDB 0/1 INTEGER column
    — the external driver stringifies True and 1 differently."""
    from pyspark.sql.types import (
        BooleanType, LongType, StructField, StructType,
    )

    schema = StructType(
        [StructField("k", LongType()), StructField("flag", BooleanType())]
    )
    spark_rows = [(1, True), (2, False)]
    same = compare(schema, spark_rows, ["flag", "k"], [(True, 1), (False, 2)])
    assert same is None
    reason = compare(schema, spark_rows, ["flag", "k"], [(1, 1), (0, 2)])
    assert reason is not None and "2 row mismatches" in reason


@pytest.fixture(scope="module")
def spark_query_schemas(bound_registry_dfs):
    """Schemas off the session-shared bound-DataFrame cache (r10: the
    binding pass is now paid ONCE per session across test files — see
    conftest.bound_registry_dfs). Values are either a bound StructType
    or an error string."""
    out = {}
    for name, df in bound_registry_dfs.items():
        out[name] = df if isinstance(df, str) else df.schema
    return out


def test_no_decimal_typed_columns_in_any_spark_query(spark_query_schemas):
    """Spark-side twin of the DuckDB DESCRIBE lint: bind every
    registered query's builder at sf0.001 and assert no DecimalType
    output column (the r4 rfm_segmentation class — a bare SQL literal
    like `/ 100.0` inside F.expr silently makes the column
    DECIMAL(27,6))."""
    from pyspark.sql.types import DecimalType

    bad = {}
    for name, schema in spark_query_schemas.items():
        if isinstance(schema, str):
            bad[name] = schema
            continue
        hits = [
            (f.name, f.dataType.simpleString())
            for f in schema.fields
            if isinstance(f.dataType, DecimalType)
        ]
        if hits:
            bad[name] = hits
    assert not bad, (
        "Spark query outputs contain DECIMAL columns (append "
        ".cast('double') / .cast('long') at the output edge): "
        + repr(bad)
    )


def test_no_container_typed_columns_in_any_spark_query(spark_query_schemas):
    """r7's only red row: `inverted_index_postings` emitted a raw
    ARRAY<BIGINT> column. The external driver canonicalizes via pandas
    sort_values, which raises `unhashable type: 'list'` on container
    cells — but OUR canon stringifies lists, so the query was green
    locally and red externally. Registered outputs must be scalar-only;
    arrays become `array_join`ed strings, structs/maps become digests.
    tools/driver_sweep.py's comparator enforces the same rule at run
    time."""
    bad = {}
    for name, schema in spark_query_schemas.items():
        if isinstance(schema, str):
            bad[name] = schema
            continue
        hits = nonscalar_columns(schema)
        if hits:
            bad[name] = hits
    assert not bad, (
        "Spark query outputs contain container columns that crash the "
        "external pandas canonicalizer (array_join / digest them at "
        "the output edge): " + repr(bad)
    )
