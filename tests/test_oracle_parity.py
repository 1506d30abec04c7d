"""Every registered query with an oracle must hash-match DuckDB at sf0.01 —
the same gate the driver applies (BASELINE.md t2)."""

from __future__ import annotations

import pytest

from imdb_top_250_etl_pipeline_spark.plans import QUERIES, SUBSUMED

# Batteries AND their subsumed constituents: a battery hash failure is
# localized by the constituent's own parity test.
ALL = {**QUERIES, **SUBSUMED}

from .conftest import SF_CORRECT
from .oracle_harness import compare, first_diff

ORACLE_QUERIES = sorted(n for n, q in ALL.items() if q.oracle is not None)
ROWS_ONLY_QUERIES = sorted(n for n, q in ALL.items() if q.oracle is None)


def _tiered(names):
    """Driver-facing queries run in the DEFAULT tier (they are the
    correctness gate); SUBSUMED constituents run in the --slow tier —
    each battery's order-insensitive hash already verifies every
    constituent's full row multiset, so the per-constituent re-check
    only LOCALIZES a battery failure to one branch."""
    return [
        n if n in QUERIES else pytest.param(n, marks=pytest.mark.slow)
        for n in names
    ]


@pytest.mark.parametrize("name", _tiered(ORACLE_QUERIES))
def test_oracle_parity(spark, duck, name):
    q = ALL[name]
    df = q.fn(spark, SF_CORRECT)
    res = compare(df, duck, q.oracle)
    if not res["hash_match"]:
        only_s, only_d = first_diff(df, duck, q.oracle)
        pytest.fail(
            f"{name}: {res}\nspark-only rows: {only_s}\nduck-only rows: {only_d}"
        )


@pytest.mark.parametrize("name", _tiered(ROWS_ONLY_QUERIES))
def test_rows_only_runs(spark, name):
    q = ALL[name]
    df = q.fn(spark, SF_CORRECT)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0


# Source types (DuckDB DESCRIBE, precision dropped) each declared slot
# type takes without changing a value: a DOUBLE in an integer slot
# rounds in DuckDB but truncates in Spark, and a float or timestamp in
# a STRING slot formats differently in the two engines.
_INTS = {"TINYINT", "SMALLINT", "INTEGER", "BIGINT", "HUGEINT"}
_FITS = {
    "BIGINT": _INTS,
    "INTEGER": _INTS,
    "DOUBLE": _INTS | {"FLOAT", "DOUBLE", "DECIMAL", "BOOLEAN"},
    "STRING": _INTS | {"VARCHAR", "BOOLEAN"},
    "BOOLEAN": {"BOOLEAN"},
    "TIMESTAMP": {"TIMESTAMP", "DATE"},
}


def test_extension_battery_shard_map_constituents_oracle_backed(duck):
    """The sf1 sweep shards extension_battery's oracle into constituent
    oracles (tools/sf1_sweep.py).  The cheap registry-side half of the
    soundness contract runs in the DEFAULT tier: every constituent the
    map names must be registered with a non-None oracle — otherwise
    sharding would silently drop hash coverage for that branch.

    Every spec-generated battery is also type-checked by DuckDB DESCRIBE,
    which plans the oracle without running it: the generated oracle
    must come out in exactly the declared slot types, and each branch's
    uncast slot expression must fit its slot (see _FITS) — a mismatch
    that would otherwise surface only as a hash failure."""
    from imdb_top_250_etl_pipeline_spark.plans import SHARDED_BATTERIES
    from imdb_top_250_etl_pipeline_spark.plans.batteries import BATTERY_SPECS

    for part_key, cname in SHARDED_BATTERIES["extension_battery"].items():
        assert cname in ALL, f"{part_key!r} -> unregistered {cname!r}"
        assert ALL[cname].oracle is not None, (
            f"{part_key!r} -> {cname!r} has no oracle; sharding would "
            "drop hash coverage for that branch"
        )

    for name, spec in BATTERY_SPECS.items():
        declared = [(s, "VARCHAR" if t == "STRING" else t) for s, t in spec.slots()]
        described = duck.execute(f"DESCRIBE {spec.oracle()}").fetchall()
        assert [tuple(r[:2]) for r in described] == declared, name
        for b in spec.branches:
            exprs = spec.exprs(b)
            raw = duck.execute(
                f"DESCRIBE {spec.branch_oracle(b, cast=False)}"
            ).fetchall()
            for (slot, typ), row in zip(spec.slots(), raw):
                src_type = row[1].split("(")[0]
                assert exprs[slot] == "NULL" or src_type in _FITS[typ], (
                    f"{name} part={b.key}: {slot} = {exprs[slot]!r} is "
                    f"{row[1]}, which does not fit {typ}"
                )


@pytest.mark.slow
def test_extension_battery_shard_map_total(spark):
    """The expensive half (builds and executes the battery at
    sf0.001): every part tag the battery EMITS must resolve through
    the shard map — a newly-added branch with no covering constituent
    would silently lose sweep-scale hash coverage.  --slow tier: the
    default tier already rebuilds the battery once for its parity row,
    and this only changes when batteries.py does (pytest runtime
    budget, round-10 verdict item 7)."""
    from imdb_top_250_etl_pipeline_spark.plans import (
        SHARDED_BATTERIES,
        resolve_battery_part,
    )

    parts_map = SHARDED_BATTERIES["extension_battery"]
    df = ALL["extension_battery"].fn(spark, "/root/testdata/sf0.001")
    parts = sorted(r[0] for r in df.select("part").distinct().collect())
    uncovered = [p for p in parts if resolve_battery_part(p, parts_map) is None]
    assert not uncovered, f"parts with no covering constituent: {uncovered}"
