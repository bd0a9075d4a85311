"""Registry-level invariants for the driver contract.

Round-2 lesson: queries added after the driver gate ran showed up as
unchecked rows. The registry is frozen early each round and these
invariants keep it gate-clean: every query has an oracle (zero rows-only
entries), every oracle materializes to SQL, and names match — the frozen
count itself lives in test_registry_size_frozen_for_round.
"""

from martial_arts_ocr_spark.queries import (
    ALL_ORACLES,
    ALL_QUERIES,
    materialized_oracles,
)


def test_every_query_has_an_oracle():
    missing = sorted(set(ALL_QUERIES) - set(ALL_ORACLES))
    assert not missing, missing


def test_no_orphan_oracles():
    orphans = sorted(set(ALL_ORACLES) - set(ALL_QUERIES))
    assert not orphans, orphans


def test_oracles_materialize_to_sql():
    mat = materialized_oracles()
    assert set(mat) == set(ALL_ORACLES)
    for name, sql in mat.items():
        assert isinstance(sql, str) and "SELECT" in sql.upper(), name


def test_registry_size_frozen_for_round():
    # driver-gate hygiene (VERDICT r2 item 6): grow this ONLY before the
    # gate runs, never after
    assert len(ALL_QUERIES) == 81

