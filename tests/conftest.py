from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parents[1]
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = os.environ.get("HGN_TEST_SF_DIR", "/root/testdata/sf0.001")
SF_SMALL = str(Path(SF_SMOKE).parent / "sf0.01")
SF_BENCH = str(Path(SF_SMOKE).parent / "sf0.1")


def force_spark_loop(monkeypatch) -> None:
    """Make hgn_communities run every step and the final components in
    Spark: its in-process finish budget patched to 0 bytes."""
    from hgn_spark.graph import hgn as hgn_mod

    monkeypatch.setattr(hgn_mod, "_DRIVER_FINISH_BUDGET_BYTES", 0)


def set_scope_gates(monkeypatch, gates: str) -> None:
    """Set hgn_communities' two scope gates: "gates_default" keeps the
    shipped constants; "gates_forced_open" makes every step after a
    deletion build and keep a scope; "gates_shut" makes every step
    score all edges. The gates act in the Spark loop only, so the two
    patched settings also force it (force_spark_loop)."""
    from hgn_spark.graph import hgn as hgn_mod

    if gates == "gates_default":
        return
    force_spark_loop(monkeypatch)
    value = {"gates_forced_open": float("inf"), "gates_shut": 0.0}[gates]
    for name in ("_SCOPE_MAX_DELETED_FRACTION", "_SCOPE_MAX_EDGE_FRACTION"):
        monkeypatch.setattr(hgn_mod, name, value)


@pytest.fixture(scope="session")
def spark():
    from hgn_spark.session import get_spark

    s = get_spark(app_name="hgn_spark_tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def duck():
    import duckdb

    from hgn_spark.catalog import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_ORACLE}/{t}.parquet'"
        )
    yield con
    con.close()
