"""Table binding: every SQL text binds, to its own directory, exactly the
fixture tables it names (``catalog.sql``), and nothing else in the
engine creates a view."""

from __future__ import annotations

import ast
from pathlib import Path

from hive_2_spark import catalog
from hive_2_spark.core.analytics import QUERIES
from hive_2_spark.engine import Engine
from tests.conftest import SF_DIR, SF_DIR_MID

PKG = Path(__file__).resolve().parent.parent / "hive_2_spark"
_VIEW_CALLS = {
    "register_views",
    "createOrReplaceTempView",
    "createTempView",
    "createGlobalTempView",
    "createOrReplaceGlobalTempView",
}


def test_engines_on_one_session_count_their_own_tables(spark):
    """Temp views are session-global: an Engine must not read the
    directory some other Engine or SQL key bound last."""
    small, mid = Engine(spark, SF_DIR), Engine(spark, SF_DIR_MID)
    count = "SELECT COUNT(*) AS n FROM lineitem"
    assert small.sql(count).first().n == 6000
    QUERIES["sql_q3_shipping_priority"](spark, SF_DIR_MID)
    assert small.sql(count).first().n == 6000
    assert mid.sql(count).first().n == 60000
    assert small.sql(count).first().n == 6000


def test_q3_binds_only_the_tables_it_names(spark, monkeypatch):
    seen = []
    real = catalog.load_table

    def spy(*args):
        seen.append(args[2])
        return real(*args)

    monkeypatch.setattr(catalog, "load_table", spy)
    QUERIES["sql_q3_shipping_priority"](spark, SF_DIR)
    assert sorted(seen) == ["customer", "lineitem", "orders"]


def test_views_are_created_only_in_catalog():
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        if path == PKG / "catalog.py":
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            if not isinstance(node, ast.Call):
                continue
            f = node.func
            name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
            if name in _VIEW_CALLS:
                offenders.append(f"{path.relative_to(PKG)}:{node.lineno} {name}")
    assert offenders == []
