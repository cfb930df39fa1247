"""Engine facade: the one-object surface a reference user adopts."""

from __future__ import annotations

from pyspark.sql import functions as F

from hive_2_spark import registry
from hive_2_spark.engine import Engine, formatted_plan
from tests.conftest import SF_DIR


def test_engine_table_and_sql(spark):
    eng = Engine(spark, SF_DIR)
    assert eng.table("nation").count() == 25
    got = eng.sql("SELECT COUNT(*) AS n FROM region").collect()[0]["n"]
    assert got == 5


def test_engine_query_registry(spark):
    eng = Engine(spark, SF_DIR)
    assert "pricing_summary" in eng.query_keys()
    assert eng.query("pricing_summary").count() > 0


def test_engine_explain(spark):
    eng = Engine(spark, SF_DIR)
    plan = eng.explain("pricing_summary")
    assert "HashAggregate" in plan and "PushedFilters" in plan


def test_engine_unknown_key_raises(spark):
    eng = Engine(spark, SF_DIR)
    import pytest

    with pytest.raises(KeyError):
        eng.query("no_such_operator")
    with pytest.raises(KeyError):
        eng.table("no_such_table")


def test_engine_model_roundtrip(spark, tmp_path):
    from hive_2_spark.model import AutoField, ModelMeta, StringField
    from hive_2_spark.model.meta import clear_registry

    clear_registry()
    eng = Engine(spark, SF_DIR)
    eng.register(
        "note",
        ModelMeta(
            table="note",
            db=str(tmp_path / "note.parquet"),
            fields={"id": AutoField(), "body": StringField()},
        ),
    )
    eng.store("note").init_table()
    m = eng.model("note", {"body": "hello"})
    m.save()
    assert m.id == 1
    assert eng.store("note").df().count() == 1


def test_engine_broadcast_forces_broadcast_join(spark):
    eng = Engine(spark, SF_DIR)
    j = eng.table("orders").join(
        Engine.broadcast(eng.table("customer")),
        F.col("o_custkey") == F.col("c_custkey"),
    )
    assert "BroadcastHashJoin" in formatted_plan(j)


def test_engine_join_hint_merge_forces_sort_merge(spark):
    eng = Engine(spark, SF_DIR)
    j = eng.table("orders").join(
        Engine.join_hint(eng.table("customer"), "merge"),
        F.col("o_custkey") == F.col("c_custkey"),
    )
    assert "SortMergeJoin" in formatted_plan(j)


def test_engine_join_hint_rejects_unknown():
    import pytest

    with pytest.raises(ValueError, match="unknown join strategy"):
        Engine.join_hint(None, "turbo")


def test_gated_avro_and_jdbc_raise_actionably(spark):
    import pytest

    from hive_2_spark.core.io import (
        avro_supported,
        read_jdbc,
        roundtrip_avro,
    )

    if avro_supported(spark):  # environment-dependent: jar present
        assert roundtrip_avro(spark, SF_DIR).count() == 25
    else:
        with pytest.raises(NotImplementedError, match="spark-avro"):
            roundtrip_avro(spark, SF_DIR)

    with pytest.raises(NotImplementedError, match="not on the classpath"):
        read_jdbc(
            spark,
            "jdbc:nosuch://localhost/db",
            "t",
            driver_class="org.nosuch.Driver",
        )


def test_gated_table_formats_probe_and_raise_actionably(spark, tmp_path):
    import pytest

    from hive_2_spark.catalog import load_table
    from hive_2_spark.core.io import (
        read_table_format,
        table_format_supported,
        write_table_format,
    )

    nation = load_table(spark, SF_DIR, "nation")
    for fmt in ("delta", "iceberg"):
        path = str(tmp_path / fmt)
        if table_format_supported(spark, fmt):  # jar present: full roundtrip
            write_table_format(nation, fmt, path)
            assert read_table_format(spark, fmt, path).count() == 25
        else:
            with pytest.raises(NotImplementedError, match="--packages"):
                write_table_format(nation, fmt, path)
            with pytest.raises(NotImplementedError, match="--packages"):
                read_table_format(spark, fmt, path)

    with pytest.raises(ValueError, match="unknown table format"):
        table_format_supported(spark, "hudi2")


def test_observe_metrics_on_action(spark):
    """df.observe(): per-action metrics collected on the executors with
    no separate job — the production observability hook for row counts
    and checksums inside a pipeline."""
    from pyspark.sql import Observation

    from hive_2_spark.catalog import load_table

    obs = Observation("orders_metrics")
    df = load_table(spark, SF_DIR, "orders").observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
    )
    df.write.format("noop").mode("overwrite").save()
    got = obs.get
    assert got["n_rows"] == load_table(spark, SF_DIR, "orders").count()
    assert got["total"] > 0


def test_rows_only_keys_are_deliberate():
    """Every key without an oracle must be on the documented list —
    a forgotten oracle shows up here, not as a silent weaker check."""
    expected = {
        "agg_approx", "agg_sketch_merge", "dedup_minhash_lsh",
        "media_features", "media_phash_dedup",
        # real RAWV container decode — the media_features barrier;
        # planted-cut recall gated in tests/test_multimodal.py
        "media_scene_cut",
    }
    assert registry.rows_only_keys() == expected
