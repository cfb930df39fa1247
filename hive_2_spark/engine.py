"""Engine facade — the single entry point a reference user switches to.

Ties the layers together behind one object:

    from pyspark.sql import SparkSession
    from hive_2_spark.engine import Engine

    eng = Engine(spark, "/root/testdata/sf0.1")
    eng.table("orders")                  # typed DataFrame
    eng.sql("SELECT ... FROM lineitem")  # SQL over this engine's tables
    eng.query("pricing_summary")         # any registered operator
    eng.model("user")                    # Layer-A Active-Record factory
    eng.validator([...])                 # rule engine
    eng.store("user")                    # CRUD-capable parquet store

The reference's `Hive::factory()` / `Hive::meta()` entry points
(/root/reference/classes/hive.php:3-30) map to ``model()`` / the meta
registry; everything else is the Layer-B surface.

``sql`` binds the tables its text names to this engine's ``data_dir`` at
every call (``catalog.sql``): temp views are session-global, so views
bound once per Engine would serve every Engine the last-bound directory.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hive_2_spark import catalog, registry
from hive_2_spark.model.meta import ModelMeta, meta as get_meta, register_model
from hive_2_spark.model.model import Model
from hive_2_spark.model.store import ParquetStore
from hive_2_spark.model.validate import Rule, Validator


def formatted_plan(df: DataFrame) -> str:
    """``df.explain("formatted")`` as a string."""
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


class Engine:
    def __init__(self, spark: SparkSession, data_dir: str) -> None:
        self.spark = spark
        self.data_dir = data_dir

    # ------------------------------------------------------------ tables
    def table(self, name: str) -> DataFrame:
        return catalog.load_table(self.spark, self.data_dir, name)

    # --------------------------------------------------------------- SQL
    def sql(self, query: str) -> DataFrame:
        return catalog.sql(self.spark, self.data_dir, query)

    # --------------------------------------------------- operator registry
    def query(self, key: str) -> DataFrame:
        """Run a registered operator query against this engine's data."""
        return registry.all_queries()[key](self.spark, self.data_dir)

    def query_keys(self) -> list[str]:
        return sorted(registry.all_queries())

    def explain(self, key: str) -> str:
        """Formatted physical plan of a registered operator — the
        plan-inspection surface (`.explain("formatted")` equivalent)."""
        return formatted_plan(self.query(key))

    # ---------------------------------------------------- join strategies
    @staticmethod
    def broadcast(df: DataFrame) -> DataFrame:
        """Mark a small side for broadcast-hash join — the scale lever for
        dimension joins: ship the dim to every executor instead of
        shuffling the fact table on the join key."""
        return F.broadcast(df)

    @staticmethod
    def join_hint(df: DataFrame, strategy: str) -> DataFrame:
        """Explicit join-strategy hint on a side: ``broadcast`` | ``merge``
        | ``shuffle_hash`` | ``shuffle_replicate_nl``. Catalyst honors the
        hint when legal for the join type; AQE may still demote a
        broadcast that turns out too large at runtime."""
        allowed = {"broadcast", "merge", "shuffle_hash", "shuffle_replicate_nl"}
        if strategy not in allowed:
            raise ValueError(f"unknown join strategy {strategy!r}; one of {sorted(allowed)}")
        return df.hint(strategy)

    # ------------------------------------------------------- Layer-A model
    def register(self, name: str, meta_obj: ModelMeta) -> ModelMeta:
        return register_model(name, meta_obj)

    def model(self, name: str, values: dict | None = None) -> Model:
        """``Hive::factory($name, $values)`` equivalent."""
        return Model(name, self.spark, values)

    def store(self, name: str) -> ParquetStore:
        m = get_meta(name)
        if not m.db:
            raise ValueError(f"model {name!r} has no storage path (db)")
        return ParquetStore(self.spark, m, m.db)

    @staticmethod
    def validator(rules: list[Rule]) -> Validator:
        return Validator(rules)
