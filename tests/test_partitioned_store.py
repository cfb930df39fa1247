"""Partition-scoped merge-rewrite: mutations rewrite ONLY the partitions
containing victims; untouched partitions' files stay physically identical
(path + mtime). The 100 TB mutation behavior, verified at file level."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from hive_2_spark.model import (
    AutoField,
    BooleanField,
    FloatField,
    ModelMeta,
    StringField,
    register_model,
)
from hive_2_spark.model.meta import clear_registry
from hive_2_spark.model.store import ParquetStore
from tests.conftest import crash_after_renames


def _files(root: str, sub: str) -> dict[str, float]:
    d = os.path.join(root, sub)
    return {
        f: os.path.getmtime(os.path.join(d, f))
        for f in os.listdir(d)
        if f.endswith(".parquet")
    }


@pytest.fixture()
def pstore(spark, tmp_path):
    clear_registry()
    meta = ModelMeta(
        table="fact",
        db=str(tmp_path / "fact.parquet"),
        fields={
            "id": AutoField(),
            "status": StringField(),
            "amount": FloatField(),
        },
    )
    register_model("fact", meta)
    st = ParquetStore(spark, meta, meta.db, partition_by="status")
    st.init_table()
    st.insert(
        [
            {"status": "open", "amount": 1.0},
            {"status": "open", "amount": 2.0},
            {"status": "closed", "amount": 3.0},
            {"status": "closed", "amount": 4.0},
        ]
    )
    return st


def test_partitioned_roundtrip(pstore):
    rows = {r["id"]: (r["status"], r["amount"]) for r in pstore.df().collect()}
    assert rows == {
        1: ("open", 1.0),
        2: ("open", 2.0),
        3: ("closed", 3.0),
        4: ("closed", 4.0),
    }


def test_update_touches_only_victim_partition(pstore):
    before = _files(pstore.path, "status=open")
    n = pstore.update(F.col("status") == "closed", {"amount": 99.0})
    assert n == 2
    after = _files(pstore.path, "status=open")
    assert before == after  # open partition physically untouched
    rows = {r["id"]: r["amount"] for r in pstore.df().collect()}
    assert rows == {1: 1.0, 2: 2.0, 3: 99.0, 4: 99.0}


def test_delete_touches_only_victim_partition(pstore):
    before = _files(pstore.path, "status=closed")
    n = pstore.delete((F.col("status") == "open") & (F.col("amount") < 1.5))
    assert n == 1
    assert _files(pstore.path, "status=closed") == before
    assert pstore.df().count() == 3


def test_partition_column_update_falls_back_to_full_rewrite(pstore):
    """Changing the partition key migrates rows between directories —
    handled by the full-rewrite fallback, and the data stays correct."""
    n = pstore.update(F.col("amount") >= 3.0, {"status": "archived"})
    assert n == 2
    rows = {r["id"]: r["status"] for r in pstore.df().collect()}
    assert rows == {1: "open", 2: "open", 3: "archived", 4: "archived"}
    assert os.path.isdir(os.path.join(pstore.path, "status=archived"))


def _state(st):
    return sorted((r["id"], r["status"], r["amount"]) for r in st.df().collect())


def test_crash_between_renames_never_reads_backup_partition(pstore, monkeypatch):
    before = _state(pstore)
    crash_after_renames(monkeypatch, 1)
    with pytest.raises(OSError, match="simulated crash"):
        pstore.update(F.col("status") == "closed", {"amount": 99.0})
    monkeypatch.undo()
    assert _state(pstore) == before
    assert {r["status"] for r in pstore.df().collect()} == {"open", "closed"}
    assert not [d for d in os.listdir(pstore.path) if ".bak-" in d]


def test_crash_after_first_partition_keeps_every_partition_old(pstore, monkeypatch):
    before = _state(pstore)
    crash_after_renames(monkeypatch, 2)  # one partition backed up and moved in
    with pytest.raises(OSError, match="simulated crash"):
        pstore.update(F.col("amount") >= 2.0, {"amount": 99.0})
    monkeypatch.undo()
    assert _state(pstore) == before
    assert pstore.update(F.col("amount") >= 2.0, {"amount": 99.0}) == 3
    assert [a for _, _, a in _state(pstore)] == [1.0, 99.0, 99.0, 99.0]


def test_rewrites_name_partitions_as_spark_does(spark, tmp_path):
    """A partition-scoped rewrite must find the directories Spark wrote:
    NULL lives in ``__HIVE_DEFAULT_PARTITION__``, ``a:b`` in ``a%3Ab``
    and ``True`` in ``true``; a NULL partition is rewritten too."""
    clear_registry()
    meta = ModelMeta(
        table="tagged",
        db=str(tmp_path / "tagged.parquet"),
        fields={
            "id": AutoField(),
            "tag": StringField(null=True),
            "flag": BooleanField(),
            "amount": FloatField(),
        },
    )
    register_model("tagged", meta)
    by_tag = ParquetStore(spark, meta, meta.db, partition_by="tag")
    by_tag.init_table()
    by_tag.insert(
        [
            {"tag": None, "flag": True, "amount": 1.0},
            {"tag": "a:b", "flag": False, "amount": 2.0},
            {"tag": "x", "flag": True, "amount": 3.0},
        ]
    )
    assert sorted(d for d in os.listdir(by_tag.path) if "=" in d) == [
        "tag=__HIVE_DEFAULT_PARTITION__", "tag=a%3Ab", "tag=x",
    ]
    assert by_tag.update(F.col("tag").isNull(), {"amount": 10.0}) == 1
    assert by_tag.update(F.col("tag") == "a:b", {"amount": 20.0}) == 1
    assert by_tag.delete(F.col("amount") == 3.0, limit=1) == 1
    assert {r["tag"]: r["amount"] for r in by_tag.df().collect()} == {
        None: 10.0, "a:b": 20.0,
    }

    by_flag = ParquetStore(
        spark, meta, str(tmp_path / "flagged.parquet"), partition_by="flag"
    )
    by_flag.init_table()
    by_flag.insert(
        [{"flag": True, "amount": 1.0}, {"flag": False, "amount": 2.0}]
    )
    assert by_flag.update(F.col("flag"), {"amount": 5.0}) == 1
    assert sorted((r["flag"], r["amount"]) for r in by_flag.df().collect()) == [
        (False, 2.0), (True, 5.0),
    ]
    assert not [d for d in os.listdir(tmp_path) if ".swap-" in d or ".bak-" in d]
