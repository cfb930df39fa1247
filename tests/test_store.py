"""ParquetStore merge-rewrite machinery: insert/update/delete/upsert with
the crash-safe directory swap, plus relation join shapes over registered
models."""

from __future__ import annotations

import datetime as _dt
import os
import shutil
import uuid
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from hive_2_spark.model import IntegerField, Model, ModelMeta, StringField, register_model
from hive_2_spark.model.fields import AutoField, BooleanField, FloatField, TimestampField
from hive_2_spark.model.meta import clear_registry
from hive_2_spark.model.relation import BelongsTo, HasMany, ManyToMany
from hive_2_spark.model.store import ParquetStore, commit, new_swap, recover
from tests.conftest import crash_after_renames


@pytest.fixture()
def stores(spark, tmp_path):
    clear_registry()
    author = ModelMeta(
        table="author",
        db=str(tmp_path / "author.parquet"),
        fields={"id": AutoField(), "name": StringField()},
    )
    post = ModelMeta(
        table="post",
        db=str(tmp_path / "post.parquet"),
        fields={
            "id": AutoField(),
            "author_id": IntegerField(),
            "title": StringField(),
            "score": FloatField(),
        },
    )
    tag = ModelMeta(
        table="tag",
        db=str(tmp_path / "tag.parquet"),
        fields={"id": AutoField(), "name": StringField()},
    )
    post_tag = ModelMeta(
        table="post_tag",
        db=str(tmp_path / "post_tag.parquet"),
        fields={"post_id": IntegerField(primary=True), "tag_id": IntegerField()},
    )
    register_model("author", author)
    register_model("post", post)
    register_model("tag", tag)
    register_model("post_tag", post_tag)
    s = {
        name: ParquetStore(spark, m, m.db)
        for name, m in [
            ("author", author),
            ("post", post),
            ("tag", tag),
            ("post_tag", post_tag),
        ]
    }
    for st in s.values():
        st.init_table()
    s["author"].insert([{"name": "ada"}, {"name": "bob"}])
    s["post"].insert(
        [
            {"author_id": 1, "title": "t1", "score": 1.0},
            {"author_id": 1, "title": "t2", "score": 2.0},
            {"author_id": 2, "title": "t3", "score": 3.0},
        ]
    )
    s["tag"].insert([{"name": "spark"}, {"name": "sql"}])
    s["post_tag"].insert(
        [
            {"post_id": 1, "tag_id": 1},
            {"post_id": 1, "tag_id": 2},
            {"post_id": 2, "tag_id": 1},
        ]
    )
    return s


def test_insert_assigns_sequential_ids(stores):
    ids = stores["author"].insert([{"name": "cyd"}, {"name": "dee"}])
    assert ids == [3, 4]
    assert stores["author"].df().count() == 4


def test_update_merge_rewrite(stores):
    n = stores["post"].update(F.col("author_id") == 1, {"score": 9.5})
    assert n == 2
    rows = {r["title"]: r["score"] for r in stores["post"].df().collect()}
    assert rows == {"t1": 9.5, "t2": 9.5, "t3": 3.0}


def test_update_with_limit(stores):
    n = stores["post"].update(F.col("author_id") == 1, {"title": "X"}, limit=1)
    assert n == 1
    titles = sorted(r["title"] for r in stores["post"].df().collect())
    assert titles == ["X", "t2", "t3"]


def test_delete_anti_join(stores):
    n = stores["post"].delete(F.col("score") < 2.5)
    assert n == 2
    assert [r["title"] for r in stores["post"].df().collect()] == ["t3"]


def test_upsert_updates_and_inserts(stores):
    n = stores["author"].upsert(
        [{"id": 1, "name": "ada-2"}, {"id": 99, "name": "zed"}]
    )
    assert n == 2
    rows = {r["id"]: r["name"] for r in stores["author"].df().collect()}
    assert rows == {1: "ada-2", 2: "bob", 99: "zed"}


def _debris(tmp_path):
    return [p for p in os.listdir(tmp_path) if ".swap-" in p or ".bak-" in p]


def test_atomic_swap_leaves_no_debris(stores, tmp_path):
    stores["post"].update(F.col("author_id") == 2, {"score": 0.0})
    assert _debris(tmp_path) == []


def test_flat_store_crash_between_renames_keeps_old_rows(stores, tmp_path, monkeypatch):
    st = stores["post"]
    before = sorted(tuple(r) for r in st.df().collect())
    crash_after_renames(monkeypatch, 1)
    with pytest.raises(OSError, match="simulated crash"):
        st.update(F.col("author_id") == 1, {"score": 9.5})
    monkeypatch.undo()
    assert not os.path.exists(st.path)  # the table sits in its backup
    assert sorted(tuple(r) for r in st.df().collect()) == before
    assert st.insert([{"author_id": 3, "title": "t4", "score": 4.0}]) == [4]
    assert sorted(r["title"] for r in st.df().collect()) == ["t1", "t2", "t3", "t4"]
    assert _debris(tmp_path) == []


def test_commit_recovers_from_mid_swap_crash(spark, tmp_path):
    """A crash between the swap's two renames leaves no table, a complete
    ``.bak-`` and its ``.swap-``. ``recover`` puts the backup back, so the
    next rewrite merges against the prior state instead of losing it."""
    path = str(tmp_path / "state")
    spark.createDataFrame([(100,)], "user_id long").write.parquet(path)
    os.rename(path, f"{path}.bak-deadbeef")
    spark.createDataFrame([(999,)], "user_id long").write.parquet(f"{path}.swap-deadbeef")
    recover(path)
    assert {r[0] for r in spark.read.parquet(path).collect()} == {100}
    swap = new_swap(path)
    batch = spark.createDataFrame([(200,)], "user_id long")
    spark.read.parquet(path).unionByName(batch).write.parquet(swap)
    commit(path, swap)
    assert {r[0] for r in spark.read.parquet(path).collect()} == {100, 200}
    assert _debris(tmp_path) == []


def test_finished_commit_backup_is_removed(stores, tmp_path):
    """A backup without its swap belongs to a commit that finished: the
    table keeps the new state and the backup is removed."""
    st = stores["post"]
    old = str(tmp_path / "post_old")
    shutil.copytree(st.path, old)
    st.update(F.col("author_id") == 1, {"score": 9.5})
    os.rename(old, f"{st.path}.bak-deadbeef")
    rows = {r["title"]: r["score"] for r in st.df().collect()}
    assert rows == {"t1": 9.5, "t2": 9.5, "t3": 3.0}
    assert _debris(tmp_path) == []


def test_incremental_fold_after_crash(spark, tmp_path, monkeypatch):
    from hive_2_spark.core.incremental import IncrementalAggregate

    agg = IncrementalAggregate(spark, str(tmp_path / "summary"), "k", "v")
    agg.init(spark.createDataFrame([(1, 1.0), (2, 2.0)], "k long, v double"))
    delta = spark.createDataFrame([(1, 3.0), (3, 5.0)], "k long, v double")
    crash_after_renames(monkeypatch, 1)
    with pytest.raises(OSError, match="simulated crash"):
        agg.fold(delta)
    monkeypatch.undo()
    agg.fold(delta)
    got = {r["k"]: (r["sum_v"], r["n"]) for r in agg.current().collect()}
    assert got == {1: (4.0, 2), 2: (2.0, 1), 3: (5.0, 1)}
    assert _debris(tmp_path) == []


def test_directory_swap_lives_only_in_store():
    """The store's swap is the engine's only directory commit: no other
    module names its swap or backup directories."""
    pkg = Path(__file__).resolve().parent.parent / "hive_2_spark"
    users = sorted(
        str(p.relative_to(pkg))
        for p in pkg.rglob("*.py")
        if any(tag in p.read_text() for tag in (".swap-", ".bak-"))
    )
    assert users == [os.path.join("model", "store.py")]


def test_clean_update_short_circuits(stores):
    assert stores["post"].update(F.col("author_id") == 1, {}) == 0


@pytest.mark.parametrize("n_victims", [1000, 1001])
def test_update_isin_semi_join_flip_boundary(spark, tmp_path, n_victims):
    """update() is one Spark job whatever the victim count: 1000 and
    1001 victims take the same path with identical semantics."""
    clear_registry()
    meta = ModelMeta(
        table="boundary_t",
        db=str(tmp_path / "boundary_t.parquet"),
        fields={"id": AutoField(), "v": IntegerField()},
    )
    register_model("boundary_t", meta)
    st = ParquetStore(spark, meta, meta.db)
    st.init_table()
    total = n_victims + 50  # 50 non-victims prove the WHERE is honored
    st.insert([{"v": 0} for _ in range(total)])
    n, jobs = _jobs(spark, lambda: st.update(F.col("id") <= n_victims, {"v": 7}))
    assert n == n_victims
    assert jobs == 1
    got = {r["id"]: r["v"] for r in st.df().collect()}
    assert len(got) == total
    assert all(v == 7 for k, v in got.items() if k <= n_victims)
    assert all(v == 0 for k, v in got.items() if k > n_victims)


def _jobs(spark, fn):
    """(fn(), Spark jobs it ran), counted by job group."""
    sc = spark.sparkContext
    group = f"store-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _pairs(st):
    return sorted((r["post_id"], r["tag_id"]) for r in st.df().collect())


def test_non_unique_primary_hits_only_matching_rows(stores):
    """post_tag's primary (post_id) repeats: a mutation touches the rows
    its condition matches, not every row sharing their key."""
    st = stores["post_tag"]
    assert st.update(F.col("tag_id") == 2, {"tag_id": 5}) == 1
    assert _pairs(st) == [(1, 1), (1, 5), (2, 1)]
    assert st.delete(F.col("tag_id") == 5) == 1
    assert _pairs(st) == [(1, 1), (2, 1)]
    # limit selects by primary key: every matching row of the first key
    st.insert([{"post_id": 1, "tag_id": 3}])
    assert st.delete(F.col("tag_id") >= 1, limit=1) == 2
    assert _pairs(st) == [(2, 1)]


def test_update_and_delete_run_one_spark_job(spark, stores):
    st = stores["post"]
    n, jobs = _jobs(spark, lambda: st.update(F.col("author_id") == 1, {"score": 0.5}))
    assert (n, jobs) == (2, 1)
    n, jobs = _jobs(spark, lambda: st.delete(F.col("title") == "t3"))
    assert (n, jobs) == (1, 1)
    assert sorted(r["score"] for r in st.df().collect()) == [0.5, 0.5]


def test_no_match_keeps_part_files(stores, tmp_path):
    st = stores["post"]
    before = sorted(os.listdir(st.path))
    assert st.update(F.col("author_id") == 42, {"score": 0.0}) == 0
    assert st.delete(F.col("title").isNull()) == 0
    assert sorted(os.listdir(st.path)) == before
    assert _debris(tmp_path) == []


def _typed_meta(tmp_path, name):
    return ModelMeta(
        table=name,
        db=str(tmp_path / f"{name}.parquet"),
        fields={
            "id": AutoField(),
            "n": IntegerField(null=True),
            "s": StringField(null=True),
            "f": FloatField(null=True),
            "b": BooleanField(),
            "t": TimestampField(),
        },
    )


_TYPED = [
    {"n": 7, "s": "h\u00e9llo", "f": 2.5, "b": True,
     "t": _dt.datetime(2021, 3, 4, 5, 6, 7, 123456)},
    {"n": "12", "s": 3, "f": "0.25", "b": 1, "t": 1_600_000_000},
    {"n": None, "s": None, "f": None, "b": None, "t": None},
]


def _typed_rows(st):
    return sorted(
        (tuple(r) for r in st.df().collect()), key=lambda r: (r[0] is None, r[0])
    )


def test_arrow_boundary_roundtrips_every_field_type(spark, tmp_path):
    """Every field type, each also as None, reads back equal to its
    coerced value through init_table, insert and upsert."""
    st = ParquetStore(spark, _typed_meta(tmp_path, "typed"), str(tmp_path / "typed.parquet"))
    fields = st.meta.fields

    def coerced(i, row):
        return (i,) + tuple(fields[c].value(row[c]) for c in ("n", "s", "f", "b", "t"))

    seed = [dict(zip(fields, coerced(i, r))) for i, r in enumerate(_TYPED, start=1)]
    seed.append({c: None for c in fields})
    st.init_table(seed)
    assert _typed_rows(st) == [tuple(r.values()) for r in seed]

    st.init_table()
    assert st.insert(_TYPED) == [1, 2, 3]
    assert _typed_rows(st) == [coerced(i, r) for i, r in enumerate(_TYPED, start=1)]

    batch = [dict(_TYPED[1], id=1), dict(_TYPED[2], id=99), dict(_TYPED[0], id=None)]
    assert st.upsert(batch) == 3
    assert _typed_rows(st) == [
        coerced(1, _TYPED[1]),
        coerced(2, _TYPED[1]),
        coerced(3, _TYPED[2]),
        coerced(99, _TYPED[2]),
        coerced(None, _TYPED[0]),
    ]


def test_local_frames_scan_local_table(spark, tmp_path):
    st = ParquetStore(spark, _typed_meta(tmp_path, "plan_t"), str(tmp_path / "plan_t.parquet"))
    plan = st._local_df([{"id": 1, "n": 7}])._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan


def test_physical_column_aliasing_roundtrip(spark, tmp_path):
    """Logical field name != stored column name (meta.php:150-177):
    writes land under the physical name, reads alias back to logical."""
    m = ModelMeta(
        table="aliased",
        db=str(tmp_path / "aliased.parquet"),
        fields={
            "id": AutoField(),
            "email": StringField(column="user_email"),
        },
    )
    register_model("aliased", m)
    st = ParquetStore(spark, m, m.db)
    st.init_table()
    st.insert([{"email": "x@y.z"}])
    # logical surface
    assert st.df().columns == ["id", "email"]
    assert st.df().collect()[0]["email"] == "x@y.z"
    # physical storage
    raw = spark.read.parquet(m.db)
    assert "user_email" in raw.columns and "email" not in raw.columns
    # mutation path keeps the mapping
    st.update(F.col("email") == "x@y.z", {"email": "new@y.z"})
    assert st.df().collect()[0]["email"] == "new@y.z"


def test_unique_probe_blocks_duplicate(spark, tmp_path):
    from hive_2_spark.model import EmailField

    m = ModelMeta(
        table="uq",
        db=str(tmp_path / "uq.parquet"),
        fields={
            "id": AutoField(),
            "email": EmailField(unique=True, null=True),
        },
    )
    register_model("uq", m)
    st = ParquetStore(spark, m, m.db)
    st.init_table()
    st.insert([{"email": "a@x.io"}], enforce_unique=True)
    with pytest.raises(ValueError, match="unique violation"):
        st.insert([{"email": "a@x.io"}], enforce_unique=True)
    st.insert([{"email": "b@x.io"}], enforce_unique=True)  # distinct ok
    assert st.df().count() == 2


# ------------------------------------------------------------- relations
def test_belongs_to(spark, stores):
    post = Model("post", spark, {"id": 1})
    post.read()
    rel = BelongsTo("author", {"author_id": "id"})
    author = rel.read(post)
    assert author.name == "ada"


def test_has_many(spark, stores):
    author = Model("author", spark, {"id": 1})
    author.read()
    rel = HasMany("post", {"id": "author_id"})
    titles = sorted(r["title"] for r in rel.read(author).collect())
    assert titles == ["t1", "t2"]


def test_many_to_many(spark, stores):
    post = Model("post", spark, {"id": 1})
    post.read()
    rel = ManyToMany(
        "tag",
        pivot_model="post_tag",
        parent_key="id",
        pivot_parent_fk="post_id",
        pivot_remote_fk="tag_id",
        remote_key="id",
    )
    keys = sorted(r["id"] for r in rel.pivot_keys(post).collect())
    assert keys == [1, 2]
    names = sorted(r["name"] for r in rel.read(post).collect())
    assert names == ["spark", "sql"]
