"""Stream source temp dirs must be collision-free across fixtures with
the same basename and across OS users (round-4 advice on ingest.py)."""

import os

from hive_2_spark.streaming._source import _source_dir


def test_same_basename_different_paths_do_not_collide(tmp_path):
    a = tmp_path / "a" / "sf0.01"
    b = tmp_path / "b" / "sf0.01"
    a.mkdir(parents=True)
    b.mkdir(parents=True)
    da, db = _source_dir("documents", str(a)), _source_dir("documents", str(b))
    assert da != db
    # deterministic for checkpoint resume
    assert da == _source_dir("documents", str(a))


def test_dir_embeds_uid_and_prefix(tmp_path):
    d = _source_dir("embeddings", str(tmp_path))
    uid = os.getuid()
    assert f"_u{uid}" in os.path.basename(d)
    assert os.path.basename(d).startswith("hive2spark_embeddings_")
