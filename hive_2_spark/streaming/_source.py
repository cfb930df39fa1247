"""The one stream reader: ``read_stream_table`` is the readStream twin
of ``catalog.load_table``, so a streaming operator's stream face is its
batch transform applied to this reader's output.

FileStreamSource requires a DIRECTORY; the fixtures are single parquet
files, so each is exposed through a symlinked temp dir named after the
table (never mutating testdata). The dir name must be

* deterministic per fixture — checkpointed queries resume against the
  same source path across restarts; and
* collision-free across fixtures and OS users — two sf_dirs with the
  same basename (e.g. ``/a/sf0.01`` vs ``/b/sf0.01``), or runs by two
  users sharing ``/tmp``, must not land on the same path (wrong-fixture
  stream or EPERM). Keyed on sha1(realpath) + uid, not the basename.
"""

from __future__ import annotations

import hashlib
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession

from hive_2_spark.catalog import read_under_rule, table_path


def _source_dir(table: str, sf_dir: str) -> str:
    real = os.path.realpath(sf_dir.rstrip("/"))
    digest = hashlib.sha1(real.encode()).hexdigest()[:12]
    uid = os.getuid() if hasattr(os, "getuid") else 0
    tag = os.path.basename(real)
    return os.path.join(
        tempfile.gettempdir(), f"hive2spark_{table}_{tag}_{digest}_u{uid}"
    )


def _link_fixture(src_dir: str, name: str, target: str) -> None:
    """Symlink ``target`` into ``src_dir`` with stale-file + race guards.

    A stale NON-symlink at the path (e.g. a leftover copy) must not be
    silently streamed instead of the fixture; remove anything that is
    not a link to the current target. lexists, not exists: a symlink
    whose old target was deleted (regenerated fixture) reports
    exists()=False but still blocks os.symlink with FileExistsError.
    Concurrent runs may create the link between lexists and symlink —
    losing the race to an IDENTICAL link is fine.
    """
    os.makedirs(src_dir, exist_ok=True)
    link = os.path.join(src_dir, name)
    if os.path.lexists(link) and (
        not os.path.islink(link) or os.readlink(link) != target
    ):
        if os.path.isdir(link) and not os.path.islink(link):
            raise RuntimeError(f"refusing to remove directory at {link}")
        os.remove(link)
    if not os.path.lexists(link):
        try:
            os.symlink(target, link)
        except FileExistsError:
            if os.readlink(link) != target:  # lost the race to a stale link
                raise


def read_stream_table(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """readStream over a single-file parquet fixture table, under the
    same load rule as ``catalog.load_table`` (events: normalized ts)."""
    path = table_path(sf_dir, table)
    src_dir = _source_dir(table, sf_dir)
    _link_fixture(src_dir, f"{table}.parquet", path)
    return read_under_rule(
        spark,
        table,
        lambda: spark.readStream.schema(spark.read.parquet(path).schema)
        .parquet(src_dir),
    )
