"""Parquet-backed table store: the write path (SURVEY.md §2A ops 16-19).

The reference ships one INSERT/UPDATE/DELETE statement per write
(classes/hive/model.php:667-706, 775-811, 831-853; builders :1094-1255)
and the RDBMS makes each one atomic. Here every mutation is ONE Spark
write action plus at most one probe (the ``limit`` key probe, or a
partitioned store's partition probe). Parquet has no in-place mutation,
so update/delete/upsert write the new state beside the table and
:func:`commit` swaps it in; this module's swap is the engine's only
directory commit (``core/incremental.py`` uses it too):

    write new state  -> <path>.swap-<token>
    flat:        rename <path> -> <path>.bak-<token>
                 rename swap   -> <path>                  (commit point)
    partitioned: mkdir <path>.bak-<token>
                 per partition dir d: rename <path>/d -> bak/d,
                                      rename swap/d   -> <path>/d
                 remove swap                              (commit point)
    remove bak

Backups live only in the sibling ``.bak-<token>``, never inside the
table, so a reader never sees one as a partition value. The commit
point is the moment ``.swap-<token>`` disappears. :func:`recover` runs
first at every entry point that reads or writes the table (``df``,
``insert``, ``init_table``, the rewrites) and applies one rule:

- ``.bak-<token>`` with its ``.swap-<token>``: an unfinished commit.
  Every backed-up directory is put back, then both are removed.
- ``.bak-<token>`` alone: a finished commit. It is removed.
- ``.swap-<token>`` alone: a write that never reached the commit. It is
  removed.

update/delete flag each row with ``coalesce(cond, false)`` inside the
rewrite and count the flags with ``DataFrame.observe`` in the same job;
when nothing matched the swap directory is removed, not swapped in.
upsert is one full-outer join on the key, ``coalesce(source, target)``
per column. Inserts append a new part; Auto ids are ``max(existing) +
row number`` (model.php:685-700) — single-writer per table, as the
reference assumes of its RDBMS session; recovery assumes the same of
readers (one process per table). Driver-side rows enter Spark as one
Arrow table (a ``LocalTableScan``, no Python worker); Arrow keeps a
naive datetime as UTC wall-clock, as ``TimestampField.coerce`` does,
where a Python-row frame shifted it by the process time zone.

At 100 TB a table format (Delta/Iceberg) replaces the swap with a
snapshot commit; the flag-and-rewrite plan is its copy-on-write MERGE.
"""

from __future__ import annotations

import os
import shutil
import uuid
from typing import Any, Callable

import pyarrow as pa
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema

from hive_2_spark.model.meta import ModelMeta

_HIT = "__hit"  # per-row "condition matched" flag inside a rewrite


def new_swap(path: str) -> str:
    """A fresh swap directory name for a rewrite of ``path``."""
    return f"{path}.swap-{uuid.uuid4().hex[:8]}"


def commit(path: str, swap: str, dirs: list[str] | None = None) -> None:
    """Swap ``swap`` in as ``path``; with ``dirs`` only those partition
    directories of ``path`` are replaced and every other one stays
    physically untouched. Crash-safe through :func:`recover`."""
    bak = f"{path}.bak-{swap.rsplit('-', 1)[1]}"
    if dirs is None:
        if os.path.exists(path):
            os.rename(path, bak)
        os.rename(swap, path)
    else:
        os.mkdir(bak)
        for d in dirs:
            if os.path.exists(os.path.join(path, d)):
                os.rename(os.path.join(path, d), os.path.join(bak, d))
            if os.path.exists(os.path.join(swap, d)):
                os.rename(os.path.join(swap, d), os.path.join(path, d))
        shutil.rmtree(swap)
    shutil.rmtree(bak, ignore_errors=True)


def recover(path: str) -> None:
    """Apply the recovery rule (module docstring) to the leftovers of
    crashed commits of ``path``."""
    parent, name = os.path.split(path)
    try:
        entries = os.listdir(parent or ".")
    except FileNotFoundError:
        return
    tokens = {
        e.rsplit("-", 1)[1] for e in entries
        if e.startswith((f"{name}.bak-", f"{name}.swap-"))
    }
    for token in tokens:
        bak, swap = f"{path}.bak-{token}", f"{path}.swap-{token}"
        if os.path.exists(bak) and os.path.exists(swap):
            if os.path.exists(path):  # partitioned: bak holds old partitions
                for d in os.listdir(bak):
                    shutil.rmtree(os.path.join(path, d), ignore_errors=True)
                    os.rename(os.path.join(bak, d), os.path.join(path, d))
            else:  # flat: bak is the old table
                os.rename(bak, path)
        shutil.rmtree(swap, ignore_errors=True)
        shutil.rmtree(bak, ignore_errors=True)


class ParquetStore:
    def __init__(
        self,
        spark: SparkSession,
        meta: ModelMeta,
        path: str,
        partition_by: str | None = None,
    ) -> None:
        """``partition_by``: hive-style partition column. When set,
        update/delete rewrite ONLY the partitions containing victims —
        the 100 TB behavior (a mutation touching one day of a
        date-partitioned fact table rewrites one directory, not the
        table). Falls back to full rewrite when the partition column
        itself is updated (rows may migrate between partitions)."""
        self.spark = spark
        self.meta = meta.finish()
        self.path = path
        self.partition_by = partition_by
        if partition_by is not None and partition_by not in self.meta.fields:
            raise ValueError(f"partition column {partition_by!r} not a field")

    # ---------------------------------------------------------------- read
    def _read_schema(self):
        import pyspark.sql.types as T

        return T.StructType(
            [
                T.StructField(phys, self.meta.fields[logical].spark_type, True)
                for phys, logical in self.meta.select_columns()
            ]
        )

    def df(self) -> DataFrame:
        """Declared-field projection with logical names (never ``*``).

        Explicit schema: robust to empty (partition-less) tables and
        skips footer-based inference.
        """
        recover(self.path)
        raw = self.spark.read.schema(self._read_schema()).parquet(self.path)
        cols = [
            F.col(phys).alias(logical)
            for phys, logical in self.meta.select_columns()
        ]
        return raw.select(*cols)

    # --------------------------------------------------------------- write
    def _write(self, df: DataFrame, path: str, mode: str) -> None:
        """Persist with PHYSICAL column names (meta.php:150-177 aliasing:
        logical attribute != stored column); df arrives with logical
        names from the model layer."""
        renames = [
            F.col(logical).alias(phys)
            for phys, logical in self.meta.select_columns()
        ]
        out = df.select(*renames)
        part = self.partition_by
        if part:
            phys_part = self.meta.fields[part].column or part
            w = out.write.mode(mode).partitionBy(phys_part)
        else:
            w = out.write.mode(mode)
        w.parquet(path)

    def _local_df(self, rows: list[dict[str, Any]]) -> DataFrame:
        """Driver-side rows as one Arrow table: a ``LocalTableScan``."""
        schema = to_arrow_schema(self.meta.struct_type())
        return self.spark.createDataFrame(pa.Table.from_pylist(rows, schema=schema))

    def init_table(self, rows: list[dict[str, Any]] | None = None) -> None:
        recover(self.path)
        self._write(self._local_df(rows or []), self.path, "overwrite")

    def check_unique(self, rows: list[dict[str, Any]]) -> None:
        """Uniqueness probe before insert (classes/hive/meta.php:97-117:
        count rows where col = value, error if > 0) — set-level it is a
        semi-join of the incoming keys against the table."""
        auto = self.meta.auto_field
        probes = [
            n for n in self.meta.unique_fields() if n != auto
        ]
        if not probes:
            return
        current = self.df()
        for name in probes:
            values = [
                self.meta.fields[name].value(r[name])
                for r in rows
                if name in r and r[name] is not None
            ]
            if not values:
                continue
            hit = (
                current.filter(F.col(name).isin(values)).select(name).limit(1).collect()
            )
            if hit:
                raise ValueError(
                    f"unique violation on {self.meta.table}.{name}: "
                    f"{hit[0][0]!r} already exists"
                )

    def insert(
        self, rows: list[dict[str, Any]], *, enforce_unique: bool = False
    ) -> list[int | None]:
        """Append rows; assign Auto ids; return assigned ids
        (model.php:667-706; Auto skip in builder :1109)."""
        if not rows:
            return []
        recover(self.path)
        if enforce_unique:
            self.check_unique(rows)
        auto = self.meta.auto_field
        normalized = []
        for r in rows:
            rec = {}
            for name, field in self.meta.fields.items():
                if name == auto:
                    rec[name] = None
                elif name in r:
                    rec[name] = field.value(r[name])
                else:
                    rec[name] = field.unset_value()
            normalized.append(rec)

        ids: list[int | None] = [None] * len(normalized)
        if auto is not None:
            base = self.df().agg(F.max(auto)).collect()[0][0] or 0
            for i, rec in enumerate(normalized):
                rec[auto] = base + i + 1
                ids[i] = rec[auto]
        self._write(self._local_df(normalized), self.path, "append")
        return ids

    def update(
        self,
        condition: Column,
        changes: dict[str, Any],
        limit: int | None = None,
    ) -> int:
        """UPDATE t SET changed WHERE cond [LIMIT n] as a merge-rewrite.

        Only the changed columns are touched (dirty-only SET,
        model.php:1200-1204). Returns affected row count (model.php:799-810).
        ``limit`` selects rows by primary key: the first n matching rows
        in key order, plus any matching row sharing one of their keys.
        """
        if not changes:
            return 0  # clean-update short-circuit (model.php:789-793)
        sets = {}
        for col_name, value in changes.items():
            field = self.meta.fields[col_name]
            sets[col_name] = F.lit(field.value(value)).cast(field.spark_type)
        cols = [
            F.when(F.col(_HIT), sets[c]).otherwise(F.col(c)).alias(c) if c in sets else c
            for c in self.meta.fields
        ]
        return self._rewrite(
            condition, limit, lambda flagged: flagged.select(*cols),
            partition_scoped=self.partition_by not in changes,
        )

    def delete(self, condition: Column, limit: int | None = None) -> int:
        """DELETE WHERE cond [LIMIT n] as a rewrite of the other rows
        (model.php:831-853; builder :1232-1255). ``limit`` selects rows
        by primary key, as in :meth:`update`."""
        return self._rewrite(
            condition, limit, lambda flagged: flagged.filter(~F.col(_HIT))
        )

    def upsert(self, rows: list[dict[str, Any]], key: str | None = None) -> int:
        """MERGE: update matching keys, insert the rest (save() semantics,
        model.php:873-885, generalized to a row batch); a NULL source
        value keeps the target's."""
        if not rows:
            return 0
        key = key or self.meta.primary
        incoming = self._local_df(
            [
                {n: f.value(r[n]) if n in r else None for n, f in self.meta.fields.items()}
                for r in rows
            ]
        )
        on = F.col(f"t.{key}") == F.col(f"s.{key}")
        merged = (
            self.df().alias("t").join(incoming.alias("s"), on=on, how="full_outer")
            .select(
                *[F.coalesce(F.col(f"s.{c}"), F.col(f"t.{c}")).alias(c) for c in self.meta.fields]
            )
        )
        swap = new_swap(self.path)
        self._write(merged, swap, "overwrite")
        commit(self.path, swap)
        return len(rows)

    # ------------------------------------------------------------ internals
    def _rewrite(
        self,
        condition: Column,
        limit: int | None,
        new_state: Callable[[DataFrame], DataFrame],
        partition_scoped: bool = True,
    ) -> int:
        """Write ``new_state`` of the table flagged with ``_HIT`` and swap
        it in; return the hits, counted by ``observe`` in the write job."""
        current = self.df()
        key = self.meta.primary
        part = self.partition_by if partition_scoped else None
        hit = F.coalesce(condition, F.lit(False))
        partitions = None
        # partition values as the strings Spark names directories by
        pvalue = F.col(part).cast("string") if part else None
        if limit is not None:
            probe = (
                current.filter(hit).orderBy(key).limit(limit)
                .select(key, *([pvalue] if part else [])).collect()
            )
            if not probe:
                return 0
            hit = hit & F.col(key).isin(list({r[0] for r in probe}))
            partitions = list({r[1] for r in probe}) if part else None
        elif part:
            partitions = [r[0] for r in current.filter(hit).select(pvalue).distinct().collect()]
            if not partitions:
                return 0
        if partitions is not None:
            inside = pvalue.isin([v for v in partitions if v is not None])
            current = current.filter(
                inside | pvalue.isNull() if None in partitions else inside
            )
        hits = Observation()
        flagged = current.withColumn(_HIT, hit).observe(
            hits, F.count_if(F.col(_HIT)).alias("n")
        )
        swap = new_swap(self.path)
        self._write(new_state(flagged), swap, "overwrite")
        n = hits.get["n"]
        if not n:
            shutil.rmtree(swap)
        elif partitions is None:
            commit(self.path, swap)
        else:
            phys = self.meta.fields[part].column or part
            # Spark's own naming: escaped value, NULL -> default partition
            catalog = self.spark._jvm.org.apache.spark.sql.catalyst.catalog
            dirs = [catalog.ExternalCatalogUtils.getPartitionPathString(phys, v) for v in partitions]
            commit(self.path, swap, dirs)
        return n
