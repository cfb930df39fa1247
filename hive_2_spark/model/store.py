"""Parquet-backed table store: the write path (SURVEY.md §2A ops 16-19).

The reference ships one INSERT/UPDATE/DELETE statement per write
(classes/hive/model.php:667-706, 775-811, 831-853; builders :1094-1255).
Here every mutation is ONE Spark write action plus at most one probe
(the ``limit`` key probe, or a partitioned store's partition probe).
Parquet has no in-place mutation, so update/delete/upsert rewrite the
table and swap it in atomically:

    write new state -> <path>.swap-<token>
    rename <path>   -> <path>.bak-<token>
    rename swap     -> <path>
    remove bak

update/delete flag each row with ``coalesce(cond, false)`` inside the
rewrite and count the flags with ``DataFrame.observe`` in the same job;
when nothing matched the swap directory is removed, not swapped in.
upsert is one full-outer join on the key, ``coalesce(source, target)``
per column. Inserts append a new part; Auto ids are ``max(existing) +
row number`` (model.php:685-700) — single-writer per table, as the
reference assumes of its RDBMS session. Driver-side rows enter Spark as
one Arrow table (a ``LocalTableScan``, no Python worker); Arrow keeps a
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
                    rec[name] = None if field.null else field.coerce(field.default)
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
        self._swap_in(self._write_swap(merged))
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
        if limit is not None:
            probe = (
                current.filter(hit).orderBy(key).limit(limit)
                .select(key, *([part] if part else [])).collect()
            )
            if not probe:
                return 0
            hit = hit & F.col(key).isin(list({r[0] for r in probe}))
            partitions = list({r[1] for r in probe}) if part else None
        elif part:
            partitions = [r[0] for r in current.filter(hit).select(part).distinct().collect()]
            if not partitions:
                return 0
        if partitions is not None:
            current = current.filter(F.col(part).isin(partitions))
        hits = Observation()
        flagged = current.withColumn(_HIT, hit).observe(
            hits, F.count_if(F.col(_HIT)).alias("n")
        )
        swap = self._write_swap(new_state(flagged))
        n = hits.get["n"]
        if n:
            self._swap_in(swap, partitions)
        else:
            shutil.rmtree(swap)
        return n

    def _write_swap(self, df: DataFrame) -> str:
        swap = f"{self.path}.swap-{uuid.uuid4().hex[:8]}"
        self._write(df, swap, "overwrite")
        return swap

    def _swap_in(self, swap: str, partitions: list[Any] | None = None) -> None:
        """Commit a swap directory. With ``partitions`` only those
        partition directories are replaced; every other partition's
        files stay physically untouched."""
        token = swap.rsplit("-", 1)[1]
        moves = [(swap, self.path)]
        if partitions is not None:
            phys = self.meta.fields[self.partition_by].column or self.partition_by
            dirs = [f"{phys}={v}" for v in partitions]
            moves = [(os.path.join(swap, d), os.path.join(self.path, d)) for d in dirs]
        for src, dst in moves:
            bak = f"{dst}.bak-{token}"
            if os.path.exists(dst):
                os.rename(dst, bak)
            if os.path.exists(src):
                os.rename(src, dst)
            if os.path.exists(bak):
                shutil.rmtree(bak)
        shutil.rmtree(swap, ignore_errors=True)
