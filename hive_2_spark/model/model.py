"""The Model class: one row + state machine over a Spark-backed table.

Reference parity (citations into /root/reference/classes/hive/model.php
unless noted):

- factory + bulk bind: :18-30, values() :644-655 (unknown keys skipped).
- state flags init/prepared/loading/loaded/deleted: :120-126.
- __data (loaded) vs __changed (dirty); reads prefer changed: :131-136,
  :227-241; merge-on-load :548-561.
- typed __set through field->value(): :297; on_change dispatch :299-306;
  set-back-to-original clears the dirty mark :308-312; setting a unique
  field flips prepared :315-325.
- unknown field access raises: :219-225.
- lazy load on first unloaded-field read: :234-238.
- __unset/reset restore value(default): :343-364, :612-634.
- read(): projection/WHERE/ORDER BY/LIMIT builders :1138-1173, conditions
  :1269-1287.
- create/update/delete/save: :667-706, :775-811, :831-853, :873-885.
- total(): :896-921; select_list(): :1038-1083.
- as_array/as_json/__toString: :374-395, :470-473.
- auto_now stamping: :672-679, :780-787.
"""

from __future__ import annotations

import datetime as _dt
import json
from typing import Any, Iterator

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from hive_2_spark.model.fields import TimestampField
from hive_2_spark.model.meta import ModelMeta, meta as get_meta
from hive_2_spark.model.store import ParquetStore

_INTERNAL = (
    "_name",
    "_meta",
    "_spark",
    "_store",
    "_data",
    "_changed",
    "_state",
)


class Model:
    """One record of a registered model, Active-Record style."""

    def __init__(
        self,
        name: str,
        spark: SparkSession,
        values: dict[str, Any] | None = None,
        *,
        store: ParquetStore | None = None,
    ) -> None:
        object.__setattr__(self, "_name", name)
        object.__setattr__(self, "_meta", get_meta(name))
        object.__setattr__(self, "_spark", spark)
        object.__setattr__(
            self,
            "_store",
            store
            or (
                ParquetStore(spark, self._meta, self._meta.db)
                if self._meta.db
                else None
            ),
        )
        object.__setattr__(self, "_data", {})
        object.__setattr__(self, "_changed", {})
        object.__setattr__(self, "_state", "init")
        if values:
            self.values(values)

    # ------------------------------------------------------------ factory
    @classmethod
    def factory(
        cls, name: str, spark: SparkSession, values: dict[str, Any] | None = None
    ) -> "Model":
        return cls(name, spark, values)

    # ------------------------------------------------------- state probes
    def loaded(self) -> bool:
        return self._state == "loaded"

    def prepared(self) -> bool:
        return self._state in ("prepared", "loaded")

    def deleted(self) -> bool:
        return self._state == "deleted"

    def changed(self, name: str | None = None) -> Any:
        """Changed map, or one field's changed value (model.php:599-602)."""
        if name is None:
            return dict(self._changed)
        return self._changed.get(name)

    # ----------------------------------------------------- attr protocol
    def __setattr__(self, name: str, value: Any) -> None:
        if name in _INTERNAL:
            object.__setattr__(self, name, value)
            return
        meta: ModelMeta = self._meta
        if name not in meta.fields:
            raise AttributeError(f"model {self._name} has no field {name!r}")
        field = meta.fields[name]
        value = field.value(value)
        if field.on_change is not None:
            value = field.value(field.on_change(self, value))
        if name in self._data and self._data[name] == value:
            # setting back to the original clears the dirty mark (:308-312)
            self._changed.pop(name, None)
            return
        self._changed[name] = value
        if field.unique and self._state == "init":
            object.__setattr__(self, "_state", "prepared")

    def __getattr__(self, name: str) -> Any:
        # only called when normal lookup fails — i.e. for field/alias names
        if name.startswith("_"):
            raise AttributeError(name)
        meta: ModelMeta = self._meta
        if name in meta.aliases:
            return meta.aliases[name](self)
        if name not in meta.fields:
            raise AttributeError(
                f"model {self._name} has no field or alias {name!r}"
            )
        if name in self._changed:
            return self._changed[name]
        if name in self._data:
            return self._data[name]
        # lazy load: unloaded field on a prepared model triggers read()
        if self._state == "prepared" and self._store is not None:
            self.read()
            if name in self._changed:
                return self._changed[name]
            if name in self._data:
                return self._data[name]
        field = meta.fields[name]
        return field.unset_value()

    def __delattr__(self, name: str) -> None:
        """Reset one field to value(default) (model.php:343-364)."""
        meta: ModelMeta = self._meta
        if name not in meta.fields:
            raise AttributeError(name)
        field = meta.fields[name]
        self._changed.pop(name, None)
        self._data[name] = field.value(field.default)

    # ------------------------------------------------------------- binding
    def values(self, values: dict[str, Any]) -> "Model":
        """Bulk bind; unknown keys silently skipped (model.php:644-655)."""
        for k, v in values.items():
            if k in self._meta.fields:
                setattr(self, k, v)
        return self

    def reset(self) -> "Model":
        """Restore every field to its default (model.php:612-634)."""
        self._changed.clear()
        self._data.clear()
        for name, field in self._meta.fields.items():
            self._data[name] = field.value(field.default)
        object.__setattr__(self, "_state", "init")
        return self

    # ------------------------------------------------------------- planning
    def df(self) -> DataFrame:
        """The model's lazy read plan: projection + conditions + sorting."""
        meta = self._meta
        df = self._store.df()
        cond = self.query_conditions()
        if cond is not None:
            df = df.filter(cond)
        order = _sort_order(meta.sorting)
        if order:
            df = df.orderBy(*order)
        return df

    def query_conditions(self) -> Column | None:
        """Conjunctive equality WHERE from changed + unique loaded fields
        (model.php:1269-1287)."""
        meta = self._meta
        conds: list[Column] = []
        for name, value in self._changed.items():
            conds.append(F.col(name).eqNullSafe(F.lit(value)))
        if self._state == "loaded":
            for name in meta.unique_fields():
                if name in self._data and name not in self._changed:
                    if self._data[name] is not None:
                        conds.append(F.col(name) == F.lit(self._data[name]))
                        break  # one identifying unique field is enough
        if not conds:
            return None
        out = conds[0]
        for c in conds[1:]:
            out = out & c
        return out

    # --------------------------------------------------------------- read
    def read(self, limit: int | None = 1) -> Any:
        """Load this record (limit=1) or iterate matching models
        (model.php:723-758)."""
        df = self.df()
        if limit == 1:
            rows = df.limit(1).collect()
            if not rows:
                object.__setattr__(self, "_state", "init")
                return self
            self._hydrate(rows[0].asDict())
            return self
        if limit:
            df = df.limit(limit)
        return _model_iter(self._name, self._spark, self._store, df)

    def _hydrate(self, row: dict[str, Any]) -> None:
        object.__setattr__(self, "_state", "loading")
        data = dict(row)
        # merge-on-load: changed wins over loaded (model.php:548-561)
        data.update(self._changed)
        object.__setattr__(self, "_data", data)
        self._changed.clear()
        object.__setattr__(self, "_state", "loaded")

    # -------------------------------------------------------------- write
    def _stamp(self, flag: str) -> None:
        now = _dt.datetime.now(_dt.timezone.utc).replace(tzinfo=None, microsecond=0)
        for name, field in self._meta.fields.items():
            if isinstance(field, TimestampField) and getattr(field, flag):
                self._changed[name] = now

    def create(self) -> "Model":
        """INSERT (model.php:667-706): stamp auto_now_create, skip Auto
        fields, read back the assigned id."""
        self._stamp("auto_now_create")
        rec = dict(self._changed)
        ids = self._store.insert([rec])
        auto = self._meta.auto_field
        if auto is not None and ids and ids[0] is not None:
            rec[auto] = ids[0]
        full = {}
        for name, field in self._meta.fields.items():
            if name in rec:
                full[name] = rec[name]
            else:
                full[name] = field.unset_value()
        self._hydrate(full)
        return self

    def update(self) -> "Model":
        """UPDATE dirty columns WHERE primary (model.php:775-811)."""
        if not self.loaded():
            raise RuntimeError("cannot update an unloaded model")
        self._stamp("auto_now_update")
        if not self._changed:
            return self  # clean no-op (:789-793)
        key = self._meta.primary
        cond = F.col(key) == F.lit(self._data[key])
        changes = dict(self._changed)
        self._store.update(cond, changes)
        self._data.update(
            {k: self._meta.fields[k].value(v) for k, v in changes.items()}
        )
        self._changed.clear()
        return self

    def delete(self) -> "Model":
        """DELETE WHERE conditions; data stays readable (model.php:831-853)."""
        cond = self.query_conditions()
        if cond is None:
            raise RuntimeError("refusing to delete without conditions")
        self._store.delete(cond, limit=1 if self.loaded() else None)
        merged = dict(self._data)
        merged.update(self._changed)
        object.__setattr__(self, "_data", merged)
        self._changed.clear()
        object.__setattr__(self, "_state", "deleted")
        return self

    def save(self) -> "Model":
        """loaded ? update : create (model.php:873-885)."""
        return self.update() if self.loaded() else self.create()

    # ----------------------------------------------------------- validation
    def validate(self, context: str | None = None) -> dict[str, list[str]]:
        """Evaluate meta rules against this instance's current values
        (model.php:940-1026; context scoping meta.php:44-61).

        Rules live in ``meta.rules`` as ``{field: [(check, message,
        contexts?), ...]}`` where ``check`` is a plain Python predicate
        over the coerced value. Returns {field: [messages]} — empty dict
        means valid. Set-level (whole-DataFrame) validation uses
        hive_2_spark.model.validate.Validator instead.
        """
        errors: dict[str, list[str]] = {}
        for field_name, rules in self._meta.rules.items():
            value = getattr(self, field_name)
            for rule in rules:
                check, message = rule[0], rule[1]
                contexts = rule[2] if len(rule) > 2 else ()
                if contexts and context not in contexts:
                    continue
                ok = False
                try:
                    ok = bool(check(value))
                except Exception:
                    ok = False
                if not ok:
                    errors.setdefault(field_name, []).append(message)
        return errors

    def check(self, context: str | None = None) -> "Model":
        """validate-or-raise, the save-gate form."""
        errors = self.validate(context)
        if errors:
            raise ValueError(f"validation failed for {self._name}: {errors}")
        return self

    # ---------------------------------------------------------- aggregates
    def total(self) -> int:
        """COUNT(*) over the conditioned subquery (model.php:896-921)."""
        df = self._store.df()
        cond = self.query_conditions()
        if cond is not None:
            df = df.filter(cond)
        return df.count()

    def select_list(self, key: str, value: str) -> dict[Any, Any]:
        """DISTINCT key->value dict, model-sorted (model.php:1038-1083)."""
        df = self.df().select(key, value).distinct()
        order = _sort_order(self._meta.sorting, (key, value))
        if order:
            df = df.orderBy(*order)
        return {r[0]: r[1] for r in df.collect()}

    # ------------------------------------------------------------- export
    def as_array(self) -> dict[str, Any]:
        out = {}
        for name, field in self._meta.fields.items():
            if name in self._changed:
                out[name] = self._changed[name]
            elif name in self._data:
                out[name] = self._data[name]
            else:
                out[name] = field.unset_value()
        return out

    def as_json(self) -> str:
        return json.dumps(self.as_array(), default=str)

    def __str__(self) -> str:  # __toString (model.php:470-473)
        return self.as_json()


def _sort_order(sorting: dict[str, str], only=None) -> list[Column]:
    """``meta.sorting`` as orderBy columns, restricted to ``only`` when
    given."""
    return [
        F.col(c).desc() if d.lower() == "desc" else F.col(c).asc()
        for c, d in sorting.items()
        if only is None or c in only
    ]


def _model_iter(
    name: str, spark: SparkSession, store: ParquetStore, df: DataFrame
) -> Iterator[Model]:
    for row in df.toLocalIterator():
        m = Model(name, spark, store=store)
        m._hydrate(row.asDict())
        yield m
