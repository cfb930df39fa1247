"""Typed field descriptors (SURVEY.md §1.2).

Reference parity (citations into /root/reference/):
- base descriptor attrs (table/primary/unique/null/default/column/on_change):
  classes/hive/field.php:16-46; abstract ``value()`` normalizer :73.
- falsy -> NULL (when nullable) else default: every value() impl, e.g.
  classes/hive/field/string.php:13-26, field/integer.php:13-26.
- Auto = Integer with primary=unique=null=TRUE: classes/hive/field/auto.php:11-17.
- Float ``decimals`` affects display only: classes/hive/field/float.php:16-43.
- Boolean verbose Yes/No: classes/hive/field/boolean.php:13-33.
- Timestamp stored as epoch int, strtotime parse, date($format) display,
  auto_now_create/auto_now_update: classes/hive/field/timestamp.php:16-45.

The PHP notion of "falsy" (NULL, FALSE, 0, '0', '', empty array) is
reproduced exactly — it is observable API behavior.
"""

from __future__ import annotations

import datetime as _dt
from typing import Any, Callable

from pyspark.sql import types as T


def _php_falsy(value: Any) -> bool:
    """PHP empty()/falsy semantics used by every field/*.php value()."""
    return (
        value is None
        or value is False
        or value == 0
        or value == ""
        or value == "0"
        or (isinstance(value, (list, tuple, dict, set)) and len(value) == 0)
    )


class Field:
    """Column descriptor: type + constraints + coercion.

    ``column`` is the physical name when it differs from the logical
    attribute name (classes/hive/field.php:41, meta.php:150-177).
    """

    spark_type: T.DataType = T.StringType()

    def __init__(
        self,
        *,
        primary: bool = False,
        unique: bool = False,
        null: bool = False,
        default: Any = None,
        column: str | None = None,
        on_change: Callable[[Any, Any], Any] | None = None,
        label: str | None = None,
    ) -> None:
        self.primary = primary
        self.unique = unique or primary
        self.null = null
        self.default = default
        self.column = column  # back-filled by Meta.finish() when None
        self.on_change = on_change
        self.label = label
        self.name: str | None = None  # back-filled by Meta.finish()
        self.table: str | None = None

    # -- coercion ---------------------------------------------------------
    def value(self, value: Any) -> Any:
        """Normalize an input to the field's storage type.

        Falsy -> NULL when nullable else ``default`` (string.php:13-26
        pattern, shared by all scalar fields).
        """
        if _php_falsy(value):
            return self.unset_value()
        return self.coerce(value)

    def unset_value(self) -> Any:
        """The value of a field nobody set: NULL when nullable, else the
        coerced ``default``."""
        return None if self.null else self.coerce(self.default)

    def coerce(self, value: Any) -> Any:
        raise NotImplementedError

    def verbose(self, value: Any) -> str:
        """Human rendering (field.php verbose pattern)."""
        return "" if value is None else str(value)

    def struct_field(self) -> T.StructField:
        return T.StructField(
            self.name or "?",
            self.spark_type,
            nullable=True,
            metadata={
                "primary": self.primary,
                "unique": self.unique,
                "null": self.null,
                "physical": self.column or self.name,
            },
        )


class StringField(Field):
    spark_type = T.StringType()

    def __init__(self, *, default: Any = "", **kw: Any) -> None:
        super().__init__(default=default, **kw)

    def coerce(self, value: Any) -> Any:
        return None if value is None else str(value)


class TextField(StringField):
    """= String (classes/hive/field/text.php:11)."""


class PasswordField(StringField):
    """= String (classes/hive/field/password.php:11)."""


class EmailField(StringField):
    """= String; format/uniqueness enforced by validation rules
    (classes/hive/field/email.php:11, README.md:42-48)."""


class EnumField(StringField):
    """= String + membership check (classes/hive/field/enum.php:11)."""

    def __init__(self, *, choices: tuple[str, ...] = (), **kw: Any) -> None:
        super().__init__(**kw)
        self.choices = tuple(choices)

    def coerce(self, value: Any) -> Any:
        v = super().coerce(value)
        if v is not None and self.choices and v not in self.choices:
            raise ValueError(f"{v!r} not in enum choices {self.choices}")
        return v


class IntegerField(Field):
    spark_type = T.LongType()

    def __init__(self, *, default: Any = 0, **kw: Any) -> None:
        super().__init__(default=default, **kw)

    def coerce(self, value: Any) -> Any:
        return None if value is None else int(value)


class AutoField(IntegerField):
    """Integer with primary=unique=null=TRUE; value assigned at insert
    (classes/hive/field/auto.php:11-17; consumed model.php:685-700)."""

    def __init__(self, **kw: Any) -> None:
        kw.setdefault("primary", True)
        kw.setdefault("unique", True)
        kw.setdefault("null", True)
        super().__init__(**kw)


class FloatField(Field):
    spark_type = T.DoubleType()

    def __init__(self, *, default: Any = 0.0, decimals: int = 2, **kw: Any) -> None:
        super().__init__(default=default, **kw)
        self.decimals = decimals

    def coerce(self, value: Any) -> Any:
        return None if value is None else float(value)

    def verbose(self, value: Any) -> str:
        """decimals affects display only (field/float.php:33-43)."""
        if value is None:
            return ""
        return f"{float(value):,.{self.decimals}f}"


class BooleanField(Field):
    spark_type = T.BooleanType()

    def __init__(self, *, default: Any = False, **kw: Any) -> None:
        super().__init__(default=default, **kw)

    def value(self, value: Any) -> Any:
        # Booleans bypass the falsy dance: any input casts straight to bool
        # (field/boolean.php:13-20).
        return bool(value)

    def coerce(self, value: Any) -> Any:
        return bool(value)

    def verbose(self, value: Any) -> str:
        """TRUE/FALSE -> 'Yes'/'No' (field/boolean.php:28-33)."""
        return "Yes" if value else "No"


_TS_FORMATS = (
    "%Y-%m-%d %H:%M:%S",
    "%Y-%m-%dT%H:%M:%S",
    "%Y-%m-%d",
    "%d-%m-%Y",
    "%Y/%m/%d",
)


class TimestampField(Field):
    """Stored as TimestampType; accepts epoch ints and parseable strings
    (the strtotime shape, field/timestamp.php:30-38); ``format`` drives
    display (timestamp.php:26, 40-45); auto_now flags stamp at write
    (timestamp.php:16-21, consumed model.php:672-679, 780-787)."""

    spark_type = T.TimestampType()

    def __init__(
        self,
        *,
        auto_now_create: bool = False,
        auto_now_update: bool = False,
        format: str = "%Y-%m-%d %H:%M:%S",
        null: bool = True,
        **kw: Any,
    ) -> None:
        super().__init__(null=null, **kw)
        self.auto_now_create = auto_now_create
        self.auto_now_update = auto_now_update
        self.format = format

    def coerce(self, value: Any) -> Any:
        if value is None:
            return None
        if isinstance(value, _dt.datetime):
            return value
        if isinstance(value, _dt.date):
            return _dt.datetime(value.year, value.month, value.day)
        if isinstance(value, (int, float)):
            return _dt.datetime.fromtimestamp(float(value), tz=_dt.timezone.utc).replace(
                tzinfo=None
            )
        if isinstance(value, str):
            for fmt in _TS_FORMATS:
                try:
                    return _dt.datetime.strptime(value, fmt)
                except ValueError:
                    continue
            raise ValueError(f"unparseable timestamp {value!r}")
        raise TypeError(f"cannot coerce {type(value)} to timestamp")

    def verbose(self, value: Any) -> str:
        if value is None:
            return ""
        return self.coerce(value).strftime(self.format)
