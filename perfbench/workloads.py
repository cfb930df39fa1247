"""Workload definitions: which ops a pass runs, and how each is checked.

A workload is a fixed op mix over a fixed fixture. ``--seed`` permutes
the op order within each pass and, for ``model_crud``, draws the rows and
victims of every write, so the same seed replays the same op sequence.

Query workloads time one op as the registry build ``QUERIES[key](spark,
dir)`` plus a ``write.format("noop")`` run of the result. The CRUD
workload times one op as one ``Model`` or ``ParquetStore`` call.
"""

from __future__ import annotations

import math
import os
import random
import shutil
from dataclasses import dataclass, field

# --------------------------------------------------------------- queries
# Keys are grouped by the module that defines them, as ``layer_of`` does:
# ``graph_bfs_distance`` (a fixpoint loop) lives in ``hive_2_spark.core.graph``.
CORE_KEYS = (
    "pricing_summary",
    "sql_q3_shipping_priority",
    "win_running_sum",
    "graph_bfs_distance",
)

LLM_KEYS = (
    "dedup_minhash_portable",
    "sim_cosine_topk",
)


@dataclass(frozen=True)
class Workload:
    name: str
    scale: float  # fixture scale factor (lineitem rows = 6e6 * scale)
    keys: tuple[str, ...] = ()  # query keys; empty for the CRUD workload
    crud: bool = False


WORKLOADS = {
    w.name: w
    for w in (
        Workload("analytics_sf0.01", 0.01, CORE_KEYS + LLM_KEYS),
        Workload("model_crud", 0.05, crud=True),
    )
}


def layer_of(module: str) -> str:
    """Operator layer of a query key: ``llm`` for ``hive_2_spark.llm.*``,
    ``core`` for ``hive_2_spark.core.*`` and the top-level flagship query."""
    return "llm" if module.startswith("hive_2_spark.llm.") else "core"


def permuted(items: list, rng: random.Random) -> list:
    out = list(items)
    rng.shuffle(out)
    return out


# ------------------------------------------------------------------ CRUD
# One pass of the CRUD workload: op name -> count. Reads run beside
# writes so a change that speeds reads by costing writes shows up.
CRUD_MIX = {
    "read": 2,  # Model.read point lookup
    "scan": 1,  # filtered ParquetStore.df() scan with an aggregate
    "save": 1,  # Model.save single-row update
    "insert": 1,  # 100-row append
    "range_update": 1,  # 2 000-row ParquetStore.update
    "upsert": 1,  # 200-row ParquetStore.upsert (100 updates + 100 new)
    "delete": 1,  # 20-row ParquetStore.delete
}
READ_OPS = ("read", "scan")
WRITE_OPS = ("save", "insert", "range_update", "upsert", "delete")
MODEL_NAME = "perfbench_order"
_STATUSES = ("F", "O", "P")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")


def crud_meta(path: str):
    from hive_2_spark.model import (
        AutoField,
        FloatField,
        IntegerField,
        ModelMeta,
        StringField,
        register_model,
    )

    meta = ModelMeta(
        table=MODEL_NAME,
        db=path,
        fields={
            "id": AutoField(),
            "custkey": IntegerField(),
            "status": StringField(),
            "price": FloatField(),
            "priority": StringField(),
        },
    )
    return register_model(MODEL_NAME, meta)


def seed_table(orders_parquet: str, path: str) -> dict[int, tuple]:
    """Write the model's table from the fixture's ``orders`` and return
    the pure-Python shadow ``{id: (custkey, status, price, priority)}``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    src = pq.read_table(
        orders_parquet,
        columns=["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
                 "o_orderpriority"],
    )
    table = pa.table(
        {
            "id": pa.compute.add(src["o_orderkey"], 1),
            "custkey": src["o_custkey"],
            "status": src["o_orderstatus"],
            "price": src["o_totalprice"],
            "priority": src["o_orderpriority"],
        }
    )
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    pq.write_table(table, os.path.join(path, "part-00000-seed.parquet"))
    cols = table.to_pydict()
    return {
        i: (c, s, p, o)
        for i, c, s, p, o in zip(
            cols["id"], cols["custkey"], cols["status"], cols["price"],
            cols["priority"],
        )
    }


@dataclass
class CrudOp:
    kind: str
    args: dict = field(default_factory=dict)


class CrudPlan:
    """Draws the seeded CRUD op sequence against a shadow copy of the
    table, so each op's expected outcome is known before it runs."""

    def __init__(self, shadow: dict[int, tuple], rng: random.Random) -> None:
        self.shadow = shadow
        self.rng = rng
        self._ids = sorted(shadow)  # kept sorted; rebuilt after deletes

    def _existing(self) -> int:
        return self._ids[self.rng.randrange(len(self._ids))]

    def _row(self) -> tuple:
        r = self.rng
        return (
            r.randrange(15_000),
            r.choice(_STATUSES),
            r.randrange(100_000, 50_000_000) / 100.0,
            r.choice(_PRIORITIES),
        )

    def pass_ops(self) -> list[str]:
        kinds = [k for k, n in CRUD_MIX.items() for _ in range(n)]
        return permuted(kinds, self.rng)

    def draw(self, kind: str) -> CrudOp:
        """Draw the arguments of one op and apply it to the shadow."""
        r, sh = self.rng, self.shadow
        if kind == "read":
            i = self._existing()
            return CrudOp(kind, {"id": i, "expect": sh[i]})
        if kind == "scan":
            status = r.choice(_STATUSES)
            below = r.randrange(1_000, 15_000)
            hits = [v[2] for v in sh.values() if v[1] == status and v[0] < below]
            return CrudOp(
                kind,
                {"status": status, "below": below, "expect": (len(hits), math.fsum(hits))},
            )
        if kind == "save":
            i = self._existing()
            price = r.randrange(100_000, 50_000_000) / 100.0
            c, s, _, o = sh[i]
            sh[i] = (c, s, price, o)
            return CrudOp(kind, {"id": i, "price": price})
        if kind == "insert":
            rows = [self._row() for _ in range(100)]
            base = self._ids[-1]
            for n, row in enumerate(rows, start=1):
                sh[base + n] = row
                self._ids.append(base + n)
            return CrudOp(kind, {"rows": rows})
        if kind == "range_update":
            lo = r.randrange(1, max(2, self._ids[-1] - 2_000))
            status = r.choice(_STATUSES)
            n = 0
            for i in range(lo, lo + 2_000):
                if i in sh:
                    c, _, p, o = sh[i]
                    sh[i] = (c, status, p, o)
                    n += 1
            return CrudOp(kind, {"lo": lo, "hi": lo + 2_000, "status": status, "expect": n})
        if kind == "upsert":
            old = r.sample(self._ids, 100)
            base = self._ids[-1]
            new = list(range(base + 1, base + 101))
            rows = {i: self._row() for i in old + new}
            sh.update(rows)
            self._ids.extend(new)
            return CrudOp(kind, {"rows": rows})
        if kind == "delete":
            victims = r.sample(self._ids, 20)
            for i in victims:
                del sh[i]
            gone = set(victims)
            self._ids = [i for i in self._ids if i not in gone]
            return CrudOp(kind, {"ids": victims, "expect": len(victims)})
        raise ValueError(f"unknown CRUD op {kind!r}")


def _as_record(i: int, row: tuple) -> dict:
    c, s, p, o = row
    return {"id": i, "custkey": c, "status": s, "price": p, "priority": o}


def run_crud_op(spark, store, op: CrudOp) -> tuple[int, str | None]:
    """Execute one op; return (user rows touched, mismatch or None)."""
    from pyspark.sql import functions as F

    from hive_2_spark.model import Model

    a = op.args
    if op.kind == "read":
        m = Model(MODEL_NAME, spark, {"id": a["id"]}, store=store).read()
        got = (m.custkey, m.status, m.price, m.priority) if m.loaded() else None
        bad = None if got == a["expect"] else f"read {a['id']}: {got} != {a['expect']}"
        return 1, bad
    if op.kind == "scan":
        row = (
            store.df()
            .filter((F.col("status") == a["status"]) & (F.col("custkey") < a["below"]))
            .agg(F.count(F.lit(1)), F.sum("price"))
            .collect()[0]
        )
        n, total = a["expect"]
        ok = row[0] == n and math.isclose(row[1] or 0.0, total, rel_tol=1e-9)
        return 0, None if ok else f"scan {a}: got {tuple(row)}"
    if op.kind == "save":
        m = Model(MODEL_NAME, spark, {"id": a["id"]}, store=store).read()
        m.price = a["price"]
        m.save()
        return 1, None
    if op.kind == "insert":
        store.insert([_as_record(0, row) for row in a["rows"]])
        return len(a["rows"]), None
    if op.kind == "range_update":
        n = store.update(
            (F.col("id") >= a["lo"]) & (F.col("id") < a["hi"]), {"status": a["status"]}
        )
        return n, None if n == a["expect"] else f"range_update: {n} != {a['expect']}"
    if op.kind == "upsert":
        store.upsert([_as_record(i, row) for i, row in a["rows"].items()])
        return len(a["rows"]), None
    if op.kind == "delete":
        n = store.delete(F.col("id").isin(a["ids"]))
        return n, None if n == a["expect"] else f"delete: {n} != {a['expect']}"
    raise ValueError(f"unknown CRUD op {op.kind!r}")


def check_crud_table(store, shadow: dict[int, tuple]) -> list[str]:
    """Final-table oracle: row count, id set and sum of price."""
    from pyspark.sql import functions as F

    df = store.df()
    id_list = [r[0] for r in df.select("id").collect()]
    ids = set(id_list)
    total = df.agg(F.sum("price")).collect()[0][0] or 0.0
    problems = []
    if len(id_list) != len(shadow):
        problems.append(f"row count {len(id_list)} != {len(shadow)}")
    if ids != set(shadow):
        problems.append(f"id sets differ by {len(ids ^ set(shadow))}")
    expect = math.fsum(v[2] for v in shadow.values())
    if not math.isclose(total, expect, rel_tol=1e-9):
        problems.append(f"sum(price) {total} != {expect}")
    return problems
