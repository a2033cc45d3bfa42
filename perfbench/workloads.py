"""The benchmark's workloads: inputs, the timed operation, and its check.

Each workload reads fixed tables from ``data/`` (copies of the project's
shipped TPC-H-ish test data: orders at sf0.1, orders and lineitem at
sf0.01, every table at sf0.001), builds its inputs once, and exposes
``op()`` (one timed operation) and ``check(result)``. The seed only picks
which key residues each side drops or mutates. Expected results come from
DuckDB over the same parquet files, never from the program under test.
"""

from __future__ import annotations

import datetime
import decimal
import json
import math
import random
import tempfile
from pathlib import Path

import duckdb

HERE = Path(__file__).resolve().parent
DATA = HERE / "data"


def headliners() -> list[str]:
    """The 44 headliners, from the one list in ``headliners.json``."""
    return json.loads((HERE / "headliners.json").read_text())["headliners"]


def residues(seed: int) -> tuple[int, int, int]:
    """(base drops key % 10 == rb, head drops key % 10 == rh, head
    mutates where key % 7 == rm), drawn from the seed."""
    rng = random.Random(seed)
    rb, rh = rng.sample(range(10), 2)
    return rb, rh, rng.randrange(7)


# ---------------------------------------------------------------- checks


def expected_diff(con, base_sql: str, head_sql: str, keys: list[str],
                  where: str | None, sample: int) -> dict:
    """The parts of a ``diff_frames`` result that DuckDB can recompute:
    schema, row counts, per-column profile (over the unfiltered sides,
    the default parity behaviour), row diff counts and the sorted sample
    of changed keys (one entry per changed pair)."""
    con.execute(f"CREATE OR REPLACE TEMP VIEW base AS {base_sql}")
    con.execute(f"CREATE OR REPLACE TEMP VIEW head AS {head_sql}")
    base_cols = [r[0] for r in con.execute("DESCRIBE base").fetchall()]
    head_cols = [r[0] for r in con.execute("DESCRIBE head").fetchall()]
    common = [c for c in head_cols if c in base_cols]
    non_key = [c for c in common if c not in keys]
    filt = f" WHERE {where}" if where else ""
    out: dict = {"common": common, "rowcounts": {}, "profile": {}}
    for side in ("base", "head"):
        out["rowcounts"][side] = con.execute(f"SELECT count(*) FROM {side}{filt}").fetchone()[0]
        exprs = ", ".join(
            f"count(*) FILTER (WHERE {c} IS NULL), count(DISTINCT {c})" for c in common
        )
        row = con.execute(f"SELECT {exprs} FROM {side}").fetchone()
        out["profile"][side] = {
            c: {"nulls": row[2 * i], "distinct": row[2 * i + 1]} for i, c in enumerate(common)
        }
    on = " AND ".join(f"b.{k} = h.{k}" for k in keys)
    is_diff = " OR ".join(f"b.{c} IS DISTINCT FROM h.{c}" for c in non_key) or "FALSE"
    b = f"(SELECT * FROM base{filt})"
    h = f"(SELECT * FROM head{filt})"
    added, removed, changed = con.execute(
        f"""SELECT count(*) FILTER (WHERE b.{keys[0]} IS NULL AND h.{keys[0]} IS NOT NULL),
                   count(*) FILTER (WHERE h.{keys[0]} IS NULL AND b.{keys[0]} IS NOT NULL),
                   count(*) FILTER (WHERE b.{keys[0]} IS NOT NULL AND h.{keys[0]} IS NOT NULL
                                    AND ({is_diff}))
            FROM {b} b FULL OUTER JOIN {h} h ON {on}"""
    ).fetchone()
    key_list = ", ".join(f"b.{k}" for k in keys)
    sample_keys = con.execute(
        f"SELECT {key_list} FROM {b} b JOIN {h} h ON {on} WHERE {is_diff} "
        f"ORDER BY {key_list} LIMIT {int(sample)}"
    ).fetchall()
    out["row_diff"] = {
        "added": added,
        "removed": removed,
        "changed": changed,
        "sample_keys": [list(r) for r in sample_keys],
    }
    out["matched_pairs"] = con.execute(f"SELECT count(*) FROM {b} b JOIN {h} h ON {on}").fetchone()[0]
    return out


def diff_matches(result: dict, exp: dict) -> bool:
    if result["schema_diff"]["common"] != exp["common"]:
        return False
    if result["rowcounts"] != exp["rowcounts"]:
        return False
    for c in exp["common"]:
        for side in ("base", "head"):
            got = result["column_profile"][c][side]
            want = exp["profile"][side][c]
            if (got["nulls"], got["distinct"]) != (want["nulls"], want["distinct"]):
                return False
    return result["row_diff"] == exp["row_diff"]


def _norm(v) -> str:
    if v is None:
        return "<NULL>"
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, float):
        return "nan" if math.isnan(v) else repr(v)
    if isinstance(v, decimal.Decimal):
        return f"decimal:{v}"
    if isinstance(v, int):
        return f"int:{v}"
    if isinstance(v, datetime.datetime):
        return v.isoformat(sep=" ")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_norm(x)}" for k, x in sorted(v.items())) + "}"
    return str(v)


def _multiset(cols, rows) -> list[str]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(",".join(_norm(r[i]) for i in order) for r in rows)


def oracle_matches(scols, srows, con, oracle_sql: str) -> bool:
    """Same columns and the same multiset of rows as the DuckDB oracle."""
    tbl = con.execute(oracle_sql).arrow()
    ocols = tbl.column_names
    orows = [tuple(d[c] for c in ocols) for d in tbl.to_pylist()]
    return sorted(scols) == sorted(ocols) and _multiset(scols, srows) == _multiset(ocols, orows)


def duck(data_dir: Path, tables) -> duckdb.DuckDBPyConnection:
    # DuckDB runs only while Spark is idle, so it may use every core
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute(f"SET temp_directory = '{tempfile.gettempdir()}'")
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir / t}.parquet')")
    return con


# ------------------------------------------------------------- workloads


class Flagship:
    """``diff_frames`` on base/head variants of ``orders``, unique keys."""

    name = "flagship_sf0.1"
    tables = ("orders",)
    data_dir = DATA / "sf0.1"
    keys = ["o_orderkey"]
    where = None
    # the JVM warms over many ops (about a quarter faster from op 3 to op
    # 15); the first few are the slowest
    warmup_ops = 3
    # reference runs after each op (``reference.py``)
    refs_per_op = 1
    # timed ops the metrics take (``run.Run.measure``): about what fits in
    # 20 s on a slow host
    window_ops = 8

    def __init__(self, seed: int, fixture: tuple[int, int, int] | None = None):
        self.rb, self.rh, self.rm = fixture or residues(seed)

    def sides_sql(self) -> tuple[str, str]:
        base = f"SELECT * FROM orders WHERE o_orderkey % 10 <> {self.rb}"
        head = (
            "SELECT o_orderkey, o_custkey, o_orderstatus, "
            f"CASE WHEN o_orderkey % 7 = {self.rm} THEN o_totalprice + 1 "
            "ELSE o_totalprice END AS o_totalprice, o_orderdate, o_orderpriority "
            f"FROM orders WHERE o_orderkey % 10 <> {self.rh}"
        )
        return base, head

    def expect(self) -> None:
        con = duck(self.data_dir, self.tables)
        self.expected = expected_diff(con, *self.sides_sql(), self.keys, self.where, 20)
        con.close()

    def build(self, spark) -> None:
        from pyspark.sql import functions as F

        from dbt_model_diff_spark.sources.readers import read_table

        o = self.orders = read_table(spark, str(self.data_dir), "orders")
        k = F.col("o_orderkey")
        self.base = o.filter(k % 10 != self.rb)
        self.head = o.filter(k % 10 != self.rh).withColumn(
            "o_totalprice",
            F.when(k % 7 == self.rm, F.col("o_totalprice") + 1).otherwise(F.col("o_totalprice")),
        )

    def op(self, spark):
        from dbt_model_diff_spark.operators import diff

        return diff.diff_frames(self.base, self.head, key_cols=self.keys, sample=20)

    def check(self, result) -> bool:
        return diff_matches(result, self.expected)

    def sides(self, spark):
        """The op's two sides, built through ``ModelRegistry``."""
        from dbt_model_diff_spark.plans.registry import ModelRegistry

        base_sql, head_sql = self.sides_sql()
        reg = ModelRegistry().sql("orders_base", base_sql).sql("orders_head", head_sql)
        built = reg.build(spark, sources={"orders": self.orders})
        return built["orders_base"], built["orders_head"]


_MODEL_SQL = """
WITH order_agg AS (
  SELECT l_orderkey AS agg_orderkey,
         {d0}SUM(CAST(l_quantity AS DECIMAL(12,2))){d1} AS order_qty,
         {d0}SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                 * (1 - CAST(l_discount AS DECIMAL(3,2)))){d1} AS order_revenue
  FROM lineitem GROUP BY l_orderkey)
SELECT l.l_orderkey, l.l_linenumber, l.l_partkey, l.l_suppkey,
       {qty} AS l_quantity, l.l_extendedprice, l.l_discount, l.l_tax,
       l.l_returnflag, l.l_linestatus, l.l_shipdate,
       o.o_custkey, o.o_orderstatus, o.o_orderdate, o.o_orderpriority,
       a.order_qty, a.order_revenue
FROM lineitem l
JOIN orders o ON o.o_orderkey = l.l_orderkey
JOIN order_agg a ON a.agg_orderkey = l.l_orderkey
WHERE l.l_orderkey % 10 <> {drop}
"""


class ModelDiff:
    """``run_model_diff`` of a 17-column line-level fact model whose key
    ``l_orderkey`` repeats about four times per order (m x n join)."""

    name = "model_diff_lines"
    tables = ("orders", "lineitem")
    data_dir = DATA / "sf0.01"
    keys = ["l_orderkey"]
    where = "o_orderstatus <> 'P'"
    model = "fct_order_lines"
    # the cold op and the two steepest warming ones
    warmup_ops = 3
    # few ops fit in a run, so more reference runs after each
    refs_per_op = 3
    window_ops = 3

    def __init__(self, seed: int):
        self.rb, self.rh, self.rm = residues(seed)

    def model_sql(self, side: str, engine: str) -> str:
        # DuckDB's direct DECIMAL -> DOUBLE cast can miss the correctly
        # rounded double by one ulp; the VARCHAR bridge matches Spark.
        spark = engine == "spark"
        return _MODEL_SQL.format(
            d0="CAST(" if spark else "CAST(CAST(",
            d1=" AS DOUBLE)" if spark else " AS VARCHAR) AS DOUBLE)",
            qty=(
                f"CASE WHEN l.l_orderkey % 7 = {self.rm} THEN l.l_quantity + 1 "
                "ELSE l.l_quantity END"
                if side == "head"
                else "l.l_quantity"
            ),
            drop=self.rb if side == "base" else self.rh,
        )

    def expect(self) -> None:
        con = duck(self.data_dir, self.tables)
        self.expected = expected_diff(
            con, self.model_sql("base", "duckdb"), self.model_sql("head", "duckdb"),
            self.keys, self.where, 20,
        )
        con.close()

    def build(self, spark) -> None:
        from dbt_model_diff_spark.plans.registry import ModelRegistry
        from dbt_model_diff_spark.sources.readers import read_table

        self.sources = {t: read_table(spark, str(self.data_dir), t) for t in self.tables}
        self.base_reg = ModelRegistry().sql(self.model, self.model_sql("base", "spark"))
        self.head_reg = ModelRegistry().sql(self.model, self.model_sql("head", "spark"))

    def op(self, spark):
        from dbt_model_diff_spark.operators import model_diff

        return model_diff.run_model_diff(
            spark, self.base_reg, self.head_reg, self.model,
            key_cols=self.keys, base_sources=self.sources, where=self.where, sample=20,
        )

    def check(self, result) -> bool:
        return diff_matches(result, self.expected)

    def sides(self, spark):
        """Both models as ``run_model_diff`` builds them, before the WHERE."""
        base = self.base_reg.build(spark, sources=self.sources)[self.model]
        head = self.head_reg.build(spark, sources=self.sources)[self.model]
        return base, head


class Catalog:
    """The 44 headliners at sf0.001: ``diff_full_orders`` plus 43 catalog
    queries, each collected to the driver so that the timed execution is
    also the checked one. Timed once each in every traced run, where a
    cold pass over larger tables would not fit the run's time limit."""

    tables = (
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    )
    data_dir = DATA / "sf0.001"

    def expect(self) -> None:
        # diff_full_orders is the catalog's fixed fixture: base drops
        # key % 10 == 9, head drops key % 10 == 0 and bumps key % 7 == 0
        flag = Flagship(0, fixture=(9, 0, 0))
        flag.data_dir = self.data_dir
        flag.expect()
        self.flag_expected = flag.expected
        self.con = duck(self.data_dir, self.tables)

    def query(self, spark, name: str):
        """One headliner as an op: the diff result, or (columns, rows)."""
        d = str(self.data_dir)
        if name == "diff_full_orders":
            from dbt_model_diff_spark.catalog import _orders_base, _orders_head
            from dbt_model_diff_spark.operators import diff

            return diff.diff_frames(
                _orders_base(spark, d), _orders_head(spark, d), key_cols=["o_orderkey"], sample=20
            )
        from dbt_model_diff_spark.catalog import QUERIES

        sdf = QUERIES[name](spark, d)
        return sdf.columns, [tuple(r) for r in sdf.collect()]

    def check(self, name: str, out) -> bool:
        from dbt_model_diff_spark.catalog import ORACLES

        if name == "diff_full_orders":
            return diff_matches(out, self.flag_expected)
        return oracle_matches(*out, self.con, ORACLES[name])

    def close(self) -> None:
        self.con.close()


WORKLOADS = {w.name: w for w in (Flagship, ModelDiff)}
