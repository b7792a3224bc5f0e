"""Scalar / projection / filter operators (SURVEY.md §2.2).

The reference expresses these three ways — SQL strings shipped to
Postgres, row-at-a-time pandas lambdas, and Jinja-templated predicates.
Here each is a vectorized Column expression: Catalyst fuses them into
one whole-stage-codegen'd pass, and filters/projections push down into
the parquet/JDBC scan (the reference does pushdown by hand by editing
its extract SQL — reference: mnt/dags/01fetch_from_database.py:52).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Material recipe, grams of each raw material per unit of product demand
# (reference: mnt/dags/02datalake_to_datawarehouse.py:65-67; README.md:72-82).
# cheap    → 20 g local_arabica
# medium   → 10 g local_arabica + 10 g foreign_arabica
# expensive→ 10 g foreign_arabica + 10 g robusta
MATERIAL_RECIPE: dict[str, dict[str, int]] = {
    "local_arabica": {"cheap": 20, "medium": 10},
    "foreign_arabica": {"medium": 10, "expensive": 10},
    "robusta": {"expensive": 10},
}
MATERIALS = tuple(MATERIAL_RECIPE)


def filter_date_range(df: DataFrame, col: str, lo: str, hi: str) -> DataFrame:
    """Half-open incremental window ``lo <= col < hi`` — the reference's
    ``date >= '{{ds}}' and date < '{{next_ds}}'`` predicate (reference:
    mnt/dags/01fetch_from_database.py:52). Pushed into the scan by
    Catalyst; at 100 TB this is the partition-pruning predicate."""
    return df.filter((F.col(col) >= F.lit(lo)) & (F.col(col) < F.lit(hi)))


def derive_material_grams(df: DataFrame, demand_col: str = "demand") -> DataFrame:
    """Product→material expansion as three vectorized CASE WHEN columns,
    replacing the reference's three row-at-a-time ``df.apply(..., axis=1)``
    lambdas (reference: mnt/dags/02datalake_to_datawarehouse.py:65-67).

    Emits one ``<material>_g`` column per raw material. Exact-arithmetic
    policy: multiply on DECIMAL(18,2) so downstream SUMs are
    order-independent and bit-identical across engines (SURVEY.md §5)."""
    demand = F.col(demand_col).cast("decimal(18,2)")
    out = df
    for material, recipe in MATERIAL_RECIPE.items():
        expr: Column = F.lit(None).cast("decimal(18,2)")
        cases = None
        for product, grams in recipe.items():
            cond = F.col("product_name") == product
            cases = (
                F.when(cond, demand * grams)
                if cases is None
                else cases.when(cond, demand * grams)
            )
        expr = cases.otherwise(F.lit(0).cast("decimal(18,2)"))
        out = out.withColumn(f"{material}_g", expr)
    return out


def arith_mul(df: DataFrame, col: str, factor: float, alias: str) -> DataFrame:
    """Multiply-by-literal (grams per unit — reference:
    mnt/dags/02datalake_to_datawarehouse.py:65-67)."""
    return df.withColumn(alias, F.col(col) * F.lit(factor))


def arith_div(df: DataFrame, col: str, divisor: float, alias: str) -> DataFrame:
    """Divide-by-literal (g→kg unit conversion — reference:
    mnt/dags/02datalake_to_datawarehouse.py:73)."""
    return df.withColumn(alias, F.col(col) / F.lit(divisor))


def drop_cols(df: DataFrame, *cols: str) -> DataFrame:
    """Drop columns after deriving replacements (reference:
    mnt/dags/02datalake_to_datawarehouse.py:74)."""
    return df.drop(*cols)


def in_list(df: DataFrame, col: str, values: Sequence[str]) -> DataFrame:
    """Membership predicate (reference:
    mnt/dags/02datalake_to_datawarehouse.py:66-67)."""
    return df.filter(F.col(col).isin(*values))


def tag_literal(df: DataFrame, value: str, alias: str) -> DataFrame:
    """Constant string column tagging rows by origin — the unpivot labels
    (reference: mnt/dags/unused_pipeline_sourcecode.py:70,77,84)."""
    return df.withColumn(alias, F.lit(value))
