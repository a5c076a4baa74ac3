"""Mutation operators as pure DataFrame rewrites — SURVEY.md §2.2 T7-T10.

The reference's engines do these server-side (pg ``ON CONFLICT DO UPDATE``
``postgres.py:262-276``; mongo bulk ``ReplaceOne(upsert=True)``
``mongodb.py:216-227``; delete ``WHERE id = ANY(...)`` ``postgres.py:283-294``;
point lookups ``base.py:233-253``). On Spark the same semantics are set
algebra over DataFrames; ``CollectionEngine`` applies them to Parquet tables
(Delta MERGE being the transactional upgrade path at scale).

Scale notes: upsert shuffles on id once (the anti-join); with both sides
bucketed by id the join is shuffle-free. Point lookups broadcast the id set
(left-semi) so the big table never shuffles.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def upsert(existing: DataFrame, updates: DataFrame, id_col: str = "id") -> DataFrame:
    """MERGE semantics: rows in ``updates`` replace same-id rows, others kept.

    Equivalent of pg ``INSERT ... ON CONFLICT (id) DO UPDATE``."""
    kept = existing.join(F.broadcast(updates.select(id_col)).hint("broadcast"), id_col, "left_anti")
    return kept.unionByName(updates.select(*existing.columns))


def delete_by_ids(df: DataFrame, ids: DataFrame | Sequence, id_col: str = "id") -> DataFrame:
    """Anti-join delete (pg ``DELETE WHERE id = ANY(%s)``)."""
    ids_df = _ids_df(df, ids, id_col)
    return df.join(F.broadcast(ids_df), id_col, "left_anti")


def get_by_ids(
    df: DataFrame, ids: DataFrame | Sequence, id_col: str = "id", include: Sequence[str] | None = None
) -> DataFrame:
    """Point lookup by id set with optional projection (``include``)."""
    ids_df = _ids_df(df, ids, id_col)
    out = df.join(F.broadcast(ids_df), id_col, "left_semi")
    if include:
        out = out.select(id_col, *[c for c in include if c != id_col])
    return out


def _ids_df(df: DataFrame, ids, id_col: str) -> DataFrame:
    if isinstance(ids, DataFrame):
        return ids.select(F.col(ids.columns[0]).alias(id_col))
    dtype = dict(df.dtypes)[id_col]
    return df.sparkSession.createDataFrame([(i,) for i in ids], f"{id_col} {dtype}")
