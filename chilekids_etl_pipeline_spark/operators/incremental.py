"""Incremental-ELT operators: hashing, change detection, upsert, audit.

Reference semantics:
- payload hashing + duplicate marking: main.py:174-213, src/utils.py:14-19
- changed-record detection (anti-join on payload_hash): src/transform.py:200-234
- keyed last-write-wins upsert: src/transform.py:240-346
- audit diff on hash change: alembic/versions/7a8b9c0d1e2f

Scale notes (100 TB):
- ``changed_records`` is one LEFT ANTI hash join per seen relation; only
  the hash column of each seen side is shuffled (projected before the join,
  so the exchange carries 16 bytes/row). On a real deployment staging would
  be bucketed by payload_hash, removing its shuffle entirely.
- ``upsert_latest`` is the shuffle-heavy core of a MERGE; expressed as a
  window dedup it does exactly one exchange on the key.
- No ``.collect()`` anywhere; everything stays a DataFrame.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def with_payload_hash(df: DataFrame, canonical: Column, out: str = "payload_hash") -> DataFrame:
    """md5 over a canonical (sorted-key, separator-free) JSON string."""
    return df.withColumn(out, F.md5(canonical))


def mark_content_duplicates(
    df: DataFrame, hash_col: str = "payload_hash", order_col: str = "event_id", out: str = "is_dup"
) -> DataFrame:
    """Flag every occurrence of a payload hash after the first.

    Mirrors the loader's seen_hashes duplicate warning (main.py:194-204)
    as a distributed window instead of a driver-side dict.
    """
    w = Window.partitionBy(hash_col).orderBy(order_col)
    return df.withColumn(out, F.row_number().over(w) > F.lit(1))


def changed_records(raw: DataFrame, *seen: DataFrame, hash_col: str = "payload_hash") -> DataFrame:
    """Rows in raw whose payload_hash is absent from every ``seen`` relation
    (new/changed).

    One LEFT ANTI join per relation == the reference's ``LEFT JOIN … WHERE
    s.hash IS NULL`` (src/transform.py:203-209). The seen side is not
    deduplicated: an anti join's result does not depend on duplicates
    there, and Spark does not optimize a ``distinct()`` away (it plans an
    aggregate and an exchange under the join).
    """
    for s in seen:
        raw = raw.join(s.select(hash_col), on=hash_col, how="left_anti")
    return raw


def upsert_latest(df: DataFrame, key_cols: list[str], version_cols: list[str]) -> DataFrame:
    """Last-write-wins upsert: keep the highest-version row per key."""
    w = Window.partitionBy(*key_cols).orderBy(*[F.col(c).desc() for c in version_cols])
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def audit_diff(
    old: DataFrame,
    new: DataFrame,
    key: str,
    hash_col: str = "payload_hash",
    payload_col: str = "payload",
    changed_by: str = "system",
) -> DataFrame:
    """Emit (record_id, old_value, new_value, changed_by) where hash changed."""
    o = old.select(F.col(key), F.col(hash_col).alias("__oh"), F.col(payload_col).alias("old_value"))
    n = new.select(F.col(key), F.col(hash_col).alias("__nh"), F.col(payload_col).alias("new_value"))
    return (
        o.join(n, on=key, how="inner")
        .filter(F.col("__oh") != F.col("__nh"))
        .select(
            F.col(key).alias("record_id"),
            "old_value",
            "new_value",
            F.lit(changed_by).alias("changed_by"),
        )
    )
