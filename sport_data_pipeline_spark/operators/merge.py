"""Upsert / MERGE semantics as library operators.

Every reference sink is an ``INSERT ... ON CONFLICT DO UPDATE``
(src/database/manager.py:122-151, src/database/services/*.py). Without a
transactional table format, the scalable rewrite is: union existing and
incoming rows, then keep the latest row per business key — one shuffle on
the key. ``merge_coalesce`` adds the reference's per-column COALESCE
partial-update behavior (fbref_match_scraper.py:622-626: only overwrite
when the new value is non-null).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession, Window, functions as F

from ..checkpointing import stage_checkpoint
from ..sources.sinks import read_parquet_if_exists
from .windows import latest_per_key


def merge_latest(
    df: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[Column | str],
) -> DataFrame:
    """Deduplicate to the latest row per business key (W7).

    This is the idempotency primitive: re-running an ingest and merging
    again yields the same table.
    """
    return latest_per_key(df, keys, order_by)


def upsert(
    existing: DataFrame,
    updates: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[Column | str],
) -> DataFrame:
    """UNION + latest-wins merge — the ON CONFLICT DO UPDATE rewrite (S10).

    ``order_by`` must rank update rows above existing rows (e.g. a
    ``scraped_at`` audit column, reference database/schema.sql:833-835).
    """
    return merge_latest(existing.unionByName(updates, allowMissingColumns=True), keys, order_by)


def upsert_parquet(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[Column | str],
) -> DataFrame:
    """``upsert`` ``updates`` into the parquet table at ``path`` and
    rewrite it in place (created on the first call); returns the merged
    table, lineage-cut.

    The write path of both the daily silver merge and the streaming
    upsert sink. ``stage_checkpoint`` severs the merged frame from the
    files it read, which is what lets the overwrite target the same path.
    """
    existing = read_parquet_if_exists(spark, path)
    merged = (
        upsert(existing, updates, keys, order_by)
        if existing is not None
        else merge_latest(updates, keys, order_by)
    )
    out = stage_checkpoint(merged)
    out.write.mode("overwrite").parquet(path)
    return out


def merge_coalesce(
    existing: DataFrame,
    updates: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[Column | str],
) -> DataFrame:
    """Per-column COALESCE merge: latest non-null value wins per column.

    Mirrors the reference's partial-update sinks
    (``COALESCE(%s, venue_id)`` — only overwrite with non-null). One
    shuffle; per column a ``last(col, ignorenulls=True)`` over the
    key-partitioned, time-ordered window (U4 "latest wins" field merge).
    """
    keys = list(keys)
    unioned = existing.unionByName(updates, allowMissingColumns=True)
    asc = [F.col(c) if isinstance(c, str) else c for c in order_by]
    w = (
        Window.partitionBy(*keys)
        .orderBy(*asc)
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    value_cols = [c for c in unioned.columns if c not in keys]
    merged = unioned.select(
        *keys,
        *[F.last(c, ignorenulls=True).over(w).alias(c) for c in value_cols],
    )
    return merged.dropDuplicates(keys)


def scd2_intervals(
    df: DataFrame,
    key: Sequence[str],
    ts_col: str,
    valid_from: str = "valid_from",
    valid_to: str = "valid_to",
    is_current: str = "is_current",
    tiebreak: Sequence[str] = (),
) -> DataFrame:
    """Build SCD2 validity intervals from a change stream (reference:
    club_name_history / venue_name_history, database/schema.sql:182-191,
    237-244 — valid_from/valid_to with generated is_current).

    Each change row opens an interval at its timestamp and closes at the
    next change for the same key (NULL = still current). ``tiebreak``
    columns order same-timestamp changes deterministically: earlier ones
    collapse to zero-length intervals [t, t) that no fact can match, so
    the last change at a timestamp wins — the same latest-wins rule as
    ``merge_latest``.
    """
    w = Window.partitionBy(*key).orderBy(F.col(ts_col), *[F.col(c) for c in tiebreak])
    return (
        df.withColumn(valid_from, F.col(ts_col))
        .withColumn(valid_to, F.lead(ts_col).over(w))
        .withColumn(is_current, F.col(valid_to).isNull())
    )


def table_diff(
    old: DataFrame,
    new: DataFrame,
    keys: Sequence[str],
    compare: Sequence[str] | None = None,
) -> DataFrame:
    """Change-data-capture diff between two versions of a keyed table.

    Returns one row per key present in either version, tagged
    ``change ∈ {inserted, deleted, updated, unchanged}`` with both sides'
    compared values as structs (``old_row`` / ``new_row``, NULL on the
    missing side). ``compare`` defaults to all non-key columns shared by
    both frames.

    This is the audit/debug companion to ``upsert``: applied after a merge
    it answers "what did this batch actually change" — the reference logs
    this per-row from its ON CONFLICT sinks; here it is one declarative
    full-outer equi-join on the key (single shuffle per side, AQE-skew
    eligible), with the value comparison as a null-safe struct equality —
    no row-by-row Python, no second pass.
    """
    keys = list(keys)
    if compare is None:
        shared = [c for c in old.columns if c in set(new.columns)]
        compare = [c for c in shared if c not in keys]
    o = old.select(*keys, F.struct(*[F.col(c) for c in compare]).alias("old_row"))
    n = new.select(*keys, F.struct(*[F.col(c) for c in compare]).alias("new_row"))
    j = o.join(n, keys, "full_outer")
    change = (
        F.when(F.col("old_row").isNull(), F.lit("inserted"))
        .when(F.col("new_row").isNull(), F.lit("deleted"))
        .when(F.col("old_row").eqNullSafe(F.col("new_row")), F.lit("unchanged"))
        .otherwise(F.lit("updated"))
    )
    return j.select(*keys, change.alias("change"), "old_row", "new_row")
