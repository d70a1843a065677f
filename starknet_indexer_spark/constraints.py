"""Constraint validation: the PK / FK / NOT NULL surface Postgres
enforced for the reference, as audit queries.

The reference's schema declares primary keys on every event table,
``blocks`` and ``pool_keys``, and foreign keys from events to blocks
(src/dao.ts:96-360 CREATE TABLE statements). Parquet enforces none of
that, and at 100 TB you don't want write-path enforcement anyway — the
lakehouse pattern is *validation queries* run post-ingest / on a
cadence, alerting on violations instead of failing inserts.

Each check is a single aggregate or broadcast anti-join:

- ``duplicate_keys``: groupBy(key).count > 1 — one shuffle on the key.
- ``null_keys``: map-only null count.
- ``orphans``: left anti-join child -> parent; the parent side is a
  key projection (dimension-sized for blocks/pool_keys, so broadcast).

``summary`` composes any number of checks into ONE DataFrame of
(relation, constraint, violations) rows — all counts computed
distributed, unioned lazily, nothing collected.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def duplicate_keys(df: DataFrame, cols: list[str]) -> DataFrame:
    """Key tuples that appear more than once (PK/unique violation)."""
    return (
        df.groupBy(*cols)
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .filter(F.col("n_rows") > 1)
    )


def null_keys(df: DataFrame, cols: list[str]) -> DataFrame:
    """Rows with any NULL in the key columns (NOT NULL violation)."""
    cond = None
    for c in cols:
        n = F.col(c).isNull()
        cond = n if cond is None else (cond | n)
    return df.filter(cond)


def orphans(
    child: DataFrame,
    cols: list[str],
    parent: DataFrame,
    parent_cols: list[str],
    broadcast_parent: bool = True,
) -> DataFrame:
    """Child rows whose FK tuple has no parent (FK violation). NULL
    FKs are skipped, matching SQL FK semantics (MATCH SIMPLE)."""
    keys = parent.select(
        *[F.col(p).alias(c) for c, p in zip(cols, parent_cols)]
    ).dropDuplicates(cols)
    if broadcast_parent:
        keys = F.broadcast(keys)
    non_null = child
    for c in cols:
        non_null = non_null.filter(F.col(c).isNotNull())
    return non_null.join(keys, cols, "left_anti")


def _count_row(df: DataFrame, relation: str, constraint: str) -> DataFrame:
    return df.agg(
        F.lit(relation).alias("relation"),
        F.lit(constraint).alias("constraint_name"),
        F.count(F.lit(1)).alias("violations"),
    )


def summary(checks: list[tuple[str, str, DataFrame]]) -> DataFrame:
    """(relation, constraint_name, violating-rows DataFrame) triples ->
    one (relation, constraint_name, violations) DataFrame."""
    if not checks:
        raise ValueError("summary() needs at least one check")
    out = _count_row(checks[0][2], checks[0][0], checks[0][1])
    for relation, constraint, df in checks[1:]:
        out = out.unionByName(_count_row(df, relation, constraint))
    return out


# ---------------------------------------------------------------------------
# Stored-table constraint sets (the reference's schema, src/dao.ts:96-360)
# ---------------------------------------------------------------------------

# table -> (pk columns, [(fk cols, parent table, parent cols), ...]).
# Event tables share the envelope PK event_id and the FK to blocks;
# pool-keyed facts also reference the pool_keys dimension.
EVENT_TABLE_FKS = [
    (["block_number"], "blocks", ["number"]),
]
POOL_KEYED_FKS = EVENT_TABLE_FKS + [
    (["pool_key_hash"], "pool_keys", ["key_hash"]),
]

STORED_CONSTRAINTS: dict[str, tuple[list[str], list]] = {
    "blocks": (["number"], []),
    "pool_keys": (["key_hash"], []),
    "swaps": (["event_id"], POOL_KEYED_FKS),
    "position_updates": (["event_id"], POOL_KEYED_FKS),
    "position_fees_collected": (["event_id"], POOL_KEYED_FKS),
    "pool_initializations": (["event_id"], POOL_KEYED_FKS),
    "staker_staked": (["event_id"], EVENT_TABLE_FKS),
    "staker_withdrawn": (["event_id"], EVENT_TABLE_FKS),
}


def validate_stored(tables: dict[str, DataFrame]) -> DataFrame:
    """Run the reference-schema constraint set over whichever stored
    tables are present; returns the ``summary`` DataFrame: per table
    ``pk_<key>`` (duplicate key classes) and ``notnull_<key>``, plus
    one ``fk_<cols>`` row per edge whose parent is present. An empty
    table reports 0 for every check. Raises ``ValueError`` when no
    known stored table is present."""
    checks = []
    for table, (pk, fks) in STORED_CONSTRAINTS.items():
        df = tables.get(table)
        if df is None:
            continue
        key = "_".join(pk)
        checks.append((table, f"pk_{key}", duplicate_keys(df, pk)))
        checks.append((table, f"notnull_{key}", null_keys(df, pk)))
        for cols, parent, pcols in fks:
            if parent in tables:
                checks.append(
                    (
                        table,
                        f"fk_{'_'.join(cols)}",
                        orphans(df, cols, tables[parent], pcols),
                    )
                )
    if not checks:
        raise ValueError(
            f"no stored tables present: expected any of {sorted(STORED_CONSTRAINTS)}"
        )
    return summary(checks)
