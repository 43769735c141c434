"""Merge/load semantics as DataFrame algebra (reference K1-K12, SURVEY §2.2).

The reference implements upsert as row-wise INSERT-with-retry-as-UPDATE
(reference Wrap/DB.pm:389-401), update-then-insert (Wrap/DB.pm:355-383),
delete-before-insert (Wrap/DB.pm:337-347) and partial-row "incremental"
updates (Wrap/DB.pm:317-329) — all single-row literal SQL.  Here every one
of them is a set-level relational rewrite that Catalyst can optimize and
that commits atomically on write:

    upsert(target, updates, keys)      ≡ MERGE WHEN MATCHED UPDATE
                                               WHEN NOT MATCHED INSERT
    delete_before_insert(t, repl, sel) ≡ DELETE WHERE sel; INSERT repl
    delete_keys(target, keys_df)       ≡ MERGE WHEN MATCHED DELETE
    update_keys(target, updates, keys) ≡ MERGE WHEN MATCHED UPDATE

All are pure transformations: the caller materializes the result with a
single atomic write (parquet/Delta overwrite, or JDBC staging + MERGE),
which is the Spark-era equivalent of the reference's transaction bracket
(Wrap/DB.pm:38-68).  At scale, `updates` is usually far smaller than
`target`; these plans shuffle both sides only on the merge keys and AQE
will broadcast the small side automatically.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def upsert(target: DataFrame, updates: DataFrame, keys: Sequence[str]) -> DataFrame:
    """MERGE: rows of `updates` replace matching `target` rows, else insert.

    If `updates` carries duplicate keys, the caller should pre-dedupe
    (the reference's ignoreDuplicateErrs, Wrap/DB.pm:403-411, maps to
    dropDuplicates on the keys).
    """
    kept = target.join(updates.select(*keys), on=list(keys), how="left_anti")
    return kept.unionByName(updates.select(*target.columns))


def update_before_insert(target: DataFrame, updates: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Reference's doUpdateBeforeInsert (Wrap/DB.pm:355-383).

    Relationally identical to upsert — MERGE covers both statement orders —
    kept as a named alias for API parity.
    """
    return upsert(target, updates, keys)


def delete_before_insert(target: DataFrame, replacement: DataFrame, selector: Column) -> DataFrame:
    """Delete target rows matching `selector`, then append `replacement`.

    Reference fills the selector from the first data row once per distinct
    selector (Wrap/DB.pm:337-347); the Spark-idiomatic form is partition
    overwrite (`replaceWhere`) — this transformation is its logical plan.
    """
    return target.where(~F.coalesce(selector, F.lit(False))).unionByName(
        replacement.select(*target.columns)
    )


def delete_keys(target: DataFrame, delete_df: DataFrame, keys: Sequence[str]) -> DataFrame:
    """deleteFromDB (Wrap/DB.pm:423-450): anti-join on the key set."""
    return target.join(delete_df.select(*keys).dropDuplicates(), on=list(keys), how="left_anti")


def update_keys(
    target: DataFrame,
    updates: DataFrame,
    keys: Sequence[str],
    incremental: bool = False,
) -> DataFrame:
    """updateInDB (Wrap/DB.pm:453-508): keyed UPDATE of non-key columns.

    With incremental=True, NULL values in `updates` leave the target value
    unchanged — the reference's incrementalStore partial-row semantics
    (Wrap/DB.pm:317-329) — via per-column coalesce(update, existing).
    """
    value_cols = [c for c in target.columns if c not in keys]
    upd = updates.select(
        *keys,
        F.lit(True).alias("__matched"),
        *[F.col(c).alias(f"__u_{c}") for c in value_cols if c in updates.columns],
    )
    joined = target.join(upd, on=list(keys), how="left")
    matched = F.coalesce(F.col("__matched"), F.lit(False))
    out_cols: list[Column] = [F.col(k) for k in keys]
    for c in value_cols:
        u = f"__u_{c}"
        if u not in joined.columns:
            out_cols.append(F.col(c))
        elif incremental:
            out_cols.append(F.coalesce(F.col(u), F.col(c)).alias(c))
        else:
            # matched rows take the update value EVEN when it is NULL
            # (a null-update is a real update in the reference's UPDATE
            # statement); only unmatched rows keep the target value
            out_cols.append(F.when(matched, F.col(u)).otherwise(F.col(c)).alias(c))
    return joined.select(*out_cols)


def append_with_constant(df: DataFrame, name: str, value) -> DataFrame:
    """addID constant column (reference Wrap/DB.pm:200-206)."""
    return df.withColumn(name, F.lit(value))


def drop_identity(df: DataFrame, identity_cols: Sequence[str]) -> DataFrame:
    """Identity-column exclusion before insert (Wrap/DB.pm:209-217)."""
    return df.drop(*[c for c in identity_cols if c in df.columns])


def dedupe_for_load(df: DataFrame, keys: Sequence[str]) -> DataFrame:
    """ignoreDuplicateErrs (Wrap/DB.pm:403-411) → keep one row per key."""
    return df.dropDuplicates(list(keys))


def snapshot_diff(
    old: DataFrame, new: DataFrame, keys: Sequence[str], compare: Sequence[str] | None = None
) -> DataFrame:
    """CDC-style diff of two table states → all rows with a
    ``change_type`` column ('insert' | 'update' | 'delete'); unchanged
    rows are omitted.

    The change feed a backfill validator or an incremental downstream
    consumes when the source can't emit one itself. One full outer join
    on the keys (the unavoidable shuffle — both sides co-partition on
    the same keys, so AQE coalesces; at scale, bucket both snapshots on
    the keys to eliminate it). Column payload comes from `new` for
    insert/update and `old` for delete; `compare` limits which columns
    define "changed" (default: all non-key columns present on both
    sides). Comparison is null-safe (<=> semantics)."""
    common = [c for c in new.columns if c in set(old.columns)]
    payload = [c for c in common if c not in set(keys)]
    cmp_cols = list(compare) if compare is not None else payload
    o = old.select(*[F.col(c).alias(f"__o_{c}") for c in common])
    n = new.select(*common)
    cond = None
    for k in keys:
        c = n[k].eqNullSafe(F.col(f"__o_{k}"))
        cond = c if cond is None else cond & c
    j = n.join(o, cond, "full_outer")
    new_present = None
    for k in keys:
        c = n[k].isNotNull()
        new_present = c if new_present is None else new_present | c
    old_present = None
    for k in keys:
        c = F.col(f"__o_{k}").isNotNull()
        old_present = c if old_present is None else old_present | c
    changed = F.lit(False)
    for c in cmp_cols:
        changed = changed | ~F.col(c).eqNullSafe(F.col(f"__o_{c}"))
    change = (
        F.when(new_present & ~old_present, F.lit("insert"))
        .when(old_present & ~new_present, F.lit("delete"))
        .when(changed, F.lit("update"))
    )
    out_cols = [
        F.coalesce(n[c], F.col(f"__o_{c}")).alias(c) if c in set(keys)
        else F.when(new_present, n[c]).otherwise(F.col(f"__o_{c}")).alias(c)
        for c in common
    ]
    return j.select(*out_cols, change.alias("change_type")).where(F.col("change_type").isNotNull())


def scd2_apply(
    dim: DataFrame,
    updates: DataFrame,
    keys: Sequence[str],
    compare: Sequence[str],
    effective: str,
    valid_from: str = "valid_from",
    valid_to: str = "valid_to",
    is_current: str = "is_current",
) -> DataFrame:
    """Slowly-changing-dimension type 2 maintenance: apply a batch of
    source rows (effective at column ``effective``) to a versioned
    dimension, closing changed current rows and opening new versions.

    ``dim`` carries (keys..., compare..., valid_from, valid_to,
    is_current) with open rows marked ``valid_to IS NULL / is_current``.
    For each update row:

    - key unseen            → new open row (insert);
    - current row differs   → close it (valid_to = effective,
                              is_current = false) and open the new
                              version at ``effective``;
    - current row identical → no-op (no spurious versioning).

    History rows (is_current = false) pass through untouched. One key
    shuffle: the current slice joins the (pre-deduped) update batch on
    the keys; comparison is null-safe. The batch must carry ONE row per
    key (callers dedupe to the latest effective — ``dedupe_for_load``
    plus a max-effective filter); intra-batch multi-versioning is a
    foreachBatch loop, not one call. At 100 TB partition the dimension
    by is_current so the closed history never rescans.
    """
    history = dim.where(~F.col(is_current))
    current = dim.where(F.col(is_current))

    upd_cols = list(keys) + list(compare) + [effective]
    u = updates.select(*[F.col(c).alias(f"__u_{c}") for c in upd_cols])
    cond = None
    for k in keys:
        c = F.col(k).eqNullSafe(F.col(f"__u_{k}"))
        cond = c if cond is None else cond & c
    j = current.join(u, cond, "full_outer")

    matched = F.col(f"__u_{keys[0]}").isNotNull() & F.col(keys[0]).isNotNull()
    changed = F.lit(False)
    for c in compare:
        changed = changed | ~F.col(c).eqNullSafe(F.col(f"__u_{c}"))

    # surviving current rows: unmatched old rows + matched-unchanged
    keep_current = j.where(F.col(f"__u_{keys[0]}").isNull() | (matched & ~changed)).select(
        *dim.columns
    )
    # closed versions of matched-changed current rows
    closed = (
        j.where(matched & changed)
        .select(
            *[F.col(c) for c in keys],
            *[F.col(c) for c in compare],
            F.col(valid_from),
            F.col(f"__u_{effective}").alias(valid_to),
            F.lit(False).alias(is_current),
        )
        .select(*dim.columns)
    )
    # newly opened versions: changed keys + brand-new keys
    opened = (
        j.where((matched & changed) | F.col(keys[0]).isNull())
        .select(
            *[F.col(f"__u_{k}").alias(k) for k in keys],
            *[F.col(f"__u_{c}").alias(c) for c in compare],
            F.col(f"__u_{effective}").alias(valid_from),
            F.lit(None).cast(dim.schema[valid_to].dataType).alias(valid_to),
            F.lit(True).alias(is_current),
        )
        .select(*dim.columns)
    )
    return history.unionByName(keep_current).unionByName(closed).unionByName(opened)
