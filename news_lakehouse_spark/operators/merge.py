"""MERGE / upsert semantics without a lakehouse jar.

Reference parity (SURVEY §2.1 S8-S10): Iceberg `MERGE INTO` in three
flavors — update+insert (silver entity/fact tables,
gcs_bronze_to_silver.py:457-475), insert-only (link tables, :476-490),
and column-explicit gold merges (gcs_silver_to_gold.py:373-824).

Plain Spark-on-parquet has no MERGE, so we express the same semantics
relationally:

  upsert(target, source, keys)  =  source ∪ (target ⟕̸ source)
                                 =  source.unionByName(target.join(source, keys, 'left_anti'))

i.e. every source row wins (the UPDATE SET * branch), target rows
without a source match survive, and new source keys are inserts. The
insert-only flavor is the dual: target ∪ (source anti target).

The MERGE_CARDINALITY_VIOLATION guard the reference implements with
dropna+dropDuplicates before every merge (b2s:426-446) is enforced here
by deduping the source on the merge keys first.

Scale notes: the anti join shuffles both sides on the merge keys — at
100 TB this is the dominant cost, so `upsert_parquet_table` restricts
the rewrite to affected partitions (dynamic partition overwrite) when a
partition column is declared; with small deltas Catalyst broadcasts the
source side of the anti join automatically.

Backend probe (re-checked every round): neither the `delta-spark`
package nor any Delta/Iceberg runtime jar exists in this environment
(no pip/ivy/maven access), so an ACID `DeltaTable.merge` /
`MERGE INTO` backend cannot be wired here. What the parquet emulation
consequently lacks vs the reference's Iceberg tables: concurrent-writer
snapshot isolation, time travel, and metadata-level schema evolution.
On a cluster with delta-spark installed, `upsert_parquet_table` is the
single seam to swap: same (target, source, keys, partition_by)
signature as `DeltaTable.merge(...).whenMatchedUpdateAll()
.whenNotMatchedInsertAll()`.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from news_lakehouse_spark.materialize import cut


def _guard_source(source: DataFrame, keys: list[str], order_by: list[Column] | None) -> DataFrame:
    """Key-completeness + cardinality guard (reference b2s:426-446)."""
    guarded = source.dropna(subset=keys)
    if order_by:
        from news_lakehouse_spark.operators.windows import dedupe_latest

        return dedupe_latest(guarded, keys, order_by)
    return guarded.dropDuplicates(keys)


MAX_PARTITION_OR_CHAIN = 1000


def filter_to_partitions(
    target: DataFrame,
    parts: list[dict],
    partition_by: list[str],
    max_or_chain: int = MAX_PARTITION_OR_CHAIN,
) -> DataFrame:
    """Restrict ``target`` to rows whose partition tuple is in ``parts``
    (null-safe on every column).

    Up to ``max_or_chain`` partitions this compiles a literal OR-chain
    predicate — the form Catalyst pushes into partition pruning. Past
    it (a high-cardinality partition scheme: thousands of dates ×
    sources), a literal predicate bloats the plan tree and analysis
    time quadratically, so we switch to a broadcast left-semi join on
    the partition columns: same rows, one broadcast of a tiny
    partition-tuple table, and eligible for dynamic partition pruning
    instead of static.
    """
    if not parts:
        return target.limit(0)
    if len(parts) <= max_or_chain:
        cond = None
        for p in parts:
            c = None
            for k in partition_by:
                e = F.col(k).eqNullSafe(F.lit(p[k]))
                c = e if c is None else (c & e)
            cond = c if cond is None else (cond | c)
        return target.filter(cond)
    spark = target.sparkSession
    schema = target.select(*partition_by).schema
    parts_df = spark.createDataFrame(
        [tuple(p[c] for c in partition_by) for p in parts], schema
    )
    join_cond = None
    for c in partition_by:
        e = target[c].eqNullSafe(parts_df[c])
        join_cond = e if join_cond is None else (join_cond & e)
    return target.join(F.broadcast(parts_df), join_cond, "left_semi")


def _check_add_column_only(target: DataFrame, source: DataFrame) -> None:
    """Schema evolution is add-column ONLY: every target column must be
    present in the source. unionByName(allowMissingColumns=True) would
    otherwise forgive a source missing a target column (typo / rename)
    by silently null-filling it on every matched row — data loss on
    update once the result is materialized."""
    missing = [c for c in target.columns if c not in set(source.columns)]
    if missing:
        raise ValueError(
            "evolve_schema=True only ADDS source columns; the source is "
            f"missing target column(s) {missing} — a merge would "
            "null-fill them on every updated row. Rename/restore the "
            "columns or drop them from the target explicitly."
        )


def merge_upsert(
    target: DataFrame,
    source: DataFrame,
    keys: list[str],
    order_by: list[Column] | None = None,
    evolve_schema: bool = False,
) -> DataFrame:
    """MERGE ... WHEN MATCHED UPDATE SET * WHEN NOT MATCHED INSERT * (S8).

    ``evolve_schema``: columns new in the source are ADDED to the
    result (existing rows null-filled) instead of dropped — the
    add-column half of Iceberg schema evolution. Off by default so a
    malformed source cannot silently widen a table.
    """
    if evolve_schema:
        _check_add_column_only(target, source)
        src = _guard_source(source, keys, order_by)
        untouched = target.join(src.select(*keys), on=keys, how="left_anti")
        return src.unionByName(untouched, allowMissingColumns=True)
    src = _guard_source(source.select(*target.columns), keys, order_by)
    untouched = target.join(src.select(*keys), on=keys, how="left_anti")
    return src.unionByName(untouched)


def merge_insert_only(
    target: DataFrame,
    source: DataFrame,
    keys: list[str],
    evolve_schema: bool = False,
) -> DataFrame:
    """MERGE ... WHEN NOT MATCHED INSERT * — link-table flavor (S9)."""
    if evolve_schema:
        _check_add_column_only(target, source)
        src = _guard_source(source, keys, None)
        new_rows = src.join(target.select(*keys), on=keys, how="left_anti")
        return target.unionByName(new_rows, allowMissingColumns=True)
    src = _guard_source(source.select(*target.columns), keys, None)
    new_rows = src.join(target.select(*keys), on=keys, how="left_anti")
    return target.unionByName(new_rows)


def delete_rows(
    spark: SparkSession,
    path: str,
    keys: list[str],
    delete_keys: DataFrame,
    partition_by: list[str] | None = None,
) -> int:
    """MERGE ... WHEN MATCHED DELETE — keyed hard delete from a parquet
    table (the right-to-be-forgotten primitive a training-data store
    needs; Iceberg expresses it as a MERGE delete branch).

    Rewrites only the partitions that contain matching keys when
    ``partition_by`` is set — the delete set broadcasts to locate them,
    the rest of the table is untouched. Returns the number of rows
    removed. Idempotent: re-deleting the same keys removes 0 rows.
    """
    if not path_exists(spark, path):
        return 0
    target = spark.read.option("mergeSchema", "true").parquet(path)
    dk = delete_keys.select(*keys).distinct()

    if partition_by:
        hit_parts = (
            target.join(F.broadcast(dk), on=keys, how="left_semi")
            .select(*partition_by)
            .distinct()
        )
        parts = [r.asDict() for r in hit_parts.collect()]
        if not parts:
            return 0
        affected = filter_to_partitions(target, parts, partition_by)
        kept = affected.join(F.broadcast(dk), on=keys, how="left_anti")
        removed = affected.count() - kept.count()
        _overwrite_in_place(kept, path, partition_by, parts)
        return removed

    kept = target.join(F.broadcast(dk), on=keys, how="left_anti")
    removed = target.count() - kept.count()
    if removed == 0:
        # no-op delete must not rewrite (and risk) the whole table
        return 0
    _overwrite_in_place(kept, path)
    return removed


def scd2_merge(
    target: DataFrame,
    source: DataFrame,
    keys: list[str],
    attrs: list[str],
    effective_col: str,
    valid_from_col: str = "valid_from",
    valid_to_col: str = "valid_to",
    current_col: str = "is_current",
) -> DataFrame:
    """Slowly-changing-dimension type-2 merge (extension; absent in the
    reference, whose gold dims are overwrite-style MERGEs —
    gcs_silver_to_gold.py:373-541).

    ``target`` is versioned: ``keys + attrs + valid_from + valid_to +
    is_current``. ``source`` is a change batch: ``keys + attrs +
    effective_col``. For each key, if any attribute differs from the
    current version (null-safe), the current row is closed
    (``valid_to = effective``, ``is_current = false``) and a new open
    version is inserted; unchanged matches and unmatched target rows
    pass through; unseen keys insert a first version. History rows
    (``is_current = false``) never rejoin — they union straight through.

    Join shape chosen for 100 TB: a *left-outer* join (current slice ⟕
    change batch) plus a *left-anti* probe for unseen keys — never a
    full-outer, which Spark cannot broadcast (it would force a
    sort-merge join shuffling the full dimension). With a small change
    batch both joins broadcast the batch and the current slice streams
    through map-side with zero shuffle; both output rows of a changed
    key come from `inline`-ing a per-row struct array, so the joined
    plan is traversed once.
    """
    cur = target.filter(F.col(current_col))
    hist = target.filter(~F.col(current_col))
    src = _guard_source(
        source.select(*keys, *attrs, effective_col),
        keys,
        [F.col(effective_col).desc()],
    )

    out_cols = [*keys, *attrs, valid_from_col, valid_to_col, current_col]
    vf_type = dict(cur.dtypes)[valid_from_col]
    vt_type = dict(cur.dtypes)[valid_to_col]

    j = cur.alias("t").join(src.alias("s"), on=keys, how="left")
    s_exists = F.col(f"s.{effective_col}").isNotNull()
    attr_diff = ~F.lit(True)
    for a in attrs:
        attr_diff = attr_diff | ~F.col(f"t.{a}").eqNullSafe(F.col(f"s.{a}"))
    changed = s_exists & attr_diff

    old_row = F.struct(
        *[F.col(f"t.{a}").alias(a) for a in attrs],
        F.col(f"t.{valid_from_col}").alias(valid_from_col),
        F.when(changed, F.col(f"s.{effective_col}").cast(vt_type))
        .otherwise(F.col(f"t.{valid_to_col}"))
        .alias(valid_to_col),
        (~changed).alias(current_col),
    )
    new_row = F.struct(
        *[F.col(f"s.{a}").alias(a) for a in attrs],
        F.col(f"s.{effective_col}").cast(vf_type).alias(valid_from_col),
        F.lit(None).cast(vt_type).alias(valid_to_col),
        F.lit(True).alias(current_col),
    )
    existing = j.select(
        *keys, F.inline(F.when(changed, F.array(old_row, new_row)).otherwise(F.array(old_row)))
    )

    first_version = src.join(cur.select(*keys), on=keys, how="left_anti").select(
        *keys,
        *attrs,
        F.col(effective_col).cast(vf_type).alias(valid_from_col),
        F.lit(None).cast(vt_type).alias(valid_to_col),
        F.lit(True).alias(current_col),
    )
    return (
        hist.select(*out_cols)
        .unionByName(existing.select(*out_cols))
        .unionByName(first_version)
    )


def path_exists(spark: SparkSession, path: str) -> bool:
    """Hadoop-FS existence probe (works on HDFS / object stores).

    Used instead of try/except around spark.read: a bare except would
    treat ANY read failure (corrupt footer, transient FS error) as
    "table does not exist" and overwrite good data with a delta."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return bool(fs.exists(jpath))


def _delete_partition_dirs(
    spark: SparkSession,
    path: str,
    partition_by: list[str],
    parts: list[dict],
) -> None:
    """Remove partition directories emptied by an upsert (keys moved out).

    Uses the Hadoop FileSystem API so the same code path works on HDFS /
    object stores, and Spark's own path-name escaping so values with
    special characters resolve to the directory Spark wrote.
    """
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    try:
        esc = jvm.org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName
    except Exception:  # pragma: no cover - fallback for API drift
        esc = lambda s: s  # noqa: E731
    for p in parts:
        # Spark writes NULL partition values to __HIVE_DEFAULT_PARTITION__,
        # not str(None) — match it or the emptied dir survives deletion
        suffix = "/".join(
            f"{c}={'__HIVE_DEFAULT_PARTITION__' if p[c] is None else esc(str(p[c]))}"
            for c in partition_by
        )
        jpath = jvm.org.apache.hadoop.fs.Path(f"{path}/{suffix}")
        fs = jpath.getFileSystem(hconf)
        if fs.exists(jpath):
            fs.delete(jpath, True)


def _overwrite_in_place(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    parts: list[dict] | None = None,
) -> None:
    """Overwrite the parquet table at ``path`` with ``df``, which may
    read ``path`` itself.

    ``df`` is cut first (see :mod:`news_lakehouse_spark.materialize`):
    parquet cannot overwrite the files it is reading, and once the
    overwrite starts the rows can no longer be recomputed from them.
    Without ``parts`` the whole table is replaced. With ``parts`` (the
    partitions ``df`` was derived from) the write is a dynamic
    partition overwrite, which only replaces partitions present in the
    output — so each of ``parts`` that ``df`` no longer holds (every
    key moved or deleted out) keeps its stale files, and its directory
    is dropped explicitly. The staging is released only after the
    write and that check are done."""
    staged, release = cut(df)
    try:
        writer = staged.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        if parts is None:
            writer.parquet(path)
            return
        writer.option("partitionOverwriteMode", "dynamic").parquet(path)
        written = {
            tuple(r.asDict()[c] for c in partition_by)
            for r in staged.select(*partition_by).distinct().collect()
        }
        emptied = [p for p in parts if tuple(p[c] for c in partition_by) not in written]
        if emptied:
            _delete_partition_dirs(staged.sparkSession, path, partition_by, emptied)
    finally:
        release()


def upsert_parquet_table(
    spark: SparkSession,
    source: DataFrame,
    path: str,
    keys: list[str],
    partition_by: list[str] | None = None,
    insert_only: bool = False,
    order_by: list[Column] | None = None,
    evolve_schema: bool = False,
) -> None:
    """Materialized upsert into a parquet table directory.

    First write creates the table. Subsequent writes read the current
    snapshot, apply merge semantics, and rewrite — only the partitions
    containing affected keys when ``partition_by`` is set (the
    dynamic-partition-overwrite analog of an Iceberg copy-on-write
    MERGE commit).

    ``evolve_schema`` adds source-only columns to the table (the
    add-column half of Iceberg schema evolution; existing rows read
    back null). For partitioned tables only affected partitions are
    rewritten with the widened schema — reads then need parquet
    ``mergeSchema`` (this function always reads with it).
    """
    exists = path_exists(spark, path)
    if exists:
        target = spark.read.option("mergeSchema", "true").parquet(path)

    if not exists:
        merged = _guard_source(source, keys, order_by)
        writer = merged.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(path)
        return

    if partition_by:
        # Affected partitions = partitions the source writes into UNION
        # partitions where the source's merge keys currently live in the
        # target. The second set matters when an update moves a key to a
        # different partition: the old row must be anti-joined away and
        # its (now smaller) partition rewritten, or the key would exist
        # twice across partitions — Iceberg MERGE has no such gap, so
        # neither do we. Both collects are bounded by partition count
        # (dates), never row count.
        src_keys = source.dropna(subset=keys).select(*keys).distinct()
        # one distinct over the union (not per side + union again):
        # same set, two fewer aggregation stages per merge
        new_parts = source.select(*partition_by)
        old_parts = target.join(
            F.broadcast(src_keys), on=keys, how="left_semi"
        ).select(*partition_by)
        parts = [
            r.asDict()
            for r in new_parts.unionByName(old_parts).distinct().collect()
        ]
        affected_target = filter_to_partitions(target, parts, partition_by)
        merged = (
            merge_insert_only(affected_target, source, keys, evolve_schema=evolve_schema)
            if insert_only
            else merge_upsert(
                affected_target, source, keys, order_by, evolve_schema=evolve_schema
            )
        )
        _overwrite_in_place(merged, path, partition_by, parts)
    else:
        merged = (
            merge_insert_only(target, source, keys, evolve_schema=evolve_schema)
            if insert_only
            else merge_upsert(target, source, keys, order_by, evolve_schema=evolve_schema)
        )
        _overwrite_in_place(merged, path)
