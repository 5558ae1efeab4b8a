"""K3 as a pure relational operator: keyed upsert of a source batch into
a target frame — ``MERGE … WHEN MATCHED UPDATE SET * WHEN NOT MATCHED
INSERT *`` (reference: INSERT .. ON CONFLICT DO UPDATE,
/root/reference/etl_project/connectors/postgresql.py:79-91) expressed as
dedup + anti-join + union. The warehouse sink wraps this with snapshot
commits; here it is also independently usable/testable as a transform.
Alongside it, the SCD Type-2 history merge (``scd2_init``/``scd2_merge``)
— the dimension-versioning upgrade of the same upsert: instead of
overwriting a matched row, it closes the old version and opens a new one,
so the dimension carries its full change history.

Scale: one shuffle of each side on the key columns (sort-merge or, when
the batch is small, broadcast anti-join chosen by Catalyst/AQE). With a
date-partitioned target the warehouse variant prunes the rewrite to
touched partitions. The SCD2 merge touches the CURRENT slice only — the
closed history unions through untouched (at 100 TB the current slice is
the small, hot fraction; pair it with a warehouse table clustered on
``is_current`` so the history files are skipped at scan time).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame


def upsert_frames(
    target: DataFrame,
    source: DataFrame,
    keys: tuple[str, ...],
    source_unique: bool = False,
) -> DataFrame:
    """Rows of ``source`` win on key collision; target rows without a
    colliding key survive. Source is deduped on the keys first (Q6 — the
    reference's one-statement-one-key contract, made explicit) unless
    the caller vouches with ``source_unique=True`` (it already deduped —
    skipping the redundant key-shuffle of the batch).

    Source and target must carry the same columns — silent drift is a
    bug in most pipelines.
    """
    from pyspark.sql import functions as F

    # Explicit aliases: target and source often share lineage (an
    # incremental re-extract of the same table), and attribute-based
    # join conditions on shared lineage degrade into trivially-true
    # self-comparisons. Name-qualified columns resolve unambiguously.
    if not source_unique:
        source = source.dropDuplicates(list(keys))
    src = source.alias("__upsert_src")
    tgt = target.alias("__upsert_tgt")
    on = [
        F.col(f"__upsert_src.{k}").eqNullSafe(F.col(f"__upsert_tgt.{k}"))
        for k in keys
    ]
    kept = tgt.join(src, on=on, how="left_anti")
    return kept.unionByName(src)


SCD2_COLS = ("valid_from", "valid_to", "is_current")


def scd2_init(
    source: DataFrame, keys: tuple[str, ...], stamp
) -> DataFrame:
    """Initial load of an SCD Type-2 dimension: every source row becomes
    an open version — ``valid_from = stamp``, ``valid_to = NULL``,
    ``is_current = true``. ``stamp`` is any orderable literal the caller
    controls (a load timestamp, a batch sequence number) — the operator
    never reaches for now(), so replays are deterministic.

    Source is deduped on the keys first (the upsert_frames Q6 contract:
    one key, one current version)."""
    from pyspark.sql import functions as F

    clash = set(SCD2_COLS) & set(source.columns)
    if clash:
        raise ValueError(
            f"scd2_init writes column(s) {sorted(clash)}; rename them on "
            "the input first"
        )
    stamp_col = stamp if isinstance(stamp, Column) else F.lit(stamp)
    out = source.dropDuplicates(list(keys)).withColumn(
        "valid_from", stamp_col
    )
    return out.withColumn(
        "valid_to", F.lit(None).cast(out.schema["valid_from"].dataType)
    ).withColumn("is_current", F.lit(True))


# scd2_merge's source is a FULL snapshot: a current key it lacks is
# closed (delete detection). An incremental-batch source, whose absent
# keys imply nothing, sets this False.
CLOSE_MISSING = True


def scd2_merge(
    target: DataFrame,
    source: DataFrame,
    keys: tuple[str, ...],
    tracked: tuple[str, ...],
    stamp,
) -> DataFrame:
    """SCD Type-2 merge of a source batch into a versioned dimension
    (the Kimball slowly-changing-dimension discipline, expressed as ONE
    keyed full-outer join over the CURRENT slice):

    - key in both, every ``tracked`` column equal (null-safely): the
      open version survives untouched;
    - key in both, any ``tracked`` column changed: the open version is
      CLOSED (``valid_to = stamp``, ``is_current = false``) and a new
      open version of the source row is appended (``valid_from =
      stamp``);
    - key only in source: a new open version is appended;
    - key only in target: with ``CLOSE_MISSING`` (the source is a FULL
      snapshot) the absent key's open version is closed with no
      successor (the SCD2 form of delete detection); without it the
      key stays open (incremental batches don't imply deletion).

    Closed history rows pass through without touching the join — the
    merge's shuffle is sized by the current slice + batch, not by the
    accumulated history. Exactly one open version per key is preserved
    by construction (target is assumed well-formed — built by
    ``scd2_init``/this function; source is key-deduped here).

    ``stamp`` must compare after every open ``valid_from`` the batch
    touches; the operator does not re-sort history.
    """
    from pyspark.sql import functions as F

    missing = [c for c in SCD2_COLS if c not in target.columns]
    if missing:
        raise ValueError(
            f"scd2_merge target lacks SCD2 column(s) {missing}; build it "
            "with scd2_init first"
        )
    clash = set(SCD2_COLS) & set(source.columns)
    if clash:
        raise ValueError(
            f"scd2_merge source must not carry {sorted(clash)}; they are "
            "derived here"
        )
    stamp_col = stamp if isinstance(stamp, Column) else F.lit(stamp)
    value_cols = [c for c in target.columns if c not in SCD2_COLS]

    hist = target.filter(~F.col("is_current"))
    # presence markers, not keys[0].isNotNull(): the join is null-safe,
    # so a NULL key value is a legal key and must not read as "absent"
    cur = (
        target.filter(F.col("is_current"))
        .withColumn("__scd_tgt_p", F.lit(True))
        .alias("__scd_tgt")
    )
    src = (
        source.dropDuplicates(list(keys))
        .withColumn("__scd_src_p", F.lit(True))
        .alias("__scd_src")
    )

    on = [
        F.col(f"__scd_tgt.{k}").eqNullSafe(F.col(f"__scd_src.{k}"))
        for k in keys
    ]
    joined = cur.join(src, on=on, how="full_outer")

    tgt_present = F.col("__scd_tgt.__scd_tgt_p").isNotNull()
    src_present = F.col("__scd_src.__scd_src_p").isNotNull()
    # any tracked column changed, null-safely (NULL -> value counts)
    changed = None
    for c in tracked:
        ne = ~F.col(f"__scd_tgt.{c}").eqNullSafe(F.col(f"__scd_src.{c}"))
        changed = ne if changed is None else (changed | ne)
    if changed is None:
        changed = F.lit(False)

    close_tgt = tgt_present & (
        (src_present & changed)
        | (F.lit(CLOSE_MISSING) & ~src_present)
    )
    tgt_rows = joined.filter(tgt_present).select(
        *[F.col(f"__scd_tgt.{c}").alias(c) for c in value_cols],
        F.col("__scd_tgt.valid_from").alias("valid_from"),
        F.when(close_tgt, stamp_col)
        .otherwise(F.col("__scd_tgt.valid_to"))
        .alias("valid_to"),
        (~close_tgt).alias("is_current"),
    )
    new_rows = joined.filter(
        src_present & (~tgt_present | changed)
    ).select(
        *[F.col(f"__scd_src.{c}").alias(c) for c in value_cols],
        stamp_col.alias("valid_from"),
        F.lit(None).cast(target.schema["valid_to"].dataType).alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    return (
        hist.select(*value_cols, *SCD2_COLS)
        .unionByName(tgt_rows)
        .unionByName(new_rows)
    )
