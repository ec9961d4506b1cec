"""Row-level constraint checks → violation-row DataFrames.

Violation rows share one schema so rule outputs union cleanly:
``(doc_id string, partition_id int, rule string, detail string)`` —
the distributed analog of the reference's per-file mismatch lines
(``"{algo} {path}"``, ``/root/reference/lib/hashio/cli.py:417``).

Scale notes per rule:

* uniqueness — one shuffle on the key; AQE coalesces; a 10^12-row key
  space is fine because the aggregate is count-only (map-side partials).
* referential — catalog joins are **broadcast** when the dim is small
  (``F.broadcast``); for catalogs too big to broadcast pass
  ``broadcast_catalog=False`` to fall back to a shuffled hash join, and
  rely on AQE skew-join splitting for hot refs.  We join the *distinct
  refs per partition of work*, not the exploded spans, so the shuffled
  volume is bounded by distinct refs, not span count.
* span-shape rules (null text, offset order) — pure per-row expressions,
  no shuffle at all.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _violations(df: DataFrame, rule: str, detail: F.Column) -> DataFrame:
    return df.select(
        F.col("doc_id"),
        F.col("partition_id"),
        F.lit(rule).alias("rule"),
        detail.cast("string").alias("detail"),
    )


def duplicate_keys(df: DataFrame, key: str = "doc_id") -> DataFrame:
    """Uniqueness check: groups with >1 row (reference dedupe-by-content
    analog, ``/root/reference/lib/hashio/encoder.py:463-500`` — groupBy +
    filter(count>1) replaces the in-memory hash_map bucketing)."""
    dups = (
        df.groupBy(key)
        .agg(F.count(F.lit(1)).alias("dup_count"), F.first("partition_id").alias("partition_id"))
        .filter(F.col("dup_count") > 1)
    )
    return dups.select(
        F.col(key).alias("doc_id"),
        F.col("partition_id"),
        F.lit("duplicate_doc_id").alias("rule"),
        F.concat(F.lit("count="), F.col("dup_count").cast("string")).alias("detail"),
    )


def dangling_refs(
    docs: DataFrame, catalog: DataFrame, broadcast_catalog: bool = True
) -> DataFrame:
    """Referential check: media_refs in spans that are absent from the
    asset catalog (reference "missing file" analog,
    ``/root/reference/lib/hashio/encoder.py:688-690``).

    Distinct refs are extracted per doc with array functions (no explode
    of text spans), then anti-joined against the catalog.
    """
    # `spans.media_ref` via getField (GetArrayStructFields), NOT
    # `transform(spans, s -> s.media_ref)`: NestedColumnAliasing prunes
    # ExtractValue expressions but gives up on lambda-variable field
    # access inside higher-order functions, so the transform form makes
    # the parquet scan read the FULL span struct — every text payload —
    # just to drop it (measured: a second full-width spans decode in the
    # report plan).  With getField the scan's ReadSchema is
    # spans:array<struct<media_ref:string>>.
    refs = docs.select(
        "doc_id",
        "partition_id",
        F.explode(
            F.array_distinct(
                F.filter(
                    F.col("spans").getField("media_ref"),
                    lambda r: r.isNotNull(),
                )
            )
        ).alias("media_ref"),
    )
    cat = catalog.select("media_ref").distinct()
    if broadcast_catalog:
        cat = F.broadcast(cat)
    dangling = refs.join(cat, "media_ref", "left_anti")
    return dangling.select(
        "doc_id",
        "partition_id",
        F.lit("dangling_media_ref").alias("rule"),
        F.col("media_ref").alias("detail"),
    )


def null_text_spans(docs: DataFrame) -> DataFrame:
    """Schema rule: text spans must carry non-null text.

    Folds over a projected bool array — filtering the struct array itself
    would copy every span's text payload per row.
    """
    # getField projections (not a transform lambda): NestedColumnAliasing
    # prunes ExtractValue but not lambda field access, so this form reads
    # ONLY spans.kind + spans.text from parquet (offset/media_ref skipped)
    bad = F.filter(
        F.zip_with(
            F.col("spans").getField("kind"),
            F.col("spans").getField("text"),
            lambda k, t: (k == "text") & t.isNull(),
        ),
        lambda b: b,
    )
    return _violations(
        docs.filter(F.size(bad) > 0).withColumn("_n", F.size(bad)),
        "null_text_span",
        F.concat(F.lit("n_bad_spans="), F.col("_n").cast("string")),
    )


def offset_order(docs: DataFrame) -> DataFrame:
    """Schema rule: offsets strictly increasing within a doc.

    Adjacent-pair compare over the projected offsets INT array (slicing
    the struct array would copy full span payloads — measured dominant at
    10^7 rows); O(spans) per row, no shuffle, no UDF.
    """
    # getField, not transform: prunes the parquet scan to spans.offset
    offs = F.col("spans").getField("offset")
    n_off = F.size(offs)
    bad_pairs = F.filter(
        F.zip_with(
            F.slice(offs, 1, F.greatest(n_off - 1, F.lit(0))),
            F.slice(offs, 2, F.greatest(n_off - 1, F.lit(0))),
            lambda a, b: a >= b,
        ),
        lambda x: x,
    )
    n_bad = F.when(n_off > 1, F.size(bad_pairs)).otherwise(F.lit(0))
    return _violations(
        docs.withColumn("_n", n_bad).filter(F.col("_n") > 0),
        "offset_out_of_order",
        F.concat(F.lit("n_bad_pairs="), F.col("_n").cast("string")),
    )


def all_constraint_violations(
    docs: DataFrame, catalog: DataFrame | None = None, broadcast_catalog: bool = True
) -> DataFrame:
    """Union of every constraint's violation rows (single schema)."""
    out = duplicate_keys(docs).unionByName(null_text_spans(docs)).unionByName(offset_order(docs))
    if catalog is not None:
        out = out.unionByName(dangling_refs(docs, catalog, broadcast_catalog))
    return out


def salted_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
    n_salt: int = 8,
    how: str = "inner",
    salt_on: str | None = None,
) -> DataFrame:
    """Skew-proof equi-join: salt the BIG side's rows into ``n_salt``
    sub-keys and replicate the small side once per salt, so one hot key's
    rows spread over ``n_salt`` reducers instead of pinning a single
    straggler task (the manual form of what AQE's skew-join split does at
    runtime — use this when the skew is KNOWN up front, e.g. a boilerplate
    media_ref referenced by a large fraction of all docs, so the plan
    never materializes the skewed partition at all).

    Cost: the small side is duplicated ``n_salt`` × (keep it the genuinely
    small side); the join output is identical to the unsalted join.

    The salt is derived from ROW CONTENT — ``xxhash64`` over ``salt_on``
    (a caller-supplied high-cardinality column, e.g. a row id) or, by
    default, every big-side column.  A content-derived salt is stable
    under stage retry: a recomputed map task assigns each row the same
    salt its first attempt did, so reducers that already fetched outputs
    stay consistent.  Salting on ``monotonically_increasing_id()`` or
    ``rand()`` would NOT be — those depend on partition layout / row
    order at execution time, and a post-failure recompute can route rows
    to different reducers than the surviving shuffle outputs did
    (duplicated or lost join rows; the SPARK-23207 class of hazard).
    Caveat: rows that are bytewise identical across the salt source share
    a salt, so a hot key whose rows are full duplicates still skews —
    pass ``salt_on`` naming a column that distinguishes them.
    """
    if how not in ("inner", "left", "left_outer"):
        raise ValueError(f"salted_join supports inner/left joins, got {how!r}")
    salt_src = [F.col(salt_on)] if salt_on else [F.col(c) for c in big.columns]
    b = big.withColumn(
        "_salt", F.pmod(F.xxhash64(*salt_src), F.lit(n_salt)).cast("int")
    )
    s = small.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0).cast("int"), F.lit(n_salt - 1).cast("int")))
    )
    return b.join(s, [key, "_salt"], how).drop("_salt")
