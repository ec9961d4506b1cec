"""Deterministic synthetic interleaved-document tables (FIXTURES.md §1-2).

Everything is generated **distributed** with column expressions over
``spark.range`` — no driver-side loops, no Python RNG per row — so the
same generator scales from the 1k-doc test fixture to a bench table of
millions of rows.  Determinism comes from ``xxhash64(id, salt)`` instead
of a random source, so any (n_docs, seed) pair reproduces byte-identical
tables on any cluster size/partitioning.

Planted violations follow fixed modular rules (mirroring the reference's
dedupe fixtures with known duplicate layout,
``/root/reference/tests/test_hashio.py:130-287``) so tests can assert
*exact* expected counts:

* duplicate doc_ids:      id % DUP_MOD == 1  → reuses id-1's doc_id
* dangling media_ref:     id % DANGLE_MOD == 5 → ref not in catalog
* null text on text span: id % NULLTEXT_MOD == 3 → first text span nulled
* out-of-order offsets:   id % OOO_MOD == 7 → offsets reversed
* skewed span arrays:     id % SKEW_MOD == 0 → 120-360 spans (vs 1-8)
* drifted partition:      partition_id == DRIFT_PARTITION gets shifted
                          quality scores (for KS/PSI tests)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

DUP_MOD = 101
DANGLE_MOD = 97
NULLTEXT_MOD = 89
OOO_MOD = 83
SKEW_MOD = 997
DRIFT_PARTITION = 0


def _h(*cols) -> F.Column:
    return F.xxhash64(*[F.lit(c) if isinstance(c, (str, int)) else c for c in cols])


def asset_catalog(spark: SparkSession, n_assets: int = 1000, seed: int = 42) -> DataFrame:
    """Referential dimension (FIXTURES.md §2): covers every non-dangling ref."""
    return (
        spark.range(n_assets)
        .select(
            F.concat(F.lit("asset-"), F.col("id").cast("string")).alias("media_ref"),
            F.element_at(
                F.array(*[F.lit(k) for k in ("image", "audio", "video")]),
                (F.pmod(_h(F.col("id"), seed, "mkind"), F.lit(3)) + 1).cast("int"),
            ).alias("media_kind"),
            (F.pmod(_h(F.col("id"), seed, "msize"), F.lit(10_000_000)) + 1024).alias("size_bytes"),
        )
    )


def documents_interleaved(
    spark: SparkSession,
    n_docs: int = 10_000,
    n_assets: int = 1000,
    n_partitions: int = 16,
    seed: int = 42,
    plant_violations: bool = True,
) -> DataFrame:
    """The north-rule input table:
    ``(doc_id string, partition_id int, spans array<struct<kind,text,media_ref,offset>>)``.

    Span layout: ~70% text / 30% media spans; offsets strictly increasing
    (10·i) except for planted out-of-order docs; text content is a short
    pseudo-sentence derived from the hash so near-dup/shingle operators
    have real token streams to chew on.
    """
    vocab = F.array(*[F.lit(w) for w in (
        "the", "quick", "brown", "fox", "jumps", "over", "lazy", "dog",
        "spark", "shuffle", "digest", "span", "media", "token", "batch",
        "row", "scan", "merge", "hash", "table",
    )])
    df = spark.range(n_docs)
    i_id = F.col("id")

    if plant_violations:
        base_id = F.when((i_id % DUP_MOD == 1) & (i_id > 0), i_id - 1).otherwise(i_id)
    else:
        base_id = i_id
    doc_id = F.concat(F.lit("doc-"), F.lpad(base_id.cast("string"), 12, "0"))

    n_spans = F.when(i_id % SKEW_MOD == 0, (F.pmod(_h(i_id, seed, "skew"), F.lit(240)) + 120)).otherwise(
        F.pmod(_h(i_id, seed, "nspans"), F.lit(8)) + 1
    ).cast("int")

    def span(i):
        kdraw = F.pmod(_h(i_id, i, seed, "kind"), F.lit(10))
        kind = (
            F.when(kdraw < 7, "text").when(kdraw < 8, "image").when(kdraw < 9, "audio").otherwise("video")
        )
        words = F.transform(
            F.sequence(F.lit(0), (F.pmod(_h(i_id, i, seed, "nw"), F.lit(10)) + 3).cast("int")),
            lambda j: F.element_at(vocab, (F.pmod(_h(i_id, i, j, seed, "w"), F.lit(20)) + 1).cast("int")),
        )
        text = F.when(kind == "text", F.concat_ws(" ", words)).otherwise(F.lit(None).cast("string"))
        if plant_violations:
            text = F.when((i_id % NULLTEXT_MOD == 3) & (i == 0) & (kind == "text"), F.lit(None).cast("string")).otherwise(text)
        ref = F.concat(F.lit("asset-"), F.pmod(_h(i_id, i, seed, "ref"), F.lit(n_assets)).cast("string"))
        if plant_violations:
            ref = F.when(i_id % DANGLE_MOD == 5, F.concat(F.lit("asset-missing-"), i_id.cast("string"))).otherwise(ref)
        media_ref = F.when(kind != "text", ref).otherwise(F.lit(None).cast("string"))
        offset = (i * 10).cast("int")
        if plant_violations:
            offset = F.when(i_id % OOO_MOD == 7, ((n_spans - i) * 10).cast("int")).otherwise(offset)
        return F.struct(
            kind.alias("kind"), text.alias("text"), media_ref.alias("media_ref"), offset.alias("offset")
        )

    spans = F.transform(F.sequence(F.lit(0), n_spans - 1), span)

    quality = (F.pmod(_h(i_id, seed, "q"), F.lit(1000)) / 1000.0).alias("quality")
    partition_id = F.pmod(_h(doc_id, seed, "part"), F.lit(n_partitions)).cast("int")
    if plant_violations:
        # drifted distribution on one partition (for KS/PSI checks)
        quality = F.when(
            partition_id == DRIFT_PARTITION, F.least(F.lit(1.0), (F.pmod(_h(i_id, seed, "q"), F.lit(1000)) / 1000.0) * 0.5 + 0.5)
        ).otherwise(F.pmod(_h(i_id, seed, "q"), F.lit(1000)) / 1000.0).alias("quality")

    return df.select(
        doc_id.alias("doc_id"),
        partition_id.alias("partition_id"),
        spans.alias("spans"),
        quality,
    )


def expected_violation_counts(n_docs: int) -> dict[str, int]:
    """Exact planted-violation counts for a given n_docs (test oracle)."""
    dup_extra = len([i for i in range(n_docs) if i % DUP_MOD == 1 and i > 0])
    return {
        # rows whose doc_id collides (both members of each pair)
        "duplicate_doc_rows": 2 * dup_extra,
        "dangling_docs": len([i for i in range(n_docs) if i % DANGLE_MOD == 5]),
        "nulltext_candidates": len([i for i in range(n_docs) if i % NULLTEXT_MOD == 3]),
        "out_of_order_docs": len([i for i in range(n_docs) if i % OOO_MOD == 7 and i % SKEW_MOD != 0]),
        "skewed_docs": len([i for i in range(n_docs) if i % SKEW_MOD == 0]),
    }


# planted-violation mods for interleave_from_flat (SQL-replicable rules)
IFF_DUP_MOD = 41       # doc_id % 41 == 1 → reuses key doc_id-1 (duplicate doc_id)
IFF_NULLTEXT_MOD = 43  # doc_id % 43 == 0 → first text chunk nulled
IFF_OOO_MOD = 47       # doc_id % 47 == 0 → chunk offsets reversed
IFF_DANGLE_MOD = 30    # doc_id % 30 == 0 (⊂ %3 media docs) → ref not in catalog
IFF_N_PARTITIONS = 16


def interleave_from_flat(
    docs: DataFrame, n_assets: int = 50, words_per_span: int = 8, plant_violations: bool = False
) -> DataFrame:
    """Derive an interleaved-document table from the driver's flat
    ``documents.parquet`` (doc_id, text, lang, source, n_chars):
    text is chunked into ``words_per_span``-word text spans, and a
    deterministic subset of docs gets a trailing media span.  Pure column
    expressions → runs at any scale.

    Every derivation rule (chunking, partition assignment, planted
    violations) is chosen to be exactly replicable in ANSI SQL so the
    flagship validation report can be oracle-checked against DuckDB:
    partition_id is ``key % 16``, not a hash, and ``plant_violations``
    injects all four violation classes under fixed modular rules
    (mirroring the reference's known-layout dedupe fixtures,
    ``/root/reference/tests/test_hashio.py:130-287``)."""
    i_id = F.col("doc_id")
    toks = F.split(F.col("text"), " ")
    n_chunks = F.greatest(F.lit(1), F.ceil(F.size(toks) / words_per_span)).cast("int")

    key = (
        F.when((i_id % IFF_DUP_MOD == 1) & (i_id > 0), i_id - 1).otherwise(i_id)
        if plant_violations
        else i_id
    )

    def chunk_text(i):
        base = F.concat_ws(" ", F.slice(toks, i * words_per_span + 1, words_per_span))
        if plant_violations:
            return F.when((i_id % IFF_NULLTEXT_MOD == 0) & (i == 0), F.lit(None).cast("string")).otherwise(base)
        return base

    def chunk_offset(i):
        base = (i * words_per_span).cast("int")
        if plant_violations:
            return F.when(i_id % IFF_OOO_MOD == 0, ((n_chunks - 1 - i) * words_per_span).cast("int")).otherwise(base)
        return base

    text_spans = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.struct(
            F.lit("text").alias("kind"),
            chunk_text(i).alias("text"),
            F.lit(None).cast("string").alias("media_ref"),
            chunk_offset(i).alias("offset"),
        ),
    )
    ref = F.concat(F.lit("asset-"), F.pmod(i_id, F.lit(n_assets)).cast("string"))
    if plant_violations:
        ref = F.when(i_id % IFF_DANGLE_MOD == 0, F.concat(F.lit("asset-missing-"), i_id.cast("string"))).otherwise(ref)
    media_span = F.array(
        F.struct(
            F.lit("image").alias("kind"),
            F.lit(None).cast("string").alias("text"),
            ref.alias("media_ref"),
            (n_chunks * words_per_span).cast("int").alias("offset"),
        )
    )
    spans = F.when(i_id % 3 == 0, F.concat(text_spans, media_span)).otherwise(text_spans)
    # NB: two selects on purpose — aliasing the remapped key to "doc_id"
    # in the SAME select would let Spark's lateral-column-alias resolution
    # shadow the input doc_id inside the span expressions (observed on
    # Spark 4: the planted-violation mods silently evaluated against the
    # remapped key instead of the original id).
    tmp = docs.select(
        key.alias("_iff_key"),
        spans.alias("spans"),
        (F.col("n_chars") / 1000.0).alias("quality"),
    )
    return tmp.select(
        F.col("_iff_key").cast("string").alias("doc_id"),
        F.pmod(F.col("_iff_key"), F.lit(IFF_N_PARTITIONS)).cast("int").alias("partition_id"),
        "spans",
        "quality",
    )
