"""Benchmark decontamination: train/test n-gram overlap detection.

A training-data pipeline must be able to answer "which training documents
contain n-grams from my evaluation benchmarks?" before a corpus ships —
the n-gram-overlap decontamination used by most published LLM training
pipelines.  Expressed Spark-first:

* both sides are tokenized and shingled with the SAME staged projections
  as the MinHash family (``functions.text.word_shingles_from_tokens`` —
  bound-attribute staging, no interpreted-lambda recompute);
* the benchmark side (eval suites: thousands of docs) collapses to a
  DISTINCT shingle set and is **broadcast** — the trillion-row training
  side is never shuffled for the join;
* per-doc shingles are ``array_distinct``-ed BEFORE the explode, so the
  join input is bounded by unique-grams-per-doc, and the only shuffle is
  the final per-doc hit count aggregation;
* ``hashed=True`` joins on ``xxhash64(shingle)`` (8-byte keys, the scale
  path); ``hashed=False`` joins on raw shingle strings (oracle-parity
  path — replicable in any SQL engine).

The paraphrase-level :func:`crosscorpus_neardup` is two stages over
caller-built band frames and shingle sets, :func:`bench_present` and
:func:`bipartite_neardup`; the registry's md5 ``crosscorpus_neardup``
query calls the same stages with its own bands and sets.

Extends the reference's dedupe family (``/root/reference/lib/hashio/
encoder.py:463-500``) from identical-content to cross-corpus n-gram
containment.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hashio_spark.caching import track
from hashio_spark.functions.text import word_shingles_from_tokens


def _doc_grams(df: DataFrame, key_col: str, text_col: str, k: int, hashed: bool) -> DataFrame:
    toked = df.select(F.col(key_col).alias("key"), F.split(F.col(text_col), r"\s+").alias("_toks"))
    shingled = toked.select("key", F.array_distinct(word_shingles_from_tokens("_toks", k)).alias("_sh"))
    # explode_OUTER + post-filter, not explode: Catalyst's
    # InferFiltersFromGenerate adds `size(child)>0 AND isnotnull(child)`
    # below a plain explode, and predicate pushdown substitutes the WHOLE
    # tokenize→shingle→distinct pipeline into that filter — the pipeline
    # then runs 2-3× per row in interpreted mode (measured 7×: 3.2 s →
    # 0.45 s at sf0.1).  explode_outer gets no inferred filter; empty
    # docs surface one NULL gram dropped on the GENERATED attribute,
    # which cannot be pushed below the Generate.  (BENCH.md finding #8.)
    g = shingled.select("key", F.explode_outer("_sh").alias("gram")).filter(
        F.col("gram").isNotNull()
    )
    if hashed:
        g = g.select("key", F.xxhash64("gram").alias("gram"))
    return g


def contamination(
    docs: DataFrame,
    benchmark: DataFrame,
    key_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    min_hits: int = 1,
    hashed: bool = True,
) -> DataFrame:
    """(key, n_shared) for every training doc sharing ≥ ``min_hits``
    distinct k-gram shingles with the benchmark corpus.

    ``n_shared`` counts DISTINCT contaminated shingles per doc (the usual
    decontamination severity signal); filter or anti-join the result
    against the corpus to drop flagged docs."""
    doc_g = _doc_grams(docs, key_col, text_col, k, hashed)
    bench_g = (
        _doc_grams(benchmark, key_col, text_col, k, hashed)
        .select("gram")
        .distinct()
    )
    hits = (
        doc_g.join(F.broadcast(bench_g), "gram")
        .groupBy("key")
        .agg(F.count(F.lit(1)).alias("n_shared"))  # per-doc grams pre-distincted
        .filter(F.col("n_shared") >= min_hits)
    )
    return hits.select(F.col("key").alias(key_col), "n_shared")


def crosscorpus_neardup(
    train: DataFrame,
    benchmark: DataFrame,
    key_col: str = "doc_id",
    text_col: str = "text",
    n_perm: int = 16,
    n_bands: int = 4,
    max_band_size: int = 64,
    min_jaccard: float = 0.5,
    shingle_k: int = 3,
) -> DataFrame:
    """Paraphrase-level decontamination: (train_key, bench_key, jaccard)
    for train docs whose shingle set near-duplicates a benchmark doc —
    the fuzzy complement of :func:`contamination`'s exact n-gram overlap
    (a reworded eval question shares few exact 3-grams but most of its
    shingle set).

    Scale shape (train = 10^12 docs, benchmark = 10^4..10^6):
    * both corpora band through the SAME ``minhash_band_values``
      expression — signatures are per-row projections, no shuffle;
    * the benchmark band table is tiny → **broadcast hash join**: the
      train corpus is never shuffled, the bipartite candidate join is
      map-side (vs the self-join path, which must shuffle on band);
    * the band-size cap applies to the TRAIN side (the only side that
      can blow up a bucket), but sizes are counted AFTER a broadcast
      semi-join against the benchmark bands: a band absent from the
      benchmark yields no candidates regardless of cap, so restricting
      the count to bench-present bands is output-identical while
      shrinking the size aggregation's input from 10^12 × n_bands rows
      (a full shuffle of the banded corpus) to just the matching slice;
    * candidates then pass exact Jaccard ≥ ``min_jaccard`` with the
      benchmark shingle sets ALSO broadcast.

    Returns all (train, bench, jaccard) matches; anti-join ``train``
    against ``.select(key_col)`` of the result to drop flagged docs.
    """
    from hashio_spark.operators.dedupe import minhash_band_values, minhash_signatures

    def _bands(df: DataFrame) -> DataFrame:
        sig = minhash_signatures(df, key_col, text_col, n_perm=n_perm, shingle_k=shingle_k)
        return minhash_band_values(sig, n_bands=n_bands, n_perm=n_perm)

    def _sets(df: DataFrame) -> DataFrame:
        toked = df.select(F.col(key_col).alias("key"), F.split(F.col(text_col), r"\s+").alias("_toks"))
        return toked.select("key", F.array_distinct(word_shingles_from_tokens("_toks", shingle_k)).alias("sh"))

    b_bands = _bands(benchmark)
    # hits feeds two consumers (sizes + candidates); persisted so the
    # minhash upstream runs once — caller releases via caching.release
    hits = bench_present(_bands(train), b_bands).persist()
    out = bipartite_neardup(hits, b_bands, _sets(train), _sets(benchmark), max_band_size, min_jaccard)
    return track(out, hits)


def bench_present(train_bands: DataFrame, bench_bands: DataFrame) -> DataFrame:
    """The rows of a ``(key, band_id, band_val)`` train band frame whose
    band the benchmark also occupies — a semi-join against the broadcast
    distinct benchmark bands.  Only these bands can produce candidates,
    so :func:`bipartite_neardup` counts band sizes over this slice
    instead of the full banded corpus (output-identical: a band absent
    from the benchmark yields no candidates whatever its size)."""
    return train_bands.join(
        F.broadcast(bench_bands.select("band_id", "band_val").distinct()),
        ["band_id", "band_val"],
        "left_semi",
    )


def bipartite_neardup(
    hits: DataFrame,
    bench_bands: DataFrame,
    train_sets: DataFrame,
    bench_sets: DataFrame,
    max_band_size: int,
    min_jaccard: float,
) -> DataFrame:
    """(train_key, bench_key, jaccard) — the bipartite LSH candidate and
    exact-Jaccard verify stage of every cross-corpus near-dup tier,
    whatever its signature kernel, band encoding or tokenizer.

    ``hits`` is :func:`bench_present` of the train bands and
    ``bench_bands`` the benchmark's ``(key, band_id, band_val)`` frame;
    ``train_sets``/``bench_sets`` are ``(key, sh)`` distinct shingle
    sets.  Train bands with more than ``max_band_size`` members are
    dropped; the benchmark bands and sets are broadcast, so the train
    side is never shuffled for a join.  ``hits`` is read twice (sizes +
    candidates): persist it when its upstream is costly.  Jaccard is
    rounded to 6 places before the ``min_jaccard`` cut."""
    sizes = hits.groupBy("band_id", "band_val").agg(F.count(F.lit(1)).alias("n"))
    ok = hits.join(
        F.broadcast(sizes.filter(F.col("n") <= max_band_size)),
        ["band_id", "band_val"],
    )
    cand = (
        ok.join(F.broadcast(bench_bands.withColumnRenamed("key", "bench_key")), ["band_id", "band_val"])
        .select(F.col("key").alias("train_key"), "bench_key")
        .distinct()
    )
    tr = train_sets.select(F.col("key").alias("train_key"), F.col("sh").alias("sh_t"))
    be = bench_sets.select(F.col("key").alias("bench_key"), F.col("sh").alias("sh_b"))
    j = cand.join(tr, "train_key").join(F.broadcast(be), "bench_key")
    inter = F.size(F.array_intersect(F.col("sh_t"), F.col("sh_b"))).cast("double")
    union = F.size(F.array_union(F.col("sh_t"), F.col("sh_b"))).cast("double")
    jac = F.round(inter / union, 6)
    return j.select("train_key", "bench_key", jac.alias("jaccard")).filter(F.col("jaccard") >= min_jaccard)
