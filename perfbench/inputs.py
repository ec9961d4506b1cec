"""Seeded input generators for the benchmark.

Every input is a pure function of ``(seed, size)``: the same arguments
write byte-identical parquet files (file names are fixed, row order is
the generator's, and pyarrow writes no timestamps).  The seed changes
content, never structure: how many violations, near-copies and
partitions there are is fixed by the sizes, so runs with different
seeds do comparable work.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_ASSETS = 1000


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def partition_file(docs_dir: str, k: int) -> str:
    return os.path.join(docs_dir, f"part-{k:03d}.parquet")


def write_interleaved(spark, out_dir: str, n_docs: int, n_partitions: int, seed: int,
                      edit_partitions: frozenset[int] = frozenset(), files: int | None = None) -> dict:
    """``datagen.documents_interleaved(seed=seed)`` written as ``files``
    parquet files (default: one per ``partition_id``); file ``k`` holds
    every partition ``p`` with ``p % files == k``, so each file holds
    whole partitions: the CLI reads the directory, the resume workload
    reads a subset of the files, and the stream replays one file per
    micro-batch.

    ``edit_partitions`` gives the edited copy of the corpus: in those
    partitions every doc's first text span gets a suffix, which changes
    their digests and nothing else.  Returns ``{"docs": dir, "catalog":
    dir}``."""
    from pyspark.sql import functions as F

    from hashio_spark import datagen

    docs = datagen.documents_interleaved(
        spark, n_docs=n_docs, n_assets=N_ASSETS, n_partitions=n_partitions, seed=seed
    )
    if edit_partitions:
        edited = F.col("partition_id").isin(sorted(edit_partitions))
        docs = docs.withColumn(
            "spans",
            F.when(
                edited,
                F.transform(
                    "spans",
                    lambda s, i: F.struct(
                        s["kind"].alias("kind"),
                        F.when((i == 0) & s["text"].isNotNull(), F.concat(s["text"], F.lit(" edited")))
                        .otherwise(s["text"]).alias("text"),
                        s["media_ref"].alias("media_ref"),
                        s["offset"].alias("offset"),
                    ),
                ),
            ).otherwise(F.col("spans")),
        )
    # spark.range keeps row order through narrow projections and toArrow
    # collects partitions in order, so the table is deterministic
    table = docs.toArrow()
    docs_dir = os.path.join(out_dir, "docs")
    os.makedirs(docs_dir, exist_ok=True)
    files = files or n_partitions
    file_of = table.column("partition_id").to_numpy() % files
    for k in range(files):
        _write(table.filter(pa.array(file_of == k)), partition_file(docs_dir, k))
    cat_dir = os.path.join(out_dir, "catalog")
    os.makedirs(cat_dir, exist_ok=True)
    _write(datagen.asset_catalog(spark, n_assets=N_ASSETS, seed=seed).toArrow(),
           os.path.join(cat_dir, "catalog.parquet"))
    return {"docs": docs_dir, "catalog": cat_dir}


# Zipf-weighted vocabulary: a few very common words (so band collisions
# and shingle overlap happen between unrelated docs) over a long tail.
_VOCAB = np.array([f"w{i:03d}" for i in range(400)])
_VOCAB_P = 1.0 / np.arange(1, len(_VOCAB) + 1) ** 0.9
_VOCAB_P /= _VOCAB_P.sum()
_LANGS = np.array(["de", "en", "es", "fr", "zh"])
N_SOURCES = 20


def write_flat_corpus(sf_dir: str, n_docs: int, seed: int, copy_every: int = 12) -> str:
    """Flat text corpus in the registry's ``documents`` schema
    ``(doc_id bigint, text, lang, source, n_chars bigint)`` at
    ``<sf_dir>/documents.parquet``, the path the ``queries.REGISTRY``
    functions read.

    Every ``copy_every``-th doc is a near-copy of a random earlier
    original with 1-3 of its words replaced, so the near-dup legs have
    true positives; the rest are i.i.d. word salad of 8-80 words.  Copies
    are only made of originals, so every planted cluster is a star of
    diameter 2 whatever the seed: the seed changes the text, not how many
    rounds ``dedupe_clusters`` needs.  ``source`` is ``src{i % 20}``, so
    ``src0`` is the benchmark slice ``crosscorpus_neardup`` checks the
    rest against."""
    rng = np.random.default_rng(seed)
    words: list[np.ndarray] = []
    originals: list[int] = []
    for i in range(n_docs):
        if originals and i % copy_every == copy_every - 1:
            w = words[originals[int(rng.integers(len(originals)))]].copy()
            if len(w) > 0:  # an empty base doc has no word to replace
                for _ in range(int(rng.integers(1, 4))):
                    w[int(rng.integers(0, len(w)))] = rng.choice(_VOCAB, p=_VOCAB_P)
        else:
            w = rng.choice(_VOCAB, size=int(rng.integers(8, 81)), p=_VOCAB_P)
            originals.append(i)
        words.append(w)
    texts = [" ".join(w) for w in words]
    table = pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(_LANGS, size=n_docs).tolist()),
        "source": pa.array([f"src{i % N_SOURCES}" for i in range(n_docs)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    os.makedirs(sf_dir, exist_ok=True)
    path = os.path.join(sf_dir, "documents.parquet")
    _write(table, path)
    return path
