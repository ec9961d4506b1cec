"""Canonical serialization + composite digests (span-sequence hashing).

Generalizes the reference's two determinism primitives:

* ``normalize_path`` (``/root/reference/lib/hashio/utils.py:152-184``) —
  canonicalize the unit key before hashing.  Our unit is a *span*
  ``(kind, text, media_ref, offset)``; canonical form is
  ``kind|text|media_ref|offset`` with nulls as empty strings, spans joined
  in array (offset) order by ``\\n`` — preserving the per-row invariant
  "span-sequence equality over (kind, text, media_ref, order)".

* ``composite_hash`` (``/root/reference/lib/hashio/encoder.py:447-460``) —
  a deterministic digest of a set of (key, hash) pairs:
  ``sorted(pairs)`` → ``"{key}:{hash}"`` lines → ``"\\n".join`` → digest.
  Implemented as ``sort_array(collect_list(struct(key, hash)))`` →
  ``transform`` → ``concat_ws`` → digest: ``sort_array`` supplies exactly
  the determinism the reference gets from Python ``sorted()`` (struct
  ordering is field-by-field, same as tuple ordering).

Scale note: ``collect_list`` per group is the **parity** aggregate — it
materializes the whole group, fine for per-partition manifests (≤ a few
million keys/partition) but the 100 TB path should prefer
:func:`agg_digest_xor`, an order-independent commutative fold (sum mod
2^64 of per-key 64-bit hashes) that needs no list materialization and no
sort.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def canonical_span_expr(spans_col: Column | str = "spans") -> Column:
    """Canonical string for a spans array, in array order.

    ``kind|text|media_ref|offset`` per span, ``\\n``-joined.  Nulls become
    empty strings (concat_ws skips nulls, so we coalesce explicitly to keep
    the field count fixed — a null text and a missing text must differ from
    a shifted field).
    """
    c = F.col(spans_col) if isinstance(spans_col, str) else spans_col
    return F.concat_ws(
        "\n",
        F.transform(
            c,
            lambda s: F.concat_ws(
                "|",
                F.coalesce(s["kind"], F.lit("")),
                F.coalesce(s["text"], F.lit("")),
                F.coalesce(s["media_ref"], F.lit("")),
                F.coalesce(s["offset"].cast("string"), F.lit("")),
            ),
        ),
    )


def composite_digest_expr(key_col: Column | str, hash_col: Column | str, algo: str = "md5") -> Column:
    """Aggregate expression: reference-parity ``composite_hash`` of a group.

    Use inside ``groupBy(...).agg(...)``.  Sorting is done on
    ``struct(key, hash)`` (tuple order, as the reference's ``sorted()``);
    keys are cast to string before formatting so the serialized bytes are
    ``"{key}:{hash}"`` exactly (``encoder.py:459``).
    """
    k = F.col(key_col) if isinstance(key_col, str) else key_col
    h = F.col(hash_col) if isinstance(hash_col, str) else hash_col
    pairs = F.sort_array(F.collect_list(F.struct(k.cast("string").alias("k"), h.cast("string").alias("h"))))
    lines = F.concat_ws("\n", F.transform(pairs, lambda p: F.concat_ws(":", p["k"], p["h"])))
    from hashio_spark.functions.digests import digest_expr

    return digest_expr(lines, algo)


def agg_digest_xor(key_col: Column | str, hash_col: Column | str) -> Column:
    """Order-independent scalable group digest: sum-fold (mod 2^64) of
    ``xxhash64(key, hash)`` per row.

    Commutative + associative → map-side partial aggregation, no
    ``collect_list``, no sort, constant memory per group.  This is the
    digest to use for 10^12-row partition manifests; it is *not*
    byte-compatible with the reference (use :func:`composite_digest_expr`
    when parity matters).

    The fold is ADDITION modulo 2^64, not XOR: an XOR fold is blind to
    even multiplicities (a group containing {A, A} digests identically to
    one without them — replacing a duplicated pair {A,A} with {B,B} would
    change neither digest nor row_count).  Addition keeps every
    multiplicity visible while staying commutative.  The sum runs in
    ``decimal(38,0)`` (exact for up to ~10^19 rows/group; Spark 4's ANSI
    mode would throw on a raw ``bigint`` sum overflow) and is reduced to
    16 hex chars via two 32-bit halves.
    """
    k = F.col(key_col) if isinstance(key_col, str) else key_col
    h = F.col(hash_col) if isinstance(hash_col, str) else hash_col
    per_row = F.xxhash64(k.cast("string"), h.cast("string"))
    # The sum runs as THREE long sums over 22/22/20-bit limbs of the
    # (unsigned) per-row hash, recombined in decimal once per GROUP.  A
    # direct decimal(38,0) sum is BigDecimal math per ROW — measured 60
    # cpu-s of the flagship's 85 at 2M docs (the single hottest kernel in
    # the whole pass); the limb sums stay in whole-stage codegen as plain
    # long adds.  Overflow safety: each limb < 2^22, a long sum overflows
    # only past 2^41 rows per group (~2.2 trillion — above any sane
    # partition).  Value-identical to the decimal formulation: the limbs
    # reassemble the UNSIGNED hash, so the group total differs from the
    # signed sum by (#negative rows)·2^64 ≡ 0 (mod 2^64) — stored
    # manifest digests from earlier versions keep verifying.
    mask22 = F.lit((1 << 22) - 1).cast("long")
    s_lo = F.sum(per_row.bitwiseAND(mask22))
    s_mid = F.sum(F.shiftrightunsigned(per_row, 22).bitwiseAND(mask22))
    s_hi = F.sum(F.shiftrightunsigned(per_row, 44))
    dec = "decimal(38,0)"
    total = (
        s_hi.cast(dec) * F.lit(str(2**44)).cast(dec)
        + s_mid.cast(dec) * F.lit(str(2**22)).cast(dec)
        + s_lo.cast(dec)
    )
    # 2^64 exceeds a Java long — ship the modulus as a string literal
    m = F.pmod(total, F.lit(str(2**64)).cast("decimal(38,0)"))
    hi = F.floor(m / F.lit(2**32).cast("decimal(38,0)")).cast("long")
    lo = F.pmod(m, F.lit(2**32).cast("decimal(38,0)")).cast("long")
    return F.lower(F.concat(F.lpad(F.hex(hi), 8, "0"), F.lpad(F.hex(lo), 8, "0")))


def doc_digest_expr(spans_col: Column | str = "spans", algo: str = "md5", parity: bool = False) -> Column:
    """Per-document span-sequence digest over the canonical serialization.

    ``parity=True`` routes through the Arrow pandas-UDF hexdigest kernels
    (reference-identical bytes for xxh64/c4/crc32); default stays JVM-side.

    ``algo="fast"`` hashes the spans column directly with native
    ``xxhash64`` over Spark's internal row encoding — no canonical-string
    materialization at all (one allocation-free pass; ~3× cheaper than
    the string path).  Same sensitivity (any change to kind/text/
    media_ref/offset/order changes the digest, nulls distinguished from
    empty strings) but a different digest VALUE than the canonical
    encodings — use when throughput matters and cross-system parity
    doesn't.
    """
    if algo == "fast" and not parity:
        c = F.col(spans_col) if isinstance(spans_col, str) else spans_col
        return F.lower(F.lpad(F.hex(F.xxhash64(c)), 16, "0"))
    canon = canonical_span_expr(spans_col)
    # algos with no JVM builtin (xxh3, c4) always route through the Arrow
    # parity kernels — a user validating an xxh3 manifest must not get
    # ValueError from the builtin tier
    if parity or algo in ("xxh3_64", "xxh3_128", "c4"):
        from hashio_spark.functions.digests import parity_udf

        return parity_udf(algo)(canon)
    from hashio_spark.functions.digests import digest_expr

    return digest_expr(canon, algo)
