"""Set reconciliation with INVERTIBLE BLOOM LOOKUP TABLES — find the
symmetric difference of two replicas' key sets with communication and
memory proportional to the DIFFERENCE, not the tables (Eppstein et
al., "What's the Difference?", SIGCOMM 2011; Goodrich & Mitzenmacher
IBLT). The replication-repair primitive: two 100 TB replicas that
differ by 40 rows should cost ~40 cells to reconcile, not a
cross-datacenter anti-join of everything.

Scale shape: building a sketch is ONE pass — each key explodes to k
cell rows and a single groupBy(cell) folds (count, key_xor,
check_xor) with map-side partial combine; the shuffle carries m
cells, a constant. Sketches subtract cell-wise (counts subtract,
XORs combine — another m-row operation) and the subtracted table
PEELS on the driver — bounded by m, the declared sketch size, never
by table size. XOR fields are the canonical IBLT formulation: exact,
overflow-free, order-independent, partial-aggregable. Portable md5
hashes make sketches built by different engines/runs bit-identical,
so the decode is deterministic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


class IBLTDecodeError(RuntimeError):
    """Peeling stalled: the sketch was sized below the actual
    difference (cells < ~1.5× |A△B|). Rebuild with more cells —
    the standard protocol ladder (size estimate via a strata
    sketch, then the IBLT) doubles and retries."""


K_HASHES = 3


def _cell(key_col, i: int, cells: int):
    """Cell index for hash function i: portable 60-bit md5 bucket of
    'i:key' — the q155/q92 cross-engine draw."""
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(f"{i}:"), key_col.cast("string"))), 1, 15
        ),
        16,
        10,
    ).cast("bigint")
    return F.pmod(h, F.lit(cells))


def _check(key_col):
    """Key checksum (independent of the cell hashes): 60-bit md5
    bucket of 'c:key'. Guards peeling against collided cells."""
    return F.conv(
        F.substring(
            F.md5(F.concat(F.lit("c:"), key_col.cast("string"))), 1, 15
        ),
        16,
        10,
    ).cast("bigint")


def _cell_rows(df: DataFrame, key_col: str, cells: int, sign: int) -> DataFrame:
    """Pre-aggregation cell-update stream: each key becomes K rows
    (cell_i, sign, key, check) via ONE explode over the array of its
    K cell indices — one scan of ``df``, one check-hash per key,
    instead of the K scans a per-hash UNION costs (guide §1.2). Sum
    and XOR are associative-commutative, so any grouping of these
    rows yields the bit-identical sketch."""
    k = F.col(key_col)
    return df.select(
        F.explode(
            F.array(*[_cell(k, i, cells) for i in range(K_HASHES)])
        ).alias("cell"),
        F.lit(sign).cast("long").alias("d_count"),
        k.cast("long").alias("d_key"),
        _check(k).alias("d_check"),
    )


def iblt_diff(
    a: DataFrame, b: DataFrame, key_col: str, cells: int = 256
) -> list[tuple[int, str]]:
    """Decode A△B from the subtracted sketches: build IBLT(A) ⊖
    IBLT(B) (one distributed pass over each side), collect the m
    cells (bounded by the declared sketch size — this is the ONLY
    driver-side data), and peel: a cell with count ±1 whose checksum
    matches its key XOR holds exactly one unrecovered key (possibly
    amid cancelled pairs — the checksum arbitrates); remove it from
    its K cells and repeat until the sketch is empty. Returns
    [(key, 'a_only' | 'b_only'), ...].

    Raises :class:`IBLTDecodeError` when peeling stalls (undersized
    sketch) — never returns a silently partial difference."""
    import hashlib

    # one aggregate over the union of both sides' RAW cell-update
    # streams: sum/XOR are associative-commutative, so skipping the
    # per-side groupBy yields the bit-identical subtracted sketch
    # with ONE exchange (m cells) instead of three (guide §2.4).
    sk = (
        _cell_rows(a, key_col, cells, sign=1)
        .unionByName(_cell_rows(b, key_col, cells, sign=-1))
        .groupBy("cell")
        .agg(
            F.sum("d_count").alias("count"),
            F.expr("bit_xor(d_key)").alias("key_xor"),
            F.expr("bit_xor(d_check)").alias("check_xor"),
        )
    )
    state = {
        int(r["cell"]): [
            int(r["count"]),
            int(r["key_xor"]),
            int(r["check_xor"]),
        ]
        for r in sk.collect()
    }

    def py_cell(key: int, i: int) -> int:
        return int(
            hashlib.md5(f"{i}:{key}".encode()).hexdigest()[:15], 16
        ) % cells

    def py_check(key: int) -> int:
        return int(hashlib.md5(f"c:{key}".encode()).hexdigest()[:15], 16)

    out: list[tuple[int, str]] = []
    progress = True
    while progress:
        progress = False
        for c in list(state):
            cnt, kx, cx = state.get(c, (0, 0, 0))
            if cnt in (1, -1) and kx >= 0 and cx == py_check(kx):
                key = kx
                out.append((key, "a_only" if cnt == 1 else "b_only"))
                for i in range(K_HASHES):
                    cc = py_cell(key, i)
                    cell = state.setdefault(cc, [0, 0, 0])
                    cell[0] -= cnt
                    cell[1] ^= key
                    cell[2] ^= py_check(key)
                progress = True
        for c in [c for c, v in state.items() if v == [0, 0, 0]]:
            del state[c]
    if state:
        raise IBLTDecodeError(
            f"peeling stalled with {len(state)} nonzero cells — "
            f"sketch undersized for the difference (cells={cells})"
        )
    return sorted(out)


def merkle_tree(
    df: DataFrame,
    key_col: str,
    digest_col,
    leaf_width: int = 1024,
    fanout: int = 4,
    levels: int = 4,
) -> DataFrame:
    """RANGE MERKLE TREE over a keyed table — the divergence
    LOCALIZER that pairs with :func:`iblt_diff`'s decoder: two
    replicas compare O(fanout·levels) digests top-down to find WHICH
    key ranges differ, then reconcile just those (Cassandra/Dynamo
    repair shape). Leaf = md5 over the key-ordered row digests of one
    ``leaf_width`` key range; each level up hashes ``fanout``
    children in child order. All hashing is portable md5 over
    deterministic string concatenation, so two engines (or two
    datacenters) build bit-identical trees from identical data.

    One shuffle per level, each a hash aggregate whose cardinality
    shrinks by ``fanout``× — the leaf aggregate is the only row-scale
    pass (map-side combine applies; row digests shuffle, not rows).
    Returns (level, node_id, digest): level 0 = leaves."""
    leaf_id = F.floor(F.col(key_col) / F.lit(leaf_width)).cast("long")
    rows = df.select(
        leaf_id.alias("node_id"),
        F.col(key_col).cast("long").alias("__k"),
        digest_col.alias("__d"),
    )
    level_df = (
        rows.groupBy("node_id")
        .agg(
            F.md5(
                F.concat_ws(
                    "",
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct("__k", "__d"))
                        ),
                        lambda x: x["__d"],
                    ),
                )
            ).alias("digest")
        )
        .select(F.lit(0).alias("level"), "node_id", "digest")
    )
    out = level_df
    for lvl in range(1, levels):
        level_df = (
            level_df.select(
                F.floor(F.col("node_id") / F.lit(fanout))
                .cast("long")
                .alias("node_id"),
                F.col("node_id").alias("__child"),
                "digest",
            )
            .groupBy("node_id")
            .agg(
                F.md5(
                    F.concat_ws(
                        "",
                        F.transform(
                            F.array_sort(
                                F.collect_list(
                                    F.struct("__child", "digest")
                                )
                            ),
                            lambda x: x["digest"],
                        ),
                    )
                ).alias("digest")
            )
            .select(F.lit(lvl).alias("level"), "node_id", "digest")
        )
        out = out.unionByName(level_df)
    return out


def _stratum(key_col, strata: int):
    """Stratum = number of trailing zero bits of the key's portable
    hash, capped at ``strata - 1`` — stratum i holds ~2^-(i+1) of all
    keys (the Eppstein strata-estimator partition)."""
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("s:"), key_col.cast("string"))), 1, 15
        ),
        16,
        10,
    ).cast("bigint")
    # trailing zeros of a 60-bit value via the bit-trick h & -h
    # (lowest set bit), then integer log2 from the bit length
    lowbit = h.bitwiseAND(-h)
    tz = F.when(h == 0, F.lit(strata - 1)).otherwise(
        F.length(F.conv(lowbit, 10, 2)) - 1
    )
    return F.least(tz, F.lit(strata - 1))


def iblt_size_estimate(
    a: DataFrame,
    b: DataFrame,
    key_col: str,
    strata: int = 16,
    cells_per_stratum: int = 64,
) -> int:
    """STRATA ESTIMATOR for |A△B| — the sizing step of the
    reconciliation protocol ladder (:class:`IBLTDecodeError`'s
    docstring): before building the real IBLT you need to know how
    many cells to give it, and this estimates the difference with
    ONE fixed-size exchange regardless of either table's size.

    Keys partition into strata by trailing zeros of a portable hash
    (stratum i holds ~2^-(i+1) of keys); each stratum gets a small
    IBLT of both sides. Decoding from the DEEPEST stratum down, the
    first stratum that fails to peel marks the sampling floor: the
    difference estimate is the decoded-so-far count scaled by the
    sampled fraction, ``2^(i+1) × Σ_{j>i} |decoded_j|``. Total
    sketch: strata × cells_per_stratum cells — a constant.

    Returns the estimated |A△B| (0 when every stratum decodes empty
    — then the replicas agree). Size the real IBLT at ~2× the
    estimate (peeling wants load < 0.8)."""
    import hashlib

    def build(side: DataFrame, sign: int) -> DataFrame:
        # one scan per side: stratum + check hashed once per key, the
        # K cell indices exploded from one array (guide §1.2) — the
        # same fused shape as :func:`_cell_rows`, plus the stratum key.
        k = F.col(key_col)
        return side.select(
            F.explode(
                F.array(
                    *[_cell(k, i, cells_per_stratum) for i in range(K_HASHES)]
                )
            ).alias("cell"),
            _stratum(k, strata).alias("__st"),
            F.lit(sign).cast("long").alias("d_count"),
            k.cast("long").alias("d_key"),
            _check(k).alias("d_check"),
        )

    # single aggregate over both sides' raw cell updates (sum/XOR are
    # associative-commutative → bit-identical subtracted sketch, one
    # exchange of strata × cells rows instead of three).
    sk = (
        build(a, 1)
        .unionByName(build(b, -1))
        .groupBy("__st", "cell")
        .agg(
            F.sum("d_count").alias("count"),
            F.expr("bit_xor(d_key)").alias("key_xor"),
            F.expr("bit_xor(d_check)").alias("check_xor"),
        )
        .collect()
    )
    per_stratum: dict[int, dict[int, list[int]]] = {}
    for r in sk:
        per_stratum.setdefault(int(r["__st"]), {})[int(r["cell"])] = [
            int(r["count"]), int(r["key_xor"]), int(r["check_xor"])
        ]

    def py_cell(key: int, i: int) -> int:
        return int(
            hashlib.md5(f"{i}:{key}".encode()).hexdigest()[:15], 16
        ) % cells_per_stratum

    def py_check(key: int) -> int:
        return int(hashlib.md5(f"c:{key}".encode()).hexdigest()[:15], 16)

    def peel(state: dict[int, list[int]]) -> int | None:
        """Peel one stratum's subtracted sketch; count or None."""
        n = 0
        progress = True
        while progress:
            progress = False
            for c in list(state):
                cnt, kx, cx = state.get(c, (0, 0, 0))
                if cnt in (1, -1) and cx == py_check(kx):
                    n += 1
                    for i in range(K_HASHES):
                        cc = py_cell(kx, i)
                        cell = state.setdefault(cc, [0, 0, 0])
                        cell[0] -= cnt
                        cell[1] ^= kx
                        cell[2] ^= py_check(kx)
                    progress = True
            for c in [c for c, v in state.items() if v == [0, 0, 0]]:
                del state[c]
        return None if state else n

    decoded = 0
    for i in range(strata - 1, -1, -1):
        got = peel(per_stratum.get(i, {}))
        if got is None:
            # stratum i is the sampling floor: strata > i held
            # ~2^-(i+2)+... of keys; scale the decoded tail
            return decoded * (1 << (i + 1))
        decoded += got
    return decoded  # every stratum decoded: exact difference


def reconcile(
    a: DataFrame,
    b: DataFrame,
    key_col: str,
    min_cells: int = 64,
    max_attempts: int = 4,
) -> list[tuple[int, str]]:
    """The full reconciliation protocol: estimate |A△B| with the
    strata sketch, size the IBLT at 2× the estimate (peeling wants
    load < 0.8), decode — doubling and retrying on a stall (the
    estimate is a random variable; the ladder makes the protocol
    total). Every rung costs one bounded-size exchange."""
    est = iblt_size_estimate(a, b, key_col)
    if est == 0:
        # strata decoding found nothing — verify with one small IBLT
        # rather than trusting the estimate blindly
        cells = min_cells
    else:
        cells = max(min_cells, 2 * est)
    for _ in range(max_attempts):
        try:
            return iblt_diff(a, b, key_col, cells=cells)
        except IBLTDecodeError:
            cells *= 2
    raise IBLTDecodeError(
        f"difference did not decode at {cells // 2} cells "
        f"after {max_attempts} attempts"
    )
