"""Materialized views: definition, automatic query rewrite, and
incremental refresh from an MTable changefeed.

The classic OLAP-engine capability (Calcite/BigQuery/Snowflake-style
"aggregate awareness"): a user declares summary tables once, keeps
issuing queries against the BASE table's logical shape, and the
engine answers from the cheapest summary whose grain subsumes the
query — never touching the fact table. Public background: the
GSB/LSY view-rewrite literature (Goldstein & Larson, SIGMOD'01) and
Calcite's ``MaterializedViewRule``; DataflowEx itself has no SQL
layer, so this is engine surface the Spark-first rebuild adds on top
of the reference's ETL operators.

Rewrite rule implemented (aggregate rollup subsumption):

- query GROUP BY keys must be a subset of the MV's grain keys;
- every filter column must be an MV grain key (so the predicate can
  be applied EXACTLY on the summary rows — filtering at the MV grain
  is lossless because each MV row holds fully-aggregated measures
  for one grain cell);
- every requested measure must be derivable from MV measures under
  re-aggregation: SUM→SUM(sum_x), COUNT(*)→SUM(cnt), MIN→MIN(min_x),
  MAX→MAX(max_x), AVG→SUM(sum_x)/SUM(cnt) (computed, never averaged
  averages).

Among the matching MVs the rewriter picks the COARSEST grain (fewest
grain columns ⇒ fewest summary rows to re-aggregate). At 100 TB the
payoff is the usual one: a 1e12-row fact table answers grain-subset
aggregates from a 1e5-row summary — the scan, shuffle, and agg all
happen on the summary's row count, and the fact table is read zero
times (asserted via the physical plan: no base-table file in any
scan).

Incremental refresh (`refresh_incremental`) keeps an MV stored as an
MTable in sync with its base MTable using ONLY the base's
``read_changes(images="both")`` feed — the q305 IVM algebra
(Materialize/DBSP shape: old ⊕ Σ per-group deltas) but landed into a
PERSISTED summary via a keyed MERGE that rewrites only the summary
files holding touched groups. SUM/COUNT are self-maintainable;
MIN/MAX are NOT under deletes/updates-down (a retracted extremum
needs the base), so refresh raises unless the feed is insert-only —
the honest Delta/Snowflake restriction, surfaced instead of silently
recomputed.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

_REAGG = {"sum": F.sum, "min": F.min, "max": F.max}


@dataclass(frozen=True)
class MVDef:
    """One declared materialized view.

    ``aggs`` maps the MV's stored measure column → (fn, base_col):
    fn ∈ {sum,min,max} with the base column it folds, or
    ("count", None) for the row count. The stored measure is the
    PARTIAL aggregate at ``keys`` grain; re-aggregation to any
    coarser grain happens at answer time.
    """

    name: str
    base: str
    keys: tuple[str, ...]
    aggs: dict[str, tuple[str, str | None]]
    path: str


def _measure_exprs(aggs: dict[str, tuple[str, str | None]]) -> list[Column]:
    out = []
    for mv_col, (fn, col) in aggs.items():
        if fn == "count":
            out.append(F.count(F.lit(1)).cast("long").alias(mv_col))
        elif fn in ("sum", "min", "max"):
            out.append(_REAGG[fn](F.col(col)).alias(mv_col))
        elif fn == "hll":
            out.append(_hll_store_expr(col).alias(mv_col))
        else:
            raise ValueError(f"unsupported MV agg fn: {fn}")
    return out


class MVCatalog:
    """Registry of materialized views over named base tables, with
    automatic aggregate-rollup rewrite."""

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self._views: dict[str, MVDef] = {}

    # -- definition ---------------------------------------------------

    def define(
        self,
        name: str,
        base: str,
        base_df: DataFrame,
        keys: list[str],
        aggs: dict[str, tuple[str, str | None]],
        path: str,
    ) -> MVDef:
        """Materialize ``base_df`` at ``keys`` grain and register.

        The summary is written range-partitioned on the grain keys so
        grain-key filters prune summary files too (the MV read path
        gets the same data-skipping the base enjoys).

        Lattice rollup (Goldstein–Larson): when an already-registered
        MV over the same base subsumes this grain and every measure
        re-aggregates EXACTLY (count/min/max/hll always; sum only for
        integral base columns — float sums drift with summation order
        and decimal sums widen the result type), the summary is built
        from that MV's stored rows instead of re-scanning the fact
        table. Measures are matched by (fn, base-column-name) — the
        same subsumption contract :meth:`answer` already relies on.
        The view being (re)defined is never its own source: a view of
        the same name or path would be read while it is overwritten."""
        mv_df = self._rollup_frame(base, keys, aggs, base_df, name, path)
        if mv_df is None:
            mv_df = (
                with_hll_inputs(base_df, aggs)
                .groupBy(*[F.col(k) for k in keys])
                .agg(*_measure_exprs(aggs))
            )
        (
            mv_df.repartitionByRange(
                max(1, min(8, len(keys) * 4)), *[F.col(k) for k in keys]
            )
            .write.mode("overwrite")
            .parquet(path)
        )
        d = MVDef(name, base, tuple(keys), dict(aggs), path)
        self._views[name] = d
        return d

    def register(self, mv: MVDef) -> None:
        self._views[mv.name] = mv

    def _rollup_frame(
        self,
        base: str,
        keys: list[str],
        aggs: dict[str, tuple[str, str | None]],
        base_df: DataFrame,
        name: str | None = None,
        path: str | None = None,
    ) -> DataFrame | None:
        """The new summary re-aggregated from the coarsest registered
        MV that subsumes it exactly, or None (build from the base).
        Views named ``name`` or stored at ``path`` — the target being
        defined — are no candidates.

        Exactness per measure: count → SUM(cnt) (long, exact);
        min/max → MIN/MAX (same value, same type); hll → element-wise
        register MAX (max is associative, so merging per-fine-cell
        registers IS the direct build); sum → SUM(sum_x) only when
        the base column is integral — long stays long and integer
        addition is order-free, while float re-summation drifts by
        ulps and decimal re-summation widens the stored type."""
        integral = {"tinyint", "smallint", "int", "bigint"}
        dtypes = dict(base_df.dtypes)
        matches = []
        target = path and os.path.normpath(path)
        for mv in self._views.values():
            if mv.base != base or not set(keys) <= set(mv.keys):
                continue
            if mv.name == name or os.path.normpath(mv.path) == target:
                continue
            by_def = {v: k for k, v in mv.aggs.items()}
            exprs: list[Column] | None = []
            for out, (fn, col) in aggs.items():
                src = by_def.get((fn, col if fn != "count" else None))
                if src is None:
                    exprs = None
                    break
                if fn == "count":
                    exprs.append(F.sum(src).cast("long").alias(out))
                elif fn == "sum":
                    if dtypes.get(col) not in integral:
                        exprs = None
                        break
                    exprs.append(F.sum(src).alias(out))
                elif fn in ("min", "max"):
                    exprs.append(_REAGG[fn](F.col(src)).alias(out))
                elif fn == "hll":
                    exprs.append(_hll_merge_expr(src).alias(out))
                else:
                    exprs = None
                    break
            if exprs is not None:
                matches.append((mv, exprs))
        if not matches:
            return None
        mv, exprs = min(matches, key=lambda m: (len(m[0].keys), m[0].name))
        return (
            self.spark.read.parquet(mv.path)
            .groupBy(*[F.col(k) for k in keys])
            .agg(*exprs)
        )

    # -- rewrite ------------------------------------------------------

    def _derive(
        self, mv: MVDef, aggs: dict[str, tuple[str, str | None]]
    ) -> tuple[list[Column], list[tuple[str, str]]] | None:
        """Map each requested measure onto MV columns, or None if any
        measure is not derivable from this MV. Returns (agg exprs,
        post-projection steps) — sketch measures merge registers in
        the aggregate and estimate in a post step."""
        by_def = {v: k for k, v in mv.aggs.items()}  # (fn,col) -> mv col
        exprs: list[Column] = []
        post: list[tuple[str, str]] = []  # (out_col, merged-reg col)
        for out, (fn, col) in aggs.items():
            if fn == "count":
                src = by_def.get(("count", None))
                if src is None:
                    return None
                exprs.append(F.sum(src).cast("long").alias(out))
            elif fn == "sum":
                src = by_def.get(("sum", col))
                if src is None:
                    return None
                exprs.append(F.sum(src).alias(out))
            elif fn in ("min", "max"):
                src = by_def.get((fn, col))
                if src is None:
                    return None
                exprs.append(_REAGG[fn](F.col(src)).alias(out))
            elif fn == "avg":
                s, c = by_def.get(("sum", col)), by_def.get(("count", None))
                if s is None or c is None:
                    return None
                exprs.append((F.sum(s) / F.sum(c)).alias(out))
            elif fn == "approx_distinct":
                src = by_def.get(("hll", col))
                if src is None:
                    return None
                tmp = f"__hll__{out}"
                exprs.append(_hll_merge_expr(src).alias(tmp))
                post.append((out, tmp))
            else:
                return None
        return exprs, post

    def answer(
        self,
        base: str,
        keys: list[str],
        aggs: dict[str, tuple[str, str | None]],
        where: dict[str, tuple] | None = None,
    ) -> tuple[DataFrame, str] | None:
        """Answer (GROUP BY keys, aggs, WHERE col BETWEEN lo AND hi)
        from the coarsest subsuming MV; None when no MV matches (the
        caller falls back to the base table)."""
        where = where or {}
        matches: list[tuple[MVDef, list[Column]]] = []
        for mv in self._views.values():
            if mv.base != base:
                continue
            if not set(keys) <= set(mv.keys):
                continue
            if not set(where) <= set(mv.keys):
                continue
            derived = self._derive(mv, aggs)
            if derived is not None:
                matches.append((mv, derived))
        if not matches:
            return None
        mv, (exprs, post) = min(
            matches, key=lambda m: (len(m[0].keys), m[0].name)
        )
        df = self.spark.read.parquet(mv.path)
        for col, (lo, hi) in where.items():
            df = df.filter(F.col(col).between(lo, hi))
        out = (
            df.groupBy(*[F.col(k) for k in keys]).agg(*exprs)
            if keys
            else df.agg(*exprs)
        )
        for out_col, tmp in post:
            out = out.withColumn(
                out_col, _hll_estimate_expr(tmp)
            ).drop(tmp)
        return out, mv.name


# -- incremental refresh ----------------------------------------------


def group_deltas(
    changes: DataFrame,
    keys: list[str],
    aggs: dict[str, tuple[str, str | None]],
) -> DataFrame:
    """Fold an MTable ``read_changes(images="both")`` feed into one
    delta row per touched group: Σ(signed contribution) for sums,
    ±1 per row for the count. Deletes contribute −pre, inserts +post,
    updates (post − pre) — and an update that MOVES a row across
    groups is two signed contributions (−pre under the pre-image
    keys, +post under the post-image keys), which the union below
    produces naturally. Grain-key NULLs are grouped as values (same
    as GROUP BY)."""
    for out, (fn, _col) in aggs.items():
        if fn not in ("sum", "count"):
            raise ValueError(
                f"{out}: only SUM/COUNT are self-maintainable under "
                "general changefeeds; MIN/MAX need insert-only "
                "(use refresh_incremental(..., insert_only=True))"
            )
    neg = changes.filter(F.col("op").isin("D", "U")).select(
        *[F.col(f"{k}__pre").alias(k) for k in keys],
        *[
            (
                F.lit(-1).cast("long")
                if fn == "count"
                else -F.coalesce(F.col(f"{col}__pre"), F.lit(0))
            ).alias(out)
            for out, (fn, col) in aggs.items()
        ],
    )
    pos = changes.filter(F.col("op").isin("I", "U")).select(
        *[F.col(f"{k}__post").alias(k) for k in keys],
        *[
            (
                F.lit(1).cast("long")
                if fn == "count"
                else F.coalesce(F.col(f"{col}__post"), F.lit(0))
            ).alias(out)
            for out, (fn, col) in aggs.items()
        ],
    )
    return (
        neg.unionByName(pos)
        .groupBy(*[F.col(k) for k in keys])
        .agg(*[F.sum(out).alias(out) for out in aggs])
    )


def refresh_incremental(
    mv_table,
    changes: DataFrame,
    keys: list[str],
    aggs: dict[str, tuple[str, str | None]],
    insert_only: bool = False,
) -> None:
    """Apply a base-table changefeed to an MV persisted as an MTable
    keyed by a single grain column (MTable's merge key).

    Cost model at 100 TB: the deltas frame is as big as the CHANGE
    SET's touched groups, the merge rewrites only the summary files
    containing those groups — base-table size never appears. Groups
    whose maintained count reaches 0 are deleted from the summary
    (the group no longer exists in the base)."""
    if insert_only:
        bad = changes.filter(F.col("op") != "I").limit(1).count()
        if bad:
            raise ValueError(
                "insert_only refresh saw a delete/update in the feed"
            )
    if len(keys) != 1:
        # MTable's merge key is single-column by contract; silently
        # keeping keys[0] would collapse distinct groups sharing it
        # through the keyed merge and corrupt the persisted summary.
        raise ValueError(
            "incremental refresh needs a single-column grain (MTable "
            f"merge key); got {keys} — derive a composite surrogate "
            "key column from the grain first"
        )
    deltas = group_deltas(changes, keys, aggs)
    key = keys[0]
    cnt_col = next(
        (out for out, (fn, _c) in aggs.items() if fn == "count"), None
    )
    if cnt_col is None and not insert_only:
        # without a maintained row count, a group whose base rows all
        # disappeared is indistinguishable from a zero-sum group — the
        # summary would keep a stale row
        raise ValueError(
            "general-changefeed refresh needs a count measure to "
            "detect emptied groups; add ('count', None) to aggs"
        )
    cur = mv_table.read().select(
        *keys, *[F.col(c).alias(f"{c}__old") for c in aggs]
    )
    merged = deltas.join(cur, on=list(keys), how="left").select(
        *keys,
        *[
            (F.coalesce(F.col(f"{c}__old"), F.lit(0)) + F.col(c)).alias(c)
            for c in aggs
        ],
    )
    gone = (
        merged.filter(F.col(cnt_col) == 0) if cnt_col is not None else None
    )
    alive = (
        merged.filter(F.col(cnt_col) > 0) if cnt_col is not None else merged
    )
    ups = alive.select(
        key,
        F.lit(1).alias("__ts"),
        F.lit("U").alias("__op"),
        F.lit(0).alias("__tie"),
        *[c for c in aggs],
    )
    if gone is not None:
        ups = ups.unionByName(
            gone.select(
                key,
                F.lit(1).alias("__ts"),
                F.lit("D").alias("__op"),
                F.lit(0).alias("__tie"),
                *[c for c in aggs],
            )
        )
    mv_table.merge(ups, "__ts", "__op", "__tie", list(aggs))


# -- sketch-backed measures ---------------------------------------------
#
# COUNT DISTINCT does not re-aggregate: SUM of per-cell distincts
# over-counts shared keys, so a plain MV cannot answer coarser-grain
# distinct questions. A MERGEABLE SKETCH can: the MV stores the
# portable HLL register array per grain cell (the q315 sketch — md5
# hash, p=6, raw estimate with no libm step), and rollup to ANY
# coarser grain is element-wise MAX of registers, which is exact
# register algebra (max of maxes), not approximation stacking. The
# estimate is bit-identical across engines, so the sketch-backed
# answer is hash-oracle-able end to end.

HLL_MV_P = 6
_HLL_M = 1 << HLL_MV_P
_HLL_WBITS = 60 - HLL_MV_P
_HLL_ALPHA = 0.7213 / (1.0 + 1.079 / _HLL_M)  # same literal in SQL


def with_hll_inputs(df: DataFrame, aggs) -> DataFrame:
    """Project the (register index, rank) helper columns ONCE per
    hll measure BEFORE the aggregate: the 64 conditional MAXes in
    :func:`_hll_store_expr` would otherwise each re-evaluate the
    md5/conv chain per row (codegen does NOT share subexpressions
    across aggregate functions — measured 14 s → 2 s on 6M rows)."""
    for _mv_col, (fn, col) in aggs.items():
        if fn != "hll" or f"__hj_{col}" in df.columns:
            continue
        h = F.conv(
            F.substring(F.md5(F.col(col).cast("string")), 1, 15), 16, 10
        ).cast("bigint")
        w = F.floor(h / F.lit(_HLL_M)).cast("long")
        df = df.withColumn(
            f"__hj_{col}", F.pmod(h, F.lit(_HLL_M))
        ).withColumn(
            f"__hr_{col}",
            F.when(w == 0, F.lit(_HLL_WBITS + 1)).otherwise(
                F.lit(_HLL_WBITS) - F.length(F.bin(w)) + 1
            ),
        )
    return df


def _hll_store_expr(col: str) -> Column:
    """64-long register array for one grain cell, in ONE hash agg
    (64 conditional MAXes over the PRE-PROJECTED (j, rho) columns
    from :func:`with_hll_inputs` — the minhash assemble-outside-agg
    idiom)."""
    j = F.col(f"__hj_{col}")
    rho = F.col(f"__hr_{col}")
    return F.array(
        *[
            F.coalesce(
                F.max(F.when(j == jj, rho)), F.lit(0)
            ).cast("long")
            for jj in range(_HLL_M)
        ]
    )


def _hll_merge_expr(src: str) -> Column:
    """Element-wise MAX of register arrays across rows."""
    return F.array(
        *[
            F.coalesce(
                F.max(F.element_at(F.col(src), jj + 1)), F.lit(0)
            ).cast("long")
            for jj in range(_HLL_M)
        ]
    )


def _hll_estimate_expr(arr: str) -> Column:
    """Raw HLL estimate from a register array: exact integer
    Σ 2^(55−M_j), ONE float division (q315's cross-engine form)."""
    # SQL form: the shiftleft builtin takes a COLUMN exponent in SQL
    # (the Python wrapper insists on a literal int)
    s = F.expr(
        f"aggregate({arr}, CAST(0 AS BIGINT), (acc, mj) -> "
        f"acc + shiftleft(CAST(1 AS BIGINT), "
        f"CAST({_HLL_WBITS + 1} - mj AS INT)))"
    )
    return F.floor(
        F.lit(_HLL_ALPHA * _HLL_M * _HLL_M * float(1 << (_HLL_WBITS + 1)))
        / s.cast("double")
    ).cast("long")


# -- view selection (which MVs to build) ---------------------------------


def lattice_cell_counts(
    df: DataFrame, dims: list[str]
) -> dict[tuple[str, ...], int]:
    """Cell count of EVERY grain subset of ``dims`` in ONE
    distributed pass: a CUBE over the dims tagged with grouping_id —
    each cube output row belongs to exactly one grouping set, so
    counting rows per grouping_id yields every candidate view's size
    simultaneously (instead of 2^d separate COUNT DISTINCT scans).
    grouping_id bit i set ⇔ dims[i] is ROLLED UP in that set."""
    if len(dims) > 6:
        raise ValueError("2^d lattice; keep dims ≤ 6 (quantize first)")
    gid = (
        df.cube(*[F.col(d) for d in dims])
        .agg(F.grouping_id().alias("__gid"))
        .groupBy("__gid")
        .agg(F.count(F.lit(1)).cast("long").alias("cells"))
        .collect()
    )
    d = len(dims)
    out: dict[tuple[str, ...], int] = {}
    for r in gid:
        g = r["__gid"]
        grain = tuple(
            dims[i] for i in range(d) if not (g >> (d - 1 - i)) & 1
        )
        out[grain] = r["cells"]
    return out


def hru_greedy(
    cells: dict[tuple[str, ...], int], k: int
) -> list[tuple[tuple[str, ...], int, int]]:
    """Harinarayan–Rajaraman–Ullman (SIGMOD'96) greedy view
    selection over the grain lattice: starting from only the base
    (apex) view, repeatedly materialize the view with the largest
    BENEFIT = Σ over every view w it subsumes of
    max(0, cost(w) − cells(v)), where cost(w) is the cheapest
    already-materialized ancestor. The greedy is (1−1/e)-optimal —
    the paper's guarantee. Driver-side over ≤2^d entries (the
    hybrid-cutover rule); ties break lexicographically for
    determinism. Returns [(grain, cells, benefit)] in pick order."""
    apex = max(cells, key=len)
    views = {g: c for g, c in cells.items() if g != apex}
    cost = {g: cells[apex] for g in cells}  # base answers everything

    def subsumes(v: tuple[str, ...], w: tuple[str, ...]) -> bool:
        return set(w) <= set(v)

    picked: list[tuple[tuple[str, ...], int, int]] = []
    for _ in range(min(k, len(views))):
        best = None
        for v, cv in sorted(views.items()):
            b = sum(
                max(0, cost[w] - cv)
                for w in cells
                if subsumes(v, w)
            )
            if best is None or b > best[2]:
                best = (v, cv, b)
        if best is None or best[2] <= 0:
            break
        v, cv, b = best
        picked.append(best)
        del views[v]
        for w in cells:
            if subsumes(v, w):
                cost[w] = min(cost[w], cv)
    return picked


def refresh_insert_only(
    mv_table,
    changes: DataFrame,
    keys: list[str],
    aggs: dict[str, tuple[str, str | None]],
) -> None:
    """Insert-only MV refresh supporting EVERY mergeable measure —
    count/sum (add), min/max (least/greatest), and hll register
    arrays (element-wise max): under appends all of them are
    semilattice merges, so the summary stays exact without reading
    the base (the restriction :func:`refresh_incremental` enforces
    for min/max/hll under general feeds disappears here). The feed
    must be pure inserts (guarded). New-row partials aggregate at
    grain once; the keyed MERGE rewrites only touched summary files."""
    if len(keys) != 1:
        raise ValueError(
            "insert-only refresh needs a single-column grain (MTable "
            f"merge key); got {keys} — derive a composite surrogate "
            "key column from the grain first"
        )
    value_cols = sorted(
        {col for _out, (_fn, col) in aggs.items() if col is not None}
    )
    news = changes.select(
        *[F.col(f"{k}__post").alias(k) for k in keys],
        *[F.col(f"{c}__post").alias(c) for c in value_cols],
        "op",
    )
    # the insert-only guard rides the SAME scan as the grain
    # aggregate (a separate filter+count paid a second full pass over
    # the feed): per-grain non-insert counts fold into the aggregate,
    # the tiny grain frame is materialized, and the guard check is a
    # driver fold over it — the feed is read exactly once
    fresh = (
        with_hll_inputs(news, aggs)
        .groupBy(*[F.col(k) for k in keys])
        .agg(
            *_measure_exprs(aggs),
            F.sum((F.col("op") != "I").cast("long")).alias("__bad"),
        )
        .localCheckpoint(eager=True)
    )
    if fresh.agg(F.sum("__bad")).first()[0]:
        raise ValueError("refresh_insert_only saw a non-insert op")
    fresh = fresh.drop("__bad")
    cur = mv_table.read().select(
        *keys, *[F.col(c).alias(f"{c}__old") for c in aggs]
    )
    merged_cols = []
    for out, (fn, _col) in aggs.items():
        old, new = F.col(f"{out}__old"), F.col(out)
        if fn in ("count", "sum"):
            expr = F.coalesce(old, F.lit(0)) + new
        elif fn == "min":
            expr = F.least(F.coalesce(old, new), new)
        elif fn == "max":
            expr = F.greatest(F.coalesce(old, new), new)
        elif fn == "hll":
            expr = F.zip_with(
                F.coalesce(old, new), new, lambda a, b: F.greatest(a, b)
            )
        else:
            raise ValueError(f"unsupported insert-only measure: {fn}")
        merged_cols.append(expr.alias(out))
    merged = fresh.join(cur, on=list(keys), how="left").select(
        *keys, *merged_cols
    )
    key = keys[0]
    ups = merged.select(
        key,
        F.lit(1).alias("__ts"),
        F.lit("U").alias("__op"),
        F.lit(0).alias("__tie"),
        *[c for c in aggs],
    )
    mv_table.merge(ups, "__ts", "__op", "__tie", list(aggs))
