"""Two-phase exact global ordering (rank / running sum) without the
single-task funnel.

``Window.orderBy(...)`` with no ``partitionBy`` is the classic scale
cliff: Spark plans it as ONE task sorting the ENTIRE frame — fine on a
bounded 24-row hour table, fatal on an SF-scaling frame at the 100 TB
design point. This module gives the exact same answers with a parallel
two-phase plan (the ``operators/topk.py`` shape, extended from "top k"
to "every rank").

Why not ``repartitionByRange`` + ``spark_partition_id()``: the range
partitioner SAMPLES its boundaries per exchange execution, and Spark
does not guarantee the physical reuse of identical exchanges — when the
local-rank subtree and the prefix-count subtree each materialized their
own range exchange, the sampled boundaries disagreed and every rank
drifted (caught by the sf0.1 gate in round 7; sf0.001/sf0.01 were
green because the sample there covered the whole frame). The fix is a
partitioning that is a PURE FUNCTION of the row, so any recomputation
of any subtree lands every row in the same bucket:

1. One exact min/max aggregate over the primary sort column (and the
   tie-break column) — deterministic, map-side combinable, 1 row.
2. Each row computes its fine bucket arithmetically: ``floor((v - min)
   / width)`` over ``fine_buckets`` equi-width cells (monotone in the
   sort direction, so bucket order == sort order; equal values always
   share a bucket).
3. A bounded per-bucket stats aggregate (count + min/max + running-sum
   partials, one row per NON-EMPTY ``(fine bucket, tie sub-bucket)``)
   becomes the unit table: buckets holding a single value (a tie mass —
   think a Zipfy frequency column where millions of rows share v=7)
   are sub-split by the tie-break column's own equi-width cells, which
   is order-consistent exactly because the bucket is a pure tie. Unit
   prefix counts/sums come from a window over this BOUNDED frame
   (≤ fine_buckets·tie_buckets rows, data-size independent).
4. The frame joins the broadcast unit map on its computed bucket key;
   a window partitioned by UNIT produces local ranks / running sums in
   parallel, and ``global = unit_prefix + local``.

Determinism: the caller must supply a TOTAL order (include a unique
tie-break column); all order columns must be non-null, non-NaN
numerics. The result is then row-for-row equal to the plain
global-window plan — property-tested against it in
``tests/test_ranking.py``, including under AQE on/off, input
repartitioning, and heavy-tie distributions.

One staging (``_stage``) serves every caller: :func:`with_global_orders`
takes N :class:`RankSpec` orders over one frame and shares the bounds
aggregate and both stats passes among them; :func:`with_global_order`
is its one-spec call, and :func:`unit_occupancy` reads the same cells.

Cost model at 100 TB: three bounded map-side-combinable aggregates
(whatever the spec count) plus ONE hash shuffle of the frame (by unit)
per spec and one bounded broadcast — versus one task receiving every
row under the naive plan. Parallelism is ``min(#non-empty units,
shuffle partitions)``.

Clustered-with-outliers keys (the old honest limit) are handled by a
second, ADAPTIVE bucketing level: a distribution whose mass clusters
in a range much narrower than (max − min) — e.g. values in [0, 1e-9]
plus one outlier at 1e9 — collapses most rows into one fine cell that
is NOT a pure tie. The per-cell stats pass already computes each
coarse cell's exact count and exact value span, so every overloaded
cell is re-bucketed equi-width over ITS OWN span with a sub-level
count PROPORTIONAL to its mass (``ceil(count·fine/total)``, capped at
``refine_max``): the collapsed cell's rows spread over ~``fine`` sub
cells again, while Σ sub-levels ≤ 2·fine keeps the unit table bounded
regardless of distribution. The refinement is a pure function of the
row and of exact deterministic aggregates, so recomputed subtrees
agree — the same property the coarse level rides. Honest limits of
ONE refinement level: (a) a single value whose DOUBLE image collides
with its cell's entire span (keys beyond 2^53 with sub-ULP spacing)
is unsplittable — detected via the original-typed span test and left
as one correct (if large) unit rather than silently mis-ranked; and
(b) a distribution clustered at MULTIPLE scales (mass in [0, 1e-18]
plus a secondary cluster at 1e-9 plus a 1e9 outlier) re-collapses
inside the refined cell — the result stays EXACT (the per-unit
window is still correct, just large); only the balance property
degrades. If such a key ever appears, apply a rank-compressing
monotone transform (log-shift / IEEE-754-bits-as-integer) before
calling, or recurse the refinement. ``unit_occupancy`` exposes the
realized per-unit row counts so tests pin the balance property, not
just exactness.
"""

from __future__ import annotations

from collections.abc import Sequence
from typing import NamedTuple

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_C = "_fb_c"  # primary-column coarse equi-width bucket
_V = "_fb_v"  # unit value key: coarse bucket × refine_max + adaptive sub-bucket
_K = "_fb_k"  # tie-break fine bucket
_UK = "_fb_uk"  # unit sub-key: tie sub-bucket when pure-tie, else -1

_NUMERIC_PREFIXES = (
    "tinyint",
    "smallint",
    "int",
    "bigint",
    "float",
    "double",
    "decimal",
    "timestamp",
)


def _bucket(col: Column, mn: Column, mx: Column, n: int, asc: bool) -> Column:
    """Equi-width cell index of ``col`` in [mn, mx], monotone in the
    sort direction (descending order reverses the index). All four
    operands are doubles; IEEE subtraction/division by a positive
    constant and ``floor`` are monotone, and equal inputs always map to
    equal cells — the two properties the rank algebra needs."""
    width = (mx - mn) / F.lit(float(n))
    raw = F.floor((col - mn) / width).cast("long")
    idx = F.when(width <= 0.0, F.lit(0)).otherwise(
        F.least(F.lit(n - 1), F.greatest(F.lit(0), raw))
    )
    return idx if asc else F.lit(n - 1) - idx


def _bucket_dyn(col: Column, mn: Column, mx: Column, n: Column, asc: bool) -> Column:
    """:func:`_bucket` with a per-row (per-cell) level count — the
    adaptive refinement level, where each overloaded coarse cell brings
    its own sub-level count. Same monotone/equal→equal contract."""
    width = (mx - mn) / n.cast("double")
    raw = F.floor((col - mn) / width).cast("long")
    idx = F.when(width <= 0.0, F.lit(0).cast("long")).otherwise(
        F.least(n - 1, F.greatest(F.lit(0).cast("long"), raw))
    )
    return idx if asc else (n - 1) - idx


class RankSpec(NamedTuple):
    """One global order over the frame: ``order_by`` is a list of
    ``(column, ascending)`` and must be a TOTAL order (append a unique
    tie-break); order columns non-null numeric. ``rank_col``: global
    ``row_number`` under that order (1-based, BIGINT). ``count_col``:
    total row count on every row (the ``count(*) over ()`` analog).
    ``running_sums``: each ``(value_col, cum_col, total_col)`` emits the
    running sum of ``value_col`` up to and including the current row,
    plus (when ``total_col`` is not None) the grand total."""

    order_by: list[tuple[str, bool]]
    rank_col: str | None = None
    count_col: str | None = None
    running_sums: Sequence[tuple[str, str, str | None]] = ()


def _stage(
    df: DataFrame,
    specs: list[RankSpec],
    fine_buckets: int,
    tie_buckets: int,
    refine_max: int,
    materialize: bool,
) -> tuple[DataFrame, DataFrame]:
    """The two-phase staging of every spec: returns ``(framed, cells)``.
    ``framed`` is the frame plus each spec's unit-value key
    ``_fb_v_{s}`` and tie key ``_fb_k_{s}``; ``cells`` holds the bounded
    ``_fb_cnt``/``_fb_lo``/``_fb_hi`` (and ``_fb_sum_{cum}``) stats of
    every non-empty ``(_fb_s, _fb_v, _fb_k)`` cell. The coarse and cell
    stats passes each run once over a row-expanded ``(spec, bucket)``
    key — ``explode(array(struct...))`` then one groupBy, the manual
    form of GROUPING SETS — so the frame is read once per pass whatever
    the spec count, map-side combinable into ≤ N·2·fine·tie groups.
    The struct carries the original-typed primary value, so every
    spec's primary order column must share one dtype."""
    if materialize:
        df = df.localCheckpoint(eager=False)
    dtypes = dict(df.dtypes)
    for spec in specs:
        for c, _a in spec.order_by[:2]:
            if not dtypes[c].startswith(_NUMERIC_PREFIXES):
                raise ValueError(
                    f"order column {c!r} must be numeric, got {dtypes[c]}"
                )
    v_types = {dtypes[spec.order_by[0][0]] for spec in specs}
    if len(v_types) > 1:
        raise ValueError(
            f"batched ranks need one shared primary dtype, got {sorted(v_types)}"
        )

    # ONE deterministic 1-row bounds aggregate for every spec; lazily
    # checkpointed because the plan embeds it several times (cells and
    # output both re-derive framed, and the coarse subtree nests
    # another framed) — a 1-row sever costs one trivial job and saves
    # the re-aggregations. Each spec's coarse cell and tie bucket are
    # arithmetic on the row and its broadcast bounds.
    bounds_agg = [F.count(F.lit(1)).alias("_fb_nr")]
    bound_cols: list[str] = []

    def bucket(s: int, col: str, asc: bool, tag: str, n: int) -> Column:
        # adds the column's min/max to the one bounds aggregate
        d = F.col(col).cast("double")
        lo, hi = f"_fb_{tag}min_{s}", f"_fb_{tag}max_{s}"
        bounds_agg.extend([F.min(d).alias(lo), F.max(d).alias(hi)])
        bound_cols.extend([lo, hi])
        return _bucket(d, F.col(lo), F.col(hi), n, asc)

    keys = {}
    for s, spec in enumerate(specs):
        (v_name, v_asc), *ties = spec.order_by
        keys[f"{_C}_{s}"] = bucket(s, v_name, v_asc, "v", fine_buckets)
        keys[f"{_K}_{s}"] = (
            bucket(s, *ties[0], "k", tie_buckets) if ties else F.lit(0).cast("long")
        )
    bounds = df.agg(*bounds_agg).localCheckpoint(eager=False)
    framed = df.crossJoin(F.broadcast(bounds)).withColumns(keys).drop(*bound_cols)

    # Adaptive second level: per-coarse-cell exact stats (bounded ≤
    # fine_buckets rows per spec, map-side combinable, deterministic).
    # A cell whose span is non-degenerate (not a pure tie) is
    # re-bucketed over its own exact [lo, hi] with mass-proportional
    # levels ceil(cnt·fine/n): the clustered-with-outliers collapse
    # re-spreads to ~n/fine per unit, while Σ levels ≤ 2·fine keeps the
    # unit table bounded for ANY data. (cnt·fine stays far inside
    # BIGINT: cnt ≤ n < 2^52 at any SF.) The DOUBLE span test suffices
    # here: refinement sub-buckets on the double image, so a cell whose
    # doubles all collide (distinct keys beyond 2^53) cannot be split
    # by it anyway — rc stays 1 and the cells-level ORIGINAL-typed span
    # test still guards the pure-tie sub-split for exactly that case.
    coarse_structs = [
        F.struct(
            F.lit(s).alias("_fb_s"),
            F.col(f"{_C}_{s}").alias(_C),
            F.col(spec.order_by[0][0]).cast("double").alias("_fb_vd"),
        )
        for s, spec in enumerate(specs)
    ]
    coarse = (
        framed.select(
            F.explode(F.array(*coarse_structs)).alias("_fb_e"), F.col("_fb_nr")
        )
        .select("_fb_e.*", "_fb_nr")
        .groupBy("_fb_s", _C)
        .agg(
            F.count(F.lit(1)).alias("_fb_ccnt"),
            F.min("_fb_vd").alias("_fb_clo"),
            F.max("_fb_vd").alias("_fb_chi"),
            F.max("_fb_nr").alias("_fb_cn"),
        )
    )
    # refine only past 4× the even share: a well-spread key (every
    # catalog sort key today) keeps rc = 1 everywhere — single-level
    # units, max occupancy ≤ 4·n/fine (0.2% of the frame at the
    # default fine=2048) — while a collapsed cell still gets its
    # mass-proportional sub-levels
    rc = (
        F.when(
            (F.col("_fb_clo") < F.col("_fb_chi"))
            & (F.col("_fb_ccnt") * fine_buckets > 4 * F.col("_fb_cn")),
            F.least(
                F.lit(refine_max).cast("long"),
                F.expr(f"(_fb_ccnt * {fine_buckets} + _fb_cn - 1) div _fb_cn"),
            ),
        )
        .otherwise(F.lit(1))
        .cast("long")
    )
    # bounded ≤ N·fine rows, but its plan nests a full-frame
    # aggregation and framed joins it once per spec — sever it so the
    # consumers of framed (cells and the output subtree) don't each
    # recompute that pass
    coarse = coarse.select(
        "_fb_s", _C, "_fb_clo", "_fb_chi", rc.alias("_fb_rc")
    ).localCheckpoint(eager=False)
    for s, spec in enumerate(specs):
        v_name, v_asc = spec.order_by[0]
        cs = coarse.filter(F.col("_fb_s") == s).select(
            F.col(_C).alias(f"{_C}_{s}"),
            F.col("_fb_clo").alias(f"_fb_clo_{s}"),
            F.col("_fb_chi").alias(f"_fb_chi_{s}"),
            F.col("_fb_rc").alias(f"_fb_rc_{s}"),
        )
        framed = framed.join(F.broadcast(cs), f"{_C}_{s}")
        vd = F.col(v_name).cast("double")
        v2 = (
            F.when(
                F.col(f"_fb_rc_{s}") > 1,
                _bucket_dyn(
                    vd, F.col(f"_fb_clo_{s}"), F.col(f"_fb_chi_{s}"),
                    F.col(f"_fb_rc_{s}"), v_asc,
                ),
            )
            .otherwise(F.lit(0))
            .cast("long")
        )
        framed = framed.withColumn(
            f"{_V}_{s}", (F.col(f"{_C}_{s}") * F.lit(refine_max) + v2).cast("long")
        ).drop(f"{_C}_{s}", f"_fb_clo_{s}", f"_fb_chi_{s}", f"_fb_rc_{s}")
    framed = framed.drop("_fb_nr")

    # ONE cell-stats pass for all specs. The pure-tie span test runs on
    # the ORIGINAL column type — the double image of two distinct
    # BIGINTs beyond 2^53 collides, and a sub-split of a false tie
    # would interleave differing primary values across units. A running
    # sum's value rides only its own spec's struct (NULL elsewhere), so
    # the struct type is the same across specs.
    sums = [
        (o, val, cum) for o, sp in enumerate(specs) for val, cum, _t in sp.running_sums
    ]
    cell_structs = [
        F.struct(
            F.lit(s).alias("_fb_s"),
            F.col(f"{_V}_{s}").alias(_V),
            F.col(f"{_K}_{s}").alias(_K),
            F.col(spec.order_by[0][0]).alias("_fb_o"),
            *[
                (F.col(val) if owner == s else F.lit(None).cast(dtypes[val])).alias(
                    f"_fb_sum_{cum}"
                )
                for owner, val, cum in sums
            ],
        )
        for s, spec in enumerate(specs)
    ]
    cells = (
        framed.select(F.explode(F.array(*cell_structs)).alias("_fb_e"))
        .select("_fb_e.*")
        .groupBy("_fb_s", _V, _K)
        .agg(
            F.count(F.lit(1)).alias("_fb_cnt"),
            F.min("_fb_o").alias("_fb_lo"),
            F.max("_fb_o").alias("_fb_hi"),
            *[F.sum(f"_fb_sum_{cum}").alias(f"_fb_sum_{cum}") for _o, _v, cum in sums],
        )
    )
    return framed, cells


def unit_occupancy(
    df: DataFrame,
    order_by: list[tuple[str, bool]],
    *,
    fine_buckets: int = 2048,
    tie_buckets: int = 128,
    refine_max: int = 2048,
) -> DataFrame:
    """Realized per-window-unit row counts of the two-phase plan (one
    row per parallel unit, bounded by the unit-table size — never
    data-sized). The balance diagnostic behind the adaptive
    refinement: tests assert the max unit stays near ``n /
    fine_buckets`` on adversarial clustered-with-outliers
    distributions, instead of trusting exactness alone."""
    _framed, cells = _stage(
        df, [RankSpec(order_by)], fine_buckets, tie_buckets, refine_max, True
    )
    wv = Window.partitionBy(_V)
    sub = F.min("_fb_lo").over(wv) == F.max("_fb_hi").over(wv)
    return (
        cells.withColumn("_fb_sub", sub)
        .withColumn(
            _UK,
            F.when(F.col("_fb_sub"), F.col(_K)).otherwise(F.lit(-1)).cast("long"),
        )
        .groupBy(_V, _UK)
        .agg(F.sum("_fb_cnt").cast("long").alias("unit_rows"))
    )


def with_global_order(
    df: DataFrame,
    order_by: list[tuple[str, bool]],
    *,
    rank_col: str | None = None,
    count_col: str | None = None,
    running_sums: list[tuple[str, str, str | None]] = (),
    fine_buckets: int = 2048,
    tie_buckets: int = 128,
    refine_max: int = 2048,
    materialize: bool = True,
) -> DataFrame:
    """Append exact global-order columns to ``df`` without a global sort:
    :func:`with_global_orders` with the one :class:`RankSpec` these
    arguments spell. Output rows and values equal the plain
    unpartitioned-window plan exactly."""
    return with_global_orders(
        df,
        [RankSpec(order_by, rank_col, count_col, running_sums)],
        fine_buckets=fine_buckets,
        tie_buckets=tie_buckets,
        refine_max=refine_max,
        materialize=materialize,
    )


def with_global_orders(
    df: DataFrame,
    specs: list[tuple],
    *,
    fine_buckets: int = 2048,
    tie_buckets: int = 128,
    refine_max: int = 2048,
    materialize: bool = True,
) -> DataFrame:
    """N exact global orders over the SAME frame for the frame passes of
    one. ``specs`` are :class:`RankSpec` fields as tuples — ``(order_by,
    rank_col, count_col[, running_sums])``. Output rows and values
    equal N plain unpartitioned-window plans exactly. Only the final
    per-spec unit windows (each needs its own clustering of the frame)
    are per-spec — exactly the part that cannot share a shuffle.

    ``materialize`` (default True) lazily ``localCheckpoint``s the
    input, so the passes this plan takes over it (bounds, coarse-cell
    stats, cell stats, the ranked output) compute its upstream lineage
    ONCE — Spark does not reliably reuse identical exchanges across
    subtrees (the ``dedup_clusters`` discipline), and without the
    checkpoint a CHAIN of global orders recomputes upstream
    exponentially. Cost at scale: one frame-sized executor-storage
    materialization per call, the same currency as a shuffle write."""
    specs = [RankSpec(*spec) for spec in specs]
    framed, cells = _stage(
        df, specs, fine_buckets, tie_buckets, refine_max, materialize
    )
    sum_types = dict(cells.dtypes)

    # Everything below runs on the BOUNDED cells frame (≤ N·2·fine·tie
    # non-empty rows, data-size independent) as pure window arithmetic
    # — no joins, no further aggregates. A fine bucket is sub-split by
    # the tie bucket ONLY when it holds a single primary value (the one
    # case where tie-break order alone decides, so splitting cannot
    # interleave differing primary values); a unit is then either a
    # whole fine bucket or one (fine, tie) cell, and its prefix is
    #   global_cell_prefix − (pure_tie ? 0 : within_bucket_prefix)
    # because a unit's cells are contiguous in (fine, tie) order. Every
    # window keys on (_fb_s, ...) so the per-spec cell frames stay
    # separate inside shared operators — one window chain for all
    # specs — and _fb_s doubles as the real (non-foldable) partition
    # key of the per-spec "global" prefix window, so no plan carries an
    # unpartitioned window.
    wv = Window.partitionBy("_fb_s", _V)
    sub = F.min("_fb_lo").over(wv) == F.max("_fb_hi").over(wv)
    g = Window.partitionBy("_fb_s").orderBy(_V, _K)
    prevg = g.rowsBetween(Window.unboundedPreceding, -1)
    fullg = g.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    prevv = Window.partitionBy("_fb_s", _V).orderBy(_K).rowsBetween(
        Window.unboundedPreceding, -1
    )

    def _prefix(col: str, zero: Column) -> Column:
        pg = F.coalesce(F.sum(col).over(prevg), zero)
        pv = F.coalesce(F.sum(col).over(prevv), zero)
        return pg - F.when(F.col("_fb_sub"), zero).otherwise(pv)

    staged = cells.withColumn("_fb_sub", sub)
    proj = [
        "_fb_s",
        _V,
        _K,
        F.when(F.col("_fb_sub"), F.col(_K))
        .otherwise(F.lit(-1))
        .cast("long")
        .alias(_UK),
        _prefix("_fb_cnt", F.lit(0)).cast("long").alias("_fb_off"),
        F.sum("_fb_cnt").over(fullg).cast("long").alias("_fb_n"),
    ]
    for spec in specs:
        for _val, cum, _tot in spec.running_sums:
            zero = F.lit(0).cast(sum_types[f"_fb_sum_{cum}"])
            proj.append(_prefix(f"_fb_sum_{cum}", zero).alias(f"_fb_po_{cum}"))
            proj.append(F.sum(f"_fb_sum_{cum}").over(fullg).alias(f"_fb_pt_{cum}"))
    all_offsets = staged.select(*proj)
    if len(specs) > 1:
        # bounded ≤ N·2·fine·tie rows read by N consumers: the sever
        # pays one job to spare N−1 recomputations of the chain; with
        # one consumer it would be a pure extra job
        all_offsets = all_offsets.localCheckpoint(eager=False)

    out = framed
    for s, spec in enumerate(specs):
        carried = [
            c for _v, cum, _t in spec.running_sums
            for c in (f"_fb_po_{cum}", f"_fb_pt_{cum}")
        ]
        offsets = all_offsets.filter(F.col("_fb_s") == s).select(
            F.col(_V).alias(f"{_V}_{s}"),
            F.col(_K).alias(f"{_K}_{s}"),
            F.col(_UK).alias(f"{_UK}_{s}"),
            F.col("_fb_off").alias(f"_fb_off_{s}"),
            F.col("_fb_n").alias(f"_fb_n_{s}"),
            *carried,
        )
        sort = [(F.col(c).asc() if a else F.col(c).desc()) for c, a in spec.order_by]
        w_unit = Window.partitionBy(f"{_V}_{s}", f"{_UK}_{s}").orderBy(*sort)
        out = out.join(F.broadcast(offsets), [f"{_V}_{s}", f"{_K}_{s}"])
        if spec.rank_col is not None:
            out = out.withColumn(
                spec.rank_col,
                (F.col(f"_fb_off_{s}") + F.row_number().over(w_unit)).cast("long"),
            )
        if spec.count_col is not None:
            out = out.withColumn(spec.count_col, F.col(f"_fb_n_{s}"))
        w_run = w_unit.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        for val, cum, tot in spec.running_sums:
            # cast back to the naive window plan's sum type: the bounded
            # prefix-of-cell-sums widened it (decimal(38,2) vs the plain
            # plan's decimal(28,2)), and a caller emitting the column
            # directly must see the single-window schema.
            st = sum_types[f"_fb_sum_{cum}"]
            out = out.withColumn(
                cum, (F.col(f"_fb_po_{cum}") + F.sum(val).over(w_run)).cast(st)
            )
            if tot is not None:
                out = out.withColumn(tot, F.col(f"_fb_pt_{cum}").cast(st))
        out = out.drop(
            f"{_V}_{s}", f"{_K}_{s}", f"{_UK}_{s}", f"_fb_off_{s}", f"_fb_n_{s}",
            *carried,
        )
    return out


def ntile_expr(rank_col: str, n_col: str, k: int) -> Column:
    """SQL-standard ``NTILE(k)`` derived from a global rank column and a
    total-count column in exact BIGINT arithmetic (``div``/``%`` only —
    no float division anywhere): with ``q = n div k`` and
    ``r = n mod k``, buckets 1..r hold ``q+1`` rows (ranks up to
    ``r·(q+1)``, bucket = ceil(rank/(q+1))) and buckets r+1..k hold
    ``q`` rows. Equal to both Spark's and DuckDB's NTILE for every
    (rank, n) — property-tested in ``tests/test_ranking.py`` — which
    lets an entry keep its proven NTILE oracle while the Spark side
    swaps the single-task ntile window for the two-phase rank above.
    ``rank_col``/``n_col`` must be materialized BIGINT columns."""
    q = f"({n_col} div {k})"
    r = f"({n_col} % {k})"
    head = f"({r} * ({q} + 1))"
    return F.expr(
        f"cast(case when {rank_col} <= {head} "
        f"then ({rank_col} + {q}) div ({q} + 1) "
        f"else {r} + ({rank_col} - {head} + {q} - 1) div {q} end as long)"
    )
