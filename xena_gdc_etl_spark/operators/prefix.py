"""Scale-safe per-group prefix aggregation (distributed two-pass scan).

A plain ``sum(v) OVER (PARTITION BY g ORDER BY k ROWS UNBOUNDED PRECEDING)``
funnels every row of a group through ONE window task. At 100 TB a hot group
(one source, one language) can be half the corpus, and that task dies. The
classic fix is the two-pass parallel prefix scan:

1. **Shard** each group's rows into ``num_shards`` contiguous ranges of the
   (group, order) sort key. The shard id is a PURE FUNCTION OF ROW VALUES:
   range boundaries are sampled once (one bounded top-k-by-hash job over
   the key projection, broadcast as literals) and each row's shard is the
   count of boundaries strictly before its key position. Because the shard
   never depends on physical partitioning — unlike a
   ``repartitionByRange`` + ``spark_partition_id()`` construction — every
   consumer of the staged frame computes identical shard ids even if
   Catalyst re-plans or exchange reuse is disabled, and the result is
   independent of where the sampled boundaries happen to land (a row's
   final value depends only on its global sort position within its group).
2. **Local pass**: windowed prefix within each ``(shard, group)`` slice.
   Task size is bounded by the shard width (``~rows / num_shards``), never
   by the group.
3. **Offsets**: per-(shard, group) subtotals form a tiny frame
   (``shards × groups`` rows). An exclusive running sum over it, ordered by
   shard id, gives each slice's starting offset, broadcast-joined back.
   ``global prefix = offset + local prefix``.

Cost anatomy: one extra job (a distributed top-``sample_cap``-by-xxhash64
over the projected key columns — per-partition top-k then a driver merge of
``sample_cap`` rows, no shuffle) buys boundary literals; the main pass is
then ONE hash exchange (the window's own) instead of a range exchange whose
partition ids had to be trusted byte-identical across subtrees.

Measured (local[32], 5M rows in ONE group — the hot-group worst case):
sharded 1.9 s (of which the boundary-sample job is 0.4 s) vs single-window
2.4 s best-of-5; the window path runs the whole group through one task, so
its time grows linearly with group size while the sharded path scales with
the cluster.
"""

from __future__ import annotations

import functools
from typing import Any

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ByteType,
    IntegerType,
    LongType,
    ShortType,
)

__all__ = ["group_prefix_sum", "group_row_number", "group_rolling"]

_SHARD = "__shard"
_LOCAL = "__local_prefix"
_SUB = "__shard_subtotal"
_OFF = "__shard_offset"

# Boundary sample size: enough for balanced shards at any realistic shard
# count while keeping the driver merge trivially bounded.
_DEFAULT_SAMPLE_CAP = 8192

# group_rolling crossover: below this many input rows the PLAIN per-group
# window beats tail-carry even with a genuinely shard-spanning hot group —
# the bounded frame recomputes per row, so the hot straggler costs
# O(hot_rows · preceding) while tail-carry pays a ~4-5 s constant (three
# scans, five exchanges). §hot-carry-r17/r18 measured plain faster at
# 1M/4M/16M on a 40 %-hot fixture and tail-carry winning from ~2× that;
# the default sits at the measured break-even. Read at call time, so
# tests override it with monkeypatch.setattr and lanes with
# ``scripts/lanes.py --set prefix._CARRY_MIN_ROWS=...``.
_CARRY_MIN_ROWS = 24_000_000
# Plan-size estimate above which the row-count probe is SKIPPED and
# tail-carry engages directly: a frame this big is beyond any plausible
# crossover, and the probe (one column-pruned count pass) would be the
# only full scan a 100 TB input pays for a decision that is already
# obvious. Sized ~10× a worst-case 24M-row frame of fat rows.
_CARRY_COUNT_SKIP_BYTES = 32 * 1024**3


def _below_carry_crossover(df: DataFrame, min_rows: int) -> bool:
    """True when ``df`` provably holds fewer than ``min_rows`` rows — the
    regime where the plain window beats tail-carry even on a hot group.

    Two tiers, cheapest first: Catalyst's plan-only size estimate rules
    out obviously-huge frames without running anything (no probe job at
    web scale); only frames under the skip threshold pay one
    column-pruned ``count()`` job — in the regime where it runs, that
    scan is a small fraction of the tail-carry constant it can save.
    Note the probe is an eager job at plan-build time: on expensive
    uncached lineage it evaluates the upstream once per call. A wrong
    verdict is a routing miss, never a wrong answer: both paths are
    bitwise-identical (see group_rolling's routing comment).

    UNKNOWN Catalyst stats (sizeInBytes = Long.Max default — JDBC/RDD
    sources) count as huge, exactly like partitioning.spread's treatment:
    the skip exists to never probe-scan something web-scale, and an
    unknown size cannot prove the frame small.
    """
    from xena_gdc_etl_spark.operators.partitioning import (
        estimated_size_bytes,
    )

    if estimated_size_bytes(df) >= _CARRY_COUNT_SKIP_BYTES:
        return False
    return df.count() < min_rows


def _normalize_order(order_cols: list) -> list[tuple[Column, bool]]:
    """Normalize order specs to (value column, is_descending).

    Accepts plain columns/names (ascending) or ``(col, "asc"|"desc")``
    tuples. Sort-expression columns (``F.col(x).desc()``) are rejected
    loudly: the shard assignment must evaluate the order key as a VALUE,
    which a SortOrder expression is not.
    """
    specs: list[tuple[Column, bool]] = []
    for oc in order_cols:
        desc = False
        if isinstance(oc, tuple):
            oc, direction = oc
            if direction.lower() not in ("asc", "desc"):
                raise ValueError(f"order direction must be asc|desc, got {direction!r}")
            desc = direction.lower() == "desc"
        col = F.col(oc) if isinstance(oc, str) else oc
        rep = str(col)
        if " ASC " in rep or " DESC " in rep or rep.endswith("DESC'>"):
            raise ValueError(
                "pass sort direction as (column, 'desc') tuples, not "
                f".asc()/.desc() sort expressions: {rep}"
            )
        specs.append((col, desc))
    return specs


def _cmp_vals(a: Any, b: Any, desc: bool) -> int:
    """Compare two key values by SORT POSITION under Spark's defaults:
    asc → nulls first, desc → nulls last."""
    if a is None and b is None:
        return 0
    if a is None:
        return 1 if desc else -1
    if b is None:
        return -1 if desc else 1
    if a == b:
        return 0
    if a < b:
        return 1 if desc else -1
    return -1 if desc else 1


def _sample_boundaries(
    df: DataFrame,
    key_cols: list[Column],
    descs: list[bool],
    num_shards: int,
    sample_cap: int,
    n_group: int = 0,
) -> "tuple[list[tuple], bool, float]":
    """One bounded job: a deterministic uniform sample (the ``sample_cap``
    smallest ``xxhash64`` values — a content hash, so the sample is
    independent of physical partitioning) of the composite key, sorted by
    sort position on the driver; every ``n/num_shards``-th key becomes a
    shard boundary. Boundary PLACEMENT only affects balance, never results.

    Returns ``(boundaries, fits_one_task, hot_frac)``. The sample doubles
    as a free row-count probe: when it comes back with fewer than
    ``sample_cap`` rows, the WHOLE frame has fewer than ``sample_cap``
    rows — provably small enough for a single window task — so callers
    skip the shard/offsets machinery entirely (identical results, fewer
    jobs). At scale the sample always fills the cap and the sharded path
    engages.

    ``hot_frac`` is the sampled fraction of the LARGEST group — the
    first ``n_group`` key columns are the group key — giving callers a
    free skew probe: when even the hottest group is smaller than a
    shard width, the plain per-group window is already as balanced as
    the sharded machinery and callers can skip it. With ``n_group=0``
    (no group columns) hot_frac is 1.0: the whole frame is one "group",
    so a caller's plain-window check must NOT conclude it fits one
    task. At
    cap=8192 the estimate's noise is far below the 1/num_shards decision
    thresholds in use (a truly shard-spanning group is many σ above),
    and a miss costs one oversized-but-bounded window task, never a
    wrong answer.
    """
    names = [f"__k{i}" for i in range(len(key_cols))]
    keyed = df.select(*[c.alias(n) for c, n in zip(key_cols, names)])
    h = F.xxhash64(*[F.col(n) for n in names]).alias("__h")
    rows = (
        keyed.select("*", h)
        .orderBy("__h", *names)
        .limit(sample_cap)
        .drop("__h")
        .collect()
    )
    fits_one_task = len(rows) < sample_cap
    if not rows or fits_one_task:
        return [], fits_one_task, 1.0 if rows else 0.0

    def cmp_rows(ra, rb) -> int:
        for i, d in enumerate(descs):
            c = _cmp_vals(ra[i], rb[i], d)
            if c:
                return c
        return 0

    rows.sort(key=functools.cmp_to_key(cmp_rows))
    n = len(rows)
    hot_frac = 1.0
    if n_group > 0:
        # rows are sorted with the group prefix leading, so the largest
        # group is the longest run of equal prefixes
        run = best = 1
        for i in range(1, n):
            if tuple(rows[i][:n_group]) == tuple(rows[i - 1][:n_group]):
                run += 1
            else:
                run = 1
            best = max(best, run)
        hot_frac = best / n
    bounds = []
    for i in range(1, num_shards):
        idx = (i * n) // num_shards
        if 0 < idx < n:
            bounds.append(tuple(rows[idx]))
    return bounds, False, hot_frac


def _pos_eq(col: Column, bval: Any) -> Column:
    if bval is None:
        return col.isNull()
    return col.eqNullSafe(F.lit(bval))


def _pos_gt(col: Column, bval: Any, desc: bool) -> Column:
    """Strictly-after in sort position (null-safe, never returns NULL)."""
    if bval is None:
        # null sorts first when asc (nothing is before it → any non-null is
        # after), last when desc (nothing is after it)
        return col.isNotNull() if not desc else F.lit(False)
    if desc:
        # later position = smaller value; nulls sort last under desc
        return col.isNull() | (col < F.lit(bval))
    return F.when(col.isNull(), F.lit(False)).otherwise(col > F.lit(bval))


def _shard_expr(
    key_cols: list[Column], descs: list[bool], boundaries: list[tuple]
) -> Column:
    """shard(row) = number of boundaries strictly before the row's key
    position — a monotone pure function of the row's values.

    The result is wrapped in ``coalesce(expr, 0)`` — a runtime no-op
    (every branch of ``_pos_gt``/``_pos_eq`` is null-guarded, so the sum
    is never null) that matters enormously to the OPTIMIZER: Catalyst
    still marks the when-chains nullable, so a downstream equi-join on
    the shard column infers an ``isnotnull(__shard)`` constraint and
    pushes it below the projections — substituting this ENTIRE
    expression (with the key columns themselves re-expanded) into a
    per-row Filter that re-evaluates the whole boundary chain before
    the projection evaluates it again, far too large for whole-stage
    codegen. Measured on a 16M-row hot-key fixture: the inferred filter
    made the tail-carry rolling plan ~80 s; non-nullable, ~8 s. The
    coalesce makes the column provably non-nullable, so there is no
    constraint to infer.
    """
    if not boundaries:
        return F.lit(0)
    shard = F.lit(0)
    for bvals in boundaries:
        gt = F.lit(False)
        for (col, desc), bv in reversed(list(zip(zip(key_cols, descs), bvals))):
            gt = _pos_gt(col, bv, desc) | (_pos_eq(col, bv) & gt)
        shard = shard + gt.cast("int")
    return F.coalesce(shard, F.lit(0))


def group_prefix_sum(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list,
    value: Column | str,
    out_col: str,
    *,
    total_col: str | None = None,
    num_shards: int | None = None,
    sample_cap: int = _DEFAULT_SAMPLE_CAP,
) -> DataFrame:
    """Inclusive per-group running sum of ``value`` in ``order_cols`` order,
    with every task bounded by the shard size instead of the group size.

    ``order_cols`` entries are columns/names (ascending) or
    ``(col, "asc"|"desc")`` tuples; the combined (group, order) key must be
    a total order within each group for the prefix to be well-defined. If
    ``total_col`` is given, the per-group grand total is attached as an
    extra column (free — it falls out of the offsets frame).

    Integral value columns accumulate in BIGINT; any other type (double,
    decimal) is carried in its own sum type UNCAST — a fractional value is
    never silently truncated. Caveat for floats: addition order differs
    from the single-window form, so float prefixes can differ in ulps from
    it (exactly as any distributed float sum does).
    """
    spark = df.sparkSession
    if num_shards is None:
        num_shards = spark.sparkContext.defaultParallelism
    value = F.col(value) if isinstance(value, str) else value
    specs = _normalize_order(order_cols)
    gcols = [F.col(c) for c in group_cols]
    key_cols = gcols + [c for c, _ in specs]
    descs = [False] * len(gcols) + [d for _, d in specs]

    integral = isinstance(
        df.select(value.alias("__v")).schema[0].dataType,
        (ByteType, ShortType, IntegerType, LongType),
    )

    def sum_typed(col: Column) -> Column:
        return col.cast("bigint") if integral else col

    # The OUTPUT type is pinned to sum(value)'s type on BOTH paths: the
    # sharded path's _OFF + _LOCAL addition would otherwise widen
    # decimals a second time (sum(decimal(p,s)) → decimal(p+10,s), the
    # addition → decimal(p+21,s)), making the schema depend on the
    # runtime row-count probe — exactly what the one-schema comment at
    # the bottom promises not to happen. Plan-only probe, no job.
    sum_dt = df.select(
        sum_typed(F.sum(value)).alias("__s")
    ).schema[0].dataType

    order_exprs = [c.desc() if d else c.asc() for c, d in specs]

    boundaries: list[tuple] = []
    fits_one_task = num_shards <= 1
    if num_shards > 1:
        boundaries, fits_one_task, _ = _sample_boundaries(
            df, key_cols, descs, num_shards, sample_cap
        )
    if fits_one_task or num_shards <= 1:
        # The boundary sample came back under the cap, so the WHOLE frame
        # is provably small enough for one window task (or the caller
        # asked for one shard): the plain window gives identical results
        # without the offsets agg + broadcast join. The sharded machinery
        # below is for the case that matters at scale.
        w = (
            Window.partitionBy(*group_cols)
            .orderBy(*order_exprs)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        out = df.withColumn(out_col, sum_typed(F.sum(value).over(w)))
        if total_col is not None:
            out = out.withColumn(
                total_col,
                sum_typed(
                    F.sum(value).over(Window.partitionBy(*group_cols))
                ),
            )
        return out

    staged = df.withColumn(_SHARD, _shard_expr(key_cols, descs, boundaries))
    local_w = (
        Window.partitionBy(_SHARD, *group_cols)
        .orderBy(*order_exprs)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = staged.withColumn(_LOCAL, F.sum(value).over(local_w))
    # Subtotals aggregate ``staged`` directly: a map-side partial agg over
    # a second (column-pruned) scan plus a shards×groups-sized shuffle —
    # measured cheaper than hanging the agg off the window stage, which
    # re-sorts the full frame in the second subtree. Either subtree may be
    # recomputed freely: the shard id is a function of row values, so
    # recomputation yields identical shards (unlike the old
    # spark_partition_id() construction, which required exchange reuse).
    subtotals = staged.groupBy(_SHARD, *group_cols).agg(
        sum_typed(F.sum(value)).alias(_SUB)
    )
    zero = F.lit(0).cast(subtotals.schema[_SUB].dataType)
    # The offsets windows run over a shards×groups frame — bounded by the
    # shard count, not the data — so partitioning them by group is safe.
    off_w = (
        Window.partitionBy(*group_cols)
        .orderBy(_SHARD)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    off_cols = [
        sum_typed(F.coalesce(F.sum(_SUB).over(off_w), zero)).alias(_OFF)
    ]
    if total_col is not None:
        off_cols.append(
            sum_typed(
                F.sum(_SUB).over(Window.partitionBy(*group_cols))
            ).alias(total_col)
        )
    offsets = subtotals.select(_SHARD, *group_cols, *off_cols)

    # NULL-SAFE offsets join: a plain name-list equi-join never matches a
    # NULL group key, which would silently DROP every null-group row from
    # the output (a real corpus has null sources/users). eqNullSafe keys
    # keep the join a broadcast hash join and make NULL a regular group,
    # matching Window.partitionBy semantics.
    loc, off = local.alias("__lhs"), offsets.alias("__rhs")
    cond = F.col(f"__lhs.{_SHARD}") == F.col(f"__rhs.{_SHARD}")
    for c in group_cols:
        cond = cond & F.col(f"__lhs.{c}").eqNullSafe(F.col(f"__rhs.{c}"))
    joined = loc.join(F.broadcast(off), cond).drop(
        off[_SHARD], *[off[c] for c in group_cols]
    )
    out = (
        joined.withColumn(
            out_col, (F.col(_OFF) + F.col(_LOCAL)).cast(sum_dt)
        )
        .drop(_SHARD, _LOCAL, _OFF)
    )
    if total_col is not None:
        out = out.withColumn(total_col, F.col(total_col).cast(sum_dt))
    # Same column ORDER as the small-frame fast path above (input columns,
    # then out_col, then total_col): positional consumers (union-by-
    # position, row-tuple compares) must see one schema regardless of
    # which path the row count selected.
    return out.select(
        *df.columns, out_col, *([total_col] if total_col is not None else [])
    )


def group_row_number(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list,
    out_col: str,
    *,
    total_col: str | None = None,
    num_shards: int | None = None,
    sample_cap: int = _DEFAULT_SAMPLE_CAP,
) -> DataFrame:
    """Per-group 1-based rank in ``order_cols`` order (``row_number``
    semantics — ``order_cols`` must totally order each group, e.g. with an
    id tiebreak), built as a prefix sum of 1 so no single task ever sees a
    whole group. ``total_col`` optionally attaches the group size.
    """
    one = "__one"
    out = group_prefix_sum(
        df.withColumn(one, F.lit(1).cast("bigint")),
        group_cols,
        order_cols,
        one,
        out_col,
        total_col=total_col,
        num_shards=num_shards,
        sample_cap=sample_cap,
    )
    return out.drop(one)


_ROLLING_AGGS = {
    "avg": F.avg,
    "sum": F.sum,
    "min": F.min,
    "max": F.max,
    "count": F.count,
}


def group_rolling(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list,
    value: Column | str,
    out_col: str,
    *,
    agg: str = "avg",
    preceding: int = 3,
    num_shards: int | None = None,
    sample_cap: int = _DEFAULT_SAMPLE_CAP,
    carry_min_rows: int | None = None,
) -> DataFrame:
    """Per-group rolling aggregate over ``ROWS BETWEEN preceding PRECEDING
    AND CURRENT ROW`` — without ever running a whole group through one
    window task.

    ``carry_min_rows``: plain-vs-tail-carry crossover override (None →
    the measured module default ``_CARRY_MIN_ROWS``); 0 forces the
    tail-carry machinery whenever a hot group spans shards — the
    fixture/probe knob, both paths being bitwise-identical.

    A plain ``avg(v) OVER (PARTITION BY g ORDER BY k ROWS 3 PRECEDING)``
    is fine while groups are human-sized, but a degenerate hot key (a bot
    user, a null-ish id) funnels its entire history through ONE task at
    web scale. Because the frame is BOUNDED, the fix is cheaper than the
    prefix scan's offsets pass: range-shard the (group, order) key exactly
    as :func:`group_prefix_sum` does (shard id = pure function of row
    values), then carry each (shard, group) slice's last ``preceding``
    rows forward as read-only CONTEXT rows for the slices after it. Any
    row's frame spans at most ``preceding`` predecessors, all of which
    are either in its own slice or among some earlier slice's tail — and
    a tail row not in its own slice's last-``preceding`` has ≥
    ``preceding`` same-group successors inside that slice, so it can
    never be needed downstream (the carry never has to chain).

    Pipeline (every task bounded by the shard width, never the group):
    tails = last-``preceding`` per (shard, group) → for each later shard
    of the group, re-rank the union of earlier tails and keep the global
    last ``preceding`` → union as flagged context rows → ONE window over
    ``(shard, group)`` → drop context outputs.

    ``order_cols`` must totally order each group (id tiebreak), as in all
    prefix ops. ``agg`` ∈ avg|sum|min|max|count (count counts non-null
    ``value``, SQL-style). Sliding frames recompute per row in Spark (no
    retraction), so results are bitwise-identical to the single-window
    plan — the frames contain the same rows in the same order.
    """
    if preceding < 0:
        raise ValueError(f"preceding must be >= 0, got {preceding}")
    try:
        agg_fn = _ROLLING_AGGS[agg]
    except KeyError:
        raise ValueError(
            f"agg must be one of {sorted(_ROLLING_AGGS)}, got {agg!r}"
        ) from None
    spark = df.sparkSession
    if num_shards is None:
        num_shards = spark.sparkContext.defaultParallelism
    value = F.col(value) if isinstance(value, str) else value
    specs = _normalize_order(order_cols)
    gcols = [F.col(c) for c in group_cols]
    key_cols = gcols + [c for c, _ in specs]
    descs = [False] * len(gcols) + [d for _, d in specs]
    boundaries: list[tuple] = []
    fits_one_task = num_shards <= 1
    hot_frac = 1.0
    if num_shards > 1:
        boundaries, fits_one_task, hot_frac = _sample_boundaries(
            df, key_cols, descs, num_shards, sample_cap,
            n_group=len(group_cols),
        )
    if carry_min_rows is None:
        carry_min_rows = _CARRY_MIN_ROWS
    if (
        fits_one_task
        or num_shards <= 1
        or hot_frac * num_shards <= 1.0
        or (
            carry_min_rows > 0
            and _below_carry_crossover(df, carry_min_rows)
        )
    ):
        # Four ways the plain per-group window is already the right
        # physical plan — all with BITWISE-identical results (bounded
        # sliding frames recompute per row, so same frame contents in the
        # same order ⇒ same arithmetic on both paths):
        #   * the row-count probe proved the frame fits one window task;
        #   * the caller asked for one shard;
        #   * the skew probe shows even the LARGEST group is at most a
        #     shard width (hot_frac ≤ 1/num_shards), so partitioning by
        #     group alone is as balanced as the tail-carry machinery —
        #     one shuffle + one sort instead of three scans and five
        #     exchanges. The sharded path below is strictly for the
        #     degenerate hot key it was built for; a benign corpus never
        #     pays its constant;
        #   * the frame is below the measured plain-vs-carry crossover
        #     (_CARRY_MIN_ROWS, §hot-carry-r18): even a 40 %-hot group
        #     funnelled through one bounded-frame window task costs less
        #     than tail-carry's three-scan constant at this size. The
        #     crossover check is ordered LAST so the probe job only runs
        #     when a hot group actually spans shards.
        w = (
            Window.partitionBy(*group_cols)
            .orderBy(*[c.desc() if d else c.asc() for c, d in specs])
            .rowsBetween(-preceding, Window.currentRow)
        )
        return df.withColumn(out_col, agg_fn(value).over(w))

    onames = [f"__o{i}" for i in range(len(specs))]
    staged = df.withColumn(_SHARD, _shard_expr(key_cols, descs, boundaries))
    for n, (c, _) in zip(onames, specs):
        staged = staged.withColumn(n, c)
    staged = staged.withColumn("__val", value).withColumn("__ctx", F.lit(False))

    odescs = [d for _, d in specs]
    fwd = [F.col(n).desc() if d else F.col(n).asc() for n, d in zip(onames, odescs)]
    rev = [F.col(n).asc() if d else F.col(n).desc() for n, d in zip(onames, odescs)]

    slim = staged.select(_SHARD, *group_cols, *onames, "__val")
    # last `preceding` rows of every (shard, group) slice — the only rows
    # any later slice of the group can ever need
    tail_w = Window.partitionBy(_SHARD, *group_cols).orderBy(*rev)
    tails = (
        slim.withColumn("__rr", F.row_number().over(tail_w))
        .where(F.col("__rr") <= preceding)
        .drop("__rr")
    )
    # (group, shard) slices that need context; per group this frame is its
    # shard SPAN (a bot user spanning 1000 shards contributes 1000 rows
    # here, not its event count). The carry join below is
    # O(span² × preceding) intermediate rows per group before the
    # row_number cut — bounded by num_shards² (a config constant, e.g.
    # ~3M rows for ONE group at 1000 shards × preceding=3), never by the
    # group's row count, which is the bound that matters at web scale.
    # Derived from TAILS, not from a distinct over the full frame: every
    # nonempty (shard, group) slice contributes at least one tail row
    # whenever preceding ≥ 1 (and with preceding = 0 both forms yield an
    # empty ctx — no frame reaches back), so the sets are identical while
    # the distinct shuffles a tails-sized frame instead of re-scanning
    # and re-shuffling the whole input.
    #
    # Deliberately NO ``__tshard > 0`` pre-filter: shard-0 targets are
    # harmless (the ``__shard < __tshard`` join condition already yields
    # zero ctx rows for them), while the filter as written gets pushed
    # below the tails window all the way to the scan — where the
    # optimizer SUBSTITUTES the full boundary when-chain for the shard
    # column and evaluates it per input row, too large for whole-stage
    # codegen (measured: +25 s on a 16M-row hot fixture; same class of
    # blowup as the inferred isnotnull documented on _shard_expr).
    targets = (
        tails.select(F.col(_SHARD).alias("__tshard"), *group_cols)
        .distinct()
    )
    # within a group the order key is total and the shard id monotone in
    # it, so ranking candidate tails by key order alone finds the global
    # last `preceding` rows before each target slice
    carry_w = Window.partitionBy("__tshard", *group_cols).orderBy(*rev)
    # null-safe carry join for the same reason as the prefix offsets join:
    # a NULL group key (the degenerate hot key this operator exists for)
    # must still receive its carried context rows.
    tls, tgt = tails.alias("__t"), targets.alias("__g")
    ccond = F.lit(True)
    for c in group_cols:
        ccond = ccond & F.col(f"__t.{c}").eqNullSafe(F.col(f"__g.{c}"))
    ctx = (
        tls.join(tgt, ccond)
        .where(F.col(_SHARD) < F.col("__tshard"))
        .drop(*[tgt[c] for c in group_cols])
        .withColumn("__rr", F.row_number().over(carry_w))
        .where(F.col("__rr") <= preceding)
        .select(
            F.col("__tshard").alias(_SHARD),
            *group_cols,
            *onames,
            "__val",
            F.lit(True).alias("__ctx"),
        )
    )
    ctx_cols = {_SHARD, *group_cols, *onames, "__val", "__ctx"}
    pad = ctx.select(
        "*",
        *[
            F.lit(None).cast(f.dataType).alias(f.name)
            for f in staged.schema.fields
            if f.name not in ctx_cols
        ],
    )
    final_w = (
        Window.partitionBy(_SHARD, *group_cols)
        .orderBy(*fwd)
        .rowsBetween(-preceding, Window.currentRow)
    )
    return (
        staged.unionByName(pad)
        .withColumn(out_col, agg_fn(F.col("__val")).over(final_w))
        .where(~F.col("__ctx"))
        .drop(_SHARD, "__val", "__ctx", *onames)
    )
