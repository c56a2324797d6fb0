"""Time-series alignment operators (SURVEY §2.3 #25-#30, §2.5).

The reference's synchronize job builds a 10 Hz master grid per bag with
a driver-side ``collect()`` + per-bag ``spark.range`` loop
(synchronize_topics.py:111-157), then forward-fills each topic column
with a window ``last(ignorenulls)`` (synchronize_topics.py:160-167).

Here the grid is pure plan — each signal row ``explode``s the tick ids
it owns — so it scales with the cluster instead of the driver, and
grid LOCF, forward fill and as-of join are expressed as single window
passes over data partitioned by the entity key.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .caching import register_persist


def _tick(c: Column, step: float) -> Column:
    """Grid tick id ``floor(c/step)`` with 6-dp tolerance: binary float
    division artifacts (20.0/0.1 == 199.99999999999997) must not shift
    the grid by a tick."""
    return F.floor(F.round(c / F.lit(step), 6)).cast("long")


def forward_fill(df: DataFrame, keys: list[str], order_col: str,
                 cols: list[str]) -> DataFrame:
    """Last-observation-carried-forward per key (SURVEY #29;
    synchronize_topics.py:160-167).

    All columns share one Window spec, so Catalyst evaluates them in a
    single physical Window operator — one shuffle+sort regardless of
    how many columns are filled.
    """
    w = (Window.partitionBy(*keys).orderBy(order_col)
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return df.select(
        *[c for c in df.columns if c not in cols],
        *[F.last(c, ignorenulls=True).over(w).alias(c) for c in cols],
    )


def resample_asof(df: DataFrame, keys: list[str], time_col: str, step: float,
                  value_cols: list[str], how: str = "last") -> DataFrame:
    """Resample each key's signals onto a regular grid with LOCF — the
    reference's whole sync-job semantics (grid ∪ signals → forward fill
    → keep grid rows; synchronize_topics.py:170-197) as one composable
    operator.

    The grid is ``floor(t/step)*step`` aligned: ticks ``tick(min t) ..
    tick(max t)`` per key. A signal at ``t`` is visible from the first
    tick ``k`` with ``k·step >= t``, so a signal exactly on a tick
    lands on that tick. Rows with a NULL time are ignored.

    Plan shape: ONE window pass partitioned by ``keys`` ordered by time
    — one shuffle, no global sort (the reference's global ``orderBy``
    at synchronize_topics.py:184 is unnecessary). In that pass each
    signal row fills every value column (``last``/``first`` with
    ``ignorenulls`` up to the current row) and reads its neighbours'
    times (``lag``/``lead``); it then ``explode``s the ticks it owns,
    from its own first visible tick up to the next row's minus one (the
    last row stops at ``tick(t)``). A key's first row also emits the
    pre-tick ``tick(t)`` when ``t`` is off-grid, with all values NULL.
    No spine aggregate, no union with the signals, no filter.

    The output time column has the type a union of the signals with
    ``tick · step`` would have (e.g. long times with an integer step
    stay long; any fractional step makes them double).
    """
    t = F.col(time_col)
    out_type = df.select(
        F.coalesce(t, F.lit(0).cast("long") * F.lit(step))).schema[0].dataType

    def grid(k: Column) -> Column:
        return (k * F.lit(step)).cast(out_type)

    def lo(c: Column) -> Column:
        k = _tick(c, step)
        return k + F.when(grid(k) < c.cast(out_type), 1).otherwise(0)

    order = Window.partitionBy(*keys).orderBy(time_col)
    upto = order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    agg = F.last if how == "last" else F.first
    rows = df.where(t.isNotNull()).select(
        *keys, time_col,
        F.lag(t).over(order).alias("_prev"),
        F.lead(t).over(order).alias("_next"),
        *[agg(c, ignorenulls=True).over(upto).alias(c) for c in value_cols],
    )
    nxt = F.col("_next")
    start = F.when(F.col("_prev").isNull(), _tick(t, step)).otherwise(lo(t))
    end = F.when(nxt.isNull(), _tick(t, step)).otherwise(lo(nxt) - 1)
    owned = rows.select(
        *keys, lo(t).alias("_lo"), *value_cols,
        F.explode(F.when(start <= end, F.sequence(start, end))).alias("_k"))
    k = F.col("_k")
    return owned.select(
        *keys, grid(k).alias(time_col),
        *[F.when(k >= F.col("_lo"), F.col(c)).alias(c) for c in value_cols])


def asof_join(left: DataFrame, right: DataFrame, on: str, by: list[str],
              value_cols: list[str] | None = None,
              tolerance: float | None = None,
              direction: str = "backward",
              suffix: str = "_right") -> DataFrame:
    """As-of join: for each left row, the most recent right row at or
    before (``backward``) / the earliest at or after (``forward``) /
    whichever of the two is closer in time (``nearest``, ties prefer
    backward) its ``on`` time, within each ``by`` group.

    The generalization of the reference's grid alignment (SURVEY §2.3
    note after #30). Implemented as union + one window pass — a single
    shuffle on ``by`` — instead of a range join, so it scales linearly
    at 100 TB where an O(n·m) range join would not. ``nearest`` keeps
    the single exchange and adds a second sort: two Window specs share
    the ``by`` hash partitioning (ascending for the backward candidate,
    descending for the forward one), then a row-level expression picks
    the closer match — the whole-row choice an as-of match semantically
    is.

    ``tolerance`` drops matches older (resp. newer; ``nearest``:
    farther either way) than ``tolerance`` time units; matched right
    columns arrive as ``<col><suffix>`` (or bare name if it doesn't
    collide).

    The matched right row travels as ONE struct through the window
    (``last(struct(t, values…), ignorenulls=True)``): per-column
    ``last(value, ignorenulls=True)`` would skip a NULL in the matched
    row and backfill it from an *older* right row — mixing columns from
    different rows and checking tolerance against the wrong row's time.
    A NULL in the matched row is emitted as NULL, the as-of contract.
    """
    value_cols = value_cols or [c for c in right.columns if c not in set(by) | {on}]
    rename = {c: c + suffix if c in left.columns else c for c in value_cols}

    lhs = left.withColumn("_side", F.lit(1))
    rhs = right.select(
        *by, F.col(on),
        *[F.col(c).alias(rename[c]) for c in value_cols],
    ).withColumn("_side", F.lit(0))
    unioned = lhs.unionByName(rhs, allowMissingColumns=True)

    # the whole candidate right row as one value: NULL on left rows (so
    # ignorenulls skips them), always-non-null struct on right rows even
    # when every value inside is NULL
    row_struct = F.when(F.col("_side") == 0, F.struct(
        F.col(on).alias("_t"),
        *[F.col(rename[c]).alias(rename[c]) for c in value_cols]))

    if direction == "nearest":
        # two candidate passes over ONE union: at-or-before (asc order)
        # and at-or-after (desc order; right rows sort before left at
        # equal time under _side asc in both, so exact-time matches are
        # included on both sides)
        wb = (Window.partitionBy(*by)
              .orderBy(F.col(on).asc(), F.col("_side").asc())
              .rowsBetween(Window.unboundedPreceding, Window.currentRow))
        wf = (Window.partitionBy(*by)
              .orderBy(F.col(on).desc(), F.col("_side").asc())
              .rowsBetween(Window.unboundedPreceding, Window.currentRow))
        picked = unioned.select(
            *[c for c in lhs.columns if c != "_side"],
            F.last(row_struct, ignorenulls=True).over(wb).alias("_mb"),
            F.last(row_struct, ignorenulls=True).over(wf).alias("_mf"),
            F.col("_side"),
        ).where(F.col("_side") == 1)
        tb, tf = F.col("_mb._t"), F.col("_mf._t")
        gap_b, gap_f = F.col(on) - tb, tf - F.col(on)
        use_b = tb.isNotNull() & (tf.isNull() | (gap_b <= gap_f))
        gap = F.when(use_b, gap_b).otherwise(gap_f)
        keep = (F.lit(True) if tolerance is None
                else (gap <= F.lit(tolerance)))
        chosen = [F.when(use_b & keep, F.col(f"_mb.{rename[c]}"))
                   .when(~use_b & tf.isNotNull() & keep,
                         F.col(f"_mf.{rename[c]}"))
                   .alias(rename[c]) for c in value_cols]
        return picked.select(
            *[c for c in lhs.columns if c != "_side"], *chosen)

    asc = direction == "backward"
    order = [F.col(on).asc() if asc else F.col(on).desc(), F.col("_side").asc()]
    w = (Window.partitionBy(*by).orderBy(*order)
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))

    filled = unioned.select(
        *[c for c in lhs.columns if c != "_side"],
        F.last(row_struct, ignorenulls=True).over(w).alias("_m"),
        F.col("_side"),
    ).where(F.col("_side") == 1)

    match_time = F.col("_m._t")
    if tolerance is None:
        keep = match_time.isNotNull()
    else:
        gap = ((F.col(on) - match_time) if asc
               else (match_time - F.col(on)))
        keep = match_time.isNotNull() & (gap <= F.lit(tolerance))
    return filled.select(
        *[c for c in lhs.columns if c != "_side"],
        *[F.when(keep, F.col(f"_m.{rename[c]}")).alias(rename[c])
          for c in value_cols])


def downsample_cascade(df: DataFrame, keys: list[str], time_col: str,
                       value_col: str,
                       resolutions: list[float]) -> DataFrame:
    """Hypertable-style multi-resolution rollup: one row per
    ``(keys, resolution, bucket)`` with ``n / sum / min / max / avg``
    of ``value_col``, for every step in ``resolutions``.

    CASCADED aggregation — the continuous-aggregate design of
    time-series stores: raw rows are scanned and shuffled ONCE (the
    finest resolution's groupBy); every coarser tier re-aggregates the
    previous tier's partials, whose row count is already collapsed by
    the finer bucketing, so tier k's shuffle moves ~|keys|·|range|/res_k
    rows instead of the raw corpus. At 100 TB the naive alternative —
    one full groupBy per resolution — rescans and reshuffles the raw
    data |resolutions| times; the cascade's tiers after the first are
    ~free. sum/count/min/max compose exactly across tiers (avg is
    derived as sum/count at the end, never averaged-of-averages).

    Each intermediate tier is ``persist()``-ed: the output union would
    otherwise re-execute the finer tiers' whole lineage inside every
    coarser branch (union branches don't share work in the physical
    plan, and AQE stage reuse is a runtime maybe, not a contract —
    observed 3 separate raw scans without the cache). The cached tiers
    are aggregated partials, orders of magnitude smaller than raw;
    same caller-owned cache lifetime as the dedup pair operators
    (``spark.catalog.clearCache()`` between jobs).

    Each coarser step must be an integer multiple of the previous
    (validated) so buckets nest exactly. Buckets are
    ``floor(t/step)*step`` aligned, like :func:`resample_asof`'s
    grid."""
    if not resolutions:
        raise ValueError("resolutions must be non-empty")
    steps = sorted(float(s) for s in resolutions)
    for fine, coarse in zip(steps, steps[1:]):
        ratio = coarse / fine
        if abs(ratio - round(ratio)) > 1e-9:
            raise ValueError(
                f"each resolution must be an integer multiple of the "
                f"previous for exact bucket nesting: {coarse} / {fine}")

    def bucket(c, step):
        return (F.floor(F.round(c / F.lit(step), 6)).cast("long")
                * F.lit(step))

    v = F.col(value_col)
    finest = (df.groupBy(*keys, bucket(F.col(time_col), steps[0])
                         .alias("bucket"))
              .agg(F.count(v).alias("n"), F.sum(v).alias("sum"),
                   F.min(v).alias("min"), F.max(v).alias("max"))
              .withColumn("resolution", F.lit(steps[0])))
    tiers = [finest]
    for step in steps[1:]:
        # persist the tier that both the union output and the next
        # coarser tier consume (see docstring; no-op for the last tier,
        # which only the union reads)
        prev = register_persist(tiers[-1])
        tiers[-1] = prev
        tiers.append(
            prev.groupBy(*keys, bucket(F.col("bucket"), step)
                         .alias("bucket"))
            .agg(F.sum("n").alias("n"), F.sum("sum").alias("sum"),
                 F.min("min").alias("min"), F.max("max").alias("max"))
            .withColumn("resolution", F.lit(step)))
    out = tiers[0]
    for t in tiers[1:]:
        out = out.unionByName(t)
    return out.select(*keys, "resolution", "bucket", "n", "sum", "min",
                      "max",
                      F.when(F.col("n") > 0, F.col("sum") / F.col("n"))
                       .alias("avg"))


def cascade_update(tiers: DataFrame, batch: DataFrame, keys: list[str],
                   time_col: str, value_col: str,
                   resolutions: list[float]) -> DataFrame:
    """Fold a new raw batch into an existing :func:`downsample_cascade`
    output WITHOUT re-scanning the historical corpus — continuous-
    aggregate maintenance, the ingest-side complement to the cascade.

    ``tiers`` is a prior cascade result (persisted table); ``batch`` is
    new raw rows. The batch is cascaded on its own (batch-sized work),
    then merged with the old tiers by one aggregate over
    ``(keys, resolution, bucket)``: n and sum add, min/max fold, avg is
    re-derived last — the same exact-composition property that makes
    the cascade itself correct. Late-arriving data needs no special
    path: a batch row landing in an old bucket simply merges into it.

    Scale shape: per batch, the only shuffled rows are the batch's own
    partials plus the tier rows — never historical raw data. Write the
    tiers table partitioned by ``resolution`` (and bucket range at very
    large key cardinality) so the merge's scan prunes to touched
    partitions. Equality with a full rebuild over old+new raw data is
    pinned by tests/test_timeseries.py (including a late-data batch).
    """
    delta = downsample_cascade(batch, keys, time_col, value_col,
                               resolutions)
    merged = (tiers.drop("avg").unionByName(delta.drop("avg"))
              .groupBy(*keys, "resolution", "bucket")
              .agg(F.sum("n").alias("n"), F.sum("sum").alias("sum"),
                   F.min("min").alias("min"), F.max("max").alias("max")))
    return merged.select(*keys, "resolution", "bucket", "n", "sum",
                         "min", "max",
                         F.when(F.col("n") > 0, F.col("sum") / F.col("n"))
                          .alias("avg"))


_RUNNING_AGGS = {"sum": F.sum, "min": F.min, "max": F.max,
                 "count": lambda c: F.count(F.lit(1)),
                 "last": lambda c: F.last(c, ignorenulls=True)}


def running_agg(df: DataFrame, keys: list[str], order_col: str,
                aggs: dict[str, tuple[str, str | None]], *,
                chunk_width: float | None = None) -> DataFrame:
    """Running (cumulative) aggregates per key in event order, with an
    optional SKEW-BOUNDED two-phase plan for hot keys.

    ``aggs`` maps output name → ``(fn, value_col)`` with ``fn`` one of
    ``sum | min | max | count | last`` (``value_col`` ignored for
    count) — exactly the monotone/associative running aggregations
    that admit a two-phase decomposition. ``last`` is running LOCF
    (``last(col, ignorenulls=True)`` — the forward-fill core): its
    chunk total is the value at the chunk's latest non-null row
    (``max_by`` over a null-masked order), its offset folds with a
    ``last ignorenulls`` over chunks, and combine is ``coalesce`` —
    so gap-filling a bot key no longer serializes one task either.
    Frames are RANGE (peers by equal
    ``order_col`` aggregate together), so results are deterministic
    under ties and identical between both plans — except ``last``,
    which (like any LOCF) needs a total order per key: peers with
    DIFFERENT non-null values make "the last one" undefined in both
    plans; keep ``order_col`` unique per key for it.

    Default (``chunk_width=None``): one window pass,
    ``partitionBy(keys).orderBy(order_col)``. Correct at any scale per
    key that fits a task — but every sessionize/funnel/LOCF-style
    window shares this shape's failure mode: ONE pathological key (a
    bot user with 10^8 events) serializes an entire task while 999
    executors idle.

    ``chunk_width=w`` bounds the per-task row count by the key's event
    density within ``w`` order units, at the price of one extra (tiny)
    shuffle:

    1. chunk id = ``floor(order_col / w)``; the running value WITHIN
       each (key, chunk) is a window over that bounded partition;
    2. per-(key, chunk) totals — a map-side-combinable groupBy whose
       output is |keys| x |chunks| rows — get a per-key running offset
       over STRICTLY EARLIER chunks (a window over chunk counts, not
       events);
    3. offsets join back on (key, chunk) — the same hash partitioning
       phase 1 produced, and the offsets side is small enough that the
       optimizer broadcasts it — and combine: sum/count add, min/max
       fold with ``least``/``greatest`` (null offset for a key's first
       chunk is the identity).

    Float caveat: the chunked plan REASSOCIATES floating-point ``sum``
    (intra-chunk partials accumulate in partition order, the offset
    fold in chunk order), so a float running sum agrees with the
    single-window plan only to within a few ULP — not bit-exact.
    ``count``/``min``/``max``/``last`` and integer/decimal sums are
    exactly associative and identical under both plans; pin those (as
    the q_window_running gate does with ``running_n``) when bit
    equality matters, or use decimals for exact money sums.

    Pick ``w`` so a hot key's densest window fits a task (e.g. one
    hour of a bot's events), the same sizing judgement as
    ``downsample_cascade`` resolutions. ``order_col`` must be numeric
    (cast timestamps to epoch seconds upstream). Equal order values
    always share a chunk, preserving RANGE-frame tie semantics.
    Equivalence plain==chunked and the measured reducer-spread
    evidence live in tests/test_timeseries.py (mirroring
    test_joins.py's salted_join proofs)."""
    bad = [f for f, _ in aggs.values() if f not in _RUNNING_AGGS]
    if bad:
        raise ValueError(f"unsupported running aggs {bad}: two-phase "
                         f"decomposition needs monotone/associative "
                         f"functions ({sorted(_RUNNING_AGGS)})")
    if chunk_width is None:
        w = Window.partitionBy(*keys).orderBy(order_col)
        out = df
        for name, (fn, col) in aggs.items():
            out = out.withColumn(name, _RUNNING_AGGS[fn](col).over(w))
        return out
    if chunk_width <= 0:
        raise ValueError(f"chunk_width must be > 0, got {chunk_width}")

    tagged = df.withColumn(
        "_chunk", F.floor(F.col(order_col) / F.lit(float(chunk_width))))
    wi = Window.partitionBy(*keys, "_chunk").orderBy(order_col)
    out = tagged
    for name, (fn, col) in aggs.items():
        out = out.withColumn(name, _RUNNING_AGGS[fn](col).over(wi))

    # totals derive from the RAW frame, not the window output: the
    # groupBy's shuffle then carries only map-side PARTIAL aggregates
    # (≤ one row per (key, chunk) per input partition — metadata, not
    # data), where a window-output derivation would force a second
    # full data shuffle through the window subtree (measured: the
    # self-join re-aliasing defeats exchange/stage reuse). The price
    # is one extra column-pruned source scan; the data itself still
    # shuffles exactly once (plan-pinned in tests/test_plans.py)
    def total_expr(name, fn, col):
        if fn == "last":
            # deterministic "value at the latest non-null row": groupBy
            # F.last would depend on intra-group row order
            return F.max_by(F.col(col),
                            F.when(F.col(col).isNotNull(),
                                   F.col(order_col))).alias(f"_tot_{name}")
        return _RUNNING_AGGS[fn](col).alias(f"_tot_{name}")

    totals = tagged.groupBy(*keys, "_chunk").agg(
        *[total_expr(name, fn, col) for name, (fn, col) in aggs.items()])
    wc = (Window.partitionBy(*keys).orderBy("_chunk")
          .rowsBetween(Window.unboundedPreceding, -1))
    _OFF = {"sum": "sum", "count": "sum", "min": "min", "max": "max",
            "last": "last"}
    offsets = totals.select(
        *keys, "_chunk",
        *[_RUNNING_AGGS[_OFF[fn]](f"_tot_{name}").over(wc)
          .alias(f"_off_{name}")
          for name, (fn, _) in aggs.items()])

    joined = out.join(offsets, [*keys, "_chunk"])

    def _add_null_safe(i, o):
        # SQL sum is NULL over a value-free frame: a chunk whose rows
        # so far are all NULL has intra=NULL but may have a real
        # offset (and vice versa) — add treating NULL as 0, and stay
        # NULL only when BOTH sides are (caught by the property test)
        return (F.when(i.isNull() & o.isNull(), F.lit(None))
                .otherwise(F.coalesce(i, F.lit(0))
                           + F.coalesce(o, F.lit(0))))

    combine = {"sum": _add_null_safe,
               "count": lambda i, o: i + F.coalesce(o, F.lit(0)),
               "min": F.least, "max": F.greatest,
               "last": F.coalesce}
    for name, (fn, _) in aggs.items():
        joined = joined.withColumn(
            name, combine[fn](F.col(name), F.col(f"_off_{name}")))
    return joined.drop("_chunk",
                       *[f"_off_{name}" for name in aggs])


def lag_lead(df: DataFrame, keys: list[str], order_col: str, col: str,
             offsets: tuple[int, ...] = (1,)) -> DataFrame:
    """Attach lag/lead columns (SURVEY #39-#40; detect_scenes.py:197-214)."""
    w = Window.partitionBy(*keys).orderBy(order_col)
    out = df
    for k in offsets:
        out = out.withColumn(f"{col}_lag{k}", F.lag(col, k).over(w))
        out = out.withColumn(f"{col}_lead{k}", F.lead(col, k).over(w))
    return out


def windowed_agg_batch(df: DataFrame, keys: list[str], time_col: str,
                       aggs: dict[str, Column],
                       width, slide=None) -> DataFrame:
    """Tumbling/hopping event-time aggregation over a BATCH table —
    the backfill twin of :func:`~..streaming.ops.windowed_agg` (same
    output shape: ``keys…, window_start, window_end, aggs…``), for the
    "recompute last month's hourly rollups" path where Structured
    Streaming's watermark machinery is pure overhead.

    ``time_col`` is numeric (the engine's integer-microsecond
    convention); ``width``/``slide`` are in the same unit. Tumbling
    (``slide`` None or == width) assigns each row to exactly one bucket
    — a plain hash aggregate. Hopping explodes each row to the
    ``⌈width/slide⌉`` windows covering it (the same bounded fan-out
    argument as binned_interval_join) and aggregates — one shuffle on
    (keys…, window_start) either way, map-side partials apply."""
    slide = width if slide is None else slide
    if slide <= 0 or width <= 0:
        raise ValueError(f"width/slide must be > 0, got {width}/{slide}")
    if slide > width:
        raise ValueError("slide > width leaves gaps — use a tumbling "
                         "window of the slide size instead")
    t = F.col(time_col)
    if slide == width:
        # no long casts anywhere: a fractional width must produce
        # fractional window starts — casting merged distinct windows
        # and truncated bounds (window_end == window_start) silently
        start = F.floor(t / F.lit(width)) * F.lit(width)
        rows = df.withColumn("_ws", start)
    else:
        # windows covering t start at slide-multiples in
        # (t - width, t]: first = floor((t - width)/slide) + 1.
        # Window INDICES are integral for any numeric slide, so the
        # sequence stays long; the start value k*slide follows the
        # slide's type
        k_lo = (F.floor((t - F.lit(width)) / F.lit(slide)) + 1)
        k_hi = F.floor(t / F.lit(slide))
        rows = (df.withColumn(
            "_k", F.explode(F.sequence(k_lo.cast("long"),
                                       k_hi.cast("long"))))
            .withColumn("_ws", F.col("_k") * F.lit(slide)).drop("_k"))
    return (rows.groupBy(*keys, "_ws")
            .agg(*[expr.alias(name) for name, expr in aggs.items()])
            .select(*keys, F.col("_ws").alias("window_start"),
                    (F.col("_ws") + F.lit(width)).alias("window_end"),
                    *aggs.keys()))


def detect_anomalies(df: DataFrame, keys: list[str], order_col: str,
                     value_col: str, *,
                     width: float | None = None, n: int | None = None,
                     threshold: float = 3.0,
                     min_points: int = 5) -> DataFrame:
    """Flag points that deviate from their OWN trailing baseline — the
    scene detector for conditions nobody predefined. The reference only
    fires on hand-written predicates (detect_scenes.py:229-247, "person
    in lane"); this finds the statistical surprises (sensor glitches,
    sudden speed drops, stuck-value runs ending) the same way a
    monitoring pipeline would, per key, in one window pass.

    Baseline = LEAVE-ONE-OUT mean/std of the trailing window: the
    window aggregates (count, sum, sum of squares) INCLUDE the current
    row — range frames cannot exclude it — and the current value is
    subtracted arithmetically afterwards. Without leave-one-out a
    single huge spike inflates the very std it is judged against and
    masks itself; with it the spike is scored purely against its
    neighbours.

    Exactly one of ``width`` (trailing RANGE frame, ``order_col``
    units — rows at equal order are peers and share a baseline) or
    ``n`` (trailing ROWS frame of the n previous rows — here the
    current row genuinely is excluded by the frame, so no correction
    is needed) must be given. Points whose baseline holds fewer than
    ``min_points`` values (warm-up, sparse keys) or has zero spread
    get NULL ``zscore`` and ``is_anomaly=false``.

    Output: input columns + ``baseline_mean``, ``baseline_std``
    (sample std of the leave-one-out baseline), ``zscore``,
    ``is_anomaly``. Plan shape: ONE window
    (``partitionBy(keys).orderBy(order_col)``), three aggregates over
    the same frame → one exchange + one sort, all codegen; mirrors to
    ANSI SQL window frames verbatim (the DuckDB oracle recomputes the
    identical arithmetic). The Σx²−n·μ² variance form can cancel
    catastrophically when |mean| ≫ std at float precision — center
    values upstream if your signal rides a 1e12 offset."""
    if (width is None) == (n is None):
        raise ValueError("pass exactly one of width= (range frame) "
                         "or n= (rows frame)")
    if min_points < 2:
        raise ValueError("min_points must be ≥ 2 (std needs 2 values)")
    # order by the RAW column: a cast here would give this Window a
    # different sort key from any sibling window on the same
    # (keys, order_col) — a second Sort in the plan and no node merge
    # (measured 6× on the q_lag_lead fold). Range bounds adapt to the
    # order type, so no numeric unification is needed.
    w = Window.partitionBy(*keys).orderBy(F.col(order_col))
    v = F.col(value_col).cast("double")
    if width is not None:
        if width <= 0:
            raise ValueError(f"width must be > 0, got {width}")
        if width != int(width):
            # Spark range-frame bounds are long; scale the order column
            # (the engine's integer-microsecond convention) for
            # sub-unit baselines instead of fractional widths
            raise ValueError(f"width must be a whole number of "
                             f"order_col units, got {width}")
        frame = w.rangeBetween(-int(width), 0)
        # leave-one-out: the frame includes the current row (and any
        # equal-order peers; only the row itself is removed)
        cnt = F.count(v).over(frame) - F.when(v.isNotNull(), 1) \
                                        .otherwise(0)
        s1 = F.sum(v).over(frame) - F.coalesce(v, F.lit(0.0))
        s2 = (F.sum(v * v).over(frame)
              - F.coalesce(v * v, F.lit(0.0)))
    else:
        if n < 2:
            raise ValueError(f"n must be ≥ 2, got {n}")
        frame = w.rowsBetween(-int(n), -1)
        cnt = F.count(v).over(frame)
        s1 = F.sum(v).over(frame)
        s2 = F.sum(v * v).over(frame)
    mean = s1 / cnt
    # sample variance (Σx² − n·μ²)/(n−1), clamped: float cancellation
    # on a near-constant baseline can dip fractionally below zero
    var = F.greatest((s2 - cnt * mean * mean) / (cnt - 1), F.lit(0.0))
    std = F.sqrt(var)
    ok = v.isNotNull() & (cnt >= min_points) & (std > 0)
    z = F.when(ok, (v - mean) / std)
    # one select, not chained withColumns: each withColumn plants its
    # own logical Window node and the collapse rules don't always fold
    # them back — a single projection extracts ONE Window operator
    # computing the three shared aggregates (plan-pinned in
    # tests/test_plans.py)
    return df.select(
        "*",
        F.when(cnt >= min_points, mean).alias("baseline_mean"),
        F.when(cnt >= min_points, std).alias("baseline_std"),
        z.alias("zscore"),
        F.coalesce(F.abs(z) > threshold, F.lit(False))
         .alias("is_anomaly"))


def detect_anomalies_multi(df: DataFrame, keys: list[str],
                           order_col: str, value_cols: list[str], *,
                           width: float | None = None,
                           n: int | None = None,
                           threshold: float = 3.0,
                           min_points: int = 5) -> DataFrame:
    """Multichannel :func:`detect_anomalies` (r7): a point is judged
    against its trailing baseline on EVERY channel jointly — a braking
    anomaly is speed+brake+pitch together, the d-channel shape of the
    reference's wide synchronized table (synchronize_topics.py:
    170-197). Each channel gets the same leave-one-out z-score as the
    single-channel operator (identical arithmetic — per-channel
    equality is test-pinned); the joint score is the RMS over the
    channels with a valid baseline, ``score = sqrt(mean_c z_c²)`` —
    scale-free in channel count, so ``threshold=3`` keeps its meaning
    for any d (a Mahalanobis distance under per-channel independence,
    normalized by dimension). Channels with an invalid baseline
    (warm-up, zero spread, NULL value) contribute nothing; a row with
    NO valid channel gets NULL score and ``is_anomaly=false``.

    Output: input columns + ``zscore_<c>`` per channel + ``score`` +
    ``is_anomaly``. Plan: all 3·d aggregates share ONE window frame in
    one projection → a single Window node, one exchange, one sort —
    d channels widen the plan, never multiply it (plan-pinned)."""
    if not value_cols:
        raise ValueError("value_cols must be non-empty")
    if (width is None) == (n is None):
        raise ValueError("pass exactly one of width= (range frame) "
                         "or n= (rows frame)")
    if min_points < 2:
        raise ValueError("min_points must be ≥ 2 (std needs 2 values)")
    w = Window.partitionBy(*keys).orderBy(F.col(order_col))
    if width is not None:
        if width <= 0:
            raise ValueError(f"width must be > 0, got {width}")
        if width != int(width):
            raise ValueError(f"width must be a whole number of "
                             f"order_col units, got {width}")
        frame = w.rangeBetween(-int(width), 0)
    else:
        if n < 2:
            raise ValueError(f"n must be ≥ 2, got {n}")
        frame = w.rowsBetween(-int(n), -1)

    zs = []
    for c in value_cols:
        v = F.col(c).cast("double")
        if width is not None:
            cnt = F.count(v).over(frame) - F.when(v.isNotNull(), 1) \
                                            .otherwise(0)
            s1 = F.sum(v).over(frame) - F.coalesce(v, F.lit(0.0))
            s2 = (F.sum(v * v).over(frame)
                  - F.coalesce(v * v, F.lit(0.0)))
        else:
            cnt = F.count(v).over(frame)
            s1 = F.sum(v).over(frame)
            s2 = F.sum(v * v).over(frame)
        mean = s1 / cnt
        var = F.greatest((s2 - cnt * mean * mean) / (cnt - 1),
                         F.lit(0.0))
        std = F.sqrt(var)
        ok = v.isNotNull() & (cnt >= min_points) & (std > 0)
        zs.append(F.when(ok, (v - mean) / std))

    n_valid = sum((F.when(z.isNotNull(), 1).otherwise(0) for z in zs),
                  F.lit(0))
    ssum = sum((F.coalesce(z * z, F.lit(0.0)) for z in zs), F.lit(0.0))
    score = F.when(n_valid > 0, F.sqrt(ssum / n_valid))
    # one select: every channel's aggregates share the one frame, so
    # Catalyst emits a single Window node (chained withColumns would
    # plant one per channel — the q_lag_lead lesson)
    return df.select(
        "*",
        *[z.alias(f"zscore_{c}") for c, z in zip(value_cols, zs)],
        score.alias("score"),
        F.coalesce(score > threshold, F.lit(False)).alias("is_anomaly"))


def interpolate_poses(left: DataFrame, right: DataFrame, on: str,
                      by: list[str],
                      quat_cols: tuple[str, str, str, str]
                      = ("qw", "qx", "qy", "qz"),
                      trans_cols: tuple[str, str, str]
                      = ("tx", "ty", "tz"),
                      suffix: str = "_pose") -> DataFrame:
    """Pose interpolation onto each left row's timestamp: quaternion
    SLERP + translation LERP between the two pose samples bracketing
    ``on``, per ``by`` group — the continuous upgrade of
    ``asof_join``'s sample-and-hold for rigid-body poses. An as-of'd
    pose is stale by up to a full pose period (AV topic rates span
    10–100 Hz, ``/root/reference/README.md:108-113``); at highway
    speed that's meters of error on every lidar point between pose
    samples. Compose before :func:`..operators.sensors.
    transform_points`::

        posed = interpolate_poses(points, poses, on="t", by=["bag"])
        ego   = transform_points(posed)

    Same single-exchange shape as ``asof_join(direction='nearest')``:
    union + two window passes sharing one hash partitioning on
    ``by`` (ascending for the at-or-before bracket, descending for
    the at-or-after), then pure Catalyst math — no Python, no range
    join. Shortest-path SLERP (the quaternion double cover: when
    q_b·q_f < 0 the forward quaternion is negated), exact at the
    endpoints (α=0/1 reproduce the samples), near-parallel brackets
    fall back to normalized LERP (sin θ → 0 guard), and times outside
    the pose range CLAMP to the nearest endpoint sample. Left rows in
    a ``by`` group with no pose samples get NULL pose columns.
    Pose quaternions are assumed unit (the ROS convention); the
    output quaternion is re-normalized, which also absorbs mild
    input drift."""
    value_cols = list(quat_cols) + list(trans_cols)
    rename = {c: c + suffix if c in left.columns else c
              for c in value_cols}
    lhs = left.withColumn("_side", F.lit(1))
    rhs = right.select(
        *by, F.col(on),
        *[F.col(c).alias(rename[c]) for c in value_cols],
    ).withColumn("_side", F.lit(0))
    unioned = lhs.unionByName(rhs, allowMissingColumns=True)
    row_struct = F.when(F.col("_side") == 0, F.struct(
        F.col(on).alias("_t"),
        *[F.col(rename[c]).alias(rename[c]) for c in value_cols]))
    wb = (Window.partitionBy(*by)
          .orderBy(F.col(on).asc(), F.col("_side").asc())
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    wf = (Window.partitionBy(*by)
          .orderBy(F.col(on).desc(), F.col("_side").asc())
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    picked = unioned.select(
        *[c for c in lhs.columns if c != "_side"],
        F.last(row_struct, ignorenulls=True).over(wb).alias("_mb"),
        F.last(row_struct, ignorenulls=True).over(wf).alias("_mf"),
        F.col("_side"),
    ).where(F.col("_side") == 1)
    tb, tf, t = F.col("_mb._t"), F.col("_mf._t"), F.col(on)
    both = tb.isNotNull() & tf.isNotNull() & (tf != tb)
    alpha = F.when(both, (t - tb) / (tf - tb)) \
        .otherwise(F.when(tb.isNotNull(), F.lit(0.0))
                   .otherwise(F.lit(1.0)))

    # missing bracket → substitute the other side, so the formulas
    # below degenerate to the clamped endpoint (α pinned to 0/1)
    def bb(c):
        m = F.col(f"_mb.{rename[c]}")
        return F.when(tb.isNotNull(), m) \
            .otherwise(F.col(f"_mf.{rename[c]}"))

    def ff(c):
        m = F.col(f"_mf.{rename[c]}")
        return F.when(tf.isNotNull(), m) \
            .otherwise(F.col(f"_mb.{rename[c]}"))

    # Every intermediate is STAGED as a named column: naive inlining
    # duplicates the slerp subtrees combinatorially (each quaternion
    # component embeds the weights, which embed θ, which embeds the
    # dot product...), and Catalyst ANALYSIS of that tree costs whole
    # seconds of driver time — the staged plan analyzes in
    # milliseconds and optimizes to the same physical projection.
    lcols = [c for c in lhs.columns if c != "_side"]
    s1 = picked.select(
        *lcols, alpha.alias("_a"),
        *[bb(c).alias(f"_b{i}") for i, c in enumerate(value_cols)],
        *[ff(c).alias(f"_f{i}") for i, c in enumerate(value_cols)])
    qb = [F.col(f"_b{i}") for i in range(4)]
    qf = [F.col(f"_f{i}") for i in range(4)]
    a = F.col("_a")
    s2 = s1.withColumn(
        "_dot", qb[0] * qf[0] + qb[1] * qf[1]
        + qb[2] * qf[2] + qb[3] * qf[3])
    dot = F.col("_dot")
    s3 = s2.select(
        "*",
        F.when(dot < 0, F.lit(-1.0)).otherwise(F.lit(1.0))
        .alias("_sgn"),
        F.least(F.abs(dot), F.lit(1.0)).alias("_d"))
    d = F.col("_d")
    s4 = s3.select("*", F.acos(d).alias("_th"),
                   (d > F.lit(1.0) - F.lit(1e-9)).alias("_near"))
    theta, near = F.col("_th"), F.col("_near")
    sin_t = F.sin(theta)
    s5 = s4.select(
        "*",
        F.when(near, F.lit(1.0) - a)
        .otherwise(F.sin((F.lit(1.0) - a) * theta) / sin_t)
        .alias("_wb"),
        (F.col("_sgn") * F.when(near, a)
         .otherwise(F.sin(a * theta) / sin_t)).alias("_wf"))
    w_b, w_f = F.col("_wb"), F.col("_wf")
    s6 = s5.select(
        "*", *[(w_b * qb[i] + w_f * qf[i]).alias(f"_q{i}")
               for i in range(4)])
    q_raw = [F.col(f"_q{i}") for i in range(4)]
    s7 = s6.withColumn(
        "_qn", F.sqrt(q_raw[0] * q_raw[0] + q_raw[1] * q_raw[1]
                      + q_raw[2] * q_raw[2] + q_raw[3] * q_raw[3]))
    qn = F.col("_qn")
    quat_out = [(q / qn).alias(rename[c])
                for q, c in zip(q_raw, quat_cols)]
    trans_out = [
        (F.col(f"_b{i + 4}")
         + a * (F.col(f"_f{i + 4}") - F.col(f"_b{i + 4}")))
        .alias(rename[c]) for i, c in enumerate(trans_cols)]
    return s7.select(*lcols, *quat_out, *trans_out)
