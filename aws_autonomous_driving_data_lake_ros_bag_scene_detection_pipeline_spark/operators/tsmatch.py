"""Time-series pattern search: find signal windows similar to a query
subsequence — "which drives contain a braking signature like THIS one".

The natural follow-on query to the reference's scene detection
(detect_scenes.py finds PREDEFINED conditions; this finds windows
similar to an EXAMPLE), and the distributed-similarity-search theme of
the retrieved corpus (e.g. EDBT'19 time-series similarity search /
ICDE'20 distributed set-similarity join — used for the shape of the
problem, not code).

Spark-first decomposition:

- :func:`sliding_windows` — every length-``m`` subsequence per key as
  one array row, via ``collect_list`` over a rows-frame window: a
  single pass, one exchange on the key, O(m) state per row. The window
  START time is the row's own time, so results are addressable.
- :func:`pattern_topk` — z-normalized squared-euclidean distance
  between each candidate window and the (driver-literal, broadcast)
  query pattern, exact top-k. Scoring runs on EXPLODED elements
  through one aggregate — whole-stage codegen, element-order float
  determinism — identical machinery to `similarity`'s exact-cosine
  plans, NOT per-row higher-order lambdas (CodegenFallback).
  Z-normalization (subtract window mean, divide by window std) makes
  the match amplitude/offset-invariant — the standard subsequence
  semantics (UCR/MASS); pass ``znormalize=False`` for raw euclidean.

Scale shape: candidate scoring is O(n·m) element rows — a projection
+ one aggregate, embarrassingly parallel, no shuffle beyond the
per-key window pass; ``step`` thins candidates for long series. For
repeated queries over the same corpus, persist ``sliding_windows``
output once and reuse (or band-bucket the normalized windows with
`similarity._band_buckets` for an ANN-style prefilter).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def sliding_windows(df: DataFrame, keys: list[str], time_col: str,
                    value_col: str, m: int, *, step: int = 1,
                    out_col: str = "window",
                    on_null: str = "raise") -> DataFrame:
    """All length-``m`` subsequences per key:
    ``(keys…, start_time, window: array<double>)``.

    One window pass ordered by ``time_col`` with a
    ``[current, current+m-1]`` rows frame; rows too close to the end
    of their series (incomplete windows) are dropped. ``step`` keeps
    every ``step``-th start position (stride) — candidate count scales
    as n/step.

    ``collect_list`` SKIPS nulls, so a null sample would silently
    produce a window spanning more than ``m`` rows, misaligned with
    its ``start_time`` — shape-shifted subsequences downstream.
    ``on_null='raise'`` (default) fails at execution time on the first
    null value; ``'drop'`` filters null samples first, with the
    documented semantics that windows then span the REMAINING samples
    (gaps close up — appropriate for already-resampled series where a
    null means a missing grid point the caller accepts skipping)."""
    if m < 1:
        raise ValueError(f"m must be >= 1, got {m}")
    if step < 1:
        raise ValueError(f"step must be >= 1, got {step}")
    if on_null not in ("raise", "drop"):
        raise ValueError(f"on_null must be 'raise' or 'drop', "
                         f"got {on_null!r}")
    if on_null == "drop":
        df = df.where(F.col(value_col).isNotNull())
        val = F.col(value_col).cast("double")
    else:
        # embedded in the collected expression so it is evaluated per
        # row (a lazy-safe runtime check, not an eager scan)
        val = (F.when(F.col(value_col).isNull(),
                      F.raise_error(F.lit(
                          f"sliding_windows: null in {value_col!r}; "
                          f"drop nulls first or pass on_null='drop'")))
               .otherwise(F.col(value_col).cast("double")))
    w = (Window.partitionBy(*keys).orderBy(time_col)
         .rowsBetween(Window.currentRow, m - 1))
    out = (df.withColumn(out_col,
                         F.collect_list(val)
                         .over(w))
           .where(F.size(out_col) == m)
           .select(*keys, F.col(time_col).alias("start_time"),
                   F.col(out_col)))
    if step > 1:
        wn = Window.partitionBy(*keys).orderBy("start_time")
        out = (out.withColumn("_rn", F.row_number().over(wn))
               .where((F.col("_rn") - 1) % step == 0).drop("_rn"))
    return out


def _normalized_window_elements(df: DataFrame, keys: list[str],
                                time_col: str, value_col: str, m: int,
                                step: int) -> DataFrame:
    """Shared motif front end: windows → exploded elements,
    z-normalized against their own window moments (constant windows
    dropped — they have no z-form). Columns ``(_id, _d, _x)``."""
    wins = sliding_windows(df, keys, time_col, value_col, m, step=step)
    wid = F.struct(*[F.col(c) for c in keys],
                   F.col("start_time")).alias("_id")
    ev = wins.select(wid, F.posexplode("window").alias("_d", "_x"))
    stats = (ev.groupBy("_id")
             .agg(F.sum("_x").alias("_s1"),
                  F.sum(F.col("_x") * F.col("_x")).alias("_s2"))
             .select("_id", (F.col("_s1") / m).alias("_mu"),
                     F.sqrt(F.greatest(
                         F.col("_s2") / m - (F.col("_s1") / m) ** 2,
                         F.lit(0.0))).alias("_sd"))
             .where(F.col("_sd") > 1e-12))
    return (ev.join(stats, "_id")
            .select("_id", "_d",
                    ((F.col("_x") - F.col("_mu")) / F.col("_sd"))
                    .alias("_x")))


def _motif_banding(min_cosine: float, bands: int, rows_per_band: int,
                   target_recall: float | None,
                   max_perm: int) -> tuple[int, int]:
    if target_recall is not None:
        from .dedup import banding_for_recall
        return banding_for_recall(min_cosine, target_recall,
                                  kind="cosine", max_perm=max_perm)
    return bands, rows_per_band


def motif_bucket_drops(df: DataFrame, keys: list[str], time_col: str,
                       value_col: str, m: int, *,
                       min_cosine: float = 0.95, step: int = 1,
                       bands: int = 8, rows_per_band: int = 6,
                       max_bucket: int = 1000,
                       target_recall: float | None = None,
                       max_perm: int = 512) -> DataFrame:
    """Drop accounting for :func:`motif_pairs`' ``max_bucket`` valve —
    the "no silent caps" ledger (r7, mirroring the minhash stance):
    one row per truncated LSH bucket,
    ``(band, bval, n_windows, n_dropped)`` with
    ``n_dropped = n_windows − max_bucket``. Empty result ⇒ the valve
    did not engage and the ``target_recall`` contract holds untrimmed;
    otherwise ``sum(n_dropped)`` windows were excluded from candidate
    generation in those buckets (typically constant-ish boilerplate
    shapes). Pass the SAME parameters as the motif_pairs call being
    audited; cost is the bucketing aggregation only — no pair join."""
    from .similarity import _band_buckets

    bands, rows_per_band = _motif_banding(min_cosine, bands,
                                          rows_per_band, target_recall,
                                          max_perm)
    evn = _normalized_window_elements(df, keys, time_col, value_col,
                                      m, step)
    bb = _band_buckets(evn, "_id", "_x", bands, rows_per_band, dim=m)
    return (bb.groupBy("band", "bval")
            .agg(F.count(F.lit(1)).alias("n_windows"))
            .where(F.col("n_windows") > max_bucket)
            .select("band", "bval", "n_windows",
                    (F.col("n_windows") - max_bucket).alias("n_dropped")))


def motif_pairs(df: DataFrame, keys: list[str], time_col: str,
                value_col: str, m: int, *, min_cosine: float = 0.95,
                step: int = 1, bands: int = 8, rows_per_band: int = 6,
                max_bucket: int = 1000,
                exclusion: float | None = None,
                target_recall: float | None = None,
                max_perm: int = 512) -> DataFrame:
    """Motif discovery: pairs of length-``m`` windows (anywhere in the
    corpus, any keys) whose Z-NORMALIZED shapes agree — repeated
    signatures nobody defined in advance, the self-join complement of
    :func:`pattern_topk` (matrix-profile-style semantics, mined
    relationally).

    Never an all-pairs join: windows explode to elements ONCE, each
    element z-normalizes against its window's (broadcast-joined)
    moments — all codegen, no per-row lambdas — and the normalized
    element stream feeds the SAME banded hyperplane-LSH machinery as
    `similarity.embedding_dup_pairs` (`_band_buckets`): candidates are
    bucket collisions, verified with one exact element-join pass. For
    z-normalized windows ‖ẑ‖² = m exactly, so cosine = r/m and the
    z-distance² is 2m(1−cos) — ``min_cosine`` IS a z-distance bound.

    ``exclusion`` (default ``m`` time units) drops trivial matches: a
    window overlapping itself shifted by one tick is always similar;
    same-key pairs closer than the exclusion zone are suppressed, the
    standard matrix-profile rule. Returns
    ``(<key>_a…, start_a, <key>_b…, start_b, cosine)`` with the pair
    ordered lexicographically by (keys…, start).

    ``target_recall=0.95`` derives (bands, rows_per_band) from
    ``min_cosine`` via :func:`~.dedup.banding_for_recall` (the cosine
    S-curve), overriding the manual banding — recall AT the cosine
    threshold becomes a contract, exactly the minhash stance (r7).
    The ``max_bucket`` valve can still trim recall in degenerate hot
    buckets; audit it with :func:`motif_bucket_drops` (same
    parameters) — the valve is accounted, never silent."""
    if exclusion is None:
        exclusion = float(m)
    from .similarity import _band_buckets

    bands, rows_per_band = _motif_banding(min_cosine, bands,
                                          rows_per_band, target_recall,
                                          max_perm)
    evn = _normalized_window_elements(df, keys, time_col, value_col,
                                      m, step)

    bb = _band_buckets(evn, "_id", "_x", bands, rows_per_band, dim=m)
    w = Window.partitionBy("band", "bval").orderBy(F.asc("_id"))
    grp = (bb.withColumn("_bn", F.row_number().over(w))
           .where(F.col("_bn") <= max_bucket)
           .groupBy("band", "bval")
           .agg(F.collect_list("_id").alias("_ids"))
           .where(F.size("_ids") >= 2))
    cand = (grp.select(F.explode("_ids").alias("id_a"), "_ids")
            .select("id_a", F.explode("_ids").alias("id_b"))
            .where(F.col("id_a") < F.col("id_b"))
            .distinct())

    ea = evn.select(F.col("_id").alias("id_a"), "_d",
                    F.col("_x").alias("_xa"))
    eb = evn.select(F.col("_id").alias("id_b"), "_d",
                    F.col("_x").alias("_xb"))
    pairs = (cand.join(ea, "id_a").join(eb, ["id_b", "_d"])
             .groupBy("id_a", "id_b")
             .agg(F.sum(F.col("_xa") * F.col("_xb")).alias("_r"))
             .select("id_a", "id_b",
                     F.round(F.col("_r") / m, 6).alias("cosine"))
             .where(F.col("cosine") >= min_cosine))

    same_key = None
    for c in keys:
        cond = F.col(f"id_a.{c}") == F.col(f"id_b.{c}")
        same_key = cond if same_key is None else (same_key & cond)
    trivial = (same_key if same_key is not None else F.lit(True)) & \
        (F.abs(F.col("id_a.start_time") - F.col("id_b.start_time"))
         < F.lit(float(exclusion)))
    flat = pairs.where(~trivial).select(
        *[F.col(f"id_a.{c}").alias(f"{c}_a") for c in keys],
        F.col("id_a.start_time").alias("start_a"),
        *[F.col(f"id_b.{c}").alias(f"{c}_b") for c in keys],
        F.col("id_b.start_time").alias("start_b"),
        "cosine")
    return flat


def pattern_topk(df: DataFrame, keys: list[str], time_col: str,
                 value_col: str, query: list[float], *, k: int = 10,
                 step: int = 1, znormalize: bool = True,
                 per_key: bool = False) -> DataFrame:
    """Top-``k`` windows most similar to ``query`` across all keys —
    or, with ``per_key=True``, the top-``k`` WITHIN each key ("the 5
    closest matches in every drive", one window pass partitioned on
    the keys instead of a global TakeOrdered):
    ``(keys…, start_time, dist, rank)``, ascending z-normalized squared
    euclidean distance, ties broken by (start_time, keys…) so the
    ranking is total and oracle-reproducible.

    The query is z-normalized on the driver (it is a literal); each
    candidate window z-normalizes from its own exploded element sums —
    distance = Σ (ẑᵢ - q̂ᵢ)² expands to m + m·Σq̂ᵢ² ... computed here
    directly from the raw sums: with s1=Σx, s2=Σx², μ=s1/m,
    σ²=s2/m−μ², and r=Σxᵢq̂ᵢ, the z-normalized squared distance is
    2m − 2·r/σ (q̂ already zero-mean ⇒ Σq̂ᵢ(xᵢ−μ)=r−μ·Σq̂ᵢ=r) when
    σ>0 — the classic MASS identity, needing ONE joint pass over the
    elements. Constant windows (σ=0) have no z-form; they get the
    uncorrelated distance 2m (a constant QUERY raises instead).

    The global top-k compiles to ``TakeOrderedAndProject`` (each task
    keeps its local k; the driver merges) — a global row_number window
    would funnel EVERY scored row through one task."""
    m = len(query)
    if m < 2:
        raise ValueError(f"query must have >= 2 points, got {m}")
    import math
    if znormalize:
        mu = sum(query) / m
        var = sum((x - mu) ** 2 for x in query) / m
        if var <= 0:
            raise ValueError("query is constant; z-normalized distance "
                             "is undefined — pass znormalize=False")
        qn = [(x - mu) / math.sqrt(var) for x in query]
    else:
        qn = [float(x) for x in query]

    wins = sliding_windows(df, keys, time_col, value_col, m, step=step)
    spark = df.sparkSession
    qdf = spark.createDataFrame([(d, float(qn[d])) for d in range(m)],
                                "_d int, _q double")
    ev = wins.select(*keys, "start_time",
                     F.posexplode("window").alias("_d", "_x"))
    sums = (ev.join(F.broadcast(qdf), "_d")
            .groupBy(*keys, "start_time")
            .agg(F.sum("_x").alias("_s1"),
                 F.sum(F.col("_x") * F.col("_x")).alias("_s2"),
                 F.sum(F.col("_x") * F.col("_q")).alias("_r")))
    if znormalize:
        # explicit multiplication, not **2: pow(x, 2) is not guaranteed
        # bit-identical to x*x across engines, and the DuckDB oracle
        # must reproduce this expression exactly
        mean = F.col("_s1") / m
        sigma = F.sqrt(F.greatest(
            F.col("_s2") / m - mean * mean, F.lit(0.0)))
        dist = (F.when(sigma > 1e-12,
                       F.lit(2.0 * m) - 2.0 * F.col("_r") / sigma)
                .otherwise(F.lit(2.0 * m)))
    else:
        # Σ(x-q)² = s2 - 2r + Σq²
        dist = F.col("_s2") - 2.0 * F.col("_r") \
            + F.lit(float(sum(x * x for x in qn)))
    scored = sums.select(*keys, "start_time",
                         F.round(dist, 6).alias("dist"))
    order = [F.asc("dist"), F.asc("start_time"),
             *[F.asc(c) for c in keys]]
    if per_key:
        wk = Window.partitionBy(*keys).orderBy(*order)
        return (scored.withColumn("rank", F.row_number().over(wk)
                                  .cast("bigint"))
                .where(F.col("rank") <= k)
                .select(*keys, "start_time", "dist", "rank"))
    top = scored.orderBy(*order).limit(k)
    w = Window.orderBy(*order)                          # k rows only
    return (top.withColumn("rank",
                           F.row_number().over(w).cast("bigint"))
            .select(*keys, "start_time", "dist", "rank"))


def pattern_topk_multi(df: DataFrame, keys: list[str], time_col: str,
                       value_cols: list[str],
                       query: dict[str, list[float]], *, k: int = 10,
                       step: int = 1, znormalize: bool = True,
                       per_key: bool = False) -> DataFrame:
    """Multichannel :func:`pattern_topk` (r7): top-``k`` windows most
    similar to a d-channel example — a braking signature is
    speed+brake+pitch JOINTLY, which is exactly the shape of the
    reference's wide synchronized table
    (synchronize_topics.py:170-197, one column per topic field).
    ``query`` maps each channel in ``value_cols`` to its length-``m``
    pattern; the distance is the SUM over channels of the per-channel
    z-normalized squared euclidean distance (each channel z-normalized
    against its own window moments — amplitude/offset invariance per
    channel, the standard multivariate subsequence semantics), ties
    broken by (start_time, keys…).

    Plan shape is the single-channel one, widened not multiplied: ONE
    window pass collects all d channels' arrays (same spec → one
    Window node), the zipped arrays explode ONCE, and all 3·d running
    sums (s1_c, s2_c, r_c) come out of ONE hash aggregate — per-channel
    MASS identities combine in a pure projection, and the global top-k
    still compiles to TakeOrderedAndProject (plan-pinned). Null
    samples raise (the single-channel contract); constant windows get
    the uncorrelated distance 2m per affected channel, a constant
    QUERY channel raises."""
    if not value_cols:
        raise ValueError("value_cols must be non-empty")
    if sorted(query) != sorted(value_cols):
        raise ValueError(f"query channels {sorted(query)} must match "
                         f"value_cols {sorted(value_cols)}")
    m = len(query[value_cols[0]])
    if m < 2:
        raise ValueError(f"query must have >= 2 points, got {m}")
    if any(len(q) != m for q in query.values()):
        raise ValueError("all query channels must share one length")
    if step < 1:
        raise ValueError(f"step must be >= 1, got {step}")
    import math
    qn = {}
    for c in value_cols:
        q = [float(x) for x in query[c]]
        if znormalize:
            mu = sum(q) / m
            var = sum((x - mu) ** 2 for x in q) / m
            if var <= 0:
                raise ValueError(f"query channel {c!r} is constant; "
                                 f"pass znormalize=False")
            qn[c] = [(x - mu) / math.sqrt(var) for x in q]
        else:
            qn[c] = q

    def _val(c):
        return (F.when(F.col(c).isNull(),
                       F.raise_error(F.lit(
                           f"pattern_topk_multi: null in {c!r}; "
                           f"resample/fill first")))
                .otherwise(F.col(c).cast("double")))

    w = (Window.partitionBy(*keys).orderBy(time_col)
         .rowsBetween(Window.currentRow, m - 1))
    # ALL channels in one select → one Window node (chained
    # withColumn would plant one Window per channel)
    wins = (df.select(*keys, F.col(time_col).alias("start_time"),
                      *[F.collect_list(_val(c)).over(w).alias(f"_w_{c}")
                        for c in value_cols])
            .where(F.size(f"_w_{value_cols[0]}") == m))
    if step > 1:
        wn = Window.partitionBy(*keys).orderBy("start_time")
        wins = (wins.withColumn("_rn", F.row_number().over(wn))
                .where((F.col("_rn") - 1) % step == 0).drop("_rn"))

    zipped = F.arrays_zip(*[F.col(f"_w_{c}") for c in value_cols])
    ev = wins.select(*keys, "start_time",
                     F.posexplode(zipped).alias("_d", "_v"))
    spark = df.sparkSession
    qdf = spark.createDataFrame(
        [tuple([d] + [qn[c][d] for c in value_cols])
         for d in range(m)],
        "_d int, " + ", ".join(f"_q_{i} double"
                               for i in range(len(value_cols))))
    aggs = []
    for i, c in enumerate(value_cols):
        x = F.col("_v").getField(f"_w_{c}")
        aggs += [F.sum(x).alias(f"_s1_{i}"),
                 F.sum(x * x).alias(f"_s2_{i}"),
                 F.sum(x * F.col(f"_q_{i}")).alias(f"_r_{i}")]
    sums = (ev.join(F.broadcast(qdf), "_d")
            .groupBy(*keys, "start_time").agg(*aggs))

    total = None
    for i, c in enumerate(value_cols):
        if znormalize:
            mean = F.col(f"_s1_{i}") / m
            sigma = F.sqrt(F.greatest(
                F.col(f"_s2_{i}") / m - mean * mean, F.lit(0.0)))
            d_c = (F.when(sigma > 1e-12,
                          F.lit(2.0 * m) - 2.0 * F.col(f"_r_{i}") / sigma)
                   .otherwise(F.lit(2.0 * m)))
        else:
            d_c = F.col(f"_s2_{i}") - 2.0 * F.col(f"_r_{i}") \
                + F.lit(float(sum(x * x for x in qn[c])))
        total = d_c if total is None else total + d_c
    scored = sums.select(*keys, "start_time",
                         F.round(total, 6).alias("dist"))
    order = [F.asc("dist"), F.asc("start_time"),
             *[F.asc(c) for c in keys]]
    if per_key:
        wk = Window.partitionBy(*keys).orderBy(*order)
        return (scored.withColumn("rank", F.row_number().over(wk)
                                  .cast("bigint"))
                .where(F.col("rank") <= k)
                .select(*keys, "start_time", "dist", "rank"))
    top = scored.orderBy(*order).limit(k)
    wr = Window.orderBy(*order)                         # k rows only
    return (top.withColumn("rank",
                           F.row_number().over(wr).cast("bigint"))
            .select(*keys, "start_time", "dist", "rank"))


def xcorr_lags(df: DataFrame, keys: list[str], time_col: str,
               a_col: str, b_col: str, *, max_lag: int,
               step: int = 1) -> DataFrame:
    """Cross-correlation of two signals per key over candidate sample
    lags — "by how many samples does the lidar speed trail the camera
    speed in this drive": ``(keys…, lag, xcorr, n_pairs)``, one row
    per lag in ``-max_lag..max_lag`` (thinned by ``step``), where
    ``xcorr = corr(a[t], b[t+lag])`` (Pearson, so amplitude/offset
    drop out like pattern_topk's z-normalization).

    The estimator the reference's topic synchronizer silently assumes
    away: resample_asof aligns topics on one spine ASSUMING their
    clocks agree; this measures the residual skew so the offset can be
    corrected before alignment. Lags are in ROW units — run it on a
    regularly-resampled signal (resample_asof),
    then seconds = lag × grid step.

    Plan shape: all ``lead(b, lag)`` shifted copies come from ONE
    window pass (same partition/order for every lag → one Window
    operator, one exchange), and the groupBy that follows keys on the
    window's own partitioning, so Catalyst reuses the exchange — the
    data shuffles once regardless of how many lags are scored. Rows
    where either side is null (series edges) drop out of that lag's
    pair count (``n_pairs``), never biasing the correlation.
    ``corr`` returns NULL for degenerate (constant) windows — such
    lags surface as NULL xcorr rather than fake certainty."""
    if max_lag < 1:
        raise ValueError(f"max_lag must be ≥ 1, got {max_lag}")
    if step < 1:
        raise ValueError(f"step must be ≥ 1, got {step}")
    lags = list(range(-max_lag, max_lag + 1, step))
    w = Window.partitionBy(*keys).orderBy(time_col)
    a = F.col(a_col).cast("double")
    b = F.col(b_col).cast("double")
    shifted = df.select(
        *keys, a.alias("_a"),
        *[F.lead(b, lag).over(w).alias(f"_b_{i}") if lag >= 0
          else F.lag(b, -lag).over(w).alias(f"_b_{i}")
          for i, lag in enumerate(lags)])
    agg = shifted.groupBy(*keys).agg(
        *[F.corr("_a", f"_b_{i}").alias(f"_c_{i}") for i in range(len(lags))],
        *[F.count(F.when(F.col("_a").isNotNull()
                         & F.col(f"_b_{i}").isNotNull(), 1))
          .alias(f"_n_{i}") for i in range(len(lags))])
    pairs = F.array(*[
        F.struct(F.lit(lag).cast("int").alias("lag"),
                 F.col(f"_c_{i}").alias("xcorr"),
                 F.col(f"_n_{i}").cast("bigint").alias("n_pairs"))
        for i, lag in enumerate(lags)])
    return (agg.select(*keys, F.explode(pairs).alias("_p"))
            .select(*keys, "_p.lag", "_p.xcorr", "_p.n_pairs"))


def estimate_lag(df: DataFrame, keys: list[str], time_col: str,
                 a_col: str, b_col: str, *, max_lag: int,
                 step: int = 1, min_pairs: int = 8) -> DataFrame:
    """Best-lag summary of :func:`xcorr_lags`: per key, the lag with
    the highest cross-correlation — ``(keys…, best_lag, best_xcorr)``.
    Lags with fewer than ``min_pairs`` overlapping samples are
    ineligible (series edges make extreme lags look spuriously
    perfect on 2-3 points). Ties break to the smallest |lag|, then the
    smaller lag, so the estimate is total and oracle-reproducible."""
    x = xcorr_lags(df, keys, time_col, a_col, b_col,
                   max_lag=max_lag, step=step)
    ok = x.where(F.col("xcorr").isNotNull()
                 & (F.col("n_pairs") >= min_pairs))
    pref = F.struct(F.col("xcorr").alias("c"),
                    (-F.abs(F.col("lag"))).cast("int").alias("absl"),
                    (-F.col("lag")).cast("int").alias("l"))
    return (ok.groupBy(*keys)
            .agg(F.max_by(F.col("lag"), pref).alias("best_lag"),
                 F.max(pref).getField("c").alias("best_xcorr")))
