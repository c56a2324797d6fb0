"""Parquet sources and sinks.

Replaces the reference's manifest-driven per-file loops
(synchronize_topics.py:44-75 ``load_file_path``/``load_and_union_data``:
one ``spark.read`` + union per file) with multi-path single reads so
Spark parallelizes listing and scan planning, and partition pruning /
predicate pushdown stay available to Catalyst.
"""

from __future__ import annotations

import warnings
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class InPlaceMaintenanceWarning(UserWarning):
    """Emitted by :func:`merge_upsert` / :func:`delete_keys` (r7): the
    in-place path is correct ONLY for a single writer that doesn't
    crash mid-maintenance — the recommended API for anything
    concurrent or crash-sensitive is the snapshot family
    (:func:`~.snapshots.snapshot_upsert` /
    :func:`~.snapshots.snapshot_delete` — identical merge semantics,
    manifest-committed). Silence deliberately with
    ``warnings.filterwarnings("ignore",
    category=InPlaceMaintenanceWarning)`` for single-writer scratch
    pipelines that accept the contract."""


def _warn_in_place(api: str, snapshot_api: str) -> None:
    warnings.warn(
        f"{api} rewrites partitions IN PLACE: single-writer only, and "
        f"a crash between the overwrite and the directory-drop leaves "
        f"a mixed state. For crash-safe / concurrent maintenance use "
        f"sources.{snapshot_api} (same semantics, atomic manifest "
        f"commit). Silence via warnings.filterwarnings('ignore', "
        f"category=InPlaceMaintenanceWarning).",
        InPlaceMaintenanceWarning, stacklevel=3)

TPCH_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one driver-generated table (TESTDATA.md layout)."""
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def load_tables(spark: SparkSession, sf_dir: str, names=TPCH_TABLES) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in names}


def register_views(spark: SparkSession, sf_dir: str, names=TPCH_TABLES) -> None:
    """Register temp views so queries can also be written in SQL."""
    for n in names:
        load_table(spark, sf_dir, n).createOrReplaceTempView(n)


def read_topics(spark: SparkSession, topic_paths: dict[str, list[str]],
                base_path: str | None = None) -> dict[str, DataFrame]:
    """Read per-topic parquet datasets (reference: one dataset per ROS
    topic, hive-partitioned by ``bag_file=``; main.py:117-125).

    One multi-path read per topic — Spark unions the files natively and
    keeps partition columns when ``base_path`` is set
    (detect_scenes.py:152-159 does the same via ``basePath``).
    """
    out = {}
    for topic, paths in topic_paths.items():
        reader = spark.read
        if base_path:
            reader = reader.option("basePath", base_path)
        out[topic] = reader.parquet(*paths)
    return out


def union_by_name(dfs: list[DataFrame]) -> DataFrame:
    """Schema-aligned n-ary union (SURVEY §2 #25).

    The reference hand-rolls a column-superset union with a latent
    null-fill bug (synchronize_topics.py:9-18); the intended semantics
    are exactly ``unionByName(allowMissingColumns=True)``.
    """
    return reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), dfs)


def write_partitioned(df: DataFrame, path: str, partition_cols: list[str],
                      mode: str = "append") -> None:
    """Partitioned parquet sink (SURVEY §2 #10; synchronize_topics.py:88-90).

    Hive layout (``bag_file=...``) keeps partition pruning available to
    downstream readers at any scale.
    """
    df.write.mode(mode).partitionBy(*partition_cols).parquet(path)


def write_bucketed(df: DataFrame, table: str, bucket_cols: list[str],
                   num_buckets: int, sort_cols: list[str] | None = None,
                   mode: str = "overwrite") -> None:
    """Bucketed + sorted catalog table — the co-located-join layout.

    At 100 TB the dominant repeated cost is re-shuffling a fact table
    for every join/aggregate on the same key. Writing it bucketed by
    that key (hash-partitioned into a fixed file layout, optionally
    sorted inside each bucket) lets every later equi-join or groupBy on
    the key run with NO exchange: Spark reads matching buckets
    pair-wise, and with sorted buckets the sort-merge join skips its
    sort too. Verified by plan assertion in
    tests/test_plans.py::test_bucketed_join_has_no_shuffle.

    Bucketing requires a catalog table (``saveAsTable``; plain
    ``.parquet(path)`` writes no bucket metadata) — the engine's
    catalog registration path (SURVEY §2 #12) already assumes one.
    Pick ``num_buckets`` so one bucket of the largest table fits an
    executor's scan batch (~128-512 MB); both sides of a co-located
    join must use the same bucket count and columns.
    """
    w = df.write.mode(mode).bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.format("parquet").saveAsTable(table)


def write_time_sorted(df: DataFrame, path: str, time_col: str,
                      partition_cols: list[str] | None = None,
                      num_files: int | None = None,
                      mode: str = "append") -> None:
    """Time-sorted parquet layout — zone-map (min/max) pruning for
    time-range scans, the fine-grained complement to hive partition
    pruning (reference layout: synchronize_topics.py:88-90 partitions by
    ``bag_file`` only, so every time-range query still reads every row
    group of the matching bags).

    ``repartitionByRange`` on (partition_cols…, time_col) gives each
    output file a disjoint time slice, and ``sortWithinPartitions``
    orders rows inside it — so every parquet row group's min/max
    footer statistics span a narrow time interval. A pushed-down
    time-range predicate (PushedFilters) then skips whole row groups
    at the reader, instead of scanning and discarding: at 100 TB this
    is the difference between reading ~(range fraction) of the table
    and reading all of it. Proven on scan metrics in
    tests/test_plans.py::test_time_sorted_layout_prunes_row_groups.

    ``num_files`` bounds the file count per write (defaults to Spark's
    range-partition sampling); every §2.3/§2.5 time-series operator
    (resample, as-of, cascade) benefits from reading this layout.
    """
    keys = [*(partition_cols or []), time_col]
    if num_files is None:
        out = df.repartitionByRange(*keys)
    else:
        out = df.repartitionByRange(num_files, *keys)
    out = out.sortWithinPartitions(*keys)
    w = out.write.mode(mode)
    if partition_cols:
        w = w.partitionBy(*partition_cols)
    w.parquet(path)


def zorder_key(cols: list, *, bits: int = 16,
               ranges: dict[str, tuple[float, float]] | None = None):
    """Morton (Z-order) interleave of ``cols`` as a pure Catalyst
    expression: each column is quantized to ``bits`` equi-width levels
    inside its [min, max] range (``width_bucket``), then the level bits
    are interleaved LSB-first across columns so nearby z-values are
    nearby in EVERY dimension at once.

    ``ranges`` maps column name -> (min, max); required — quantization
    bounds are data statistics the caller owns (compute once with one
    ``agg`` or carry them in a manifest; plan-building code must not
    run driver actions). Out-of-range values clamp to the edge levels.
    All arithmetic is shift/and/or on longs — whole-stage codegen.
    """
    if ranges is None:
        raise ValueError("ranges is required: {col: (min, max)}; compute "
                         "once with df.agg(min/max) or from a manifest")
    n = len(cols)
    if n * bits > 62:
        raise ValueError(f"{n} cols x {bits} bits exceeds a long's width")
    levels = []
    for c in cols:
        lo, hi = (float(v) for v in ranges[c])
        if not hi > lo:
            raise ValueError(f"range for {c} must have max > min")
        b = F.width_bucket(F.col(c).cast("double"), F.lit(lo), F.lit(hi),
                           F.lit(1 << bits)) - 1
        levels.append(F.greatest(F.lit(0),
                                 F.least(b, F.lit((1 << bits) - 1)))
                      .cast("long"))
    z = F.lit(0).cast("long")
    for k in range(bits):
        for i, lvl in enumerate(levels):
            bit = F.shiftright(lvl, k).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, k * n + i))
    return z


def write_zordered(df: DataFrame, path: str, zorder_cols: list[str],
                   *, ranges: dict[str, tuple[float, float]],
                   bits: int = 16, num_files: int | None = None,
                   partition_cols: list[str] | None = None,
                   mode: str = "append") -> None:
    """Z-ordered parquet layout — zone-map pruning on SEVERAL columns
    at once, the multi-dimensional complement to
    :func:`write_time_sorted` (which gives one column perfect
    clustering and the others none).

    Range-partitioning and sorting on the Morton key gives every
    output file/row group a hyper-rectangle-ish footprint: its min/max
    footer stats are narrow in *each* z-ordered column, so a pushed-
    down range predicate on ANY of them skips most row groups. At
    100 TB this is the layout for tables queried along more than one
    axis (e.g. events by user AND by time) where a single sort column
    would force full scans on the second axis. Proven on scan metrics
    in tests/test_plans.py::test_zordered_layout_prunes_both_columns.

    ``ranges`` holds the quantization bounds (see :func:`zorder_key`).
    Clustering degrades gracefully: values outside the given ranges
    clamp to edge cells, so stale bounds cost pruning power, never
    correctness.
    """
    z = zorder_key(zorder_cols, bits=bits, ranges=ranges)
    tagged = df.withColumn("__z", z)
    # hive partition cols lead the range key so each task writes whole
    # partitions — range-partitioning on z alone would fan every task
    # out across all hive partitions (file-count x partitions blowup)
    keys = [*(partition_cols or []), "__z"]
    if num_files is None:
        out = tagged.repartitionByRange(*keys)
    else:
        out = tagged.repartitionByRange(num_files, *keys)
    out = out.sortWithinPartitions(*keys).drop("__z")
    w = out.write.mode(mode)
    if partition_cols:
        w = w.partitionBy(*partition_cols)
    w.parquet(path)


def path_exists(spark: SparkSession, path: str) -> bool:
    """Filesystem existence probe via the Hadoop FileSystem API (any
    supported scheme). The narrow replacement for ``try: read /
    except AnalysisException`` guards: a catch-all on the read turns
    schema corruption or a misconfigured path into a silent no-op,
    while an existence probe only answers the one question the caller
    is actually asking."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return bool(fs.exists(jpath))


def dataset_has_data(spark: SparkSession, path: str) -> bool:
    """True iff ``path`` exists and has at least one non-hidden child
    (a data file or a partition directory). Distinguishes "table
    emptied by deletions" (root dir remains with only ``_SUCCESS``-
    style hidden/metadata entries — a no-op for delete feeds) from a
    real table, without reading any data. One top-level listing."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(jpath):
        return False
    for st in fs.listStatus(jpath):
        name = st.getPath().getName()
        # Spark's own hidden-path rule exempts names containing "=" —
        # a partition directory for an underscore-named column (e.g.
        # `_batch_id=0/`) IS data, not metadata. Mirror it exactly.
        hidden = (name.startswith("_") and "=" not in name) \
            or name.startswith(".")
        if not hidden:
            return True
    return False


def dataset_bytes(spark: SparkSession, path: str) -> int:
    """Total on-disk bytes under ``path`` via the Hadoop FileSystem API
    (works for any supported scheme — local, HDFS, s3a). One listing
    call on the driver; compaction and media repartitioning both need
    this statistic and it must come from the filesystem, not a scan."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs.getContentSummary(jpath).getLength()


def compact_files(spark: SparkSession, src_path: str, dst_path: str, *,
                  target_file_bytes: int = 128 << 20,
                  partition_cols: list[str] | None = None,
                  sort_cols: list[str] | None = None,
                  mode: str = "overwrite") -> int:
    """Rewrite a parquet dataset into ~``total/target_file_bytes``
    right-sized files; returns the file count written.

    The small-file problem is a first-order 100 TB cost: streaming
    sinks and per-batch appends (this engine's incremental dedup index,
    the reference's per-bag writes) accumulate thousands of KB-sized
    files, and every later scan pays per-file open/footer/listing
    overhead plus one scheduler task per file. Periodic compaction
    restores ~128 MB files so scans run at sequential-read speed.

    Writes to ``dst_path`` (never in place — readers of ``src_path``
    stay consistent; swap directories after success, the standard
    compact-then-swap recipe). ``sort_cols`` re-establishes a sorted
    layout in the same pass (compaction is the natural moment to
    restore :func:`write_time_sorted`/:func:`write_zordered` clustering
    that appends have degraded); ``partition_cols`` keeps hive
    partitioning, with files repartitioned BY the partition key so each
    output task writes whole partitions instead of a file per
    (task x partition) pair.
    """
    total = dataset_bytes(spark, src_path)
    n = max(1, -(-total // target_file_bytes))
    df = spark.read.parquet(src_path)
    if sort_cols:
        # partition cols lead the range key (see write_zordered): each
        # task then writes whole hive partitions, sorted within
        keys = [*(partition_cols or []), *sort_cols]
        out = (df.repartitionByRange(n, *keys)
               .sortWithinPartitions(*keys))
    elif partition_cols:
        out = df.repartition(n, *partition_cols)
    else:
        out = df.repartition(n)
    w = out.write.mode(mode)
    if partition_cols:
        w = w.partitionBy(*partition_cols)
    w.parquet(dst_path)
    return n


def merge_upsert(spark: SparkSession, path: str, updates: DataFrame,
                 keys: list[str], *, partition_cols: list[str],
                 order_col: str | None = None,
                 immutable_partitions: bool = True,
                 schema_evolution: bool = False) -> None:
    """Keyed merge (SCD1 upsert) into a hive-partitioned parquet
    dataset IN PLACE, rewriting only the partitions the updates touch.
    Semantics: one row per key survives — the highest ``order_col``
    value wins when given (late/replayed data safe, deterministic under
    reordering); otherwise updates beat existing rows.

    Scale shape: the target is read ONLY in the affected partitions
    (left-semi join against the updates' distinct partition values, so
    partition pruning applies — at 100 TB an upsert touching one day
    reads one day), the merge is one window keyed on ``keys``, and the
    write uses **dynamic partition overwrite** so untouched partitions'
    files are not rewritten (pinned by test on the file listing). The
    merged result is materialized (eager ``localCheckpoint``) before
    the overwrite so the write never races the files it replaces —
    the standard read-merge-overwrite barrier.

    ``immutable_partitions=True`` (default) is a CONTRACT: a key's
    partition-column values never change between versions. If an
    update CAN move a key to a different partition, pass ``False`` —
    the affected-partition discovery then also scans the target for
    the updated keys' current partitions (a full-table semi-join: no
    pruning, the unavoidable price of mutable partition keys) so the
    stale copy in the old partition is merged away instead of
    surviving as a duplicate.

    ``updates`` must carry ``partition_cols``; ``keys`` must be unique
    per row in ``updates`` (enforce upstream — last-wins inside a batch
    needs an ``order_col``).

    Schema contract: by default an updates batch whose columns differ
    from the table's raises ``ValueError`` naming the added/missing
    columns — silent drift in a CDC feed is a bug, not an evolution.
    ``schema_evolution=True`` opts in: NEW columns are added to the
    table (existing rows read as NULL), and update rows MISSING a
    table column win with NULL for it (SCD1 whole-row semantics — the
    update replaces the row, it does not patch fields). Caveat of the
    in-place layout: untouched partitions' files keep the old physical
    schema, so readers of an evolved table must pass
    ``.option("mergeSchema", "true")`` (or an explicit schema) to see
    the new column everywhere — the snapshot path
    (:func:`~.snapshots.snapshot_upsert`) has no such caveat because
    the manifest carries the evolved schema. Keys and partition
    columns can never be evolved away."""
    if not partition_cols:
        raise ValueError("merge_upsert needs partition_cols: in-place "
                         "merge without partitioning would rewrite the "
                         "whole dataset — use compact_files-style "
                         "write-elsewhere instead")
    _warn_in_place("merge_upsert", "snapshot_upsert")
    from pyspark.sql import Window
    target = spark.read.parquet(path)
    _check_schema_drift(target.columns, updates.columns, keys,
                        partition_cols, schema_evolution)
    aff = updates.select(*partition_cols).distinct()
    if not immutable_partitions:
        moved = (target
                 .join(updates.select(*keys).distinct(), keys,
                       "left_semi")
                 .select(*partition_cols).distinct())
        aff = aff.unionByName(moved).distinct()
    existing = target.join(F.broadcast(aff), partition_cols, "left_semi")
    tagged = (existing.withColumn("_src", F.lit(0))
              .unionByName(updates.withColumn("_src", F.lit(1)),
                           allowMissingColumns=schema_evolution))
    order = ([F.col(order_col).desc_nulls_last()] if order_col else []) \
        + [F.col("_src").desc()]
    w = Window.partitionBy(*keys).orderBy(*order)
    merged = (tagged.withColumn("_rn", F.row_number().over(w))
              .where(F.col("_rn") == 1).drop("_rn", "_src")
              .localCheckpoint(eager=True))
    emptied = set()
    if not immutable_partitions:
        # a key moving OUT can leave its old partition with zero rows;
        # dynamic overwrite never touches an absent partition, so those
        # directories must be dropped explicitly (same hole as
        # delete_keys' all-deleted partitions). Only directories that
        # actually EXIST can be emptied: an update row may name a
        # partition absent from disk (stale CDC replay after the key
        # moved, losing the merge to the newer existing row), so
        # intersect with the partitions the affected read found on disk
        # before treating the difference as directories to drop.
        aff_vals = {tuple(r) for r in aff.collect()}
        on_disk = {tuple(r) for r in
                   existing.select(*partition_cols).distinct().collect()}
        kept_vals = {tuple(r) for r in
                     merged.select(*partition_cols).distinct().collect()}
        emptied = (aff_vals & on_disk) - kept_vals
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode",
                          "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        (merged.write.mode("overwrite")
         .partitionBy(*partition_cols).parquet(path))
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    if emptied:
        _drop_partition_dirs(spark, path, partition_cols, emptied)


def _check_schema_drift(existing_cols: list[str], update_cols: list[str],
                        keys: list[str], partition_cols: list[str],
                        schema_evolution: bool) -> None:
    """The upsert schema contract (shared by the in-place and snapshot
    paths): key/partition columns are always required in the updates;
    any other column-set difference raises unless the caller opted into
    evolution."""
    up = set(update_cols)
    required = [c for c in (*keys, *partition_cols) if c not in up]
    if required:
        raise ValueError(
            f"updates batch is missing key/partition columns "
            f"{required} — these can never be evolved away")
    ex = set(existing_cols)
    added = sorted(up - ex)
    dropped = sorted(ex - up)
    if (added or dropped) and not schema_evolution:
        raise ValueError(
            f"updates schema drifted from the table's "
            f"(new columns: {added}, missing columns: {dropped}); "
            f"pass schema_evolution=True to evolve the table (new "
            f"columns appear as NULL on old rows; update rows missing "
            f"a column win with NULL for it)")


def add_lineage(df: DataFrame, **cols: str) -> DataFrame:
    """Tag lineage/literal columns (SURVEY §2 #15; synchronize_topics.py:47-49)."""
    for name, value in cols.items():
        df = df.withColumn(name, F.lit(value))
    return df


# characters Hive/Spark percent-escape in partition directory names
# (ExternalCatalogUtils.escapePathName's charset — public Spark source)
_HIVE_UNSAFE = set('"#%\'*/:=?\\\x7f{[]^')


def _hive_partition_dir(cols: list[str], vals: tuple) -> str:
    """Relative partition directory for a value tuple, using Hive's
    NULL sentinel, Spark's lowercase booleans (Python's str(True) is
    'True') and percent-escaping so the name matches what the writer
    produced."""
    def esc(s: str) -> str:
        return "".join(f"%{ord(ch):02X}"
                       if (ch in _HIVE_UNSAFE or ord(ch) < 32) else ch
                       for ch in s)
    parts = []
    for c, v in zip(cols, vals):
        if v is None:
            parts.append(f"{c}=__HIVE_DEFAULT_PARTITION__")
        elif isinstance(v, bool):
            parts.append(f"{c}={str(v).lower()}")
        else:
            parts.append(f"{c}={esc(str(v))}")
    return "/".join(parts)


def _drop_partition_dirs(spark: SparkSession, path: str,
                         partition_cols: list[str],
                         value_tuples) -> None:
    """Delete specific hive partition directories; RAISES if a
    directory can't be located (e.g. partition-value type inference
    changed its textual form) — a silent no-op would resurrect rows
    the caller believes deleted."""
    jvm = spark._jvm
    fs = jvm.org.apache.hadoop.fs.Path(path).getFileSystem(
        spark._jsc.hadoopConfiguration())
    for vals in value_tuples:
        sub = _hive_partition_dir(partition_cols, vals)
        jp = jvm.org.apache.hadoop.fs.Path(f"{path}/{sub}")
        if not fs.exists(jp):
            raise RuntimeError(
                f"cannot locate partition directory {sub!r} under "
                f"{path} to drop it; its rows were all deleted but the "
                f"directory name derived from the read-back value "
                f"tuple {vals!r} does not match the on-disk layout")
        fs.delete(jp, True)


def delete_keys(spark: SparkSession, path: str, keys_df: DataFrame,
                keys: list[str], *, partition_cols: list[str]) -> None:
    """Propagate deletions (right-to-erasure / retraction lists) into a
    hive-partitioned parquet dataset in place: every row whose key
    appears in ``keys_df`` is removed, rewriting ONLY the partitions
    that contain matches. The delete-side twin of :func:`merge_upsert`
    — same affected-partition discovery, same eager-materialize
    barrier, same dynamic partition overwrite.

    ``keys_df`` needs only the key columns; it may be corpus-scale (a
    dedup delete-list), so it is joined WITHOUT a broadcast hint — the
    optimizer broadcasts small lists on its own and falls back to a
    shuffle join for huge ones instead of failing. Only the bounded
    distinct-partition-value frame is force-broadcast. Rewrite cost is
    proportional to the partitions the keys actually live in, never
    the table."""
    if not partition_cols:
        raise ValueError("delete_keys needs partition_cols (see "
                         "merge_upsert for the rationale)")
    _warn_in_place("delete_keys", "snapshot_delete")
    kd = keys_df.select(*keys).distinct()
    tgt = spark.read.parquet(path)
    aff = (tgt.join(kd, keys, "left_semi")
           .select(*partition_cols).distinct())
    remaining = (tgt.join(F.broadcast(aff), partition_cols, "left_semi")
                 .join(kd, keys, "left_anti")
                 .localCheckpoint(eager=True))
    # dynamic overwrite only touches partitions PRESENT in the written
    # frame — a partition whose rows were all deleted would silently
    # keep its old files. Those must be dropped explicitly (the
    # affected-partition list is driver-side metadata by construction).
    aff_vals = {tuple(r) for r in aff.collect()}
    kept_vals = {tuple(r) for r in
                 remaining.select(*partition_cols).distinct().collect()}
    emptied = aff_vals - kept_vals
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode",
                          "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        (remaining.write.mode("overwrite")
         .partitionBy(*partition_cols).parquet(path))
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    if emptied:
        _drop_partition_dirs(spark, path, partition_cols, emptied)


def prune_versions(spark: SparkSession, path: str, *,
                   keep_latest: int = 1,
                   version_prefix: str = "_version=") -> list[int]:
    """Retention for ``_version=<batch_id>`` snapshot stores (the
    streaming cascade/upsert sinks): delete all but the newest
    ``keep_latest`` version partitions; returns the dropped version
    numbers. Old versions are retention, not correctness — readers
    always take the max version — so pruning is safe at any time;
    keeping ≥1 older version preserves a rollback point. One driver-
    side filesystem listing + per-directory delete, the same metadata
    class as a batch manifest."""
    if keep_latest < 1:
        raise ValueError(f"keep_latest must be >= 1, got {keep_latest}")
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(jpath):
        return []
    versions = []
    for st in fs.listStatus(jpath):
        name = st.getPath().getName()
        if name.startswith(version_prefix):
            try:
                versions.append(int(name[len(version_prefix):]))
            except ValueError:
                continue
    drop = sorted(versions)[:-keep_latest]
    for v in drop:
        fs.delete(jvm.org.apache.hadoop.fs.Path(
            f"{path}/{version_prefix}{v}"), True)
    return drop
