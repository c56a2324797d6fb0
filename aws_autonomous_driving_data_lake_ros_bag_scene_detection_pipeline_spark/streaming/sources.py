"""Streaming file sources.

Replaces the reference's S3-event → Lambda prefix/suffix filter
(lambda_function.py:24-39, config.json:10-15) with Spark's checkpointed
file source: discovery, filtering, and exactly-once bookkeeping are the
engine's job, not a hand-rolled DynamoDB ledger (trigger.py:110-147).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def file_stream(spark: SparkSession, path: str, schema: T.StructType,
                fmt: str = "parquet", glob: str | None = None,
                max_files_per_trigger: int | None = None) -> DataFrame:
    """Unbounded DataFrame over files appearing under ``path``.

    ``glob`` maps to ``pathGlobFilter`` (the Lambda's prefix/suffix
    filter); ``max_files_per_trigger`` bounds micro-batch size the way
    the reference's batch rotation bounded EMR run size
    (trigger.py:150-165). Schema must be explicit — streaming reads
    don't infer, which is also the right call at 100 TB.
    """
    reader = spark.readStream.format(fmt).schema(schema)
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.load(path)


# -- manifest-backed incremental landing-zone discovery (r9) ----------------
# The reference's ingest is NOTIFICATION-driven: S3 events accumulate
# batches in DynamoDB (infrastructure/emr_trigger/lambda_source/
# trigger.py:110-147, ecs_stack.py:357-365), so the trigger never
# re-lists the landing bucket. `file_stream` above rides Spark's
# directory-listing file source instead — correct, but every
# micro-batch RE-LISTS the watched tree, and at 10^7 landed files the
# per-batch relisting dominates the batch itself. The functions below
# restore the reference's flat-cost discovery without a notification
# bus: a PROCESSED-FILES LEDGER (itself a snapshot table — atomic
# commits, replay markers, time travel) plus partition sealing, so a
# discovery step lists partition NAMES (one readdir), descends only
# into unsealed partitions, and anti-joins the ledger pruned to those
# partitions. Cost per step is O(open partitions + new files) no
# matter how large the sealed history grows.

#: ledger row layout — one row per ingested file
_LEDGER_SCHEMA = ("path string, size long, mtime long, part string, "
                  "batch_id long")


def _files_frame(spark: SparkSession, files: list[tuple]) -> DataFrame:
    """``(path, size, mtime, part)`` rows as a local relation. Built from
    pandas over Arrow, so collecting it runs no Spark job; a frame built
    from a Python list is an RDD scan that costs a job per action."""
    import pandas as pd
    cols = ["path", "size", "mtime", "part"]
    return spark.createDataFrame(pd.DataFrame(files, columns=cols),
                                 "path string, size long, mtime long, "
                                 "part string")


def _seals_path(ledger_path: str) -> str:
    return ledger_path.rstrip("/") + "_seals"


def _list_dir(spark: SparkSession, path: str):
    """Hadoop-FS listStatus (works for file:// and s3a:// alike);
    returns [] for a missing directory."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(jpath):
        return []
    return list(fs.listStatus(jpath))


def _list_files_recursive(spark: SparkSession, path: str,
                          glob: str | None) -> list[tuple]:
    """(path, size, mtime_ms) for every data file under ``path``."""
    import fnmatch
    out: list[tuple] = []
    stack = [path]
    while stack:
        p = stack.pop()
        for st in _list_dir(spark, p):
            name = st.getPath().getName()
            if name.startswith(("_", ".")):
                continue                      # markers, checkpoints
            full = st.getPath().toString()
            if st.isDirectory():
                stack.append(full)
            elif glob is None or fnmatch.fnmatch(name, glob):
                out.append((full, st.getLen(),
                            st.getModificationTime()))
    return out


def sealed_partitions(spark: SparkSession, ledger_path: str) -> set:
    """Partition values recorded as sealed for this ledger (empty set
    when nothing was ever sealed)."""
    from ..sources.snapshots import latest_version, read_snapshot
    sp = _seals_path(ledger_path)
    if latest_version(spark, sp) is None:
        return set()
    return {r["part"] for r in read_snapshot(spark, sp).collect()}


def discover_new_files(spark: SparkSession, landing_path: str,
                       ledger_path: str, *, glob: str | None = None,
                       partition_col: str | None = None,
                       anti_join_threshold: int = 100_000) -> dict:
    """One incremental discovery pass: list the landing zone with
    sealed partitions SKIPPED (their files are never listed, let alone
    read), then anti-join the ledger so already-ingested files drop
    out. Returns ``{files: [(path, size, mtime, part)], stats}`` where
    ``stats`` reports exactly what was and wasn't listed
    (no-silent-caps: ``partitions_sealed`` says how much of the tree
    discovery never touched).

    With ``partition_col`` the landing tree is hive-partitioned
    (``part=<value>/...``) and per-step cost is O(unsealed partitions
    + their files); without it the whole tree is listed every step
    (documented O(total files) — fine for small zones, wrong at 10^7
    files: partition your landing zone).

    Ledger dedup runs in one of two modes, reported as
    ``stats["dedup_mode"]`` (r10, r9 VERDICT item 4): up to
    ``anti_join_threshold`` candidates the pruned ledger read's
    ``path`` set collects to the driver (``"collect"`` — cheapest for
    the steady state); past it, the candidate list becomes a
    DataFrame and a DISTRIBUTED left-anti join against the pruned
    ledger keeps the already-ingested set out of driver memory
    entirely (``"anti_join"`` — one hot unsealed partition with 10^7
    files no longer collects 10^7 ledger strings; the driver holds
    only the listing and the genuinely-new files)."""
    from urllib.parse import unquote

    from ..sources.snapshots import latest_version, read_snapshot
    sealed = sealed_partitions(spark, ledger_path) \
        if partition_col else set()
    stats = {"partitions_listed": 0, "partitions_sealed": len(sealed)}
    cands: list[tuple] = []
    if partition_col:
        prefix = partition_col + "="
        for st in _list_dir(spark, landing_path):
            name = st.getPath().getName()
            if not (st.isDirectory() and name.startswith(prefix)):
                continue
            val = unquote(name[len(prefix):])
            if val in sealed:
                continue
            stats["partitions_listed"] += 1
            cands.extend(
                (p, sz, mt, val) for p, sz, mt in
                _list_files_recursive(spark, st.getPath().toString(),
                                      glob))
    else:
        cands = [(p, sz, mt, None) for p, sz, mt in
                 _list_files_recursive(spark, landing_path, glob)]
    stats["files_listed"] = len(cands)
    if not cands:
        stats["dedup_mode"] = "none"
        return {"files": [], "stats": stats}
    led = None
    if latest_version(spark, ledger_path) is not None:
        if partition_col:
            # build ONLY the pruned reader: even constructing the
            # full reader resolves (and existence-checks) the whole
            # ledger file list — manifest-level partition pruning
            # keeps this read O(open partitions) as the ledger grows
            parts = sorted({c[3] for c in cands})
            inlist = ", ".join("'%s'" % p.replace("'", "''")
                               for p in parts)
            led = read_snapshot(spark, ledger_path,
                                where=f"part in ({inlist})")
        else:
            led = read_snapshot(spark, ledger_path)
    led_rows = None
    if led is not None and len(cands) <= anti_join_threshold:
        # ONE bounded job answers both "is the ledger side small?"
        # and "what are its paths": limit(threshold+1) caps driver
        # memory, and an over-limit result falls through to the
        # distributed anti-join (a small listing over a huge
        # archived-after-ingest history must not collect the ledger)
        led_rows = (led.select("path")
                    .limit(anti_join_threshold + 1).collect())
        if len(led_rows) > anti_join_threshold:
            led_rows = None               # too big: anti-join below
    if led is None:
        new = cands
        stats["dedup_mode"] = "none"
    elif led_rows is not None:
        seen = {r["path"] for r in led_rows}
        new = [c for c in cands if c[0] not in seen]
        stats["dedup_mode"] = "collect"
    else:
        # distributed anti-join: the already-ingested path set stays
        # executor-side; only the NEW files come back to the driver
        cdf = _files_frame(spark, cands)
        new = [(r["path"], r["size"], r["mtime"], r["part"])
               for r in cdf.join(led.select("path"), "path",
                                 "left_anti")
               .select("path", "size", "mtime", "part").collect()]
        # restore LISTING order (advisor fix): the post-shuffle
        # collect order is nondeterministic, and process callbacks
        # must see the same file order whichever side of
        # anti_join_threshold a step lands on
        order = {c[0]: i for i, c in enumerate(cands)}
        new.sort(key=lambda t: order[t[0]])
        stats["dedup_mode"] = "anti_join"
    stats["files_new"] = len(new)
    stats["files_already_ingested"] = len(cands) - len(new)
    return {"files": new, "stats": stats}


def file_ingest_batch(spark: SparkSession, landing_path: str,
                      ledger_path: str, *, process,
                      glob: str | None = None,
                      partition_col: str | None = None,
                      seal_below: str | None = None,
                      source: str = "file_ingest",
                      anti_join_threshold: int = 100_000) -> dict:
    """One exactly-once ingest step over the landing zone: discover
    new files (:func:`discover_new_files`), hand them to ``process``,
    record them in the ledger, optionally seal finished partitions.

    ``process(files_df, batch_id)`` receives a DataFrame of
    ``(path, size, mtime, part)`` rows and the step's deterministic
    batch id (the ledger version the step will commit). Downstream
    sinks should ride the same id — e.g.
    ``snapshot_append(..., source_batch=(my_marker, batch_id))`` — so
    the whole step is replay-idempotent: a crash between the
    downstream commit and the ledger commit re-runs the step with the
    SAME batch id (the ledger didn't advance, so discovery returns
    the same files), the downstream replay marker no-ops, and the
    ledger append then lands. The ledger append itself carries a
    ``source_batch`` marker for the same reason.

    ``seal_below`` (requires ``partition_col``) seals every fully
    ingested partition whose value sorts lexicographically below it —
    the caller's promise that producers no longer write there (ISO
    dates and zero-padded numbers sort correctly; pass values in the
    partition's own encoding). Sealed partitions are never listed
    again; this is what keeps discovery flat while the landing zone
    grows. Returns the discovery stats plus
    ``{batch_id, ledger_version, sealed_now}``."""
    from pyspark.sql import functions as F

    from ..sources.snapshots import (
        latest_version, snapshot_append, snapshot_write,
    )
    if seal_below is not None and partition_col is None:
        raise ValueError("seal_below requires partition_col")
    led_v = latest_version(spark, ledger_path)
    if led_v is None:
        led_v = snapshot_write(
            spark, ledger_path,
            spark.createDataFrame([], _LEDGER_SCHEMA),
            partition_cols=["part"] if partition_col else [])
    batch_id = led_v + 1
    disc = discover_new_files(spark, landing_path, ledger_path,
                              glob=glob, partition_col=partition_col,
                              anti_join_threshold=anti_join_threshold)
    out = {"batch_id": batch_id, **disc["stats"], "sealed_now": []}
    if disc["files"]:
        files_df = _files_frame(spark, disc["files"])
        process(files_df, batch_id)
        out["ledger_version"] = snapshot_append(
            spark, ledger_path,
            files_df.withColumn("batch_id", F.lit(batch_id)),
            source_batch=(source, batch_id))
    else:
        out["ledger_version"] = led_v
    if seal_below is not None:
        from urllib.parse import unquote

        already = sealed_partitions(spark, ledger_path)
        # every unsealed partition below the mark is fully ingested
        # as of this step (discovery listed it and the ledger now
        # holds everything it found). Values are hive-DECODED, like
        # discovery's skip check — a raw 'a%20b' dir seals as 'a b'
        # so the two always agree; seal_below compares against the
        # decoded form.
        prefix = partition_col + "="
        vals = {unquote(st.getPath().getName()[len(prefix):])
                for st in _list_dir(spark, landing_path)
                if st.isDirectory()
                and st.getPath().getName().startswith(prefix)}
        to_seal = sorted(v for v in vals
                         if v < seal_below and v not in already)
        if to_seal:
            sp = _seals_path(ledger_path)
            seals_df = spark.createDataFrame([(p,) for p in to_seal],
                                             "part string")
            # NO replay marker: the ledger-derived batch id does not
            # advance on no-new-file steps, so a marker would
            # silently no-op a later seal. Sealing is idempotent by
            # content (only not-yet-sealed values are appended, and
            # duplicate rows from a crash-rerun are harmless — the
            # sealed set is a set)
            if latest_version(spark, sp) is None:
                snapshot_write(spark, sp, seals_df, partition_cols=[])
            else:
                snapshot_append(spark, sp, seals_df)
            out["sealed_now"] = to_seal
    return out
