"""Checkpointed, resumable rollup runs with per-partition lineage + metrics.

The engine's analog of the reference's ModelCheckpoint/early-resume discipline
(``experiments/keras_experiment.py:69``, weight reload at
``models_keras.py:75-77``): work is divided into hash BUCKETS of documents
(``pmod(xxhash64(doc_id), n_buckets)``), committed via dynamic partition
overwrite of (bucket, tier) partitions + per-bucket lineage rows. A killed
run resumes by skipping every bucket whose lineage row says ``done``;
re-running a finished run is a no-op; outputs are bit-identical to a single
clean run (tested in tests/test_checkpoint.py).

One call = ONE input scan: all pending buckets roll up in a single job (the
round-1 design filtered and re-scanned the input once per bucket — thousands
of 100 TB scans at the docstring's own target scale). The bucket remains the
RESUME and metrics granularity; ``max_buckets`` bounds one spark-submit
invocation, and concurrent invocations shard cleanly because buckets are
disjoint by construction.

Layout under ``output_root`` (all reads/writes via ``tsrollup.io``, so the
parquet ⇄ Iceberg boundary is one config flag):
    data/bucket=<b>/tier=<t>/*.parquet   rolled-up points (or packed rows)
    _lineage/*.parquet                   one row per completed bucket

and under an incremental store's root:
    data/epoch=<e>/tier=<t>/*.parquet    one refresh's delta per epoch, one
                                         file per writing task
    _watermarks/*.parquet                per-epoch watermark rows and the
                                         input manifest (files each read)

The epoch is an incremental store's resume and provenance unit (its docs
are the watermark log's per-source seq ranges), so it has no hash level:
a store written with ``data/epoch=/bucket=/tier=`` directories is refused
by the refresh and the repair until :func:`compact_epochs` rewrites it.
"""

from __future__ import annotations

import functools
import os
import shutil
import time
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from . import BASE_WINDOW, TIER_FACTOR
from .arrowbuf import rows_df
from .io import (_INFER_CONFS, footer, has_summaries, is_missing_table_error,
                 local_listing, read_files, read_rows, read_table,
                 table_format, write_table)
from .rollup import (COMPRESSED_SCHEMA, ROLLUP_SCHEMA, apply_retention,
                     decompress_rollup, is_packed, rollup_compressed,
                     rollup_sequences)

# wall_time_sec is the wall clock of the COMMITTING CALL (all its pending
# buckets roll up in one single-scan job), recorded identically on each of
# that call's lineage rows — per-bucket wall time is not observable in a
# single-pass commit and would be the scan cost multiplied out.
LINEAGE_SCHEMA = (
    "bucket int, status string, n_docs long, n_points long, "
    "run_id string, wall_time_sec double, completed_at string"
)


def _bucket_col(n_buckets: int):
    return F.pmod(F.xxhash64("doc_id"), F.lit(n_buckets)).cast("int")


def _rolled(df: DataFrame, window: int, tiers: dict[str, int],
            packed: bool) -> DataFrame:
    """``df`` rolled up in the store's mode (codec-packed or plain rows)."""
    rollup = rollup_compressed if packed else rollup_sequences
    return rollup(df, window, tiers)


def _require_local_parquet(output_root: str, what: str, commit: str) -> None:
    """``what`` walks or renames store directories, so it needs a
    local-filesystem parquet store; object stores and Iceberg catalogs are
    rejected up front rather than half-rewritten."""
    if "://" in output_root or table_format() == "iceberg":
        raise NotImplementedError(
            f"{what} needs a local-filesystem parquet store; on object "
            f"stores / Iceberg catalogs the equivalent is a {commit} "
            "snapshot commit (not implemented)")


def _read_log(spark: SparkSession, ident: str, schema: str) -> list[tuple]:
    """Every row of a metadata log (lineage, watermarks) as tuples of its
    declared schema. A log is a few small files, so a log with a local
    listing is read on the driver (:func:`~tsrollup.io.read_rows`), on
    every call and with no Spark job; a column a file lacks (a log written
    before it existed) reads as NULL. Any other log (Iceberg, an object
    store, parquet summary files) is read by Spark, and so is a local path
    with no listed file: the listing cannot tell a missing or
    ``_temporary/``-only log from an unreadable one, Spark's read can.

    Empty ONLY when the log genuinely doesn't exist yet (first run) — or
    holds no committed file yet: a killed first append leaves only
    ``_temporary/``, which the declared schema reads as no rows. Any other
    failure — permissions, storage blip, corrupt files — propagates:
    treating it as 'no log' would silently mark every bucket pending or
    every epoch uncommitted, i.e. one full input rescan and rewrite with
    no signal that resume state was lost."""
    listing = local_listing(ident)
    if listing is not None and not has_summaries(listing):
        return read_rows(listing, schema)
    try:
        return [tuple(r) for r in
                read_table(spark, ident, schema=schema).collect()]
    except Exception as e:  # noqa: BLE001
        if is_missing_table_error(e):
            return []
        raise


def read_lineage(spark: SparkSession, output_root: str) -> DataFrame:
    """The lineage log, one row per completed bucket (see :func:`_read_log`
    for when it reads empty and when it raises)."""
    return rows_df(spark, _read_log(spark, f"{output_root}/_lineage",
                                    LINEAGE_SCHEMA), LINEAGE_SCHEMA)


def completed_buckets(spark: SparkSession, output_root: str) -> set[int]:
    return {r[0] for r in _read_log(spark, f"{output_root}/_lineage",
                                    LINEAGE_SCHEMA) if r[1] == "done"}


def run_checkpointed(spark: SparkSession, input_path: str, output_root: str,
                     n_buckets: int = 8, run_id: str = "run-0",
                     window: int = BASE_WINDOW,
                     tiers: dict[str, int] = TIER_FACTOR,
                     compressed: bool = False,
                     max_buckets: int | None = None,
                     bucket_range: tuple[int, int] | None = None) -> list[int]:
    """Process all pending buckets in ONE pass; returns the buckets completed.

    The input is scanned exactly once per call regardless of n_buckets: all
    pending buckets roll up in a single job whose output is committed with a
    DYNAMIC partition overwrite of just those (bucket, tier) partitions —
    at 10^12-sequence scale this is one 100 TB scan, not one per bucket (the
    round-1 design re-scanned per bucket). The bucket stays the RESUME unit:
    lineage rows are per bucket, a killed call leaves its buckets pending
    (partially-written partitions are simply overwritten on retry), and
    ``max_buckets`` bounds one spark-submit invocation. Metrics derive from
    one scan of the (small) committed output, which also validates the write.

    ``bucket_range=(lo, hi)`` restricts this call to buckets in [lo, hi) —
    the sharding handle for CONCURRENT submissions: give each submission a
    disjoint range and they never contend for the same buckets
    (``max_buckets`` alone always takes the first pending prefix, so two
    unranged concurrent runs would duplicate work — same deterministic
    bytes, wasted scans).
    """
    done = completed_buckets(spark, output_root)
    pending = [b for b in range(n_buckets) if b not in done]
    if bucket_range is not None:
        lo, hi = bucket_range
        if not (0 <= lo < hi <= n_buckets):
            raise ValueError(
                f"bucket_range {bucket_range} outside [0, {n_buckets})")
        pending = [b for b in pending if lo <= b < hi]
    if max_buckets is not None:
        pending = pending[:max_buckets]
    if not pending:
        return []
    t0 = time.time()
    src = read_table(spark, input_path) \
        .withColumn("_bucket", _bucket_col(n_buckets))
    part = src.filter(F.col("_bucket").isin(pending)).drop("_bucket")
    # the bucket is recomputed from doc_id after the rollup (the map drops
    # helper columns): one cheap hash per output row, one input scan
    out = _rolled(part, window, tiers, compressed) \
        .withColumn("bucket", _bucket_col(n_buckets))
    write_table(out, f"{output_root}/data", mode="overwrite",
                partition_by=("bucket", "tier"), dynamic_overwrite=True)
    wall = time.time() - t0

    # per-bucket metrics from the committed files (one scan of the output)
    written = read_table(spark, f"{output_root}/data")
    written = written.filter(F.col("bucket").isin(pending))
    pts = F.count("*") if not compressed else F.sum("n_windows")
    stats = {r["bucket"]: r for r in (
        written.groupBy("bucket")
        .agg(pts.cast("long").alias("n_points"),
             F.countDistinct("doc_id").alias("n_docs"))
        .collect())}
    now = time.strftime("%Y-%m-%dT%H:%M:%S")
    rows = [(b, "done",
             int(stats[b]["n_docs"]) if b in stats else 0,
             int(stats[b]["n_points"]) if b in stats else 0,
             run_id, wall, now) for b in pending]
    write_table(rows_df(spark, rows, LINEAGE_SCHEMA),
                f"{output_root}/_lineage", mode="append")
    return pending


# ---------------------------------------------------- incremental refresh ---

# one row per (source, epoch) committed by refresh_incremental; the CURRENT
# watermark of a source is the max over its rows. The same append carries
# the epoch's input manifest: one row per input file the refresh read, with
# a NULL source and the file's path, size and mtime in the last three
# columns (NULL on watermark rows, absent from logs written before them)
WATERMARK_SCHEMA = ("source string, max_seq long, n_docs long, epoch int, "
                    "run_id string, committed_at string, file string, "
                    "file_size long, file_mtime_ns long")

# (input path, store root) → (state key, view): the real-time view of one
# committed state (see read_realtime); one entry per pair, like io._SCHEMAS
_VIEWS: dict = {}

# the session confs that change how a real-time view is analyzed: the
# schema-inference confs of both reads, and ANSI mode (casts, arithmetic)
_VIEW_CONFS = _INFER_CONFS + ("spark.sql.ansi.enabled",)


def doc_seq() -> Column:
    """The engine's doc-id convention ``<source>-…-<number>`` → the monotone
    per-arrival sequence number (the trailing dash segment of ``doc_id``),
    the ingest sequence of every incremental-store function. Being derived,
    it cannot prune parquet/Iceberg files via min/max stats the way a
    stored (source, seq) column's literal predicate would.

    try_cast, not cast: a non-integer trailing segment must yield NULL in
    BOTH ANSI modes (ANSI cast throws CAST_INVALID_INPUT mid-scan) so
    refresh_incremental's NULL-seq validation can report it as one loud,
    counted error instead of a task failure."""
    return F.element_at(F.split(F.col("doc_id"), "-"), -1).try_cast("long")


def _log_rows(spark: SparkSession, output_root: str) -> list[tuple]:
    """Every row of the watermark log, in :data:`WATERMARK_SCHEMA` order
    (see :func:`_read_log`: no job for a log with a local listing)."""
    return _read_log(spark, f"{output_root}/_watermarks", WATERMARK_SCHEMA)


def _watermark_state(spark: SparkSession, output_root: str
                     ) -> tuple[dict[str, int], set[int], set[tuple]]:
    """(per-source high-water marks, committed epoch ids, input manifest)
    from one read of the log. Bounded driver-side state: one row per
    (source, epoch) — |sources| is small by contract (the
    mixture/per_source_stats argument) — plus one per input file a refresh
    read. The manifest is the set of ``(path, size, mtime_ns)`` committed
    refreshes read, so duplicate rows (a convergent re-run, an interrupted
    log fold) collapse."""
    marks: dict[str, int] = {}
    epochs: set[int] = set()
    manifest: set[tuple] = set()
    for src_name, max_seq, _, e, _, _, f, size, mtime in _log_rows(
            spark, output_root):
        if src_name is not None:
            marks[src_name] = max(marks.get(src_name, -1), max_seq)
            epochs.add(e)
        elif f is not None:
            manifest.add((f, size, mtime))
    return marks, epochs, manifest


def _watermark_rows(spark: SparkSession, output_root: str
                    ) -> list[tuple[str, int, int]]:
    """(source, max_seq, epoch) of every watermark row; the manifest rows,
    whose source is NULL, are left out."""
    return [(r[0], r[1], r[3]) for r in _log_rows(spark, output_root)
            if r[0] is not None]


def read_watermarks(spark: SparkSession, output_root: str) -> dict[str, int]:
    """Current per-source high-water marks (max over committed epochs)."""
    return _watermark_state(spark, output_root)[0]


def _watermark_threshold(wm: dict[str, int]) -> Column:
    """Per-row watermark for ``source`` as a literal-map lookup (watermarks
    are a tiny driver-side dict by contract — no broadcast join needed);
    unseen sources default to −1 (fully included)."""
    if not wm:
        return F.lit(-1)
    entries = []
    for k, v in sorted(wm.items()):
        entries += [F.lit(k), F.lit(v)]
    return F.coalesce(F.element_at(F.create_map(*entries), F.col("source")),
                      F.lit(-1))


def _unconsumed(spark: SparkSession, input_path: str, manifest: set[tuple]
                ) -> tuple[DataFrame, list[tuple] | None]:
    """(scan, files): the input files no committed refresh has read yet,
    from one local listing of ``input_path``, and the ``(path, size,
    mtime_ns)`` of exactly the files the scan reads.

    A listed file is consumed when the manifest holds its path, size and
    mtime: a committed refresh read every doc of that file content, so its
    docs are at or below the watermarks and the ``seq > watermark`` filter
    would drop them all. The scan falls back to every listed file when the
    manifest cannot vouch for the rest — it is empty (a store written
    before manifests, or none yet), or a file it holds was rewritten in
    place (same path, new size or mtime). Without a local listing of data
    files only (an object store, a glob, Iceberg, a streaming sink) the
    scan is the whole input and ``files`` is None. Either way the filter
    on top still decides every row; this only skips files whose rows it
    would drop."""
    listing = local_listing(input_path)
    # parquet summary files and a streaming sink's log are listed but hold
    # no docs; Spark's own reader decides which files such a table holds
    if listing is None or has_summaries(listing):
        return read_table(spark, input_path), None
    held = {p for p, _, _ in manifest}
    rewritten = any(f[0] in held and f not in manifest for f in listing)
    files = (list(listing) if not manifest or rewritten
             else [f for f in listing if f not in manifest])
    return read_files(spark, input_path, [p for p, _, _ in files]), files


def refresh_lag(spark: SparkSession, input_path: str,
                output_root: str) -> DataFrame:
    """Per-source refresh LAG report — the staleness monitor an on-call
    pages on before anyone trusts a continuous aggregate: for every
    source in the raw input, the committed watermark, the input's actual
    high seq, and how many docs are waiting for the next
    :func:`refresh_incremental` (``read_realtime`` serves them fresh
    meanwhile; this reports the store's debt).

    Sources absent from the store report watermark −1 and a full backlog
    (exactly the delta semantics refresh uses — `_watermark_threshold`'s
    unseen-source default, so the report can never disagree with what a
    refresh would actually roll). One aggregation over the raw scan;
    the watermark side is the tiny committed dict, joined as a literal
    map, never a shuffle.

    Output: source, watermark_seq (long, −1 if never refreshed),
    input_max_seq (long), pending_docs (long), caught_up (int).
    """
    wm = read_watermarks(spark, output_root)
    thr = _watermark_threshold(wm)
    # read_table, not read.parquet: the input resolves through the same
    # format boundary refresh_incremental uses, so the report holds on
    # Iceberg deployments too (review finding)
    raw = read_table(spark, input_path).withColumn("_s", doc_seq())
    return (raw
            .withColumn("_wm", thr.cast("long"))
            .groupBy("source")
            .agg(F.max("_wm").alias("watermark_seq"),
                 F.max("_s").cast("long").alias("input_max_seq"),
                 F.sum(F.when(F.col("_s") > F.col("_wm"), 1).otherwise(0))
                 .cast("long").alias("pending_docs"))
            .withColumn("caught_up",
                        (F.col("pending_docs") == 0).cast("int")))


def refresh_incremental(spark: SparkSession, input_path: str,
                        output_root: str, epoch: int,
                        run_id: str = "refresh-0",
                        window: int = BASE_WINDOW,
                        tiers: dict[str, int] = TIER_FACTOR,
                        compressed: bool = False) -> int:
    """Continuous-aggregate REFRESH for an append-only corpus: roll up only
    the documents that arrived since the last refresh and commit them as a
    new epoch — the incremental-maintenance leg the north rule's
    "continuous aggregates" implies (a full re-run per arrival batch would
    re-scan 100 TB to add a few GB).

    Increment contract: docs are immutable once written and carry a
    monotone per-source sequence number (:func:`doc_seq`) — exactly how a
    training corpus grows. The delta is ``seq > watermark[source]`` via a
    broadcast-free literal map lookup (watermarks are a tiny driver-side
    dict by contract), new sources default to watermark −1 (fully
    included).

    The scan reads only the input files no committed refresh has read: the
    input is listed once, and the files whose ``(path, size, mtime_ns)``
    the input manifest in ``_watermarks/`` holds are skipped, since the
    filter would drop every doc in them. A consumed file rewritten in
    place, a store with no manifest rows (none yet, or written before
    manifests) and an input with no local listing (object store, glob,
    Iceberg) fall back to scanning every file, so the rows never depend on
    the manifest. The manifest rows of the files read ride in the same
    append as the epoch's watermark rows, so a crash before that commit
    leaves neither behind. The log is read on the driver on every call
    (:func:`_read_log`), so a refresh runs no job to learn the
    watermarks, whoever appended to the log last.

    The epoch is written as ``data/epoch=<e>/tier=<t>/``, one file per
    writing task: a small delta writes one file per tier. A store with
    data under ``bucket=`` directories (the older (epoch, bucket, tier)
    layout) is refused before the scan: an (epoch, tier) epoch beside it
    would make every later read fail on conflicting partition columns.
    :func:`compact_epochs` rewrites such a store as (epoch, tier).

    Idempotency / crash-safety, in commit order:

    1. delta rollup → DYNAMIC partition overwrite of
       ``data/epoch=<e>/tier=<t>`` — only THIS epoch's
       partitions are touched; earlier epochs are immutable.
    2. per-source watermark rows (epoch-tagged) and the manifest rows of
       the files read, appended as one file AFTER the data commit. A
       crash between 1 and 2 leaves the watermarks and the manifest
       unmoved, so the re-run recomputes the SAME delta (same filter ⇒
       same bytes) and overwrites the same epoch partitions — convergent,
       never duplicated. Re-running a FULLY COMMITTED epoch is an up-front
       no-op: its id is in the watermark table, so the call returns 0
       without touching data — if it instead recomputed "its" delta after
       still-newer docs arrived, the dynamic overwrite would REPLACE the
       epoch's original partitions and destroy committed rows (review
       finding; guarded + tested). New arrivals always go to a NEW epoch.

    Docs whose seq is NULL (an id that doesn't end in an integer) would
    otherwise be silently excluded from every epoch while the full backfill
    path includes them — the refresh counts them in the same stats pass
    and raises instead.

    Returns the number of new docs rolled up. Read the store with
    :func:`read_incremental`; total rows across epochs equal one clean
    rollup of the full input bit-for-bit (tested). ``compressed=True``
    stores codec-packed tier rows instead (Gorilla/delta-of-delta, the
    run_checkpointed twin) — decode with ``rollup.decompress_rollup``;
    don't mix packed and plain epochs in one store.
    """
    if epoch < 0:
        raise ValueError("epoch must be >= 0")
    wm, committed, manifest = _watermark_state(spark, output_root)
    if epoch in committed:
        return 0  # fully committed — never rewrite an epoch's partitions
    data = f"{output_root}/data"
    listing = local_listing(data) or ()
    _refuse_bucketed(output_root, listing)
    s = doc_seq()
    src, files = _unconsumed(spark, input_path, manifest)
    thr = _watermark_threshold(wm)
    # stats + NULL-seq validation BEFORE the data write (the filter is
    # deterministic, so pre- and post-write stats are identical — and the
    # validation must fire before anything is committed)
    stats = (src.filter(s.isNull() | (s > thr))
             .groupBy("source")
             .agg(F.max(s).cast("long").alias("max_seq"),
                  F.countDistinct("doc_id").cast("long").alias("n_docs"),
                  F.sum(s.isNull().cast("long")).alias("n_null_seq"))
             .collect())
    n_null = sum(int(r["n_null_seq"]) for r in stats)
    if n_null:
        raise ValueError(
            f"{n_null} doc(s) have a NULL ingest sequence (doc_id does not "
            "end in an integer?) — they would be silently excluded from "
            "every refresh; fix the ids")
    if not stats:
        return 0
    # packed and plain epochs must never mix in one store: a parquet union
    # across the two schemas reads back as nulls/garbage long after the
    # bad commit — fail fast on the flag mismatch instead
    try:
        existing = read_store(spark, data, listing)
    except Exception as e:  # noqa: BLE001
        if not is_missing_table_error(e):
            raise
        existing = None
    if existing is not None:
        was_packed = is_packed(existing)
        if was_packed != compressed:
            raise ValueError(
                f"store at {output_root} holds "
                f"{'packed' if was_packed else 'plain'} epochs but this "
                f"refresh asked for compressed={compressed} — one store, "
                "one mode")
    out = _rolled(src.filter(s > thr), window, tiers, compressed) \
        .withColumn("epoch", F.lit(int(epoch)))
    write_table(out, data, mode="overwrite", partition_by=_STORE_PARTS,
                dynamic_overwrite=True)
    now = time.strftime("%Y-%m-%dT%H:%M:%S")
    rows = [(r["source"], int(r["max_seq"]), int(r["n_docs"]),
             int(epoch), run_id, now, None, None, None) for r in stats]
    rows += [(None, None, None, int(epoch), run_id, now, *f)
             for f in files or ()]
    write_table(rows_df(spark, rows, WATERMARK_SCHEMA),
                f"{output_root}/_watermarks", mode="append")
    return int(sum(r["n_docs"] for r in stats))


# the partition columns of an incremental store's data/, in directory order
_STORE_PARTS = ("epoch", "tier")


def _refuse_bucketed(output_root: str, listing: tuple) -> None:
    """Raise when a data file of the local ``listing`` of the store's
    ``data/`` sits under a ``bucket=`` directory: the (epoch, bucket,
    tier) layout older versions wrote. Decided on the driver, no job."""
    data = f"{output_root}/data"
    if any(d.startswith("bucket=") for p, _, _ in listing
           for d in os.path.relpath(p, data).split(os.sep)[:-1]):
        raise ValueError(
            f"store at {output_root} holds data under bucket= directories "
            "(the older epoch/bucket/tier layout) — run compact_epochs on "
            "it first, which rewrites it as (epoch, tier)")


def read_store(spark: SparkSession, data: str,
               listing: tuple | None = None) -> DataFrame:
    """The rows of an incremental store's ``data/`` directory (every
    epoch; ``epoch`` and ``tier`` are partition columns), read with a
    declared schema and no Spark job. ``listing`` is the directory's
    :func:`~tsrollup.io.local_listing` when the caller already took it.

    Only this module writes the store, so its schema is known: packed or
    plain is decided from one data file's footer of the local listing
    (pyarrow, on the driver), and the schema is :data:`COMPRESSED_SCHEMA`
    or :data:`ROLLUP_SCHEMA` without ``tier``, followed by ``epoch int,
    tier string`` — the schema Spark's inference returns for the same
    files, without the inference job each new epoch's listing would cost.
    A store with no local listing (Iceberg, an object store, a missing
    directory) or whose first data file does not sit under
    ``epoch=/tier=`` directories (such as an older store with a
    ``bucket=`` level) is read by :func:`~tsrollup.io.read_table` as
    before, which raises for a store that does not exist."""
    if listing is None:
        listing = local_listing(data) or ()
    first = next((p for p, _, _ in listing
                  if not os.path.basename(p).startswith("_")), None)
    dirs = os.path.relpath(first, data).split(os.sep)[:-1] if first else []
    md = footer(first) if first else None
    if [d.split("=", 1)[0] for d in dirs] != list(_STORE_PARTS) \
            or md is None:
        return read_table(spark, data)
    packed = "n_windows" in md.schema.names
    cols = [c for c in (COMPRESSED_SCHEMA if packed else ROLLUP_SCHEMA)
            .split(", ") if c.split(" ", 1)[0] not in _STORE_PARTS]
    return read_table(spark, data, schema=", ".join(
        cols + ["epoch int", "tier string"]))


def _store_epochs(data: str, listing: tuple) -> set[int]:
    """The epoch ids of the ``epoch=`` directories that hold files in
    ``listing``, the local listing of an incremental store's ``data/``:
    its physical epochs, with no job."""
    tops = {os.path.relpath(p, data).split(os.sep)[0] for p, _, _ in listing}
    return {int(t.split("=", 1)[1]) for t in tops if t.startswith("epoch=")}


def read_incremental(spark: SparkSession, output_root: str,
                     as_of_epoch: int | None = None) -> DataFrame:
    """All epochs of an incrementally-refreshed store, rollup-row schema
    (epoch retained for audit; drop it for value comparisons).

    ``as_of_epoch`` TIME-TRAVELS the read: epochs are disjoint per-source
    deltas (refresh_incremental only rolls docs past the committed
    watermarks), so ``epoch <= N`` reproduces exactly the table state the
    post-refresh-N reader saw — training-data reproducibility ("the
    corpus as the epoch-N train run consumed it"), at partition-prune
    cost only (epoch is the leading partition directory, no data outside
    the horizon is scanned). History lasts until :func:`compact_epochs`
    deliberately folds it (documented there); orphan-epoch exclusion
    remains :func:`read_realtime`'s domain, as for the plain read. The
    store is read by :func:`read_store`, which runs no job."""
    df = read_store(spark, f"{output_root}/data")
    if as_of_epoch is not None:
        if as_of_epoch < 0:
            raise ValueError("need as_of_epoch >= 0")
        df = df.filter(F.col("epoch") <= int(as_of_epoch))
    return df


def read_realtime(spark: SparkSession, input_path: str, output_root: str,
                  window: int = BASE_WINDOW,
                  tiers: dict[str, int] = TIER_FACTOR) -> DataFrame:
    """REAL-TIME continuous-aggregate view: the stored epochs UNION a
    fresh rollup of only the raw tail past the per-source watermarks — the
    read-side twin of :func:`refresh_incremental` (cf. TimescaleDB's
    real-time continuous aggregates). Readers see results identical to a
    clean rollup of the FULL input bit-for-bit (tested) no matter how far
    the refresh schedule lags, while the scan cost of the query is
    store + delta, never the 100 TB history: the tail scan reads only the
    input files the manifest of committed refreshes does not hold (see
    :func:`refresh_incremental`), and falls back to every input file when
    the manifest is empty, a file it holds was rewritten in place, or the
    input has no local listing.

    Consistency rules, matching the refresh commit protocol:

    * only COMMITTED epochs are served from the store. An orphan epoch
      (data written, watermark append lost to a crash) is excluded — its
      docs still sit past the watermark, so they arrive via the fresh
      tail instead; served rows are never duplicated and never missing.
    * docs with a NULL seq (which :func:`refresh_incremental` refuses
      to commit) are ALWAYS served fresh: the view stays exact even while
      the refresh path is blocked on the bad ids.
    * a compressed store (codec-packed epochs) is decoded on read; the
      transient tail is always computed plain — nothing packs rows that
      were never at rest.

    Tier pruning holds on packed stores too. Spark cannot push a filter
    through the decode map, so the store is decoded in one branch per tier
    of ``tiers``, each scanning only its tier's rows and tagged with the
    tier as a literal, plus one untagged branch for any other stored tier
    (no stored row is ever dropped). A tier predicate on top of the view
    (:func:`~tsrollup.rollup.read_routed`,
    :func:`~tsrollup.rollup.read_range`) folds to false on the other
    tagged branches, and Spark drops their scan and decode: a routed read
    decodes only the routed tier.

    ``window``/``tiers`` must match the store's refresh parameters — they
    define the rows the store already holds.

    One view per committed state: the view is memoized per
    ``(input_path, output_root)`` under the session, the confs that change
    its analysis (``io._INFER_CONFS`` and ``spark.sql.ansi.enabled``), the
    local listings of the input, the store's ``data/`` and its
    ``_watermarks/``, ``window`` and ``tiers``. A read while all of these
    are unchanged returns the same DataFrame and builds nothing; an
    append, a refresh, a compaction, a file rewritten in place, a conf
    change or a new session builds a fresh view. The listings are taken
    before the build, so a commit racing it changes the next read's key
    rather than hiding behind this one's. A missing local listing (no
    store yet, Iceberg, an object store) builds every time. Readers of one
    state share the object, so a ``cache()`` on it caches it for all of
    them.
    """
    key = None
    listings = tuple(local_listing(p) for p in (
        input_path, f"{output_root}/data", f"{output_root}/_watermarks"))
    if None not in listings:
        key = (spark, tuple(spark.conf.get(k) for k in _VIEW_CONFS),
               listings, window, tuple(tiers.items()))
        hit = _VIEWS.get((input_path, output_root))
        if hit is not None and hit[0] == key:
            return hit[1]
    view = _realtime_view(spark, input_path, output_root, window, tiers)
    if key is not None:
        _VIEWS[(input_path, output_root)] = (key, view)
    return view


def _realtime_view(spark: SparkSession, input_path: str, output_root: str,
                   window: int, tiers: dict[str, int]) -> DataFrame:
    """The build behind :func:`read_realtime`."""
    wm, committed, manifest = _watermark_state(spark, output_root)
    s = doc_seq()
    src, _ = _unconsumed(spark, input_path, manifest)
    tail = src.filter(s.isNull() | (s > _watermark_threshold(wm)))
    fresh = rollup_sequences(tail, window, tiers)
    if not committed:
        return fresh
    stored = read_incremental(spark, output_root) \
        .filter(F.col("epoch").isin(*[int(e) for e in committed])) \
        .drop("epoch")
    if is_packed(stored):
        tier = F.col("tier")
        parts = [decompress_rollup(stored.filter(tier == t))
                 .withColumn("tier", F.lit(t)) for t in tiers]
        # null-safe, so a NULL tier is kept; the same filter again after
        # the map lets a tier equality above the view fold it to false
        other = ~functools.reduce(Column.__or__,
                                  [tier.eqNullSafe(t) for t in tiers],
                                  F.lit(False))
        parts.append(decompress_rollup(stored.filter(other)).filter(other))
        stored = functools.reduce(DataFrame.unionByName, parts)
    return stored.select(*fresh.columns).unionByName(fresh)


def epoch_ranges(spark: SparkSession, output_root: str
                 ) -> dict[int, dict[str, tuple[int, int]]]:
    """Per-epoch, per-source half-open ingest-seq ranges ``(lo, hi]``
    reconstructed from the watermark log: for each source, its watermark
    rows sorted by ``max_seq`` ARE the commit order (every refresh's delta
    strictly raises the source's max), so epoch e covers
    ``prev_max < seq <= max_seq(source, e)``. A source absent from an
    epoch's rows contributed no docs to it. Bounded driver-side state —
    one entry per (source, epoch), both small by contract. Every committed
    epoch has at least one watermark row, so the keys are exactly the
    committed epoch ids."""
    per_src: dict[str, list[tuple[int, int]]] = {}
    for src_name, max_seq, e in _watermark_rows(spark, output_root):
        per_src.setdefault(src_name, []).append((max_seq, e))
    out: dict[int, dict[str, tuple[int, int]]] = {}
    for src_name, pairs in per_src.items():
        lo = -1
        # convergent crash re-runs may append a duplicate (source, epoch)
        # row with the same max_seq — dedup before ordering
        for hi, e in sorted(set(pairs)):
            out.setdefault(e, {})[src_name] = (lo, hi)
            lo = hi
    return out


def repair_epochs(spark: SparkSession, input_path: str, output_root: str,
                  epochs, window: int = BASE_WINDOW,
                  tiers: dict[str, int] = TIER_FACTOR) -> int:
    """Recompute the given COMMITTED epochs from the CURRENT raw input —
    the invalidation-repair motion of a continuous aggregate (cf.
    TimescaleDB's invalidation log → refresh_continuous_aggregate over a
    window). Two situations need it, and :func:`refresh_incremental`
    handles neither by design (its delta filter only looks PAST the
    watermark):

    * a doc already rolled up was corrected in place (same doc_id, new
      tokens) — the stored epoch silently disagrees with the raw table;
    * a doc arrived LATE with an ingest seq below its source's watermark —
      no future refresh will ever see it.

    Each requested epoch's doc set is its reconstructed per-source
    ``(lo, hi]`` seq range (:func:`epoch_ranges`) evaluated against the
    CURRENT raw table, so corrected docs re-roll, late docs appear, and
    deleted docs vanish. Ranges are watermark-log facts, so watermarks are
    NOT touched — the repair changes rows, never boundaries.

    Commit: one dynamic partition overwrite of the epochs' (epoch, tier)
    partitions, then stale leftover partitions under each repaired epoch
    (a tier the new rows no longer populate) are pruned. The overwrite
    replaces every partition it writes, so a tier directory under a
    repaired epoch is stale exactly when every file in it was in the
    store's listing taken before the write; the prune needs no job. A
    crash between the two steps leaves stale extras only; re-running the
    repair converges — same discipline as the refresh protocol. The prune
    walks the local filesystem, so (like :func:`compact_epochs`) object
    stores / Iceberg catalogs are rejected up front: there the equivalent
    is a REPLACE-partition snapshot commit.

    Refused: uncommitted/orphan epoch ids (re-run the refresh instead),
    compacted stores (physical epoch set ≠ committed set — per-epoch
    provenance was folded; repair before compacting) and stores with the
    older ``bucket=`` level (see :func:`refresh_incremental`). Returns the
    number of docs in the repaired epochs after repair.
    """
    _require_local_parquet(output_root, "stale-partition pruning",
                           "REPLACE-partition")
    epochs = sorted({int(e) for e in epochs})
    if not epochs:
        raise ValueError("no epochs requested")
    # one read of the watermark log serves both the committed-epoch check
    # and the per-epoch ranges
    ranges = epoch_ranges(spark, output_root)
    committed = set(ranges)
    bad = [e for e in epochs if e not in committed]
    if bad:
        raise ValueError(
            f"epoch(s) {bad} are not committed in {output_root} — an "
            "orphan/unstarted epoch is repaired by re-running its refresh")
    data = f"{output_root}/data"
    listing = local_listing(data) or ()
    _refuse_bucketed(output_root, listing)
    existing = read_store(spark, data, listing)
    physical = _store_epochs(data, listing)
    if physical != committed:
        raise ValueError(
            f"store at {output_root} was compacted (physical epochs "
            f"{sorted(physical)} != committed {sorted(committed)}) — "
            "per-epoch provenance is folded; repair before compacting")
    packed = is_packed(existing)
    s = doc_seq()
    src = read_table(spark, input_path)
    assign = None
    for e in epochs:  # each committed epoch has >= 1 range
        for src_name, (lo, hi) in sorted(ranges[e].items()):
            cond = (F.col("source") == src_name) & (s > lo) & (s <= hi)
            assign = (F.when(cond, e) if assign is None
                      else assign.when(cond, e))
    docs = src.withColumn("_repair_epoch", assign).filter(
        F.col("_repair_epoch").isNotNull())
    # a doc's seq falls in one epoch's range, so the per-epoch distinct
    # counts add up to the repaired epochs' doc count
    n_docs = sum(r[1] for r in docs.groupBy("_repair_epoch")
                 .agg(F.countDistinct("doc_id")).collect())
    out = functools.reduce(DataFrame.unionByName, [
        _rolled(docs.filter(F.col("_repair_epoch") == e)
                .drop("_repair_epoch"), window, tiers, packed)
        .withColumn("epoch", F.lit(e))
        for e in epochs])  # few epochs by contract — one bounded union
    write_table(out, data, mode="overwrite", partition_by=_STORE_PARTS,
                dynamic_overwrite=True)
    # prune the tier directories the overwrite did not replace (a tier the
    # repaired rows no longer populate would otherwise serve deleted docs):
    # each holds only files of the pre-write listing
    before = set(listing)
    for e in epochs:
        edir = os.path.join(data, f"epoch={e}")
        tdirs = [os.path.join(edir, t) for t in
                 (os.listdir(edir) if os.path.isdir(edir) else ())
                 if t.startswith("tier=")]
        for tdir in tdirs:
            if set(local_listing(tdir) or ()) <= before:
                shutil.rmtree(tdir)
        if tdirs and not any(t.startswith("tier=") for t in os.listdir(edir)):
            shutil.rmtree(edir)
    return int(n_docs)


def compact_epochs(spark: SparkSession, output_root: str,
                   into_epoch: int | None = None) -> int:
    """Fold every committed epoch of an incremental store into ONE
    (``into_epoch``, default the smallest committed epoch) — the periodic
    maintenance that stops per-refresh epoch partitions from accumulating
    (hourly top-ups = thousands of small partitions a year; readers pay
    the listing).

    Rows are copied verbatim — compaction is layout-only, the row multiset
    before and after is identical (validated by row count before the swap,
    multiset-tested). The copy is written as ``data/epoch=<e>/tier=<t>/``
    whatever the source layout, so compaction also migrates a store with
    the older ``bucket=`` level (its ``bucket`` column is dropped). After
    the swap the metadata log is folded the same way: ``_watermarks/``
    becomes one file holding every committed row verbatim (watermarks and
    input manifest), so readers stop paying one file per commit.
    Watermark values are NOT rewritten: the committed-epoch set keeps
    every historical epoch id reserved, so a late retry of a folded epoch
    stays a no-op and new refreshes keep allocating fresh ids.
    ``into_epoch`` must itself be a COMMITTED id (review finding: an
    unreserved target — e.g. a default 0 that was never refreshed — would
    let a later ``--refresh 0`` dynamically overwrite the whole compacted
    history). ORPHAN epochs (data committed, watermark append lost to a
    crash) are refused: folding one would duplicate its rows when the
    crashed refresh's convergent re-run rewrites that epoch — retry the
    refresh first.

    Commit protocol on a plain filesystem: write the compacted layout to a
    sibling ``data.compact``, validate its row count equals the source,
    then swap (rename data → ``data.old``, rename compact → data, delete
    old). The swap window is two renames — not atomic; a crash mid-swap
    leaves the full original under ``data.old``, which the next call
    RESTORES before doing anything destructive. With
    TSROLLUP_TABLE_FORMAT=iceberg this whole operation should be a
    REPLACE TABLE snapshot commit instead — not implemented here, so the
    iceberg mode is rejected up front rather than half-renamed.

    Returns the number of rows in the compacted store.
    """
    _require_local_parquet(output_root, "directory-swap compaction",
                           "REPLACE TABLE")
    data = f"{output_root}/data"
    tmp = f"{output_root}/data.compact"
    old = f"{output_root}/data.old"
    # crash recovery FIRST, before any delete: a mid-swap crash leaves
    # data/ missing and the full original under data.old — restore it
    # (the original, not the unvalidated compact copy, is truth)
    if not os.path.exists(data) and os.path.exists(old):
        os.rename(old, data)
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(old, ignore_errors=True)
    _, committed, _ = _watermark_state(spark, output_root)
    if not committed:
        raise ValueError(f"no committed epochs under {output_root}")
    if into_epoch is None:
        into_epoch = min(committed)
    if into_epoch not in committed:
        raise ValueError(
            f"into_epoch={into_epoch} is not a committed epoch "
            f"{sorted(committed)} — an unreserved target could later be "
            "overwritten by a refresh reusing that id")
    listing = local_listing(data) or ()
    src = read_store(spark, data, listing)
    orphans = _store_epochs(data, listing) - committed
    if orphans:
        raise ValueError(
            f"epoch(s) {sorted(orphans)} have data but no watermark row — "
            "a crashed refresh is mid-commit; re-run it (convergent) "
            "before compacting, or folding would duplicate its rows")
    n_src = src.count()
    df = src.withColumn("epoch", F.lit(int(into_epoch))).drop("bucket")
    write_table(df, tmp, mode="overwrite", partition_by=_STORE_PARTS)
    n = read_store(spark, tmp).count()
    if n != n_src:
        raise RuntimeError(
            f"compacted copy has {n} rows, source has {n_src} — swap "
            "aborted, store untouched (data.compact left for inspection)")
    os.rename(data, old)
    os.rename(tmp, data)
    shutil.rmtree(old, ignore_errors=True)
    _fold_log(spark, output_root)
    return int(n)


def _fold_log(spark: SparkSession, output_root: str) -> None:
    """Rewrite the watermark log as one file holding every committed row
    verbatim: append the folded file, then delete the files it replaces.
    The listing is taken before the rows are read, so only files whose
    rows are in the fold are deleted. A crash in between leaves duplicate
    rows only, which every reader tolerates: a watermark is the max per
    source, :func:`epoch_ranges` dedups, and the manifest is a set."""
    log = f"{output_root}/_watermarks"
    folded = local_listing(log) or ()
    write_table(rows_df(spark, _log_rows(spark, output_root),
                        WATERMARK_SCHEMA), log, mode="append")
    for path, _, _ in folded:
        os.remove(path)


def apply_retention_to_store(spark: SparkSession, output_root: str,
                             keep_windows: dict[str, int]) -> int:
    """Enforce a retention policy ON the checkpointed store (the third leg of
    rollup+downsample+RETENTION as a store operation): per (doc, tier) keep
    only the trailing ``keep_windows[tier]`` windows, rewriting ONLY the
    tier partitions the policy names via dynamic partition overwrite —
    tiers outside the policy are never touched or rewritten. Returns the
    number of rows aged out.

    At the 10^12 scale this is the periodic maintenance job: each affected
    partition is bounded (one bucket or epoch × one tier), the rewrite is
    one job, and untouched tiers' files are never opened (partition
    pruning on the tier directory key — plan-guarded in
    tests/test_plans.py).

    A codec-packed store raises ValueError before any write: its one row
    per (doc, tier) holds every window, so a row-level trim would age
    out nothing.
    """
    assert all(n >= 1 for n in keep_windows.values()), \
        "retention must keep ≥1 window (an emptied partition would not be " \
        "replaced by a dynamic overwrite)"
    tiers = list(keep_windows.keys())
    store = read_table(spark, f"{output_root}/data",
                       base_path=f"{output_root}/data")
    if is_packed(store):
        raise ValueError(
            f"{output_root} is a codec-packed store; retention on a packed "
            "store is not supported yet")
    # the rewrite keeps the partition columns it read (bucket/tier for a
    # checkpointed store, epoch/tier for an incremental one): any other
    # set would write directories beside the existing ones and corrupt
    # the layout
    part_cols = [c for c in ("epoch", "bucket", "tier")
                 if c in store.columns]
    affected = store.filter(F.col("tier").isin(tiers))
    before = affected.count()          # scan 1: pre-image row count
    kept = apply_retention(affected, keep_windows)
    write_table(kept, f"{output_root}/data", mode="overwrite",
                partition_by=part_cols, dynamic_overwrite=True)
    # post-image count from the (much smaller) committed partitions — the
    # same validate-from-committed-output pattern as run_checkpointed,
    # instead of re-running the retention window a second time
    after = read_table(spark, f"{output_root}/data",
                       base_path=f"{output_root}/data") \
        .filter(F.col("tier").isin(tiers)).count()
    return before - after


def read_rollup(spark: SparkSession, output_root: str) -> DataFrame:
    """Read back the full rolled-up dataset (all buckets, partition-pruned on
    bucket/tier predicates for free)."""
    return read_table(spark, f"{output_root}/data",
                      base_path=f"{output_root}/data").drop("bucket")


def table_diff(a: DataFrame, b: DataFrame, key_cols: Sequence[str],
               value_cols: Sequence[str]) -> DataFrame:
    """Key-aligned diff between two table versions — the audit an
    incremental store runs after a refresh/compaction/backfill ("what
    actually changed between these two states"): a FULL OUTER join on
    ``key_cols`` classifies every key as only_a / only_b / changed /
    unchanged, with exact value-delta magnitudes for the changed set.

    Exactness: classification is NULL-safe equality on the raw column
    values (no tolerance — the store's own contract is bit-equality,
    see incremental_rollup's oracle); delta magnitudes sum |a − b| per
    numeric column in the column's own exact type (caller passes cents/
    integer columns; the time_weighted_avg conversion argument).

    Scale shape: one shuffle per side on the key columns (the join),
    then a single global partial-aggregated summary row per class —
    nothing row-grain leaves the join stage. Broadcast is deliberately
    NOT hinted: both sides are same-order-of-magnitude stores.

    Output: one row per class (class, n_keys, abs_delta, n_null_deltas).
    abs_delta is NULL for only_a/only_b (the other side has no value) and
    sums only fully-comparable deltas; a changed row where ONE side's
    value is NULL has no magnitude (|a − NULL| is NULL) and is counted in
    ``n_null_deltas`` instead of vanishing silently (review finding).
    """
    keys = list(key_cols)
    vals = list(value_cols)
    if not keys or not vals:
        raise ValueError("need at least one key column and one value column")
    # explicit presence markers: keying presence off a value column would
    # misclassify a present row whose value is genuinely NULL
    an = a.select(*keys, F.lit(1).alias("_a_present"),
                  *[F.col(c).alias(f"_a_{c}") for c in vals])
    bn = b.select(*keys, F.lit(1).alias("_b_present"),
                  *[F.col(c).alias(f"_b_{c}") for c in vals])
    j = an.join(bn, keys, "full_outer")
    in_a = F.col("_a_present").isNotNull()
    in_b = F.col("_b_present").isNotNull()
    same = None
    for c in vals:
        eq = F.col(f"_a_{c}").eqNullSafe(F.col(f"_b_{c}"))
        same = eq if same is None else (same & eq)
    cls = (F.when(in_a & ~in_b, F.lit("only_a"))
           .when(~in_a & in_b, F.lit("only_b"))
           .when(same, F.lit("unchanged"))
           .otherwise(F.lit("changed")))
    delta = None
    for c in vals:
        d = F.abs(F.col(f"_a_{c}") - F.col(f"_b_{c}"))
        delta = d if delta is None else (delta + d)
    null_delta = ((cls == "changed") & delta.isNull()).cast("long")
    return (j.select(cls.alias("class"), delta.alias("_d"),
                     null_delta.alias("_nd"))
            .groupBy("class")
            .agg(F.count("*").cast("long").alias("n_keys"),
                 F.sum("_d").cast("long").alias("abs_delta"),
                 F.sum("_nd").cast("long").alias("n_null_deltas")))
