"""Table-format boundary: every scan/write of engine tables goes through this
module so parquet ⇄ Iceberg is a config flag, not a code change (SURVEY §7.1).

The sandbox has no Iceberg runtime jar (re-probed each round — round 5:
still absent, so the V2-writer branches remain fake-writer-tested in
tests/test_io.py), so the default is parquet; on a real cluster set
``TSROLLUP_TABLE_FORMAT=iceberg`` (and the usual Spark catalog confs) and
identifiers are treated as catalog table names instead of paths.
Iceberg buys the engine: atomic snapshot commits for checkpoint buckets,
snapshot-id lineage instead of path fingerprints, partition pruning on
(source, tier) metadata, and streaming scans of appended files.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def table_format() -> str:
    return os.environ.get("TSROLLUP_TABLE_FORMAT", "parquet")


# Error-class names for "the table/path doesn't exist yet" across the two
# runtimes this boundary spans: Spark's own conditions (PATH_NOT_FOUND,
# TABLE_OR_VIEW_NOT_FOUND — stable names in the PySpark 4.x error framework)
# and Iceberg's NoSuchTableException (surfaces as a plain JVM exception whose
# class name appears in the message, no Spark condition attached).
_MISSING_TABLE_TAGS = ("PATH_NOT_FOUND", "TABLE_OR_VIEW_NOT_FOUND",
                       "NoSuchTable", "Path does not exist")


def error_condition(e: Exception) -> str | None:
    """The structured Spark error-condition name for ``e``, if it carries
    one. PySpark 4 exposes it as ``getCondition()`` (``getErrorClass()`` in
    3.x, still present as a deprecated alias); prefer these over message
    substrings — the condition NAME is the stable contract, the human
    message is not."""
    for attr in ("getCondition", "getErrorClass"):
        fn = getattr(e, attr, None)
        if callable(fn):
            try:
                cond = fn()
            except Exception:
                cond = None
            if cond:
                return cond
    return None


def is_missing_table_error(e: Exception) -> bool:
    """True iff ``e`` means the table/path genuinely doesn't exist yet.

    Checks the structured error condition first; when a condition IS present
    it is authoritative — a non-missing condition (e.g. INTERNAL_ERROR whose
    wrapped cause text happens to mention a path) must NOT be classified as
    missing, because read_lineage silently discards resume state on a missing
    table. The message scan remains only as a fallback for exceptions that
    carry no condition at all (Iceberg's NoSuchTableException, raw Hadoop
    FileNotFound messages)."""
    cond = error_condition(e)
    if cond is not None:
        return any(t in cond for t in _MISSING_TABLE_TAGS)
    msg = str(e)
    return any(t in msg for t in _MISSING_TABLE_TAGS)


def _listed(name: str) -> bool:
    """Spark's file-listing rule (``HadoopFSUtils.shouldFilterOutPathName``):
    names starting ``_`` or ``.`` are hidden, except ``_`` names holding
    ``=`` (partition directories) and the parquet summary files. A
    streaming sink's ``_spark_metadata`` log counts too: it decides which
    of the sink's files a batch read lists."""
    if name.startswith(("_metadata", "_common_metadata", "_spark_metadata")):
        return True
    return not ((name.startswith("_") and "=" not in name)
                or name.startswith(".") or name.endswith("._COPYING_"))


def listing_fingerprint(ident: str) -> tuple | None:
    """The sorted ``(path, st_size, st_mtime_ns)`` of every file Spark lists
    for the local path ``ident`` (a file, or a directory walked with
    :func:`_listed`), or None when there is nothing to vouch for: a
    non-``file:`` scheme, a glob, a missing path or an empty listing. Two
    equal fingerprints mean Spark sees the same files, so anything derived
    from the listing alone (an inferred schema, a split count) still
    holds."""
    from urllib.parse import urlparse

    url = urlparse(ident)
    if url.scheme not in ("", "file") or any(c in ident for c in "*?[{"):
        return None
    path = url.path if url.scheme else ident
    try:
        if not os.path.isdir(path):
            st = os.stat(path)
            return ((path, st.st_size, st.st_mtime_ns),)
        out = []
        for d, dirs, files in os.walk(path, followlinks=True):
            dirs[:] = [x for x in dirs if _listed(x)]
            for f in files:
                if _listed(f):
                    p = os.path.join(d, f)
                    st = os.stat(p)
                    out.append((p, st.st_size, st.st_mtime_ns))
    except OSError:  # missing, or a writer raced the walk
        return None
    return tuple(sorted(out)) or None


def has_summaries(listing: tuple) -> bool:
    """True when ``listing`` (a :func:`listing_fingerprint`) holds parquet
    summary files or a streaming sink's log: listed, but holding no rows,
    and they decide what Spark's reader infers and which files it reads."""
    return any(os.path.basename(p).startswith("_")
               or "_spark_metadata" in p.split(os.sep) for p, _, _ in listing)


def local_listing(ident: str) -> tuple | None:
    """:func:`listing_fingerprint` of a parquet table, None for an Iceberg
    table name: the files a reader of ``ident`` would see, or None when
    there is no local listing to vouch for them."""
    return None if table_format() == "iceberg" else listing_fingerprint(ident)


def read_files(spark: SparkSession, ident: str,
               paths: list[str]) -> DataFrame:
    """The files ``paths`` of the local parquet table ``ident`` (taken from
    its :func:`local_listing`), read with the table's schema, memoized or
    inferred by :func:`read_parquet`, and with ``ident`` as the base path
    of a directory, so partition columns and column types are those of a
    read of the whole table. No paths is an empty frame that runs no
    task."""
    from urllib.parse import urlparse

    schema = read_parquet(spark, ident).schema
    if not paths:
        return spark.createDataFrame(spark.sparkContext.emptyRDD(), schema)
    r = spark.read.schema(schema)
    if os.path.isdir(urlparse(ident).path):
        r = r.option("basePath", ident)
    return r.parquet(*paths)


# the session confs that change what parquet schema inference returns for
# the same files; a memo hit also needs these unchanged
_INFER_CONFS = ("spark.sql.parquet.mergeSchema",
                "spark.sql.parquet.binaryAsString",
                "spark.sql.parquet.int96AsTimestamp",
                "spark.sql.parquet.inferTimestampNTZ.enabled",
                "spark.sql.sources.partitionColumnTypeInference.enabled",
                "spark.sql.caseSensitive")

# (path, base_path) → ((inference confs, listing fingerprint), schema,
# reference footer); one entry per path, so a store that changes every step
# does not grow it
_SCHEMAS: dict = {}

# the session confs Spark plans file splits from; a memoized guard
# decision also needs these (and defaultParallelism) unchanged
_SPLIT_CONFS = ("spark.sql.files.maxPartitionBytes",
                "spark.sql.files.openCostInBytes",
                "spark.sql.files.minPartitionNum")

# path → ((split confs, defaultParallelism, listing fingerprint), target);
# target 0 = no widening (see scan_min_parallel)
_SCAN_PARTS: dict = {}


def footer(path: str):
    """The parquet footer (``pyarrow`` ``FileMetaData``) of the file
    ``path``: its ``.schema``, key-value ``.metadata`` and
    ``.num_row_groups``. None when it is not a parquet file pyarrow can
    read. One footer read on the driver, no Spark job."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    try:
        return pq.ParquetFile(path).metadata
    except (OSError, pa.ArrowException):
        return None


def read_rows(listing: tuple, schema: str) -> list[tuple]:
    """Every row of the parquet files of ``listing`` (a
    :func:`local_listing`), read on the driver with pyarrow as tuples of
    the DDL ``schema``'s columns: what a Spark read with that declared
    schema returns, without a job. A column a file lacks reads as NULL;
    an unreadable file raises."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from .arrowbuf import arrow_schema

    arrow = arrow_schema(schema)
    # a log file is a few KB: one thread per file beats a pool
    tbl = pa.concat_tables([pq.ParquetFile(p).read(use_threads=False)
                            for p, _, _ in listing],
                           promote_options="permissive")
    names = set(tbl.column_names)
    return list(zip(*(tbl[c.name].cast(c.type).to_pylist() if c.name in names
                      else [None] * len(tbl) for c in arrow)))


def _only_appended(old: tuple, new: tuple, ref) -> bool:
    """True when the listing ``new`` is ``old`` plus files in directories
    ``old`` already lists, holds no summary file, and every added file's
    :func:`footer` has the schema and key-value metadata of ``ref``:
    schema inference over ``new`` then returns what it returned over
    ``old``."""
    added = set(new) - set(old)
    if ref is None or len(new) - len(added) != len(old) \
            or has_summaries(new):
        return False
    dirs = {os.path.dirname(p) for p, _, _ in old}
    return all(os.path.dirname(p) in dirs and (md := footer(p)) is not None
               and md.schema == ref.schema and md.metadata == ref.metadata
               for p, _, _ in added)


def read_parquet(spark: SparkSession, path: str,
                 base_path: str | None = None,
                 schema: str | None = None) -> DataFrame:
    """The parquet branch of :func:`read_table`, for callers whose files
    are parquet whatever the table format (fixtures, streaming sinks).

    The memoized schema also survives an append. Spark's inference
    (without ``mergeSchema``) reads the footer of one part-file and
    assumes every part-file agrees, so a new listing infers the memoized
    schema again when it only adds files, each in a directory the memo's
    listing already held (no new partition value to type), holds no
    summary file, and each added file's :func:`footer` has the schema
    and key-value metadata of the reference footer the memo recorded from
    its first data file. Such a read declares the schema and runs no job;
    an added file with any other footer (another column, another type,
    other writer metadata) infers again."""
    r = spark.read
    if base_path is not None:
        r = r.option("basePath", base_path)
    if schema is not None:
        return r.schema(schema).parquet(path)
    fp = listing_fingerprint(path)
    if fp is None:
        return r.parquet(path)
    key = (tuple(spark.conf.get(k) for k in _INFER_CONFS), fp)
    hit = _SCHEMAS.get((path, base_path))
    if hit is not None and hit[0][0] == key[0] and (
            hit[0][1] == fp or _only_appended(hit[0][1], fp, hit[2])):
        _SCHEMAS[(path, base_path)] = (key, *hit[1:])
        return r.schema(hit[1]).parquet(path)
    df = r.parquet(path)
    first = next((p for p, _, _ in fp
                  if not os.path.basename(p).startswith("_")), None)
    _SCHEMAS[(path, base_path)] = (key, df.schema, first and footer(first))
    return df


def read_table(spark: SparkSession, ident: str,
               base_path: str | None = None,
               schema: str | None = None) -> DataFrame:
    """``ident`` is a path (parquet) or a catalog table name (iceberg).
    ``base_path`` (parquet only) keeps partition-directory columns when
    reading a subtree of a partitioned layout. ``schema`` (parquet only)
    declares the columns instead of inferring them from the files: no
    inference job, and a directory holding no committed file yet (only
    ``_temporary/`` from a killed first write) reads as empty.

    Without ``schema``, a parquet read infers the schema with one Spark
    job (70–100 ms), then memoizes it per ``(ident, base_path)`` under the
    path's :func:`listing_fingerprint` and the inference confs. A later
    read whose fingerprint and confs are unchanged declares the memoized
    schema and runs no job. A removed or rewritten data file changes the
    fingerprint, so that read infers again. Non-``file:``
    paths, globs and empty listings always infer; Iceberg takes its schema
    from table metadata and needs no memo. An append of files whose
    footers match the memo's keeps it (see :func:`read_parquet`)."""
    if table_format() == "iceberg":
        _require_iceberg(spark)
        return spark.read.format("iceberg").load(ident)
    return read_parquet(spark, ident, base_path, schema)


def write_table(df: DataFrame, ident: str, mode: str = "overwrite",
                partition_by: tuple[str, ...] = (),
                dynamic_overwrite: bool = False) -> None:
    """``dynamic_overwrite=True`` replaces ONLY the partitions present in
    ``df`` (the checkpoint commit primitive): parquet via
    partitionOverwriteMode=dynamic (set/restored around the write), Iceberg
    via the V2 writer's ``overwritePartitions()`` — NOT saveAsTable, whose
    overwrite mode replaces the whole table regardless of the conf.

    Iceberg idents must be catalog table names; the checkpoint layout
    composes path-style idents (``root/data``), so an Iceberg deployment
    maps output_root to a namespace (``ns.data``, ``ns.lineage``) — see
    checkpoint.py module docstring."""
    if table_format() == "iceberg":
        # capability check only when a real session is attached — the fake
        # writers in tests/test_io.py exercise the branch logic jar-less
        sess = getattr(df, "sparkSession", None)
        if sess is not None:
            _require_iceberg(sess)
        wv2 = df.writeTo(ident)
        if partition_by:
            from pyspark.sql import functions as F

            wv2 = wv2.partitionedBy(*[F.col(c) for c in partition_by])
        if dynamic_overwrite:
            try:
                wv2.overwritePartitions()
            except Exception as e:
                # only the first-commit case falls through to create();
                # anything else (schema drift, commit conflict, storage
                # error) must surface with its real cause
                if is_missing_table_error(e):
                    wv2.create()
                else:
                    raise
        elif mode == "append":
            try:
                wv2.append()
            except Exception as e:
                # first append must bootstrap the table (parquet's
                # saveAsTable-style auto-create) — e.g. the lineage store's
                # very first commit; any other failure surfaces as-is
                if is_missing_table_error(e):
                    wv2.create()
                else:
                    raise
        else:
            wv2.createOrReplace()
        return
    spark = df.sparkSession
    conf_key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(conf_key, "static") if dynamic_overwrite else None
    try:
        if dynamic_overwrite:
            spark.conf.set(conf_key, "dynamic")
        w = df.write.mode(mode)
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(ident)
    finally:
        if prev is not None:
            spark.conf.set(conf_key, prev)


def scan_min_parallel(df: DataFrame, path: str,
                      spread_cols: tuple[str, ...]) -> DataFrame:
    """The small-scan guard for ``df``, a read of the one parquet file
    ``path``: hash-spread it on ``spread_cols`` (a high-cardinality key of
    the table) only where the file's row groups deny the parallelism
    Spark planned. With ``target = min(planned splits, defaultParallelism)``,
    where the planned splits are ``df.rdd.getNumPartitions()`` (what Spark
    plans from ``maxPartitionBytes``/``openCostInBytes``/``minPartitionNum``),
    the scan is repartitioned to ``target`` when the file holds fewer than
    ``target`` row groups (the split atom: a scan task whose byte range
    holds no row-group start reads nothing), and returned untouched
    otherwise. A table Spark plans as one split is never widened; a file
    with at least as many row groups as cores never is either, so at
    production split counts the guard is a no-op.

    Hash, not round-robin: round-robin first locally sorts every input
    partition (sortBeforeRepartition), and on an under-split scan that
    sort runs on the scan's few real tasks, the serial bottleneck the
    guard exists to remove.

    The probe (~0.1 s of driver-side RDD conversion plus one footer read)
    is memoized per path under :func:`listing_fingerprint` and the
    split-planning confs, so a rewritten file or a changed conf is probed
    again."""
    spark = df.sparkSession
    cores = spark.sparkContext.defaultParallelism
    fp = listing_fingerprint(path)
    key = (tuple(spark.conf.get(k, None) for k in _SPLIT_CONFS), cores, fp)
    hit = _SCAN_PARTS.get(path)
    if hit is not None and hit[0] == key:
        target = hit[1]
    else:
        target = min(df.rdd.getNumPartitions(), cores)
        md = footer(path) if target > 1 else None
        if md is None or md.num_row_groups >= target:
            target = 0
        if fp is not None:
            _SCAN_PARTS[path] = (key, target)
    if not target:
        return df
    from pyspark.sql import functions as F

    return df.repartition(target, *[F.col(c) for c in spread_cols])


def pin(df: DataFrame, reliable: bool = False) -> DataFrame:
    """``df`` materialized for reuse: the one place a frame that several
    consumers read (join sides, aggregations, later jobs) is pinned, so the
    plan below it — a scan, an exchange, a Python map — runs once instead
    of once per consumer.

    The pin checkpoints on first action: the next action both computes and
    stores the frame, so a pin adds no job of its own, though under
    adaptive execution the shuffle stages below it run when it is called.
    Blocks are executor-local (``localCheckpoint``), lost with their
    executor, unless ``reliable`` writes them through ``checkpoint`` into
    the session's ``setCheckpointDir``. A pin holds the whole frame, so a
    frame bounded by an output grain (a histogram, a bucket grid, a
    vocabulary, an edge list) is safe at any input scale.

    The SQL metrics of the plan below a pin (its scan's output rows and
    scan time, its Python and shuffle operators) are posted under the
    pin's own ``localCheckpoint`` SQL execution, not under the query
    that consumes the pinned frame, so a run record built from SQL
    metrics must read that execution too."""
    if reliable:
        return df.checkpoint(eager=False)
    return df.localCheckpoint(eager=False)


_ICEBERG_OK: bool | None = None


def _require_iceberg(spark: SparkSession) -> None:
    """Fail fast with the fix named when the iceberg format is selected but
    the runtime isn't on the classpath — otherwise reads die with a cryptic
    DATA_SOURCE_NOT_FOUND and writes with a misleading SCHEMA_NOT_FOUND
    (both observed in round-5 probing)."""
    global _ICEBERG_OK
    if _ICEBERG_OK is None:
        try:
            spark._jvm.java.lang.Class.forName(
                "org.apache.iceberg.spark.source.IcebergSource")
            _ICEBERG_OK = True
        except Exception:
            _ICEBERG_OK = False
    if not _ICEBERG_OK:
        raise RuntimeError(
            "TSROLLUP_TABLE_FORMAT=iceberg, but the Iceberg Spark runtime "
            "is not on the classpath. Launch with --packages "
            "org.apache.iceberg:iceberg-spark-runtime-<spark>_<scala>:<ver> "
            "(or the equivalent jar) and configure a catalog, e.g. "
            "spark.sql.catalog.<name>=org.apache.iceberg.spark.SparkCatalog.")


def profile_table(df: DataFrame, numeric_cols, key_cols=()) -> DataFrame:
    """Data-quality profile — the schema-drift / null-audit pass an ingest
    runs before trusting a new drop: one row per profiled column with
    exact row/null/distinct counts and (for numerics) exact integer-cents
    min/max/sum. ``numeric_cols`` are profiled fully; ``key_cols`` get
    count/null/distinct only.

    Exactness: distincts are EXACT (count_distinct — the one pass pays
    Spark's expand by #distinct-aggregates, the standard cost of exact
    multi-column profiling; an HLL approx_count_distinct would be cheaper
    but its estimate is engine-specific and un-oracle-able); numeric
    stats ride int64 cents. Everything reduces in ONE aggregation over
    one scan — no per-column passes — then explodes to column grain.

    Output: column (string), n_rows, n_null, n_distinct, min_cents,
    max_cents, sum_cents (longs; NULL for key columns).
    """
    from pyspark.sql import functions as F

    ncols = list(numeric_cols)
    kcols = list(key_cols)
    if not ncols and not kcols:
        raise ValueError("nothing to profile")
    dupes = set(ncols) & set(kcols) | {c for cs in (ncols, kcols)
                                       for c in cs if cs.count(c) > 1}
    if dupes:
        # the duplicated aggregate aliases would otherwise surface as an
        # opaque AMBIGUOUS_REFERENCE at analysis time (review finding)
        raise ValueError(f"columns listed more than once: {sorted(dupes)}")
    aggs = [F.count("*").cast("long").alias("_n")]
    for c in ncols + kcols:
        aggs.append(F.count(c).cast("long").alias(f"_nn_{c}"))
        aggs.append(F.count_distinct(F.col(c)).cast("long").alias(f"_nd_{c}"))
    for c in ncols:
        cents = (F.col(c).cast("decimal(18,2)") * 100).cast("long")
        aggs.append(F.min(cents).alias(f"_mn_{c}"))
        aggs.append(F.max(cents).alias(f"_mx_{c}"))
        aggs.append(F.sum(cents.cast("decimal(18,0)")).cast("long")
                    .alias(f"_sm_{c}"))
    one = df.agg(*aggs)
    null_l = F.lit(None).cast("long")
    rows = F.array(*(
        [F.struct(F.lit(c).alias("column"),
                  F.col("_n").alias("n_rows"),
                  (F.col("_n") - F.col(f"_nn_{c}")).alias("n_null"),
                  F.col(f"_nd_{c}").alias("n_distinct"),
                  F.col(f"_mn_{c}").alias("min_cents"),
                  F.col(f"_mx_{c}").alias("max_cents"),
                  F.col(f"_sm_{c}").alias("sum_cents"))
         for c in ncols] +
        [F.struct(F.lit(c).alias("column"),
                  F.col("_n").alias("n_rows"),
                  (F.col("_n") - F.col(f"_nn_{c}")).alias("n_null"),
                  F.col(f"_nd_{c}").alias("n_distinct"),
                  null_l.alias("min_cents"),
                  null_l.alias("max_cents"),
                  null_l.alias("sum_cents"))
         for c in kcols]))
    return one.select(F.explode(rows).alias("r")).select("r.*")
