"""Sinks (SURVEY.md §2.1 S4-S7).

- ``overwrite_parquet`` — the TRUNCATE-and-reload pattern
  (reference: dags/financial_pipeline.py:43,182): ``mode("overwrite")`` IS
  truncate+insert, and makes every pipeline stage idempotent/re-runnable.
- ``append_if_absent`` — ``INSERT ... ON CONFLICT (pk) DO NOTHING``
  (reference: dags/financial_pipeline.py:148-150,159-161) expressed as a
  left-anti join against the existing keys, then append. Single-writer
  semantics, same as the reference's LocalExecutor.

Scale notes: the anti-join's build side is the *incoming* batch (small) so
Spark broadcasts it when under the threshold; partition the target by a date
column (``partition_by``) so downstream scans get static/dynamic partition
pruning, and so overwrites of a daily run touch one partition, not 100 TB
(``overwrite_partitions``: the per-write ``partitionOverwriteMode=dynamic``).
"""

from __future__ import annotations

from pyspark.errors import AnalysisException, SparkRuntimeException
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F


def _cluster_for_write(df: DataFrame, partition_by: list[str]) -> DataFrame:
    """Co-locate each output partition's rows before a partitionBy write.

    Without this, every task writes one file into every partition directory
    it holds rows for — up to tasks × partitions tiny files (a 32-thread
    local run already emits 32 files per day; a 1000-executor cluster makes
    it pathological). One shuffle keyed on the partition columns yields ONE
    file per partition.

    The shuffle's partition count is explicit (``spark.sql.shuffle.partitions``)
    because AQE never coalesces a repartition to a fixed count. Left to AQE,
    a sub-MB shuffle coalesces by bytes into ONE task, which then writes
    every directory serially — but a partitioned write costs per file
    (open, footer, commit), not per byte, so the directories are spread
    over every core instead. A session that sets the shuffle partitions as
    a very high AQE upper bound pays that many write tasks, most of them
    empty.
    """
    n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return df.repartition(n, *[F.col(c) for c in partition_by])


def overwrite_parquet(
    df: DataFrame,
    path: str,
    *,
    partition_by: list[str] | None = None,
) -> int:
    """Truncate-and-reload sink (S4/S5/S7): full overwrite of `path`.

    Returns the number of rows written, counted by an ``Observation`` in
    the write job itself, so no caller re-reads the table to count it. The
    observation follows the clustering shuffle: it sits in the write's
    result stage, whose accumulator updates Spark applies once per
    partition, where one in a map stage would count a rerun stage's rows
    twice. Each call gets its own unnamed observation (unique names), so
    concurrent sinks never share one.
    """
    if partition_by:
        df = _cluster_for_write(df, partition_by)
    rows = Observation()
    writer = df.observe(rows, F.count(F.lit(1)).alias("rows")).write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)  # a failed write raises here, before the get
    return rows.get["rows"]


def overwrite_partitions(
    df: DataFrame,
    path: str,
    *,
    partition_by: list[str],
) -> None:
    """Dynamic partition overwrite (S7 incremental refresh): replace ONLY
    the partitions present in ``df``, leaving every other partition's files
    untouched — byte-identical, not rewritten.

    This is the 100 TB daily-load primitive: a one-day increment rewrites
    the one ``ano=/mes=`` directory of its month instead of truncate-reloading
    the table. The write is staged and each directory it replaces is swapped
    only at commit, so ``df`` may read the partitions it overwrites. The
    ``dynamic`` mode is a per-write option, so the session's own
    ``spark.sql.sources.partitionOverwriteMode`` (Spark's default ``static``
    would wipe the whole table root) is never touched.
    """
    (
        _cluster_for_write(df, partition_by)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_by)
        .parquet(path)
    )


def _path_exists(spark: SparkSession, path: str) -> bool:
    """Whether ``path`` exists, asked of the Hadoop file system that a
    read of it would use."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    conf = spark._jsparkSession.sessionState().newHadoopConf()
    return jpath.getFileSystem(conf).exists(jpath)


def append_if_absent(
    spark: SparkSession,
    incoming: DataFrame,
    path: str,
    keys: list[str],
) -> int:
    """Upsert-lite sink (S6/J3): append rows whose `keys` are not yet present.

    Returns the number of appended rows. First write (no existing data)
    degrades to a plain create. The incoming batch is de-duplicated on the
    keys first, matching ``SELECT DISTINCT ... ON CONFLICT DO NOTHING``.

    Only a missing path takes the create branch, decided by the file
    system before any read: every read failure (permissions, corrupt
    footer, transient storage error) raises instead of silently
    overwriting a valid table — ON CONFLICT DO NOTHING must never destroy
    the conflict target. A failed read is no test for "missing": once an
    ``Observation`` has run in the session, its listener throws on every
    failed query, and Spark logs that as an ERROR with the query's stack.

    The table is read with ``incoming.schema``, the schema it was written
    with, so no footer-inference job runs before the anti-join; an
    unreadable file then fails the anti-join's ``count`` instead of the read.
    """
    fresh = incoming.dropDuplicates(keys)
    if not _path_exists(spark, path):
        fresh.write.mode("overwrite").parquet(path)
        return fresh.count()
    existing = spark.read.schema(incoming.schema).parquet(path).select(*keys)
    to_insert = fresh.join(existing, on=keys, how="left_anti")
    n = to_insert.count()
    if n:
        to_insert.write.mode("append").parquet(path)
    return n


def write_bucketed_table(
    df: DataFrame,
    table: str,
    *,
    bucket_by: list[str],
    n_buckets: int = 32,
    sort_by: list[str] | None = None,
) -> None:
    """Bucketed managed table: pre-shuffle the data ONCE at write time so
    every later join/aggregation on the bucket key is exchange-free.

    This is the 100 TB answer to a fact⋈fact join that would otherwise
    shuffle both sides on every query: two tables bucketed identically on
    the join key co-locate bucket-for-bucket, and Catalyst plans the join
    with NO Exchange on either side (asserted in tests/test_plan_shapes).
    ``sort_by`` additionally pre-sorts within buckets, upgrading SMJ to a
    sort-free merge. Bucketing metadata lives in the session catalog —
    `saveAsTable`, not a bare path.

    An INTERRUPTED earlier run can leave the managed table's LOCATION
    on disk with no catalog entry; ``saveAsTable`` then fails with
    LOCATION_ALREADY_EXISTS even in overwrite mode (overwrite replaces
    catalog tables, not orphaned directories). Recovery is REACTIVE
    and narrow (hardened r14 per the r13 advice — the r13 form
    preemptively rmtree'd the derived local path before every first
    write, which on an hdfs://-s3a:// warehouse deletes an unrelated
    LOCAL directory): the write is attempted FIRST, and only a
    LOCATION_ALREADY_EXISTS failure on a table absent from the
    catalog — exactly the orphan signature — triggers one directory
    removal and one retry, and only when the warehouse URI is
    local-filesystem (``file:`` or schemeless; anything else
    re-raises — a driver-side shutil cannot repair a remote
    warehouse). Qualified ``db.table`` names map to the managed
    layout ``<warehouse>/<db>.db/<table>``.
    """
    writer = df.write.mode("overwrite").bucketBy(n_buckets, *bucket_by)
    if sort_by:
        writer = writer.sortBy(*sort_by)
    try:
        writer.saveAsTable(table)
    except (AnalysisException, SparkRuntimeException) as e:
        # Spark 4 surfaces the orphan as SparkRuntimeException; the
        # AnalysisException arm keeps older surfaces covered
        spark = df.sparkSession
        loc = _orphaned_managed_location(
            spark.conf.get("spark.sql.warehouse.dir"), table
        )
        if (
            e.getCondition() != "LOCATION_ALREADY_EXISTS"
            or spark.catalog.tableExists(table)
            or loc is None
        ):
            raise
        import shutil

        shutil.rmtree(loc, ignore_errors=True)
        writer.saveAsTable(table)


def _orphaned_managed_location(warehouse_uri: str, table: str) -> str | None:
    """Local-filesystem path a managed table's data directory would occupy
    under ``warehouse_uri``, or None when driver-side cleanup must not
    touch it: a non-local warehouse scheme (the derived path would name
    an unrelated LOCAL directory), or a name qualification this mapping
    doesn't model (catalog.db.table).

    Managed layout: ``<warehouse>/<table>`` for default-database names,
    ``<warehouse>/<db>.db/<table>`` for ``db.table`` names (the Hive
    convention Spark's session catalog follows).
    """
    from urllib.parse import urlparse

    u = urlparse(warehouse_uri)
    if u.scheme not in ("", "file"):
        return None
    parts = table.lower().split(".")
    if len(parts) == 1:
        return f"{u.path}/{parts[0]}"
    if len(parts) == 2:
        return f"{u.path}/{parts[0]}.db/{parts[1]}"
    return None


def zorder_col(cols: list[Column | str], *, bits: int = 16) -> Column:
    """Z-order (Morton) key: bit-interleave ``bits``-bit column ranks.

    Callers pass already-quantized columns in [0, 2**bits) — see
    :func:`write_zordered`, which quantizes with ``width_bucket`` against
    the frame's min/max. Bit i of column j lands at position
    ``i * len(cols) + j``: rows close in EVERY dimension get close
    z-values, so range predicates on ANY clustered column touch few row
    groups. Pure Catalyst bit arithmetic — no UDF.
    """
    n = len(cols)
    cs = [F.col(c) if isinstance(c, str) else c for c in cols]
    z = F.lit(0).cast("long")
    for i in range(bits):
        for j, c in enumerate(cs):
            bit = F.shiftright(c.cast("long"), i).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, i * n + j))
    return z


def write_zordered(
    df: DataFrame,
    path: str,
    *,
    cluster_by: list[str],
    n_files: int = 8,
    bits: int = 16,
) -> None:
    """Z-order-clustered parquet write: multi-dimensional data skipping.

    Sorting by ``(a, b)`` clusters perfectly on `a` but scatters `b`;
    Morton-interleaving both ranks clusters on BOTH, so parquet min/max
    row-group stats prune scans filtered on either column (the same layout
    Delta's OPTIMIZE ZORDER BY produces). Each cluster column is quantized
    to a ``bits``-bit rank with ``width_bucket`` over its min/max (the
    1-row stats frame broadcasts — no driver round-trip, no second scan
    job until the write runs); ``repartitionByRange`` on the z-key splits
    the keyspace into ``n_files`` contiguous slices — at 100 TB this is
    the file-count knob — and the within-file sort finishes the clustering
    so per-row-group stats stay tight.

    Cluster columns must be numeric (cast dates to epoch days first).
    """
    buckets = 1 << bits
    stats = df.agg(
        *[
            m
            for c in cluster_by
            for m in (
                F.min(c).cast("double").alias(f"_lo_{c}"),
                F.max(c).cast("double").alias(f"_hi_{c}"),
            )
        ]
    )
    zdf = df.crossJoin(F.broadcast(stats))
    ranks = [
        (
            F.width_bucket(
                F.col(c).cast("double"),
                F.col(f"_lo_{c}"),
                # +1 so the max value falls in the last bucket, not past it
                F.col(f"_hi_{c}") + 1,
                F.lit(buckets),
            )
            - 1
        ).alias(f"_r_{c}")
        for c in cluster_by
    ]
    zdf = zdf.select(*df.columns, *ranks).withColumn(
        "_z", zorder_col([f"_r_{c}" for c in cluster_by], bits=bits)
    )
    (
        zdf.repartitionByRange(n_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z", *[f"_r_{c}" for c in cluster_by])
        .write.mode("overwrite")
        .parquet(path)
    )


def compact_parquet(
    spark: SparkSession,
    path: str,
    *,
    target_file_mb: int = 128,
) -> int:
    """Small-file compaction: rewrite ``path`` into ceil(bytes / target)
    equally-sized parquet files. Returns the new file count.

    The operational debt every incremental pipeline accrues — thousands of
    per-batch files turn scans into driver-side listing storms and starve
    the scheduler with sub-split tasks. Sizing from the table's ACTUAL
    on-disk bytes (via the catalog-free file listing Spark already did to
    plan the scan) rather than a guessed partition count keeps output
    files near the target regardless of table size. The rewrite is one
    round-robin repartition — no key skew possible — and lands via
    overwrite, so a crashed compaction leaves the original intact until
    the final commit rename. At warehouse scale run this per partition
    directory (ano=.../mes=...) so only cold partitions rewrite.
    """
    import math
    import os as _os
    from urllib.parse import unquote, urlparse

    # Crash recovery for the swap below: a crash between
    # rename(path -> __old) and rename(tmp -> path) leaves nothing at
    # `path` with the only complete copy at the `__old` sibling. Heal on
    # entry — restore `__old` before reading — so the next run (or a plain
    # spark.read.parquet) never needs manual intervention.
    old = path.rstrip("/") + "__old"
    if not _os.path.exists(path.rstrip("/")) and _os.path.exists(old):
        _os.rename(old, path.rstrip("/"))

    df = spark.read.parquet(path)
    # in_memory_size estimates decompressed bytes; file sizes are what
    # the scan planner sees — sum the actual parquet part sizes.
    jvm_files = df.inputFiles()
    total_bytes = 0
    for f in jvm_files:
        # file URIs percent-encode the path ("a b" -> "a%20b")
        total_bytes += _os.path.getsize(unquote(urlparse(f).path))
    n_files = max(1, math.ceil(total_bytes / (target_file_mb * 1024 * 1024)))
    # Write to a sibling then swap: overwrite-in-place of the path being
    # read would delete the input mid-scan. The swap sequence is
    # rename-old-aside -> rename-new-in -> delete-old, so a crash at any
    # point leaves a complete copy of the table at `path` or at the
    # `__old` sibling — never "data only in an undocumented temp dir"
    # (an rmtree-before-move window would do exactly that).
    tmp = path.rstrip("/") + "__compacting"
    df.repartition(n_files).write.mode("overwrite").parquet(tmp)
    import shutil

    if _os.path.exists(old):
        shutil.rmtree(old)  # leftover from a previous crashed swap
    _os.rename(path.rstrip("/"), old)
    _os.rename(tmp, path.rstrip("/"))
    shutil.rmtree(old)
    return n_files
