"""Sink semantics (sources/sinks.py): ON CONFLICT DO NOTHING must never
destroy the conflict target, and the create branch fires only for a
genuinely-missing path."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest

from airflow_etl_finance_market_spark.sources.readers import read_orc, write_orc
from airflow_etl_finance_market_spark.sources.sinks import append_if_absent


def _df(spark, rows):
    return spark.createDataFrame(rows, "k long, v string")


def test_create_then_append_only_new_keys(spark, tmp_path):
    path = str(tmp_path / "dim")
    assert append_if_absent(spark, _df(spark, [(1, "a"), (2, "b")]), path, ["k"]) == 2
    # overlapping batch: only k=3 is new; k=1's NEW value must not replace old
    assert append_if_absent(spark, _df(spark, [(1, "x"), (3, "c")]), path, ["k"]) == 1
    got = {r["k"]: r["v"] for r in spark.read.parquet(path).collect()}
    assert got == {1: "a", 2: "b", 3: "c"}


def test_incoming_batch_deduped_on_keys(spark, tmp_path):
    path = str(tmp_path / "dim2")
    n = append_if_absent(spark, _df(spark, [(1, "a"), (1, "a2"), (2, "b")]), path, ["k"])
    assert n == 2
    assert spark.read.parquet(path).count() == 2


def test_unreadable_existing_path_raises_not_overwrites(spark, tmp_path):
    """A read failure that is NOT path-missing (here: a directory with no
    readable parquet footer) must re-raise, leaving the target untouched —
    the round-1 behavior silently overwrote it."""
    path = tmp_path / "broken"
    path.mkdir()
    sentinel = path / "part-00000.parquet"
    sentinel.write_bytes(b"this is not a parquet file")
    with pytest.raises(Exception) as exc_info:
        append_if_absent(spark, _df(spark, [(9, "z")]), str(path), ["k"])
    assert "PATH_NOT_FOUND" not in str(exc_info.value)
    # target untouched: the garbage file survives, nothing was written
    assert sorted(os.listdir(path)) == ["part-00000.parquet"]
    assert sentinel.read_bytes() == b"this is not a parquet file"


def test_partitioned_write_fans_out_one_file_per_directory(
    spark, job_group, tmp_path
):
    """A partitionBy overwrite writes its directories from several tasks
    and still leaves ONE file per directory: the clustering shuffle has an
    explicit partition count, which AQE does not coalesce into one serial
    write task however small the data."""
    from pyspark.sql import functions as F

    from airflow_etl_finance_market_spark.sources.sinks import overwrite_parquet

    df = spark.range(800).select(
        (F.col("id") % 8).alias("k"), F.col("id").alias("v")
    )
    path = str(tmp_path / "fanout")
    with job_group("sinks-fanout") as tracker:
        overwrite_parquet(df, path, partition_by=["k"])

    dirs = sorted(d for d in os.listdir(path) if d.startswith("k="))
    assert dirs == [f"k={i}" for i in range(8)]
    for d in dirs:
        files = [f for f in os.listdir(f"{path}/{d}") if f.endswith(".parquet")]
        assert len(files) == 1, (d, files)
    # the write is the group's last job; its result stage is its last stage
    write_job = tracker.getJobInfo(max(tracker.getJobIdsForGroup("sinks-fanout")))
    write_stage = tracker.getStageInfo(max(write_job.stageIds))
    assert write_stage.numTasks > 1


def test_zorder_write_clusters_both_dimensions(spark, sf_dir, tmp_path):
    """Z-ordered layout: every output file must cover a materially narrower
    range of EACH cluster column than the global span — a plain sort by one
    column would leave the other at ~full span per file, and an unsorted
    write leaves both."""
    from airflow_etl_finance_market_spark.sources.readers import load_fixture
    from airflow_etl_finance_market_spark.sources.sinks import write_zordered
    from pyspark.sql import functions as F

    li = load_fixture(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        "l_partkey",
        F.datediff(
            F.col("l_shipdate").cast("date"), F.lit("1970-01-01").cast("date")
        ).alias("ship_day"),
    )
    out = str(tmp_path / "li_z")
    write_zordered(li, out, cluster_by=["l_partkey", "ship_day"], n_files=8)

    back = spark.read.parquet(out)
    assert back.count() == li.count()
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, li.collect()))

    per_file = (
        back.groupBy(F.input_file_name().alias("f"))
        .agg(
            (F.max("l_partkey") - F.min("l_partkey")).alias("pk_span"),
            (F.max("ship_day") - F.min("ship_day")).alias("day_span"),
        )
        .collect()
    )
    assert len(per_file) >= 4
    glob = li.agg(
        (F.max("l_partkey") - F.min("l_partkey")).alias("pk"),
        (F.max("ship_day") - F.min("ship_day")).alias("d"),
    ).first()
    mean_pk = sum(r["pk_span"] for r in per_file) / len(per_file)
    mean_day = sum(r["day_span"] for r in per_file) / len(per_file)
    assert mean_pk < 0.75 * glob["pk"], (mean_pk, glob["pk"])
    assert mean_day < 0.75 * glob["d"], (mean_day, glob["d"])


class TestJsonlCorpus:
    def test_roundtrip_and_failfast(self, spark, sf_dir, tmp_path):
        """JSONL roundtrip preserves every document byte-for-byte, and a
        malformed line fails the FAILFAST read instead of nulling
        through."""
        import pytest
        from pyspark.sql import types as T

        from airflow_etl_finance_market_spark.sources.readers import (
            load_fixture,
            read_jsonl_corpus,
            write_jsonl_corpus,
        )

        docs = load_fixture(spark, sf_dir, "documents")
        out = str(tmp_path / "corpus_jsonl")
        write_jsonl_corpus(docs, out)
        schema = T.StructType(
            [
                T.StructField("doc_id", T.LongType()),
                T.StructField("text", T.StringType()),
                T.StructField("lang", T.StringType()),
                T.StructField("source", T.StringType()),
                T.StructField("n_chars", T.LongType()),
            ]
        )
        back = read_jsonl_corpus(spark, out, schema)
        orig = {r.doc_id: r for r in docs.collect()}
        got = {r.doc_id: r for r in back.collect()}
        assert set(got) == set(orig)
        assert all(
            got[k].text == orig[k].text and got[k].lang == orig[k].lang
            for k in orig
        )
        # FAILFAST: corrupt line raises at action time
        bad = str(tmp_path / "bad.jsonl")
        with open(bad, "w") as f:
            f.write('{"doc_id": 1, "text": "ok"}\n')
            f.write("{not json at all\n")
        with pytest.raises(Exception):
            read_jsonl_corpus(spark, bad, schema).count()


class TestCompaction:
    def test_compacts_many_small_files_losslessly(self, spark, sf_dir, tmp_path):
        import glob

        from airflow_etl_finance_market_spark.sources.readers import (
            load_fixture,
        )
        from airflow_etl_finance_market_spark.sources.sinks import (
            compact_parquet,
        )

        docs = load_fixture(spark, sf_dir, "documents")
        want = sorted((r.doc_id, r.text) for r in docs.collect())
        # a space in the path reaches the sizing as "%20" in the file URIs
        for name in ("frag", "with space/frag"):
            path = str(tmp_path / name)
            # simulate incremental debt: 16 tiny files
            docs.repartition(16).write.parquet(path)
            before = len(glob.glob(f"{path}/*.parquet"))
            assert before == 16
            n = compact_parquet(spark, path, target_file_mb=128)
            after = len(glob.glob(f"{path}/*.parquet"))
            assert n == after == 1, name  # tiny fixture -> one target-size file
            got = sorted(
                (r.doc_id, r.text) for r in spark.read.parquet(path).collect()
            )
            assert got == want

    def test_heals_crashed_swap_on_entry(self, spark, sf_dir, tmp_path):
        """Crash window between rename(path -> __old) and
        rename(tmp -> path): `path` is gone and the only complete copy
        sits at `__old`. The next compaction run must restore it before
        reading rather than fail and demand manual recovery (ADVICE r04).
        """
        import os

        from airflow_etl_finance_market_spark.sources.readers import (
            load_fixture,
        )
        from airflow_etl_finance_market_spark.sources.sinks import (
            compact_parquet,
        )

        docs = load_fixture(spark, sf_dir, "documents")
        path = str(tmp_path / "crashed")
        docs.repartition(4).write.parquet(path)
        want = sorted((r.doc_id, r.text) for r in docs.collect())
        # simulate the mid-swap crash state
        os.rename(path, path + "__old")
        assert not os.path.exists(path)
        n = compact_parquet(spark, path, target_file_mb=128)
        assert n == 1
        assert not os.path.exists(path + "__old")
        got = sorted(
            (r.doc_id, r.text) for r in spark.read.parquet(path).collect()
        )
        assert got == want

    def test_schema_evolution_merge(self, spark, sf_dir, tmp_path):
        """mergeSchema read over partitions written before/after a column
        was added: old partitions surface the new column as NULL — the
        schema-evolution contract an incremental warehouse depends on."""
        from pyspark.sql import functions as F

        from airflow_etl_finance_market_spark.sources.readers import (
            load_fixture,
        )

        docs = load_fixture(spark, sf_dir, "documents")
        base = str(tmp_path / "evolving")
        docs.limit(10).write.parquet(f"{base}/batch=1")
        docs.limit(10).withColumn(
            "quality", F.lit(0.5)
        ).write.parquet(f"{base}/batch=2")
        merged = spark.read.option("mergeSchema", "true").parquet(base)
        assert "quality" in merged.columns
        rows = merged.groupBy("batch").agg(
            F.count(F.lit(1)).alias("n"),
            F.count("quality").alias("n_quality"),
        ).collect()
        by_batch = {r.batch: (r.n, r.n_quality) for r in rows}
        assert by_batch[1] == (10, 0)   # old files: column NULL
        assert by_batch[2] == (10, 10)


class TestOrcInterchange:
    def test_roundtrip_preserves_values_and_schema(self, spark, sf_dir, tmp_path):
        from airflow_etl_finance_market_spark.sources.readers import (
            load_fixture,
            read_orc,
            write_orc,
        )

        docs = load_fixture(spark, sf_dir, "documents")
        path = str(tmp_path / "docs_orc")
        write_orc(docs, path)
        back = read_orc(spark, path, schema=docs.schema)
        assert back.schema == docs.schema
        want = sorted((r.doc_id, r.text, r.lang) for r in docs.collect())
        got = sorted((r.doc_id, r.text, r.lang) for r in back.collect())
        assert got == want

    def test_predicate_pushdown_reaches_orc_scan(self, spark, sf_dir, tmp_path):
        from pyspark.sql import functions as F

        from airflow_etl_finance_market_spark.sources.readers import (
            load_fixture,
            read_orc,
            write_orc,
        )

        li = load_fixture(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_partkey", "l_quantity"
        )
        path = str(tmp_path / "li_orc")
        write_orc(li, path)
        df = read_orc(spark, path).filter(F.col("l_quantity") > 40.0)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "PushedFilters: [" in plan and "l_quantity" in plan.split(
            "PushedFilters"
        )[1].split("]")[0]

    def test_partitioned_orc_prunes_partitions(self, spark, sf_dir, tmp_path):
        """lang=... directory partitioning must prune at planning time:
        the scan's partition count reflects ONE lang, not all."""
        from pyspark.sql import functions as F

        from airflow_etl_finance_market_spark.sources.readers import (
            load_fixture,
            read_orc,
            write_orc,
        )

        docs = load_fixture(spark, sf_dir, "documents")
        path = str(tmp_path / "docs_part_orc")
        write_orc(docs, path, partition_by=("lang",))
        df = read_orc(spark, path).filter(F.col("lang") == "en")
        plan = df._jdf.queryExecution().executedPlan().toString()
        # partition filters are applied at the file index, not as a
        # post-scan Filter on the partition column
        assert "lang" in plan
        n_en = docs.filter(F.col("lang") == "en").count()
        assert df.count() == n_en


def test_orc_roundtrip_preserves_rows_types_and_partition_column(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    tmp = tempfile.mkdtemp(prefix="orc_rt_test_")
    try:
        write_orc(docs, f"{tmp}/docs", partition_by=("lang",))
        back = read_orc(spark, f"{tmp}/docs")
        assert back.count() == docs.count()
        # Partition column survives (string), payload types unchanged.
        got = dict(back.dtypes)
        want = dict(docs.dtypes)
        assert got == want
        # Values round-trip: anti-join both ways is empty.
        cols = docs.columns
        assert back.select(cols).exceptAll(docs.select(cols)).count() == 0
        assert docs.select(cols).exceptAll(back.select(cols)).count() == 0
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_bucketed_write_recovers_stale_location(spark):
    """An interrupted run can leave a managed table's warehouse
    directory on disk with NO catalog entry; saveAsTable then fails
    with LOCATION_ALREADY_EXISTS even in overwrite mode (observed live
    r13 after a killed session). write_bucketed_table must clear
    exactly that orphaned state and succeed."""
    import os
    from urllib.parse import urlparse

    from airflow_etl_finance_market_spark.sources.sinks import (
        write_bucketed_table,
    )

    spark.sql("DROP TABLE IF EXISTS stale_loc_bkt")
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    stale = f"{wh}/stale_loc_bkt"
    os.makedirs(stale, exist_ok=True)
    with open(f"{stale}/orphan.parquet", "w") as f:
        f.write("junk")
    try:
        df = spark.range(10).selectExpr("id", "id * 2 AS v")
        write_bucketed_table(df, "stale_loc_bkt", bucket_by=["id"], n_buckets=2)
        assert spark.table("stale_loc_bkt").count() == 10
        # and a normal overwrite of the now-cataloged table still works
        write_bucketed_table(
            df.limit(5), "stale_loc_bkt", bucket_by=["id"], n_buckets=2
        )
        assert spark.table("stale_loc_bkt").count() == 5
    finally:
        spark.sql("DROP TABLE IF EXISTS stale_loc_bkt")


def test_bucketed_write_does_not_touch_clean_preexisting_dirs(spark):
    """Recovery is REACTIVE (r14, r13 ADVICE): when saveAsTable succeeds
    outright, nothing is deleted — an unrelated pre-existing directory
    whose name does NOT collide with the table survives the write."""
    import os
    from urllib.parse import urlparse

    from airflow_etl_finance_market_spark.sources.sinks import (
        write_bucketed_table,
    )

    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    bystander = f"{wh}/clean_bystander_dir"
    os.makedirs(bystander, exist_ok=True)
    marker = f"{bystander}/keep.txt"
    with open(marker, "w") as f:
        f.write("precious")
    spark.sql("DROP TABLE IF EXISTS clean_write_bkt")
    try:
        df = spark.range(4).selectExpr("id", "id AS v")
        write_bucketed_table(df, "clean_write_bkt", bucket_by=["id"], n_buckets=2)
        assert os.path.exists(marker), "bystander directory was deleted"
    finally:
        spark.sql("DROP TABLE IF EXISTS clean_write_bkt")
        import shutil

        shutil.rmtree(bystander, ignore_errors=True)


def test_orphan_location_guards_scheme_and_qualification():
    """The derived cleanup path is None — recovery re-raises instead of
    rmtree'ing — for any non-local warehouse scheme (the path would name
    an unrelated LOCAL directory) and for name shapes the managed-layout
    mapping doesn't model; db.table maps to <wh>/<db>.db/<table>."""
    from airflow_etl_finance_market_spark.sources.sinks import (
        _orphaned_managed_location,
    )

    # remote warehouses: driver-side shutil must never run
    assert _orphaned_managed_location("s3a://bucket/wh", "t") is None
    assert _orphaned_managed_location("hdfs://nn:8020/wh", "t") is None
    # local forms, default database
    assert _orphaned_managed_location("/x/wh", "T") == "/x/wh/t"
    assert _orphaned_managed_location("file:/x/wh", "t") == "/x/wh/t"
    # qualified name: Hive managed layout, not <wh>/db.tbl
    assert _orphaned_managed_location("/x/wh", "mydb.T") == "/x/wh/mydb.db/t"
    # catalog-qualified (3-part) names are not modeled -> no cleanup
    assert _orphaned_managed_location("/x/wh", "cat.db.t") is None
