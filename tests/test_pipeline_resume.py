"""Checkpoint-resume semantics: a killed run completes only pending buckets
on restart; reruns are idempotent (no double counting)."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from docling_japanese_books_spark.extraction.pages import generate_pages
from docling_japanese_books_spark.pipeline.driver import (
    completed_buckets,
    read_manifest,
    run_extraction_pipeline,
)

N_PAGES = 400
N_BUCKETS = 8


@pytest.fixture()
def out_dir():
    d = tempfile.mkdtemp(prefix="pipe_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_kill_and_resume(spark, out_dir):
    pages = generate_pages(spark, N_PAGES, seed=42)

    # "killed" run: only 1 wave of 3 buckets completes
    r1 = run_extraction_pipeline(
        spark, pages, out_dir, run_id="r1", n_buckets=N_BUCKETS, wave_size=3, max_waves=1
    )
    assert len(r1.buckets_processed) == 3
    assert completed_buckets(spark, out_dir) == set(r1.buckets_processed)

    # resume: completes only the remaining buckets
    r2 = run_extraction_pipeline(
        spark, pages, out_dir, run_id="r2", n_buckets=N_BUCKETS, wave_size=3
    )
    assert set(r2.buckets_skipped) == set(r1.buckets_processed)
    assert sorted(r1.buckets_processed + r2.buckets_processed) == list(range(N_BUCKETS))

    # output complete, no duplicates
    data = spark.read.parquet(f"{out_dir}/data")
    assert data.count() == N_PAGES
    assert data.select("url").distinct().count() == N_PAGES

    # manifest: one row per bucket, lineage split across the two runs
    m = read_manifest(spark, out_dir)
    assert m.count() == N_BUCKETS
    runs = {r.run_id for r in m.select("run_id").distinct().collect()}
    assert runs == {"r1", "r2"}
    assert m.filter(F.col("rows_out") <= 0).count() == 0
    total = m.agg(F.sum("rows_out").alias("s")).collect()[0].s
    assert total == N_PAGES

    # rows_in must count the bucket's INPUT rows — extraction keeps every
    # page row here, so lineage requires rows_in == rows_out per bucket and
    # never rows_in < rows_out (kept/dropped accounting would be meaningless)
    assert m.filter(F.col("rows_in") < F.col("rows_out")).count() == 0
    total_in = m.agg(F.sum("rows_in").alias("s")).collect()[0].s
    assert total_in == N_PAGES


def _jobs_in_group(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        result = fn()
    finally:
        sc.setJobGroup(None, None)
    return result, sc.statusTracker().getJobIdsForGroup(group)


def test_single_input_pass_per_wave(spark, out_dir):
    """rows_in and the output stats come back from the wave's own tasks,
    which extract and write in one mapInArrow stage — the wave must make
    exactly ONE pass over the input (a second column-pruned rescan per wave
    is an extra pass over the url column at 100 TB) and must not read its
    output back.

    Pin it with the Spark job count for one single-wave run: any
    reintroduced per-wave input action adds a job and trips the bound."""
    pages = generate_pages(spark, 100, seed=3)
    _, jobs = _jobs_in_group(
        spark,
        "wave_jobs",
        lambda: run_extraction_pipeline(
            spark, pages, out_dir, run_id="j", n_buckets=2, wave_size=2
        ),
    )
    # measured: 1 job for one wave on a fresh table (the mapInArrow stage
    # that writes and returns the stats; the promote and the manifest
    # append are driver-local, no job); a Spark-side manifest append
    # measured 2, a committed-data read-back for the stats 5, a per-wave
    # groupBy-count rescan 7
    assert len(jobs) == 1, f"wave ran {len(jobs)} jobs — extra input pass?"
    # and the task-supplied lineage is still exact
    m = read_manifest(spark, out_dir)
    assert m.agg(F.sum("rows_in").alias("s")).collect()[0].s == 100


def test_noop_resume_reads_manifest_once(spark, out_dir):
    """A resume with nothing pending runs no Spark job: the driver reads the
    manifest once with pyarrow, and the done set, the next snapshot id and
    the clash guard all come from those rows."""
    pages = generate_pages(spark, 100, seed=3)
    run_extraction_pipeline(
        spark, pages, out_dir, run_id="j", n_buckets=2, wave_size=2, versioned=True
    )
    r, jobs = _jobs_in_group(
        spark,
        "noop_jobs",
        lambda: run_extraction_pipeline(
            spark, pages, out_dir, run_id="j", n_buckets=2, wave_size=2,
            versioned=True,
        ),
    )
    assert r.buckets_processed == [] and r.snapshot == 2
    assert len(jobs) == 0, f"no-op resume ran {len(jobs)} jobs"


def test_pipeline_leaves_session_conf_alone(spark, out_dir):
    """Dynamic partition overwrite is a per-write option: the pipeline and
    the snapshot operations must not flip the caller's session conf, and
    under the session default (static overwrite, which would wipe the whole
    table) a resumed wave still replaces only its own buckets."""
    from docling_japanese_books_spark.pipeline.driver import (
        delete_where,
        read_snapshot,
    )

    key = "spark.sql.sources.partitionOverwriteMode"
    prior = spark.conf.get(key)
    spark.conf.set(key, "STATIC")
    try:
        pages = generate_pages(spark, 100, seed=37)
        run_extraction_pipeline(
            spark, pages, out_dir, run_id="a", n_buckets=4, wave_size=2,
            max_waves=1,
        )
        run_extraction_pipeline(
            spark, pages, out_dir, run_id="b", n_buckets=4, wave_size=2
        )
        assert spark.conf.get(key) == "STATIC"
        assert spark.read.parquet(f"{out_dir}/data").count() == 100

        vdir = f"{out_dir}/v"
        run_extraction_pipeline(
            spark, pages, vdir, run_id="v1", n_buckets=4, wave_size=4,
            versioned=True,
        )
        d = delete_where(spark, vdir, "status <> 'ok'", run_id="del")
        assert spark.conf.get(key) == "STATIC"
        assert read_snapshot(spark, vdir).count() == 100 - d.rows_out
        assert read_snapshot(spark, vdir, as_of=1).count() == 100
    finally:
        spark.conf.set(key, prior)


def test_read_manifest_failure_is_not_missing_manifest(spark, out_dir, monkeypatch):
    """Only a missing manifest path reads as "no manifest". Any other read
    failure must propagate: swallowing it would reprocess every bucket and,
    in versioned mode, skip the run_id clash guard."""
    import pyarrow.parquet as pq

    pages = generate_pages(spark, 100, seed=41)
    run_extraction_pipeline(
        spark, pages, out_dir, run_id="a", n_buckets=2, wave_size=2
    )
    real_read_table = pq.read_table

    def flaky(source, *a, **kw):
        if "_manifest" in str(source):
            raise OSError("simulated transient filesystem error")
        return real_read_table(source, *a, **kw)

    monkeypatch.setattr(pq, "read_table", flaky)
    with pytest.raises(OSError, match="transient"):
        run_extraction_pipeline(
            spark, pages, out_dir, run_id="b", n_buckets=2, wave_size=2
        )
    monkeypatch.setattr(pq, "read_table", real_read_table)
    # nothing was reprocessed, and a missing manifest still reads as None
    assert read_manifest(spark, out_dir).count() == 2
    assert read_manifest(spark, f"{out_dir}/nowhere") is None


def test_manifest_without_snapshot_column_still_resumes(spark, out_dir):
    """A manifest written before snapshots existed has no ``snapshot``
    column: its entries still mark buckets done and count as snapshot 0."""
    pages = generate_pages(spark, 100, seed=47)
    r1 = run_extraction_pipeline(
        spark, pages, out_dir, run_id="old", n_buckets=4, wave_size=2, max_waves=1
    )
    legacy = read_manifest(spark, out_dir).drop("snapshot").collect()
    shutil.rmtree(f"{out_dir}/_manifest")
    spark.createDataFrame(legacy).write.parquet(f"{out_dir}/_manifest")

    r2 = run_extraction_pipeline(
        spark, pages, out_dir, run_id="new", n_buckets=4, wave_size=2
    )
    assert sorted(r2.buckets_skipped) == sorted(r1.buckets_processed)
    assert r2.snapshot == 1
    assert spark.read.parquet(f"{out_dir}/data").count() == 100


@pytest.mark.parametrize("kill_at", [0, 1])
def test_killed_manifest_append_redoes_that_wave(
    spark, out_dir, monkeypatch, kill_at
):
    """A kill between the manifest file's write and its rename leaves a
    hidden ``_manifest/.<name>.tmp``. Both manifest readers must ignore it,
    so the resume redoes exactly the killed wave's buckets."""
    import glob

    import pyarrow.parquet as pq

    pages = generate_pages(spark, 100, seed=59)
    kw = dict(n_buckets=4, wave_size=2)
    real_write = pq.write_table
    calls = []

    def killed(table, where, *a, **k):
        calls.append(where)
        real_write(table, where, *a, **k)
        if len(calls) > kill_at:
            raise RuntimeError("simulated kill before the manifest rename")

    monkeypatch.setattr(pq, "write_table", killed)
    with pytest.raises(RuntimeError, match="simulated kill"):
        run_extraction_pipeline(spark, pages, out_dir, run_id="a", **kw)
    monkeypatch.setattr(pq, "write_table", real_write)

    assert len(glob.glob(f"{out_dir}/_manifest/.*.tmp")) == 1
    done = set(range(2 * kill_at))
    assert completed_buckets(spark, out_dir) == done
    m = read_manifest(spark, out_dir)
    assert (set() if m is None else {r.bucket for r in m.collect()}) == done

    r = run_extraction_pipeline(spark, pages, out_dir, run_id="b", max_waves=1, **kw)
    killed_wave = [2 * kill_at, 2 * kill_at + 1]
    assert r.buckets_processed == killed_wave
    run_extraction_pipeline(spark, pages, out_dir, run_id="c", **kw)
    final = read_manifest(spark, out_dir).collect()
    assert sorted(r.bucket for r in final) == [0, 1, 2, 3]
    assert spark.read.parquet(f"{out_dir}/data").count() == 100


@pytest.mark.parametrize("legacy_name", ["0-legacy.parquet", "zz-legacy.parquet"])
def test_legacy_manifest_file_beside_arrow_files(spark, out_dir, legacy_name):
    """A Spark-written manifest file from before snapshots existed (no
    ``snapshot`` column, long ``bucket``) beside Arrow-written files: the
    done set stays right and the next snapshot is the latest + 1, whichever
    file sorts first."""
    import glob
    import os

    pages = generate_pages(spark, 100, seed=61)
    legacy_dir = f"{out_dir}/legacy"
    spark.createDataFrame(
        [(3, "old", "pages", "done", 0, 0, 0, 0, 0, 0)],
        "bucket long, run_id string, source string, status string, rows_in long, "
        "rows_out long, blocks_kept long, blocks_dropped long, "
        "parse_failures long, wall_ms long",
    ).coalesce(1).write.parquet(legacy_dir)
    r1 = run_extraction_pipeline(
        spark, pages, out_dir, run_id="a", n_buckets=4, wave_size=2, max_waves=1
    )
    (legacy,) = glob.glob(f"{legacy_dir}/part-*.parquet")
    os.rename(legacy, f"{out_dir}/_manifest/{legacy_name}")

    assert completed_buckets(spark, out_dir) == {*r1.buckets_processed, 3}
    r2 = run_extraction_pipeline(
        spark, pages, out_dir, run_id="b", n_buckets=4, wave_size=2
    )
    assert sorted(r2.buckets_skipped) == sorted({*r1.buckets_processed, 3})
    assert r2.snapshot == r1.snapshot + 1
    assert completed_buckets(spark, out_dir) == {0, 1, 2, 3}


def test_arrow_manifest_schema_matches_spark_schema(spark, out_dir):
    """The driver writes the manifest with pyarrow; Spark must read it back
    with exactly MANIFEST_SCHEMA's column names and types."""
    from docling_japanese_books_spark.pipeline.driver import MANIFEST_SCHEMA

    pages = generate_pages(spark, 50, seed=67)
    run_extraction_pipeline(
        spark, pages, out_dir, run_id="s", n_buckets=2, wave_size=1
    )
    got = read_manifest(spark, out_dir).schema
    assert [(f.name, f.dataType) for f in got] == [
        (f.name, f.dataType) for f in MANIFEST_SCHEMA
    ]


def _pdf_pages(spark):
    """60 genuine PDF payloads plus one corrupt one."""
    from pyspark.sql import Row

    from docling_japanese_books_spark.extraction.pdf_bytes import text_to_pdf

    ts = __import__("datetime").datetime(2024, 1, 1)
    rows = [
        Row(
            url=f"s3://corpus/doc{i}.pdf",
            warc_ts=ts,
            html=text_to_pdf(f"pdf document number {i} body text"),
            text="",
            lang="ja",
        )
        for i in range(60)
    ] + [Row(url="s3://corpus/bad.pdf", warc_ts=ts, html=b"corrupt", text="", lang="ja")]
    return spark.createDataFrame(rows)


@pytest.mark.parametrize("flavour", ["html", "pdf", "versioned"])
def test_observed_stats_match_committed_data(spark, out_dir, flavour):
    """The manifest's per-bucket output stats come from the stats rows the
    writing tasks return, not a read-back: they must equal a groupBy over
    the data actually committed under each entry's partition."""
    from docling_japanese_books_spark.pipeline.driver import extract_pdf_pages

    kw = dict(n_buckets=4, wave_size=2)
    if flavour == "pdf":
        pages, kw["extractor"] = _pdf_pages(spark), extract_pdf_pages
    else:
        pages = generate_pages(spark, N_PAGES, seed=43)
    versioned = flavour == "versioned"
    # a killed run, its resume, and (versioned) a partial re-crawl
    run_extraction_pipeline(
        spark, pages, out_dir, run_id="a", max_waves=1, versioned=versioned, **kw
    )
    run_extraction_pipeline(spark, pages, out_dir, run_id="b", versioned=versioned, **kw)
    if versioned:
        run_extraction_pipeline(
            spark, pages, out_dir, run_id="c", versioned=True, reprocess=[1, 2], **kw
        )

    stats = ["rows_out", "blocks_kept", "blocks_dropped", "parse_failures"]
    keys = ["bucket", "run_id"] if versioned else ["bucket"]
    manifest = {
        tuple(r[k] for k in keys): tuple(r[s] for s in stats)
        for r in read_manifest(spark, out_dir).collect()
    }
    committed = {
        tuple(r[k] for k in keys): tuple(r[s] for s in stats)
        for r in spark.read.parquet(f"{out_dir}/data")
        .groupBy(*keys)
        .agg(
            F.count("*").alias("rows_out"),
            F.sum("blocks_kept").alias("blocks_kept"),
            F.sum("blocks_dropped").alias("blocks_dropped"),
            F.sum(
                F.col("status").isin("decode_error", "parse_error").cast("long")
            ).alias("parse_failures"),
        )
        .collect()
    }
    assert len(manifest) == (6 if versioned else 4)
    assert manifest == committed
    if not versioned:
        assert sum(v[0] for v in manifest.values()) == (
            61 if flavour == "pdf" else N_PAGES
        )
    # the corpora plant undecodable pages
    assert sum(v[3] for v in manifest.values()) > 0


def test_rerun_is_idempotent(spark, out_dir):
    pages = generate_pages(spark, 200, seed=7)
    run_extraction_pipeline(
        spark, pages, out_dir, run_id="a", n_buckets=4, wave_size=4
    )
    before = spark.read.parquet(f"{out_dir}/data").count()
    # second full run: everything skipped, data unchanged
    r = run_extraction_pipeline(
        spark, pages, out_dir, run_id="b", n_buckets=4, wave_size=4
    )
    assert r.buckets_processed == []
    assert spark.read.parquet(f"{out_dir}/data").count() == before


def test_empty_buckets_do_not_crash(spark, out_dir):
    """A wave whose buckets all have zero input rows is legal (n_buckets
    can exceed the distinct-url count): no task returns a stats row for
    those buckets, and their entries must record 0 rows, not fail."""
    pages = generate_pages(spark, 3, seed=5)  # 3 urls across 64 buckets
    r = run_extraction_pipeline(
        spark, pages, out_dir, run_id="e", n_buckets=64, wave_size=8
    )
    assert r.rows_out == 3
    m = read_manifest(spark, out_dir)
    assert m.count() == 64
    assert m.agg(F.sum("rows_in").alias("s")).collect()[0].s == 3
    assert m.filter("rows_in < 0").count() == 0


def test_pdf_corpus_pipeline(spark, out_dir):
    """Real PDF byte streams through the resumable pipeline: pages whose
    payload is genuine PDF bytes (writer in extraction/pdf_bytes) extract
    via the PDF extractor, resume correctly, and reproduce the source text
    byte-identically; corrupt payloads land as parse_failures, not crashes."""
    from docling_japanese_books_spark.pipeline.driver import extract_pdf_pages

    pages = _pdf_pages(spark)

    r1 = run_extraction_pipeline(
        spark, pages, out_dir, run_id="p1", n_buckets=4, wave_size=2,
        max_waves=1, extractor=extract_pdf_pages,
    )
    assert len(r1.buckets_processed) == 2
    r2 = run_extraction_pipeline(
        spark, pages, out_dir, run_id="p2", n_buckets=4, wave_size=2,
        extractor=extract_pdf_pages,
    )
    assert set(r2.buckets_skipped) == set(r1.buckets_processed)

    data = spark.read.parquet(f"{out_dir}/data")
    assert data.count() == 61
    ok = {r.url: r.text for r in data.filter("status = 'ok'").collect()}
    assert len(ok) == 60
    for i in range(60):
        assert ok[f"s3://corpus/doc{i}.pdf"] == f"pdf document number {i} body text"
    m = read_manifest(spark, out_dir)
    assert m.agg(F.sum("parse_failures").alias("s")).collect()[0].s == 1
    assert m.agg(F.sum("rows_in").alias("s")).collect()[0].s == 61


def test_versioned_snapshots_and_time_travel(spark, out_dir):
    """Iceberg-style semantics on plain parquet: versioned runs keep every
    snapshot's data immutable under (bucket, run_id) partitions, the
    manifest is the snapshot log, read_snapshot() serves the current state
    and as_of= time-travels to any earlier snapshot; a re-crawl
    (reprocess=) creates a new snapshot without destroying the old one."""
    from pyspark.sql import functions as F

    from docling_japanese_books_spark.pipeline.driver import (
        read_snapshot,
        snapshots,
    )

    pages_v1 = generate_pages(spark, 100, seed=11)
    r1 = run_extraction_pipeline(
        spark, pages_v1, out_dir, run_id="crawl1", n_buckets=4, wave_size=4,
        versioned=True,
    )
    assert r1.snapshot == 1

    # re-crawl: same urls, changed content (simulate with a marker suffix)
    pages_v2 = pages_v1.withColumn(
        "html", F.concat(F.col("html"), F.lit(b""))
    ).withColumn("lang", F.lit("xx"))
    r2 = run_extraction_pipeline(
        spark, pages_v2, out_dir, run_id="crawl2", n_buckets=4, wave_size=4,
        versioned=True, reprocess=range(4),
    )
    assert r2.snapshot == 2 and len(r2.buckets_processed) == 4

    cur = read_snapshot(spark, out_dir)
    old = read_snapshot(spark, out_dir, as_of=1)
    assert cur.count() == 100 and old.count() == 100
    # current state is crawl2, snapshot 1 still serves crawl1's data
    assert {r.run_id for r in cur.select("run_id").distinct().collect()} == {"crawl2"}
    assert {r.run_id for r in old.select("run_id").distinct().collect()} == {"crawl1"}
    assert cur.filter("lang = 'xx'").count() == 100
    assert old.filter("lang = 'xx'").count() == 0
    # both snapshots' data exist on disk simultaneously (immutability)
    raw = spark.read.parquet(f"{out_dir}/data")
    assert raw.count() == 200

    log = snapshots(spark, out_dir).collect()
    assert [(r.snapshot, r.run_id, r.buckets) for r in log] == [
        (1, "crawl1", 4),
        (2, "crawl2", 4),
    ]


def test_versioned_partial_recrawl_merges_snapshots(spark, out_dir):
    """Reprocessing a SUBSET of buckets: the current snapshot serves new
    data for redone buckets and the previous run's data for the rest."""
    from docling_japanese_books_spark.pipeline.driver import read_snapshot

    pages = generate_pages(spark, 100, seed=13)
    run_extraction_pipeline(
        spark, pages, out_dir, run_id="a", n_buckets=4, wave_size=4,
        versioned=True,
    )
    run_extraction_pipeline(
        spark, pages, out_dir, run_id="b", n_buckets=4, wave_size=4,
        versioned=True, reprocess=[1, 2],
    )
    cur = read_snapshot(spark, out_dir)
    assert cur.count() == 100  # no duplicates across snapshots
    by_run = {
        r.run_id: r.n
        for r in cur.groupBy("run_id").agg(F.count("*").alias("n")).collect()
    }
    assert set(by_run) == {"a", "b"}
    buckets_b = {
        r.bucket for r in cur.filter("run_id = 'b'").select("bucket").distinct().collect()
    }
    assert buckets_b == {1, 2}


def test_expire_snapshots(spark, out_dir):
    """Snapshot expiry bounds versioned storage: partitions no kept
    snapshot references are deleted, kept snapshots (including carried-
    forward buckets older than the watermark) stay byte-readable, and
    reads below the watermark raise instead of silently serving a
    partial table."""
    import pytest as _pytest

    from docling_japanese_books_spark.pipeline.driver import (
        expire_snapshots,
        read_snapshot,
    )

    pages = generate_pages(spark, 80, seed=17)
    run_extraction_pipeline(
        spark, pages, out_dir, run_id="s1", n_buckets=4, wave_size=4,
        versioned=True,
    )
    # s2 rewrites only buckets 0-1; buckets 2-3 stay owned by s1
    run_extraction_pipeline(
        spark, pages, out_dir, run_id="s2", n_buckets=4, wave_size=4,
        versioned=True, reprocess=[0, 1],
    )
    run_extraction_pipeline(
        spark, pages, out_dir, run_id="s3", n_buckets=4, wave_size=4,
        versioned=True, reprocess=[0],
    )

    deleted, jobs = _jobs_in_group(
        spark, "expire_jobs", lambda: expire_snapshots(spark, out_dir, keep_last=2)
    )
    # the manifest is read on the driver: expiry runs no Spark job
    assert len(jobs) == 0, f"expire_snapshots ran {len(jobs)} jobs"
    # kept snapshots {2,3}: at the watermark (2) buckets 0,1 are owned by
    # s2 and buckets 2,3 by s1 — so s1's bucket-0 and bucket-1 partitions
    # are dead (2 deletions), while s1's buckets 2,3 stay carried forward
    assert deleted == 2

    cur = read_snapshot(spark, out_dir)
    assert cur.count() == 80
    prev = read_snapshot(spark, out_dir, as_of=2)
    assert prev.count() == 80  # carried-forward s1 buckets still readable
    with _pytest.raises(ValueError, match="expired"):
        read_snapshot(spark, out_dir, as_of=1)
    # idempotent: nothing else to delete
    assert expire_snapshots(spark, out_dir, keep_last=2) == 0


def test_expire_snapshots_with_escaped_run_ids(spark, out_dir):
    """A run_id with a character Spark escapes in partition directory names
    (``:`` -> ``%3A``) is expired through the directory Spark wrote."""
    import glob

    from docling_japanese_books_spark.pipeline.driver import (
        expire_snapshots,
        read_snapshot,
    )

    pages = generate_pages(spark, 40, seed=23)
    for i, rid in enumerate(f"2024-0{m}-01T00:00" for m in (5, 6, 7)):
        run_extraction_pipeline(
            spark, pages, out_dir, run_id=rid, n_buckets=2, wave_size=2,
            versioned=True, reprocess=[0, 1] if i else None,
        )

    def run_dirs():
        return sorted(
            os.path.relpath(p, f"{out_dir}/data")
            for p in glob.glob(f"{out_dir}/data/bucket=*/run_id=*")
        )

    assert len(run_dirs()) == 6
    assert expire_snapshots(spark, out_dir, keep_last=2) == 2
    assert [d for d in run_dirs() if "2024-05" in d] == []
    assert len(run_dirs()) == 4
    assert read_snapshot(spark, out_dir).count() == 40
    assert read_snapshot(spark, out_dir, as_of=2).count() == 40


def test_bucket_filter_plans_like_isin(spark):
    """The bucket filter parsed from one SQL string plans exactly like the
    per-literal ``Column.isin`` it replaces."""
    import contextlib
    import io
    import re

    from docling_japanese_books_spark.pipeline.driver import _bucket_in

    df = spark.range(64).withColumn("bucket", F.pmod(F.xxhash64("id"), F.lit(8)))

    def plan(frame):
        out = io.StringIO()
        with contextlib.redirect_stdout(out):
            frame.explain("formatted")
        return re.sub(r"#\d+", "#", out.getvalue())

    wave = [1, 3, 4, 7]
    assert plan(df.filter(_bucket_in(wave))) == plan(
        df.filter(F.col("bucket").isin(wave))
    )


def test_versioned_run_id_reuse_raises(spark, out_dir):
    """Rewriting a (bucket, run_id) partition an earlier snapshot references
    would silently corrupt time travel — reprocessing under an already-
    recorded run_id must raise, while resuming a KILLED run with the same
    run_id (pending buckets have no manifest entry) stays legal."""
    pages = generate_pages(spark, 100, seed=19)
    run_extraction_pipeline(
        spark, pages, out_dir, run_id="r", n_buckets=4, wave_size=4,
        versioned=True,
    )
    with pytest.raises(ValueError, match="corrupt time travel"):
        run_extraction_pipeline(
            spark, pages, out_dir, run_id="r", n_buckets=4, wave_size=4,
            versioned=True, reprocess=[0],
        )
    # the guard did not damage the table
    from docling_japanese_books_spark.pipeline.driver import read_snapshot

    assert read_snapshot(spark, out_dir).count() == 100


def test_versioned_killed_run_resumes_same_run_id(spark, out_dir):
    pages = generate_pages(spark, 100, seed=23)
    r1 = run_extraction_pipeline(
        spark, pages, out_dir, run_id="k", n_buckets=4, wave_size=2,
        max_waves=1, versioned=True,
    )
    assert len(r1.buckets_processed) == 2
    # resume under the SAME run_id: only pending buckets are written, no
    # recorded partition is rewritten, so the guard must not fire
    r2 = run_extraction_pipeline(
        spark, pages, out_dir, run_id="k", n_buckets=4, wave_size=2,
        versioned=True,
    )
    assert sorted(r1.buckets_processed + r2.buckets_processed) == [0, 1, 2, 3]
    from docling_japanese_books_spark.pipeline.driver import read_snapshot

    assert read_snapshot(spark, out_dir).count() == 100


def test_nonversioned_zero_row_reprocess_clears_stale_partition(spark, out_dir):
    """A redone bucket whose re-extraction yields ZERO rows stages no file:
    its promote must still clear the prior partition, or the table serves
    a previous run's rows beside this run's rows_out of 0."""
    pages = generate_pages(spark, 100, seed=29)
    run_extraction_pipeline(
        spark, pages, out_dir, run_id="full", n_buckets=4, wave_size=4
    )
    # re-crawl where every page of bucket 2 vanished from the input
    pages2 = pages.withColumn(
        "bucket", F.pmod(F.xxhash64("url"), F.lit(4))
    ).filter("bucket <> 2").drop("bucket")
    r = run_extraction_pipeline(
        spark, pages2, out_dir, run_id="empty", n_buckets=4, wave_size=4,
        reprocess=[2],
    )
    assert r.buckets_processed == [2] and r.rows_out == 0
    data = spark.read.parquet(f"{out_dir}/data")
    assert data.filter("bucket = 2").count() == 0  # stale rows cleared
    m = read_manifest(spark, out_dir)
    last = m.filter("run_id = 'empty'").collect()
    assert len(last) == 1 and last[0].rows_out == 0 and last[0].rows_in == 0


def test_versioned_resume_clears_orphan_of_killed_attempt(spark, out_dir):
    """Versioned twin of the stale-partition rule: a run killed after its
    data write but before its manifest append leaves an orphan
    (bucket, run_id) partition. If the resume under the same run_id finds
    no rows for that bucket, the orphan must go, or the new snapshot
    serves rows its manifest entry says do not exist."""
    import os

    from docling_japanese_books_spark.pipeline.driver import read_snapshot

    pages = generate_pages(spark, 100, seed=53)
    run_extraction_pipeline(
        spark, pages, out_dir, run_id="k", n_buckets=4, wave_size=4,
        versioned=True,
    )
    shutil.rmtree(f"{out_dir}/_manifest")  # killed before the append
    pages2 = pages.filter(F.pmod(F.xxhash64("url"), F.lit(4)) != 2)
    r = run_extraction_pipeline(
        spark, pages2, out_dir, run_id="k", n_buckets=4, wave_size=4,
        versioned=True,
    )
    assert not os.path.exists(f"{out_dir}/data/bucket=2/run_id=k")
    assert read_snapshot(spark, out_dir).count() == pages2.count() == r.rows_out
    entry = read_manifest(spark, out_dir).filter("bucket = 2").collect()
    assert len(entry) == 1 and entry[0].rows_out == 0


def test_expiry_watermark_survives_interrupted_delete(spark, out_dir, monkeypatch):
    """The watermark is written BEFORE partitions are deleted: a crash
    mid-expiry must leave expired reads failing fast ('expired'), never
    silently serving a partial table from half-deleted partitions."""
    import shutil as _shutil

    from docling_japanese_books_spark.pipeline.driver import (
        expire_snapshots,
        read_snapshot,
    )

    pages = generate_pages(spark, 80, seed=31)
    for rid, redo in (("s1", None), ("s2", [0, 1]), ("s3", [0])):
        run_extraction_pipeline(
            spark, pages, out_dir, run_id=rid, n_buckets=4, wave_size=4,
            versioned=True, reprocess=redo,
        )

    real_rmtree = _shutil.rmtree

    def boom(path, *a, **kw):
        raise OSError("simulated crash during partition delete")

    monkeypatch.setattr(_shutil, "rmtree", boom)
    with pytest.raises(OSError, match="simulated crash"):
        expire_snapshots(spark, out_dir, keep_last=2)
    monkeypatch.setattr(_shutil, "rmtree", real_rmtree)

    # nothing was deleted, but the watermark already gates expired reads
    with pytest.raises(ValueError, match="expired"):
        read_snapshot(spark, out_dir, as_of=1)
    assert read_snapshot(spark, out_dir).count() == 80


def test_extraction_output_byte_identical(spark, out_dir):
    pages = generate_pages(spark, 200, seed=42)
    run_extraction_pipeline(
        spark, pages, out_dir, run_id="x", n_buckets=4, wave_size=4
    )
    data = spark.read.parquet(f"{out_dir}/data")
    joined = data.alias("o").join(
        pages.select("url", F.col("text").alias("expected")).alias("p"), "url"
    )
    assert joined.filter("text <> expected").count() == 0


def test_delete_where_new_snapshot_preserves_history(spark, out_dir):
    """Row-level DELETE (copy-on-write): matching rows vanish from the
    current snapshot, pre-delete time travel still serves them, and only
    affected buckets are rewritten."""
    from docling_japanese_books_spark.pipeline.driver import (
        delete_where,
        read_snapshot,
    )

    pages = generate_pages(spark, N_PAGES, seed=42)
    r1 = run_extraction_pipeline(
        spark, pages, out_dir, run_id="r1", n_buckets=N_BUCKETS, versioned=True
    )
    before = read_snapshot(spark, out_dir)
    n_before = before.count()
    victims = before.filter(F.col("status") != "ok")
    n_victims = victims.count()
    victim_buckets = {
        r.bucket for r in victims.select("bucket").distinct().collect()
    }
    assert 0 < n_victims < n_before  # corpus plants malformed pages

    d = delete_where(spark, out_dir, "status <> 'ok'", run_id="del1")
    assert d.rows_out == n_victims
    assert set(d.buckets_processed) == victim_buckets
    assert d.snapshot == r1.snapshot + 1

    after = read_snapshot(spark, out_dir)
    assert after.count() == n_before - n_victims
    assert after.filter(F.col("status") != "ok").count() == 0
    # unaffected buckets still ride their ORIGINAL run's partitions
    m = read_manifest(spark, out_dir)
    assert m.filter(
        (F.col("snapshot") == d.snapshot)
        & ~F.col("bucket").isin([int(b) for b in victim_buckets])
    ).count() == 0

    # time travel to the pre-delete snapshot is intact
    travel = read_snapshot(spark, out_dir, as_of=r1.snapshot)
    assert travel.count() == n_before
    assert travel.filter(F.col("status") != "ok").count() == n_victims


def test_delete_where_rerun_and_noop(spark, out_dir):
    from docling_japanese_books_spark.pipeline.driver import (
        delete_where,
        read_snapshot,
    )

    pages = generate_pages(spark, N_PAGES, seed=42)
    run_extraction_pipeline(
        spark, pages, out_dir, run_id="r1", n_buckets=N_BUCKETS, versioned=True
    )
    d1 = delete_where(spark, out_dir, "status <> 'ok'", run_id="del1")
    assert d1.rows_out > 0
    # committed delete: a rerun (fresh run_id) finds nothing and no-ops
    d2 = delete_where(spark, out_dir, "status <> 'ok'", run_id="del2")
    assert d2.rows_out == 0 and d2.buckets_processed == []
    assert d2.snapshot == d1.snapshot  # no empty snapshot appended
    # run_id reuse against committed buckets is rejected
    with pytest.raises(ValueError, match="already holds snapshot data"):
        delete_where(spark, out_dir, "status = 'ok'", run_id="del1")


def test_delete_where_kill_mid_delete_resumes_exactly_once(spark, out_dir):
    """Killed between the data write and the manifest append: readers see
    the PRE-delete table (orphan partitions are unreferenced); rerunning
    the delete with the same run_id commits exactly once."""
    from docling_japanese_books_spark.pipeline.driver import (
        delete_where,
        read_snapshot,
    )

    pages = generate_pages(spark, N_PAGES, seed=42)
    r1 = run_extraction_pipeline(
        spark, pages, out_dir, run_id="r1", n_buckets=N_BUCKETS, versioned=True
    )
    n_before = read_snapshot(spark, out_dir).count()
    n_victims = (
        read_snapshot(spark, out_dir).filter(F.col("status") != "ok").count()
    )

    with pytest.raises(RuntimeError, match="simulated kill"):
        delete_where(
            spark, out_dir, "status <> 'ok'", run_id="del1",
            _fail_before_manifest=True,
        )
    # half-written delete is invisible: current table unchanged
    assert read_snapshot(spark, out_dir).count() == n_before

    d = delete_where(spark, out_dir, "status <> 'ok'", run_id="del1")
    assert d.rows_out == n_victims
    assert read_snapshot(spark, out_dir).count() == n_before - n_victims
    # exactly one delete snapshot in the log
    m = read_manifest(spark, out_dir)
    snaps = {r.snapshot for r in m.select("snapshot").distinct().collect()}
    assert snaps == {r1.snapshot, d.snapshot}


def test_delete_where_full_bucket_deletion(spark, out_dir):
    """Deleting EVERY row of some bucket: the new snapshot serves zero rows
    for it (no phantom partition), and time travel still serves the old."""
    from docling_japanese_books_spark.pipeline.driver import (
        delete_where,
        read_snapshot,
    )

    pages = generate_pages(spark, N_PAGES, seed=42)
    r1 = run_extraction_pipeline(
        spark, pages, out_dir, run_id="r1", n_buckets=N_BUCKETS, versioned=True
    )
    before = read_snapshot(spark, out_dir)
    some_bucket = before.select("bucket").first().bucket
    n_in_bucket = before.filter(F.col("bucket") == some_bucket).count()

    d = delete_where(
        spark, out_dir, f"bucket = {some_bucket}", run_id="delb"
    )
    assert d.rows_out == n_in_bucket
    after = read_snapshot(spark, out_dir)
    assert after.filter(F.col("bucket") == some_bucket).count() == 0
    assert after.count() == before.count() - n_in_bucket
    travel = read_snapshot(spark, out_dir, as_of=r1.snapshot)
    assert travel.filter(F.col("bucket") == some_bucket).count() == n_in_bucket


def test_merge_into_upsert_new_snapshot(spark, out_dir):
    """MERGE (upsert): matched keys are replaced, new keys inserted, only
    the source rows' buckets are rewritten, and pre-merge time travel is
    intact."""
    from docling_japanese_books_spark.pipeline.driver import (
        merge_into,
        read_snapshot,
    )

    pages = generate_pages(spark, N_PAGES, seed=42)
    r1 = run_extraction_pipeline(
        spark, pages, out_dir, run_id="r1", n_buckets=N_BUCKETS, versioned=True
    )
    before = read_snapshot(spark, out_dir)
    n_before = before.count()
    existing = [r.url for r in before.select("url").limit(3).collect()]

    src_rows = [
        # update: existing keys get new text
        *[(u, "updated text", "ok") for u in existing],
        # insert: a brand-new key
        ("https://brand.new/page", "inserted text", "ok"),
    ]
    src = spark.createDataFrame(
        src_rows, "url string, text string, status string"
    ).select(
        "url",
        F.lit(None).cast("timestamp").alias("warc_ts"),
        F.lit("en").alias("lang"),
        "text",
        "status",
        F.lit(1).cast("long").alias("blocks_kept"),
        F.lit(0).cast("long").alias("blocks_dropped"),
    )
    mr = merge_into(spark, out_dir, src, run_id="m1", key_col="url")
    assert mr.snapshot == r1.snapshot + 1

    after = read_snapshot(spark, out_dir)
    assert after.count() == n_before + 1  # 3 updates in place + 1 insert
    got = {
        r.url: r.text
        for r in after.filter(
            F.col("url").isin(existing + ["https://brand.new/page"])
        ).collect()
    }
    assert all(got[u] == "updated text" for u in existing)
    assert got["https://brand.new/page"] == "inserted text"
    # keys stay unique after the upsert
    assert after.select("url").distinct().count() == after.count()

    # time travel to pre-merge still serves the original text
    travel = read_snapshot(spark, out_dir, as_of=r1.snapshot)
    assert travel.count() == n_before
    old = {r.url: r.text for r in travel.filter(F.col("url").isin(existing)).collect()}
    assert all(old[u] != "updated text" for u in existing)


def test_merge_into_kill_and_resume(spark, out_dir):
    from docling_japanese_books_spark.pipeline.driver import (
        merge_into,
        read_snapshot,
    )

    pages = generate_pages(spark, N_PAGES, seed=42)
    run_extraction_pipeline(
        spark, pages, out_dir, run_id="r1", n_buckets=N_BUCKETS, versioned=True
    )
    n_before = read_snapshot(spark, out_dir).count()
    src = read_snapshot(spark, out_dir).limit(2).drop("run_id").withColumn(
        "text", F.lit("merged")
    )
    # force a concrete source (reading the table we're about to rewrite
    # mid-merge would race the dynamic overwrite)
    src = spark.createDataFrame(src.collect(), src.schema)

    with pytest.raises(RuntimeError, match="simulated kill"):
        merge_into(
            spark, out_dir, src, run_id="m1", _fail_before_manifest=True
        )
    assert read_snapshot(spark, out_dir).count() == n_before  # invisible

    mr = merge_into(spark, out_dir, src, run_id="m1")
    after = read_snapshot(spark, out_dir)
    assert after.count() == n_before  # pure update, no inserts
    assert after.filter(F.col("text") == "merged").count() == 2
    assert mr.rows_out > 0
    with pytest.raises(ValueError, match="already holds snapshot data"):
        merge_into(spark, out_dir, src, run_id="m1")


def test_compact_buckets_preserves_rows_and_history(spark, out_dir):
    """Compaction rewrites live buckets into fewer files as a new
    snapshot: row content identical, file count reduced, pre-compaction
    time travel intact, expiry can then reclaim the old layout."""
    import glob

    from docling_japanese_books_spark.pipeline.driver import (
        compact_buckets,
        read_snapshot,
    )

    pages = generate_pages(spark, N_PAGES, seed=42)
    # many small files per bucket: repartition the input wide
    r1 = run_extraction_pipeline(
        spark, pages.repartition(16), out_dir, run_id="r1",
        n_buckets=4, versioned=True,
    )
    before = read_snapshot(spark, out_dir)
    rows_before = sorted(
        (r.url, r.text) for r in before.select("url", "text").collect()
    )
    files_before = len(glob.glob(f"{out_dir}/data/bucket=*/run_id=r1/*.parquet"))
    assert files_before > 4  # genuinely fragmented

    c = compact_buckets(spark, out_dir, run_id="cmp1")
    assert c.snapshot == r1.snapshot + 1
    after = read_snapshot(spark, out_dir)
    rows_after = sorted(
        (r.url, r.text) for r in after.select("url", "text").collect()
    )
    assert rows_after == rows_before  # bit-identical content
    files_after = len(glob.glob(f"{out_dir}/data/bucket=*/run_id=cmp1/*.parquet"))
    assert files_after <= 4 < files_before  # ~one file per bucket

    travel = read_snapshot(spark, out_dir, as_of=r1.snapshot)
    assert travel.count() == before.count()

    # guards: run_id reuse and no-op on empty target set
    with pytest.raises(ValueError, match="already holds snapshot data"):
        compact_buckets(spark, out_dir, run_id="cmp1")
    noop = compact_buckets(spark, out_dir, run_id="cmp2", buckets=[999])
    assert noop.buckets_processed == [] and noop.snapshot == c.snapshot


def _pages_parquet(spark, path, payloads):
    """A crawl table as perfbench writes it (pyarrow, ``timestamp[us]``
    warc_ts, which Spark reads as timestamp_ntz), read back with Spark."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    n = len(payloads)
    pq.write_table(
        pa.table(
            {
                "url": [f"https://site.example/{i}" for i in range(n)],
                "warc_ts": pa.array([dt.datetime(2024, 5, 1)] * n, pa.timestamp("us")),
                "html": pa.array(payloads, pa.binary()),
                "text": [""] * n,
                "lang": ["ja"] * n,
            }
        ),
        path,
    )
    return spark.read.parquet(path)


def test_wave_is_one_python_stage_and_no_spark_write(spark, out_dir):
    """A wave extracts and writes in ONE mapInArrow stage: the tasks write
    their bucket files with pyarrow, so the wave's only SQL execution holds
    exactly one Python node (MapInArrow), no ArrowEvalPython (whose output
    would carry the text back to the JVM) and no Spark file-write command."""
    import re

    pages = _pages_parquet(
        spark, f"{out_dir}/pages.parquet",
        [f"<p>page {i} has enough text to keep</p>".encode() for i in range(40)],
    )
    store = spark._jsparkSession.sharedState().statusStore()

    def executions():  # the store keeps the latest executions only
        execs = store.executionsList()
        return {e.executionId(): e for e in map(execs.apply, range(execs.size()))}

    last = max(executions(), default=-1)
    run_extraction_pipeline(
        spark, pages, f"{out_dir}/t", run_id="p", n_buckets=2, wave_size=2
    )
    (plan,) = [
        e.physicalPlanDescription() for i, e in executions().items() if i > last
    ]
    nodes = re.findall(r"^\(\d+\) (\w[\w ]*?)\s*(?:\[codegen id : \d+\])?$", plan, re.M)
    python = [n for n in nodes if re.search("Python|Arrow|Pandas", n)]
    assert python == ["MapInArrow"], nodes
    assert not [n for n in nodes if re.search("InsertInto|Write", n)], nodes
    assert spark.read.parquet(f"{out_dir}/t/data").count() == 40


@pytest.mark.parametrize("ts", ["timestamp_ntz", "timestamp"])
@pytest.mark.parametrize("kind", ["html", "pdf", "office"])
def test_data_schema_matches_spark_writer(spark, out_dir, kind, ts):
    """The tasks write the data files with pyarrow; Spark must read ``data/``
    with the schema its own partitioned writer gave it: the input's warc_ts
    type carried through (timestamp_ntz stays timestamp_ntz), blocks_* int
    for HTML and long for PDF and office, the partition columns last, in
    plain and versioned mode."""
    import datetime as dt

    from docling_japanese_books_spark.extraction.ooxml import paragraphs_to_docx
    from docling_japanese_books_spark.extraction.pdf_bytes import text_to_pdf
    from docling_japanese_books_spark.pipeline.driver import (
        extract_office_pages,
        extract_pdf_pages,
    )

    payload, extractor, blocks = {
        "html": (lambda i: f"<p>page number {i} body text</p>".encode(), None, "int"),
        "pdf": (lambda i: text_to_pdf(f"pdf number {i}"), extract_pdf_pages, "bigint"),
        "office": (
            lambda i: paragraphs_to_docx([f"docx number {i}"]),
            extract_office_pages,
            "bigint",
        ),
    }[kind]
    pages = _pages_parquet(
        spark, f"{out_dir}/pages.parquet", [payload(i) for i in range(6)]
    )
    if ts == "timestamp":
        pages = pages.withColumn("warc_ts", F.lit(dt.datetime(2024, 5, 1)))
    for versioned in (False, True):
        table = f"{out_dir}/{versioned}"
        run_extraction_pipeline(
            spark, pages, table, run_id="s", n_buckets=2, wave_size=2,
            versioned=versioned, extractor=extractor,
        )
        data = spark.read.parquet(f"{table}/data")
        assert data.schema.simpleString() == (
            f"struct<url:string,warc_ts:{ts},lang:string,text:string,"
            f"status:string,blocks_kept:{blocks},blocks_dropped:{blocks},"
            f"bucket:int{',run_id:string' if versioned else ''}>"
        )
        assert data.filter("status = 'ok'").count() == 6


def test_extractor_crash_mid_wave_commits_nothing(spark, out_dir):
    """A batch extractor that raises partway through a wave, after other
    tasks staged their bucket files: no new row is visible, a reprocessed
    plain-mode bucket keeps its previous rows, the manifest is unchanged,
    and the leftover ``.staging-*`` directory is seen by neither Spark's
    reader nor the manifest reader. The next run clears the leftover and
    commits each bucket once."""
    import glob
    import time

    from docling_japanese_books_spark.pipeline.driver import (
        _manifest_entries,
        extract_html_pages,
    )

    marker = b"<p>the extractor fails on this page</p>"
    staged = f"{out_dir}/data/.staging-*/bucket=*/part-*.parquet"

    def crashing(payload):
        if marker in payload.to_pylist():
            # let the wave's other tasks stage their files first
            deadline = time.time() + 30
            while len(glob.glob(staged)) < 3 and time.time() < deadline:
                time.sleep(0.05)
            time.sleep(0.5)
            raise RuntimeError("extractor crashed on the marker page")
        return extract_html_pages(payload)

    pages = generate_pages(spark, 100, seed=71)
    kw = dict(n_buckets=4, wave_size=4)
    run_extraction_pipeline(spark, pages, out_dir, run_id="a", **kw)
    rows = lambda: sorted(  # noqa: E731
        tuple(r) for r in spark.read.parquet(f"{out_dir}/data")
        .select("url", "text", "bucket").collect()
    )
    before, entries = rows(), _manifest_entries(out_dir)

    last_url = pages.agg(F.max("url")).first()[0]
    marked = pages.withColumn(
        "html", F.when(F.col("url") == last_url, F.lit(marker)).otherwise(F.col("html"))
    )
    with pytest.raises(Exception, match="marker page"):
        run_extraction_pipeline(
            spark, marked, out_dir, run_id="b", reprocess=range(4),
            extractor=crashing, **kw,
        )
    assert glob.glob(staged), "no task staged a file before the crash"
    assert len(glob.glob(f"{out_dir}/data/.staging-*")) == 1
    assert rows() == before
    assert _manifest_entries(out_dir) == entries
    assert read_manifest(spark, out_dir).count() == 4

    r = run_extraction_pipeline(
        spark, pages, out_dir, run_id="c", reprocess=range(4), **kw
    )
    assert sorted(r.buckets_processed) == [0, 1, 2, 3] and r.rows_out == 100
    assert not glob.glob(f"{out_dir}/data/.staging-*")
    assert rows() == before
    m = read_manifest(spark, out_dir).filter("run_id = 'c'").collect()
    assert sorted(e.bucket for e in m) == [0, 1, 2, 3]
    assert sum(e.rows_out for e in m) == 100


def test_html_batch_extractor_matches_kernel_and_guards_size(monkeypatch):
    """The default batch extractor returns extract_main_content's fields per
    payload, in order, and marks a payload over MAX_HTML_BYTES 'oversize'
    without parsing it (extraction.html.extract_pages' size guard)."""
    import pyarrow as pa

    from docling_japanese_books_spark.extraction.html import extract_main_content
    from docling_japanese_books_spark.pipeline import driver

    payloads = [
        b"<p>a paragraph long enough to keep</p><a>nav</a>",
        None,
        b"<p>short</p>",
        b"<p>x</p>" * 4,
    ]
    out = driver.extract_html_pages(pa.array(payloads, pa.binary()))
    assert out.schema.names == list(driver.EXTRACTED_COLUMNS)
    assert out.schema.field("blocks_kept").type == pa.int32()
    for got, p in zip(out.to_pylist(), payloads):
        want = extract_main_content(p)
        assert got == {k: want[k] for k in driver.EXTRACTED_COLUMNS}

    monkeypatch.setattr(driver, "MAX_HTML_BYTES", 16)
    out = driver.extract_html_pages(pa.array(payloads, pa.binary())).to_pylist()
    assert [r["status"] for r in out] == ["oversize", "empty", "no_content", "oversize"]
    assert out[0] == dict(text="", status="oversize", blocks_kept=0, blocks_dropped=0)
