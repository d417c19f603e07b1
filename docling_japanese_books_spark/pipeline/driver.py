"""Checkpoint-resumable extraction pipeline (north rule: "resumable from
checkpoint with per-partition lineage + metrics").

Spark batch has no built-in partition-level resume, so job structure supplies
it (SURVEY §4 item 2):

- every page is assigned a stable bucket = pmod(xxhash64(url), n_buckets) —
  pure function of the url, independent of input partitioning, cluster size,
  or row order;
- output parquet is partitioned by bucket; writes use dynamic partition
  overwrite, so re-processing a bucket atomically replaces exactly that
  bucket's directory — a killed run never double-counts;
- a ``_manifest`` parquet table records one row per *completed* bucket with
  lineage (run_id, source) and extraction metrics (rows in/out, blocks
  kept/dropped, parse failures, wall ms). On restart, completed buckets are
  skipped (anti-join of bucket ids against the manifest);
- buckets are processed in waves (several buckets per Spark job) so progress
  checkpoints land incrementally while jobs stay large enough to saturate
  executors. Each wave costs ONE Spark job: the partitioned write, whose
  ``observe()`` metrics supply the wave's manifest stats (rows in/out,
  blocks, parse failures) without reading the output back. The manifest
  commit is driver-local, as Iceberg commits its metadata: pyarrow writes
  the wave's rows to a hidden temp file and renames it into ``_manifest``,
  so a kill mid-append leaves no visible entry. A run reads the manifest
  once, up front, also with pyarrow, so a no-op resume runs no Spark job.

At 100 TB / 1000 executors the same structure holds: n_buckets scales to
O(10k), wave_size to O(100); the extraction map itself is shuffle-free
(the only exchange is the write's partitionBy clustering).
"""

from __future__ import annotations

import os
import shutil
import time
import uuid
from collections import namedtuple
from dataclasses import dataclass
from pathlib import Path
from typing import List, Optional, Sequence

import pyarrow as pa
import pyarrow.parquet as pq
from pyarrow.fs import FileSystem
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

MANIFEST_SCHEMA = T.StructType(
    [
        T.StructField("bucket", T.IntegerType(), False),
        T.StructField("run_id", T.StringType(), False),
        T.StructField("source", T.StringType(), False),
        T.StructField("status", T.StringType(), False),
        T.StructField("rows_in", T.LongType(), False),
        T.StructField("rows_out", T.LongType(), False),
        T.StructField("blocks_kept", T.LongType(), False),
        T.StructField("blocks_dropped", T.LongType(), False),
        T.StructField("parse_failures", T.LongType(), False),
        T.StructField("wall_ms", T.LongType(), False),
        # Iceberg-style snapshot log: one monotonically increasing id per
        # run; the latest entry per bucket defines the CURRENT table, and
        # `read_snapshot(as_of=...)` time-travels to any earlier state
        T.StructField("snapshot", T.LongType(), False),
    ]
)
_ARROW_MANIFEST = to_arrow_schema(MANIFEST_SCHEMA)

# the bookkeeping columns a run needs from the manifest, read nullable: a
# manifest written before snapshots existed has no ``snapshot`` column
_Entry = namedtuple("_Entry", "bucket status run_id snapshot")
_ENTRY_SCHEMA = pa.schema(
    [_ARROW_MANIFEST.field(n).with_nullable(True) for n in _Entry._fields]
)


@dataclass
class PipelineResult:
    buckets_processed: List[int]
    buckets_skipped: List[int]
    rows_out: int
    snapshot: int = 0


def _manifest_path(output_dir: str) -> str:
    return str(Path(output_dir) / "_manifest")


def _data_path(output_dir: str) -> str:
    return str(Path(output_dir) / "data")


def _manifest_dir(output_dir: str):
    """(filesystem, path) of the manifest directory. The driver is local-
    filesystem only (its stale-partition clears use ``shutil``)."""
    return FileSystem.from_uri(os.path.abspath(_manifest_path(output_dir)))


def read_manifest(spark: SparkSession, output_dir: str) -> Optional[DataFrame]:
    """The manifest as a Spark table (for the snapshot reads and the
    snapshot log), or None when none was written yet. Only a missing path
    counts as "no manifest": any other read failure propagates."""
    try:
        return spark.read.parquet(_manifest_path(output_dir))
    except AnalysisException:
        return None


def completed_buckets(spark: SparkSession, output_dir: str) -> set:
    return {r.bucket for r in _manifest_entries(output_dir) if r.status == "done"}


def _manifest_entries(output_dir: str) -> List[_Entry]:
    """The manifest's bookkeeping columns, read on the driver with pyarrow
    (no Spark job): the done set, the latest snapshot id and the run_id
    clash guard all come from these rows. The explicit schema casts a
    legacy Spark-written file's long ``bucket`` and fills its missing
    ``snapshot`` (snapshot 0), whichever file is read first; hidden files,
    such as a killed append's temp file, are skipped. Only a missing
    directory means no entries: any other read failure propagates, since
    treating it as empty would reprocess every bucket and skip the
    versioned run_id clash guard."""
    fs, path = _manifest_dir(output_dir)
    try:
        t = pq.read_table(path, schema=_ENTRY_SCHEMA, filesystem=fs)
    except FileNotFoundError:
        return []
    cols = (t[n].to_pylist() for n in _Entry._fields)
    return [_Entry(b, st, rid, snap or 0) for b, st, rid, snap in zip(*cols)]


def _snapshot_entries(output_dir: str) -> List[_Entry]:
    """``_manifest_entries`` for the snapshot-maintenance operations, which
    need a versioned table's manifest."""
    entries = _manifest_entries(output_dir)
    if not any(r.snapshot for r in entries):
        raise ValueError(f"no snapshot manifest at {output_dir}")
    return entries


def _latest_snapshot(entries: List[_Entry]) -> int:
    return max((r.snapshot for r in entries), default=0)


def _check_run_id_clash(entries: list, run_id: str, buckets, remedy: str) -> None:
    """Snapshot-immutability guard: a (bucket, run_id) data partition already
    recorded in the manifest is referenced by an earlier snapshot, so
    rewriting it would make ``read_snapshot(as_of=older)`` silently serve
    new data."""
    wanted = {int(b) for b in buckets}
    clash = sorted({r.bucket for r in entries if r.run_id == run_id and r.bucket in wanted})
    if clash:
        raise ValueError(
            f"run_id {run_id!r} already holds snapshot data for buckets "
            f"{clash[:8]}{'...' if len(clash) > 8 else ''}; {remedy}"
        )


def _append_manifest(output_dir: str, rows: list) -> None:
    """Commit MANIFEST_SCHEMA-ordered tuples as one parquet file from the
    driver: write it under a hidden temp name, then rename it into place.
    pyarrow and Spark both skip hidden files, so a kill before the rename
    leaves the manifest as it was and the resume redoes the wave."""
    fs, path = _manifest_dir(output_dir)
    fs.create_dir(path)
    name = f"part-{uuid.uuid4().hex}.parquet"
    tmp = f"{path}/.{name}.tmp"
    table = pa.table(list(zip(*rows)), schema=_ARROW_MANIFEST)
    pq.write_table(table, tmp, filesystem=fs)
    fs.move(tmp, f"{path}/{name}")


# per-bucket output stats, in MANIFEST_SCHEMA order
_STATS = ("rows_out", "blocks_kept", "blocks_dropped", "parse_failures")
_NO_STATS = (0, 0, 0, 0)


def _overwrite_partitions(df: DataFrame, output_dir: str, *cols: str) -> None:
    """Write ``df`` into the data table, replacing only the partitions it
    holds. Dynamic overwrite is a per-write option, so the caller's session
    conf is left alone."""
    df.write.partitionBy(*cols).option("partitionOverwriteMode", "dynamic").mode(
        "overwrite"
    ).parquet(_data_path(output_dir))


# a row whose payload could not be decoded or parsed (SQL, shared by the
# observed and the read-back stats)
_PARSE_FAILURE = "status IN ('decode_error', 'parse_error')"


def _bucket_sums(wave, **values: str) -> list:
    """One long sum per (bucket, metric) for ``observe()``: column
    ``{metric}_{bucket}`` sums the metric's SQL expression over that
    bucket's rows. Built from SQL text, one JVM parse per column: the same
    expressions chained from Column operators cost several JVM round trips
    each (~0.33 s against ~0.01 s for 64 columns, measured on 4 cores)."""
    return [
        F.expr(
            f"CAST(sum(CASE WHEN bucket = {int(b)} THEN {v} ELSE 0 END) AS BIGINT)"
            f" AS {name}_{int(b)}"
        )
        for b in wave
        for name, v in values.items()
    ]


def _committed_stats(
    spark: SparkSession, output_dir: str, run_id: str, buckets
) -> dict:
    """Per-bucket (rows_out, blocks_kept, blocks_dropped, parse_failures)
    read back from the committed (bucket, run_id) partitions. One grouped
    aggregate, so it scales to any number of buckets; a write that left no
    files (every affected bucket emptied) has nothing to read."""
    try:
        committed = (
            spark.read.parquet(_data_path(output_dir))
            .filter(F.col("run_id") == run_id)
            .filter(F.col("bucket").isin([int(b) for b in buckets]))
        )
        rows = (
            committed.groupBy("bucket")
            .agg(
                F.count("*"),
                F.sum("blocks_kept"),
                F.sum("blocks_dropped"),
                F.sum(F.expr(_PARSE_FAILURE).cast("long")),
            )
            .collect()
        )
    except AnalysisException:
        return {}
    return {int(r[0]): tuple(int(v or 0) for v in r[1:]) for r in rows}


def _extract_html(sub: DataFrame) -> DataFrame:
    """Default extractor: HTML boilerplate strip (north-rule hot path)."""
    from ..extraction.html import extract_pages

    return extract_pages(sub).select(
        "url",
        "warc_ts",
        "lang",
        "bucket",
        F.col("extracted.text").alias("text"),
        F.col("extracted.status").alias("status"),
        F.col("extracted.blocks_kept").alias("blocks_kept"),
        F.col("extracted.blocks_dropped").alias("blocks_dropped"),
    )


def extract_pdf_pages(sub: DataFrame, payload_col: str = "html") -> DataFrame:
    """PDF-corpus extractor for the resumable pipeline: decodes real PDF
    byte streams (extraction/pdf.parse_pdf_bytes_udf — pypdf when present,
    pure-Python fallback otherwise). Metric mapping into the shared
    manifest schema: blocks_kept = decoded spans, blocks_dropped = 0 (the
    PDF path has no boilerplate classifier; decode failures surface via
    status, counted as parse_failures)."""
    from ..extraction.pdf import parse_pdf_bytes_udf

    return sub.select(
        "url",
        "warc_ts",
        "lang",
        "bucket",
        parse_pdf_bytes_udf(F.col(payload_col)).alias("e"),
    ).select(
        "url",
        "warc_ts",
        "lang",
        "bucket",
        F.col("e.text").alias("text"),
        F.col("e.status").alias("status"),
        F.col("e.n_spans").cast("long").alias("blocks_kept"),
        F.lit(0).cast("long").alias("blocks_dropped"),
    )


def extract_office_pages(sub: DataFrame, payload_col: str = "html") -> DataFrame:
    """DOCX/PPTX-corpus extractor for the resumable pipeline (the formats
    the reference accepts at config.py:52-66 and converts at
    processor.py:285-319): one Arrow stage, per-row format sniffing
    (extraction/ooxml.parse_office_udf). blocks_kept = extracted
    paragraphs; decode failures surface via status like the PDF path."""
    from ..extraction.ooxml import parse_office_udf

    return sub.select(
        "url",
        "warc_ts",
        "lang",
        "bucket",
        parse_office_udf(F.col(payload_col)).alias("e"),
    ).select(
        "url",
        "warc_ts",
        "lang",
        "bucket",
        F.col("e.text").alias("text"),
        F.col("e.status").alias("status"),
        F.col("e.n_paragraphs").cast("long").alias("blocks_kept"),
        F.lit(0).cast("long").alias("blocks_dropped"),
    )


def run_extraction_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    output_dir: str,
    run_id: str,
    source: str = "pages",
    n_buckets: int = 32,
    wave_size: int = 8,
    max_waves: Optional[int] = None,
    extractor=None,
    versioned: bool = False,
    reprocess: Optional[Sequence[int]] = None,
) -> PipelineResult:
    """Extract main content for every page, resumable per bucket.

    ``extractor`` maps a bucketed pages frame to rows of
    (url, warc_ts, lang, bucket, text, status, blocks_kept, blocks_dropped)
    — default is the HTML boilerplate strip; pass ``extract_pdf_pages`` for
    a PDF corpus. ``max_waves`` exists for tests (simulate a killed run by
    stopping after N waves); production leaves it None.

    ``versioned=True`` gives the output Iceberg-style snapshot semantics on
    plain parquet: data is partitioned by (bucket, run_id) so dynamic
    overwrite replaces only THIS run's partitions and every earlier run's
    data stays immutable on disk; the manifest is the snapshot log (one
    monotonically increasing ``snapshot`` id per run, latest entry per
    bucket = current table). Read with ``read_snapshot`` (current or
    ``as_of=`` an earlier snapshot id). ``reprocess`` lists buckets to redo
    even though the manifest marks them done (re-crawl / fixed extractor):
    in versioned mode that creates a new snapshot without destroying the
    old one.
    """
    extractor = extractor or _extract_html

    entries = _manifest_entries(output_dir)
    done = {r.bucket for r in entries if r.status == "done"}
    redo = {int(b) for b in (reprocess or ())}
    pending = [b for b in range(n_buckets) if b not in done or b in redo]
    snapshot = _latest_snapshot(entries) + 1

    # in versioned mode, resuming a KILLED run with the same run_id stays
    # legal: its pending buckets have no manifest entry yet
    if versioned:
        _check_run_id_clash(
            entries, run_id, pending,
            "rewriting those (bucket, run_id) partitions would corrupt time "
            "travel — reprocess under a fresh run_id",
        )

    pages_b = pages.withColumn("bucket", F.pmod(F.xxhash64("url"), F.lit(n_buckets)))

    waves: List[Sequence[int]] = [
        pending[i : i + wave_size] for i in range(0, len(pending), wave_size)
    ]
    if max_waves is not None:
        waves = waves[:max_waves]

    processed: List[int] = []
    total_rows_out = 0
    for wave in waves:
        t0 = time.time()
        sub = pages_b.filter(F.col("bucket").isin([int(b) for b in wave]))
        # rows_in counts the bucket's INPUT rows (pre-extraction) so the
        # kept/dropped accounting stays real even if a filter is ever added
        # above. Observation metrics piggyback on the write action — the
        # wave makes ONE pass over the input, not a second column-pruned
        # scan per wave (which at 100 TB is an extra url-column pass).
        obs_in = Observation(f"wave_{wave[0]}")
        sub = sub.observe(obs_in, *_bucket_sums(wave, rows_in="1"))
        # second observation on the same single write pass: the per-bucket
        # output stats the manifest records. Every observed row is a
        # written row and Spark applies an action's accumulators once per
        # task, so these equal a read-back of the committed partitions
        # without the extra job.
        obs_out = Observation(f"wave_out_{wave[0]}")
        extracted = extractor(sub).observe(
            obs_out,
            *_bucket_sums(
                wave,
                rows_out="1",
                blocks_kept="blocks_kept",
                blocks_dropped="blocks_dropped",
                parse_failures=f"CAST({_PARSE_FAILURE} AS BIGINT)",
            ),
        )
        # dynamic overwrite: only the partitions present in `extracted` are
        # replaced; a rerun of the same wave is idempotent. Versioned mode
        # adds run_id to the partitioning, so older runs' data is immutable.
        if versioned:
            extracted = extracted.withColumn("run_id", F.lit(run_id))
            _overwrite_partitions(extracted, output_dir, "bucket", "run_id")
        else:
            _overwrite_partitions(extracted, output_dir, "bucket")
        wall_ms = int((time.time() - t0) * 1000)

        # the write action above populated both observations; a sum over an
        # all-empty wave comes back null, so coalesce to 0 (empty buckets
        # are legal: n_buckets can exceed the distinct-url count)
        got_in, got_out = obs_in.get, obs_out.get
        manifest_rows = []
        for b in map(int, wave):
            stats = [int(got_out[f"{k}_{b}"] or 0) for k in _STATS]
            # a bucket whose new extraction yields zero rows keeps its PRIOR
            # partition on disk (dynamic overwrite never touches it): clear
            # it so the committed data matches the recorded rows_out. In
            # versioned mode that partition is this run_id's orphan from a
            # killed attempt — the clash guard proved no snapshot holds it.
            if stats[0] == 0:
                stale = Path(_data_path(output_dir)) / f"bucket={b}"
                if versioned:
                    stale = stale / f"run_id={run_id}"
                if stale.exists():
                    shutil.rmtree(stale)
            rows_in = int(got_in[f"rows_in_{b}"] or 0)
            manifest_rows.append(
                (b, run_id, source, "done", rows_in, *stats, wall_ms, snapshot)
            )
            total_rows_out += stats[0]
            processed.append(b)
        _append_manifest(output_dir, manifest_rows)

    return PipelineResult(
        buckets_processed=processed,
        buckets_skipped=sorted(done - redo),
        rows_out=total_rows_out,
        snapshot=snapshot,
    )


def live_partitions(manifest: DataFrame, as_of: Optional[int] = None) -> DataFrame:
    """The snapshot-log selection at the heart of time travel: for each
    bucket, the manifest entry with the highest snapshot <= ``as_of``
    (all snapshots when None) names the (bucket, run_id) data partition
    live at that point. Returns (bucket, run_id, snapshot) — exposed
    standalone so the algebra is oracle-checkable (`snapshot_time_travel`
    query) independent of any on-disk table."""
    m = manifest
    if as_of is not None:
        m = m.filter(F.col("snapshot") <= int(as_of))
    w = Window.partitionBy("bucket").orderBy(F.desc("snapshot"))
    return (
        m.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("bucket", "run_id", "snapshot")
    )


def read_snapshot(
    spark: SparkSession, output_dir: str, as_of: Optional[int] = None
) -> DataFrame:
    """Read a versioned table at a snapshot: the CURRENT state by default,
    or the state as of an earlier ``snapshot`` id (time travel).

    The manifest is the snapshot log: for each bucket, the entry with the
    highest snapshot <= as_of names the (bucket, run_id) data partition
    that was live then. The selection is a tiny broadcast join against the
    two partition columns, so dynamic partition pruning keeps the scan to
    exactly the live partitions."""
    m = read_manifest(spark, output_dir)
    if m is None or "snapshot" not in m.columns:
        raise ValueError(f"no snapshot manifest at {output_dir}")
    if as_of is not None and int(as_of) < _expiry_watermark(output_dir):
        raise ValueError(
            f"snapshot {as_of} expired (watermark "
            f"{_expiry_watermark(output_dir)}): its data was removed "
            f"by expire_snapshots"
        )
    live = live_partitions(m, as_of).select("bucket", "run_id")
    data = spark.read.parquet(_data_path(output_dir))
    if "run_id" not in data.columns:
        raise ValueError(
            f"{output_dir} is not a versioned table (run versioned=True)"
        )
    return data.join(F.broadcast(live), ["bucket", "run_id"])


def _expiry_watermark_path(output_dir: str) -> Path:
    return Path(output_dir) / "_expired_before"


def _expiry_watermark(output_dir: str) -> int:
    p = _expiry_watermark_path(output_dir)
    try:
        return int(p.read_text().strip())
    except (OSError, ValueError):
        return 0


def expire_snapshots(
    spark: SparkSession, output_dir: str, keep_last: int = 2
) -> int:
    """Iceberg-style snapshot expiry: drop the data partitions no kept
    snapshot references, so versioned storage growth is bounded (at 100 TB
    a re-crawl would otherwise double the table every run).

    Keeps the last ``keep_last`` snapshots readable — for each kept
    snapshot, the latest (bucket, run_id) entry per bucket stays on disk
    (including entries older than the watermark that are still live for a
    kept snapshot). Reads below the watermark raise in ``read_snapshot``.
    Deletion is a driver-side directory remove per expired partition
    (swap in the object-store delete API on a real cluster). Returns the
    number of partitions deleted. The manifest is read on the driver
    with pyarrow: expiry runs no Spark job."""
    entries = _snapshot_entries(output_dir)
    snaps = sorted({r.snapshot for r in entries})
    if len(snaps) <= keep_last:
        return 0
    watermark = snaps[-keep_last]
    # live = referenced by ANY kept snapshot. Kept snapshots are the
    # suffix s >= watermark, so live = the table state AT the watermark
    # (per-bucket latest entry with snapshot <= watermark — a bucket
    # rewritten at the watermark makes its older entries dead) plus every
    # entry written after it
    state_at_watermark = {
        r.bucket: r.run_id
        for r in sorted(entries, key=lambda r: r.snapshot)
        if r.snapshot <= watermark
    }
    live = set(state_at_watermark.items())
    live |= {(r.bucket, r.run_id) for r in entries if r.snapshot > watermark}
    all_pairs = {(r.bucket, r.run_id) for r in entries}
    # watermark BEFORE deletion: if the process dies mid-expiry, reads below
    # the watermark fail fast ("expired") instead of silently serving a
    # partial table from half-deleted partitions
    _expiry_watermark_path(output_dir).write_text(str(watermark))
    deleted = 0
    for bucket, run_id in sorted(all_pairs - live):
        part = Path(_data_path(output_dir)) / f"bucket={bucket}" / f"run_id={run_id}"
        if part.exists():
            shutil.rmtree(part)
            deleted += 1
    return deleted


def delete_where(
    spark: SparkSession,
    output_dir: str,
    predicate,
    run_id: str,
    source: str = "delete",
    _fail_before_manifest: bool = False,
) -> PipelineResult:
    """Row-level DELETE on a versioned table as a NEW snapshot — the
    copy-on-write strategy Iceberg calls eager row-level delete, matching
    the reference's delete-by-document-id semantics (ref
    vector_db.py:422-437 deletes by doc id from the persistent
    collection).

    Mechanics: only the buckets that actually contain matching rows are
    rewritten — their CURRENT live rows minus the victims land in fresh
    ``(bucket, run_id)`` partitions under snapshot N+1; unaffected
    buckets keep their existing manifest entries live (per-bucket-latest
    selection), so the delete's write cost is proportional to the
    affected data, not the table. History is preserved: every earlier
    snapshot's partitions are untouched and ``read_snapshot(as_of=N)``
    still serves the pre-delete rows.

    Crash safety (same contract as the extraction pipeline): data
    partitions are written BEFORE the single manifest append, so a kill
    mid-delete leaves either (a) orphan unreferenced partitions — invisible
    to every reader, and a rerun with the same run_id dynamically
    overwrites them — or (b) a fully committed delete, in which case the
    rerun finds no matching rows and no-ops. ``_fail_before_manifest`` is
    the test hook that simulates (a).

    ``predicate`` is a Column or SQL string over the table's columns.
    Returns a PipelineResult whose rows_out counts DELETED rows and whose
    buckets_processed lists the rewritten buckets.

    NOTE (also applies to merge_into): a ``source``/predicate frame
    LAZILY DERIVED from this same table would be re-evaluated during the
    rewrite against partially overwritten partitions — materialize such
    frames (collect/checkpoint) before calling."""
    t0 = time.time()
    entries = _snapshot_entries(output_dir)
    prev_snap = _latest_snapshot(entries)
    cond = F.expr(predicate) if isinstance(predicate, str) else predicate

    current = read_snapshot(spark, output_dir)
    # per-bucket live/victim counts in ONE bounded aggregate (buckets are
    # O(10k) at most): victims>0 marks the bucket affected
    counts = {
        int(r.bucket): (int(r.live), int(r.victims))
        for r in current.groupBy("bucket")
        .agg(
            F.count("*").alias("live"),
            F.sum(F.when(cond, 1).otherwise(0)).alias("victims"),
        )
        .collect()
    }
    affected = sorted(b for b, (_, v) in counts.items() if v > 0)
    if not affected:
        return PipelineResult(
            buckets_processed=[], buckets_skipped=sorted(counts),
            rows_out=0, snapshot=prev_snap,
        )

    # snapshot-immutability guard (same rule as the pipeline): this
    # run_id must not already own manifest-referenced partitions for the
    # buckets being rewritten
    _check_run_id_clash(entries, run_id, affected, "delete under a fresh run_id")

    survivors = (
        current.filter(F.col("bucket").isin([int(b) for b in affected]))
        .filter(~cond)
        .drop("run_id")
        .withColumn("run_id", F.lit(run_id))
    )
    _overwrite_partitions(survivors, output_dir, "bucket", "run_id")
    if _fail_before_manifest:
        raise RuntimeError("simulated kill between data write and manifest append")

    # stats from the COMMITTED partitions (what downstream sees)
    stats = _committed_stats(spark, output_dir, run_id, affected)
    wall_ms = int((time.time() - t0) * 1000)
    snapshot = prev_snap + 1
    _append_manifest(
        output_dir,
        [
            (b, run_id, source, "done", counts[b][0], *stats.get(b, _NO_STATS),
             wall_ms, snapshot)
            for b in affected
        ],
    )
    return PipelineResult(
        buckets_processed=[int(b) for b in affected],
        buckets_skipped=sorted(set(counts) - set(affected)),
        rows_out=sum(counts[b][1] for b in affected),
        snapshot=snapshot,
    )


def merge_into(
    spark: SparkSession,
    output_dir: str,
    source: DataFrame,
    run_id: str,
    key_col: str = "url",
    source_name: str = "merge",
    _fail_before_manifest: bool = False,
) -> PipelineResult:
    """MERGE (upsert) into a versioned table as a new snapshot — the
    copy-on-write "when matched update, when not matched insert" strategy,
    keyed on ``key_col``. Completes the DELETE/MERGE pair on the snapshot
    layer (delete_where is the other half).

    The source frame must carry the table's columns (minus run_id) and a
    ``bucket`` is derived from the key with the SAME hash the pipeline
    uses, so a source row lands in the bucket its key already lives in.
    Only buckets receiving source rows are rewritten: their live rows
    minus matched keys, unioned with the source rows, land in fresh
    ``(bucket, run_id)`` partitions under snapshot N+1. Unaffected
    buckets ride their existing manifest entries; history and time travel
    are preserved exactly as in delete_where, with the same crash
    contract (data before the single manifest append; same-run_id rerun
    overwrites orphans and commits once).

    Returns a PipelineResult: rows_out = rows written into the rewritten
    buckets (updates + inserts + untouched co-bucketed rows)."""
    t0 = time.time()
    entries = _snapshot_entries(output_dir)
    prev_snap = _latest_snapshot(entries)

    # manifest covers every bucket ever written
    n_buckets = max((r.bucket for r in entries), default=0) + 1
    src = source.drop("run_id", "bucket").withColumn(
        "bucket", F.pmod(F.xxhash64(key_col), F.lit(n_buckets)).cast("int")
    )
    affected = sorted(
        int(r.bucket) for r in src.select("bucket").distinct().collect()
    )
    if not affected:
        return PipelineResult(
            buckets_processed=[], buckets_skipped=[], rows_out=0,
            snapshot=prev_snap,
        )
    _check_run_id_clash(entries, run_id, affected, "merge under a fresh run_id")

    current = read_snapshot(spark, output_dir)
    kept = (
        current.filter(F.col("bucket").isin([int(b) for b in affected]))
        .join(src.select(key_col), key_col, "left_anti")  # matched -> replaced
        .drop("run_id")
    )
    merged = kept.unionByName(src.select(*kept.columns)).withColumn(
        "run_id", F.lit(run_id)
    )
    _overwrite_partitions(merged, output_dir, "bucket", "run_id")
    if _fail_before_manifest:
        raise RuntimeError("simulated kill between data write and manifest append")

    stats = _committed_stats(spark, output_dir, run_id, affected)
    src_counts = {
        int(r.bucket): int(r.n)
        for r in src.groupBy("bucket").agg(F.count("*").alias("n")).collect()
    }
    wall_ms = int((time.time() - t0) * 1000)
    snapshot = prev_snap + 1
    _append_manifest(
        output_dir,
        [
            (b, run_id, source_name, "done", src_counts.get(b, 0),
             *stats.get(b, _NO_STATS), wall_ms, snapshot)
            for b in affected
        ],
    )
    return PipelineResult(
        buckets_processed=[int(b) for b in affected],
        buckets_skipped=[],
        rows_out=sum(stats.get(b, _NO_STATS)[0] for b in affected),
        snapshot=snapshot,
    )


def compact_buckets(
    spark: SparkSession,
    output_dir: str,
    run_id: str,
    buckets: Optional[Sequence[int]] = None,
    target_files: int = 1,
) -> PipelineResult:
    """Table maintenance: rewrite each live bucket's (possibly many small)
    data files into ``target_files`` files under a NEW snapshot — the
    Iceberg rewrite_data_files analog, completing the maintenance trio
    with delete_where/merge_into (same copy-on-write + crash contract)
    and expire_snapshots (which reclaims the superseded partitions).
    Row content is bit-identical by construction; only the file layout
    changes. ``buckets=None`` compacts every live bucket."""
    t0 = time.time()
    entries = _snapshot_entries(output_dir)
    prev_snap = _latest_snapshot(entries)
    # every bucket in the manifest has exactly one live entry
    live = {int(r.bucket) for r in entries}
    targets = sorted(live if buckets is None else (set(map(int, buckets)) & live))
    if not targets:
        return PipelineResult([], sorted(live), 0, prev_snap)
    _check_run_id_clash(entries, run_id, targets, "compact under a fresh run_id")
    current = read_snapshot(spark, output_dir)
    _overwrite_partitions(
        current.filter(F.col("bucket").isin([int(b) for b in targets]))
        .drop("run_id")
        .withColumn("run_id", F.lit(run_id))
        .repartition(max(1, target_files) * len(targets), "bucket")
        .sortWithinPartitions("bucket"),
        output_dir,
        "bucket",
        "run_id",
    )
    stats = _committed_stats(spark, output_dir, run_id, targets)
    wall_ms = int((time.time() - t0) * 1000)
    snapshot = prev_snap + 1
    rows = []
    for b in targets:
        st = stats.get(b, _NO_STATS)
        # rows_in == rows_out: a rewrite
        rows.append((b, run_id, "compact", "done", st[0], *st, wall_ms, snapshot))
    _append_manifest(output_dir, rows)
    return PipelineResult(
        buckets_processed=[int(b) for b in targets],
        buckets_skipped=sorted(live - set(targets)),
        rows_out=sum(stats.get(b, _NO_STATS)[0] for b in targets),
        snapshot=snapshot,
    )


def snapshots(spark: SparkSession, output_dir: str) -> DataFrame:
    """The snapshot log: one row per snapshot with its run lineage and
    aggregate metrics (what Iceberg surfaces as the snapshots table)."""
    m = read_manifest(spark, output_dir)
    if m is None or "snapshot" not in m.columns:
        raise ValueError(f"no snapshot manifest at {output_dir}")
    return (
        m.groupBy("snapshot", "run_id", "source")
        .agg(
            F.count("*").alias("buckets"),
            F.sum("rows_out").alias("rows_out"),
            F.sum("parse_failures").alias("parse_failures"),
        )
        .orderBy("snapshot")
    )
