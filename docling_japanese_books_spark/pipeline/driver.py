"""Checkpoint-resumable extraction pipeline (north rule: "resumable from
checkpoint with per-partition lineage + metrics").

Spark batch has no built-in partition-level resume, so job structure supplies
it (SURVEY §4 item 2):

- every page is assigned a stable bucket = pmod(xxhash64(url), n_buckets) —
  pure function of the url, independent of input partitioning, cluster size,
  or row order;
- output parquet is partitioned by bucket (and run_id in versioned mode);
- a ``_manifest`` parquet table records one row per *completed* bucket with
  lineage (run_id, source) and extraction metrics (rows in/out, blocks
  kept/dropped, parse failures, wall ms). On restart, completed buckets are
  skipped (anti-join of bucket ids against the manifest);
- buckets are processed in waves (several buckets per Spark job) so progress
  checkpoints land incrementally while jobs stay large enough to saturate
  executors. Each wave costs ONE Spark job with ONE Python stage: a
  ``mapInArrow`` whose tasks run the batch extractor, write each bucket's
  rows with pyarrow into a hidden ``data/.staging-<uuid>`` directory and
  return only per-bucket stats, so the extracted text never crosses back
  to the JVM. The driver then promotes each wave bucket — removes its live
  partition directory and renames the staged one in — which is the commit
  Spark's dynamic partition overwrite makes, so reprocessing a bucket
  replaces exactly that bucket and a killed run never double-counts. The
  manifest commit is driver-local too, as Iceberg commits its metadata:
  pyarrow writes the wave's rows to a hidden temp file and renames it into
  ``_manifest``, so a kill mid-append leaves no visible entry. A run reads
  the manifest once, up front, also with pyarrow, so a no-op resume runs
  no Spark job, and clears any staging directory a killed wave left.

At 100 TB / 1000 executors the same structure holds: n_buckets scales to
O(10k), wave_size to O(100); a wave is shuffle-free (each task writes the
buckets of its own input split). The driver and the tasks write through the
local filesystem, so a cluster run needs the output on a shared mount.
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
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyarrow.fs import FileSystem
from pyspark.errors import AnalysisException
from pyspark.sql import Column, DataFrame, SparkSession, Window
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


def _bucket_in(buckets) -> Column:
    """``bucket IN (...)`` over a non-empty bucket list, parsed in one py4j
    call (``Column.isin`` makes one literal round trip per bucket); the
    analyzed predicate is the same ``In``."""
    return F.expr(f"bucket IN ({', '.join(str(int(b)) for b in buckets)})")


def _run_id_dir(spark: SparkSession, run_id: str) -> str:
    """The partition directory name Spark's writer and reader use for
    ``run_id`` (``run_id=2024-05-01T00%3A00`` for ``2024-05-01T00:00``)."""
    catalog = spark._jvm.org.apache.spark.sql.catalyst.catalog
    return catalog.ExternalCatalogUtils.getPartitionPathString("run_id", run_id)


# statuses of a row whose payload could not be decoded or parsed: counted
# as parse_failures by the wave tasks and by the read-back stats (SQL)
_FAILED = ("decode_error", "parse_error")
_PARSE_FAILURE = f"status IN {_FAILED!r}"


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
            .filter(_bucket_in(buckets))
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


# a batch extractor's result columns; the data files hold the input's url,
# warc_ts and lang, then these
EXTRACTED_COLUMNS = ("text", "status", "blocks_kept", "blocks_dropped")


def _extracted(rows: list, kept: str, dropped: Optional[str], blocks) -> pa.RecordBatch:
    """A batch extractor's result from its per-document dicts: ``kept`` and
    ``dropped`` name the keys counted as blocks_kept and blocks_dropped
    (None: 0 for every row), both of Arrow type ``blocks``."""
    return pa.RecordBatch.from_arrays(
        [
            pa.array([r["text"] for r in rows], pa.string()),
            pa.array([r["status"] for r in rows], pa.string()),
            pa.array([r[kept] for r in rows], blocks),
            pa.array([r[dropped] for r in rows] if dropped else [0] * len(rows), blocks),
        ],
        names=list(EXTRACTED_COLUMNS),
    )


# extraction.html.extract_pages' size guard (ref processor.py:231-237)
MAX_HTML_BYTES = 100 * 1024 * 1024
_OVERSIZE = dict(text="", status="oversize", blocks_kept=0, blocks_dropped=0)


def extract_html_pages(payload: pa.Array) -> pa.RecordBatch:
    """Default batch extractor: the HTML boilerplate strip (north-rule hot
    path, extraction/html.extract_main_content), blocks typed int like its
    EXTRACT_SCHEMA. A payload over MAX_HTML_BYTES is marked 'oversize'
    without being parsed."""
    from ..extraction.html import extract_main_content

    rows = [
        _OVERSIZE if p is not None and len(p) > MAX_HTML_BYTES else extract_main_content(p)
        for p in payload.to_pylist()
    ]
    return _extracted(rows, "blocks_kept", "blocks_dropped", pa.int32())


def extract_pdf_pages(payload: pa.Array) -> pa.RecordBatch:
    """PDF-corpus batch extractor: decodes real PDF byte streams
    (extraction/pdf.parse_pdf_bytes — pypdf when present, pure-Python
    fallback otherwise). Metric mapping into the shared manifest schema:
    blocks_kept = decoded spans, blocks_dropped = 0 (the PDF path has no
    boilerplate classifier; decode failures surface via status, counted
    as parse_failures)."""
    from ..extraction.pdf import parse_pdf_bytes

    rows = [parse_pdf_bytes(p) for p in payload.to_pylist()]
    return _extracted(rows, "n_spans", None, pa.int64())


def extract_office_pages(payload: pa.Array) -> pa.RecordBatch:
    """DOCX/PPTX-corpus batch extractor (the formats the reference accepts
    at config.py:52-66 and converts at processor.py:285-319): per-row
    format sniffing (extraction/ooxml.parse_office). blocks_kept =
    extracted paragraphs; decode failures surface via status like the PDF
    path."""
    from ..extraction.ooxml import parse_office

    rows = [parse_office(p) for p in payload.to_pylist()]
    return _extracted(rows, "n_paragraphs", None, pa.int64())


# what one wave task yields per bucket it wrote; the driver sums it per bucket
_WAVE_STATS = T.StructType(
    [T.StructField("bucket", T.LongType(), False)]
    + [T.StructField(n, T.LongType(), False) for n in ("rows_in", *_STATS)]
)
_ARROW_WAVE_STATS = to_arrow_schema(_WAVE_STATS)


def _wave_task(extractor, staging: str, run_part: Optional[str]):
    """The body of a wave's single mapInArrow stage. A task runs
    ``extractor`` over its Arrow batches, then writes each bucket's rows
    with pyarrow as ``staging/bucket=b[/run_part]/part-<partition>.parquet``
    (a hidden temp name, then a rename, so a retried task replaces its own
    file) and yields one stats row per bucket. Only those rows go back to
    the JVM; the extracted text never does. The input's url, warc_ts and
    lang fields are written as they arrive, so a ``timestamp_ntz`` warc_ts
    stays one."""

    def task(batches):
        from pyspark import TaskContext

        parts = []
        for batch in batches:
            out = extractor(batch.column("html"))
            if out.num_rows != batch.num_rows:
                raise ValueError(
                    f"extractor returned {out.num_rows} rows for {batch.num_rows} payloads"
                )
            keep = batch.select(["url", "warc_ts", "lang", "bucket"])
            parts.append(
                pa.RecordBatch.from_arrays(
                    keep.columns + out.columns,
                    schema=pa.schema([*keep.schema, *out.schema]),
                )
            )
        if not parts:
            return
        table = pa.Table.from_batches(parts)
        name = f"part-{TaskContext.get().partitionId():05d}.parquet"
        stats = []
        for b in pc.unique(table["bucket"]).to_pylist():
            rows = table.filter(pc.equal(table["bucket"], b)).drop_columns("bucket")
            where = os.path.join(staging, f"bucket={b}", run_part or "")
            os.makedirs(where, exist_ok=True)
            tmp = os.path.join(where, f".{name}.{uuid.uuid4().hex}.tmp")
            pq.write_table(rows, tmp)
            os.replace(tmp, os.path.join(where, name))
            failed = pc.is_in(rows["status"], value_set=pa.array(_FAILED))
            n = rows.num_rows  # one extracted row per input row
            stats.append(
                (
                    b, n, n,
                    pc.sum(rows["blocks_kept"]).as_py(),
                    pc.sum(rows["blocks_dropped"]).as_py(),
                    pc.sum(failed.cast(pa.int64())).as_py(),
                )
            )
        yield pa.RecordBatch.from_arrays(
            [pa.array(c, pa.int64()) for c in zip(*stats)], schema=_ARROW_WAVE_STATS
        )

    return task


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

    ``pages`` needs the columns url, warc_ts, lang and html (the payload).
    ``extractor`` is a batch function: it takes one Arrow batch's payload
    column (a ``pyarrow`` binary array) and returns a ``pyarrow.RecordBatch``
    of EXTRACTED_COLUMNS (text, status, blocks_kept, blocks_dropped) with
    one row per payload, in order. It runs inside the wave's Python tasks,
    so it must be importable or picklable there, and it should record a
    bad document in ``status`` rather than raise: a raise fails the wave,
    which then commits nothing. Its Arrow types become the data table's.
    The default is ``extract_html_pages``; ``extract_pdf_pages`` and
    ``extract_office_pages`` serve PDF and DOCX/PPTX corpora.
    ``max_waves`` exists for tests (simulate a killed run by stopping
    after N waves); production leaves it None.

    ``versioned=True`` gives the output Iceberg-style snapshot semantics on
    plain parquet: data is partitioned by (bucket, run_id) so a wave
    replaces only THIS run's partitions and every earlier run's data stays
    immutable on disk; the manifest is the snapshot log (one monotonically
    increasing ``snapshot`` id per run, latest entry per bucket = current
    table). Read with ``read_snapshot`` (current or ``as_of=`` an earlier
    snapshot id). ``reprocess`` lists buckets to redo even though the
    manifest marks them done (re-crawl / fixed extractor): in versioned
    mode that creates a new snapshot without destroying the old one.
    """
    extractor = extractor or extract_html_pages

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

    data = Path(_data_path(output_dir)).absolute()
    # a killed wave's staged files: hidden from every reader, never promoted
    for leftover in data.glob(".staging-*"):
        shutil.rmtree(leftover, ignore_errors=True)
    run_part = _run_id_dir(spark, run_id) if versioned else None

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
        staging = data / f".staging-{uuid.uuid4().hex}"
        staging.mkdir(parents=True)
        # the wave's one Spark job: one pass over the input, extraction and
        # the staged writes in the same Python stage, per-bucket stats back
        stats = {int(b): [0] * (1 + len(_STATS)) for b in wave}
        for r in (
            pages_b.filter(_bucket_in(wave))
            .select("url", "warc_ts", "lang", "bucket", "html")
            .mapInArrow(_wave_task(extractor, str(staging), run_part), _WAVE_STATS)
            .collect()
        ):
            stats[r.bucket] = [a + v for a, v in zip(stats[r.bucket], r[1:])]
        # promote: each wave bucket's live partition is replaced by what
        # was staged for it, or only cleared when nothing was (every page
        # of the bucket is gone from the input), so the committed data
        # always matches the recorded rows_out. Spark's dynamic partition
        # overwrite commits the same way.
        for b in stats:
            part = Path(f"bucket={b}", run_part or "")
            live, staged = data / part, staging / part
            if live.exists():
                shutil.rmtree(live)
            if staged.exists():
                live.parent.mkdir(parents=True, exist_ok=True)
                staged.rename(live)
        shutil.rmtree(staging)
        wall_ms = int((time.time() - t0) * 1000)

        manifest_rows = [
            (b, run_id, source, "done", *s, wall_ms, snapshot) for b, s in stats.items()
        ]
        _append_manifest(output_dir, manifest_rows)
        total_rows_out += sum(s[1] for s in stats.values())
        processed.extend(stats)

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
        run_dir = _run_id_dir(spark, run_id)
        part = Path(_data_path(output_dir), f"bucket={bucket}", run_dir)
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
        current.filter(_bucket_in(affected))
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
        current.filter(_bucket_in(affected))
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
        current.filter(_bucket_in(targets))
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
