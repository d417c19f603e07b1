"""The three benchmark workloads.

Each workload function takes the run's ``Bench`` and options, sets up
(session, seeded inputs, one warm-up op), measures ops for ``seconds``,
checks every op's output, and returns a ``Result``. With tracing on it also
runs the per-layer probes. Every op starts from a fresh output directory
with Spark's caches cleared (``Bench.reset``); how many cached relations
the previous op left is recorded, and reps are summarized by medians,
never minimums.

- extract_resume: ``run_extraction_pipeline`` killed after half its waves,
  then resumed to completion, over a seeded crawl table.
- headline_queries: one op is one of the 10 headline queries into a noop
  sink, over seeded sf0.1-shaped tables, whole cycles in a seed-shuffled
  order. Its traced run also runs the curate path (``curate_corpus`` with
  its defaults, then the simple chunker over the survivors into a noop
  sink) over a seeded text table and probes its layers.
"""

from __future__ import annotations

import hashlib
import random
import time
import traceback
from dataclasses import dataclass, field
from pathlib import Path
from typing import Callable, List, Optional

import gen
from harness import CORES, Bench, log, pin
from metrics import median, scaling_efficiency, tail

N_PAGES = 2000
N_BUCKETS = 32  # run_extraction_pipeline's default
# two waves of 16 buckets: the op kills the run after the first and resumes
# the second (each wave costs ~2 s of fixed write/commit work on 4 CPUs)
WAVE_SIZE = 16
HALF_WAVES = 1
N_TEXTS = 4000
SETUP_REPEATS = 2

HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "orders_rank_in_customer",
    "events_hourly_by_type",
    "emb_context_preservation",
    "emb_cosine_topk",
    "doc_lang_quality",
    "extract_roundtrip",
    "chunk_simple",
    "dedup_minhash_lsh",
]
# tables each headline query scans (for the input-rows rate)
HEADLINE_TABLES = {
    "q1_pricing_summary": ("lineitem",),
    "q3_shipping_priority": ("customer", "orders", "lineitem"),
    "orders_rank_in_customer": ("orders",),
    "events_hourly_by_type": ("events",),
    "emb_context_preservation": ("embeddings",),
    "emb_cosine_topk": ("embeddings",),
    "doc_lang_quality": ("documents",),
    "extract_roundtrip": ("documents",),
    "chunk_simple": ("documents",),
    "dedup_minhash_lsh": ("documents",),
}


@dataclass
class Result:
    setup_s: float
    walls: List[float]  # successful ops, seconds
    attempted: int
    failed: int
    docs: float  # input rows processed in rate_wall_s
    rate_wall_s: float
    peak_rss_mb: float
    problems: List[str] = field(default_factory=list)
    per_layer: dict = field(default_factory=dict)
    extra: dict = field(default_factory=dict)  # printed, not gated


@dataclass
class Loop:
    walls: List[float] = field(default_factory=list)
    names: List[str] = field(default_factory=list)
    left: List[int] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    problems: List[str] = field(default_factory=list)
    untraced: List[float] = field(default_factory=list)

    def add_check(self, problems: List[str]) -> None:
        """Count a run-level check (not tied to one op) as an attempt."""
        self.attempted += 1
        if problems:
            self.failed += 1
            self.problems.extend(problems)
            log(f"check FAILED: {problems[:3]}")

    def absorb(self, other: "Loop") -> None:
        """Count another loop's (the warm-up's) attempts and failures."""
        self.attempted += other.attempted
        self.failed += other.failed
        self.problems.extend(other.problems)


def _run_op(bench: Bench, loop: Loop, name: str, op: Callable, check: Callable) -> None:
    """One timed op: reset caches, time ``op()`` with the RSS sampler on,
    then check its output outside the timing. An op that raises or fails
    its check counts as failed."""
    loop.left.append(bench.reset())
    loop.attempted += 1
    try:
        with bench.rss.active():
            t0 = time.perf_counter()
            with bench.tracer.span("bench.op"):
                res = op()
            wall = time.perf_counter() - t0
        problems = check(res)
    except Exception:  # a failing op is a measured outcome, not a crash
        problems = [f"{name}: {traceback.format_exc(limit=3)}"]
    if problems:
        loop.failed += 1
        loop.problems.extend(problems)
        log(f"op {name} FAILED: {problems[:3]}")
        return
    loop.walls.append(wall)
    loop.names.append(name)


def _timed(fn: Callable, reps: int = 3) -> float:
    """Median wall of ``reps`` calls."""
    walls = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        walls.append(time.perf_counter() - t0)
    return median(walls)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _column_bytes(path: Path, skip: tuple = ()) -> int:
    """Compressed bytes of every parquet column chunk under ``path``,
    except the columns named in ``skip``."""
    import pyarrow.parquet as pq

    total = 0
    for f in path.rglob("*.parquet"):
        md = pq.ParquetFile(f).metadata
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            total += sum(
                rg.column(c).total_compressed_size
                for c in range(rg.num_columns)
                if rg.column(c).path_in_schema not in skip
            )
    return total


def _setup_inputs(make: Callable) -> tuple:
    """Generate the inputs SETUP_REPEATS times (a same-seed determinism
    check); returns (inputs, median generation seconds, problems)."""
    walls, first, problems = [], None, []
    for _ in range(SETUP_REPEATS):
        t0 = time.perf_counter()
        out = make()
        walls.append(time.perf_counter() - t0)
        if first is None:
            first = out
        elif out[1] != first[1]:
            problems.append("input generator is not deterministic for a fixed seed")
    return first[0], median(walls), problems


def _finish(
    bench: Bench, setup_s: float, loop: Loop, docs: float, rate_wall_s: Optional[float] = None
) -> Result:
    if not loop.walls:
        raise RuntimeError("every op failed: " + "; ".join(loop.problems[:3]))
    res = Result(
        setup_s=setup_s,
        walls=loop.walls,
        attempted=loop.attempted,
        failed=loop.failed,
        docs=docs,
        rate_wall_s=rate_wall_s or median(loop.walls),
        peak_rss_mb=bench.rss.peak / (1 << 20),
        problems=loop.problems,
    )
    res.extra["cached_relations_left"] = loop.left
    if bench.tracer.enabled:
        res.per_layer["trace.overhead_frac"] = (
            median(loop.walls) / median(loop.untraced) - 1.0 if loop.untraced else 0.0
        )
    return res


def _window(bench: Bench, seconds: float, body: Callable[[Loop, int], None]) -> Loop:
    """Call ``body(loop, i)`` until ``seconds`` have passed (at least once);
    with tracing on, every other call runs with spans off so the tracing
    overhead can be measured against the untraced calls."""
    loop = Loop()
    traced = bench.tracer.enabled
    t_end = time.perf_counter() + seconds
    i = 0
    while i == 0 or time.perf_counter() < t_end:
        if traced:
            bench.tracer.enabled = i % 2 == 0
        n = len(loop.walls)
        body(loop, i)
        if traced and not bench.tracer.enabled:
            loop.untraced.extend(loop.walls[n:])
            del loop.walls[n:]
            del loop.names[n:]
        i += 1
    bench.tracer.enabled = traced
    return loop


# ---------------------------------------------------------------------------
# extract_resume
# ---------------------------------------------------------------------------


def extract_resume(bench: Bench, seed: int, seconds: float) -> Result:
    from docling_japanese_books_spark.pipeline.driver import (
        completed_buckets,
        run_extraction_pipeline,
    )
    from pyspark.sql import functions as F

    t_setup = bench.start_session()
    spark = bench.spark
    pages_path = bench.work / "pages"

    def make():
        pages = gen.make_pages(seed, N_PAGES)
        bench.fresh_dir("pages")
        gen.write_parquet(pages.table, str(pages_path), n_files=8)
        return pages, pages.table

    with bench.tracer.span("bench.inputs"):
        pages, gen_s, gen_problems = _setup_inputs(make)
    expected_status = {}
    for st in pages.status.values():
        expected_status[st] = expected_status.get(st, 0) + 1
    expected_status["ok"] = N_PAGES - sum(expected_status.values())
    last: dict = {}

    def op(i: int):
        out = bench.fresh_dir(f"out/op{i}")
        df = spark.read.parquet(str(pages_path))
        with bench.tracer.span("pipeline.driver.run"):
            r1 = run_extraction_pipeline(
                spark, df, str(out), run_id=f"op{i}", n_buckets=N_BUCKETS,
                wave_size=WAVE_SIZE, max_waves=HALF_WAVES,
            )
        with bench.tracer.span("pipeline.driver.resume"):
            r2 = run_extraction_pipeline(
                spark, df, str(out), run_id=f"op{i}", n_buckets=N_BUCKETS,
                wave_size=WAVE_SIZE,
            )
        return out, r1, r2

    def check(res) -> List[str]:
        out, r1, r2 = res
        problems = []
        manifest = spark.read.parquet(str(out / "_manifest")).collect()
        buckets = sorted(r.bucket for r in manifest)
        if buckets != list(range(N_BUCKETS)):
            problems.append(f"manifest buckets {buckets} are not each bucket once")
        rows_in = sum(r.rows_in for r in manifest)
        if rows_in != N_PAGES:
            problems.append(f"manifest rows_in sums to {rows_in}, not {N_PAGES}")
        if sorted(r2.buckets_skipped) != sorted(r1.buckets_processed):
            problems.append("resume did not skip exactly the buckets the killed run finished")
        data = spark.read.parquet(str(out / "data")).select("url", "text", "status")
        exp = spark.read.parquet(str(pages_path)).select("url", F.col("text").alias("exp"))
        rows = (
            data.join(exp, "url", "full_outer")
            .groupBy("status")
            .agg(
                F.count("*").alias("n"),
                F.sum(F.when(F.col("text").eqNullSafe(F.col("exp")), 0).otherwise(1)).alias("bad"),
            )
            .collect()
        )
        got = {r.status: r.n for r in rows}
        bad = sum(r.bad for r in rows)
        if bad:
            problems.append(f"{bad} urls whose extracted text differs from the expected text")
        if got != expected_status:
            problems.append(f"status counts {got} != expected {expected_status}")
        if bench.tracer.enabled or not last:
            t0 = time.perf_counter()
            completed_buckets(spark, str(out))
            # the input's own columns: ``text`` is the expected answer
            last.update(
                manifest_read_s=time.perf_counter() - t0,
                wave_ms=[r.wall_ms for r in manifest],
                bytes_ratio=_column_bytes(out / "data")
                / _column_bytes(pages_path, skip=("text",)),
                files=sum(1 for f in (out / "data").rglob("*.parquet")),
                skipped=len(r2.buckets_skipped),
            )
        bench.fresh_dir(f"out/{out.name}")
        return problems

    def body(loop: Loop, i: int) -> None:
        _run_op(bench, loop, f"op{i}", lambda: op(i), check)

    with bench.tracer.span("bench.warmup"):
        warm = Loop()
        body(warm, 0)
    setup_s = t_setup + gen_s + sum(warm.walls)

    loop = _window(bench, seconds, lambda lp, i: body(lp, i + 1))
    loop.absorb(warm)
    loop.add_check(gen_problems)
    layers = (
        _extract_layers(bench, pages, pages_path, loop, last, op, check)
        if bench.tracer.enabled
        else {}
    )
    res = _finish(bench, setup_s, loop, N_PAGES)
    res.per_layer.update(layers)
    return res


def _extract_layers(bench, pages, pages_path, loop, last, op, check) -> dict:
    from docling_japanese_books_spark.extraction.charset import sniff_and_decode
    from docling_japanese_books_spark.extraction.html import (
        extract_main_content,
        extract_pages,
    )
    from pyspark.sql import functions as F

    spark = bench.spark
    tr = bench.tracer
    df = spark.read.parquet(str(pages_path))
    with tr.span("sources.scan"):
        scan_s = _timed(lambda: _noop(df.select("url", "html")))

    sample = random.Random(0).sample(pages.table.column("html").to_pylist(), 300)

    def charset():
        for h in sample:
            try:
                sniff_and_decode(h)
            except UnicodeDecodeError:
                pass

    with tr.span("extraction.charset.kernel"):
        charset_us = _timed(charset) / len(sample) * 1e6
    with tr.span("extraction.html.kernel"):
        kernel_us = _timed(lambda: [extract_main_content(h) for h in sample]) / len(sample) * 1e6

    rows: list = []

    def job():
        ex = extract_pages(spark.read.parquet(str(pages_path)))
        rows[:] = (
            ex.groupBy(F.col("extracted.status").alias("status"))
            .agg(
                F.count("*").alias("n"),
                F.sum("extracted.blocks_kept").alias("kept"),
                F.sum("extracted.blocks_dropped").alias("dropped"),
                F.sum(F.when(F.col("extracted.text") == F.col("text"), 0).otherwise(1)).alias("bad"),
            )
            .collect()
        )

    bench.reset()
    with tr.span("extraction.html.job"):
        job_s = _timed(job)
    by = {r.status: r for r in rows}
    n = lambda st: float(by[st].n) if st in by else 0.0  # noqa: E731
    run_s = median(tr.durations("pipeline.driver.run") or [0.0])
    resume_s = median(tr.durations("pipeline.driver.resume") or [0.0])
    wave_ms = last.get("wave_ms") or [0]

    # taken before the scaling ops, whose checks update ``last``
    out = {
        "sources.scan_s": scan_s,
        "extraction.charset.us_per_page": charset_us,
        "extraction.html.kernel_us_per_page": kernel_us,
        "extraction.html.job_s": job_s,
        "extraction.html.boundary_s": job_s - scan_s - kernel_us * N_PAGES / 1e6 / CORES,
        "extraction.html.pages_ok": n("ok"),
        "extraction.html.pages_decode_error": n("decode_error"),
        "extraction.html.pages_no_content": n("no_content"),
        "extraction.html.pages_parse_error": n("parse_error"),
        "extraction.html.blocks_kept": float(sum(r.kept for r in rows)),
        "extraction.html.blocks_dropped": float(sum(r.dropped for r in rows)),
        "extraction.html.text_mismatches": float(sum(r.bad for r in rows)),
        "pipeline.driver.run_s": run_s,
        "pipeline.driver.resume_s": resume_s,
        "pipeline.driver.overhead_s": run_s + resume_s - job_s,
        "pipeline.driver.wave_ms_p50": median(wave_ms),
        "pipeline.driver.wave_ms_max": float(max(wave_ms)),
        "pipeline.driver.manifest_read_s": last.get("manifest_read_s", 0.0),
        "pipeline.driver.bytes_written_per_input_byte": last.get("bytes_ratio", 0.0),
        "pipeline.driver.files_written": float(last.get("files", 0)),
        "pipeline.driver.buckets_skipped_on_resume": float(last.get("skipped", 0)),
    }

    # scaling: the same op pinned to 1 CPU and to CORES CPUs, alternating
    # which side runs first, two pairs
    big, small = set(bench.cpus[:CORES]), {bench.cpus[0]}
    sides = {"big": [], "small": []}
    try:
        for k in range(2):
            for side in (("big", "small") if k % 2 == 0 else ("small", "big")):
                pin(big if side == "big" else small)
                lp = Loop()
                _run_op(bench, lp, f"scale-{side}{k}", lambda: op(100 + k), check)
                sides[side].extend(lp.walls)
                loop.absorb(lp)
    finally:
        pin(set(bench.cpus))
    out["scaling_efficiency"] = (
        scaling_efficiency(N_PAGES / median(sides["big"]), N_PAGES / median(sides["small"]), CORES)
        if sides["big"] and sides["small"]
        else 0.0
    )
    return out


# ---------------------------------------------------------------------------
# curate + chunk probe (run by the traced headline_queries run)
# ---------------------------------------------------------------------------


def _curate_probe(bench: Bench, seed: int, loop: Loop) -> dict:
    """The curate path over a seeded text table: ``curate_corpus`` with its
    defaults, then the simple chunker over the survivors into a noop sink.
    One warm-up op and one measured op, each checked (attempts and failures
    land in ``loop``), then the per-layer probes of normalize, textstats,
    dedup and chunking."""
    from docling_japanese_books_spark.operators.chunking import (
        chunk_documents,
        simple_sentence_chunker,
    )
    from docling_japanese_books_spark.operators.dedup import (
        minhash_lsh_candidates,
        minhash_signature_udf,
    )
    from docling_japanese_books_spark.operators.normalize import normalize_cjk
    from docling_japanese_books_spark.operators.textstats import lang_id, quality_score
    from docling_japanese_books_spark.pipeline.curate import curate_corpus
    from pyspark.sql import functions as F

    spark = bench.spark
    tr = bench.tracer
    texts_path = bench.fresh_dir("texts")
    with tr.span("bench.inputs"):
        texts = gen.make_texts(seed, N_TEXTS)
        gen.write_parquet(texts.table, str(texts_path), n_files=8)
    state: dict = {}

    def op():
        df = spark.read.parquet(str(texts_path))
        with tr.span("pipeline.curate.curate"):
            curated, report = curate_corpus(df)
        with tr.span("operators.chunking.job"):
            _noop(chunk_documents(curated, id_col="url", method="simple"))
        return curated, report

    def check(res) -> List[str]:
        curated, rep = res
        problems = []
        if rep.rows_in != N_TEXTS:
            problems.append(f"rows_in {rep.rows_in} != {N_TEXTS}")
        if rep.rows_quality_pass != N_TEXTS - len(texts.short):
            problems.append(
                f"quality gate kept {rep.rows_quality_pass}, expected "
                f"{N_TEXTS - len(texts.short)}"
            )
        if rep.rows_after_exact_dedup != rep.rows_quality_pass - len(texts.exact_copies):
            problems.append(
                f"exact dedup removed {rep.rows_quality_pass - rep.rows_after_exact_dedup}, "
                f"planted {len(texts.exact_copies)}"
            )
        survivors = sorted(r.url for r in curated.select("url").collect())
        if texts.exact_copies & set(survivors):
            problems.append("a planted exact copy survived")
        if state.setdefault("survivors", survivors) != survivors:
            problems.append("survivor set differs from the first op's")
        problems += check_chunks(curated, survivors)
        state["report"] = rep
        state["chunks_out"] = chunk_documents(curated, id_col="url").count()
        return problems

    def check_chunks(curated, survivors) -> List[str]:
        sample = random.Random(seed).sample(survivors, min(40, len(survivors)))
        sub = curated.filter(F.col("url").isin(sample))
        got: dict = {}
        for r in chunk_documents(sub, id_col="url", method="simple").collect():
            got.setdefault(r.url, []).append((r.chunk_index, r.text, r.start, r.end))
        bad = 0
        for r in sub.select("url", "text").collect():
            chunks, spans = simple_sentence_chunker(r.text, 500)
            want = [(k, c, s, e) for k, (c, (s, e)) in enumerate(zip(chunks, spans))]
            if sorted(got.get(r.url, [])) != want:
                bad += 1
        return [f"{bad} sampled documents chunk differently in Spark"] if bad else []

    ops = Loop()
    for i in range(2):
        _run_op(bench, ops, f"curate{i}", op, check)
    loop.absorb(ops)
    if "report" not in state:
        return {}

    sample = random.Random(0).sample(texts.table.column("text").to_pylist(), 300)
    with tr.span("operators.normalize.kernel"):
        norm_us = _timed(lambda: [normalize_cjk(t) for t in sample]) / len(sample) * 1e6
    normalized = [normalize_cjk(t) for t in sample]
    with tr.span("operators.chunking.kernel"):
        chunk_us = (
            _timed(lambda: [simple_sentence_chunker(t, 500) for t in normalized])
            / len(sample) * 1e6
        )
    df = spark.read.parquet(str(texts_path))
    bench.reset()
    with tr.span("operators.textstats.score"):
        score_s = _timed(
            lambda: _noop(df.select("url", lang_id(F.col("text")), quality_score(F.col("text"))))
        )
    with tr.span("operators.dedup.signature"):
        sig_s = _timed(
            lambda: _noop(df.select("url", minhash_signature_udf()(F.col("text")).alias("sig"))),
            reps=2,
        )
    counts, walls = {}, {}
    for th in (0.0, 0.85):
        bench.reset()
        t0 = time.perf_counter()
        with tr.span("operators.dedup.lsh"):
            counts[th] = minhash_lsh_candidates(df, id_col="url", threshold=th).count()
        walls[th] = time.perf_counter() - t0
    bench.reset()
    planted = len(texts.exact_copies) + len(texts.near_pairs)
    loop.add_check(
        [f"{counts[0.0]} LSH candidate pairs for {planted} planted pairs"]
        if counts[0.0] > 4 * planted
        else []
    )
    rep = state["report"]
    return {
        "operators.normalize.us_per_doc": norm_us,
        "operators.textstats.score_s": score_s,
        "operators.dedup.signature_s": sig_s,
        "operators.dedup.lsh_s": walls[0.85] - sig_s,
        "operators.dedup.candidate_pairs": float(counts[0.0]),
        "operators.dedup.near_dup_pairs": float(counts[0.85]),
        "operators.dedup.verify_yield": counts[0.85] / max(counts[0.0], 1),
        # the second (warm) op's spans; ops.left[1] is what the first op left
        "pipeline.curate.curate_s": tr.durations("pipeline.curate.curate")[-1],
        "pipeline.curate.rows_quality_pass": float(rep.rows_quality_pass),
        "pipeline.curate.rows_after_exact_dedup": float(rep.rows_after_exact_dedup),
        "pipeline.curate.rows_after_near_dedup": float(rep.rows_after_near_dedup),
        "pipeline.curate.cached_relations_left": float(ops.left[1]),
        "operators.chunking.us_per_doc": chunk_us,
        "operators.chunking.job_s": tr.durations("operators.chunking.job")[-1],
        "operators.chunking.chunks_out": float(state["chunks_out"]),
    }


# ---------------------------------------------------------------------------
# headline_queries
# ---------------------------------------------------------------------------


def _value_hash(rows: list, cols: list) -> str:
    """Order-insensitive hash: columns sorted by name, floats at 6 dp."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def cell(v):
        if isinstance(v, float):
            return f"{v:.6f}".rstrip("0").rstrip(".")
        if isinstance(v, bool):
            return str(int(v))
        if isinstance(v, (list, tuple)):
            return "[" + ",".join(cell(x) for x in v) + "]"
        return str(v)

    rendered = sorted("|".join(cell(r[i]) for i in order) for r in rows)
    return hashlib.sha256("\n".join(rendered).encode()).hexdigest()[:16]


class _Oracle:
    """DuckDB over the same parquet files: compares a query's rows by row
    count and order-insensitive value hash (a rows-only query must return
    rows)."""

    def __init__(self, registry, sf: Path, tables):
        import duckdb

        self.registry = registry
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        for name in tables:
            self.con.execute(
                f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{sf}/{name}.parquet')"
            )

    def check(self, q: str, cols: list, got: list) -> List[str]:
        sql = self.registry[q].oracle
        if sql is None:
            return [] if got else [f"{q}: no rows"]
        res = self.con.execute(sql)
        want = res.fetchall()
        if len(got) != len(want):
            return [f"{q}: {len(got)} rows, oracle {len(want)}"]
        if _value_hash(got, cols) != _value_hash(want, [d[0] for d in res.description]):
            return [f"{q}: value hash differs from the oracle"]
        return []

    def close(self) -> None:
        self.con.close()


def headline_queries(bench: Bench, seed: int, seconds: float) -> Result:
    from docling_japanese_books_spark.queries import REGISTRY

    t_setup = bench.start_session()
    spark = bench.spark
    sf = bench.work / "sf"

    def make():
        bench.fresh_dir("sf").mkdir(parents=True)
        rows = gen.make_tables(seed, str(sf))
        digest = hashlib.sha256(
            b"".join((sf / f"{t}.parquet").read_bytes() for t in sorted(rows))
        ).hexdigest()
        return rows, digest

    with bench.tracer.span("bench.inputs"):
        rows_in, gen_s, gen_problems = _setup_inputs(make)
    order = list(HEADLINE)
    random.Random(seed).shuffle(order)

    def op(q: str):
        with bench.tracer.span(f"queries.{q}.op"):
            _noop(REGISTRY[q].fn(spark, str(sf)))

    def collect(q: str):
        df = REGISTRY[q].fn(spark, str(sf))
        return df.columns, [tuple(r) for r in df.collect()]

    def cycle(loop: Loop, _i: int) -> None:
        for q in order:
            _run_op(bench, loop, q, lambda: op(q), lambda _r: [])

    # the warm-up cycle collects every query's rows and checks them against
    # DuckDB (outside the timing); the measured cycles write to noop
    oracle = _Oracle(REGISTRY, sf, rows_in)
    try:
        with bench.tracer.span("bench.warmup"):
            warm = Loop()
            for q in order:
                _run_op(bench, warm, q, lambda: collect(q), lambda res: oracle.check(q, *res))
    finally:
        oracle.close()
    setup_s = t_setup + gen_s + sum(warm.walls)

    loop = _window(bench, seconds, cycle)
    loop.absorb(warm)
    loop.add_check(gen_problems)
    per_q = {q: [w for n, w in zip(loop.names, loop.walls) if n == q] for q in HEADLINE}
    headline_s = sum(median(v) for v in per_q.values() if v)
    docs = float(sum(rows_in[t] for q in HEADLINE for t in HEADLINE_TABLES[q]))
    layers = {}
    if bench.tracer.enabled:
        layers.update(_headline_layers(bench, REGISTRY, sf, loop, headline_s))
        layers.update(_curate_probe(bench, seed, loop))
    # the rate is rows of every scanned table over the sum of per-query
    # medians (one op is one query, the input is the whole cycle)
    res = _finish(bench, setup_s, loop, docs, rate_wall_s=headline_s)
    res.extra["headline_s"] = headline_s
    res.per_layer.update(layers)
    return res


def _headline_layers(bench, registry, sf: Path, loop: Loop, headline_s: float) -> dict:
    tr = bench.tracer
    out = {}
    for q in HEADLINE:
        plans, execs = [], []
        for _ in range(2):
            bench.reset()
            t0 = time.perf_counter()
            with tr.span(f"queries.{q}.plan"):
                df = registry[q].fn(bench.spark, str(sf))
                df._jdf.queryExecution().executedPlan()
            t1 = time.perf_counter()
            with tr.span(f"queries.{q}.exec"):
                _noop(df)
            plans.append(t1 - t0)
            execs.append(time.perf_counter() - t1)
        out[f"queries.{q}.plan_s"] = median(plans)
        out[f"queries.{q}.exec_s"] = median(execs)
    bench.reset()
    cycles = max(1, len(loop.left) // len(HEADLINE))
    out["queries.cached_relations_left"] = sum(loop.left) / cycles
    t = tail(loop.walls)
    out["headline_s"] = headline_s
    out["op_s_tail"] = t.value if t else 0.0
    return out


WORKLOADS = {
    "extract_resume": extract_resume,
    "headline_queries": headline_queries,
}
