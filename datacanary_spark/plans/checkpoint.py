"""Checkpointed, resumable filter job.

Resumability model (north rule: "resumable from snapshot checkpoints"):

* The unit of work is a CHUNK — a stable slice of the input. For
  file-based input (parquet dirs, this sandbox) a chunk is a
  deterministic group of input files (sorted, round-robin), so resuming
  never rescans completed chunks (each chunk's scan reads only its own
  files — no wasted IO at any scale). For an Iceberg catalog table the
  same runner slots over snapshot ids: each chunk = one incremental
  append scan (``option("start-snapshot-id", …)``); the sandbox has no
  Iceberg runtime jar, so that path is config-gated (io.py).
* A chunk commits by atomically writing ``_done_<chunk>.json`` (rename)
  into the checkpoint dir AFTER its output and lineage rows land.
  Restarts skip committed chunks — exactly-once output per chunk under
  the parquet dir layout ``out/chunk=<k>/``.
* Lineage rows (partition_id, counts, rule-hit histogram) append per
  chunk into ``metrics/`` — the metrics table required by the contract.

This generalizes the reference's "report file per run" sink
(/root/reference/src/datacanary/reporting/report_generator.py:162-181)
into an append-only, restartable metrics/lineage store.
"""

from __future__ import annotations

import glob
import json
import os
import time

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from datacanary_spark.functions.heuristics import FilterConfig
from datacanary_spark.plans.lineage import partition_lineage
from datacanary_spark.plans.pipeline import broadcast_models, filter_pages


from datacanary_spark.sources.io import JSONL_PATTERNS as _io_jsonl_patterns  # noqa: E501

_FORMAT_GLOBS = {
    "parquet": ("*.parquet",),
    # raw crawls and their text-extracted twins; .gz variants are the
    # Common-Crawl publication format (multi-member gzip, one per record)
    "warc": ("*.warc", "*.warc.gz"),
    "wet": ("*.wet", "*.wet.gz", "*.warc.wet.gz"),
    # published-corpus dumps — single-sourced with the streaming /
    # directory readers (sources/io.JSONL_GLOB) so no path reads files
    # another excludes
    "jsonl": _io_jsonl_patterns,
}


def _chunk_files(input_path: str, n_chunks: int,
                 input_format: str = "parquet") -> list[list[str]]:
    try:
        patterns = _FORMAT_GLOBS[input_format]
    except KeyError:
        raise ValueError(f"unknown input_format {input_format!r} "
                         f"(expected one of {sorted(_FORMAT_GLOBS)})")
    files = sorted({f for p in patterns
                    for f in glob.glob(os.path.join(input_path, p))})
    if not files:
        raise FileNotFoundError(
            f"no {input_format} files under {input_path}")
    n_chunks = min(n_chunks, len(files))
    return [files[i::n_chunks] for i in range(n_chunks)]


def _done_path(ckpt_dir: str, chunk: int) -> str:
    return os.path.join(ckpt_dir, f"_done_{chunk:05d}.json")


def _mark_done(ckpt_dir: str, chunk: int, payload: dict) -> None:
    tmp = _done_path(ckpt_dir, chunk) + ".tmp"
    with open(tmp, "w") as f:
        json.dump(payload, f)
    os.replace(tmp, _done_path(ckpt_dir, chunk))  # atomic commit


def run_filter_job(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    cfg: FilterConfig | None = None,
    n_chunks: int = 4,
    repartition_buckets: int | None = None,
    extract_from_html: bool = False,
    models=None,
    input_format: str = "parquet",
    extractor: str = "wrapper",
    structure_rules: bool = False,
    http_ok_only: bool = True,
) -> dict:
    """Run (or resume) the filter job. Returns a run summary dict.

    ``input_format``: ``parquet`` (pages tables), ``warc`` (raw crawl —
    response records' HTTP bodies land in ``html``; pass
    ``extract_from_html=True`` with ``extractor="real"``), or ``wet``
    (pre-extracted text in ``conversion`` records). WARC/WET chunks
    read via ``pages_from_warc``; checkpoint/resume semantics are
    format-independent (chunks are file lists either way).
    ``http_ok_only`` (warc/wet only): drop records whose HTTP status is
    present and not 2xx before filtering — a crawl's 404/500 bodies are
    not corpus pages (NULL-status records are kept).
    """
    cfg = cfg or FilterConfig()
    if input_format == "warc" and not extract_from_html:
        # WARC response bodies land in the html column and text stays
        # NULL, so every row would filter-drop — reject before parsing
        # a single container rather than burning a full crawl pass to
        # write an empty corpus
        raise ValueError(
            "input_format='warc' puts response bodies in the html "
            "column; pass extract_from_html=True (extractor='real' for "
            "actual crawl pages) or use input_format='wet' for "
            "pre-extracted text")
    ckpt_dir = os.path.join(output_path, "_checkpoint")
    metrics_dir = os.path.join(output_path, "metrics")
    data_dir = os.path.join(output_path, "data")
    os.makedirs(ckpt_dir, exist_ok=True)

    # The bucket count is part of the lineage KEY SPACE: partition_lineage
    # keys on the materialized url-hash bucket, whose modulus is this
    # number. Deriving it from defaultParallelism would silently change
    # the modulus when a crashed run resumes on a differently-sized
    # cluster, mixing incompatible bucket spaces in one metrics table —
    # so the first run records its choice and every resume reuses it.
    meta_path = os.path.join(ckpt_dir, "job_meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            meta = json.load(f)
        recorded_buckets = meta["repartition_buckets"]
        if repartition_buckets is None:
            repartition_buckets = recorded_buckets
        elif repartition_buckets != recorded_buckets:
            raise RuntimeError(
                f"repartition_buckets={repartition_buckets} conflicts with "
                f"the value this job started with ({recorded_buckets}); "
                f"the lineage bucket key space must stay stable across "
                f"resumes. Omit the argument to reuse the recorded value, "
                f"or start a fresh output dir.")
        # pre-input_format metas (older runs) recorded parquet implicitly
        recorded_format = meta.get("input_format", "parquet")
        if input_format != recorded_format:
            raise RuntimeError(
                f"input_format={input_format!r} conflicts with the format "
                f"this job started with ({recorded_format!r}); the chunk "
                f"file assignment is format-dependent. Resume with the "
                f"original format or start a fresh output dir.")
        # Filter SEMANTICS must also survive resume: chunks written with
        # a different extractor / rule set / status policy would mix
        # incompatible verdicts in one output — same inconsistency class
        # the bucket/format guards exist for. Older metas predate these
        # keys; their runs used the recorded defaults.
        semantics = {"extract_from_html": (extract_from_html, False),
                     "extractor": (extractor, "wrapper"),
                     "structure_rules": (structure_rules, False),
                     "http_ok_only": (http_ok_only, True)}
        for key, (current, default) in semantics.items():
            recorded = meta.get(key, default)
            if current != recorded:
                raise RuntimeError(
                    f"{key}={current!r} conflicts with the value this job "
                    f"started with ({recorded!r}); resumed chunks would be "
                    f"filtered under different semantics than the committed "
                    f"ones. Resume with the original settings or start a "
                    f"fresh output dir.")
    else:
        if repartition_buckets is None:
            repartition_buckets = max(spark.sparkContext.defaultParallelism, 4)
        with open(meta_path, "w") as f:
            json.dump({"repartition_buckets": repartition_buckets,
                       "input_format": input_format,
                       "extract_from_html": extract_from_html,
                       "extractor": extractor,
                       "structure_rules": structure_rules,
                       "http_ok_only": http_ok_only}, f)

    chunks = _chunk_files(input_path, n_chunks, input_format)

    summary = {"chunks_total": len(chunks), "chunks_skipped": 0,
               "chunks_run": 0, "docs": 0, "kept": 0, "wall_sec": 0.0}
    t0 = time.time()

    # Layout guard: metrics moved from flat append (chunk as a data
    # column) to chunk=k partition dirs (dynamic overwrite). Resuming a
    # pre-migration run would mix both layouts in one dir — partition
    # discovery then fails or misreads, and replayed chunks could not
    # overwrite their old flat rows. Refuse up front with a clear path.
    if os.path.isdir(metrics_dir) and any(
            f.endswith(".parquet") and not f.startswith("_")
            for f in os.listdir(metrics_dir)):
        raise RuntimeError(
            f"metrics dir {metrics_dir} uses the old flat layout (parquet "
            f"files at the top level, no chunk=N partitions). Resuming "
            f"across the layout change would mix layouts; start a fresh "
            f"output dir, or move the old metrics files aside first.")

    # Resume safety: a _done marker only proves that SOME chunk k was
    # committed — if the input file set or n_chunks changed since, the
    # round-robin assignment differs and skipping by index would silently
    # drop or double-process files. Validate every existing marker
    # against the current assignment before trusting any of them.
    for k, files in enumerate(chunks):
        mp = _done_path(ckpt_dir, k)
        if os.path.exists(mp):
            with open(mp) as f:
                recorded = json.load(f).get("files", [])
            if recorded != files:
                raise RuntimeError(
                    f"checkpoint mismatch for chunk {k}: the input file "
                    f"set or n_chunks changed since the markers were "
                    f"written (recorded {len(recorded)} files, current "
                    f"assignment {len(files)}). Resume with the original "
                    f"input + n_chunks, or start a fresh output dir.")

    models_bc = broadcast_models(spark, models)
    try:
        for k, files in enumerate(chunks):
            if os.path.exists(_done_path(ckpt_dir, k)):
                summary["chunks_skipped"] += 1
                continue
            if input_format == "parquet":
                df = spark.read.parquet(*files)
            elif input_format == "jsonl":
                from datacanary_spark.sources.io import read_pages_jsonl

                df = read_pages_jsonl(spark, files)
            else:
                from datacanary_spark.plans.pipeline import pages_from_warc

                kinds = ("conversion",) if input_format == "wet" \
                    else ("response",)
                df = pages_from_warc(spark, files, record_types=kinds,
                                     ok_only=http_ok_only)
            verdicts = filter_pages(df, models_bc, cfg,
                                    extract_from_html=extract_from_html,
                                    repartition_buckets=repartition_buckets,
                                    extractor=extractor,
                                    structure_rules=structure_rules)
            chunk_out = os.path.join(data_dir, f"chunk={k}")
            verdicts.write.mode("overwrite").parquet(chunk_out)

            # lineage from the written output (no recompute of the pipeline);
            # keyed by the materialized url-hash bucket column, stable across
            # the re-read. Written as a dynamic overwrite of the chunk=k
            # partition: a crash between this write and the _done marker
            # replays the chunk on resume, and the overwrite absorbs the
            # replay instead of appending duplicate metrics rows.
            written = spark.read.parquet(chunk_out)
            lin = partition_lineage(written, cfg,
                                    structure_rules=structure_rules) \
                .withColumn("chunk", F.lit(k))
            (lin.write.mode("overwrite")
             .option("partitionOverwriteMode", "dynamic")
             .partitionBy("chunk").parquet(metrics_dir))
            # Chunk totals from the just-written lineage rows (one tiny row
            # per bucket) — NOT a second full scan of the chunk data, which
            # would double per-chunk read I/O at scale for numbers the
            # lineage aggregate already computed.
            chunk_metrics = os.path.join(metrics_dir, f"chunk={k}")
            if os.path.isdir(chunk_metrics):
                counts = (spark.read.parquet(chunk_metrics)
                          .agg(F.sum("input_count").alias("n"),
                               F.sum("keep_count").alias("kept")).collect()[0])
            else:  # empty chunk: dynamic overwrite wrote no partition dir
                counts = {"n": 0, "kept": 0}

            _mark_done(ckpt_dir, k, {"chunk": k, "files": files,
                                     "docs": int(counts["n"] or 0),
                                     "kept": int(counts["kept"] or 0)})
            summary["chunks_run"] += 1
    finally:
        # the model bundle is a multi-MB broadcast per call; release it
        # once the last chunk is written
        models_bc.destroy()

    # totals from checkpoint markers (covers resumed runs too)
    for k in range(len(chunks)):
        with open(_done_path(ckpt_dir, k)) as f:
            d = json.load(f)
        summary["docs"] += d["docs"]
        summary["kept"] += d["kept"]
    summary["wall_sec"] = round(time.time() - t0, 3)
    return summary
