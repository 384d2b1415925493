"""The web-text quality-filter pipeline (the north-rule core).

Stage layout (all lazily planned; ONE action executes everything):

    scan (parquet/iceberg, column-pruned)
      → [optional] extract html→text            (pandas UDF, Arrow)
      → heuristic text stats + rule hits        (pure Columns, codegen)
      → language-ID + perplexity                (pandas UDFs, broadcast models)
      → PII/toxicity scrub                      (pandas UDF, Python `re`)
      → verdict: keep + rule_hits map
      → explicit repartition by url-hash        (the only shuffle)

Scale reasoning:
* The only shuffle is the final url-hash repartition (write layout +
  lineage bucketing); everything upstream is narrow and pipelines with
  the scan in one stage.
* Heuristics run BEFORE the model UDFs so Catalyst keeps them in the
  scan stage's codegen span, and Spark fuses the three UDFs (langid,
  perplexity, scrub) into ONE ArrowEvalPython boundary — but only while
  no predicate is pushed into this plan. A consumer's ``where(keep)``
  is pushed down past the ``keep`` projection: the stats get inlined
  into a non-codegen Filter and the UDFs split over two boundaries
  (langid evaluated twice). Consumers that filter on the verdict put a
  ``DataFrame.observe`` between it and the filter — Catalyst does not
  push predicates through ``CollectMetrics`` — as
  ``plans.curate.curate_front`` does.
* Models are broadcast once (a few MB) and cached per worker process
  (functions/udfs.py) — zero per-batch deserialization.
* Skewed hosts don't matter here (no per-host shuffle in the verdict
  path); host-level metrics use the salted two-stage aggregation in
  lineage.py.

Conceptual lineage to the reference: this is ``RuleEngine.evaluate_*``
(/root/reference/src/datacanary/rules/rule_engine.py:338-402) re-aimed at
rows instead of column profiles — each rule contributes a named hit, a
doc's verdict is the conjunction, and evaluation errors are contained
per rule (null-safe hit exprs mark a rule failed rather than aborting,
mirroring rule_engine.py:368-378).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from datacanary_spark.functions.heuristics import (
    FilterConfig,
    heuristic_hit_exprs,
    stat_cols,
    with_text_stats,
)
from datacanary_spark.functions.udfs import (
    make_extract_udf,
    make_langid_udf,
    make_ppl_udf,
    make_scrub_udf,
)
from datacanary_spark.schema import VERDICT_FIELDS

# column list derives from the declared contract (schema.VERDICT_FIELDS)
# so the two can never drift
VERDICT_COLUMNS = [f.name for f in VERDICT_FIELDS]


def pages_from_warc(spark, paths, record_types=("conversion", "response"),
                    ok_only: bool = False):
    """Read WARC/WET files into the pages contract schema.

    One row per kept record: ``url`` from WARC-Target-URI, ``warc_ts``
    parsed from WARC-Date (NULL when absent/malformed — try-cast, never
    an ANSI throw mid-crawl), WET ``conversion`` records land in
    ``text`` (their block is already extracted UTF-8), WARC ``response``
    records land in ``html`` (raw body bytes; pair with
    ``extract_from_html=True``). ``lang`` is NULL — language-ID is the
    pipeline's job, not the container's. ``http_status`` and
    ``content_type`` pass through (extra columns are harmless to
    ``filter_pages``, which projects its own output) so downstream
    stages can still see the fetch outcome.

    ``ok_only=True`` drops records whose HTTP status is present and not
    2xx — real crawls contain 404/500 response bodies that would
    otherwise be ingested as ordinary pages. Rows with NULL status (WET
    conversions, non-HTTP blocks) are kept: absence of an envelope is
    not evidence of an error.

    Parallelism is per-file (Common-Crawl granularity: ~1 GiB gzipped
    segments, tens of thousands per crawl), so a 1000-executor cluster
    saturates on file count; the record fan-out happens executor-side
    in ``parse_warc_records``'s Arrow-batched mapInPandas.
    """
    from datacanary_spark.sources.warc import parse_warc_records

    files = spark.read.format("binaryFile").load(paths)
    recs = parse_warc_records(files, warc_types=tuple(record_types))
    is_conv = F.col("warc_type") == "conversion"
    out = recs.select(
        F.col("target_uri").alias("url"),
        F.try_to_timestamp(F.col("warc_date")).alias("warc_ts"),
        F.when(~is_conv, F.col("payload")).alias("html"),
        F.when(is_conv, F.decode(F.col("payload"), "utf-8")).alias("text"),
        F.lit(None).cast("string").alias("lang"),
        "http_status",
        "content_type",
    )
    if ok_only:
        s = F.col("http_status")
        out = out.where(s.isNull() | ((s >= 200) & (s < 300)))
    return out


def broadcast_models(spark, models=None):
    """Broadcast the (default) QualityModels bundle once per job."""
    from datacanary_spark.functions.models import build_default_models

    models = models or build_default_models()
    return spark.sparkContext.broadcast(models.to_bytes())


def filter_pages(
    df: DataFrame,
    models_bc,
    cfg: FilterConfig | None = None,
    text_col: str = "text",
    extract_from_html: bool = False,
    repartition_buckets: int | None = None,
    keep_stats: bool = False,
    extractor: str = "wrapper",
    structure_rules: bool = False,
) -> DataFrame:
    """Attach per-document verdicts to a pages DataFrame.

    Returns columns: url, warc_ts, lang, keep, rule_hits map, lang_pred,
    lang_conf, ppl, scrubbed_text, scrub_count (+ stat_* if keep_stats).

    ``extractor`` picks the html→text UDF when ``extract_from_html``:
    ``"wrapper"`` (udfs.make_extract_udf — the fixture's byte-identity
    twin) or ``"real"`` (htmltext.make_html_to_text_udf — full tag/
    entity extraction for raw crawl pages). Rows whose ``html`` is NULL
    (e.g. WET conversion records that arrive as text) keep their
    existing ``text_col`` via coalesce.

    ``structure_rules`` (opt-in; requires an ``html`` column) adds two
    page-STRUCTURE rules from the raw crawl bytes to the verdict:
    ``noindex`` (a robots meta asked to stay out of indexes) and
    ``link_density`` (anchor chars / visible chars >
    ``cfg.max_link_density`` — link farm). Both are pure Column
    expressions (operators/html_signals.py) riding the scan stage's
    codegen span — no new Python boundary, no shuffle. NULL html or
    no-visible-text density is exempt (hit 0): text-only rows are the
    text rules' job, and the default-off flag keeps the golden
    rule_hits map byte-identical for text corpora.
    """
    cfg = cfg or FilterConfig()

    # nullable passthrough contract columns (a raw (url, html) crawl
    # frame has no warc_ts/lang yet) materialize as typed NULLs so the
    # verdict schema is identical regardless of what the source carried
    for name, dtype in (("warc_ts", "timestamp"), ("lang", "string")):
        if name not in df.columns:
            df = df.withColumn(name, F.lit(None).cast(dtype))

    # Partition hygiene: a single-row-group parquet scans as ONE split,
    # which would serialize every UDF stage below onto one core (the
    # same failure class fixed for dedup/DSIR in plans/partitioning.py).
    # At real scale (thousands of splits) this is a no-op; at small
    # scale it is one narrow round-robin exchange that unlocks every
    # core. Streaming micro-batches go through foreachBatch (batch
    # frames), so the isStreaming guard only skips true streaming plans
    # where .rdd is unavailable.
    if not df.isStreaming:
        from datacanary_spark.plans.partitioning import spread_to_parallelism

        df = spread_to_parallelism(df)

    structure_hits = {}
    if structure_rules:
        if "html" not in df.columns:
            raise ValueError(
                "structure_rules=True requires an 'html' column "
                f"(got {df.columns})")
        from datacanary_spark.operators.html_signals import (
            has_noindex_expr,
            link_density_expr,
        )
        h = F.col("html")
        known = {
            "noindex": lambda: has_noindex_expr(h).cast("int"),
            "link_density": lambda: F.coalesce(
                (link_density_expr(h) > cfg.max_link_density).cast("int"),
                F.lit(0)),
        }
        # cfg.structure_rule_names is authoritative (same contract as
        # rule_names for the text/model rules): order and selection of
        # the structure rules follow the config, not hard-coded keys
        for name in cfg.structure_rule_names:
            try:
                structure_hits[name] = known[name]()
            except KeyError:
                raise ValueError(
                    f"unknown structure rule {name!r} "
                    f"(expected one of {sorted(known)})") from None

    if extract_from_html:
        if extractor == "real":
            from datacanary_spark.functions.htmltext import (
                make_html_to_text_udf,
            )
            ex = make_html_to_text_udf()
        elif extractor == "wrapper":
            ex = make_extract_udf()
        else:
            raise ValueError(f"unknown extractor {extractor!r} "
                             f"(expected 'wrapper' or 'real')")
        if text_col in df.columns:
            df = df.withColumn(
                text_col, F.coalesce(ex(F.col("html")), F.col(text_col)))
        else:
            # raw (url, warc_ts, html) frames have no text column yet —
            # the extractor CREATES it rather than referencing a
            # nonexistent column in the coalesce
            df = df.withColumn(text_col, ex(F.col("html")))

    # stats attached via staged projects: words/lines/trigram arrays are
    # bound to columns once per row (not re-inlined per consumer) — this
    # is the difference between ~0.5 ms and ~150 ms of codegen per doc
    df = with_text_stats(df, text_col, prefix="stat_")
    stats = stat_cols("stat_")
    hits = heuristic_hit_exprs(cfg, stats)

    langid = make_langid_udf(models_bc)
    ppl_udf = make_ppl_udf(models_bc)
    scrub = make_scrub_udf()

    df = df.withColumn("_lid", langid(F.col(text_col)))
    df = df.withColumn("lang_pred", F.col("_lid.lang_pred"))
    df = df.withColumn("lang_conf", F.col("_lid.lang_conf")).drop("_lid")
    df = df.withColumn("ppl", ppl_udf(F.col(text_col)))

    hit_cols = dict(hits)
    hit_cols["perplexity"] = F.coalesce(
        (F.col("ppl") > cfg.max_ppl).cast("int"), F.lit(1))
    allowed = F.array(*[F.lit(l) for l in cfg.allowed_langs])
    hit_cols["langid"] = F.coalesce(
        (~(F.array_contains(allowed, F.col("lang_pred"))
           & (F.col("lang_conf") >= cfg.min_lang_conf))).cast("int"), F.lit(1))

    hit_cols.update(structure_hits)
    df = df.withColumns({f"hit_{k}": v for k, v in hit_cols.items()})

    rule_names = list(cfg.rule_names) + list(structure_hits)
    df = df.withColumn(
        "rule_hits",
        F.map_from_arrays(
            F.array(*[F.lit(n) for n in rule_names]),
            F.array(*[F.col(f"hit_{n}") for n in rule_names]),
        ),
    )
    total_hits = sum(F.col(f"hit_{n}") for n in rule_names)
    df = df.withColumn("keep", total_hits == 0)

    df = df.withColumn("_scrub", scrub(F.col(text_col)))
    df = df.withColumn("scrubbed_text", F.col("_scrub.scrubbed_text"))
    df = df.withColumn("scrub_count", F.col("_scrub.scrub_count")).drop("_scrub")

    out_cols = list(VERDICT_COLUMNS)
    if keep_stats:
        out_cols += [f"stat_{k}" for k in stats]  # already attached above
    df = df.select(*out_cols)

    if repartition_buckets:
        # Explicit url-hash shuffle: stable bucket layout for the sink,
        # independent of input file layout; AQE may coalesce small ones.
        # The bucket id is MATERIALIZED as a column so lineage rows key
        # on the content-stable bucket, not on spark_partition_id (which
        # changes with file packing when the output is re-read).
        df = df.withColumn("bucket", F.pmod(F.xxhash64("url"),
                                            F.lit(repartition_buckets)))
        df = df.repartition(repartition_buckets, F.col("bucket"))
    return df
