"""Physical-plan regression tests: the plan SHAPE is part of the
contract at 100 TB — a query that silently regresses to a cartesian
product, loses a pushed filter, or falls off whole-stage codegen is a
scale bug even when its sf0.01 values stay correct. These lock the
invariants SCALE.md documents.
"""

from __future__ import annotations

import pytest

SF = "/root/testdata/sf0.01"


def _executed(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


@pytest.fixture(scope="module")
def queries():
    from datacanary_spark import entry_queries as eq

    return eq.QUERIES


def test_tpch_q1_filter_pushed_to_scan(spark, queries):
    plan = _executed(queries["tpch_q1_pricing_summary"](spark, SF))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # column pruning: untouched wide columns never reach the scan
    assert "l_comment" not in plan and "l_shipinstruct" not in plan


def test_revenue_by_nation_broadcasts_dims(spark, queries):
    plan = _executed(queries["revenue_by_nation"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    # the region filter reaches its scan
    assert "EqualTo(r_name,ASIA)" in plan


def test_lsh_near_dup_is_bucketed_equijoin(spark, queries):
    """The use_lsh=True scale path must join on (table, bucket) — never
    an all-pairs product (that is exactly what LSH exists to avoid)."""
    plan = _executed(queries["embedding_near_dup_lsh_pairs"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_rollup_single_expand(spark, queries):
    """ROLLUP = one scan + Expand + one aggregation, not one job per
    granularity."""
    plan = _executed(queries["lineage_rollup_lang_source"](spark, SF))
    assert "Expand" in plan
    assert plan.count("Scan parquet") == 1


def test_salted_rollup_two_stage(spark, queries):
    """Salted host rollup: two Aggregate stages (partial by (host, salt),
    merge by host) — the skew-spreading shape."""
    plan = _optimized(queries["host_counts_salted"](spark, SF))
    assert plan.count("Aggregate") == 2
    assert "salt" in plan


def test_filter_pipeline_python_stages_fused(spark):
    """The model/scrub UDFs must run as Arrow-batched stages (never
    row-at-a-time BatchEvalPython) and stay fused — one Python boundary
    per UDF chain, pipelined with the scan (no shuffle upstream)."""
    from pyspark.sql import functions as F

    from datacanary_spark.plans.pipeline import broadcast_models, filter_pages

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    pages = docs.select(
        F.concat(F.lit("https://example.com/doc/"),
                 F.col("doc_id").cast("string")).alias("url"),
        F.lit("2024-01-01 00:00:00").cast("timestamp").alias("warc_ts"),
        F.lit(None).cast("binary").alias("html"),
        F.col("text"), F.col("lang"))
    plan = _executed(filter_pages(pages, broadcast_models(spark)))
    assert "BatchEvalPython" not in plan          # no per-row Python
    assert 1 <= plan.count("ArrowEvalPython") <= 3
    # No KEYED shuffle end to end — the only allowed exchange is the
    # single round-robin input spread (a no-op at real scale where the
    # scan already has thousands of splits).
    assert plan.count("Exchange") <= 1
    assert "hashpartitioning" not in plan.lower()


def test_line_dedup_first_occurrence_is_aggregate_not_window(spark, queries):
    """dedup_lines must select first occurrences with an aggregate
    (map-side partials absorb a hot boilerplate line) — a row_number
    window over the line key would funnel the hot key into one
    partition."""
    plan = _optimized(queries["c4_line_dedup"](spark, SF))
    assert "Window" not in plan
    assert "Aggregate" in plan


def test_winnow_overlap_is_equijoin(spark, queries):
    """The posting-list join must be an equi-join on the fingerprint —
    never an all-pairs product."""
    plan = _executed(queries["winnow_overlap_pairs"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_stratified_sample_is_narrow_and_jvm_side(spark):
    """Hash sampling is a pure filter: no shuffle, no Python boundary."""
    from datacanary_spark.operators import corpus_stats as cs

    d = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _executed(cs.hash_stratified_sample(
        d, "lang", {"en": 0.5, "de": 0.1}, "doc_id"))
    assert "Exchange" not in plan
    assert "EvalPython" not in plan


def test_top_terms_partial_aggregation(spark, queries):
    """The term count must be split partial/final around the exchange —
    a hot term ships one partial row per task, not one per occurrence."""
    plan = _executed(queries["top_terms_by_lang"](spark, SF))
    assert plan.count("HashAggregate") >= 2


def test_profile_single_scan(spark):
    """The whole multi-column profile is ONE scan + one aggregation."""
    from datacanary_spark.operators.profiler import profile_exprs

    d = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _executed(d.agg(*profile_exprs(d)))
    assert plan.count("Scan parquet") == 1


def test_partitioned_write_prunes_directories(spark, tmp_path):
    """A filter on the partition column must become PartitionFilters on
    the scan (whole directories pruned before any file opens) and must
    NOT appear in PushedFilters (it never reaches row groups)."""
    from pyspark.sql import functions as F

    from datacanary_spark.sources import io as sio

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    out = str(tmp_path / "by_lang")
    sio.write_table(docs, out, mode="overwrite", partition_by=["lang"])

    q = spark.read.parquet(out).where(F.col("lang") == "en") \
        .select("doc_id", "n_chars")
    plan = _executed(q)
    assert "PartitionFilters: [" in plan and "lang" in plan.split(
        "PartitionFilters:")[1].split("]")[0]
    pushed = plan.split("PushedFilters:")[1].split("]")[0]
    assert "lang" not in pushed
    # and the values survive the layout round-trip
    n = q.count()
    assert n == docs.where(F.col("lang") == "en").count() and n > 0


def test_no_complex_typed_output_columns_in_gated_queries(spark, queries):
    """Driver-gate shape fence (r05, VERDICT r04 §wrong.1): the driver's
    canonicalizer runs pandas ``sort_values`` over every result column
    and throws ``unhashable type`` on array/map-typed cells (struct
    decays to dict — also unhashable).  ``length_quantiles_by_lang`` was
    value-exact but driver-red in r04 for exactly this.  Fence the whole
    class: no registered query may return a complex-typed column."""
    from pyspark.sql import types as T

    sf = "/root/testdata/sf0.001"
    bad = []
    for name, fn in queries.items():
        try:
            schema = fn(spark, sf).schema
        except Exception as exc:  # noqa: BLE001 - name the offender
            bad.append((name, f"plan build failed: {exc}"))
            continue
        for f in schema.fields:
            if isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType)):
                bad.append((name, f"{f.name}: {f.dataType.simpleString()}"))
    assert not bad, f"complex-typed gate-incompatible output columns: {bad}"


def test_hof_kernels_bind_captured_subtrees(spark):
    """No higher-order-function kernel may capture loop-invariant work:
    a lambda body subtree that reads a column but no lambda variable is
    re-evaluated per array element (Spark leaves HOF subtrees out of
    subexpression elimination) — the O(n²) char_shingles bug."""
    from pyspark.sql import functions as F

    from datacanary_spark.functions.heuristics import ngrams_expr, words_expr
    from datacanary_spark.operators import bpe, unigram
    from datacanary_spark.operators import dedup as dd
    from datacanary_spark.operators import text_analysis as ta
    from datacanary_spark.plans.lambda_capture import lambda_captures

    df = spark.createDataFrame(
        [("Some  Text here", "a.b.example.com", "word")],
        "text: string, host: string, w: string")
    text = F.col("text")
    kernels = {
        "char_shingles": df.select(dd.char_shingles(text)),
        "minhash_signature": df.select(
            dd.minhash_signature(F.split(text, " "))),
        "minhash_sig_rows": dd.minhash_sig_rows(
            df.select(F.lit(1).alias("doc_id"), "text")),
        "simhash16": df.select(dd.simhash16(F.split(text, " "))),
        "winnow_fingerprints": df.select(ta.winnow_fingerprints(text)),
        "ngrams_expr": df.select(ngrams_expr(words_expr(text), 3)),
        "bpe._char_pairs": df.select(bpe._char_pairs("w")),
        "unigram substrings": unigram._substring_counts_from_wf(
            df.select("w", F.lit(1).alias("c")), 4),
        "domain_suffixes_expr": df.select(
            ta.domain_suffixes_expr(F.col("host"))),
    }
    found = {name: caps for name, k in kernels.items()
             if (caps := lambda_captures(k))}
    assert not found, f"lambda bodies capture unbound subtrees: {found}"


def _below_round_robin(plan: str) -> list[str]:
    """Plan lines in the subtree of any RoundRobinPartitioning exchange."""
    def depth(ln: str) -> int:
        return len(ln) - len(ln.lstrip(" :+-"))

    lines, out = plan.splitlines(), []
    for i, ln in enumerate(lines):
        if "RoundRobinPartitioning" in ln:
            for below in lines[i + 1:]:
                if depth(below) <= depth(ln):
                    break
                out.append(below)
    return out


def test_minhash_shingles_once_after_the_spread(spark, monkeypatch,
                                                tmp_path):
    """The shingle pass runs once per doc, after the round-robin spread
    on every core: no shingle expression (its regexp normalization)
    may be pushed below the exchange, where it would run a second time,
    on the input's single partition."""
    from datacanary_spark.operators.dedup import lsh_bucket_rows
    from datacanary_spark.plans.caching import CacheScope
    from datacanary_spark.plans.incremental import SignatureStore

    docs = spark.createDataFrame(
        [(i, f"doc {i} some shared text") for i in range(12)]
        + [(12, ""), (13, None)],
        "doc_id: long, text: string").coalesce(1)
    plans = [_executed(lsh_bucket_rows(docs))]

    persist = CacheScope.persist

    def record(scope, df, *args, **kw):
        plans.append(_executed(df))
        return persist(scope, df, *args, **kw)

    monkeypatch.setattr(CacheScope, "persist", record)
    # one shuffle partition: the exact survivors feeding the signature
    # pass land in fewer partitions than cores, so ingest must spread
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "1")
    try:
        store = SignatureStore.create(spark, str(tmp_path / "store"))
        assert store.ingest(docs, 0).count() > 0
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)

    spread = [p for p in plans if "RoundRobinPartitioning" in p]
    assert len(spread) >= 2, "lsh_bucket_rows and ingest must both spread"
    for p in spread:
        assert "regexp_replace" in p  # the shingle pass is in this plan
        below = [ln for ln in _below_round_robin(p)
                 if "regexp_replace" in ln or "lambdafunction" in ln]
        assert not below, "shingle work below the spread:\n" + \
            "\n".join(below)


def _physical_nodes(df):
    """Every node of ``df``'s physical plan (AQE's input plan)."""
    plan = df._jdf.queryExecution().executedPlan()
    stack = [plan.inputPlan() if plan.nodeName() == "AdaptiveSparkPlan"
             else plan]
    while stack:
        node = stack.pop()
        yield node
        kids = node.children()
        stack += [kids.apply(i) for i in range(kids.size())]


def test_curate_front_is_one_python_pass(spark):
    """Curate's kept frame crosses the Python boundary once: a single
    ArrowEvalPython evaluates langid, perplexity and scrub once each,
    and the keep filter stays above it instead of being pushed into
    the stat projects, where it rebuilt the word arrays (split(text))
    in a non-codegen Filter and split the UDFs over two boundaries."""
    from pyspark.sql import functions as F

    from datacanary_spark.plans.curate import curate_front
    from datacanary_spark.plans.pipeline import broadcast_models, filter_pages

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    pages = docs.select(
        F.concat(F.lit("https://example.com/doc/"),
                 F.col("doc_id").cast("string")).alias("url"),
        F.col("text"), F.col("lang"))
    bc = broadcast_models(spark)
    try:
        kept = curate_front(filter_pages(pages, bc), ["lang_pred"])
        plan = _executed(kept)
        nodes = list(_physical_nodes(kept))
    finally:
        bc.destroy()
    assert [n.nodeName() for n in nodes].count("ArrowEvalPython") == 1
    for udf in ("langid(", "perplexity(", "scrub("):
        assert plan.count(udf) == 1, (udf, plan)
    conditions = [n.condition().toString() for n in nodes
                  if n.nodeName() == "Filter"]
    assert conditions, "the keep filter is missing"
    assert not [c for c in conditions if "split(" in c], conditions
