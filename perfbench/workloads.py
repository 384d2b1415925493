"""The two workloads: seeded inputs, one closed-loop call, output
checks, and the per-layer probes of the traced run.

Each workload drives the engine through the public functions the CLI
calls (``run_curation_job``; ``SignatureStore.ingest``/``compact``;
the traced curate run also calls ``run_filter_job``). The engine only
ever sees the parquet files generated here from the seed.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import time

import numpy as np
import pandas as pd

from harness import median

# ---------------------------------------------------------------------------
# Sizes. 48 runs (4 plus 22 per workload) must fit in one hour on a
# 4-core host, each with three set-ups and enough warm calls for a steady
# median, so the inputs are smaller than a crawl drop but large enough
# that per-document work, not job scheduling, dominates a curate call.
# ---------------------------------------------------------------------------

CURATE_BASE = 4_500           # pages: ~1.5k chars, 5 langs, 5 hot hosts
CURATE_EXACT_SHARE = 0.10     # exact copies of base pages, new urls
CURATE_NEAR_SHARE = 0.10      # near copies (a few words changed), new urls
CURATE_FILES = 8
CURATE_HOST_CAP = 200
CURATE_MIX = {"en": 1.0, "fr": 0.5, "es": 0.5, "de": 0.5, "zh": 0.5}
GOLDEN_SAMPLE = 200           # base urls the traced filter job checks

INGEST_BATCHES = 4
INGEST_BATCH_DOCS = 40
INGEST_EXACT_SHARE = 0.15     # of batches 1.., copies of earlier docs
INGEST_NEAR_SHARE = 0.15
INGEST_MAX_CHARS = 4_000


def _write_parquet(pdf: pd.DataFrame, path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(os.path.dirname(path), exist_ok=True)
    # Spark cannot read TIMESTAMP(NANOS) parquet
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), path,
                   coerce_timestamps="us", allow_truncated_timestamps=True)


def _near_copy(text: str, rng: np.random.Generator) -> str:
    """Replace three words: shingle Jaccard stays far above 0.7."""
    words = text.split(" ")
    for pos in rng.integers(0, len(words), 3):
        words[int(pos)] = "zq" + "".join(
            "bcdfghjklmnpqrstvwx"[int(c)] for c in rng.integers(0, 19, 6))
    return " ".join(words)


def _read_texts(path: str) -> pd.Series:
    import pyarrow.parquet as pq

    return pq.read_table(path, columns=["text"]).to_pandas()["text"]


def _kernel_probes(ctx, texts: pd.Series) -> dict:
    """The model and scrub kernels called directly, single-threaded, on
    the workload's texts: the compute that the UDF boundary wraps."""
    from datacanary_spark.functions.models import build_default_models
    from datacanary_spark.functions.scrub import scrub_series

    models = build_default_models()
    probes = {
        "models.langid_cpu_s": lambda: models.langid.predict(texts),
        "models.ppl_cpu_s": lambda: models.perplexity.score(texts),
        "scrub.cpu_s": lambda: scrub_series(texts),
    }
    return {k: ctx.timed(k, fn) for k, fn in probes.items()}


def _udf_probes(ctx, pages) -> dict:
    """Each model/scrub UDF alone in a projection plus an aggregate, so
    the boundary cost shows next to the kernel cost above."""
    from pyspark.sql import functions as F

    from datacanary_spark.functions.udfs import (
        make_langid_udf,
        make_ppl_udf,
        make_scrub_udf,
    )
    from datacanary_spark.plans.pipeline import broadcast_models

    bc = broadcast_models(ctx.spark)
    text = F.col("text")
    probes = {
        "udfs.langid_s": pages.select(make_langid_udf(bc)(text).alias("r"))
                              .agg(F.count("r.lang_pred")),
        "udfs.ppl_s": pages.select(make_ppl_udf(bc)(text).alias("r"))
                           .agg(F.sum("r")),
        "udfs.scrub_s": pages.select(make_scrub_udf()(text).alias("r"))
                             .agg(F.sum(F.length("r.scrubbed_text"))),
    }
    out = {k: ctx.timed(k, df.collect) for k, df in probes.items()}
    bc.destroy()
    return out


# ---------------------------------------------------------------------------
# curate: the composed job, shuffle-heavy dedup and pinned stages
# ---------------------------------------------------------------------------

class CurateWorkload:
    name = "curate"
    min_warm = 5

    @staticmethod
    def docs_per_s(warm: list[dict]) -> float:
        return warm[0]["docs"] / median([r["wall"] for r in warm])

    def generate(self, inp: str, seed: int, traced: bool) -> None:
        from datacanary_spark.sources.fixtures import generate_pages_pandas

        base = generate_pages_pandas(CURATE_BASE, seed=seed)
        rng = np.random.default_rng((seed, 11))
        n_exact = int(CURATE_BASE * CURATE_EXACT_SHARE)
        n_near = int(CURATE_BASE * CURATE_NEAR_SHARE)
        exact = base.iloc[rng.choice(CURATE_BASE, n_exact)].copy()
        exact["url"] = [f"{u}?copy={i}" for i, u in enumerate(exact["url"])]
        near = base.iloc[rng.choice(CURATE_BASE, n_near)].copy()
        near["url"] = [f"{u}?near={i}" for i, u in enumerate(near["url"])]
        near["text"] = [_near_copy(t, rng) for t in near["text"]]
        pages = pd.concat([base, exact, near], ignore_index=True)
        pages = pages.iloc[rng.permutation(len(pages))]
        self.input = os.path.join(inp, "pages")
        per = -(-len(pages) // CURATE_FILES)
        for f in range(CURATE_FILES):
            _write_parquet(pages.iloc[f * per:(f + 1) * per],
                           os.path.join(self.input, f"part-{f:03d}.parquet"))
        self.docs = len(pages)
        self.checksum = None
        if traced:
            from datacanary_spark.golden import golden_labels

            sample = base.iloc[rng.choice(CURATE_BASE, GOLDEN_SAMPLE,
                                          replace=False)]
            self.golden = {r.url: (bool(r.keep), r.scrubbed_text)
                           for r in golden_labels(sample).itertuples()}

    def round(self, ctx, k: int) -> list[dict]:
        from datacanary_spark.plans.curate import run_curation_job

        out = ctx.fresh_dir(f"curate-{k}")
        with ctx.call("curate.run_curation_job") as rec:
            summary = run_curation_job(
                ctx.spark, self.input, out, host_cap=CURATE_HOST_CAP,
                fractions=CURATE_MIX)
        ctx.check(summary["docs_in"] == self.docs,
                  f"curate read {summary['docs_in']} of {self.docs} docs")
        self._check(ctx, out, summary["final_docs"])
        rec["docs"] = self.docs
        return [rec]

    def _check(self, ctx, out: str, final_docs: int) -> None:
        rows = ctx.spark.read.parquet(os.path.join(out, "corpus")) \
            .select("url", "text").collect()
        digests = sorted((r["url"], hashlib.md5(
            (r["text"] or "").encode()).hexdigest()) for r in rows)
        ctx.check(len(rows) == final_docs > 0,
                  f"curate corpus holds {len(rows)} rows, summary says "
                  f"{final_docs}")
        texts = [d for _, d in digests]
        ctx.check(len(set(texts)) == len(texts),
                  f"{len(texts) - len(set(texts))} curated docs share "
                  f"md5(text)")
        checksum = hashlib.md5(repr(digests).encode()).hexdigest()
        if self.checksum is None:
            self.checksum = checksum
        ctx.check(checksum == self.checksum,
                  "curated corpus differs from the first call's")

    def probes(self, ctx, warm: list[dict]) -> dict:
        from pyspark.sql import functions as F

        from datacanary_spark.operators.corpus_stats import (
            cap_per_group,
            hash_stratified_sample,
        )
        from datacanary_spark.operators.dedup import dedup_exact, dedup_lines
        from datacanary_spark.operators.text_analysis import (
            blocklist_host_expr,
        )
        from datacanary_spark.plans.caching import CacheScope

        spark = ctx.spark
        pages = spark.read.parquet(self.input).select("url", "text", "lang")
        out = _kernel_probes(ctx, _read_texts(self.input))
        out.update(_udf_probes(ctx, pages))
        out["dedup.exact_s"] = ctx.timed(
            "dedup.exact_s", dedup_exact(pages, id_col="url").count)
        with CacheScope() as scope:
            out["dedup.lines_s"] = ctx.timed("dedup.lines_s", dedup_lines(
                pages, id_col="url", persist=scope).count)
        hosts = pages.withColumn("_host", blocklist_host_expr(F.col("url")))
        out["corpus_stats.cap_s"] = ctx.timed(
            "corpus_stats.cap_s", cap_per_group(
                hosts, "_host", CURATE_HOST_CAP, "url",
                exempt_null_group=True).count)
        out["corpus_stats.sample_s"] = ctx.timed(
            "corpus_stats.sample_s", hash_stratified_sample(
                pages, "lang", CURATE_MIX, "url").count)
        out.update(self._filter_probes(ctx, pages))
        out["scaling.eff_1_to_n"] = self._scaling_leg(ctx)
        return out

    def _filter_probes(self, ctx, pages) -> dict:
        """The filter front on its own: the checkpointed filter job
        (checked against the golden twin) and its parts."""
        from pyspark.sql import functions as F

        from datacanary_spark.functions.heuristics import (
            FilterConfig,
            heuristic_hit_exprs,
            stat_cols,
            with_text_stats,
        )
        from datacanary_spark.golden import f1_score
        from datacanary_spark.plans.checkpoint import run_filter_job
        from datacanary_spark.plans.lineage import partition_lineage
        from datacanary_spark.plans.pipeline import (
            broadcast_models,
            filter_pages,
        )

        spark, cfg, out = ctx.spark, FilterConfig(), {}
        hits = heuristic_hit_exprs(cfg, stat_cols("stat_"))
        stats = with_text_stats(pages, "text", prefix="stat_") \
            .agg(*[F.sum(v) for v in hits.values()])
        out["heuristics.stats_s"] = ctx.timed(
            "heuristics.stats_s", stats.collect)

        bc = broadcast_models(spark)
        buckets = max(spark.sparkContext.defaultParallelism, 4)
        builds = [ctx.timed("pipeline.build", lambda: filter_pages(
            pages, bc, cfg, repartition_buckets=buckets))
            for _ in range(5)]
        out["pipeline.build_ms"] = 1000 * median(builds)
        verdicts = filter_pages(pages, bc, cfg, repartition_buckets=buckets)
        out["pipeline.filter_pages_s"] = ctx.timed(
            "pipeline.filter_pages_s",
            verdicts.write.format("noop").mode("overwrite").save)
        bc.destroy()

        job_dir = ctx.fresh_dir("filter-job")
        job_s = ctx.timed("checkpoint.run_filter_job",
                          lambda: run_filter_job(spark, self.input, job_dir))
        written = spark.read.parquet(os.path.join(job_dir, "data"))
        out["lineage.partition_s"] = ctx.timed(
            "lineage.partition_s", partition_lineage(written, cfg).collect)
        out["checkpoint.unexplained_s"] = (
            job_s - out["pipeline.filter_pages_s"]
            - out["lineage.partition_s"])

        rows = (written.where(F.col("url").isin(list(self.golden)))
                .select("url", "keep", "scrubbed_text").collect())
        got = {r["url"]: (bool(r["keep"]), r["scrubbed_text"]) for r in rows}
        ctx.check(set(got) == set(self.golden),
                  f"filter job output holds {len(got)} of "
                  f"{len(self.golden)} sampled urls")
        urls = sorted(set(got) & set(self.golden))
        f1 = f1_score(pd.Series([got[u][0] for u in urls], dtype=bool),
                      pd.Series([self.golden[u][0] for u in urls],
                                dtype=bool)) if urls else 0.0
        ctx.check(f1 >= 0.99, f"filter keep F1 {f1:.4f} < 0.99")
        bad = [u for u in urls if got[u][1] != self.golden[u][1]]
        ctx.check(not bad, f"scrubbed text differs for {len(bad)} urls")
        return out

    def _scaling_leg(self, ctx) -> float:
        """Parallel efficiency of the filter job from local[1] to
        local[cpus] on half the input files: (t1 / tN) / N, each timed
        on a warm session."""
        from datacanary_spark.plans.checkpoint import run_filter_job

        files = sorted(os.listdir(self.input))
        warmup = os.path.join(ctx.work, "in", "scale-warmup")
        subset = os.path.join(ctx.work, "in", "scale")
        for d, names in ((warmup, files[:1]), (subset,
                                               files[:CURATE_FILES // 2])):
            os.makedirs(d, exist_ok=True)
            for f in names:
                shutil.copy(os.path.join(self.input, f), d)

        def timed_job():
            return ctx.timed("checkpoint.run_filter_job",
                             lambda: run_filter_job(ctx.spark, subset,
                                                    ctx.fresh_dir("scale")))

        n = ctx.cpus
        t_n = timed_job()
        ctx.restart(cpus=1)
        run_filter_job(ctx.spark, warmup, ctx.fresh_dir("scale-warmup"))
        t_1 = timed_job()
        return (t_1 / t_n) / n


# ---------------------------------------------------------------------------
# ingest: incremental MinHash dedup against a growing signature store
# ---------------------------------------------------------------------------

class IngestWorkload:
    name = "ingest"
    min_warm = 1  # one warm sequence of INGEST_BATCHES batches

    @staticmethod
    def docs_per_s(warm: list[dict]) -> float:
        return sum(r["docs"] for r in warm) / sum(r["wall"] for r in warm)

    def generate(self, inp: str, seed: int, traced: bool) -> None:
        from datacanary_spark.sources.fixtures import generate_pages_pandas

        rng = np.random.default_rng((seed, 13))
        # One fixture page in fifty is a 7-10k char "too long" page. In a
        # 40-doc batch such a page is the straggler that sets the batch
        # time, so which batch draws one would decide the result by seed
        # alone; the ingest pool leaves them out.
        need = INGEST_BATCHES * INGEST_BATCH_DOCS
        pool = generate_pages_pandas(2 * need, seed=seed)[["url", "text"]]
        fresh = pool[pool["text"].str.len() <= INGEST_MAX_CHARS].iloc[:need]
        if len(fresh) < need:
            raise RuntimeError(f"seed {seed}: only {len(fresh)} of {need} "
                               f"pages under {INGEST_MAX_CHARS} chars")
        self.batches, self.exact_ids = [], set()
        seen, next_id = [], 0
        for b in range(INGEST_BATCHES):
            rows = fresh.iloc[b * INGEST_BATCH_DOCS:
                              (b + 1) * INGEST_BATCH_DOCS].to_dict("records")
            if seen:
                n_exact = int(INGEST_BATCH_DOCS * INGEST_EXACT_SHARE)
                n_near = int(INGEST_BATCH_DOCS * INGEST_NEAR_SHARE)
                picks = rng.choice(len(seen), n_exact + n_near)
                for j, p in enumerate(picks):
                    src = seen[int(p)]
                    near = j >= n_exact
                    rows[j] = {"url": src["url"] + ("?near" if near
                                                    else "?copy"),
                               "text": _near_copy(src["text"], rng)
                               if near else src["text"]}
            order = rng.permutation(len(rows))
            batch = pd.DataFrame([rows[i] for i in order])
            batch.insert(0, "doc_id", np.arange(next_id, next_id + len(batch),
                                                dtype=np.int64))
            self.exact_ids.update(
                int(i) for i, u in zip(batch["doc_id"], batch["url"])
                if u.endswith("?copy"))
            next_id += len(batch)
            seen.extend(batch[~batch["url"].str.contains(r"\?")]
                        .to_dict("records"))
            path = os.path.join(inp, f"batch-{b}")
            _write_parquet(batch, os.path.join(path, "part-000.parquet"))
            self.batches.append(path)
        self.docs = INGEST_BATCHES * INGEST_BATCH_DOCS
        self.accepted = None

    def round(self, ctx, k: int) -> list[dict]:
        from datacanary_spark.plans.incremental import SignatureStore
        from datacanary_spark.sources.io import read_table

        spark = ctx.spark
        root = ctx.fresh_dir(f"ingest-{k}")
        store = SignatureStore.create(spark, os.path.join(root, "store"))
        recs = []
        for b, path in enumerate(self.batches):
            with ctx.call("incremental.batch") as rec:
                docs = read_table(spark, path)
                t0 = time.perf_counter()
                with ctx.tracer.span("incremental.ingest"):
                    accepted = store.ingest(docs, b, id_col="doc_id")
                rec["ingest_s"] = time.perf_counter() - t0
                with ctx.tracer.span("io.write_accepted"):
                    accepted.write.mode("overwrite").parquet(
                        os.path.join(root, "accepted", f"batch-{b}"))
            rec["docs"] = INGEST_BATCH_DOCS
            recs.append(rec)
        self.store_bytes = sum(
            os.path.getsize(os.path.join(d, f))
            for d, _, files in os.walk(store.root) for f in files)
        # describe() costs three scans, so the counts compact() must
        # preserve are compared once per run, on the warm sequence
        before = store.describe() if k else None
        t0 = time.perf_counter()
        with ctx.tracer.span("incremental.compact"):
            result = store.compact()
        recs[-1]["compact_s"] = time.perf_counter() - t0
        self.store = store
        ctx.check(result.get("compacted") is True, "compact() did nothing")
        if before is not None:
            after = store.describe()
            counts = ("n_content_hashes", "n_signatures", "n_accepted")
            ctx.check(all(before[c] == after[c] for c in counts),
                      f"compact changed describe() counts: "
                      f"{[before[c] for c in counts]} -> "
                      f"{[after[c] for c in counts]}")
        accepted = {r["doc_id"] for r in
                    store.accepted_ids("doc_id").select("doc_id").collect()}
        ctx.check(bool(accepted), "ingest accepted no docs")
        ctx.check(not accepted & self.exact_ids,
                  f"{len(accepted & self.exact_ids)} exact copies accepted")
        if self.accepted is None:
            self.accepted = accepted
        ctx.check(accepted == self.accepted,
                  "accepted set differs from the first sequence's")
        return recs

    def probes(self, ctx, warm: list[dict]) -> dict:
        from pyspark.sql import functions as F

        from datacanary_spark.operators.dedup import (
            band_rows_from_sig,
            char_shingles,
            minhash_signature,
        )
        from datacanary_spark.operators.graph import connected_components
        from datacanary_spark.plans.caching import CacheScope
        from datacanary_spark.plans.incremental import sig_jaccard_estimate
        from datacanary_spark.plans.partitioning import spread_to_parallelism
        from datacanary_spark.sources.io import read_table

        spark, m = ctx.spark, self.store.meta
        # shingles bound to a column first, as the ingest does, so the
        # signature's hash functions share one shingle array per doc
        sh = spread_to_parallelism(read_table(spark, self.batches[-1])) \
            .select(char_shingles(F.col("text"), m["k_shingle"]).alias("sh"))
        sig = minhash_signature(F.col("sh"), m["n_hashes"], m["hash_fn"])
        out = {"dedup.minhash_s": ctx.timed(
            "dedup.minhash_s",
            sh.select(sig.alias("s")).agg(F.sum(F.hash("s"))).collect)}

        # candidate pairs and their yield, over the signatures the last
        # warm sequence stored (no re-hashing)
        sigs = self.store.signatures("doc_id")
        bands = band_rows_from_sig(sigs, "doc_id", "sig", m["n_hashes"],
                                   m["bands"])
        cand = (bands.alias("a").join(bands.alias("b"),
                                      ["band_ix", "band_key"])
                .where(F.col("a.doc_id") < F.col("b.doc_id"))
                .select(F.col("a.doc_id").alias("id_a"),
                        F.col("b.doc_id").alias("id_b")).distinct())
        s = sigs.select(F.col("doc_id"), "sig")
        est = (cand.join(s.toDF("id_a", "sig_a"), "id_a")
               .join(s.toDF("id_b", "sig_b"), "id_b")
               .where(sig_jaccard_estimate(F.col("sig_a"), F.col("sig_b"),
                                           m["n_hashes"]) >= m["threshold"]))
        n_cand, n_pairs = cand.count(), est.count()
        out["dedup.candidates"] = n_cand
        out["dedup.pair_yield"] = n_pairs / n_cand if n_cand else 0.0
        pairs = est.select("id_a", "id_b")
        with CacheScope() as scope:
            out["graph.components_s"] = ctx.timed(
                "graph.components_s",
                lambda: connected_components(pairs, scope=scope).count())
        out["incremental.store_bytes"] = self.store_bytes
        out["incremental.ingest_s"] = median([r["ingest_s"] for r in warm])
        out["incremental.compact_s"] = median(
            [r["compact_s"] for r in warm if "compact_s" in r])
        return out


WORKLOADS = {w.name: w for w in (CurateWorkload, IngestWorkload)}
