"""Batch-incremental deduplication against a persisted signature store.

The continuous-crawl ingestion pattern: each new crawl batch must be
deduplicated against EVERYTHING already seen — without recomputing or
even re-reading the historical corpus text. The store keeps only the
content identities (128-bit content hashes and MinHash signatures), so
per-batch cost is one signature pass over the NEW batch plus equi-joins
against the stored identities; historical text is never touched.

Semantics (chosen to be batch-split invariant, so incremental ingestion
equals a single full-batch run EXACTLY — pinned by test):

* precedence order = (batch_id asc, doc id asc); earlier always wins.
  The full-batch equivalence therefore requires batch order to be
  CONSISTENT with id order (every id in batch N+1 sorts after batch
  N's — true for crawl ids, which embed capture time). With ids that
  zigzag across batches, the incremental run still applies the same
  precedence rule deterministically, but a single full-batch run —
  whose only order is id order — can canonize a different (lower-id,
  later-batch) survivor; "split-invariant" means invariant to WHERE
  the batch boundaries fall, not to reordering docs across them.
* exact tier: a doc is dropped iff its content hash was produced by any
  preceding doc (earlier batch, or lower id in the same batch). NULL
  text is unknown content and exempt (same rule as
  operators/dedup.exact_dup_groups).
* near-dup tier (over exact survivors): a doc is dropped iff some
  preceding exact-survivor doc shares an LSH band with it AND their
  signature-estimated Jaccard (fraction of equal MinHash components)
  >= threshold. The estimate is a deterministic function of the two
  signatures, so the store never needs document text. Crucially the
  store keeps signatures of ALL exact-survivor banded docs — accepted
  AND near-dup-dropped — because "matches a preceding doc" must keep
  firing for docs whose match was itself dropped; storing only accepted
  signatures would make the result depend on the batch split.
  Docs with no shingles (null/empty text) have no similarity identity
  and pass the near-dup tier unconditionally (same rule as
  operators/dedup.lsh_bucket_rows).

Store layout under a root URI (any Hadoop scheme):

    meta.json                    parameters + committed batch list
    exact/batch_id=N/            parquet: text_md5 new in batch N
    sigs/batch_id=N/             parquet: (doc id, sig) for batch N's
                                 banded exact survivors
    accepted/batch_id=N/         parquet: ids accepted from batch N

Writes are idempotent: each batch overwrites its OWN subdirectories,
and ``meta.json`` is updated (batch appended to ``committed``) only
after all three writes succeed. A crash mid-ingest leaves orphan
``batch_id=N`` dirs that readers ignore (not committed) and a retry
overwrites. Re-ingesting an already-committed batch returns the stored
accepted ids without recomputation (resume).

At 10^12-doc scale: the store's band join is the familiar one-shuffle
LSH equi-join, but the STORE side (cumulative) dwarfs every new batch;
the documented optimization is to maintain the store's band rows as a
bucketed table on band_key (sources/io.write_bucketed) so each ingest
shuffles only the new batch's band rows. Store size is
O(total_docs · n_hashes · hash_width) — with hash_fn="xxhash64",
128 B/doc of signature, i.e. ~128 TB of store per 10^12 docs, scanned
(two narrow columns) but never reshuffled per batch in bucketed form.
"""

from __future__ import annotations

import json

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from datacanary_spark.operators.dedup import (
    band_rows_from_sig,
    minhash_sig_rows,
)
from datacanary_spark.plans.caching import CacheScope
from datacanary_spark.sources.io import (
    path_exists,
    read_text,
    write_bucketed,
    write_text_atomic,
)


def sig_jaccard_estimate(sig_a: Column, sig_b: Column,
                         n_hashes: int) -> Column:
    """MinHash Jaccard estimate: fraction of equal signature components.

    Unbiased estimator of the true shingle-set Jaccard with standard
    error ~ 1/sqrt(n_hashes); deterministic given the two signatures.
    """
    eq = F.zip_with(sig_a, sig_b, lambda x, y: (x == y).cast("int"))
    return (F.aggregate(eq, F.lit(0), lambda acc, v: acc + v)
            .cast("double") / F.lit(float(n_hashes)))


class _BgTask:
    """A callable running on a Spark-aware driver thread
    (``InheritableThread``: JVM-thread-local job properties inherit and
    clean up), started immediately; :meth:`result` joins and either
    returns the value or re-raises the thread's exception. One shape
    for every overlapped-jobs site in this module (guide-§2.6
    back-fill: independent Spark jobs submitted from driver threads
    fill the scheduler while another chain's tail drains)."""

    def __init__(self, fn):
        from pyspark import InheritableThread

        self._out: list = []

        def _run():
            try:
                self._out.append((True, fn()))
            except BaseException as exc:  # re-raised in result()
                self._out.append((False, exc))

        self._t = InheritableThread(target=_run)
        self._t.start()

    def wait(self) -> None:
        """Join without surfacing the outcome (cleanup paths where an
        earlier exception must stay the primary error)."""
        self._t.join()

    def result(self):
        self._t.join()
        ok, val = self._out[0]
        if not ok:
            raise val
        return val


class SignatureStore:
    """Persisted dedup identities for batch-incremental ingestion."""

    def __init__(self, spark: SparkSession, root: str, meta: dict):
        self.spark = spark
        self.root = root.rstrip("/")
        self.meta = meta

    # -- lifecycle ---------------------------------------------------------

    @classmethod
    def create(cls, spark: SparkSession, root: str, *, k_shingle: int = 5,
               n_hashes: int = 16, bands: int = 4, hash_fn: str = "md5",
               threshold: float = 0.7,
               bucket_bands: int | None = None) -> "SignatureStore":
        """Initialise an empty store. The LSH parameters are pinned in
        meta.json at creation: signatures computed with different
        parameters are not comparable, so every ingest re-uses these.
        The doc-id column type is pinned at first ingest (precedence
        comparisons must use one consistent ordering).

        ``bucket_bands``: if set, the store ALSO maintains its band rows
        as a parquet table BUCKETED on the (band_ix, band_key) join key
        into that many buckets — the 10^12-doc layout: the cumulative
        store side of every ingest's candidate join arrives
        pre-distributed, so only the (small) new batch is shuffled.
        Without it the store's band rows are re-derived from the stored
        signatures and reshuffled each ingest."""
        if n_hashes % bands:
            raise ValueError("bands must divide n_hashes")
        if path_exists(spark, f"{root.rstrip('/')}/meta.json"):
            raise ValueError(f"store already exists at {root}")
        meta = {"k_shingle": k_shingle, "n_hashes": n_hashes,
                "bands": bands, "hash_fn": hash_fn,
                "threshold": threshold, "id_type": None,
                "bucket_bands": bucket_bands, "committed": []}
        store = cls(spark, root, meta)
        store._write_meta()
        return store

    @classmethod
    def open(cls, spark: SparkSession, root: str) -> "SignatureStore":
        meta = json.loads(read_text(spark, f"{root.rstrip('/')}/meta.json"))
        return cls(spark, root, meta)

    def _write_meta(self) -> None:
        # atomic: meta.json is THE commit record — a truncate-in-place
        # write crashing mid-flush would orphan every committed batch
        write_text_atomic(self.spark, f"{self.root}/meta.json",
                          json.dumps(self.meta, indent=2, sort_keys=True))

    def committed_batches(self) -> list[int]:
        return sorted(self.meta["committed"])

    # -- committed-state readers ------------------------------------------

    def _data_dirs(self) -> list[str]:
        """Physical dir names holding exact/sigs identity data. One
        ``batch_id=N`` per ingest normally; :meth:`compact` swaps them
        for a single ``compacted=G`` dir. ``committed`` stays the
        LOGICAL batch list driving precedence and resume. Stores
        written before compaction existed default to one dir per
        committed batch."""
        return self.meta.get(
            "data_dirs",
            [f"batch_id={b}" for b in self.committed_batches()])

    def _read_committed(self, sub: str, schema: str) -> DataFrame:
        if sub in ("exact", "sigs"):
            names = self._data_dirs()
        else:
            names = [f"batch_id={b}" for b in self.committed_batches()]
        if not names:
            return self.spark.createDataFrame([], schema)
        paths = [f"{self.root}/{sub}/{n}" for n in names]
        # explicit schema (r06): the store KNOWS every table's schema
        # (it already builds one for the empty case), and schema
        # inference costs a one-task footer-read job per call — at
        # O(batches) dirs per read and several reads per ingest that
        # inference was a measurable share of ingest wall time
        return self.spark.read.schema(schema).parquet(*paths)

    def exact_hashes(self) -> DataFrame:
        """(text_md5) — every distinct content hash ever seen."""
        return self._read_committed("exact", "text_md5 string")

    def _check_id_col(self, id_col: str) -> None:
        """Fail fast on an id column name that doesn't match the
        store's pinned one: the explicit-schema readers match parquet
        columns BY NAME, so a mismatched name would come back as
        all-null rows — silently disabling dedup against the store —
        where the old inferred-schema read raised a loud
        AnalysisException downstream (r06 review)."""
        pinned = self.meta.get("id_col")
        if pinned is not None and id_col != pinned:
            raise ValueError(
                f"id column {id_col!r} != store's pinned {pinned!r} "
                f"(the stored identity tables carry the first "
                f"ingest's column name)")

    def signatures(self, id_col: str = "doc_id") -> DataFrame:
        """(id, sig) for every banded exact-survivor doc ever seen."""
        self._check_id_col(id_col)
        sig_t = ("array<bigint>" if self.meta["hash_fn"] == "xxhash64"
                 else "array<string>")
        id_t = self.meta["id_type"] or "string"
        return self._read_committed("sigs", f"{id_col} {id_t}, sig {sig_t}")

    def accepted_ids(self, id_col: str = "doc_id") -> DataFrame:
        self._check_id_col(id_col)
        id_t = self.meta["id_type"] or "string"
        return self._read_committed(
            "accepted", f"{id_col} {id_t}, _batch int")

    # -- bucketed band-row table (the 10^12-doc candidate-join layout) -----

    def _bands_gen(self) -> int:
        """Current band-table GENERATION. The physical table name and
        location are generation-suffixed (``bands_g<G>``): compaction
        builds generation G+1 COMPLETELY before the meta commit starts
        referencing it, so a crash on either side of the commit leaves
        one fully-consistent generation (the old or the new) — never a
        dropped/partial table of committed band rows."""
        return int(self.meta.get("bands_gen", 0))

    def _bands_table(self, gen: int | None = None) -> str:
        """Session-catalog name for the bucketed band table (stable per
        store root + generation, so reopening a store finds it)."""
        import hashlib

        g = self._bands_gen() if gen is None else gen
        return "sigstore_bands_" + hashlib.md5(
            self.root.encode()).hexdigest()[:12] + f"_g{g}"

    def _ensure_bands_table(self, id_col: str,
                            gen: int | None = None) -> str:
        """Register the external bucketed table in THIS session's catalog
        if missing (catalog metadata is per-metastore; the files under
        ``<root>/bands_g<G>`` are the durable artifact)."""
        g = self._bands_gen() if gen is None else gen
        name = self._bands_table(g)
        if not self.spark.catalog.tableExists(name):
            id_t = self.meta["id_type"]
            if id_t is None:
                # id_type is learned from the first ingested batch; a
                # DDL built now would contain the literal column type
                # "None" and fail with a parse error far from the cause
                raise ValueError(
                    "band table schema unknown before the first ingest "
                    "(meta id_type is unset) — ingest a batch first")
            self.spark.sql(
                f"CREATE TABLE {name} "
                f"(band_ix INT, band_key STRING, {id_col} {id_t}, "
                f"_batch INT) USING PARQUET "
                f"CLUSTERED BY (band_ix, band_key) "
                f"SORTED BY (band_ix, band_key) "
                f"INTO {self.meta['bucket_bands']} BUCKETS "
                f"LOCATION '{self.root}/bands_g{g}'")
        return name

    def store_band_rows(self, id_col: str = "doc_id") -> DataFrame:
        """Band rows of every committed doc. Bucketed mode reads the
        pre-distributed table (no exchange on this side of the candidate
        join — plan-locked in tests); otherwise derives them from the
        stored signatures. The ``_batch`` filter keeps an UNCOMMITTED
        crashed attempt's appended rows invisible; after a retry commits
        the batch, both that attempt's rows and the retry's become
        visible — results stay exact because candidate pairs are
        distinct()-ed, at the cost of duplicate band rows in storage
        until a compaction rewrite (documented trade of the append-only
        bucketed layout)."""
        if self.meta.get("bucket_bands"):
            name = self._ensure_bands_table(id_col)
            committed = self.committed_batches()
            return (self.spark.table(name)
                    .where(F.col("_batch").isin(committed)
                           if committed else F.lit(False))
                    .drop("_batch"))
        return band_rows_from_sig(self.signatures(id_col), id_col, "sig",
                                  self.meta["n_hashes"], self.meta["bands"])

    def describe(self) -> dict:
        """Operational snapshot: parameters, batch ledger, identity
        counts, physical layout. Two small scans (count-only)."""
        m = self.meta
        return {
            "root": self.root,
            "params": {k: m[k] for k in ("k_shingle", "n_hashes", "bands",
                                         "hash_fn", "threshold")},
            "id_col": m.get("id_col"),
            "id_type": m.get("id_type"),
            "committed_batches": self.committed_batches(),
            "data_dirs": self._data_dirs(),
            "bucket_bands": m.get("bucket_bands"),
            "bands_gen": self._bands_gen() if m.get("bucket_bands") else None,
            "n_content_hashes": self.exact_hashes().count(),
            "n_signatures":
                self.signatures(m.get("id_col") or "doc_id").count(),
            "n_accepted":
                self.accepted_ids(m.get("id_col") or "doc_id").count(),
        }

    # -- compaction --------------------------------------------------------

    def compact(self) -> dict:
        """Consolidate the per-batch identity dirs into one.

        A long-lived store accumulates one small ``exact``/``sigs`` dir
        per ingested batch (the object-store small-files problem: every
        read lists and opens O(batches) files) and, in ``bucket_bands``
        mode, possibly duplicate band rows from crash-retried ingests.
        Compaction rewrites both identity tables into a single
        ``compacted=G`` dir and, in bucketed mode, builds a NEW
        generation of the band table (``bands_g<G+1>``, external at the
        store root) from the consolidated signatures — which also sheds
        retry duplicates and uncommitted orphan rows. Only after every
        new artifact is fully written does the meta.json commit switch
        the store over; old dirs and the old band generation are then
        best-effort deleted. A crash BEFORE the commit leaves the old
        generation fully intact and referenced; a crash AFTER leaves
        ignored orphans — at no point can committed identity or band
        data be partial. The LOGICAL committed-batch list, per-batch
        accepted dirs (resume), and every future ingest result are
        unchanged — pinned by test.
        """
        from datacanary_spark.sources.io import _fs_and_path

        m = self.meta
        old = self._data_dirs()
        if len(old) <= 1:
            return {"compacted": False, "dirs_before": len(old)}
        gen = int(m.get("compact_gen", 0)) + 1
        new = f"compacted={gen}"
        old_bands_gen = self._bands_gen()

        self.exact_hashes().write.mode("overwrite") \
            .parquet(f"{self.root}/exact/{new}")
        self.signatures().write.mode("overwrite") \
            .parquet(f"{self.root}/sigs/{new}")
        n_hashes = self.spark.read.parquet(
            f"{self.root}/exact/{new}").count()
        scope = CacheScope()
        try:
            consolidated = scope.persist(self.spark.read.parquet(
                f"{self.root}/sigs/{new}"))
            n_sigs = consolidated.count()
            if m.get("bucket_bands"):
                id_col = m.get("id_col", "doc_id")
                # a PREVIOUS crashed compaction may have left a partial
                # unreferenced gen+1 — clear it so the build starts clean
                self.spark.sql("DROP TABLE IF EXISTS "
                               f"{self._bands_table(old_bands_gen + 1)}")
                fs, stale, _ = _fs_and_path(
                    self.spark, f"{self.root}/bands_g{old_bands_gen + 1}")
                if fs.exists(stale):
                    fs.delete(stale, True)
                name = self._ensure_bands_table(id_col,
                                                gen=old_bands_gen + 1)
                write_bucketed(
                    band_rows_from_sig(consolidated, id_col, "sig",
                                       m["n_hashes"], m["bands"])
                    .select("band_ix", "band_key", F.col(id_col),
                            F.lit(max(m["committed"])).cast("int")
                             .alias("_batch")),
                    name, ["band_ix", "band_key"], m["bucket_bands"],
                    path=f"{self.root}/bands_g{old_bands_gen + 1}",
                    mode="append")
        finally:
            scope.unpersist_all()

        m["data_dirs"] = [new]
        m["compact_gen"] = gen
        if m.get("bucket_bands"):
            m["bands_gen"] = old_bands_gen + 1
        self._write_meta()  # commit point
        # post-commit cleanup; a crash here only leaves ignored orphans
        for d in [f"{sub}/{d}" for d in old for sub in ("exact", "sigs")] \
                + ([f"bands_g{old_bands_gen}"]
                   if m.get("bucket_bands") else []):
            fs, path, _ = _fs_and_path(self.spark, f"{self.root}/{d}")
            try:
                fs.delete(path, True)
            except Exception:
                pass
        if m.get("bucket_bands"):
            self.spark.sql("DROP TABLE IF EXISTS "
                           f"{self._bands_table(old_bands_gen)}")
        return {"compacted": True, "dirs_before": len(old),
                "n_hashes": n_hashes, "n_sigs": n_sigs}

    # -- ingestion ---------------------------------------------------------

    def ingest(self, docs: DataFrame, batch_id: int,
               id_col: str = "doc_id",
               text_col: str = "text") -> DataFrame:
        """Dedup a new batch against the store + itself; returns the
        accepted rows of ``docs`` and commits the batch's identities.

        Idempotent: an already-committed ``batch_id`` recomputes
        nothing and returns ``docs`` semi-joined to the stored accepted
        ids — after verifying a composition FINGERPRINT (row count +
        order-independent id-hash sum, recorded at commit): a replayed
        batch id carrying DIFFERENT documents (lost streaming
        checkpoint, a manual ingest colliding with a stream's counter)
        would otherwise silently discard the new docs; it now raises.
        ``batch_id`` must be strictly greater than every committed
        batch (precedence is batch order). Doc ids must be unique
        across the store's lifetime (they are the precedence
        tie-breaker and the survivor identity).
        """
        m = self.meta
        id_type = docs.schema[id_col].dataType.simpleString()
        if m["id_type"] is None:
            m["id_type"] = id_type
            m["id_col"] = id_col
        elif m["id_type"] != id_type:
            raise ValueError(
                f"id column type {id_type!r} != store's pinned "
                f"{m['id_type']!r} (precedence order must be consistent)")
        elif m.get("id_col", id_col) != id_col:
            raise ValueError(
                f"id column {id_col!r} != store's pinned "
                f"{m['id_col']!r} (the stored identity tables carry "
                f"the first ingest's column name)")
        if batch_id in m["committed"]:
            recorded = m.get("batch_fp", {}).get(str(batch_id))
            if recorded is not None and \
                    self._fingerprint(docs, id_col) != recorded:
                raise ValueError(
                    f"batch_id {batch_id} is committed but this input "
                    f"has a DIFFERENT composition than the one recorded "
                    f"at commit — refusing the silent-discard resume "
                    f"(lost streaming checkpoint, or a manual ingest "
                    f"collided with a stream's batch counter?)")
            # O(1) resume: read only THIS batch's accepted dir — going
            # through accepted_ids() would list and scan every
            # committed batch to extract one
            prev = self.spark.read.schema(
                f"{id_col} {m['id_type']}, _batch int").parquet(
                f"{self.root}/accepted/batch_id={batch_id}").select(id_col)
            return docs.join(prev, on=id_col, how="left_semi")
        if m["committed"] and batch_id <= max(m["committed"]):
            raise ValueError(
                f"batch_id {batch_id} <= committed max "
                f"{max(m['committed'])}: precedence is batch order")

        scope = CacheScope()
        try:
            # The composition fingerprint only reads ``docs`` and is
            # only needed at the commit point — run it on a driver
            # thread so its job overlaps the ingest's write jobs
            # (the two touch disjoint frames).
            fp = _BgTask(lambda: self._fingerprint(docs, id_col))
            try:
                accepted = self._ingest_uncached(docs, batch_id, id_col,
                                                 text_col, scope)
            except BaseException:
                fp.wait()  # don't leak the thread; original error wins
                raise
            # data_dirs BEFORE appending to committed: the no-key
            # default derives from the committed list
            m["data_dirs"] = self._data_dirs() + [f"batch_id={batch_id}"]
            m.setdefault("batch_fp", {})[str(batch_id)] = fp.result()
            m["committed"].append(batch_id)
            self._write_meta()  # commit point: all data dirs are written
            return accepted
        finally:
            scope.unpersist_all()

    def _fingerprint(self, docs: DataFrame, id_col: str) -> list:
        """Order-independent batch-composition fingerprint: [row count,
        sum of xxhash64 over the ids]. One cheap id-column aggregate;
        the sum runs in decimal(38,0) — a long sum of 64-bit hashes
        overflows under ANSI — and is stored as a string (JSON-safe)."""
        row = docs.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64(F.concat(
                F.lit("fp:"), F.col(id_col).cast("string")))
                .cast("decimal(38,0)")).alias("h"),
        ).collect()[0]
        return [int(row["n"]), str(row["h"]) if row["h"] is not None else "0"]

    def _ingest_uncached(self, docs: DataFrame, batch_id: int, id_col: str,
                         text_col: str, scope: CacheScope) -> DataFrame:
        m = self.meta

        # ---- exact tier --------------------------------------------------
        # content hash; NULL text exempt via per-row sentinel (can never
        # match another row's hash, and is never persisted to the store)
        hashed = scope.persist(docs.withColumn(
            "_h",
            F.when(F.col(text_col).isNull(),
                   F.concat(F.lit("<NULL>#"), F.col(id_col).cast("string")))
             .otherwise(F.md5(F.col(text_col)))))
        canon = (hashed.groupBy("_h")
                 .agg(F.min(id_col).alias("_canon_id")))
        store_hashes = self.exact_hashes().select(
            F.col("text_md5").alias("_h"))
        # persisted (r06): the canon aggregate + store anti-join feed
        # BOTH the exact-tier write and the survivor semi-join —
        # unpersisted, the groupBy shuffle ran once per consumer
        new_hashes = scope.persist(canon.join(store_hashes, "_h",
                                              "left_anti"))
        exact_surv = scope.persist(
            hashed.join(new_hashes.select(F.col("_canon_id").alias(id_col)),
                        id_col, "left_semi").drop("_h"))

        # ---- near-dup tier (over exact survivors) ------------------------
        sigs = scope.persist(minhash_sig_rows(
            exact_surv, id_col, text_col, m["k_shingle"], m["n_hashes"],
            m["hash_fn"]))

        batch_bands = band_rows_from_sig(sigs, id_col, "sig",
                                         m["n_hashes"], m["bands"])
        store_sigs = self.signatures(id_col)
        store_bands = self.store_band_rows(id_col)

        # candidates vs the store (every stored doc precedes the batch)
        # and within the batch (lower id precedes); both are one band
        # equi-join. NO distinct here (r06): a pair appearing in
        # several bands repeats its signature compare — 16 equality
        # checks, embarrassingly parallel and bounded by the band
        # count — which is far cheaper than the full candidate-set
        # shuffle the distinct cost; the ``dropped`` ids are
        # distinct-ed below, so the result is unchanged.
        cross = (batch_bands.alias("n")
                 .join(store_bands.alias("o"), ["band_ix", "band_key"])
                 .select(F.col(f"n.{id_col}").alias("_id"),
                         F.col(f"o.{id_col}").alias("_prev")))
        within = (batch_bands.alias("a")
                  .join(batch_bands.alias("b"), ["band_ix", "band_key"])
                  .where(F.col(f"a.{id_col}") > F.col(f"b.{id_col}"))
                  .select(F.col(f"a.{id_col}").alias("_id"),
                          F.col(f"b.{id_col}").alias("_prev")))
        cand = cross.unionByName(within)
        all_sigs = sigs.unionByName(store_sigs)
        est = (cand
               .join(sigs.select(F.col(id_col).alias("_id"),
                                 F.col("sig").alias("_sig_n")), "_id")
               .join(all_sigs.select(F.col(id_col).alias("_prev"),
                                     F.col("sig").alias("_sig_o")), "_prev")
               .select("_id", sig_jaccard_estimate(
                   F.col("_sig_n"), F.col("_sig_o"),
                   m["n_hashes"]).alias("_est")))
        dropped = est.where(F.col("_est") >= m["threshold"]) \
                     .select(F.col("_id").alias(id_col)).distinct()
        accepted = scope.persist(
            exact_surv.join(dropped, on=id_col, how="left_anti")
                      .select(*docs.columns))

        # ---- persist batch identities (idempotent overwrites) ------------
        # The exact and sigs writes touch disjoint directories and only
        # read cached upstream frames — run them on two driver threads
        # so their jobs overlap (guide §2.6; concurrent jobs racing an
        # uncomputed cached partition serialize on the block lock, so
        # results are unaffected). The accepted write stays after the
        # join: it reads the sigs cache those jobs populate.
        def _write_exact():
            new_hashes.where(~F.col("_h").startswith("<NULL>#")) \
                .select(F.col("_h").alias("text_md5")) \
                .write.mode("overwrite") \
                .parquet(f"{self.root}/exact/batch_id={batch_id}")

        def _write_sigs():
            sigs.write.mode("overwrite") \
                .parquet(f"{self.root}/sigs/batch_id={batch_id}")

        t_exact, t_sigs = _BgTask(_write_exact), _BgTask(_write_sigs)
        try:
            t_exact.result()
        finally:
            t_sigs.wait()
        t_sigs.result()
        if m.get("bucket_bands"):
            name = self._ensure_bands_table(id_col)
            write_bucketed(
                batch_bands.select("band_ix", "band_key", F.col(id_col),
                                   F.lit(batch_id).cast("int")
                                    .alias("_batch")),
                name, ["band_ix", "band_key"], m["bucket_bands"],
                mode="append")
        accepted.select(F.col(id_col),
                        F.lit(batch_id).cast("int").alias("_batch")) \
            .write.mode("overwrite") \
            .parquet(f"{self.root}/accepted/batch_id={batch_id}")
        # Return a frame whose lineage is docs ⋉ the accepted-ids
        # parquet just written — NOT the in-flight `accepted` frame:
        # its cache is released when ingest() returns, so any caller
        # action on it would silently recompute the whole dedup.
        acc_ids = self.spark.read.schema(
            f"{id_col} {m['id_type']}, _batch int").parquet(
            f"{self.root}/accepted/batch_id={batch_id}").select(id_col)
        return docs.join(acc_ids, on=id_col, how="left_semi")
