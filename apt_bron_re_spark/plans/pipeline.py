"""The 5-stage KG-construction pipeline over staged parquet tables.

    pages -> extract -> mention -> link -> canonicalize -> materialize

Each stage writes an idempotent parquet table under ``base_dir`` (bucketed
by ``pbucket = pmod(murmur3(url), n_buckets)`` — exactly Spark's
HashPartitioning partition id, so url-partitioned plans write with no
extra shuffle; ``Pipeline(catalog=...)`` writes Iceberg tables
identity-partitioned by the same column) and appends per-bucket lineage
rows.  ``run(resume=True)``
skips stages whose fingerprint already completed — kill the job at any
stage boundary and re-running continues where it stopped.

One builder per stage: ``Pipeline.run`` (each stage written whole), the
bucket-chunked ``run_*_incremental`` methods (per-bucket resume) and the
streaming micro-batch (streaming/kg_stream.py ``kg_batch_step``) build
the mention stage with ``Pipeline._mentions``, the link stage with
``link_stage`` and the triples with the operators/materialize.py salted
aggregation; they differ only in where the BM25 globals come from and
how the output is written.

Stage-table layout (versioned stage tables replace the reference's
in-place file rewrites — SURVEY.md §3):
    docs/            url, text (+ pbucket column; batch writes carry no
    mentions/        partition dirs — the UDF output streams straight to
                     parquet with NO shuffle; incremental writers lay
                     out pbucket=N dirs for per-bucket resume/pruning)
    linked/          mention rows + bm25 + link annotations, pbucket=N
    links_residual/  dirs written SHUFFLE-FREE (partitions are
                     pbucket-pure by construction)
    canon/           (label, original_id, canon_id)
    triples/         subj, pred, obj, sources[], justification, score
                     partitioned by pred (S10)
"""

from __future__ import annotations

import json
import os
import shutil
import time
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import BM25_LABELS, NER_MATCH_SCORE, SIM_THRESHOLD
from ..operators import bm25, canonicalize, linking, materialize, mention
from ..operators.extract import extract_docs
from .lineage import LineageLog, fingerprint

# Bucket-layout identity of a base_dir.  pbucket was crc32(url) % n in
# round 2 and pmod(murmur3(url), n) since round 3 — a silent layout change
# would make per-bucket incremental resume re-process urls whose OLD
# bucket completed and skip urls that moved into completed buckets
# (duplicated/missing rows).  A marker file pins the layout at first
# write; a mismatched resume fails fast instead of mis-bucketing.
LAYOUT_ID = "pbucket=pmod(murmur3_hash(url),n_buckets)"


def bucketed(df: DataFrame, n_buckets: int) -> DataFrame:
    """Add ``pbucket`` (partition bucket) — distinct from the NER residue
    "bucket" column of the mention stage table.  Defined as
    pmod(murmur3(url), n) — EXACTLY Spark's HashPartitioning(url, n)
    partition-id expression (same hash, same seed 42) — so a plan that is
    repartition(n, url)-partitioned has pbucket-PURE partitions and can be
    written partitionBy("pbucket") with no further shuffle (one file per
    bucket dir per branch)."""
    return df.withColumn(
        "pbucket", F.pmod(F.hash(F.col("url")), F.lit(n_buckets)).cast("int"))


def link_stage(stage: DataFrame, layer_map: dict[str, list[dict]],
               n_buckets: int, semantic: bool = True,
               threshold: float = SIM_THRESHOLD,
               stats: DataFrame | None = None,
               df_: DataFrame | None = None,
               partitions: int | None = None
               ) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Stage 3 over a mention stage table (or any url-subset of it):
    BM25 -> L2-L5 links -> L6 merge.  Returns (merged, residual, links),
    the first two carrying ``pbucket``.  ``links`` is persisted because
    merged and residual are usually written by separate jobs; the caller
    unpersists it once both are written.

    ``stats``/``df_``: the corpus-global BM25 inputs frozen from a corpus
    snapshot (chunked and streaming runs — per-chunk globals would give
    wrong idf).  When omitted they are computed inline from ``stage``,
    which is exact only when ``stage`` is the whole corpus (batch run).

    ``partitions``: the url repartition's partition count, default
    ``n_buckets`` — the batch run's ``pre_partitioned`` write needs
    pbucket-pure partitions, i.e. exactly ``n_buckets`` of them.  A
    chunked or micro-batch caller holds only some pbuckets, so it passes
    the session's shuffle partition count instead (its writer re-buckets
    anyway) and keeps every core busy.

    ONE url hash-partitioning for the whole stage: the stage TABLE is
    repartitioned by url once and the three views are disjoint rec_type
    filters above it, so ReuseExchange collapses the mention / residue /
    doc-length subtrees onto a single shuffle.  The scored (wide) branch
    preserves it: BM25 tf (groupBy keys include url), the df/stats joins
    (broadcasts of catalog-bounded tables), the score join and the L6
    merge join need no exchange of the mention rows, provided
    ``partitions`` equals spark.sql.shuffle.partitions — the narrow
    best-link aggregation shuffles to the session count, and on a
    mismatch the merge join re-shuffles the mention rows on (url,
    category, oid_l).  The residual branch is not exchange-free: the
    anti-join against the best-link aggregate (hashed on url, label,
    oid_l) re-shuffles the narrow mention keys.  The scored/passthrough
    union comes last because a union erases partitioning, and a
    ``pre_partitioned`` write needs no repartition because pbucket is the
    partition id (``bucketed``).  The wide scored plan stays
    single-consumer and un-persisted: the residual anti-join takes its
    keys from a narrow pre-BM25 projection, and dl comes from the mention
    stage's 'doc' rows — no text re-scan."""
    st = stage.repartition(partitions or n_buckets, F.col("url"))
    m = mention.mentions_view(st)
    r = mention.residue_view(st)
    dls = mention.doc_lengths_view(st)
    if stats is None:
        stats, df_ = bm25.bm25_global_stats(m, dls)
    scored, passthrough = bm25.add_bm25_frozen_split(m, dls, stats, df_)

    links = linking.build_links(
        r, layer_map, semantic=semantic, threshold=threshold).persist()
    keys = (m.select(
        "url", "category",
        F.lower(F.coalesce("original_id", F.lit(""))).alias("oid_l"))
        .distinct())
    # invariant check for the passthrough shortcut: every linkable label
    # must be BM25-scored (true for the BRON-shaped catalog: links exclude
    # the cpe family and cve is regex-only).
    may_link = bool(
        (set(layer_map) - linking.LINKED_LABELS_EXCLUDE) - set(BM25_LABELS))
    merged_s, merged_p, residual = linking.merge_links_split(
        scored, passthrough, links, mention_keys=keys,
        passthrough_may_link=may_link)
    merged = bucketed(merged_s, n_buckets).unionByName(
        bucketed(merged_p, n_buckets))
    return merged, bucketed(residual, n_buckets), links


class Pipeline:
    def __init__(self, spark: SparkSession,
                 layer_map: dict[str, list[dict]],
                 base_dir: str | Path,
                 n_buckets: int = 32,
                 semantic: bool = True,
                 sim_threshold: float = SIM_THRESHOLD,
                 lang: str | None = "en",
                 fuse_extract: bool = False,
                 canon_cache_dir: str | Path | None = None,
                 catalog: str | None = None) -> None:
        """``fuse_extract=True`` runs E1 inside the mention UDF and skips
        materializing the docs table (half the stage-table IO; the same
        byte-identical extractor).  The unfused default keeps the extract
        checkpoint for stage-level resume granularity.

        ``canon_cache_dir``: reuse the canonical map ACROSS pipeline runs
        keyed by the catalog fingerprint.  The canon table is a
        catalog-derived dimension (stage 4 depends only on the alias
        graph, never on the corpus) — the same precompute-once shape as
        the reference's node-embedding cache (embeddings.py) — so
        recomputing the connected-components job per corpus run is pure
        fixed latency; with a cache it is a parquet read.

        ``catalog``: the Iceberg one-line swap (S7/S8 proper).  When set
        (e.g. ``"ice.db"``), every stage table becomes the Iceberg table
        ``<catalog>.<name>`` written via ``writeTo(...)``, partitioned by
        the same columns as the parquet tables (identity ``pbucket``, not
        Iceberg's ``bucket(url)``, whose hash differs — _iceberg_writer),
        and incremental chunks use ``overwritePartitions()`` (Iceberg's
        native dynamic overwrite, same exactly-once semantics as the
        parquet path).  Requires an
        Iceberg runtime on the session (tests/test_iceberg_optional.py
        runs the full pipeline this way when ``SPARK_ICEBERG_JAR`` is
        set; the sandbox has no jars, so it skips explicitly)."""
        self.spark = spark
        self.layer_map = layer_map
        self.base = Path(base_dir)
        self.n_buckets = n_buckets
        self.semantic = semantic
        self.sim_threshold = sim_threshold
        self.lang = lang
        self.fuse_extract = fuse_extract
        self.canon_cache_dir = canon_cache_dir
        self.catalog = catalog
        self.log = LineageLog(spark, base_dir)
        self._catalog_fp = fingerprint(layer_map)
        self._record_threads: list = []   # deferred lineage-record scans
        self._check_layout()

    def _check_layout(self) -> None:
        """Pin the base_dir's bucket layout (LAYOUT_ID + n_buckets): a
        resume against a base_dir written under a different layout fails
        fast instead of silently mixing bucket assignments.  Iceberg mode
        keeps its lineage here too and partitions by the same pbucket, so
        the guard holds for both storages."""
        marker = self.base / "_layout.json"
        want = {"layout": LAYOUT_ID, "n_buckets": self.n_buckets}
        if marker.exists():
            got = json.loads(marker.read_text())
            if got != want:
                raise RuntimeError(
                    f"base_dir {self.base} was written with layout {got}, "
                    f"this build uses {want}; use a fresh base_dir (or "
                    "matching n_buckets) — resuming would mis-bucket")
        else:
            # A base_dir that already holds stage output but NO marker
            # predates the marker scheme (pre-round-3 crc32 pbuckets) or
            # lost it — stamping the CURRENT layout would silently
            # grandfather unknown-layout data and a resume could
            # mis-bucket, the exact failure this guard exists to prevent.
            existing = ([] if not self.base.exists() else
                        [p.name for p in self.base.iterdir()
                         if p.name != marker.name])
            if existing:
                raise RuntimeError(
                    f"base_dir {self.base} contains stage output "
                    f"({sorted(existing)[:5]}...) but no _layout.json — "
                    "its bucket layout is unknown; use a fresh base_dir "
                    "(resuming unmarked data could mis-bucket)")
            self.base.mkdir(parents=True, exist_ok=True)
            marker.write_text(json.dumps(want))

    def _canon_stage(self, resume: bool = True) -> DataFrame:
        """Stage 4 with the optional cross-run cache (constructor doc).
        ``resume=False`` (the documented full-recompute path) rebuilds the
        stage table; an already-PUBLISHED cache (dir with ``_SUCCESS``) is
        kept as-is — cache content is a pure function of the catalog
        fingerprint, so a rebuild would republish identical bytes.  A
        cache dir WITHOUT ``_SUCCESS`` (half-written by a legacy
        non-atomic writer, or a crashed copy) is treated as ABSENT and
        replaced (rename-away + rename-in), so a stale husk never blocks
        publication.  Publication is atomic (write to a temp dir, rename
        into place) so concurrent pipelines sharing ``canon_cache_dir``
        never read a half-written cache."""
        fp3 = self._fp3()
        if self.canon_cache_dir is not None:
            cache = Path(self.canon_cache_dir) / f"canon_{fp3[:16]}"
            if resume and (cache / "_SUCCESS").exists():
                if not self.log.is_complete("canonicalize", fp3):
                    t0 = time.time()
                    if self.catalog:
                        self._write(self.spark.read.parquet(str(cache)),
                                    "canon")
                    else:
                        # the published cache IS the stage table's parquet
                        # layout — a filesystem copy is byte-identical and
                        # skips a whole Spark read->write job (several
                        # fixed job latencies on a catalog-sized table,
                        # paid on every fresh-base-dir run that hits a
                        # warm shared cache).  tmp + rename keeps the
                        # stage-dir publication atomic, same as the
                        # cache's own.
                        dst = Path(self._path("canon"))
                        tmp = dst.with_name(
                            f"canon.tmp-{os.getpid()}-{time.time_ns()}")
                        try:
                            shutil.copytree(cache, tmp)
                            if dst.exists():
                                shutil.rmtree(str(dst), ignore_errors=True)
                            tmp.rename(dst)
                        except OSError:
                            # don't orphan a canon.tmp-* inside base_dir on
                            # a mid-copy/rename failure; fall back to the
                            # Spark read->write path (slower, same bytes)
                            shutil.rmtree(str(tmp), ignore_errors=True)
                            self._write(
                                self.spark.read.parquet(str(cache)),
                                "canon")
                    self.log.record("canonicalize", fp3,
                                    self._read("canon"), time.time() - t0)
                return self._read("canon")
            out = self._run_stage(
                "canonicalize", fp3,
                lambda: canonicalize.canonical_map(self.spark, self.layer_map),
                "canon", resume=resume)
            tmp = cache.with_name(
                f"{cache.name}.tmp-{os.getpid()}-{time.time_ns()}")
            out.write.mode("overwrite").parquet(str(tmp))
            try:
                if cache.exists() and not (cache / "_SUCCESS").exists():
                    # half-written husk (legacy non-atomic writer / crash):
                    # rename it away so the fresh build can publish — a
                    # rename, not an in-place delete, so a concurrent
                    # reader of the husk (already wrong) can't see a
                    # partially-deleted tree.  The exists/_SUCCESS check
                    # is NOT atomic against a concurrent publication at
                    # the same path, so re-check AFTER the rename: if the
                    # grabbed dir turns out to hold _SUCCESS we raced a
                    # concurrent publisher and stole a VALID cache — put
                    # it back (or drop our copy if a third publisher
                    # already refilled the slot; content is a pure
                    # function of the fingerprint, so any published copy
                    # is interchangeable).
                    husk = cache.with_name(
                        f"{cache.name}.husk-{os.getpid()}-{time.time_ns()}")
                    try:
                        cache.rename(husk)
                    except OSError:
                        pass  # lost a rename race; fall through to the
                        # cache.exists() checks below
                    else:
                        if (husk / "_SUCCESS").exists():
                            try:
                                husk.rename(cache)
                            except OSError:
                                shutil.rmtree(str(husk),
                                              ignore_errors=True)
                        else:
                            shutil.rmtree(str(husk), ignore_errors=True)
                if cache.exists():
                    # a concurrent run already published an identical cache
                    # (content is a pure function of the fingerprint)
                    shutil.rmtree(str(tmp), ignore_errors=True)
                else:
                    tmp.rename(cache)
            except OSError:
                shutil.rmtree(str(tmp), ignore_errors=True)
            return out
        return self._run_stage(
            "canonicalize", fp3,
            lambda: canonicalize.canonical_map(self.spark, self.layer_map),
            "canon", resume=resume)

    # -- helpers ----------------------------------------------------------
    def _path(self, name: str) -> str:
        return str(self.base / name)

    def _iceberg_writer(self, df: DataFrame, name: str,
                        partition_by: list[str] | None):
        # identity partitions, pbucket included: Iceberg's bucket(N, url)
        # transform hashes with murmur3 seed 0, pbucket with Spark's seed
        # 42, so bucket(url) partitions would not line up with a chunk's
        # pbuckets and a chunk's overwritePartitions() would replace rows
        # of every other chunk.
        w = df.writeTo(f"{self.catalog}.{name}").using("iceberg")
        if partition_by:
            return w.partitionedBy(*[F.col(c) for c in partition_by])
        return w

    def _write(self, df: DataFrame, name: str, partition_by: list[str] | None = None,
               pre_partitioned: bool = False) -> None:
        if self.catalog:
            self._iceberg_writer(df, name, partition_by).createOrReplace()
            return
        if pre_partitioned:
            # the builder guarantees the plan is already
            # HashPartitioning(url, n_buckets)-clustered (or a union of
            # such branches): every task holds exactly one pbucket value
            # (see bucketed), so partitionBy writes one file per dir per
            # branch with NO write-side shuffle.
            pass
        elif partition_by == ["pbucket"]:
            # WIDE bucketed stage tables: pin the partition COUNT
            # (REPARTITION_BY_NUM).  A bare repartition(col) is
            # AQE-coalescible, and AQE's 64MB advisory size collapses the
            # zstd parquet encode to 1-2 tasks — a data-sized SERIAL tail
            # that capped the link stage at ~1.3x on 4 cores (measured at
            # 256k pages; the encode is CPU-bound, not IO).  pbucket is
            # uniform (pmod(murmur3(url), n) — see bucketed), so pinning
            # loses no skew handling.
            df = df.repartition(self.n_buckets, F.col("pbucket"))
        elif partition_by:
            # low-cardinality partition columns (pred): ALSO pinned.  A
            # rebalance hint was tried here and AQE's 64MB advisory
            # re-serialized the triples encode into 1 task on most runs
            # (materialize stage 31 s <-> 132 s across identical reps);
            # hashing the ~11 preds into n_buckets partitions gives ~8-10
            # stable write tasks (measured: materialize 66.8 -> 36.2 s at
            # 256k pages, local[4]).
            df = df.repartition(self.n_buckets, *[F.col(c) for c in partition_by])
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(self._path(name))

    def _read(self, name: str) -> DataFrame:
        if self.catalog:
            return self.spark.table(f"{self.catalog}.{name}")
        return self.spark.read.parquet(self._path(name))

    def _run_stage(self, stage: str, fp: str, build, name: str,
                   partition_by: list[str] | None = None,
                   resume: bool = True,
                   pre_partitioned: bool = False,
                   record_async: bool = False) -> DataFrame:
        """``record_async=True`` moves the lineage record's per-bucket
        count scan (a full extra pass over the just-written table) off
        the serial path onto a background thread, so the NEXT stage
        starts immediately — the data write is already committed, which
        is the only ordering the resume invariant needs (a crash before
        the deferred append just re-runs the stage idempotently on
        resume).  Appends are lock-serialized in LineageLog; the thread
        is joined in _join_records() before run() returns."""
        if resume and self.log.is_complete(stage, fp):
            return self._read(name)
        t0 = time.time()
        df = build()
        self._write(df, name, partition_by, pre_partitioned=pre_partitioned)
        out = self._read(name)
        wall = time.time() - t0
        if record_async:
            self._spawn_record(stage, lambda: self.log.record(
                stage, fp, out, wall))
        else:
            self.log.record(stage, fp, out, wall)
        return out

    def _spawn_record(self, stage: str, fn) -> None:
        """Run a deferred lineage record on a background thread, capturing
        any exception so _join_records can surface it (ADVICE r6: a
        silently-failed record leaves the stage's summary row missing —
        run() would report success while the next resume re-runs the
        stage and bench stage-wall attribution comes up short)."""
        import threading
        box: list[BaseException] = []

        def _run() -> None:
            try:
                fn()
            except BaseException as exc:
                box.append(exc)

        th = threading.Thread(target=_run, name=f"lineage-record-{stage}")
        th.start()
        self._record_threads.append((th, box))

    def _join_records(self) -> None:
        import warnings
        while self._record_threads:
            th, box = self._record_threads.pop()
            th.join()
            if box:
                warnings.warn(
                    f"deferred lineage record {th.name!r} failed: "
                    f"{box[0]!r} — the stage's summary row is missing, so "
                    "the next resume will re-run that stage (idempotent) "
                    "and its per-stage wall is absent from metrics()")

    def _run_link_stage(self, fp: str, build, resume: bool = True
                        ) -> DataFrame:
        """Link stage runner: writes the linked table and the residual
        side table as CONCURRENT jobs (the reference's thread-parallel
        driver, L7/E3, applied at the job level — Spark's FIFO scheduler
        interleaves their tasks).  The residual job is latency-dominated
        (narrow anti-join + small write), so overlapping it under the
        linked write removes a serial tail at higher parallelism while
        costing nothing at one thread.  The shared ``links`` subplan is
        persisted by the builder (a cache race at worst duplicates that
        narrow compute) and unpersisted once both writes end.  The lineage
        row is recorded only after BOTH writes commit, preserving resume
        atomicity."""
        import threading

        if resume and self.log.is_complete("link", fp):
            return self._read("linked")
        t0 = time.time()
        merged, residual, links = build()
        err: list[BaseException] = []

        def _res() -> None:
            try:
                self._write(residual, "links_residual",
                            partition_by=["pbucket"], pre_partitioned=True)
            except BaseException as exc:  # surfaced after join
                err.append(exc)

        th = threading.Thread(target=_res, name="links-residual-write")
        th.start()
        try:
            self._write(merged, "linked", partition_by=["pbucket"],
                        pre_partitioned=True)
        finally:
            th.join()
            links.unpersist()
        if err:
            raise err[0]
        out = self._read("linked")
        wall = time.time() - t0
        # deferred like the mention record (_run_stage record_async):
        # both writes are committed; the count scan overlaps materialize
        self._spawn_record("link", lambda: self.log.record(
            "link", fp, out, wall))
        return out

    def _fp3(self) -> str:
        """Canonicalize-stage fingerprint — the SINGLE definition (it keys
        both the lineage rows and the cross-run canon cache; a second
        copy that drifted would silently desynchronize cache hits from
        lineage skips).  CANON_ALGO_VERSION folds code changes into the
        key that the catalog fingerprint cannot see."""
        return fingerprint(self._catalog_fp, "canonicalize",
                           canonicalize.CANON_ALGO_VERSION)

    def _fps(self) -> tuple[str, str, str, str, str]:
        """The stage fingerprint chain (fp0..fp4) for the current config."""
        fp0 = fingerprint(self._catalog_fp, self.lang, "extract")
        if self.fuse_extract:
            fp1 = fingerprint(fp0, NER_MATCH_SCORE, "mention", "fused")
        else:
            fp1 = fingerprint(fp0, NER_MATCH_SCORE, "mention")
        fp2 = fingerprint(fp1, self.semantic, self.sim_threshold, "link")
        fp3 = self._fp3()
        fp4 = fingerprint(fp2, fp3, "materialize")
        return fp0, fp1, fp2, fp3, fp4

    def _write_buckets(self, df: DataFrame, name: str,
                       partition_col: str = "pbucket") -> None:
        """Exactly-once per-partition write for incremental chunks: dynamic
        partition overwrite replaces exactly the chunk's partitions, so a
        retry after a kill between data-commit and lineage-append rewrites
        the same partitions instead of appending duplicates."""
        if self.catalog:
            tbl = f"{self.catalog}.{name}"
            if self.spark.catalog.tableExists(tbl):
                # Iceberg's native dynamic overwrite: replaces exactly the
                # chunk's pbucket partitions (_iceberg_writer)
                df.writeTo(tbl).overwritePartitions()
            else:
                self._iceberg_writer(df, name, [partition_col]).create()
            return
        (df.repartition(self.n_buckets, F.col(partition_col))
         .write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy(partition_col)
         .parquet(self._path(name)))

    def _mentions(self, src: DataFrame, from_html: bool) -> DataFrame:
        """Stage-2 builder.  ``from_html``: ``src`` is pages and E1 runs
        inside the mention UDF (lang filter here); otherwise ``src`` is
        the extract stage's docs table (already lang-filtered)."""
        if from_html:
            if self.lang is not None:
                src = src.filter(F.col("lang") == self.lang)
            src = src.select("url", "html")
        else:
            src = src.drop("pbucket")
        return bucketed(mention.detect_mentions(
            src, self.layer_map, from_html=from_html), self.n_buckets)

    # -- stages -----------------------------------------------------------
    def run(self, pages: DataFrame, resume: bool = True) -> DataFrame:
        """All five stages, each written whole, skipping stages whose
        fingerprint already completed (``resume``).  Mention, link and
        materialize use the same builders as the chunked ``run_*_incremental``
        methods (``_mentions``, ``link_stage`` with inline BM25 globals,
        ``materialize_triples``); returns the triples table."""
        # Batch stage-1/2 writes keep the pbucket COLUMN but skip the
        # bucketing repartition + partitionBy dirs: the mention UDF output
        # streams straight from the scan-aligned tasks into parquet — no
        # wide shuffle of sentence-bearing rows just to lay out dirs the
        # batch path never prunes on.  (link_stage establishes its own url
        # partitioning from the scan.)  The per-bucket layout matters
        # only for chunked-incremental resume, whose writer
        # (_write_buckets) produces it; reads work identically on either
        # layout because pbucket is a column filter there, with dir
        # pruning as a bonus when dirs exist.
        #
        # Canon overlap: stage 4 is CATALOG-derived (canonical_map never
        # reads the corpus), yet ran serially between link and
        # materialize — several seconds of catalog-sized pointer-jumping
        # job latency in the timed span of every fresh run.  Build it on
        # a background thread under the CPU-bound mention/link stages
        # (the reference's thread-parallel driver, L7/E3, same machinery
        # as the residual-write overlap): its tiny jobs interleave with
        # the mention UDF tasks at near-zero wall cost.  Lineage appends
        # are lock-serialized (LineageLog._append), and the canon stage
        # writes only its own paths, so the overlap is race-free.
        import threading

        canon_box: dict[str, object] = {}

        def _canon_bg() -> None:
            try:
                canon_box["df"] = self._canon_stage(resume)
            except BaseException as exc:
                canon_box["err"] = exc

        canon_th = threading.Thread(target=_canon_bg, name="canon-stage")
        canon_th.start()
        try:
            return self._run_body(pages, resume, canon_th, canon_box)
        finally:
            # join canon + deferred records on EVERY exit path (ADVICE
            # r6): a mention-stage failure must not leave the canon
            # thread racing a caller's spark.stop(), and a canon failure
            # that loses to another exception should still be visible.
            canon_th.join()
            self._join_records()
            if "err" in canon_box:
                import sys
                import warnings
                exc = sys.exc_info()[1]
                if exc is not None and exc is not canon_box["err"]:
                    warnings.warn(
                        "canon stage ALSO failed (suppressed in favor of "
                        f"the propagating error): {canon_box['err']!r}")

    def _run_body(self, pages: DataFrame, resume: bool,
                  canon_th, canon_box: dict) -> DataFrame:
        fp0, fp1, fp2, _fp3, fp4 = self._fps()
        src = pages
        if not self.fuse_extract:
            src = self._run_stage(
                "extract", fp0,
                lambda: bucketed(extract_docs(pages, self.lang),
                                 self.n_buckets),
                "docs", resume=resume)
        stage2 = self._run_stage(
            "mention", fp1, lambda: self._mentions(src, self.fuse_extract),
            "mentions", resume=resume, record_async=True)

        # BM25 globals inline (link_stage without frozen stats): df is
        # catalog-bounded (its keys are catalog entity names), so it
        # broadcasts — which keeps the tf stream's url partitioning intact
        # — and its build subtree shares the url-repartition exchange with
        # the main scored stream (ReuseExchange), so no extra pass over the
        # wide table and no aux-table write jobs.  The chunked path
        # (run_link_incremental) freezes them to parquet instead, where
        # cross-session exactness requires it.
        def build_linked():
            return link_stage(stage2, self.layer_map, self.n_buckets,
                              semantic=self.semantic,
                              threshold=self.sim_threshold)

        try:
            linked = self._run_link_stage(fp2, build_linked, resume=resume)
        finally:
            # join before materialize (and on a link failure, before the
            # exception propagates); a mention-stage failure lets the
            # canon thread finish on its own — it writes only its own
            # stage paths, idempotently, and is joined at interpreter
            # shutdown (non-daemon)
            canon_th.join()
        residual = self._read("links_residual")

        if "err" in canon_box:
            raise canon_box["err"]  # noqa: B904 — original stage error
        canon = canon_box["df"]

        triples = self._run_stage(
            "materialize", fp4,
            lambda: materialize.materialize_triples(
                materialize.evidence_rows(linked, residual, canon),
                partitions=self.n_buckets),
            "triples", partition_by=["pred"], resume=resume)
        self._join_records()
        return triples

    def triples(self) -> DataFrame:
        return self._read("triples")

    # -- per-partition incremental execution --------------------------------
    def _pending_chunks(self, stage: str, fp: str, n_chunks: int
                        ) -> tuple[list[list[int]], float]:
        """The stage's pending bucket chunks, and the summed wall of the
        chunks an earlier (interrupted) call already wrote."""
        done, wall = self.log.chunk_progress(stage, fp)
        pending = [b for b in range(self.n_buckets) if b not in done]
        size = max(1, (self.n_buckets + n_chunks - 1) // n_chunks)
        chunks = [pending[i:i + size] for i in range(0, len(pending), size)]
        return chunks, wall

    def _run_chunks(self, stage: str, fp: str, n_chunks: int,
                    max_chunks: int | None, write_chunk) -> float | None:
        """Write the stage's pending bucket chunks, one per-bucket lineage
        checkpoint after each.  ``write_chunk(chunk)`` writes exactly-once
        (``_write_buckets``) and returns {bucket: n_rows}.  Returns the sum
        of all the stage's chunk walls, each chunk counted once, or None
        when ``max_chunks`` (test hook to simulate interruption) stopped
        it before the last chunk."""
        chunks, wall = self._pending_chunks(stage, fp, n_chunks)
        for i, chunk in enumerate(chunks):
            if max_chunks is not None and i >= max_chunks:
                return None
            t0 = time.time()
            counts = write_chunk(chunk)
            dt = time.time() - t0
            self.log.record_buckets(stage, fp, counts, dt)
            wall += dt
        return wall

    def _chunk_counts(self, name: str, chunk: list[int]) -> dict[int, int]:
        counts = {r["pbucket"]: r["n"] for r in
                  self._read(name).filter(F.col("pbucket").isin(chunk))
                  .groupBy("pbucket").agg(F.count("*").alias("n"))
                  .collect()}
        # buckets with zero rows still checkpoint
        return {b: counts.get(b, 0) for b in chunk}

    def _finish_chunks(self, stage: str, fp: str, name: str,
                       chunk_wall: float, t0: float) -> None:
        """Summary row of a chunked stage: the rows of its table, and as
        wall its chunk walls plus the finishing step since ``t0``."""
        n_rows = self._read(name).count()
        self.log.record_summary(stage, fp, n_rows,
                                chunk_wall + time.time() - t0)

    def run_mention_incremental(self, pages: DataFrame,
                                n_chunks: int = 4,
                                max_chunks: int | None = None) -> bool:
        """Execute the mention stage in bucket-group chunks with a
        per-bucket lineage checkpoint after each chunk — the north-star
        resume mechanism: kill the job between chunks and a re-run skips
        the completed buckets and rewrites only the missing ones.  E1 runs
        inside the mention UDF (byte-identical to the extract stage), so
        the rows equal either batch mode's.  Idempotence: dynamic
        partition overwrite (``_write_buckets``), so a kill between a
        chunk's commit and its lineage rows re-writes that chunk's buckets
        instead of appending duplicates.

        ``max_chunks`` processes at most that many chunks (test hook to
        simulate interruption).  Returns True when the stage is complete
        (summary lineage row written).
        """
        _fp0, fp1, _fp2, _fp3, _fp4 = self._fps()
        if self.log.is_complete("mention", fp1):
            return True
        src = bucketed(pages, self.n_buckets)

        def write_chunk(chunk: list[int]) -> dict[int, int]:
            self._write_buckets(self._mentions(
                src.filter(F.col("pbucket").isin(chunk)), from_html=True),
                "mentions")
            return self._chunk_counts("mentions", chunk)

        wall = self._run_chunks("mention", fp1, n_chunks, max_chunks,
                                write_chunk)
        if wall is None:
            return False
        self._finish_chunks("mention", fp1, "mentions", wall, time.time())
        return True

    def run_link_incremental(self, n_chunks: int = 4,
                             max_chunks: int | None = None) -> bool:
        """Bucket-chunked link stage (``link_stage`` per chunk) with
        per-bucket lineage resume.

        The link stage consumes corpus-GLOBAL BM25 statistics (m, avgdl,
        df) — naive per-chunk scoring would compute wrong idf — so the
        globals are materialized ONCE from the complete mention table
        (link_aux_stats/link_aux_df, guarded by a lineage row) and every
        chunk scores against the frozen tables.  Everything else in the
        stage (tf, dl, link generation, L6 merge, residuals) is url-local,
        so chunking by url-bucket is exact.  Chunk writes use dynamic
        partition overwrite: a retry rewrites its partitions idempotently.
        """
        _fp0, _fp1, fp2, _fp3, _fp4 = self._fps()
        if self.log.is_complete("link", fp2):
            return True
        stage2 = self._read("mentions")

        aux_fp = fingerprint(fp2, "link_aux")
        if not self.log.is_complete("link_aux", aux_fp):
            t0 = time.time()
            stats, df_ = bm25.bm25_global_stats(
                mention.mentions_view(stage2),
                mention.doc_lengths_view(stage2))
            self._write(stats, "link_aux_stats")
            self._write(df_, "link_aux_df")
            self.log.record_summary("link_aux", aux_fp, 1, time.time() - t0)
        stats = self._read("link_aux_stats")
        df_ = self._read("link_aux_df")

        # a chunk holds only len(chunk) of the n_buckets pbuckets, so a
        # url repartition into n_buckets would leave the rest empty
        n_part = int(self.spark.conf.get("spark.sql.shuffle.partitions"))

        def write_chunk(chunk: list[int]) -> dict[int, int]:
            merged, residual, links = link_stage(
                stage2.filter(F.col("pbucket").isin(chunk)), self.layer_map,
                self.n_buckets, semantic=self.semantic,
                threshold=self.sim_threshold, stats=stats, df_=df_,
                partitions=n_part)
            try:
                self._write_buckets(merged, "linked")
                self._write_buckets(residual, "links_residual")
            finally:
                links.unpersist()
            return self._chunk_counts("linked", chunk)

        wall = self._run_chunks("link", fp2, n_chunks, max_chunks,
                                write_chunk)
        if wall is None:
            return False
        self._finish_chunks("link", fp2, "linked", wall, time.time())
        return True

    def run_materialize_incremental(self, n_chunks: int = 4,
                                    max_chunks: int | None = None) -> bool:
        """Bucket-chunked materialize with merge-on-append: each chunk
        writes an exact PARTIAL triple aggregate (k-smallest sources,
        distinct-source count, best justification, max score — all
        mergeable because chunks partition the corpus by url), and the
        final merge reduces the partials into the triples table.  Identical
        output to single-shot materialize_triples (tested)."""
        _fp0, _fp1, _fp2, _fp3, fp4 = self._fps()
        if self.log.is_complete("materialize", fp4):
            return True
        linked = self._read("linked")
        residual = self._read("links_residual")
        canon = self._canon_stage(resume=True)

        def write_chunk(chunk: list[int]) -> dict[int, int]:
            ev = materialize.evidence_rows(
                linked.filter(F.col("pbucket").isin(chunk)),
                residual.filter(F.col("pbucket").isin(chunk)),
                canon)
            part = (materialize.partial_triples(ev, partitions=self.n_buckets)
                    .withColumn("chunk_key", F.lit(min(chunk))))
            self._write_buckets(part, "triples_partial",
                                partition_col="chunk_key")
            n_part = self._read("triples_partial").filter(
                F.col("chunk_key") == min(chunk)).count()
            return {b: n_part for b in chunk}

        wall = self._run_chunks("materialize", fp4, n_chunks, max_chunks,
                                write_chunk)
        if wall is None:
            return False
        t0 = time.time()
        triples = materialize.merge_partial_triples(
            self._read("triples_partial").drop("chunk_key"))
        self._write(triples, "triples", partition_by=["pred"])
        self._finish_chunks("materialize", fp4, "triples", wall, t0)
        return True
