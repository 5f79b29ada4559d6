"""The benchmark's workloads.

Each workload is a class with the same four steps:

* ``setup()`` generates and writes its inputs from the seed;
* ``iterate(dir)`` runs one untraced iteration through the public entry
  point and returns an ``Iteration`` (wall seconds and the output digest,
  per query for ``dedup_leaves``);
* ``traced(tracer, dir)`` runs one iteration by calling each layer's public
  functions itself, in the pipeline's order, forcing each layer's result
  before the next layer reads it, and returns the output digest;
* ``expected()`` computes the reference digest with an independent
  implementation (run after Spark has stopped, outside every timing).

Spark work is driven only through ``Pipeline``, the ``operators`` modules,
``queries.SPARK_QUERIES`` and ``sources.pages.pages_df``.
"""

from __future__ import annotations

import hashlib
import json
import math
import time
from dataclasses import dataclass, field
from pathlib import Path

from pyspark.sql import functions as F

from apt_bron_re_spark.catalog.synthetic import build_layer_map
from apt_bron_re_spark.config import BM25_LABELS, SIM_THRESHOLD
from apt_bron_re_spark.operators import (
    bm25, canonicalize, linking, materialize, mention)
from apt_bron_re_spark.plans.lineage import LineageLog, fingerprint
from apt_bron_re_spark.plans.pipeline import Pipeline
from apt_bron_re_spark.operators.dedup import (
    minhash_candidates, ngram_jaccard_pairs)
from apt_bron_re_spark.queries import ORACLES, SPARK_QUERIES, load_spread
from apt_bron_re_spark.sources.pages import pages_df

from datagen import write_tables

MB = 1024 * 1024


@dataclass
class Iteration:
    wall_s: float
    n_in: int
    n_out: int
    digest: str | dict[str, str]
    info: dict = field(default_factory=dict)


def digest(rows) -> str:
    return hashlib.sha256(
        json.dumps(sorted(rows), default=str).encode()).hexdigest()


def dir_size(path: Path, data_only: bool = False) -> tuple[int, int]:
    """(files, bytes) under ``path``; ``data_only`` skips the '_'/'.'
    marker, checksum and temp files that Spark readers ignore."""
    files = size = 0
    for p in Path(path).rglob("*"):
        if p.is_file() and not (data_only and p.name[0] in "_."):
            files += 1
            size += p.stat().st_size
    return files, size


def force(df):
    """Persist and count ``df`` so later layers read the computed result;
    returns (df, rows)."""
    df = df.persist()
    return df, df.count()


# --------------------------------------------------------------------------
# kg_batch: the five-stage pipeline, batch mode
# --------------------------------------------------------------------------

def triple_row(subj, pred, obj, sources, n_sources, score, justification):
    return (subj, pred, obj, sorted(sources), n_sources, score,
            justification)


class KgBatch:
    """``Pipeline.run`` over a synthetic page corpus, in bench.py's shape
    (fused extract, fresh base dir, resume off) at 100 pages, 4 buckets."""

    name = "kg_batch"
    sizes = {"full": {"pages": 100}, "tiny": {"pages": 50}}
    n_buckets = 4

    def __init__(self, spark, work: Path, seed: int, size: str) -> None:
        self.spark, self.work, self.seed = spark, work, seed
        self.n_pages = self.sizes[size]["pages"]
        self.layer_map = build_layer_map()

    def setup(self) -> None:
        path = str(self.work / "pages")
        pages_df(self.spark, self.n_pages, self.seed).write.mode(
            "overwrite").parquet(path)
        self.pages = self.spark.read.parquet(path)

    def _digest(self, triples) -> str:
        return digest(triple_row(r.subj, r.pred, r.obj, r.sources,
                                 r.n_sources, r.score, r.justification)
                      for r in triples.collect())

    def iterate(self, base: Path) -> Iteration:
        t0 = time.perf_counter()
        pipe = Pipeline(self.spark, self.layer_map, base,
                        n_buckets=self.n_buckets, fuse_extract=True)
        triples = pipe.run(self.pages, resume=False)
        n = triples.count()
        wall = time.perf_counter() - t0
        stage_walls = {r.stage: r.wall_s for r in
                       pipe.log.metrics().filter("bucket = -1").collect()}
        return Iteration(wall, self.n_pages, n, self._digest(triples), {
            "stage_mb": dir_size(base)[1] / MB,
            "stage_wall_s": stage_walls})

    def traced(self, tr, base: Path) -> str:
        with tr.span(self.name):
            triples = self._layers(tr, base)
        out = self._digest(triples)
        self.spark.catalog.clearCache()
        return out

    def _layers(self, tr, base: Path):
        spark, nb = self.spark, self.n_buckets
        log = LineageLog(spark, base)

        def bucketed(df):
            return df.withColumn(
                "pbucket", F.pmod(F.hash(F.col("url")), F.lit(nb)).cast("int"))

        def write(df, name, partition_by=None, repartition=False):
            path = base / name
            with tr.span("pipeline"):
                if repartition:
                    df = df.repartition(nb, *partition_by)
                w = df.write.mode("overwrite")
                if partition_by:
                    w = w.partitionBy(*partition_by)
                w.parquet(str(path))
            files, size = dir_size(path, data_only=True)
            tr.add("pipeline.files_written", files)
            tr.add("pipeline.bytes_written_mb", size / MB)
            return spark.read.parquet(str(path))

        def record(stage, out, t0):
            with tr.span("lineage"):
                log.record(stage, fingerprint("perfbench", stage), out,
                           time.perf_counter() - t0)
            tr.add("lineage.calls", 1)

        t0 = time.perf_counter()
        with tr.span("mention"):
            found, rows = force(bucketed(mention.detect_mentions(
                self.pages.filter(F.col("lang") == "en").select("url", "html"),
                self.layer_map, from_html=True)))
        tr.add("mention.rows_out", rows)
        stage2 = write(found, "mentions")
        record("mention", stage2, t0)

        t0 = time.perf_counter()
        with tr.span("canonicalize"):
            canon, _ = force(canonicalize.canonical_map(spark, self.layer_map))
        canon = write(canon, "canon")
        record("canonicalize", canon, t0)

        t0 = time.perf_counter()
        st = stage2.repartition(nb, F.col("url"))
        m = mention.mentions_view(st)
        dls = mention.doc_lengths_view(st)
        with tr.span("bm25"):
            stats, df_ = bm25.bm25_global_stats(m, dls)
            stats, _ = force(stats)
            df_, _ = force(df_)
            scored, passthrough = bm25.add_bm25_frozen_split(
                m, dls, stats, df_)
            scored, _ = force(scored)
            passthrough, _ = force(passthrough)
        with tr.span("linking"):
            residues, n_res = force(mention.residue_view(st))
            links, n_links = force(linking.build_links(
                residues, self.layer_map, semantic=True,
                threshold=SIM_THRESHOLD))
            keys = m.select(
                "url", "category",
                F.lower(F.coalesce("original_id", F.lit(""))).alias("oid_l")
            ).distinct()
            may_link = bool((set(self.layer_map)
                             - linking.LINKED_LABELS_EXCLUDE)
                            - set(BM25_LABELS))
            merged_s, merged_p, residual = linking.merge_links_split(
                scored, passthrough, links, mention_keys=keys,
                passthrough_may_link=may_link)
            merged, _ = force(bucketed(merged_s).unionByName(
                bucketed(merged_p)))
            residual, _ = force(bucketed(residual))
        tr.add("linking.residues_in", n_res)
        tr.add("linking.links_out", n_links)
        linked = write(merged, "linked", ["pbucket"])
        residual = write(residual, "links_residual", ["pbucket"])
        record("link", linked, t0)

        t0 = time.perf_counter()
        with tr.span("materialize"):
            ev, n_ev = force(
                materialize.evidence_rows(linked, residual, canon))
            triples, n_tr = force(materialize.materialize_triples(
                ev, partitions=nb))
        tr.add("materialize.evidence_in", n_ev)
        tr.add("materialize.triples_out", n_tr)
        triples = write(triples, "triples", ["pred"], repartition=True)
        record("materialize", triples, t0)
        return triples

    def expected(self) -> str:
        import ref_interpreter
        return digest(triple_row(
            t["subj"], t["pred"], t["obj"], t["sources"], t["n_sources"],
            t["score"], t["justification"])
            for t in ref_interpreter.interpret(self.n_pages, self.seed))


# --------------------------------------------------------------------------
# dedup_leaves: training-data operators, every KG layer idle
# --------------------------------------------------------------------------

# Six of the registry's ten dedup leaves, to keep one run near a minute.
# near_dup_pipeline and minhash_dedup are prefixes of near_dup_clusters
# (minhash_candidates -> ngram_jaccard_pairs -> CC), whose funnel counts
# the traced run reports; simhash_docs and ann_ivf_topk are left out.
LEAVES = ["near_dup_clusters", "shared_passages", "ngram_jaccard_dups",
          "embedding_near_dups", "ann_lsh_topk", "connected_components"]


def normalize(pdf) -> list[tuple]:
    """Order-insensitive row form shared by the Spark result and its DuckDB
    oracle: columns sorted by name, floats to 6 decimals, timestamps
    ISO-formatted, everything else ``str``."""
    pdf = pdf[sorted(pdf.columns)]
    rows = []
    for tup in pdf.itertuples(index=False):
        row = []
        for v in tup:
            if isinstance(v, float):
                row.append("nan" if math.isnan(v) else f"{v:.6f}")
            elif hasattr(v, "isoformat"):
                row.append(v.isoformat())
            else:
                row.append(str(v))
        rows.append(tuple(row))
    return sorted(rows)


class DedupLeaves:
    """Six dedup / near-dup / ANN / CC registry queries over seeded
    documents, embeddings and events tables, each collected to the
    driver.  The output digest is per query."""

    name = "dedup_leaves"
    sizes = {"full": {"docs": 100, "vecs": 100, "events": 500, "users": 30},
             "tiny": {"docs": 50, "vecs": 50, "events": 200, "users": 10}}

    def __init__(self, spark, work: Path, seed: int, size: str) -> None:
        self.spark, self.work, self.seed = spark, work, seed
        self.size = self.sizes[size]
        self.data = work / "tables"

    def setup(self) -> None:
        s = self.size
        write_tables(self.data, self.seed, s["docs"], s["vecs"], s["events"],
                     s["users"])

    def _run(self, name: str):
        return SPARK_QUERIES[name](self.spark, str(self.data)).toPandas()

    def _digest(self, results: dict) -> dict[str, str]:
        return {q: digest(normalize(pdf)) for q, pdf in results.items()}

    def iterate(self, _base: Path) -> Iteration:
        t0 = time.perf_counter()
        results = {q: self._run(q) for q in LEAVES}
        wall = time.perf_counter() - t0
        # the output unit is an answered query: row counts depend on the
        # seed, so rows per second would not compare across seeds
        return Iteration(wall, self.size["docs"], len(results),
                         self._digest(results),
                         {"rows": {q: len(r) for q, r in results.items()}})

    def traced(self, tr, _base: Path) -> dict[str, str]:
        results = {}
        with tr.span(self.name):
            for q in LEAVES:
                with tr.span(f"leaf.{q}"):
                    results[q] = self._run(q)
        # near_dup_clusters' LSH -> verify funnel, counted outside the spans
        docs = load_spread(self.spark, str(self.data), "documents")
        cands = minhash_candidates(docs).select("a_id", "b_id")
        tr.add("leaf.near_dup_clusters.candidates", cands.count())
        tr.add("leaf.near_dup_clusters.verified",
               ngram_jaccard_pairs(docs, cands, threshold=0.8).count())
        return self._digest(results)

    def expected(self) -> dict[str, str]:
        import duckdb
        con = duckdb.connect()
        try:
            for t in ("documents", "embeddings", "events"):
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{self.data}/{t}.parquet'")
            return self._digest({q: con.sql(ORACLES[q]).df() for q in LEAVES})
        finally:
            con.close()


WORKLOADS = {"kg_batch": KgBatch, "dedup_leaves": DedupLeaves}
