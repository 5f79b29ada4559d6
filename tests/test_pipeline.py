"""End-to-end 5-stage pipeline: structural checks, determinism, lineage,
and idempotent resume (SURVEY.md §5 resume/idempotency tests)."""

import pytest
from pyspark.sql import functions as F

from apt_bron_re_spark.plans.pipeline import Pipeline
from apt_bron_re_spark.sources.pages import pages_df

N_PAGES = 40


@pytest.fixture(scope="module")
def base_dir(tmp_path_factory):
    return tmp_path_factory.mktemp("stages")


@pytest.fixture(scope="module")
def pipeline(spark, layer_map, base_dir):
    return Pipeline(spark, layer_map, base_dir, n_buckets=8)


@pytest.fixture(scope="module")
def triples(spark, pipeline):
    pages = pages_df(spark, N_PAGES)
    return pipeline.run(pages).cache()


def test_triples_shape(triples):
    assert triples.count() > 0
    assert set(triples.columns) == {
        "subj", "pred", "obj", "sources", "n_sources", "justification",
        "score"}
    preds = {r.pred for r in triples.select("pred").distinct().collect()}
    assert "uses" in preds and "exploits" in preds


def test_hub_entity_has_edges(triples):
    hub = triples.filter("subj = 'G0106'")
    assert hub.count() > 0
    # hub appears in ~30% of pages -> multi-source edges exist
    assert hub.filter(F.size("sources") >= 2).count() > 0


def test_canonical_ids_in_triples(triples):
    # G0104 merged into G0102 (shared alias) -> never appears as subject
    assert triples.filter("subj = 'G0104'").count() == 0


def test_lineage_recorded(pipeline, triples):
    lin = pipeline.log.metrics()
    stages = {r.stage for r in lin.select("stage").distinct().collect()}
    assert stages == {"extract", "mention", "link", "canonicalize",
                      "materialize"}
    # per-bucket rows + summary row for the bucketed stages
    ext = lin.filter("stage = 'extract'")
    assert ext.filter("bucket = -1").count() == 1
    assert ext.filter("bucket >= 0").count() > 1


def test_resume_skips_and_is_identical(spark, pipeline, triples, base_dir):
    lin_before = pipeline.log.metrics().count()
    pages = pages_df(spark, N_PAGES)
    again = pipeline.run(pages, resume=True)
    # resumed run appended no lineage rows (all stages skipped)
    assert pipeline.log.metrics().count() == lin_before

    t1 = {(r.subj, r.pred, r.obj, tuple(r.sources)) for r in triples.collect()}
    t2 = {(r.subj, r.pred, r.obj, tuple(r.sources)) for r in again.collect()}
    assert t1 == t2


def test_rerun_without_resume_is_deterministic(spark, layer_map, triples,
                                               tmp_path_factory):
    base2 = tmp_path_factory.mktemp("stages2")
    p2 = Pipeline(spark, layer_map, base2, n_buckets=8)
    t2 = p2.run(pages_df(spark, N_PAGES), resume=False)
    a = {(r.subj, r.pred, r.obj, tuple(r.sources), r.score)
         for r in triples.collect()}
    b = {(r.subj, r.pred, r.obj, tuple(r.sources), r.score)
         for r in t2.collect()}
    assert a == b


def test_linked_write_is_shuffle_free_aligned(pipeline, triples, base_dir):
    """The linked stage writes WITHOUT a write-side repartition; that is
    only lossless because pbucket == pmod(murmur3(url), n) == the
    HashPartitioning partition id, making every task pbucket-pure.  If
    the alignment breaks, each of the 2*n_buckets tasks sprays files
    into many dirs — so <= 2 files per dir (one per union branch) IS the
    alignment proof."""
    import glob
    import os
    dirs = glob.glob(str(base_dir / "linked" / "pbucket=*"))
    assert dirs
    for d in dirs:
        n_files = len(glob.glob(os.path.join(d, "*.parquet")))
        assert 1 <= n_files <= 2, f"{d}: {n_files} files (misaligned write)"
    # batch mention stage keeps the pbucket COLUMN but skips the bucketing
    # shuffle entirely — no partition dirs
    assert not glob.glob(str(base_dir / "mentions" / "pbucket=*"))


def test_fused_extract_mode_identical(spark, layer_map, triples,
                                      tmp_path_factory):
    # fuse_extract runs E1 inside the mention UDF; triples must be
    # identical to the staged mode.
    base3 = tmp_path_factory.mktemp("stages_fused")
    p3 = Pipeline(spark, layer_map, base3, n_buckets=8, fuse_extract=True)
    t3 = p3.run(pages_df(spark, N_PAGES), resume=False)
    a = {(r.subj, r.pred, r.obj, tuple(r.sources), r.score)
         for r in triples.collect()}
    b = {(r.subj, r.pred, r.obj, tuple(r.sources), r.score)
         for r in t3.collect()}
    assert a == b
    # and the docs table was never written
    import os
    assert not os.path.exists(str(base3 / "docs"))


def test_layout_marker_fails_fast_on_mismatch(spark, layer_map,
                                              tmp_path_factory):
    """A base_dir written under a different bucket layout (or n_buckets)
    must fail fast at construction — silent resume would mis-bucket
    (round-4 advice: the crc32 -> murmur3 pbucket change)."""
    import json

    base = tmp_path_factory.mktemp("layout_base")
    Pipeline(spark, layer_map, base, n_buckets=8)
    # same layout + same n: fine
    Pipeline(spark, layer_map, base, n_buckets=8)
    with pytest.raises(RuntimeError, match="mis-bucket"):
        Pipeline(spark, layer_map, base, n_buckets=16)
    # simulate a pre-round-3 crc32 base_dir
    (base / "_layout.json").write_text(json.dumps(
        {"layout": "pbucket=crc32(url)%n_buckets", "n_buckets": 8}))
    with pytest.raises(RuntimeError, match="mis-bucket"):
        Pipeline(spark, layer_map, base, n_buckets=8)


def test_canon_cache_honors_resume_false(spark, layer_map,
                                         tmp_path_factory):
    """resume=False rebuilds the canonical map even when a canon cache
    exists (round-4 advice: the full-recompute path previously
    short-circuited to the cached parquet).  An already-PUBLISHED cache
    (_SUCCESS present) is KEPT, not republished — content is a pure
    function of the fingerprint (round-5 advice: docstring/test comment
    used to claim republication)."""
    cache_root = tmp_path_factory.mktemp("canon_cache")
    base = tmp_path_factory.mktemp("canon_base")
    pipe = Pipeline(spark, layer_map, base, n_buckets=8,
                    canon_cache_dir=cache_root)
    want = {(r.label, r.original_id, r.canon_id)
            for r in pipe._canon_stage().collect()}

    # poison the published cache: a stale/corrupt entry under the same
    # fingerprint (simulates a concurrent half-state or operator edit)
    import glob
    cache_dir = glob.glob(str(cache_root / "canon_*"))[0]
    spark.createDataFrame(
        [("group", "BOGUS", "BOGUS")],
        "label string, original_id string, canon_id string"
    ).coalesce(1).write.mode("overwrite").parquet(cache_dir)
    poisoned = {(r.label, r.original_id, r.canon_id)
                for r in spark.read.parquet(cache_dir).collect()}
    assert poisoned != want

    pipe2 = Pipeline(spark, layer_map, tmp_path_factory.mktemp("canon_b2"),
                     n_buckets=8, canon_cache_dir=cache_root)
    got = {(r.label, r.original_id, r.canon_id)
           for r in pipe2._canon_stage(resume=False).collect()}
    assert got == want
    # resume=True on a fresh pipeline still uses the (re-valid) cache fast
    # path; the poisoned cache was NOT republished over (cache existed),
    # so the fast path is only safe after an explicit rebuild republishes
    # it — delete + rebuild republishes atomically
    import shutil
    shutil.rmtree(cache_dir)
    pipe3 = Pipeline(spark, layer_map, tmp_path_factory.mktemp("canon_b3"),
                     n_buckets=8, canon_cache_dir=cache_root)
    pipe3._canon_stage(resume=False)
    republished = {(r.label, r.original_id, r.canon_id)
                   for r in spark.read.parquet(cache_dir).collect()}
    assert republished == want


def test_canon_cache_husk_replaced(spark, layer_map, tmp_path_factory):
    """A cache dir WITHOUT _SUCCESS (half-written by a legacy non-atomic
    writer or a crashed copy) is treated as absent: the rebuild replaces
    it instead of being permanently blocked (round-5 advice)."""
    import glob
    import json as _json

    cache_root = tmp_path_factory.mktemp("canon_cache_husk")
    pipe = Pipeline(spark, layer_map, tmp_path_factory.mktemp("husk_b1"),
                    n_buckets=8, canon_cache_dir=cache_root)
    want = {(r.label, r.original_id, r.canon_id)
            for r in pipe._canon_stage().collect()}
    cache_dir = glob.glob(str(cache_root / "canon_*"))[0]

    # degrade the published cache to a husk: drop _SUCCESS, corrupt data
    import os
    os.remove(os.path.join(cache_dir, "_SUCCESS"))
    with open(os.path.join(cache_dir, "junk.txt"), "w") as f:
        f.write("half-written")

    pipe2 = Pipeline(spark, layer_map, tmp_path_factory.mktemp("husk_b2"),
                     n_buckets=8, canon_cache_dir=cache_root)
    got = {(r.label, r.original_id, r.canon_id)
           for r in pipe2._canon_stage().collect()}
    assert got == want
    # the husk was replaced by a real publication
    assert os.path.exists(os.path.join(cache_dir, "_SUCCESS"))
    assert not os.path.exists(os.path.join(cache_dir, "junk.txt"))


def test_unmarked_base_dir_with_data_refused(spark, layer_map,
                                             tmp_path_factory):
    """A base_dir that already contains stage output but NO _layout.json
    (pre-marker-scheme data, unknown bucket layout) must be refused, not
    silently stamped with the current layout (round-5 advice)."""
    base = tmp_path_factory.mktemp("unmarked_base")
    (base / "mentions").mkdir()
    with pytest.raises(RuntimeError, match="_layout.json"):
        Pipeline(spark, layer_map, base, n_buckets=8)


def test_link_stage_plan_one_url_partitioning(spark, layer_map):
    """The shared link-stage builder's physical plan on a small in-memory
    mention table: one pinned url repartition feeding shuffle-hash joins,
    the scored/passthrough union at the end, and no exchange keyed on
    both category and url (a full-key reshuffle of the score or merge
    join would mean the url partitioning was lost)."""
    import contextlib
    import io
    import re

    from apt_bron_re_spark.operators.mention import MENTION_SCHEMA
    from apt_bron_re_spark.plans.pipeline import link_stage

    def row(url, rec_type, category=None, name=None, original_id=None,
            value=None, index=None, sentence=None, bucket=None):
        return (url, rec_type, category, name, original_id, value, index,
                None, None, None, None, None,
                0.5 if rec_type == "mention" else None, sentence, bucket)

    stage = spark.createDataFrame([
        row("u1", "doc", index=12),
        row("u1", "mention", "group", "APT1", "G0006", "apt1", 3, "s1"),
        row("u1", "mention", "cve", None, None, "CVE-2020-0001", 5, "s2"),
        row("u1", "residue", value="comment crew", bucket="group"),
        row("u2", "doc", index=7),
        row("u2", "mention", "technique", "Phishing", "T1566", "phishing",
            1, "s3"),
    ], MENTION_SCHEMA)
    # n_buckets == spark.sql.shuffle.partitions, as in every pipeline
    # session: the best-link aggregation's exchange uses the session
    # count, and a mismatch re-shuffles the mention rows on full keys
    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    merged, _residual, links = link_stage(stage, layer_map, n)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        merged.explain("formatted")
    links.unpersist()
    plan = buf.getvalue()

    for marker in ("REPARTITION_BY_NUM", "ShuffledHashJoin", "Union"):
        assert marker in plan, marker
    keys = re.findall(r"hashpartitioning\(([^)]*)\)", plan)
    assert keys, "no hash exchange in the link-stage plan"
    assert not [k for k in keys if "category#" in k and "url#" in k], keys
