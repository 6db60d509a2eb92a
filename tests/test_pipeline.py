"""End-to-end ER pipeline acceptance tests (FIXTURES.md §2 pipeline
recasts): blocking recall on planted duplicates, pairwise F1 ≥ 0.99 vs
labeled pairs, per-row content_sha invariant, CC vs gold clusters,
resume-from-checkpoint reproducibility."""

import pytest
from pyspark.sql import functions as F

from smaph_spark.config import ERConfig
from smaph_spark.operators.metrics import clusters_pairwise_prf, pairwise_prf
from smaph_spark.pipeline import ERPipeline
from smaph_spark.sources.synthetic import generate_files_corpus


@pytest.fixture(scope="module")
def corpus(spark):
    files_pdf, labeled_pdf, gold_pdf = generate_files_corpus(
        n_clusters=80, seed=42
    )
    files = spark.createDataFrame(files_pdf)
    labeled = spark.createDataFrame(labeled_pdf)
    gold = spark.createDataFrame(gold_pdf)
    # canonical (left_id, right_id) with left < right
    lid = F.xxhash64("l_repo", "l_path", "l_commit")
    rid = F.xxhash64("r_repo", "r_path", "r_commit")
    labeled_ids = labeled.select(
        F.least(lid, rid).alias("left_id"),
        F.greatest(lid, rid).alias("right_id"),
        "is_match",
    )
    gold_ids = gold.select(
        F.xxhash64("repo", "path", "commit").alias("record_id"),
        F.col("cluster_idx").alias("cluster_id"),
    )
    return files, labeled_ids, gold_ids


@pytest.fixture(scope="module")
def result(spark, corpus):
    files, labeled_ids, gold_ids = corpus
    pipe = ERPipeline(spark, ERConfig())
    res = pipe.run(files)
    return pipe, res


def test_content_sha_invariant(corpus, result):
    files, _, _ = corpus
    pipe, res = result
    assert ERPipeline.verify_content_sha(files, res.normalized) == 0


def test_blocking_recall(corpus, result):
    """Every labeled positive pair must share at least one block
    (candidate-generation recall, the analogue of SMAPH's source
    coverage upper bound — SmaphAnnotator.java:820-911)."""
    _, labeled_ids, _ = corpus
    _, res = result
    cand = res.pairs_scored.select("left_id", "right_id").distinct()
    pos = labeled_ids.filter("is_match")
    found = pos.join(cand, ["left_id", "right_id"], "left_semi").count()
    total = pos.count()
    assert total > 50
    assert found / total >= 0.98, f"blocking recall {found}/{total}"


def test_pairwise_f1(corpus, result):
    _, labeled_ids, _ = corpus
    _, res = result
    m = pairwise_prf(res.matches, labeled_ids)
    assert m["f1"] >= 0.99, m


def test_clusters_match_gold(corpus, result):
    _, _, gold_ids = corpus
    _, res = result
    m = clusters_pairwise_prf(res.clusters, gold_ids)
    assert m["f1"] >= 0.99, m


def test_cluster_id_is_min_record_id(result):
    _, res = result
    bad = (
        res.clusters.groupBy("cluster_id")
        .agg(F.min("record_id").alias("mn"))
        .filter(F.col("cluster_id") != F.col("mn"))
        .count()
    )
    assert bad == 0


def test_checkpoint_resume_reproduces(spark, corpus, tmp_path_factory):
    """Resume from stage snapshots reproduces identical cluster output
    (north_rule resumability)."""
    files, _, _ = corpus
    ckpt = str(tmp_path_factory.mktemp("er_ckpt"))
    cfg = ERConfig()
    res1 = ERPipeline(spark, cfg, checkpoint_dir=ckpt).run(files)
    first = sorted(
        (r["record_id"], r["cluster_id"]) for r in res1.clusters.collect()
    )
    pipe2 = ERPipeline(spark, cfg, checkpoint_dir=ckpt)
    res2 = pipe2.run(files)
    assert pipe2.stage_metrics_resumed(), "second run should resume"
    second = sorted(
        (r["record_id"], r["cluster_id"]) for r in res2.clusters.collect()
    )
    assert first == second


def test_checkpoint_not_resumed_for_different_input(spark, corpus, tmp_path_factory):
    """Snapshots are keyed by (config, input): same config + same
    checkpoint_dir but a DIFFERENT input must recompute, not silently
    resume the previous dataset's stages (round-1 ADVICE)."""
    files, _, _ = corpus
    ckpt = str(tmp_path_factory.mktemp("er_ckpt_in"))
    cfg = ERConfig()
    ERPipeline(spark, cfg, checkpoint_dir=ckpt).run(files)
    other_pdf, _, _ = generate_files_corpus(n_clusters=10, seed=999)
    other = spark.createDataFrame(other_pdf)
    pipe2 = ERPipeline(spark, cfg, checkpoint_dir=ckpt)
    res2 = pipe2.run(other)
    assert not pipe2.stage_metrics_resumed(), "different input must not resume"
    # and the output belongs to the new input, not the old one
    assert ERPipeline.verify_content_sha(other, res2.normalized) == 0


def test_block_cap_metrics_logged(spark):
    """Oversized blocks are salted/dropped with logged counts, never
    silently (reference logs binding caps,
    DefaultBindingGenerator.java:135-136)."""
    files_pdf, _, _ = generate_files_corpus(
        n_clusters=40, hot_path_fraction=0.9, seed=7
    )
    files = spark.createDataFrame(files_pdf)
    cfg = ERConfig(max_block_size=4, block_salt_buckets=2)
    pipe = ERPipeline(spark, cfg)
    pipe.run(files)
    caps = pipe._metrics["s2_block_caps"]
    assert caps["salted_blocks"] + caps["dropped_blocks"] > 0
    # the incremental path caps the same history ∪ delta key table, so
    # it must report the same counts
    bucket = F.pmod(F.xxhash64("repo", "path", "commit"), F.lit(5))
    history, delta = files.filter(bucket < 4), files.filter(bucket >= 4)
    hist_res = ERPipeline(spark, cfg).run(history)
    inc = ERPipeline(spark, cfg)
    inc.run_incremental(history, delta, hist_res.clusters)
    assert inc._metrics["s2_block_caps"] == caps


def test_every_config_field_is_read():
    """An ERConfig field nothing reads is a knob that changes nothing
    but the snapshot fingerprint: every field must be read as an
    attribute somewhere in smaph_spark/ outside config.py."""
    import ast
    import dataclasses
    import pathlib

    import smaph_spark

    fields = {f.name for f in dataclasses.fields(ERConfig)}
    read = set()
    for path in pathlib.Path(smaph_spark.__file__).parent.rglob("*.py"):
        if path.name == "config.py":
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Attribute) and isinstance(node.ctx, ast.Load):
                read.add(node.attr)
    assert fields - read == set()


def test_cc_local_and_distributed_paths_agree(spark):
    """The driver union-find fast path (cc_local_threshold) must yield
    exactly the distributed hash-min labeling."""
    from dataclasses import replace

    from smaph_spark.operators.clustering import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (3, 4)],
        "left_id long, right_id long",
    )
    recs = spark.createDataFrame(
        [(i,) for i in [1, 2, 3, 4, 10, 11, 20, 21, 22, 99]], "record_id long"
    )
    cfg_local = ERConfig()  # threshold 100k -> local path
    cfg_dist = replace(ERConfig(), cc_local_threshold=0)  # force distributed
    loc, hist_l = connected_components(edges, cfg_local, all_records=recs)
    dist, hist_d = connected_components(edges, cfg_dist, all_records=recs)
    l = sorted((r["record_id"], r["cluster_id"]) for r in loc.collect())
    d = sorted((r["record_id"], r["cluster_id"]) for r in dist.collect())
    assert l == d
    assert hist_l[0].get("local_union_find") is True
    assert any("iteration" in h for h in hist_d)

def test_stage_path_keyed_by_scorer_identity(spark, tmp_path):
    """A retrained scorer with an identical config/threshold must not
    resume pair scores produced by the old model (round-2 ADVICE): the
    snapshot directory is keyed by a scorer fingerprint too."""

    class _Stage:
        def __init__(self, uid):
            self.uid = uid

    class _Model:
        def __init__(self, uid):
            self.stages = [_Stage(uid)]

    cfg = ERConfig()
    ckpt = str(tmp_path)
    p_rule = ERPipeline(spark, cfg, checkpoint_dir=ckpt)
    p_m1 = ERPipeline(spark, cfg, checkpoint_dir=ckpt, scorer_model=_Model("GBT_a"))
    p_m2 = ERPipeline(spark, cfg, checkpoint_dir=ckpt, scorer_model=_Model("GBT_b"))
    for p in (p_rule, p_m1, p_m2):
        p._input_fp = "same"
    paths = {p._stage_path("s3_pairs_scored") for p in (p_rule, p_m1, p_m2)}
    assert len(paths) == 3


def test_input_fingerprint_duplicates_do_not_cancel(spark):
    """bit_xor alone cancels rows occurring an even number of times:
    {x,x,y,y} vs {z,z,y,y} must fingerprint differently (round-2
    ADVICE); the complementary modular sum breaks the tie."""
    a = spark.createDataFrame([("x",), ("x",), ("y",), ("y",)], "v string")
    b = spark.createDataFrame([("z",), ("z",), ("y",), ("y",)], "v string")
    assert ERPipeline._input_fingerprint(a) != ERPipeline._input_fingerprint(b)


def test_cc_long_chain_converges_within_log_iterations(spark):
    """Pointer jumping must label a chain FAR longer than the iteration
    cap: a 300-hop path converges in O(log d) iterations, where plain
    neighbour propagation would need 300 (> CC_MAX_ITERATIONS=20) and
    silently split the component."""
    import warnings
    from dataclasses import replace

    from smaph_spark.operators.clustering import connected_components

    n = 301  # single path 0-1-2-...-300
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "left_id long, right_id long"
    )
    cfg = replace(ERConfig(), cc_local_threshold=0)
    with warnings.catch_warnings():
        # non-convergence warning = failure (RuntimeWarning only: the
        # blanket filter also trips py4j's benign socket-GC unraisable)
        warnings.simplefilter("error", RuntimeWarning)
        labels, hist = connected_components(edges, cfg)
    rows = labels.collect()
    assert len(rows) == n
    assert {r["cluster_id"] for r in rows} == {0}
    n_iters = sum(1 for h in hist if "iteration" in h)
    assert n_iters <= 12, hist


def test_incremental_er_equals_full_batch(spark):
    """run_incremental(history, delta, history_clusters) must produce
    EXACTLY the clusters of run(history ∪ delta), while scoring only
    pairs that touch a delta record."""
    files_pdf, _, _ = generate_files_corpus(n_clusters=60, seed=777)
    files = spark.createDataFrame(files_pdf)
    # deterministic ~80/20 split that cuts through duplicate clusters
    # (so delta records must both join existing clusters and form new
    # ones, and some bridge history clusters)
    bucket = F.pmod(F.xxhash64("repo", "path", "commit"), F.lit(5))
    history = files.filter(bucket < 4)
    delta = files.filter(bucket >= 4)
    assert 0 < delta.count() < files.count()

    full = ERPipeline(spark, ERConfig()).run(files)
    hist_res = ERPipeline(spark, ERConfig()).run(history)
    inc_pipe = ERPipeline(spark, ERConfig())
    inc = inc_pipe.run_incremental(history, delta, hist_res.clusters)

    full_set = {
        (r["record_id"], r["cluster_id"]) for r in full.clusters.collect()
    }
    inc_set = {
        (r["record_id"], r["cluster_id"]) for r in inc.clusters.collect()
    }
    assert inc_set == full_set

    # the quadratic stage only touched delta pairs
    delta_ids = {
        r["record_id"]
        for r in delta.select(
            F.xxhash64("repo", "path", "commit").alias("record_id")
        ).collect()
    }
    scored = inc.pairs_scored.select("left_id", "right_id").collect()
    assert len(scored) > 0
    assert all(
        r["left_id"] in delta_ids or r["right_id"] in delta_ids for r in scored
    )
    # and it did strictly less scoring work than the full run
    assert len(scored) < full.pairs_scored.count()


def test_incremental_er_with_history_normalized(spark):
    """Passing the history run's normalized output must skip
    re-normalizing history (delta-only stage 1) and still produce the
    exact full-batch clustering."""
    files_pdf, _, _ = generate_files_corpus(n_clusters=50, seed=4242)
    files = spark.createDataFrame(files_pdf)
    bucket = F.pmod(F.xxhash64("repo", "path", "commit"), F.lit(5))
    history, delta = files.filter(bucket < 4), files.filter(bucket >= 4)

    full = ERPipeline(spark, ERConfig()).run(files)
    hist_res = ERPipeline(spark, ERConfig()).run(history)
    inc = ERPipeline(spark, ERConfig()).run_incremental(
        history, delta, hist_res.clusters,
        history_normalized=hist_res.normalized,
    )
    full_set = {(r["record_id"], r["cluster_id"]) for r in full.clusters.collect()}
    inc_set = {(r["record_id"], r["cluster_id"]) for r in inc.clusters.collect()}
    assert inc_set == full_set
    # the normalized union really covers everything exactly once
    assert inc.normalized.count() == files.count()
    assert inc.normalized.select("record_id").distinct().count() == files.count()


def test_incremental_modes_do_not_share_snapshots(spark, tmp_path):
    """With checkpoint_dir set, a run that normalizes history itself
    and a run handed history_normalized may resume each other's
    snapshots only because both cache the same contents: s1_normalized
    holds the delta alone, so neither run duplicates history."""
    files_pdf, _, _ = generate_files_corpus(n_clusters=30, seed=9001)
    files = spark.createDataFrame(files_pdf)
    bucket = F.pmod(F.xxhash64("repo", "path", "commit"), F.lit(5))
    history, delta = files.filter(bucket < 4), files.filter(bucket >= 4)
    hist_res = ERPipeline(spark, ERConfig()).run(history)
    ckpt = str(tmp_path)
    n_total = files.count()

    # first run normalizes history itself (snapshotted per history)
    p1 = ERPipeline(spark, ERConfig(), checkpoint_dir=ckpt)
    r1 = p1.run_incremental(history, delta, hist_res.clusters)
    # second run is handed history's normalize output
    p2 = ERPipeline(spark, ERConfig(), checkpoint_dir=ckpt)
    r2 = p2.run_incremental(
        history, delta, hist_res.clusters,
        history_normalized=hist_res.normalized,
    )
    assert r1.normalized.count() == n_total
    assert r2.normalized.count() == n_total  # no duplicated history
    assert r2.normalized.select("record_id").distinct().count() == n_total
    c1 = {(r["record_id"], r["cluster_id"]) for r in r1.clusters.collect()}
    c2 = {(r["record_id"], r["cluster_id"]) for r in r2.clusters.collect()}
    assert c1 == c2


def test_incremental_splits_do_not_share_snapshots(spark, tmp_path):
    """Round-3 ADVICE (medium): two incremental runs over the SAME total
    corpus but a DIFFERENT history/delta split cache different
    s3_pairs_scored (delta-touching pairs only) — the split must be part
    of the snapshot key or the second run silently resumes the first's
    pair scores."""
    files_pdf, _, _ = generate_files_corpus(n_clusters=30, seed=31337)
    files = spark.createDataFrame(files_pdf)
    bucket = F.pmod(F.xxhash64("repo", "path", "commit"), F.lit(5))
    split_a = (files.filter(bucket < 4), files.filter(bucket >= 4))
    split_b = (files.filter(bucket < 2), files.filter(bucket >= 2))
    ckpt = str(tmp_path)

    results = []
    for history, delta in (split_a, split_b):
        hist_res = ERPipeline(spark, ERConfig()).run(history)
        p = ERPipeline(spark, ERConfig(), checkpoint_dir=ckpt)
        r = p.run_incremental(history, delta, hist_res.clusters)
        # the run must have computed its own pair scores, not resumed
        # the other split's snapshot
        assert not p._metrics["s3_pairs_scored"].get("resumed_from_snapshot")
        results.append(r)

    # both splits converge to the same clustering (the invariant), but
    # their scored-pair sets differ — the thing the key must separate
    pairs_a = {(r["left_id"], r["right_id"]) for r in results[0].pairs_scored.select("left_id", "right_id").collect()}
    pairs_b = {(r["left_id"], r["right_id"]) for r in results[1].pairs_scored.select("left_id", "right_id").collect()}
    assert pairs_a != pairs_b
    c1 = {(r["record_id"], r["cluster_id"]) for r in results[0].clusters.collect()}
    c2 = {(r["record_id"], r["cluster_id"]) for r in results[1].clusters.collect()}
    assert c1 == c2


def test_incremental_blocking_is_delta_sized(spark, tmp_path):
    """Round-3 VERDICT item 7: with history_normalized + checkpointing,
    stage 2 generates keys for the DELTA only; the history block-key
    table is snapshotted under the history fingerprint and reused by
    every later delta batch against the same history."""
    from smaph_spark.operators.blocking import generate_blocks
    from smaph_spark.operators.normalize import normalize_files

    files_pdf, _, _ = generate_files_corpus(n_clusters=40, seed=2718)
    files = spark.createDataFrame(files_pdf)
    bucket = F.pmod(F.xxhash64("repo", "path", "commit"), F.lit(10))
    history = files.filter(bucket < 8)
    delta1 = files.filter(bucket == 8)
    delta2 = files.filter(bucket == 9)
    cfg = ERConfig()
    hist_res = ERPipeline(spark, cfg).run(history)
    ckpt = str(tmp_path)

    p1 = ERPipeline(spark, cfg, checkpoint_dir=ckpt)
    p1.run_incremental(history, delta1, hist_res.clusters,
                       history_normalized=hist_res.normalized)
    assert not p1._metrics["s2_history_keys"].get("resumed_from_snapshot")
    # the generated key volume is delta-sized, not union-sized
    d1_keys = generate_blocks(
        normalize_files(delta1, cfg).drop("content"), cfg
    ).count()
    assert p1._metrics["s2_delta_key_rows"] == d1_keys
    assert d1_keys < generate_blocks(hist_res.normalized, cfg).count()

    # a DIFFERENT delta against the SAME history reuses the snapshot
    p2 = ERPipeline(spark, cfg, checkpoint_dir=ckpt)
    r2 = p2.run_incremental(history, delta2, hist_res.clusters,
                            history_normalized=hist_res.normalized)
    assert p2._metrics["s2_history_keys"].get("resumed_from_snapshot")

    # and the result still equals the full-batch run over history+delta2
    full = ERPipeline(spark, cfg).run(history.unionByName(delta2))
    full_set = {(r["record_id"], r["cluster_id"]) for r in full.clusters.collect()}
    inc_set = {(r["record_id"], r["cluster_id"]) for r in r2.clusters.collect()}
    assert inc_set == full_set


def test_file_backed_splits_fingerprint_differently(spark, tmp_path):
    """Round-4 review: inputFiles() ignores filters, so two filtered
    SLICES of the same parquet source must still fingerprint
    differently (the plan string carries the predicate) — otherwise
    run_incremental with parquet-backed splits resumes the wrong
    snapshots."""
    files_pdf, _, _ = generate_files_corpus(n_clusters=10, seed=55)
    src = str(tmp_path / "files")
    spark.createDataFrame(files_pdf).write.parquet(src)
    base = spark.read.parquet(src)
    bucket = F.pmod(F.xxhash64("repo", "path", "commit"), F.lit(5))
    fp_a = ERPipeline._input_fingerprint(base.filter(bucket < 4))
    fp_b = ERPipeline._input_fingerprint(base.filter(bucket < 2))
    fp_full = ERPipeline._input_fingerprint(base)
    assert len({fp_a, fp_b, fp_full}) == 3
    # and stable for the same slice
    assert fp_a == ERPipeline._input_fingerprint(base.filter(bucket < 4))


def test_incremental_rejects_history_delta_overlap(spark):
    """Round-4 review: the O(delta) blocking path assumes disjoint
    history/delta record ids — an overlapping record must raise, not
    silently duplicate block keys and pairs."""
    import pytest as _pytest

    files_pdf, _, _ = generate_files_corpus(n_clusters=20, seed=606)
    files = spark.createDataFrame(files_pdf)
    bucket = F.pmod(F.xxhash64("repo", "path", "commit"), F.lit(5))
    history = files.filter(bucket < 4)
    overlapping_delta = files.filter(bucket >= 3)  # bucket 3 in both
    hist_res = ERPipeline(spark, ERConfig()).run(history)
    with _pytest.raises(ValueError, match="BOTH history"):
        ERPipeline(spark, ERConfig()).run_incremental(
            history, overlapping_delta, hist_res.clusters,
            history_normalized=hist_res.normalized,
        )


def test_incremental_rejects_overlap_in_both_modes(spark):
    """Round-4 review: the overlap guard must hold without
    history_normalized too, where the overlapping record would be
    normalized twice and its pairs duplicated."""
    files_pdf, _, _ = generate_files_corpus(n_clusters=15, seed=717)
    files = spark.createDataFrame(files_pdf)
    bucket = F.pmod(F.xxhash64("repo", "path", "commit"), F.lit(5))
    history = files.filter(bucket < 4)
    overlapping_delta = files.filter(bucket >= 3)
    hist_res = ERPipeline(spark, ERConfig()).run(history)
    with pytest.raises(ValueError, match="BOTH history"):
        ERPipeline(spark, ERConfig()).run_incremental(
            history, overlapping_delta, hist_res.clusters
        )


def test_incremental_overlap_guard_index_and_skip(spark):
    """Round-4 ADVICE: the disjointness guard must not force a full
    history rescan per delta batch — a caller-maintained id index
    (dd07-style) drives the same check, and a caller that already
    anti-joined the delta can skip it entirely."""
    files_pdf, _, _ = generate_files_corpus(n_clusters=15, seed=808)
    files = spark.createDataFrame(files_pdf)
    bucket = F.pmod(F.xxhash64("repo", "path", "commit"), F.lit(5))
    history = files.filter(bucket < 4)
    overlapping_delta = files.filter(bucket >= 3)
    clean_delta = files.filter(bucket >= 4)
    hist_res = ERPipeline(spark, ERConfig()).run(history)
    hist_index = history.select(
        F.xxhash64("repo", "path", "commit").alias("record_id")
    )
    # the precomputed index catches the overlap like the full scan did
    with pytest.raises(ValueError, match="BOTH history"):
        ERPipeline(spark, ERConfig()).run_incremental(
            history, overlapping_delta, hist_res.clusters,
            history_normalized=hist_res.normalized,
            history_ids=hist_index,
        )
    # skip flag: the overlapping delta sails through the guard (caller
    # owns disjointness), and a genuinely clean delta still resolves
    res = ERPipeline(spark, ERConfig()).run_incremental(
        history, clean_delta, hist_res.clusters,
        history_normalized=hist_res.normalized,
        skip_overlap_check=True,
    )
    assert res.clusters.count() == files.count()
