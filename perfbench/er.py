"""``skewed_gbt``: the flagship ER configuration (``er_docs._DOC_CFG``
with the committed ``models/gbt_scorer`` at its stored threshold) over a
synthetic source-files corpus. The 16x4 LSH bands make hot band keys
(one or more salted blocks on every generator seed tried at this size),
so the op is pair-bound: pair generation, the Arrow feature UDF and the
JVM GBT transform dominate.
"""

from __future__ import annotations

import os
import time
from dataclasses import replace

import numpy as np
import pandas as pd

from harness import CACHE, ROOT, check_recorded, frame_sha

N_CLUSTERS = 900
HOT_PATH_FRACTION = 0.05
#: generator seed of the corpus content. At this size the candidate
#: pairs of generator seeds 11-20 range over 88k-135k (quartile spread
#: 0.19 of the median; a few LSH blocks just under the salting cap hold
#: a third of them), and op time follows them, so every run resolves
#: the same content and ``--seed`` only permutes its rows.
CONTENT_SEED = 0


def _corpus(seed: int) -> tuple[str, str]:
    """(files, gold) parquet paths. The corpus is generated once with
    pandas only, no Spark, so a cache hit or miss leaves the JVM equally
    cold for set-up; each seed gets its own row order of it."""
    d = os.path.join(
        CACHE, f"er-n{N_CLUSTERS}-hp{HOT_PATH_FRACTION}-c{CONTENT_SEED}"
    )
    gold = os.path.join(d, "gold.parquet")
    if not os.path.exists(gold):
        from smaph_spark.sources.synthetic import generate_files_corpus

        files, _, gold_pdf = generate_files_corpus(
            n_clusters=N_CLUSTERS, hot_path_fraction=HOT_PATH_FRACTION,
            seed=CONTENT_SEED,
        )
        os.makedirs(d, exist_ok=True)
        files.to_parquet(os.path.join(d, "files.parquet"), index=False)
        gold_pdf.to_parquet(gold + f".{os.getpid()}", index=False)
        os.replace(gold + f".{os.getpid()}", gold)
    path = os.path.join(d, f"files-s{seed}.parquet")
    if not os.path.exists(path):
        files = pd.read_parquet(os.path.join(d, "files.parquet"))
        order = np.random.default_rng(seed).permutation(len(files))
        files.iloc[order].to_parquet(path + f".{os.getpid()}", index=False)
        os.replace(path + f".{os.getpid()}", path)
    return path, gold


class SkewedGBT:
    #: the cold op pays class loading, codegen and Python-worker start
    #: (~2.5x a warm op). C2 then keeps speeding ops up for about eight
    #: more (9.4 -> 5.9 s), more than a run can pay for, so every run
    #: times the same three ops after one warm-up
    WARMUP_OPS, MIN_OPS = 1, 3

    def __init__(self, seed: int):
        self.files_path, self.gold_path = _corpus(seed)
        import pyarrow.parquet as pq

        self.n_records = pq.ParquetFile(self.files_path).metadata.num_rows
        self.sha = None
        self.f1 = None
        self.timings = {}

    def setup(self, spark):
        from pyspark.sql import functions as F
        from smaph_spark.operators.model_io import load_scorer
        from smaph_spark.ops.er_docs import _DOC_CFG

        self.spark = spark
        t = time.perf_counter()
        self.model, threshold, _ = load_scorer(
            os.path.join(ROOT, "models", "gbt_scorer")
        )
        self.timings["model_io.load_scorer_s"] = time.perf_counter() - t
        self.cfg = replace(_DOC_CFG, match_threshold=threshold)
        self.files = spark.read.parquet(self.files_path)
        self.gold = spark.read.parquet(self.gold_path).select(
            F.xxhash64("repo", "path", "commit").alias("record_id"),
            F.col("cluster_idx").alias("cluster_id"),
        )

    # -- the end-to-end op ---------------------------------------------------
    def op(self):
        from smaph_spark.pipeline import ERPipeline

        res = ERPipeline(self.spark, self.cfg, scorer_model=self.model).run(
            self.files
        )
        res.clusters.count()  # persisted by the pipeline: materializes it
        return res.normalized, res.clusters

    # -- the same work, one timed window per layer ----------------------------
    def traced_op(self, tracer) -> dict:
        from pyspark.sql import functions as F
        from smaph_spark.operators.blocking import (
            cap_and_salt_blocks, generate_blocks,
        )
        from smaph_spark.operators.clustering import connected_components
        from smaph_spark.operators.normalize import normalize_files
        from smaph_spark.operators.pairs import (
            attach_pair_features, generate_pairs,
        )
        from smaph_spark.operators.scoring import filter_matches, gbt_score

        cfg = self.cfg
        with tracer.window("normalize"):
            normalized = normalize_files(self.files, cfg).drop("content").persist()
            normalized.count()
        with tracer.window("blocking"):
            blocks = generate_blocks(normalized, cfg)
            salted, block_metrics = cap_and_salt_blocks(blocks, cfg)
            salted = salted.persist()
            salted.count()
            acts = {
                r["action"]: (int(r["n"]), int(r["records"]))
                for r in block_metrics.groupBy("action")
                .agg(F.count("*").alias("n"), F.sum("n_records").alias("records"))
                .collect()
            }
        with tracer.window("pairs"):
            pairs = generate_pairs(salted, cfg).persist()
            candidates = pairs.count()
        with tracer.window("features"):
            feat = attach_pair_features(pairs, normalized, cfg).persist()
            feat.count()
        with tracer.window("scoring"):
            scored = gbt_score(self.model, feat).persist()
            scored.count()
            matches = (
                filter_matches(scored, cfg).filter(F.col("is_match")).persist()
            )
            n_matches = matches.count()
        with tracer.window("clustering"):
            clusters, history = connected_components(
                matches, cfg, all_records=normalized
            )
            clusters = clusters.persist()
            clusters.count()
        # counts read after the op's last window, outside every timing
        distributed = not any(h.get("local_union_find") for h in history)
        return {
            "blocking.key_rows": blocks.count(),
            "blocking.salted_blocks": acts.get("salted", (0, 0))[0],
            "blocking.dropped_blocks": acts.get("dropped", (0, 0))[0],
            "blocking.records_in_dropped_blocks": acts.get("dropped", (0, 0))[1],
            "pairs.candidates": candidates,
            "scoring.matches": n_matches,
            "clustering.edges_in": n_matches,
            "clustering.rounds": len(history) if distributed else 0,
            "clustering.distributed": int(distributed),
            "_outputs": (normalized, clusters),
        }

    # -- output checks, outside every timed window ----------------------------
    def check(self, outputs, first: bool) -> bool:
        from smaph_spark.operators.metrics import clusters_pairwise_prf
        from smaph_spark.pipeline import ERPipeline

        normalized, clusters = outputs
        ok = True
        if first:
            self.f1 = clusters_pairwise_prf(clusters, self.gold)["f1"]
            ok &= self.f1 >= 0.99
            ok &= ERPipeline.verify_content_sha(self.files, normalized) == 0
        sha = frame_sha(clusters.select("record_id", "cluster_id").toPandas())
        if self.sha is None:
            self.sha = sha
            # every row order of the corpus must give the same clusters
            ok &= check_recorded(
                os.path.join(os.path.dirname(self.gold_path), "expected.json"),
                "membership_sha", sha,
            )
        return ok and sha == self.sha

    def derived(self, m: dict, job_s: float) -> dict:
        """Ratios over the traced op's counts, with their bases."""
        cand = m.get("pairs.candidates", 0)
        if not cand:
            return {}
        return {
            "pairs.per_record": cand / self.n_records,
            "pairs_per_s": cand / job_s,
            "features.us_per_pair": 1e6 * m["features.busy_s"] / cand,
            "scoring.match_ratio": m["scoring.matches"] / cand,
        }
