"""End-to-end ER pipeline: normalize → block → pair → score → cluster.

Query-lifecycle mapping (SURVEY §3.1 "Spark lifecycle equivalent"):
stage 1 narrow fingerprinting (Arrow UDF) → stage 2 explode block keys
+ shuffle on block_key (salted) → stage 3 block-local self-join + pair
features → stage 4 threshold filter → stage 5 checkpointed hash-min CC
→ clusters sink. Stages 2-5 exist once (``ERPipeline._resolve``):
``run`` is stage 1 plus that sequence, and ``run_incremental`` feeds
it the history ∪ delta records, the delta ids every scored pair must
touch and the history clustering as CC pseudo-edges.

Resumability (north_rule): when ``checkpoint_dir`` is set, every stage
writes a parquet snapshot + ``_metrics.json`` (row count, elapsed). A
re-run with the same config fingerprint reads the snapshot instead of
recomputing; the per-row invariant sha256(content) is verified against
the source table after every stage that carries content columns.

Timings: a stage's ``elapsed_sec`` is recorded only when its snapshot
write executes the stage. Without ``checkpoint_dir`` each stage is
persisted lazily and runs inside whichever later action first needs
it, so no per-stage time is reported. Per-layer timings come from the
benchmark's traced run (``python3 perfbench/run.py --trace 1``), which
materializes every layer inside its own Spark job-group window.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from smaph_spark.config import ERConfig
from smaph_spark.operators.blocking import cap_and_salt_blocks, generate_blocks
from smaph_spark.operators.clustering import (
    connected_components, history_pseudo_edges,
)
from smaph_spark.operators.normalize import normalize_files
from smaph_spark.operators.pairs import attach_pair_features, generate_pairs
from smaph_spark.operators.scoring import filter_matches, gbt_score, rule_score


@dataclass
class PipelineResult:
    normalized: DataFrame
    blocks: DataFrame
    pairs_scored: DataFrame
    matches: DataFrame
    clusters: DataFrame
    stage_metrics: dict = field(default_factory=dict)


def _normalize(files: DataFrame, cfg: ERConfig) -> DataFrame:
    # content is consumed entirely inside stage 1 (sha + minhash);
    # carrying the ~KB content column through persist/snapshot and the
    # pair joins is pure bandwidth waste at scale
    return normalize_files(files, cfg).drop("content")


class ERPipeline:
    """Stage-by-stage runner with optional snapshot-resume."""

    def __init__(
        self,
        spark: SparkSession,
        cfg: ERConfig | None = None,
        checkpoint_dir: str | None = None,
        scorer_model=None,
    ):
        self.spark = spark
        self.cfg = cfg or ERConfig()
        self.checkpoint_dir = checkpoint_dir
        self.scorer_model = scorer_model
        self._metrics: dict = {}
        # scorer identity keys the snapshots too: a retrained model with
        # a coincidentally-equal threshold must not resume pair scores
        # produced by the old model (round-2 ADVICE). Spark ML stage
        # uids are unique per fit, so they fingerprint the trained model.
        if scorer_model is None:
            self._scorer_fp = "rule"
        else:
            stages = getattr(scorer_model, "stages", None) or [scorer_model]
            basis = "|".join(getattr(s, "uid", str(s)) for s in stages)
            self._scorer_fp = hashlib.sha256(basis.encode()).hexdigest()[:8]

    # -- snapshot helpers ---------------------------------------------------
    @staticmethod
    def _input_fingerprint(files: DataFrame) -> str:
        """Fingerprint the INPUT so snapshots are keyed by (config, data):
        re-running the same config against a different --input must not
        resume stale snapshots (round-1 ADVICE). File-backed sources use
        the metadata-only inputFiles() list PLUS the normalized logical
        plan (no job): inputFiles() alone ignores filters, so two
        different filtered SLICES of the same parquet source — e.g. the
        history/delta splits of run_incremental — would collide on the
        path list and silently resume each other's snapshots (round-4
        review). In-memory frames fall back to a content hash."""
        try:
            paths = sorted(files.inputFiles())
        except Exception:
            paths = []
        if paths:
            plan = re.sub(
                r"#\d+", "", files._jdf.queryExecution().logical().toString()
            )
            basis = ";".join(paths) + "|" + plan
        else:
            # in-memory source (no backing files): plan strings are
            # schema-only, so hash the content with one agg job —
            # bit_xor and the modular sum are both order-independent
            # and can't overflow under ANSI mode (sum of values < 1e9
            # stays in int64 up to ~9e9 rows; in-memory inputs are
            # small by construction). The sum complements bit_xor,
            # where rows occurring an even number of times cancel to
            # zero (round-2 ADVICE: {x,x,y,y} vs {z,z,y,y} collided)
            row = files.select(
                F.xxhash64(*files.columns).alias("h")
            ).agg(
                F.expr("bit_xor(h)").alias("x"),
                F.sum(F.pmod("h", F.lit(1_000_000_007))).alias("s"),
                F.count("*").alias("n"),
            ).collect()[0]
            plan = re.sub(r"#\d+", "", files._jdf.queryExecution().logical().toString())
            basis = f"{plan}|{row['x']}|{row['s']}|{row['n']}"
        return hashlib.sha256(basis.encode()).hexdigest()[:12]

    def _stage_path(self, stage: str, run_key: str | None = None) -> str | None:
        """``run_key`` overrides the run-scoped snapshot directory — used
        for artifacts shared ACROSS runs (the history normalize output
        and block-key table are keyed by the history fingerprint alone,
        so successive delta batches against the same history all reuse
        one snapshot)."""
        if not self.checkpoint_dir:
            return None
        if run_key is None:
            run_key = (
                f"fp={self.cfg.fingerprint()}-in={self._input_fp}"
                f"-sc={self._scorer_fp}"
            )
        return os.path.join(self.checkpoint_dir, run_key, stage)

    def _load_or_compute(
        self, stage: str, compute, run_key: str | None = None
    ) -> DataFrame:
        path = self._stage_path(stage, run_key)
        if not path:
            # no snapshot to re-read from: persist so downstream stages
            # (and the CC iterations) don't re-execute the whole DAG —
            # without this the match join recomputed once per terminal
            # action, the dominant serial overhead in the bench job.
            # persist() is lazy: nothing runs here, so nothing is timed
            return compute().persist()
        if os.path.exists(os.path.join(path, "_SUCCESS")):
            self._metrics[stage] = {"resumed_from_snapshot": True, "path": path}
            return self.spark.read.parquet(path)
        t0 = time.time()
        compute().write.mode("overwrite").parquet(path)
        m = {"elapsed_sec": round(time.time() - t0, 3), "path": path}
        df = self.spark.read.parquet(path)
        m["rows"] = df.count()
        with open(os.path.join(path, "_metrics.json"), "w") as fh:
            json.dump(m, fh)
        self._metrics[stage] = m
        return df

    # -- stages ----------------------------------------------------------------
    def run(self, files: DataFrame) -> PipelineResult:
        self._input_fp = self._input_fingerprint(files)
        normalized = self._load_or_compute(
            "s1_normalized", lambda: _normalize(files, self.cfg)
        )
        return self._resolve(normalized, generate_blocks(normalized, self.cfg))

    def _resolve(
        self,
        normalized: DataFrame,
        block_keys: DataFrame,
        new_ids: DataFrame | None = None,
        history_edges: DataFrame | None = None,
    ) -> PipelineResult:
        """Stages 2-5 — cap/salt, pair + featurize + score, match filter,
        CC — over ``normalized`` and its raw ``block_keys``. The two
        incremental inputs: ``new_ids`` (record_id) restricts scoring to
        pairs touching at least one of them, and ``history_edges`` enter
        CC next to the matches."""
        cfg = self.cfg

        def _blocks():
            salted, block_metrics = cap_and_salt_blocks(block_keys, cfg)
            acts = {
                r["action"]: (int(r["n"]), int(r["records"]))
                for r in block_metrics.groupBy("action")
                .agg(F.count("*").alias("n"), F.sum("n_records").alias("records"))
                .collect()
            }
            self._metrics["s2_block_caps"] = {
                "salted_blocks": acts.get("salted", (0, 0))[0],
                "dropped_blocks": acts.get("dropped", (0, 0))[0],
                "records_in_dropped_blocks": acts.get("dropped", (0, 0))[1],
            }
            return salted

        salted = self._load_or_compute("s2_blocks", _blocks)

        def _pairs():
            pairs = generate_pairs(salted, cfg)
            if new_ids is not None:
                l_new = new_ids.select(
                    F.col("record_id").alias("left_id"), F.lit(True).alias("_nl")
                )
                r_new = new_ids.select(
                    F.col("record_id").alias("right_id"), F.lit(True).alias("_nr")
                )
                pairs = (
                    pairs.join(l_new, "left_id", "left")
                    .join(r_new, "right_id", "left")
                    .filter(F.col("_nl") | F.col("_nr"))
                    .drop("_nl", "_nr")
                )
            feat = attach_pair_features(pairs, normalized, cfg)
            if self.scorer_model is not None:
                return gbt_score(self.scorer_model, feat)
            return rule_score(feat)

        pairs_scored = self._load_or_compute("s3_pairs_scored", _pairs)

        matches = self._load_or_compute(
            "s4_matches",
            lambda: filter_matches(pairs_scored, cfg).filter(F.col("is_match")),
        )

        def _clusters():
            edges = matches
            if history_edges is not None:
                edges = matches.select("left_id", "right_id").unionByName(
                    history_edges
                )
            clusters, history = connected_components(
                edges, cfg, all_records=normalized
            )
            self._metrics["s5_cc_iterations"] = history
            return clusters

        clusters = self._load_or_compute("s5_clusters", _clusters)

        return PipelineResult(
            normalized=normalized,
            blocks=salted,
            pairs_scored=pairs_scored,
            matches=matches,
            clusters=clusters,
            stage_metrics=dict(self._metrics),
        )

    def run_incremental(
        self,
        history_files: DataFrame,
        new_files: DataFrame,
        history_clusters: DataFrame,
        history_normalized: DataFrame | None = None,
        history_ids: DataFrame | None = None,
        skip_overlap_check: bool = False,
    ) -> PipelineResult:
        """Resolve a NEW batch against an already-resolved history —
        the production mode of a continuously-ingesting ER deployment.

        Only pairs touching at least one new record are featurized and
        scored: the quadratic stage shrinks from O(|all|·avg_block) to
        O(|new|·avg_block). History-history matches enter the final
        connected components as pseudo-edges (record_id, cluster_id)
        from ``history_clusters``, so a new record bridging two old
        clusters merges them exactly as a full-batch run would.

        Result is IDENTICAL to ``run(history ∪ new)`` provided
        ``history_clusters`` came from this pipeline (same config +
        scorer) over ``history_files``: scoring is deterministic, so a
        history-history pair that did not match before still would not
        (equivalence pinned by tests/test_pipeline.py). Caveat: block
        capping/salting runs over the UNION, so the equivalence holds
        exactly only when the delta does not change any block's
        cap/salt decision — a delta that pushes a block over
        ``max_block_size`` drops or re-salts history-history pairs the
        history-only run had scored (and vice versa). With capping
        effectively disabled (large ``max_block_size``) it is exact.

        Stage 1 and the block-key generation run over the DELTA only.
        History's normalize output is ``history_normalized`` when given
        (the previous run's ``.normalized``, or its snapshot); otherwise
        ``history_files`` is normalized once. History's normalize output
        and raw block-key table are snapshotted under the HISTORY
        fingerprint, so every later delta batch against the same
        history reuses them (at cluster scale the key table is the
        thing to keep bucketed by block_key on disk between runs).
        """
        cfg = self.cfg
        # history/delta record ids must be disjoint (an overlapping
        # record would be normalized and keyed twice, duplicating its
        # pairs) — verify up front instead of assuming. One narrow
        # semi-join count, delta ids broadcast. The default scans
        # history_files once per delta batch, which partially offsets
        # the O(delta) win on large histories (round-4 ADVICE) —
        # callers that maintain a history id index (dd07-style digest
        # table) pass it as ``history_ids`` (DataFrame with record_id),
        # and callers that already anti-joined the delta against
        # history set ``skip_overlap_check=True``.
        rid = F.xxhash64("repo", "path", "commit").alias("record_id")
        if not skip_overlap_check:
            hist_ids = (
                history_ids.select("record_id")
                if history_ids is not None
                else history_files.select(rid)
            )
            overlap = hist_ids.join(
                F.broadcast(new_files.select(rid).distinct()),
                "record_id", "left_semi",
            ).count()
            if overlap:
                raise ValueError(
                    f"run_incremental: {overlap} record(s) appear in BOTH "
                    "history and the new batch; dedupe the delta against "
                    "history first (e.g. dd07-style digest anti-join) or "
                    "run a full batch"
                )
        # the history/delta SPLIT keys the run's snapshots: two runs over
        # the same union but different splits produce different
        # s1_normalized (delta rows) and s3_pairs_scored (delta-touching
        # pairs only)
        hist_fp = self._input_fingerprint(history_files)
        self._input_fp = f"{hist_fp}-new{self._input_fingerprint(new_files)}"
        hist_key = f"fp={cfg.fingerprint()}-hist={hist_fp}"

        if history_normalized is None:
            history_normalized = self._load_or_compute(
                "s1_history_normalized",
                lambda: _normalize(history_files, cfg),
                run_key=hist_key,
            )
        new_norm = self._load_or_compute(
            "s1_normalized", lambda: _normalize(new_files, cfg)
        )
        hist_keys = self._load_or_compute(
            "s2_history_keys",
            lambda: generate_blocks(history_normalized, cfg)
            .repartition("block_key"),
            run_key=hist_key,
        )
        delta_keys = generate_blocks(new_norm, cfg)
        self._metrics["s2_delta_key_rows"] = delta_keys.count()
        # cap/salt counts see the union, so capping decisions match the
        # full-batch run exactly
        return self._resolve(
            history_normalized.unionByName(new_norm),
            hist_keys.unionByName(delta_keys),
            new_ids=new_norm.select("record_id").distinct(),
            history_edges=history_pseudo_edges(history_clusters),
        )

    def stage_metrics_resumed(self) -> bool:
        """True iff every snapshot-backed stage was read from disk."""
        snapshot_stages = [
            k for k in ("s1_normalized", "s2_blocks", "s3_pairs_scored",
                         "s4_matches", "s5_clusters") if k in self._metrics
        ]
        return bool(snapshot_stages) and all(
            self._metrics[k].get("resumed_from_snapshot") for k in snapshot_stages
        )

    # -- invariant -------------------------------------------------------------
    @staticmethod
    def verify_content_sha(source_files: DataFrame, normalized: DataFrame) -> int:
        """Per-row invariant (BASELINE.json input_hint): sha256(content)
        of the source table equals the carried content_sha. Returns the
        number of violations (0 = pass)."""
        src = source_files.select(
            F.xxhash64("repo", "path", "commit").alias("record_id"),
            F.sha2("content", 256).alias("expected_sha"),
        )
        return (
            normalized.select("record_id", "content_sha")
            .join(src, "record_id", "full_outer")
            .filter(
                (F.col("content_sha").isNull())
                | (F.col("expected_sha").isNull())
                | (F.col("content_sha") != F.col("expected_sha"))
            )
            .count()
        )
