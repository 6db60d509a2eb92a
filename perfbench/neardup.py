"""``neardup_queries``: one pass over the near-duplicate and similarity
queries of ``ops.dedup`` and ``ops.similarity`` that the open
performance items target (the PPJoin n-gram pairs, the exact cosine
paths and the PQ top-k), over the repo's sf0.01 ``documents`` and
``embeddings`` tables.
"""

from __future__ import annotations

import os

import pandas as pd
import pyarrow.parquet as pq

from harness import CACHE, check_recorded, frame_sha

#: the repo's own ``documents`` (500 rows) and ``embeddings`` (500 x 64)
#: test tables at sf0.01: the scale the DuckDB oracle tests run at, from
#: the same seed-42 generator as the sf0.1 tables sim04's committed PQ
#: codebook was trained on. Copied here so a run reads nothing outside
#: its checkout. At sf0.1 a warm pass took 8-12 s against 6-7 s here
#: and a run 10-15 s longer, more than the run budget can carry.
DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")

#: (layer family, short id, registered query); the pass runs them in order
PASS = (
    ("dedup", "dd02", "dd02_ngram_jaccard_pairs"),
    ("dedup", "dd05", "dd05_embedding_dup_pairs"),
    ("similarity", "sim01", "sim01_bruteforce_topk"),
    ("similarity", "sim04", "sim04_pq_topk"),
)
ORACLE = ("dd02", "dd05", "sim01")  # DuckDB twins exist for these


class NeardupQueries:
    #: the cold pass takes ~25 s, the next ~7-9 s, and from the third the
    #: passes hold at 6-7 s. dd05 and sim04 have occasional slow passes.
    #: The median of the three passes after the cold one leaves out both
    WARMUP_OPS, MIN_OPS = 1, 3

    def __init__(self, seed: int):
        # the tables are fixed, so the seed selects nothing here
        self.dir = DATA
        self.expected = os.path.join(CACHE, "neardup-sf0.01-expected.json")
        self.n_records = pq.ParquetFile(
            os.path.join(DATA, "documents.parquet")
        ).metadata.num_rows
        self.shas = None
        self.f1 = None
        self.timings = {}

    def setup(self, spark):
        # importing the ops modules registers their queries
        from smaph_spark.ops import dedup, similarity  # noqa: F401
        from smaph_spark.plans.star_queries import QUERIES

        self.spark = spark
        self.queries = QUERIES

    def _run(self, name: str):
        return self.queries[name].fn(self.spark, self.dir).toPandas()

    def op(self):
        return {short: self._run(name) for _, short, name in PASS}

    def traced_op(self, tracer) -> dict:
        out = {}
        for family, short, name in PASS:
            with tracer.window(f"{family}.{short}"):
                out[short] = self._run(name)
        counts = {
            f"{family}.{short}.rows_out": len(out[short])
            for family, short, _ in PASS
        }
        counts["_outputs"] = out
        return counts

    def check(self, outputs, first: bool) -> bool:
        ok = True
        if first:
            import duckdb
            from smaph_spark.plans.parity import compare_frames

            con = duckdb.connect()
            try:
                for t in ("documents", "embeddings"):
                    con.execute(
                        f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{self.dir}/{t}.parquet')"
                    )
                for _, short, name in PASS:
                    if short in ORACLE:
                        duck = con.execute(self.queries[name].sql).fetchdf()
                        ok &= compare_frames(outputs[short], duck)["ok"]
            finally:
                con.close()
            self.f1 = _topk_f1(outputs["sim04"], outputs["sim01"])
        shas = {short: frame_sha(pdf) for short, pdf in outputs.items()}
        if self.shas is None:
            self.shas = shas
            for short, sha in shas.items():
                ok &= check_recorded(self.expected, short, sha)
        return ok and shas == self.shas

    def derived(self, m: dict, job_s: float) -> dict:
        return {}


def _topk_f1(approx: pd.DataFrame, exact: pd.DataFrame) -> float:
    """Pairwise F1 of the PQ top-k (query, neighbour) pairs against the
    exact brute-force top-k: a faster ANN path that loses recall shows."""
    a = set(zip(approx["q_vec"], approx["n_vec"]))
    e = set(zip(exact["q_vec"], exact["n_vec"]))
    tp = len(a & e)
    return 2 * tp / (len(a) + len(e)) if a or e else 1.0
