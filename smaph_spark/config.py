"""Pipeline configuration.

One frozen dataclass carries every knob of the ER pipeline so that a
config fingerprint can key resumable stage snapshots (north_rule:
resumable from checkpoint). Defaults are sized for correctness at test
scale and documented with their 100 TB-scale rationale.
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import asdict, dataclass


@dataclass(frozen=True)
class ERConfig:
    # --- content fingerprinting -------------------------------------------
    shingle_k: int = 7          # char-shingle width over normalized content
    num_minhash: int = 128      # minhash permutations (std of J-estimate ~0.04)
    lsh_bands: int = 16         # bands of rows_per_band rows each
    # rows_per_band = num_minhash // lsh_bands = 8 → LSH s-curve threshold
    # (1/16)^(1/8) ≈ 0.71 — tuned for "same file, light mutations" dups
    minhash_seed: int = 0x5A17  # deterministic hash family (north_rule)

    # --- blocking ----------------------------------------------------------
    max_block_size: int = 200        # hot-key cap: blocks above this are
                                     # salted into sub-blocks (quadratic
                                     # pair-join guard; drops are logged)
    block_salt_buckets: int = 16     # sub-buckets for oversized blocks

    # --- pair scoring -------------------------------------------------------
    match_threshold: float = 0.60    # accept pair iff score >= threshold

    # --- clustering ----------------------------------------------------------
    cc_local_threshold: int = 100_000  # <= this many match edges → run
                                     # union-find on the driver (a few MB;
                                     # the iterative hash-min machinery
                                     # costs ~10 stages of fixed overhead
                                     # that dwarfs tiny graphs). Above it,
                                     # the distributed path runs — at
                                     # 100 TB the match graph is huge and
                                     # always takes that path.

    # --- execution ------------------------------------------------------------
    broadcast_payload: bool = True       # broadcast the per-record pair
                                         # payload into the feature joins
                                         # (disable at >~1e9 records and
                                         # bucket on record_id instead)
    pair_minhash_width: int = 64         # signature slots carried into
                                         # the pair join, as int32
                                         # (J-estimate std = sqrt(J(1-J)/w);
                                         # 64 → ≤0.063 — narrow payload
                                         # dominates pair-stage shuffle
                                         # volume at scale)

    def fingerprint(self) -> str:
        payload = json.dumps(asdict(self), sort_keys=True).encode()
        return hashlib.sha256(payload).hexdigest()[:16]

    #: knobs that change the VALUE DISTRIBUTION of the pair features a
    #: scorer is trained on (not merely which pairs are generated):
    #: the content fingerprinting family and the signature width carried
    #: into the pair join
    _FEATURE_KNOBS = (
        "shingle_k", "num_minhash", "lsh_bands", "minhash_seed",
        "pair_minhash_width",
    )

    def feature_fingerprint(self) -> str:
        """Fingerprint of the feature-affecting knobs only. Persisted in
        scorer_meta.json so a trained scorer can detect train/serve
        config skew (a scorer fit on shingle_k=7 features silently
        degrades on shingle_k=5 features — the dominant jaccard_est
        feature shifts distribution)."""
        d = asdict(self)
        payload = json.dumps(
            {k: d[k] for k in self._FEATURE_KNOBS}, sort_keys=True
        ).encode()
        return hashlib.sha256(payload).hexdigest()[:16]

    @property
    def rows_per_band(self) -> int:
        assert self.num_minhash % self.lsh_bands == 0
        return self.num_minhash // self.lsh_bands
