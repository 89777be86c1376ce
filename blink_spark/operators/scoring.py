"""Stage 2 — pairwise scoring of blocked candidate pairs.

The precision stage: the Spark-native analog of the reference's
cross-encoder rerank (``blink/crossencoder/crossencoder.py:135-144``) in the
cheap-scorer form the yc-song fork itself introduces (MLP over precomputed
embedding pairs, ``blink/crossencoder/mlp.py:98-140``): a fixed blend of

* exact token-shingle Jaccard           (set overlap of stage-1 shingles)
* Levenshtein ratio over bounded heads  (banded numpy DP)
* Jaro-Winkler over bounded heads
* cosine over hashed n-gram vectors     (the embedding-pair score)
* turn-count agreement                  (structural prior)

thresholded per the reference's threshold-as-pruning
(``elq/main_dense.py:432-449``).

Two-pass physical plan (decision-equivalent to the full blend at the
configured threshold — the within-stage-2 echo of BLINK's cheap-retrieve /
expensive-rank split):

* **pass 1** ships only the compact pair features (shingle sets, 256-d
  vectors, turn counts — NO text) into one vectorized pandas UDF computing
  Jaccard / cosine / turn agreement. Pure column expressions then decide
  every pair whose cheap ``core`` score already determines the thresholded
  outcome (lev = jw ∈ [0,1] bounds).
* **pass 2** joins the 256-char text heads ONLY for the undecided sliver
  and runs the edit-distance UDF on it (head length validated by the
  12-seed margin sweep, scripts/tune_blocking.py).

Pass 1 ships 32-bit shingle hashes + 256-d vectors and NO text, and the
O(len²) edit distances run only for the pairs pass 1 leaves undecided —
at 10^12 turns the scorer's input bandwidth, not its FLOPs, is the
bottleneck. Measured traffic into Python for the whole stage (both passes)
is ≈6.3 KB per candidate pair on the long-transcript benchmark workload,
where 98% of pairs reach pass 2 (4-core host; ``scoring.py_sent_mb`` ÷
``blocking.candidate_pairs`` from ``python3 perfbench/run.py --workload
batch_long_ckpt --seed 11 --seconds 10 --trace 1``).
Gating depends only on the pair's own features — deterministic at any
parallelism.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from blink_spark.checkpoint import CheckpointManager
from blink_spark.functions import strsim


@dataclass
class ScoringConfig:
    """Feature weights + match threshold.

    Calibrated on the 12-seed offline sweep (scripts/tune_blocking.py):
    max blocked-negative score 0.412, min positive score 0.499 → the 0.46
    threshold sits mid-margin with zero edge misses and zero false
    positives. Edit-distance weight is kept small (w_lev + w_jw = 0.12) so
    the cheap-feature bounds decide almost every pair without reading text
    (see the two-pass plan in the module docstring).
    """

    w_jaccard: float = 0.46
    w_lev: float = 0.08
    w_jw: float = 0.04
    w_cosine: float = 0.34
    w_turns: float = 0.08
    threshold: float = 0.46


_CHEAP_SCHEMA = T.StructType(
    [
        T.StructField("conv_a", T.StringType()),
        T.StructField("conv_b", T.StringType()),
        T.StructField("jaccard", T.DoubleType()),
        T.StructField("cosine", T.DoubleType()),
        T.StructField("turn_agree", T.DoubleType()),
    ]
)

_EXP_SCHEMA = T.StructType(
    [
        T.StructField("conv_a", T.StringType()),
        T.StructField("conv_b", T.StringType()),
        T.StructField("jaccard", T.DoubleType()),
        T.StructField("cosine", T.DoubleType()),
        T.StructField("turn_agree", T.DoubleType()),
        T.StructField("core", T.DoubleType()),
        T.StructField("lev_ratio", T.DoubleType()),
        T.StructField("jaro_winkler", T.DoubleType()),
    ]
)


def pair_features(pairs: DataFrame, features: DataFrame, include_heads: bool = True) -> DataFrame:
    """Attach both sides' precomputed features to each candidate pair.

    ``include_heads=False`` ships only the compact columns (pass-1 path).
    """
    cols_a = [
        F.col("conv_id").alias("conv_a"),
        F.col("shingles").alias("shingles_a"),
        F.col("vec").alias("vec_a"),
        F.col("n_turns").alias("turns_a"),
    ]
    cols_b = [
        F.col("conv_id").alias("conv_b"),
        F.col("shingles").alias("shingles_b"),
        F.col("vec").alias("vec_b"),
        F.col("n_turns").alias("turns_b"),
    ]
    if include_heads:
        cols_a.append(F.col("doc_head").alias("head_a"))
        cols_b.append(F.col("doc_head").alias("head_b"))
    return pairs.join(features.select(*cols_a), "conv_a").join(features.select(*cols_b), "conv_b")


def _cheap_scores(pairs_with_features: DataFrame) -> DataFrame:
    """Pass 1: vectorized Jaccard / cosine / turn-agreement per pair."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = len(pdf)
            ta = pdf["turns_a"].to_numpy(dtype=np.float64)
            tb = pdf["turns_b"].to_numpy(dtype=np.float64)
            turn_agree = np.minimum(ta, tb) / np.maximum(np.maximum(ta, tb), 1.0)
            if n:
                va = np.vstack(pdf["vec_a"].to_numpy()).astype(np.float32, copy=False)
                vb = np.vstack(pdf["vec_b"].to_numpy()).astype(np.float32, copy=False)
                cos = np.clip(np.einsum("nd,nd->n", va, vb, dtype=np.float64), -1.0, 1.0)
            else:
                cos = np.empty(0)
            # whole-batch set intersection: one lexsort over every pair's
            # elements tagged with pair ids — no per-pair Python loop
            jac = strsim.jaccard_sorted_batch(
                list(pdf["shingles_a"].to_numpy()), list(pdf["shingles_b"].to_numpy())
            )
            yield pd.DataFrame(
                {
                    "conv_a": pdf["conv_a"],
                    "conv_b": pdf["conv_b"],
                    "jaccard": jac,
                    "cosine": cos,
                    "turn_agree": turn_agree,
                }
            )

    return pairs_with_features.mapInPandas(gen, schema=_CHEAP_SCHEMA)


def _expensive_scores(undecided_with_heads: DataFrame) -> DataFrame:
    """Pass 2: Levenshtein ratio + Jaro-Winkler over bounded text heads,
    only for pairs the cheap features could not decide."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # batched DP across all pairs at once (masked numpy) — each DP
            # step covers the whole batch instead of one pair
            ha = [h or "" for h in pdf["head_a"].to_numpy()]
            hb = [h or "" for h in pdf["head_b"].to_numpy()]
            lev = strsim.levenshtein_ratio_batch(ha, hb)
            jw = strsim.jaro_winkler_batch([h[:64] for h in ha], [h[:64] for h in hb])
            yield pd.DataFrame(
                {
                    "conv_a": pdf["conv_a"],
                    "conv_b": pdf["conv_b"],
                    "jaccard": pdf["jaccard"],
                    "cosine": pdf["cosine"],
                    "turn_agree": pdf["turn_agree"],
                    "core": pdf["core"],
                    "lev_ratio": lev,
                    "jaro_winkler": jw,
                }
            )

    return undecided_with_heads.mapInPandas(gen, schema=_EXP_SCHEMA)


def score_pairs(
    pairs: DataFrame,
    features: DataFrame,
    cfg: ScoringConfig | None = None,
    stages: CheckpointManager | None = None,
) -> DataFrame:
    """Score candidate pairs → per-feature columns + blended ``score``.

    Decided-without-edit-distance rows report NaN for lev/jw and a
    decision-safe score bound:
      full_blend ≥ core                (lev = jw = 0 lower bound)
      full_blend ≤ core + w_exp        (lev = jw = 1 upper bound)
    so ``core_n ≥ τ/w_core`` accepts and ``core_n < (τ−w_exp)/w_core``
    rejects without ever reading the text heads.

    The pass-1 result feeds both the decided and the undecided branches,
    so it is persisted through ``stages`` when the caller hands one in (a
    deliberate barrier, see PLANS.md); the manager releases it after the
    scored output is materialized. Without an owner nothing is persisted.
    """
    cfg = cfg or ScoringConfig()
    w_exp = cfg.w_lev + cfg.w_jw
    w_core_total = cfg.w_jaccard + cfg.w_cosine + cfg.w_turns
    hi_core = cfg.threshold / w_core_total            # accept without lev/jw
    lo_core = (cfg.threshold - w_exp) / w_core_total  # reject without lev/jw

    cheap = _cheap_scores(pair_features(pairs, features, include_heads=False))
    core = (
        cfg.w_jaccard * F.col("jaccard")
        + cfg.w_cosine * F.col("cosine")
        + cfg.w_turns * F.col("turn_agree")
    )
    base = cheap.withColumns({"core": core, "core_n": core / F.lit(w_core_total)})
    if stages is not None:
        base = stages.persist(base)

    nan = F.lit(float("nan"))
    decided = base.where((F.col("core_n") < lo_core) | (F.col("core_n") >= hi_core)).select(
        "conv_a",
        "conv_b",
        "jaccard",
        nan.alias("lev_ratio"),
        nan.alias("jaro_winkler"),
        "cosine",
        "turn_agree",
        F.when(F.col("core_n") >= hi_core, F.col("core") + w_exp)
        .otherwise(F.col("core"))
        .alias("score"),
    )

    heads = features.select("conv_id", "doc_head")
    undecided = (
        base.where((F.col("core_n") >= lo_core) & (F.col("core_n") < hi_core))
        .drop("core_n")
        .join(heads.select(F.col("conv_id").alias("conv_a"), F.col("doc_head").alias("head_a")), "conv_a")
        .join(heads.select(F.col("conv_id").alias("conv_b"), F.col("doc_head").alias("head_b")), "conv_b")
    )
    exp = _expensive_scores(undecided).select(
        "conv_a",
        "conv_b",
        "jaccard",
        "lev_ratio",
        "jaro_winkler",
        "cosine",
        "turn_agree",
        (F.col("core") + cfg.w_lev * F.col("lev_ratio") + cfg.w_jw * F.col("jaro_winkler")).alias("score"),
    )
    return decided.unionByName(exp)


def match_edges(scored: DataFrame, cfg: ScoringConfig | None = None) -> DataFrame:
    """Threshold scored pairs → match-edge DataFrame for stage 3."""
    cfg = cfg or ScoringConfig()
    return scored.where(F.col("score") >= F.lit(cfg.threshold)).select("conv_a", "conv_b", "score")
