"""ERPipeline — the end-to-end block → score → cluster orchestrator.

Public API (the engine's equivalent of the reference's
``main_dense.load_models`` + ``run`` surface, ``blink/main_dense.py:289-586``):

    pipe = ERPipeline(PipelineConfig())
    result = pipe.run(spark, transcripts_df, checkpoints=mgr)
    result.assignments   # (conv_id, cluster_id)
    result.edges         # thresholded match edges with scores
    result.metrics       # stage counters / lineage

Every stage runs through one :class:`CheckpointManager`: durable with a
``base_dir``, so a rerun resumes after the last committed stage (north_rule
resumability), in memory without one.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from blink_spark.checkpoint import CheckpointManager
from blink_spark.operators import blocking, clustering, scoring


@dataclass
class PipelineConfig:
    blocking: blocking.BlockingConfig = field(default_factory=blocking.BlockingConfig)
    scoring: scoring.ScoringConfig = field(default_factory=scoring.ScoringConfig)
    cc_max_iter: int = 50


@dataclass
class PipelineResult:
    docs: DataFrame
    features: DataFrame
    pairs: DataFrame
    scored: DataFrame
    edges: DataFrame
    assignments: DataFrame
    metrics: dict
    stages: CheckpointManager  # owns every DataFrame the run persisted

    def unpersist(self, blocking: bool = False) -> None:
        """Release the run's stage outputs and operator intermediates."""
        self.stages.unpersist(blocking)


class ERPipeline:
    def __init__(self, config: PipelineConfig | None = None):
        self.config = config or PipelineConfig()

    # -- stage wrappers (each independently usable) ----------------------
    def build_docs(self, transcripts: DataFrame) -> DataFrame:
        return blocking.conversation_docs(transcripts)

    def build_features(self, docs: DataFrame) -> DataFrame:
        return blocking.compute_features(docs, self.config.blocking)

    def block(self, features: DataFrame, stages: CheckpointManager | None = None) -> DataFrame:
        keys = blocking.block_keys(features)
        pairs = blocking.candidate_pairs(keys, self.config.blocking, stages=stages)
        if self.config.blocking.snm_window >= 2:
            # third modality (opt-in): sorted-neighborhood pairs catch the
            # low-Jaccard twins below the hash modalities' sensitivity
            # floor; union + dedup keeps the canonical pair contract
            pairs = pairs.unionByName(
                blocking.snm_pairs_from_features(features, self.config.blocking)
            ).dropDuplicates()
        return pairs

    def score(
        self, pairs: DataFrame, features: DataFrame, stages: CheckpointManager | None = None
    ) -> DataFrame:
        return scoring.score_pairs(pairs, features, self.config.scoring, stages=stages)

    def cluster(self, edges: DataFrame) -> DataFrame:
        return clustering.connected_components(edges, max_iter=self.config.cc_max_iter)

    # -- end to end -------------------------------------------------------
    def run(
        self,
        spark: SparkSession,
        transcripts: DataFrame,
        checkpoints: CheckpointManager | None = None,
        compute_metrics: bool = True,
    ) -> PipelineResult:
        """End-to-end block → score → cluster.

        Stages run through ``checkpoints`` or a fresh in-memory manager;
        ``result.unpersist()`` releases everything the run persisted.

        ``compute_metrics=False`` skips the eager row counts (three extra
        Spark jobs) — use for latency-sensitive paths. The checkpointed
        path's lineage sidecars still hold each stage's row count, at one
        census job per written stage; match edges are not a stage, so
        their count is not among them.
        """
        stages = checkpoints if checkpoints is not None else CheckpointManager(spark)
        if stages.base_dir is None:
            # docs has exactly one downstream consumer (the feature pass) in
            # the in-memory path: leave it unpersisted so the conversation
            # shuffle and the feature UDF pipeline into ONE materialization
            # (the conv list for singleton resolution comes from features).
            # The checkpointed path still writes s0_docs as its own durable,
            # resumable stage.
            docs = self.build_docs(transcripts)
        else:
            docs = stages.stage("s0_docs", lambda: self.build_docs(transcripts))
        features = stages.stage("s1_features", lambda: self.build_features(docs))
        pairs = stages.stage("s2_pairs", lambda: self.block(features, stages))
        scored = stages.stage("s3_scored", lambda: self.score(pairs, features, stages))
        edges = scoring.match_edges(scored, self.config.scoring)
        assignments = stages.stage("s4_clusters", lambda: self.cluster(edges))

        # the conv list reads the (persisted/checkpointed) feature table,
        # not docs
        full_assignments = clustering.with_singletons(features.select("conv_id"), assignments)

        metrics = {}
        if compute_metrics:
            metrics = {
                "n_conversations": features.count(),
                "n_candidate_pairs": pairs.count(),
                "n_match_edges": edges.count(),
            }
        if stages.base_dir is not None:
            metrics["stages_written"] = list(stages.stages_written)
            metrics["stages_resumed"] = list(stages.stages_resumed)
        return PipelineResult(
            docs=docs,
            features=features,
            pairs=pairs,
            scored=scored,
            edges=edges,
            assignments=full_assignments,
            metrics=metrics,
            stages=stages,
        )
