"""The benchmark's workloads, driven through the program's public entry points.

* ``batch_long_ckpt``: ``ERPipeline.run`` through a fresh ``CheckpointManager``
  (the ``scripts/er_job.py`` path) over long, sparse-duplicate transcripts.
* ``stream_delta``: ``incremental.process_er_batch`` (the ``foreachBatch``
  body of ``incremental_er_stream``); one closed-loop client commits 2%
  micro-batches of new conversations against a seed state, the next one
  only after the previous commit returned.

Each workload has an untraced operation, timed for the end-to-end metrics,
and a traced one: the same entry point called with the program's stage
functions interposed from outside (see :class:`Tracer`).
"""

from __future__ import annotations

import functools
import os
import shutil
import time
from collections import defaultdict
from contextlib import contextmanager
from typing import Callable

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.readwriter import DataFrameWriter

import checks
import inputs
from blink_spark.checkpoint import CheckpointManager
from blink_spark.operators import blocking, clustering, incremental, scoring
from blink_spark.pipeline import ERPipeline, PipelineConfig

# jobs the benchmark adds to count layer outputs after the traced operation
CENSUS = "census"

Rows = list[tuple[str, str]]


def collect_rows(df: DataFrame) -> Rows:
    return [(r["conv_id"], r["cluster_id"]) for r in df.select("conv_id", "cluster_id").collect()]


def conv_ids(path: str) -> set[str]:
    return set(pq.read_table(path, columns=["conv_id"]).column("conv_id").to_pylist())


def du_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(root, f)) for root, _, files in os.walk(path) for f in files
    )


class Tracer:
    """Per-layer self time, Spark job groups and output rows of one operation.

    :meth:`interpose` replaces program functions by wrappers that run the
    call inside a named layer (the layer's Spark jobs carry it as their job
    group) and may materialize the result at the layer boundary, so the next
    layer reads it from cache instead of recomputing it under its own name.
    Layers nest; a layer's wall time excludes the layers nested in it.
    """

    def __init__(self, spark: SparkSession):
        self.sc = spark.sparkContext
        self.wall_s: dict[str, float] = defaultdict(float)
        self.rows_out: dict[str, int] = {}
        self.outputs: dict[str, DataFrame] = {}
        self._stack: list[list] = []  # [layer, time its self-time clock restarted]

    def _tag(self) -> None:
        if self._stack:
            self.sc.setJobGroup(self._stack[-1][0], self._stack[-1][0])
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    @contextmanager
    def layer(self, name: str):
        now = time.perf_counter()
        if self._stack:
            self.wall_s[self._stack[-1][0]] += now - self._stack[-1][1]
        self._stack.append([name, now])
        self._tag()
        try:
            yield
        finally:
            now = time.perf_counter()
            self.wall_s[name] += now - self._stack.pop()[1]
            if self._stack:
                self._stack[-1][1] = now
            self._tag()

    def materialize(self, layer: str, key: str, df: DataFrame, rows: bool = True) -> None:
        """Persist + count ``df`` inside ``layer`` and keep it as ``key``."""
        with self.layer(layer):
            n = df.persist().count()
        self.outputs[key] = df
        if rows:
            self.rows_out[layer] = n

    @contextmanager
    def interpose(self, *points: tuple[object, str, str, Callable | None]):
        """Wrap ``owner.attr`` for each ``(owner, attr, layer, post)``;
        ``post(tracer, layer, attr, result)`` runs inside the layer after the
        call. The originals are restored on exit."""
        saved = [(owner, attr, getattr(owner, attr)) for owner, attr, _, _ in points]
        try:
            for (owner, attr, layer, post), (_, _, fn) in zip(points, saved):
                setattr(owner, attr, self._wrap(fn, attr, layer, post))
            yield
        finally:
            for owner, attr, fn in saved:
                setattr(owner, attr, fn)

    def _wrap(self, fn: Callable, attr: str, layer: str, post: Callable | None) -> Callable:
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.layer(layer):
                out = fn(*args, **kwargs)
                if post is not None:
                    post(self, layer, attr, out)
            return out

        return traced


def output(tr: Tracer, layer: str, key: str, df: DataFrame) -> None:
    """The call's result is the layer's output."""
    tr.materialize(layer, key, df)


def inner(tr: Tracer, layer: str, key: str, df: DataFrame) -> None:
    """The call's result stays inside the layer (materialized, not its output)."""
    tr.materialize(layer, key, df, rows=False)


class BatchLongCkpt:
    """Checkpointed batch ER over long, sparse-duplicate transcripts."""

    name = "batch_long_ckpt"
    # untraced runs before a warm one: the first run in the JVM is cold
    cold_ops = 1

    @staticmethod
    def prepare(seed: int, root: str, tiny: bool) -> dict:
        return {"main": inputs.generate(inputs.TINY["long"] if tiny else inputs.LONG, seed, root)}

    def __init__(self, spark: SparkSession, manifests: dict, work: str):
        self.spark = spark
        part = manifests["main"]["parts"]["all"]
        self.path = part["path"]
        self.turns = part["turns"]
        self.input_bytes = part["bytes"]
        self.convs = conv_ids(self.path)
        self.ckpt_root = os.path.join(work, "checkpoints")
        self.n_runs = 0

    def setup(self) -> list[str]:
        """No warm-up: an ``er_job.py`` run is one job in a fresh JVM, so
        its users pay the first-use costs the timed run pays."""
        return []

    def has_next(self) -> bool:
        return True

    def expected_convs(self) -> set[str]:
        return self.convs

    def _run(self, run_id: str):
        mgr = CheckpointManager(self.spark, self.ckpt_root, run_id=run_id)
        return ERPipeline().run(self.spark, self.spark.read.parquet(self.path), checkpoints=mgr)

    def op(self) -> tuple[float, int, Rows]:
        """One er_job-style run through a counted assignment."""
        run_id = f"op{self.n_runs}"
        self.n_runs += 1
        t0 = time.perf_counter()
        res = self._run(run_id)
        res.assignments.count()
        wall = time.perf_counter() - t0
        rows = collect_rows(res.assignments)
        res.unpersist()
        shutil.rmtree(os.path.join(self.ckpt_root, run_id), ignore_errors=True)
        return wall, self.turns, rows

    def traced(self, tr: Tracer) -> tuple[float, Rows, dict, list[str]]:
        """The same run with every stage interposed, then resumed.

        Returns (traced wall, assignment rows, layer-specific metrics,
        correctness problems).
        """
        run_id = "traced"
        points = (
            (ERPipeline, "build_docs", "features", inner),
            (ERPipeline, "build_features", "features", output),
            (ERPipeline, "block", "blocking", output),
            (ERPipeline, "score", "scoring", output),
            (scoring, "match_edges", "scoring", inner),
            (ERPipeline, "cluster", "clustering", inner),
            (CheckpointManager, "write", "checkpoint", None),
        )
        t0 = time.perf_counter()
        with tr.interpose(*points):
            res = self._run(run_id)
            tr.materialize("clustering", "assignments", res.assignments)
        wall = time.perf_counter() - t0
        rows = collect_rows(res.assignments)
        res.unpersist()

        # resume: the same run_id again, every stage already committed
        t0 = time.perf_counter()
        resumed = self._run(run_id)
        resumed.assignments.count()
        resume_s = time.perf_counter() - t0
        problems = []
        if checks.digest(collect_rows(resumed.assignments)) != checks.digest(rows):
            problems.append("resumed assignment differs from the checkpointed run")
        resumed.unpersist()

        features, pairs = tr.outputs["build_features"], tr.outputs["block"]
        with tr.layer(CENSUS):
            keys = blocking.block_keys(features)
            key_rows = keys.count()
            hot_keys = blocking.cap_blocks(keys, ERPipeline().config.blocking.max_block_size)[1].count()
            pair_rows = [(r["conv_a"], r["conv_b"]) for r in pairs.collect()]
            pass2 = tr.outputs["score"].where(~F.isnan("lev_ratio")).count()
            n_edges = tr.outputs["match_edges"].count()
        written = du_bytes(os.path.join(self.ckpt_root, run_id))
        shutil.rmtree(os.path.join(self.ckpt_root, run_id), ignore_errors=True)
        n_pairs = len(pair_rows)
        extra = {
            "blocking.key_rows": key_rows,
            "blocking.hot_keys_dropped": hot_keys,
            "blocking.candidate_pairs": n_pairs,
            "blocking.useful_ratio": n_edges / n_pairs if n_pairs else 0.0,
            "blocking.pairs_completeness": checks.pairs_completeness(pair_rows, self.convs),
            "scoring.pass2_frac": pass2 / n_pairs if n_pairs else 0.0,
            "scoring.edges": n_edges,
            "clustering.edges_in": n_edges,
            "checkpoint.write_s": tr.wall_s["checkpoint"],
            "checkpoint.bytes_written_mb": written / 2**20,
            "checkpoint.write_amp": written / self.input_bytes,
            "checkpoint.resume_s": resume_s,
        }
        return wall, rows, extra, problems


class StreamDelta:
    """Closed-loop micro-batch commits against a seed state."""

    name = "stream_delta"
    cold_ops = 0  # set-up already committed once

    @staticmethod
    def prepare(seed: int, root: str, tiny: bool) -> dict:
        shape = inputs.TINY["dup"] if tiny else inputs.DUP
        return {"main": inputs.generate(shape, seed, root, split_stream=True)}

    def __init__(self, spark: SparkSession, manifests: dict, work: str):
        self.spark = spark
        parts = manifests["main"]["parts"]
        self.seed_path = parts["seed"]["path"]
        self.batches = [parts[f"batch_{i}"] for i in range(1, inputs.N_MICRO_BATCHES + 1)]
        self.batch_convs = [conv_ids(b["path"]) for b in self.batches]
        self.convs = conv_ids(self.seed_path)
        self.state = os.path.join(work, "state")
        self.committed = 0
        self.config = PipelineConfig()

    def setup(self) -> list[str]:
        """Seed state, then a warm-up commit.

        The seed state is a batch run over the seed corpus, written in the
        ``process_er_batch`` state layout as batch 0. The first micro-batch
        is then committed untimed, as a long-running stream has done before
        any commit a user waits on. Returns the warm-up commit's problems.
        """
        res = ERPipeline(self.config).run(
            self.spark, self.spark.read.parquet(self.seed_path), compute_metrics=False
        )
        res.features.write.parquet(f"{self.state}/features/batch_id=0")
        res.assignments.write.parquet(f"{self.state}/assignments/v=0")
        res.unpersist()
        _, _, rows = self.op()
        return checks.check_assignment(rows, self.convs)

    def has_next(self) -> bool:
        return self.committed < len(self.batches)

    def expected_convs(self) -> set[str]:
        return self.convs

    def _next_batch(self) -> tuple[int, dict]:
        """(batch_id, manifest part) of the next micro-batch; the seed is 0."""
        self.committed += 1
        self.convs = self.convs | self.batch_convs[self.committed - 1]
        return self.committed, self.batches[self.committed - 1]

    def final_rows(self) -> Rows:
        return collect_rows(incremental.read_latest_assignments(self.spark, self.state))

    def op(self) -> tuple[float, int, Rows]:
        """One commit of the next micro-batch."""
        batch_id, batch = self._next_batch()
        t0 = time.perf_counter()
        incremental.process_er_batch(
            self.spark.read.parquet(batch["path"]), batch_id, self.state, self.config
        )
        wall = time.perf_counter() - t0
        return wall, batch["turns"], self.final_rows()

    def reference_rows(self) -> Rows:
        """Batch clustering of seed ∪ committed micro-batches (untimed)."""
        paths = [self.seed_path] + [b["path"] for b in self.batches[: self.committed]]
        res = ERPipeline(self.config).run(
            self.spark, self.spark.read.parquet(*paths), compute_metrics=False
        )
        rows = collect_rows(res.assignments)
        res.unpersist()
        return rows

    def traced(self, tr: Tracer) -> tuple[float, Rows, dict, list[str]]:
        """One commit with ``incremental_update``'s stages interposed and the
        two state writes of ``process_er_batch`` timed on their own."""
        batch_id, batch = self._next_batch()
        new_features = f"{self.state}/features/batch_id={batch_id}"
        new_assignments = f"{self.state}/assignments/v={batch_id}"

        def assignments(tr: Tracer, layer: str, key: str, res) -> None:
            tr.materialize("clustering", "assignments", res.assignments)

        points = (
            (blocking, "conversation_docs", "features", inner),
            (blocking, "compute_features", "features", output),
            (incremental, "delta_candidate_pairs", "blocking", output),
            (scoring, "score_pairs", "scoring", output),
            (scoring, "match_edges", "scoring", inner),
            (clustering, "connected_components", "clustering", inner),
            (incremental, "incremental_update", "incremental", assignments),
            (DataFrameWriter, "parquet", "incremental.write", None),
        )
        t0 = time.perf_counter()
        with tr.interpose(*points), tr.layer("incremental"):
            incremental.process_er_batch(
                self.spark.read.parquet(batch["path"]), batch_id, self.state, self.config
            )
        wall = time.perf_counter() - t0
        rows = self.final_rows()

        spark = self.spark
        with tr.layer(CENSUS):
            features = spark.read.option("basePath", f"{self.state}/features").parquet(
                f"{self.state}/features/batch_id=*"
            )
            features_old = features.where(F.col("batch_id") < batch_id).drop("batch_id")
            features_new = spark.read.parquet(new_features)
            state_rows = features_old.count()
            union_keys = blocking.block_keys(features_old.unionByName(features_new))
            census_key_rows = union_keys.count()
            hot_keys = blocking.cap_blocks(union_keys, self.config.blocking.max_block_size)[1].count()
            key_rows = blocking.block_keys(features_new).count()
            pair_rows = [(r["conv_a"], r["conv_b"]) for r in tr.outputs["delta_candidate_pairs"].collect()]
            pass2 = tr.outputs["score_pairs"].where(~F.isnan("lev_ratio")).count()
            edges = tr.outputs["match_edges"]
            n_edges = edges.count()
            # the touched-cluster star edges incremental_update adds to CC
            old = incremental.read_latest_assignments(spark, self.state, before=batch_id)
            ends = edges.select(F.col("conv_a").alias("conv_id")).unionByName(
                edges.select(F.col("conv_b").alias("conv_id"))
            )
            touched = old.join(ends, "conv_id", "left_semi").select("cluster_id").distinct()
            star = incremental.star_edges(old.join(touched, "cluster_id", "left_semi")).count()
        n_pairs = len(pair_rows)
        extra = {
            "blocking.key_rows": key_rows,
            "blocking.hot_keys_dropped": hot_keys,
            "blocking.candidate_pairs": n_pairs,
            "blocking.useful_ratio": n_edges / n_pairs if n_pairs else 0.0,
            "blocking.pairs_completeness": checks.pairs_completeness(
                pair_rows, self.convs, new=self.batch_convs[batch_id - 1]
            ),
            "scoring.pass2_frac": pass2 / n_pairs if n_pairs else 0.0,
            "scoring.edges": n_edges,
            "clustering.edges_in": n_edges + star,
            "incremental.state_rows": state_rows,
            "incremental.census_key_rows": census_key_rows,
            "incremental.delta_pairs": n_pairs,
            "incremental.touched_star_edges": star,
            "incremental.write_s": tr.wall_s["incremental.write"],
            "incremental.bytes_written_mb": (du_bytes(new_features) + du_bytes(new_assignments)) / 2**20,
        }
        return wall, rows, extra, []
