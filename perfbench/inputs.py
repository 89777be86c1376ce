"""Seeded benchmark inputs, generated once per (shape, seed) to parquet.

The program under test only ever sees the parquet written here. Inputs are
made with ``blink_spark.synth`` (the planted-duplicate generator) and written
with pyarrow, so no Spark session is needed and generation is never billed to
``setup_s`` or to a timed operation.

The planted truth is part of the generator's contract: ``conv_id`` is
``e{entity:06d}_c{copy}``, so the gold entity of a conversation is its id
prefix (see ``synth.generate_pandas``).
"""

from __future__ import annotations

import json
import os
import zlib
from dataclasses import asdict, dataclass

import pyarrow as pa
import pyarrow.parquet as pq

# one arrow schema matching synth.TRANSCRIPT_SCHEMA; microsecond UTC
# timestamps are what Spark reads back as TimestampType
ARROW_SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC")),
    ]
)

# files per parquet dataset: fixed, so the scan layout does not depend on
# the host the inputs were generated on
N_FILES = 8

# stream_delta split: conversations in crc32(conv_id) order; the first
# N_MICRO_BATCHES × BATCH_SHARE of the turns are cut into micro-batches of
# (to within one conversation) equal turn counts, the rest is the seed state
N_MICRO_BATCHES = 5
BATCH_SHARE = 0.02


@dataclass(frozen=True)
class Shape:
    """Corpus shape of one workload (a ``synth.SynthConfig`` minus the seed)."""

    name: str
    n_conversations: int
    mean_turns: int
    dup_fraction: float


# long, sparse-duplicate agent transcripts: near-identical long documents
# crowd SimHash, so blocking wastes most pairs and pass-2 carries scoring
LONG = Shape("long", n_conversations=800, mean_turns=24, dup_fraction=0.05)
# the planted-duplicate corpus of synth.scale_config (8 turns, 30% dups)
DUP = Shape("dup", n_conversations=2000, mean_turns=8, dup_fraction=0.3)
# schema-test sizes: same shapes, a few hundred conversations
TINY = {"long": Shape("long", 120, 24, 0.05), "dup": Shape("dup", 200, 8, 0.3)}


def entity_of(conv_id: str) -> str:
    """Gold entity of a synthesized conversation (``e000123_c1`` → ``e000123``)."""
    return conv_id.split("_", 1)[0]


def stream_split(turns_per_conv: dict[str, int]) -> list[set[str]]:
    """[batch_1, ..., batch_N, seed] conversation sets for ``stream_delta``.

    Conversations are taken in crc32(conv_id) order (Spark's ``crc32`` on
    the UTF-8 id, ties by id); a micro-batch closes once it holds
    ``BATCH_SHARE`` of all turns, so every commit carries the same load.
    """
    order = sorted(turns_per_conv, key=lambda c: (zlib.crc32(c.encode("utf-8")), c))
    target = BATCH_SHARE * sum(turns_per_conv.values())
    batches: list[set[str]] = []
    batch: set[str] = set()
    filled = i = 0
    while len(batches) < N_MICRO_BATCHES:
        if i == len(order):
            raise ValueError("corpus too small for the stream split")
        batch.add(order[i])
        filled += turns_per_conv[order[i]]
        i += 1
        if filled >= target:
            batches.append(batch)
            batch, filled = set(), 0
    return batches + [set(order[i:])]


def _write(df, path: str) -> None:
    os.makedirs(path, exist_ok=True)
    table = pa.Table.from_pandas(df, schema=ARROW_SCHEMA, preserve_index=False)
    step = -(-table.num_rows // N_FILES) or 1
    for i in range(N_FILES):
        pq.write_table(table.slice(i * step, step), os.path.join(path, f"part-{i:03d}.parquet"))


def generate(shape: Shape, seed: int, root: str, split_stream: bool = False) -> dict:
    """Write the corpus for (shape, seed) under ``root`` unless already there.

    Returns the manifest: per part its parquet path and its turn,
    conversation and byte counts. With ``split_stream`` the corpus is
    written as the seed-state part plus ``N_MICRO_BATCHES`` micro-batches
    (see :func:`stream_split`).
    """
    key = f"{shape.name}_c{shape.n_conversations}_t{shape.mean_turns}_d{shape.dup_fraction}_s{seed}"
    key += "_stream" if split_stream else ""
    out = os.path.join(root, key)
    manifest_path = os.path.join(out, "manifest.json")
    if not os.path.exists(manifest_path):
        _generate(shape, seed, out, split_stream)
    with open(manifest_path) as f:
        manifest = json.load(f)
    for part in manifest["parts"].values():
        part["path"] = os.path.join(out, part["path"])
    return manifest


def _generate(shape: Shape, seed: int, out: str, split_stream: bool) -> None:
    from blink_spark import synth

    cfg = synth.SynthConfig(
        n_conversations=shape.n_conversations,
        mean_turns=shape.mean_turns,
        dup_fraction=shape.dup_fraction,
        seed=seed,
    )
    transcripts, _ = synth.generate_pandas(cfg)
    transcripts["ts"] = transcripts["ts"].dt.tz_localize("UTC")
    parts = {}
    if split_stream:
        *batches, seed_convs = stream_split(transcripts["conv_id"].value_counts().to_dict())
        parts["seed"] = transcripts[transcripts["conv_id"].isin(seed_convs)]
        for i, convs in enumerate(batches, 1):
            parts[f"batch_{i}"] = transcripts[transcripts["conv_id"].isin(convs)]
    else:
        parts["all"] = transcripts
    manifest = {"shape": asdict(shape), "seed": seed, "parts": {}}
    for name, df in parts.items():
        path = os.path.join(out, name)
        _write(df, path)
        manifest["parts"][name] = {
            "path": name,
            "turns": int(len(df)),
            "conversations": int(df["conv_id"].nunique()),
            "bytes": sum(
                os.path.getsize(os.path.join(path, f)) for f in os.listdir(path)
            ),
        }
    manifest_path = os.path.join(out, "manifest.json")
    with open(manifest_path + ".tmp", "w") as f:
        json.dump(manifest, f, indent=1)
    os.replace(manifest_path + ".tmp", manifest_path)  # marks a complete input set
