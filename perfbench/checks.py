"""Correctness gate: every operation the benchmark times is checked here.

All checks are plain Python over a collected ``(conv_id, cluster_id)``
assignment, independent of the program's own metric code:

* ``pairwise_f1`` against the planted entities over ALL pairs (cluster ×
  entity contingency table, no sampled negatives);
* ``digest``: an order-independent fingerprint of the assignment, compared
  across operations and runs of the same seed;
* coverage: every expected conversation is assigned exactly once.
"""

from __future__ import annotations

import hashlib
from collections import Counter

from inputs import entity_of

F1_MIN = 0.99


def _pairs(n: int) -> int:
    return n * (n - 1) // 2


def pairwise_f1(rows: list[tuple[str, str]]) -> dict:
    """Pairwise precision / recall / F1 of ``rows`` against planted entities."""
    cells = Counter((cid, entity_of(conv)) for conv, cid in rows)
    clusters = Counter(cid for conv, cid in rows)
    entities = Counter(entity_of(conv) for conv, _ in rows)
    tp = sum(_pairs(n) for n in cells.values())
    pred = sum(_pairs(n) for n in clusters.values())
    gold = sum(_pairs(n) for n in entities.values())
    precision = tp / pred if pred else 1.0
    recall = tp / gold if gold else 1.0
    f1 = 2 * precision * recall / (precision + recall) if precision + recall else 0.0
    return {"precision": precision, "recall": recall, "f1": f1, "gold_pairs": gold}


def digest(rows: list[tuple[str, str]]) -> str:
    """sha256 over the sorted assignment rows."""
    h = hashlib.sha256()
    for conv, cid in sorted(rows):
        h.update(f"{conv}\t{cid}\n".encode())
    return h.hexdigest()[:16]


def check_assignment(rows: list[tuple[str, str]], expected_convs: set[str]) -> list[str]:
    """Problems with one assignment; empty when it passes the gate."""
    problems = []
    convs = [conv for conv, _ in rows]
    if len(convs) != len(set(convs)):
        problems.append(f"{len(convs) - len(set(convs))} conversations assigned more than once")
    if set(convs) != expected_convs:
        missing = len(expected_convs - set(convs))
        extra = len(set(convs) - expected_convs)
        problems.append(f"assignment covers the wrong conversations ({missing} missing, {extra} extra)")
    f1 = pairwise_f1(rows)["f1"]
    if f1 < F1_MIN:
        problems.append(f"pairwise_f1 {f1:.4f} < {F1_MIN}")
    return problems


def pairs_completeness(
    pairs: list[tuple[str, str]], convs: set[str], new: set[str] | None = None
) -> float:
    """Share of the planted duplicate pairs among ``convs`` that blocking
    emitted; with ``new``, only pairs with at least one new side count (the
    pairs a delta update is responsible for)."""
    entities = Counter(entity_of(c) for c in convs)
    gold = sum(_pairs(n) for n in entities.values())
    if new is not None:
        old = Counter(entity_of(c) for c in convs - new)
        gold -= sum(_pairs(n) for n in old.values())
    hit = sum(1 for a, b in set(pairs) if entity_of(a) == entity_of(b))
    return hit / gold if gold else 1.0
