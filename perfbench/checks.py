"""Output checks: reference answers computed in plain Python from the
fixture's ground truth, independent of sparklink's own evaluator."""

from __future__ import annotations

from collections import Counter

# Exact outputs of batch_dedupe's input at seed 42, by (records, seed),
# recorded from this code.
BATCH_GOLDEN = {
    (1200, 42): {
        "n_records": 1200,
        "n_block_entries": 22034,
        "n_scored_pairs": 21261,
        "n_clusters": 289,
        "f1": 1.0,
    },
}

# Gazetteer hits over every held-out batch (warm ones included), by
# (records, batches, batch size, seed).
MATCH_GOLDEN = {(2400, 44, 9, 42): 366}

# Pairwise F1 floor of batch_dedupe (BASELINE).
MIN_F1 = 0.99

# F1 floor of incremental_match's gazetteer matches. Seeds 1-40 gave
# 0.908-0.970, so a drop below the floor is a real loss of match quality.
MIN_MATCH_F1 = 0.88


def _pairs(counts: Counter) -> int:
    return sum(n * (n - 1) // 2 for n in counts.values())


def pairwise_f1(pred: dict[str, str], truth: dict[str, str]) -> dict:
    """Pairwise precision/recall/F1 of a clustering (record -> cluster)
    against true entities (record -> entity). Records labelled ``"x"``
    are left out on both sides, as in sparklink.evaluate.pairwise_prf."""
    labeled = {r: e for r, e in truth.items() if e != "x"}
    pred_l = {r: c for r, c in pred.items() if r in labeled}
    found = _pairs(Counter(pred_l.values()))
    true = _pairs(Counter(labeled.values()))
    tp = _pairs(Counter((c, labeled[r]) for r, c in pred_l.items()))
    precision = tp / found if found else 1.0
    recall = tp / true if true else 1.0
    f1 = 2 * precision * recall / (precision + recall) if precision + recall else 0.0
    return {"precision": precision, "recall": recall, "f1": f1}


def match_quality(hits: dict[str, str], messy_ids: list[str], base_ids: set[str], truth: dict[str, str]) -> dict:
    """Quality of gazetteer matches (messy id -> canonical id).

    A hit is correct when both records belong to the same true entity. A
    messy record should be matched when its entity has a record in the
    index. Records labelled ``"x"`` are left out."""
    by_entity = Counter(truth[c] for c in base_ids if truth[c] != "x")
    scored = [m for m in messy_ids if truth[m] != "x"]
    correct = sum(1 for m in scored if m in hits and truth[hits[m]] == truth[m])
    n_hits = sum(1 for m in scored if m in hits)
    should = sum(1 for m in scored if by_entity[truth[m]] > 0)
    precision = correct / n_hits if n_hits else 1.0
    recall = correct / should if should else 1.0
    f1 = 2 * precision * recall / (precision + recall) if precision + recall else 0.0
    return {"precision": precision, "recall": recall, "f1": f1, "hits": n_hits, "correct": correct}


def compare_golden(observed: dict, golden: dict | None) -> list[str]:
    """Mismatches against a golden record; F1 is compared at 4 digits."""
    if golden is None:
        return []
    bad = []
    for k, want in golden.items():
        got = observed.get(k)
        if k == "f1":
            got = round(got, 4) if got is not None else None
        if got != want:
            bad.append(f"{k}: got {got}, want {want}")
    return bad
