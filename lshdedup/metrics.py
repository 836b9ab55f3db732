"""Statistics / metrics operators — port of the reference's Statistic
helpers (util.h:135-206) with its exact empty-set conventions, plus
DataFrame-level pair-set precision/recall used by the recall gate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def precision_recall(n_found: int, n_truth: int, n_inter: int) -> tuple[float, float]:
    """Set precision/recall with the reference's conventions
    (util.h:140-165): found=∅ → P=0 (unless truth also ∅); truth=∅ → R=1;
    both ∅ → P=R=1."""
    if n_found == 0 and n_truth == 0:
        return 1.0, 1.0
    precision = (n_inter / n_found) if n_found else 0.0
    recall = (n_inter / n_truth) if n_truth else 1.0
    return precision, recall


def f_score(precision: float, recall: float) -> float:
    """Harmonic mean; 0 when both are 0 (util.h:172-181)."""
    if precision == 0.0 and recall == 0.0:
        return 0.0
    return 2.0 * precision * recall / (precision + recall)


def pair_set_metrics(found: DataFrame, truth: DataFrame) -> dict:
    """precision/recall/F1 of two (id_a, id_b) pair DataFrames.

    Distributed: a single inner join + three counts — the DataFrame form of
    Statistic::get_precision_recall (util.h:140-165).
    """
    f = found.select("id_a", "id_b").dropDuplicates()
    t = truth.select("id_a", "id_b").dropDuplicates()
    n_found = f.count()
    n_truth = t.count()
    n_inter = f.join(t, ["id_a", "id_b"]).count()
    p, r = precision_recall(n_found, n_truth, n_inter)
    return {
        "n_found": n_found,
        "n_truth": n_truth,
        "n_inter": n_inter,
        "precision": p,
        "recall": r,
        "f1": f_score(p, r),
    }
