"""Statistic conventions (util.h:135-206)."""

import pytest

from lshdedup.metrics import f_score, pair_set_metrics, precision_recall


def test_empty_set_conventions():
    """util.h:140-165: found=∅ → P=0; truth=∅ → R=1; both ∅ → P=R=1."""
    assert precision_recall(0, 0, 0) == (1.0, 1.0)
    assert precision_recall(0, 5, 0) == (0.0, 0.0)
    assert precision_recall(5, 0, 0) == (0.0, 1.0)
    assert precision_recall(4, 8, 2) == (0.5, 0.25)


def test_f_score():
    """util.h:172-181: harmonic mean, 0 if both 0."""
    assert f_score(0.0, 0.0) == 0.0
    assert f_score(1.0, 1.0) == 1.0
    assert f_score(0.5, 0.25) == pytest.approx(1 / 3)


def test_pair_set_metrics(spark):
    found = spark.createDataFrame([("a", "b"), ("c", "d")], ["id_a", "id_b"])
    truth = spark.createDataFrame([("a", "b"), ("e", "f")], ["id_a", "id_b"])
    m = pair_set_metrics(found, truth)
    assert m["precision"] == 0.5 and m["recall"] == 0.5 and m["n_inter"] == 1
