"""The benchmark's own output checks."""

import math

import pandas as pd

import workloads


def test_frame_digest_ignores_row_order_and_int_float():
    a = pd.DataFrame({"x": [1, 2, 3], "s": ["a", None, "c"]})
    b = pd.DataFrame({"s": ["c", "a", None], "x": [3.0, 1.0, 2.0]})
    assert workloads.frame_digest(a) == workloads.frame_digest(b)
    c = pd.DataFrame({"x": [1, 2, 4], "s": ["a", None, "c"]})
    assert workloads.frame_digest(a) != workloads.frame_digest(c)


def test_bm25_reference_scores():
    texts = ["a b b", "b c", "c c c d"]
    got = workloads.bm25_reference(texts, [10, 11, 12], "B d")
    n, avgdl = 3, 3.0

    def part(tf, dl, df):
        idf = math.log(1 + (n - df + 0.5) / (df + 0.5))
        return round(idf * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)), 6)

    assert set(got) == {10, 11, 12}
    assert got[10] == part(2, 3, 2)
    assert got[11] == part(1, 2, 2)
    assert got[12] == part(1, 4, 1)


def test_check_slice_holds_every_golden_text():
    import numpy as np

    import gen
    from advanced_logistics_data_engineering_arabic_nlp_pipeline_spark.plans.trips import GOLDEN_TEXTS

    ids = np.arange(gen.EVENTS_ROWS)
    for seed in range(0, 400, 7):
        sl = workloads.check_slice(ids, seed)
        assert 0.009 < len(sl) / len(ids) < 0.011
        assert set((ids[sl] % len(GOLDEN_TEXTS)).tolist()) == set(range(len(GOLDEN_TEXTS)))
