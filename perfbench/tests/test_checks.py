"""Result checks: a wrong query result and a low-recall sketch result
are each counted as failed operations in error_rate."""

from hkbench import stats
from hkbench.workloads import QuerySuite, U64Zipf, result_hash


class _Row(dict):
    """Stands in for a pyspark Row: indexable by field name."""


def _sketch_rows(keys):
    return [_Row(item=k, count=1000 - i) for i, k in enumerate(keys)]


def test_query_result_hash_ignores_row_and_column_order():
    a = result_hash(["b", "a"], [(1, "x"), (2, "y")])
    assert a == result_hash(["a", "b"], [("y", 2), ("x", 1)])
    assert a != result_hash(["b", "a"], [(1, "x"), (3, "y")])


def test_query_result_hash_rounds_floats_to_twelve_digits():
    assert result_hash(["v"], [(0.1 + 0.2,)]) == result_hash(["v"], [(0.3,)])


def test_wrong_query_result_and_low_recall_count_in_error_rate():
    suite = QuerySuite()
    exact = {"hashes": {"q": result_hash(["item", "count"], [("a", 3), ("b", 2)])}}
    right = suite.check("q", (["item", "count"], [("a", 3), ("b", 2)]), exact)
    wrong = suite.check("q", (["item", "count"], [("a", 3), ("b", 1)]), exact)
    assert right["ok"] and not wrong["ok"]

    sketch = U64Zipf()
    keys = [str(i) for i in range(sketch.k)]
    truth = {"rows": 10**6, "top": [[k, 1000 - i] for i, k in enumerate(keys)]}
    good = sketch.check(sketch.name, _sketch_rows(keys), truth)
    # half the exact top-K replaced by keys outside it: recall 0.5
    half = keys[: sketch.k // 2] + [f"x{i}" for i in range(sketch.k // 2)]
    low = sketch.check(sketch.name, _sketch_rows(half), truth)
    assert good["ok"] and good["recall_at_k"] == 1.0 and good["count_are"] == 0.0
    assert not low["ok"] and low["recall_at_k"] == 0.5 < sketch.recall_floor

    verdicts = [right, wrong, good, low]
    failed = sum(not v["ok"] for v in verdicts)
    assert stats.error_rate(raised=1, wrong=failed, attempted=len(verdicts) + 1) == 3 / 5
