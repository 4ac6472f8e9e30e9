"""The benchmark's checker must pass right output and fail wrong output."""

from __future__ import annotations

import numpy as np
import pytest

import check
import datagen
import workloads


@pytest.fixture(scope="module")
def checker(sf_dir):
    from samza_hello_samza_spark.registry import all_oracles

    c = check.KeyChecker(sf_dir, all_oracles(), datagen.TABLES)
    yield c
    c.close()


def _output(spark, sf_dir, key):
    from samza_hello_samza_spark.registry import all_queries

    df = all_queries()[key](spark, sf_dir)
    return df.columns, [tuple(r) for r in df.collect()]


@pytest.mark.parametrize("key", workloads.HEADLINE)
def test_every_workload_key_passes_its_check(spark, sf_dir, checker, key):
    columns, rows = _output(spark, sf_dir, key)
    assert rows, key
    assert checker.check(key, columns, rows) is None


def _perturb(rows, columns):
    """Change one numeric value of the first row."""
    first = list(rows[0])
    for i, v in enumerate(first):
        if isinstance(v, (int, float)) and not isinstance(v, bool):
            first[i] = v + 1
            return [tuple(first)] + rows[1:]
    raise AssertionError(f"no numeric column in {columns}")


@pytest.mark.parametrize("key", ["q1_pricing_summary", "rolling_active_users_approx"])
def test_perturbed_row_fails(spark, sf_dir, checker, key):
    columns, rows = _output(spark, sf_dir, key)
    if key == "rolling_active_users_approx":
        # push one estimate far outside the sketch's error bound
        rows = [(rows[0][0], rows[0][1] * 2 + 10)] + rows[1:]
    else:
        rows = _perturb(rows, columns)
    assert checker.check(key, columns, rows) is not None


def test_dropped_and_extra_rows_fail(spark, sf_dir, checker):
    columns, rows = _output(spark, sf_dir, "q1_pricing_summary")
    assert checker.check("q1_pricing_summary", columns, rows[1:]) is not None
    assert checker.check("q1_pricing_summary", columns, rows + rows[:1]) is not None


def test_ann_check_catches_wrong_score_and_unknown_id(sf_dir):
    ids, vecs = check.load_embeddings(sf_dir)
    q = vecs[0]
    cos = vecs @ q / (np.linalg.norm(vecs, axis=1) * np.linalg.norm(q))
    top = [(int(i), round(float(cos[i]), 6)) for i in np.argsort(-cos)[1:11]]
    assert check.check_ann(top, ids, vecs) is None
    assert check.check_ann([(top[0][0], top[0][1] + 0.01)] + top[1:], ids, vecs) is not None
    assert check.check_ann([(10**9, 0.5)], ids, vecs) is not None
    assert check.check_ann(top + top[:1], ids, vecs) is not None


def test_stream_check_catches_a_wrong_count(tmp_path, spark):
    import stream

    run = stream.StreamRun(str(tmp_path), 0.01, seed=5, seconds=0.5)
    run.warm_up(spark)
    run.start(spark)
    try:
        run.drain()
        run.fixed_rate()
    finally:
        run.stop()
    events = run.progress()
    assert events
    assert run.check(events) is None
    dropped = events + [{"stateOperators": [{"numRowsDroppedByWatermark": 1}]}]
    assert run.check(dropped) is not None
    key = next(iter(run.sink.counts))
    run.sink.counts[key] += 1
    assert run.check(events) is not None
