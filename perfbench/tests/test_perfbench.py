"""Tests of the benchmark's own pieces: the tail rule, failure counting,
the status-store reader and the corpus generator.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import pytest

import datagen
from layers import StatusReader, parse_sql_metric
from stats import Outcomes, harrell_davis, tail


def test_no_tail_below_eleven_samples():
    for n in range(11):
        assert tail([float(i) for i in range(n)]) is None
    pct, value, beyond = tail([float(i) for i in range(11)])
    assert beyond == 10
    assert pct == pytest.approx(100 / 11)
    assert 0.0 < value < 1.0


def test_tail_leaves_ten_samples_beyond():
    samples = [float(i) for i in range(100, 0, -1)]
    pct, value, beyond = tail(samples)
    assert pct == 90.0
    assert sum(s > value for s in samples) == beyond == 10
    assert value == pytest.approx(90.5)


def test_harrell_davis():
    assert harrell_davis(list(range(1, 11)), 0.5) == pytest.approx(5.5)
    assert harrell_davis([3.0] * 20, 0.8) == pytest.approx(3.0)
    # One sample moving across the rank moves the estimate only a little.
    base = [1.0] * 20 + [2.0] * 10
    shifted = [1.0] * 19 + [2.0] * 11
    assert sorted(base)[19] == 1.0 and sorted(shifted)[19] == 2.0
    step = harrell_davis(shifted, 2 / 3) - harrell_davis(base, 2 / 3)
    assert 0 < step < 0.5


def test_each_failure_counts_once():
    out = Outcomes()

    def boom():
        raise ValueError("raised op")

    out.attempt("raises", boom)
    out.attempt("works", lambda: None)
    out.gate("mismatch", lambda: (False, "rows differ"))
    out.gate("matches", lambda: (True, "1 rows"))
    assert out.attempted == 4
    assert [name for name, _ in out.failed] == ["raises", "gate:mismatch"]
    assert out.failed_share == 0.5
    assert list(out.latency) == ["works"]


def test_parse_sql_metric():
    assert parse_sql_metric("1,000") == 1000
    assert parse_sql_metric("876 ms") == pytest.approx(0.876)
    text = "total (min, med, max (stageId: taskId))\n26.8 KiB (5.5 KiB, 10.0 KiB)"
    assert parse_sql_metric(text) == pytest.approx(26.8 * 1024)


def test_corpus_is_deterministic():
    a, b = datagen.base_tables(0.01), datagen.base_tables(0.01)
    assert all(a[t].equals(b[t]) for t in datagen.TABLES)
    assert a["lineitem"].num_rows == 6_000 and a["nation"].num_rows == 25


def test_status_reader_repeats_on_warm_q3(tmp_path):
    from nipd_spark import registry
    from nipd_spark.session import get_spark

    sf = str(tmp_path / "sf0.001")
    (tmp_path / "sf0.001").mkdir()
    datagen.write_base(sf, scale=0.01)
    spark = get_spark("perfbench-tests")
    reader = StatusReader(spark)
    spec = registry.all_specs()["q3_shipping_priority"]
    reads = []
    for i in range(3):  # the first op warms up; compare the next two
        group = f"perfbench-test-q3-{i}"
        spark.sparkContext.setJobGroup(group, "q3")
        spec.fn(spark, sf).write.format("noop").mode("overwrite").save()
        reads.append(reader.read([group]))
    warm = reads[1:]
    for key in ("spark.shuffle_write_records", "spark.input_records"):
        assert warm[0][key] > 0
        assert warm[0][key] == warm[1][key]
