import statistics

import pytest

from perfbench.stats import quartiles, summary


def test_quartiles_match_statistics_quantiles():
    values = [3.0, 1.0, 4.0, 1.5, 5.0, 9.0, 2.0, 6.0, 5.5, 3.5]
    q1, med, q3 = quartiles(values)
    assert [q1, med, q3] == statistics.quantiles(values, n=4)


def test_single_value_is_its_own_quartiles():
    assert quartiles([2.5]) == (2.5, 2.5, 2.5)


def test_summary():
    values = [10.0, 11.0, 12.0, 13.0]
    s = summary(values)
    assert s["n"] == 4 and s["median"] == 11.5 and s["min"] == 10.0 and s["max"] == 13.0
    q1, _, q3 = statistics.quantiles(values, n=4)
    assert (s["q1"], s["q3"]) == (q1, q3)


def test_empty_values_rejected():
    with pytest.raises(ValueError):
        quartiles([])
