"""The summary of ``tools/ab.py`` on canned perfbench runs."""

import importlib.util
import os

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
spec = importlib.util.spec_from_file_location("ab", os.path.join(ROOT, "tools", "ab.py"))
ab = importlib.util.module_from_spec(spec)
spec.loader.exec_module(ab)

METRICS = [{"name": "work_per_s", "unit": "items/s", "better": "higher", "bound": 0.25},
           {"name": "op_p50_s", "unit": "s", "better": "lower", "bound": 0.25}]


def _runs(work, op):
    return [{"work_per_s": w, "op_p50_s": o} for w, o in zip(work, op)]


def test_summary_of_a_clear_gain():
    base = _runs([100, 102, 98, 101, 99, 103, 97, 100, 104, 96],
                 [2.0, 2.1, 1.9, 2.0, 2.2, 1.8, 2.0, 2.1, 1.9, 2.0])
    change = _runs([150, 90, 148, 152, 149, 151, 147, 153, 150, 146],
                   [1.5, 1.4, 1.6, 1.5, 2.5, 1.5, 1.4, 1.6, 1.5, 1.5])
    work, op = ab.summarize(base, change, METRICS)
    assert work["base_median"] == 100.0 and work["change_median"] == 149.5
    assert work["base_iqr"] == pytest.approx(101.75 - 98.25)
    assert work["wins"] == 9 and work["pairs"] == 10
    assert work["gain_holds"] and not work["beyond_bound"]
    assert work["ratio"] == pytest.approx(1.495)
    assert op["wins"] == 9 and op["gain_holds"]  # lower is better
    assert op["base_median"] == 2.0 and op["change_median"] == 1.5
    text = ab.report([work, op])
    assert "work_per_s" in text and "9/10" in text and "gain holds" in text


def test_summary_refuses_a_gain_inside_the_noise_and_flags_a_regression():
    base = _runs([100, 120, 80, 110, 90, 130, 70, 100, 105, 95], [2.0] * 10)
    change = _runs([104, 125, 85, 115, 95, 135, 75, 105, 109, 99], [2.6] * 10)
    work, op = ab.summarize(base, change, METRICS)
    assert work["wins"] == 10 and not work["gain_holds"]  # gap 4.5 < base IQR 20
    assert op["wins"] == 0 and not op["gain_holds"] and op["beyond_bound"]  # +30% > 25%
    assert "WORSE than bound" in ab.report([work, op])


def test_summary_claims_no_gain_from_fewer_than_ten_pairs():
    base = _runs([100, 102, 98, 101, 99, 103], [2.0, 2.1, 1.9, 2.0, 2.2, 1.8])
    change = _runs([150, 152, 148, 151, 149, 153], [1.5, 1.4, 1.6, 1.5, 1.5, 1.4])
    work, op = ab.summarize(base, change, METRICS)
    assert work["wins"] == work["pairs"] == 6 and op["wins"] == 6
    assert not work["gain_holds"] and not op["gain_holds"]
    text = ab.report([work, op])
    assert "gain holds" not in text and text.count("no claimable gain") == 2
