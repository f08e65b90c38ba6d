"""scripts/profile_query.py splits a rep's wall into job time and
driver gap: overlapping (AQE-concurrent) jobs must count once."""

from __future__ import annotations

import importlib.util
import os
from types import SimpleNamespace

import pytest

_PATH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(
    __file__))), "scripts", "profile_query.py")
_spec = importlib.util.spec_from_file_location("profile_query", _PATH)
profile_query = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(profile_query)


def _jobs(*spans):
    return [SimpleNamespace(submit_ms=s, end_ms=e) for s, e in spans]


def test_overlapping_jobs_count_once():
    # two AQE jobs overlap by 50 ms, a third runs alone; one job starts
    # before the window and one ends after it
    jobs = _jobs((1000, 1100), (1050, 1150), (1300, 1400),
                 (900, 1020), (1450, 1600))
    job, gap = profile_query.rep_split(jobs, 1000, 1500)
    assert job == pytest.approx(0.15 + 0.1 + 0.05)
    assert gap == pytest.approx(0.5 - job)
    assert 0 <= job <= 0.5 and 0 <= gap <= 0.5


def test_no_jobs_is_all_driver_gap():
    assert profile_query.rep_split([], 0, 250) == (0.0, 0.25)
