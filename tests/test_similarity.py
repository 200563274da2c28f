"""Unit laws for shared helpers of ``operators/similarity.py``."""

from __future__ import annotations

import pytest

from dataflow_pubsub_message_encryption_spark.operators.similarity import (
    _KM_FIXTURE_N,
    _graded_n,
)


class _Rows:
    """Stands in for a DataFrame: ``count()`` returns ``n``, or fails when
    ``n`` is None (the guard must not count under ``n_override``)."""

    def __init__(self, n):
        self.n = n

    def count(self):
        assert self.n is not None, "counted despite n_override"
        return self.n


def test_graded_fixture_guard():
    """A graded fixture whose embedding count is not _KM_FIXTURE_N raises
    and names the constant; ``n_override`` or a non-graded path does not."""
    off = _KM_FIXTURE_N + 1
    for graded in ("/data/sf0.01", "/data/sf0.01/", "/data/sf0.001"):
        with pytest.raises(ValueError, match=f"_KM_FIXTURE_N={_KM_FIXTURE_N}"):
            _graded_n(_Rows(off), graded)
    assert _graded_n(_Rows(_KM_FIXTURE_N), "/data/sf0.01") == _KM_FIXTURE_N
    assert _graded_n(_Rows(None), "/data/sf0.01", n_override=off) == off
    assert _graded_n(_Rows(off), "/data/sf0.1") == off
    assert _graded_n(_Rows(off), "/data/sf0.011") == off
