"""Regression tests for two round-13 ADVICE findings:

1. registry._path_sig must not key the reader memo on a partial
   listing: os.walk skips a subdirectory it cannot list unless given an
   onerror hook, so an unreadable subdir now makes the path
   uncacheable (None).
2. similarity._arr_sql must raise a named ValueError on NaN/Inf
   instead of emitting SQL text ('nanD', 'infD') that does not parse.
"""

from __future__ import annotations

import math
import os

import pytest

from dozer_spark.ops.similarity import _arr2_sql, _arr_sql
from dozer_spark.registry import _path_sig


def test_path_sig_unreadable_subdir_is_uncacheable(tmp_path, monkeypatch):
    root = tmp_path / "t.parquet"
    (root / "k=1").mkdir(parents=True)
    (root / "k=1" / "part-0.parquet").write_bytes(b"x")
    (root / "k=2").mkdir()
    (root / "k=2" / "part-0.parquet").write_bytes(b"y")
    sig = _path_sig(str(root))
    assert sig is not None and len(sig[1]) == 2

    locked = root / "k=2"
    os.chmod(locked, 0)
    if os.geteuid() == 0:  # root lists any dir: fail the listing itself
        real = os.scandir

        def scandir(p="."):
            if os.fspath(p) == str(locked):
                raise PermissionError(13, "Permission denied", str(locked))
            return real(p)

        monkeypatch.setattr(os, "scandir", scandir)
    try:
        assert _path_sig(str(root)) is None
    finally:
        os.chmod(locked, 0o755)


@pytest.mark.parametrize("bad", [math.nan, math.inf, -math.inf])
def test_arr_sql_rejects_non_finite(bad):
    with pytest.raises(ValueError, match="non-finite"):
        _arr_sql([0.5, bad])
    with pytest.raises(ValueError, match="non-finite"):
        _arr2_sql([[1.0], [bad]])


def test_arr_sql_finite_unchanged():
    assert _arr_sql([1, 0.1, -2.5e-7]) == "array(1.0D, 0.1D, -2.5e-07D)"
