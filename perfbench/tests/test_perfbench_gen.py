"""The benchmark's input generator is a pure function of its seed."""

from __future__ import annotations

import hashlib
import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402


def _digest(directory: str) -> dict[str, str]:
    return {
        name: hashlib.sha256(open(os.path.join(directory, name), "rb").read()).hexdigest()
        for name in sorted(os.listdir(directory))
    }


def test_bronze_same_seed_same_bytes(tmp_path):
    a = gen.write_bronze_day(str(tmp_path / "a"), 7, 0, 12, 4)
    b = gen.write_bronze_day(str(tmp_path / "b"), 7, 0, 12, 4)
    assert _digest(str(tmp_path / "a")) == _digest(str(tmp_path / "b"))
    assert a[0] == b[0] and a[1] == b[1]


def test_bronze_other_seed_other_bytes(tmp_path):
    gen.write_bronze_day(str(tmp_path / "a"), 7, 0, 12, 4)
    gen.write_bronze_day(str(tmp_path / "b"), 8, 0, 12, 4)
    da, db = _digest(str(tmp_path / "a")), _digest(str(tmp_path / "b"))
    assert da.keys() == db.keys()
    assert all(da[k] != db[k] for k in da)


@pytest.mark.parametrize("slots, overlap", [(gen.SLOTS_PER_DAY, None), (30, 1)])
def test_bronze_expected_is_last_wins(tmp_path, slots, overlap):
    """The expected set holds, per (symbol, ts), the candle of the newest
    file carrying it, and the files really overlap and revise."""
    expected, raw, paths = gen.write_bronze_day(str(tmp_path), 3, 1, 20, 4, slots, overlap)
    seen: dict = {}
    revised = 0
    for path in paths:
        env = json.load(open(path))
        for sym, block in env["data"].items():
            for ts, *vals in block["candles"]:
                key = (sym, ts)
                cand = (*vals, block["timestamp"])
                if key in seen and seen[key][:5] != cand[:5]:
                    revised += 1
                seen[key] = cand
    assert seen == expected
    assert raw > len(expected) and revised > 0
    assert len({ts for _, ts in expected}) == slots
    for o, h, lo, c, v, _ in expected.values():
        assert h >= max(o, c) and lo <= min(o, c) and c > 0 and v >= 0


def test_tables_same_seed_same_bytes(tmp_path):
    gen.write_tables(str(tmp_path / "a"), 5, 0.02)
    gen.write_tables(str(tmp_path / "b"), 5, 0.02)
    gen.write_tables(str(tmp_path / "c"), 6, 0.02)
    da, db, dc = (_digest(str(tmp_path / x)) for x in "abc")
    assert da == db
    assert sorted(da) == sorted(f"{t}.parquet" for t in gen.TABLE_NAMES)
    assert da["lineitem.parquet"] != dc["lineitem.parquet"]
