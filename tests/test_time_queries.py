"""Command-line parsing of ``tools/time_queries.py``."""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))

import time_queries  # noqa: E402


@pytest.mark.parametrize(
    "argv",
    [
        ["q1_pricing_summary", "--reps", "3"],
        ["q1_pricing_summary", "--reps=3"],
        ["--reps", "3", "q1_pricing_summary"],
    ],
)
def test_reps_accepts_both_forms(argv):
    args = time_queries.parse_args(argv)
    assert args.reps == 3
    assert args.targets == ["q1_pricing_summary"]
    assert args.sf_dir == time_queries.DEFAULT_SF_DIR
    assert args.sf_dir.endswith("/sf0.1")


def test_leading_sf_dir_is_split_off():
    args = time_queries.parse_args(["/data/sf0.01", "q1_pricing_summary"])
    assert args.sf_dir == "/data/sf0.01"
    assert args.targets == ["q1_pricing_summary"]
    assert args.reps == 2


def test_unknown_query_name_fails_with_clear_message(capsys):
    with pytest.raises(SystemExit) as exc:
        time_queries.parse_args(["q1_pricing_summary", "no_such_query"])
    assert exc.value.code == 2
    err = capsys.readouterr().err
    assert "unknown query name(s): no_such_query" in err
