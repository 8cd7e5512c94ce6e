"""The tweet oracle matches a plain-Python count and catches an off-by-one."""

from __future__ import annotations

import collections
import json
import re

import pandas as pd
import pytest

from perfbench.loadgen import StreamSpec, file_name, render_file
from perfbench.oracle import compare_frames
from perfbench.tweets import tweet_oracle

SPEC = StreamSpec(
    rate=2000,
    period_ms=1000,
    vocab=30,
    zipf=1.2,
    disorder_share=0.1,
    disorder_max_ms=20_000,
    malformed_share=0.01,
)
BASE_MS = 1_700_000_003_000


def _python_reference(paths) -> dict[str, pd.DataFrame]:
    per_sec, windows, total = collections.Counter(), collections.Counter(), 0
    for p in paths:
        for line in p.read_text().splitlines():
            try:
                doc = json.loads(line)
            except json.JSONDecodeError:
                continue
            ts = int(doc["timestamp"])
            total += 1
            per_sec[ts // 1000] += 1
            for tag in re.findall(r"#\w+", doc["text"]):
                for k in range(6):
                    windows[((ts // 5000) * 5000 - k * 5000 + 30000, tag)] += 1
    best: dict[int, tuple[int, str]] = {}
    for (end, tag), n in windows.items():
        if end not in best or (-n, tag) < (-best[end][0], best[end][1]):
            best[end] = (n, tag)
    return {
        "q1_trending": pd.DataFrame(
            [(e, t, n) for e, (n, t) in best.items()],
            columns=["window_end_ms", "top_term", "term_count"],
        ),
        "q2_per_second": pd.DataFrame(list(per_sec.items()), columns=["sec", "n"]),
        "q3_total": pd.DataFrame({"total": [total]}),
    }


@pytest.fixture(scope="module")
def inputs(tmp_path_factory):
    d = tmp_path_factory.mktemp("tweets")
    paths = []
    for k in range(4):
        p = d / file_name(k)
        p.write_bytes(render_file(SPEC, 11, BASE_MS, k))
        paths.append(p)
    return str(d / "*.json"), paths


def test_duckdb_oracle_equals_python_reference(inputs):
    glob, paths = inputs
    want = _python_reference(paths)
    got = tweet_oracle(glob)
    for q in want:
        assert compare_frames(got[q], want[q]) == [], q


def test_off_by_one_count_is_caught(inputs):
    glob, _ = inputs
    want = tweet_oracle(glob)
    for q, col in (("q1_trending", "term_count"), ("q2_per_second", "n"), ("q3_total", "total")):
        bad = want[q].copy()
        bad.loc[bad.index[0], col] += 1
        assert compare_frames(bad, want[q]), q


def test_missing_row_is_caught(inputs):
    glob, _ = inputs
    want = tweet_oracle(glob)["q2_per_second"]
    assert compare_frames(want.iloc[1:], want)
