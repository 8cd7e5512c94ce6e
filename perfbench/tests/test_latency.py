"""Latency and backlog arithmetic on a canned checkpoint and sink log."""

from __future__ import annotations

import json

import numpy as np
import pytest

from perfbench.loadgen import StreamSpec, file_name
from perfbench.tweets import (
    backlog_grew,
    backlog_series,
    file_done,
    file_epochs,
    live_latencies_ms,
)

SPEC = StreamSpec(
    rate=4,
    period_ms=1000,
    vocab=10,
    zipf=1.0,
    disorder_share=0.0,
    disorder_max_ms=1,
    malformed_share=0.0,
)


def _checkpoint(root, admitted: dict[int, list[int]], epoch_offsets: dict[int, int]):
    """A file-source checkpoint: files admitted per source offset, and the
    source offset each epoch ran to (epochs without new files repeat it)."""
    src = root / "sources" / "0"
    src.mkdir(parents=True)
    for off, ks in admitted.items():
        lines = [
            json.dumps({"path": f"file:///in/{file_name(k)}", "timestamp": 1, "batchId": off})
            for k in ks
        ]
        (src / str(off)).write_text("v1\n" + "\n".join(lines) + "\n")
    offs = root / "offsets"
    offs.mkdir()
    for epoch, off in epoch_offsets.items():
        (offs / str(epoch)).write_text(
            "v1\n" + json.dumps({"batchWatermarkMs": 0}) + "\n" + json.dumps({"logOffset": off})
        )
    (offs / f".{0}.crc").write_text("x")
    return str(root)


@pytest.fixture()
def two_queries(tmp_path):
    # query a: files 0,1 at offset 0 (epoch 0), a no-data epoch 1, file 2 at
    # offset 1 (epoch 2). query b: one file per epoch.
    a = _checkpoint(tmp_path / "a", {0: [0, 1], 1: [2]}, {0: 0, 1: 0, 2: 1})
    b = _checkpoint(tmp_path / "b", {0: [0], 1: [1], 2: [2]}, {0: 0, 1: 1, 2: 2})
    writes = {
        "a": {0: (10.0, 10.5), 1: (11.0, 11.1), 2: (12.0, 12.4)},
        "b": {0: (10.0, 10.2), 1: (11.0, 11.8), 2: (12.0, 12.1)},
    }
    return {"a": a, "b": b}, writes


def test_file_epochs_skips_no_data_epochs(two_queries):
    cks, _ = two_queries
    assert file_epochs(cks["a"]) == {file_name(0): 0, file_name(1): 0, file_name(2): 2}
    assert file_epochs(cks["b"]) == {file_name(0): 0, file_name(1): 1, file_name(2): 2}


def test_file_done_is_the_last_query_to_finish(two_queries):
    cks, writes = two_queries
    assert file_done(cks, writes) == {file_name(0): 10.5, file_name(1): 11.8, file_name(2): 12.4}


def test_live_latency_from_creation(two_queries):
    cks, writes = two_queries
    done = file_done(cks, writes)
    # base 9 s; file k's four events are created at 9 + k + {0.125, .375, .625, .875} s
    lat = live_latencies_ms(SPEC, 9000, range(3), done)
    want = np.concatenate(
        [
            (end - 9.0 - k - np.array([0.125, 0.375, 0.625, 0.875])) * 1000.0
            for k, end in enumerate((10.5, 11.8, 12.4))
        ]
    )
    np.testing.assert_allclose(lat, want)


def test_unfinished_file_is_an_error(two_queries):
    cks, writes = two_queries
    done = file_done(cks, writes)
    with pytest.raises(RuntimeError):
        live_latencies_ms(SPEC, 9000, range(4), done)


def test_backlog_series_and_growth():
    manifest = [{"k": k, "published_ms": 1000.0 * k, "events": 10} for k in range(6)]
    done = {file_name(k): k + 0.5 for k in range(6)}
    assert backlog_series(manifest, done, 0.0, 10.0) == [0] * 6
    slow = {file_name(k): 0.5 + 2 * k for k in range(6)}
    series = backlog_series(manifest, slow, 0.0, 20.0)
    assert series == [0, 10, 20, 20, 10, 0]
    assert not backlog_grew([5, 6, 5, 6, 5, 6], rate=10)
    assert backlog_grew([0, 10, 20, 30, 40, 50], rate=10)
