"""The generator's output depends only on its seed and parameters."""

from __future__ import annotations

import json
import os


from perfbench.loadgen import StreamSpec, creation_offsets_ms, render_file, run_publisher

SPEC = StreamSpec(
    rate=400,
    period_ms=250,
    vocab=50,
    zipf=1.1,
    disorder_share=0.1,
    disorder_max_ms=5000,
    malformed_share=0.02,
)
BASE_MS = 1_700_000_000_000


def test_same_seed_same_bytes():
    for k in range(3):
        assert render_file(SPEC, 7, BASE_MS, k) == render_file(SPEC, 7, BASE_MS, k)


def test_other_seed_other_bytes():
    assert render_file(SPEC, 7, BASE_MS, 0) != render_file(SPEC, 8, BASE_MS, 0)


def test_event_times_are_creation_times_within_bounded_disorder():
    late = broken = 0
    for k in range(5):
        lines = render_file(SPEC, 3, BASE_MS, k).decode().splitlines()
        assert len(lines) == SPEC.events_per_file
        created = BASE_MS + creation_offsets_ms(SPEC, k)
        for line, c in zip(lines, created):
            try:
                ts = int(json.loads(line)["timestamp"])
            except json.JSONDecodeError:
                broken += 1
                continue
            assert c - SPEC.disorder_max_ms - 1 <= ts <= c
            late += ts < int(c)
    assert late > 0 and broken > 0


def test_publisher_writes_the_rendered_bytes(tmp_path):
    out, stage = tmp_path / "out", tmp_path / "stage"
    out.mkdir()
    stage.mkdir()
    manifest = tmp_path / "manifest.jsonl"
    spec = StreamSpec(**{**SPEC.__dict__, "period_ms": 20, "rate": 5000})
    base = int(__import__("time").time() * 1000)
    run_publisher(spec, 5, base, 3, str(out), str(stage), str(manifest))
    names = sorted(os.listdir(out))
    assert len(names) == 3
    for k, name in enumerate(names):
        assert (out / name).read_bytes() == render_file(spec, 5, base, k)
    entries = [json.loads(ln) for ln in manifest.read_text().splitlines()]
    assert [e["k"] for e in entries] == [0, 1, 2]
    assert all(e["published_ms"] >= e["due_ms"] - 1 for e in entries)
    mtimes = [os.stat(out / n).st_mtime_ns for n in names]
    assert mtimes == sorted(mtimes) and len(set(mtimes)) == 3


