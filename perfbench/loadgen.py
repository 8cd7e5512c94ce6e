"""Seeded Kafka-shaped tweet generator for the tweet-stream workloads.

Each published file holds one publish period of tweets, one JSON document
per line, in the shape the reference producer writes to Kafka: ``text``,
an epoch-millis ``timestamp`` string (the event time) and ``lang``. A small
share of lines is malformed on purpose; the engine must drop them.

Event ``j`` of period ``k`` is created at
``base_ms + k * period_ms + (j + 0.5) * period_ms / n`` and carries that
instant as its event time, except for the disordered share, whose event
time lies up to ``disorder_max_ms`` earlier (bounded, inside the
watermark). File contents depend only on the seed, ``base_ms`` and the
parameters, never on when the file is written.

Run as a program this module is the open-loop publisher: a separate
process that writes period ``k`` at ``base + (k + 1) * period`` by the wall
clock, whether or not the engine keeps up, publishes it with an atomic
rename, and appends one manifest line per file with its due and actual
publish times, so its own lateness is measurable.
"""

from __future__ import annotations

import argparse
import json
import os
import time
from dataclasses import asdict, dataclass

import numpy as np

_WORDS = (
    "spark stream window kafka batch query state sink latency shuffle "
    "watermark offset trigger event tweet live data the a to of and"
).split()
_LANGS = ("en", "es", "fr", "de", "ja", "pt")
# Share of tweets carrying 0, 1, 2 or 3 hashtags.
_TAGS_PER_TWEET_P = (0.15, 0.55, 0.2, 0.1)


@dataclass(frozen=True)
class StreamSpec:
    rate: int  # events per second
    period_ms: int  # one file per period
    vocab: int  # distinct hashtags
    zipf: float  # hashtag popularity exponent
    disorder_share: float  # share of events with an earlier event time
    disorder_max_ms: int  # how much earlier, at most
    malformed_share: float  # share of lines that are not valid JSON

    @property
    def events_per_file(self) -> int:
        return self.rate * self.period_ms // 1000


def tag_cdf(vocab: int, zipf: float) -> np.ndarray:
    w = 1.0 / np.arange(1, vocab + 1, dtype=np.float64) ** zipf
    return np.cumsum(w / w.sum())


def creation_offsets_ms(spec: StreamSpec, k: int) -> np.ndarray:
    """Creation instants of period ``k``'s events, in ms after ``base_ms``."""
    n = spec.events_per_file
    return k * spec.period_ms + (np.arange(n) + 0.5) * (spec.period_ms / n)


def render_file(
    spec: StreamSpec, seed: int, base_ms: int, k: int, cdf: np.ndarray | None = None
) -> bytes:
    """The bytes of period ``k``'s file: a pure function of its arguments."""
    rng = np.random.default_rng([seed, k])
    n = spec.events_per_file
    cdf = tag_cdf(spec.vocab, spec.zipf) if cdf is None else cdf
    event_ms = base_ms + np.floor(creation_offsets_ms(spec, k)).astype(np.int64)
    late = rng.random(n) < spec.disorder_share
    event_ms -= np.where(late, rng.integers(1, spec.disorder_max_ms + 1, n), 0)
    n_tags = rng.choice(4, size=n, p=_TAGS_PER_TWEET_P)
    tags = np.searchsorted(cdf, rng.random(int(n_tags.sum())), side="right")
    words = rng.integers(0, len(_WORDS), size=(n, 4))
    langs = rng.integers(0, len(_LANGS), size=n)
    broken = rng.random(n) < spec.malformed_share
    lines = []
    t = 0
    for i in range(n):
        if broken[i]:
            lines.append('{"text": "broken')
            t += n_tags[i]
            continue
        body = " ".join(_WORDS[w] for w in words[i])
        for _ in range(n_tags[i]):
            body += f" #tag{tags[t]}"
            t += 1
        lines.append(
            f'{{"text":"{body}","lang":"{_LANGS[langs[i]]}",'
            f'"timestamp":"{event_ms[i]}"}}'
        )
    return ("\n".join(lines) + "\n").encode()


def file_name(k: int) -> str:
    return f"tweets-{k:06d}.json"


def publish(stage_dir: str, out_dir: str, name: str, data: bytes, mtime_ns: int) -> str:
    """Write ``data`` beside ``out_dir`` and rename it in atomically."""
    tmp = os.path.join(stage_dir, name)
    with open(tmp, "wb") as f:
        f.write(data)
    # strictly increasing mtimes pin the file source's arrival order
    os.utime(tmp, ns=(mtime_ns, mtime_ns))
    dst = os.path.join(out_dir, name)
    os.rename(tmp, dst)
    return dst


def run_publisher(
    spec: StreamSpec,
    seed: int,
    base_ms: int,
    n_files: int,
    out_dir: str,
    stage_dir: str,
    manifest: str,
) -> None:
    """Publish ``n_files`` periods on the wall-clock schedule from ``base_ms``."""
    cdf = tag_cdf(spec.vocab, spec.zipf)
    with open(manifest, "w") as log:
        for k in range(n_files):
            data = render_file(spec, seed, base_ms, k, cdf)
            due_ms = base_ms + (k + 1) * spec.period_ms
            wait = due_ms / 1000.0 - time.time()
            if wait > 0:
                time.sleep(wait)
            published = time.time()
            publish(stage_dir, out_dir, file_name(k), data, int(published * 1e9))
            log.write(
                json.dumps(
                    {
                        "k": k,
                        "due_ms": due_ms,
                        "published_ms": published * 1000.0,
                        "events": spec.events_per_file,
                    }
                )
                + "\n"
            )
            log.flush()


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--spec", required=True, help="StreamSpec as JSON")
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--base-ms", type=int, required=True)
    p.add_argument("--files", type=int, required=True)
    p.add_argument("--out", required=True)
    p.add_argument("--stage", required=True)
    p.add_argument("--manifest", required=True)
    a = p.parse_args()
    run_publisher(
        StreamSpec(**json.loads(a.spec)),
        a.seed,
        a.base_ms,
        a.files,
        a.out,
        a.stage,
        a.manifest,
    )


def spec_json(spec: StreamSpec) -> str:
    return json.dumps(asdict(spec))


if __name__ == "__main__":
    main()
