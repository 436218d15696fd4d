"""Result checks for the benchmark's operations.

Serving results are compared, when the benchmark ships expected results for
the seed, by key, rank order and float32 score bits: the recording holds a
digest of each result's ``[key, score bits]`` list. Every result is also
checked against invariants that need no recording: at most k rows, scores in
non-increasing order, no deleted key, and no superseded version of an updated
key. A check returns a list of problems; an empty list means the result is
correct.
"""

from __future__ import annotations

import hashlib
import json
import os
import struct
from dataclasses import dataclass, field

EXPECTED_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                            "expected")


@dataclass
class Tally:
    """Operations attempted and failed, with each failed op's problems."""
    attempted: int = 0
    failed: int = 0
    problems: list = field(default_factory=list)

    def outcome(self, op_id: str, problems: list) -> None:
        self.attempted += 1
        if problems:
            self.failed += 1
            self.problems.append((op_id, problems))


def f32_bits(x: float) -> str:
    """Hex of the IEEE float32 bit pattern of ``x``."""
    return struct.pack(">f", x).hex()


def hit_record(rows: list[tuple[str, float]]) -> str:
    """``[(key, score)]`` -> digest of ``[[key, f32 bits], ...]``, the
    recorded form of one result."""
    canon = json.dumps([[k, f32_bits(s)] for k, s in rows])
    return hashlib.sha256(canon.encode()).hexdigest()[:20]


def check_hits(rows: list[tuple[str, float]], k: int, *,
               dead: set | frozenset = frozenset(),
               expected: str | None = None,
               versions: dict | None = None,
               row_versions: list | None = None) -> list[str]:
    """Problems with one top-k result ``rows`` = ``[(key, score), ...]``.

    ``dead`` holds keys that must not be returned; ``versions`` maps a key to
    the only version that may be returned, and ``row_versions`` gives the
    version of each row; ``expected`` is the recorded ``hit_record``."""
    problems = []
    if len(rows) > k:
        problems.append(f"{len(rows)} rows for k={k}")
    scores = [s for _, s in rows]
    if any(a < b for a, b in zip(scores, scores[1:])):
        problems.append("scores not in non-increasing order")
    keys = [key for key, _ in rows]
    if len(set(keys)) != len(keys):
        problems.append("a key is returned twice")
    gone = sorted(set(keys) & set(dead))
    if gone:
        problems.append(f"deleted keys returned: {gone[:3]}")
    if versions is not None and row_versions is not None:
        stale = [key for key, v in zip(keys, row_versions)
                 if versions.get(key, 0) != v]
        if stale:
            problems.append(f"superseded versions returned: {stale[:3]}")
    if expected is not None and hit_record(rows) != expected:
        problems.append(f"differs from the recorded result; got {rows[:3]}")
    return problems


def load_expected(workload: str, seed: int) -> dict | None:
    """Recorded results ``{op_id: hit_record}`` for one seed, or None when
    the benchmark ships none for it."""
    path = os.path.join(EXPECTED_DIR, f"{workload}.json")
    if not os.path.exists(path):
        return None
    with open(path) as fh:
        return json.load(fh).get(str(seed))


def save_expected(workload: str, seed: int, results: dict) -> None:
    """Merge one seed's recorded results into the workload's file."""
    path = os.path.join(EXPECTED_DIR, f"{workload}.json")
    data = {}
    if os.path.exists(path):
        with open(path) as fh:
            data = json.load(fh)
    data[str(seed)] = results
    os.makedirs(EXPECTED_DIR, exist_ok=True)
    with open(path, "w") as fh:
        json.dump(data, fh, sort_keys=True, separators=(",", ":"))
        fh.write("\n")
