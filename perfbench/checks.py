"""Output checks that need no Spark: digests of sorted outputs, compared
with the digests recorded for the default seed in ``expected.json``.

A digest covers one question's output, so a run that answers a
different number of questions (the online loop is time-bound) is still
checked question by question.
"""

from __future__ import annotations

import hashlib
import json
import os

EXPECTED = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "expected.json")
DEFAULT_SEED = 0


def digest(obj) -> str:
    blob = json.dumps(obj, sort_keys=True, separators=(",", ":"))
    return hashlib.sha256(blob.encode()).hexdigest()[:16]


def retrieval_digest(answers, node_ids) -> str:
    """One question's answer names and retrieved node ids, sorted."""
    return digest({"answers": sorted(answers),
                   "nodes": sorted(int(n) for n in node_ids)})


def load_expected(seed: int) -> dict | None:
    """Recorded digests, or None when ``seed`` has no record."""
    if seed != DEFAULT_SEED or not os.path.exists(EXPECTED):
        return None
    with open(EXPECTED) as fh:
        return json.load(fh)


def mismatches(expected: dict[str, str] | None,
               got: dict[str, str]) -> set[str]:
    """Keys of ``got`` whose digest differs from the record.  Keys the
    record does not hold are not judged."""
    if expected is None:
        return set()
    return {k for k, v in got.items() if k in expected and expected[k] != v}
