"""Seeded CLI inputs: the replicated test fixture, line-permuted.

The replica set comes from ``tools.pipeline_scale_probe.synthesize``
(N copies of the ``tests/conftest.py`` fixture with every MIM number
remapped per replica).  The seed then shuffles the data lines of every
source file except ``morbidmap.txt``: the build's artifacts do not
depend on input row order, so every seed must produce the same output
digests.  ``morbidmap.txt`` stays in order because ``review.tsv``
cites morbidmap row numbers.
"""

from __future__ import annotations

import random
import shutil
from pathlib import Path

from tools.pipeline_scale_probe import _HEADER_FILES, synthesize

FIXED_ORDER = frozenset({"morbidmap.txt"})


def _permute(path: Path, rng: random.Random) -> None:
    # The head/data/tail split must mirror the one in ``synthesize``
    # (leading and trailing ``#`` blocks, plus the column header of the
    # files in ``_HEADER_FILES``); otherwise a header would be shuffled
    # into the data.
    lines = path.read_text().splitlines()
    head: list[str] = []
    data: list[str] = []
    tail: list[str] = []
    for ln in lines:
        if ln.startswith("#"):
            (tail if data else head).append(ln)
        else:
            data.append(ln)
    if path.name in _HEADER_FILES and data:
        head.append(data.pop(0))
    rng.shuffle(data)
    path.write_text("\n".join(head + data + tail) + "\n")


def make_inputs(out_dir: Path, replicas: int, seed: int) -> None:
    """Write the seeded input set for one workload to ``out_dir``."""
    shutil.rmtree(out_dir, ignore_errors=True)
    synthesize(out_dir, replicas)
    rng = random.Random(seed)
    for path in sorted(out_dir.iterdir()):
        if path.name not in FIXED_ORDER:
            _permute(path, rng)
