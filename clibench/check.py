"""Check one CLI run's eight artifacts against committed digests.

Six artifacts are byte-stable across core counts and input orders, so
their sha256 must match exactly.  ``mondo_omim_genes.tsv`` and
``pmid_mentions.tsv`` are written with ``order_by=df.columns[:1]``:
rows that tie on the first column come out in an order that depends on
the core count and the input order.  For those two the check is the
digest of the header plus the sorted data rows, and that the rows are
ordered by their first column.  Whether each is in a total order, the
header followed by its data rows in byte order, is reported separately,
so the defect stays visible without failing the op.  Every column of
both reports is a string and tab sorts below every printable character,
so byte order of the rows is the column-lexicographic order.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass, field
from pathlib import Path

EXACT = (
    "omim.ttl",
    "omim.json",
    "omim.sssom.tsv",
    "review.tsv",
    "disease_gene_relationships.tsv",
    "mondo-omim-susceptibility-subset.robot.tsv",
)
TIE_UNSTABLE = ("mondo_omim_genes.tsv", "pmid_mentions.tsv")


def sha256(data: bytes) -> str:
    return hashlib.sha256(data).hexdigest()


def sorted_rows_digest(data: bytes) -> str:
    header, *rows = data.split(b"\n")
    return sha256(b"\n".join([header, *sorted(rows)]))


def in_total_order(data: bytes) -> bool:
    rows = data.rstrip(b"\n").split(b"\n")[1:]
    return rows == sorted(rows)


def first_column_ordered(data: bytes) -> bool:
    rows = data.rstrip(b"\n").split(b"\n")[1:]
    keys = [r.split(b"\t", 1)[0] for r in rows]
    return all(a <= b for a, b in zip(keys, keys[1:]))


def triple_count(ttl: bytes) -> int:
    return sum(
        1 for ln in ttl.split(b"\n") if ln and not ln.startswith(b"@prefix")
    )


def digest_outputs(out_dir: Path) -> dict:
    """The reference record for one scale: what ``check_outputs``
    compares against."""
    files = {n: (out_dir / n).read_bytes() for n in EXACT + TIE_UNSTABLE}
    return {
        "triples": triple_count(files["omim.ttl"]),
        "sha256": {n: sha256(files[n]) for n in EXACT},
        "sorted_rows_sha256": {
            n: sorted_rows_digest(files[n]) for n in TIE_UNSTABLE
        },
    }


@dataclass
class CheckResult:
    errors: list[str] = field(default_factory=list)
    # How many of the tie-unstable reports are in a total order (0-2).
    reports_total_order: int = 0

    @property
    def ok(self) -> bool:
        return not self.errors


def check_outputs(out_dir: Path, expected: dict) -> CheckResult:
    res = CheckResult()
    files: dict[str, bytes] = {}
    for name in EXACT + TIE_UNSTABLE:
        try:
            files[name] = (out_dir / name).read_bytes()
        except OSError as e:
            res.errors.append(f"{name}: {e.strerror}")
    if res.errors:
        return res
    for name in EXACT:
        if sha256(files[name]) != expected["sha256"][name]:
            res.errors.append(f"{name}: sha256 mismatch")
    for name in TIE_UNSTABLE:
        if sorted_rows_digest(files[name]) != expected["sorted_rows_sha256"][name]:
            res.errors.append(f"{name}: row set mismatch")
        if not first_column_ordered(files[name]):
            res.errors.append(f"{name}: rows not ordered by first column")
    n = triple_count(files["omim.ttl"])
    if n != expected["triples"]:
        res.errors.append(f"omim.ttl: {n} triples, expected {expected['triples']}")
    res.reports_total_order = sum(in_total_order(files[n]) for n in TIE_UNSTABLE)
    return res
