"""Regenerate tests/fixtures/CERTIFIED_UNION.json from the driver's
CORRECTNESS_r*.json artifacts (latest row per query wins; green =
rows+schema match, hash match or rows-only, no err).

Round-start recipe (VERDICT r4 #5): run this, then re-sort the
queries() head in __spark_entry__.py so no already-certified query sits
in the first ~50 entries — test_certification_rotation_head_is_
uncertified enforces the ordering against the regenerated fixture.
"""

from __future__ import annotations

import glob
import json
import os
import re

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
FIXTURE = os.path.join(REPO, "tests", "fixtures", "CERTIFIED_UNION.json")


def round_number(path: str) -> int:
    """The integer round of a ``CORRECTNESS_r<N>.json`` path."""
    m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
    if m is None:
        raise ValueError(f"not a CORRECTNESS_r<N>.json round artifact: {path}")
    return int(m.group(1))


def certified_union() -> tuple[list[str], list[str]]:
    """(sorted certified names, rounds consumed in round order)."""
    files = sorted(
        glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json")), key=round_number
    )
    latest: dict[str, dict] = {}
    for path in files:  # round order => later rounds overwrite earlier rows
        with open(path) as f:
            for name, row in json.load(f).items():
                latest[name] = row
    union = sorted(
        name
        for name, row in latest.items()
        if row.get("rows_match")
        and row.get("schema_match")
        and row.get("hash_match") in (True, None)
        and not row.get("err")
    )
    rounds = [os.path.basename(p) for p in files]
    return union, rounds


def main() -> None:
    union, rounds = certified_union()
    os.makedirs(os.path.dirname(FIXTURE), exist_ok=True)
    with open(FIXTURE, "w") as f:
        json.dump({"rounds": rounds, "certified": union}, f, indent=1)
    print(f"{FIXTURE}: {len(union)} certified across {rounds}")


if __name__ == "__main__":
    main()
