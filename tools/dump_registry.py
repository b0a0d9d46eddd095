"""Dump a checkout's query registry (`__spark_entry__`) to JSON: the
query names, every DuckDB oracle string and the bench suite names.

Two dumps diff empty exactly when a change leaves every query name,
oracle string and bench name byte-identical, e.g. a refactor of an
operator or of an oracle generator.

Usage: python tools/dump_registry.py <checkout> <out.json>
"""

from __future__ import annotations

import json
import sys


def main() -> int:
    if len(sys.argv) != 3:
        print(__doc__.strip().splitlines()[-1])
        return 2
    checkout, out = sys.argv[1:]
    sys.path.insert(0, checkout)
    import __spark_entry__ as E

    with open(out, "w") as f:
        json.dump(
            {
                "queries": sorted(E.queries()),
                "oracles": E.oracle_sql(),
                "bench": sorted(E.bench_queries()),
            },
            f,
            indent=1,
            sort_keys=True,
        )
    return 0


if __name__ == "__main__":
    sys.exit(main())
