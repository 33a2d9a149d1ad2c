#!/usr/bin/env python3
"""Record the canonical result hash of every headline query from the
DuckDB oracle SQL over perfbench/data/sf0.01.

    python3 perfbench/record_hashes.py      # from the root of a checkout

Writes perfbench/oracle_hashes.json, which the benchmark checks every
Spark result against. Re-run only when the fixture tables or the
headline set change on purpose.
"""

from __future__ import annotations

import json

import common
import headline


def main() -> None:
    common.import_program()
    from stream_cdc_spark.plans.queries import QUERIES
    from tests.oracle import run_oracle

    out = {}
    for name in sorted(n for n, s in QUERIES.items() if s.headline):
        out[name] = headline.canonical_hash(*run_oracle(QUERIES[name].oracle, headline.DATA))
    with open(headline.HASHES, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"recorded {len(out)} hashes to {headline.HASHES}")


if __name__ == "__main__":
    main()
