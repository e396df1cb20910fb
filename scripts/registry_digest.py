"""Print one JSON line that fingerprints the query registry: the count and
sha256 of the registered query names and of the oracle SQL strings, both
in ``all_queries()`` order. Two trees print the same line iff they register
the same names in the same order with byte-identical oracle SQL, so a
refactor that must keep the registry fixed checks it by running this on
both sides. No Spark session is started.

Usage:
    python scripts/registry_digest.py
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from code_challenge___data_engineer___machinemax_spark import plans  # noqa: E402


def _sha256(items: list[str]) -> str:
    h = hashlib.sha256()
    for item in items:
        data = item.encode()
        h.update(len(data).to_bytes(8, "big"))  # length-prefixed: no join ambiguity
        h.update(data)
    return h.hexdigest()


def main() -> None:
    names = list(plans.all_queries())
    oracles = plans.all_oracles()
    sql = [oracles[n] for n in names if n in oracles]
    print(json.dumps({
        "queries": len(names),
        "queries_sha256": _sha256(names),
        "oracles": len(sql),
        "oracles_sha256": _sha256(sql),
    }))


if __name__ == "__main__":
    main()
