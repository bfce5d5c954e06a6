"""Regenerate trading_etl_python_spark/suite/_cert_ledger.py from the
driver's CORRECTNESS_r*.json files.

The external driver re-certifies only the first ~50 registry entries
per round, so the registry order is the certification rotation.
suite/__init__.py derives it from one rule over three inputs:

    QUERIES = [*_PREEMPT,
               *sorted(rest, key=(LAST_CERT[n], _BASE position))]

- ``_PREEMPT``: queries whose builder or oracle code changed since their
  last certification.  Their old cert no longer covers the new plan, so
  they lead the window; an entry they displace keeps its (now oldest)
  cert round and leads the next window.
- ``LAST_CERT``: the ledger this tool writes.  Per query, the highest
  round whose driver row passed (rows + schema + hash when present).
- ``_BASE``: a checked-in name list, the stable tiebreak among entries
  certified in the same round.

After each round's CORRECTNESS_r{N}.json lands, regenerate the ledger
and rewrite ``_PREEMPT``; nothing else in the order changes:

    python tools/cert_ledger.py          # rewrites suite/_cert_ledger.py
    python tools/cert_ledger.py --check  # verify the checked-in ledger is current
    python tools/cert_ledger.py --window [N]  # predict the next driver window
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(
    REPO, "trading_etl_python_spark", "suite", "_cert_ledger.py"
)

HEADER = '''"""Driver-certification ledger: query -> last driver-green round.

GENERATED by tools/cert_ledger.py from the CORRECTNESS_r*.json files —
do not edit by hand; re-run the tool after each round's driver
correctness file lands.  A row counts as green when rows_match and
schema_match hold and hash_match is true or absent (the driver records
no hash for rows-only entries).  The registry order (suite/__init__.py)
puts _PREEMPT first and sorts every other query by these values, oldest
first, with its _BASE position as the tiebreak, so the driver's
~50-query window always re-certifies the stalest value-hashes.
"""

LAST_CERT: dict[str, int] = {
'''


def build_ledger() -> dict[str, int]:
    last: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))):
        rnd = int(re.search(r"r(\d+)", os.path.basename(path)).group(1))
        for name, row in json.load(open(path)).items():
            green = (
                row.get("rows_match")
                and row.get("schema_match")
                and row.get("hash_match") in (True, None)
            )
            if green:
                last[name] = max(rnd, last.get(name, 0))
    return last


def render(last: dict[str, int]) -> str:
    body = "".join(
        f"    {name!r}: {rnd},\n" for name, rnd in sorted(last.items())
    )
    return HEADER + body + "}\n"


def main() -> int:
    if "--window" in sys.argv:
        n = 50
        tail = sys.argv[sys.argv.index("--window") + 1 :]
        if tail and tail[0].isdigit():
            n = int(tail[0])
        sys.path.insert(0, REPO)
        from trading_etl_python_spark.suite import QUERIES

        for name in list(QUERIES)[:n]:
            print(name)
        return 0
    text = render(build_ledger())
    if "--check" in sys.argv:
        current = open(OUT).read() if os.path.exists(OUT) else ""
        if current != text:
            print(f"STALE: {OUT} does not match CORRECTNESS_r*.json — rerun tools/cert_ledger.py")
            return 1
        print(f"ok: {OUT} is current")
        return 0
    with open(OUT, "w") as fh:
        fh.write(text)
    print(f"wrote {OUT}: {len(build_ledger())} queries")
    return 0


if __name__ == "__main__":
    sys.exit(main())
