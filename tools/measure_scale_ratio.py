"""Wall-time scaling ratio of registry entries between two fixtures.

Every new or changed operator ships with a measured base -> scaled wall
ratio (checksum sink: ``count(*)`` and ``sum(hash(*))``, so every column
of every row is computed).  Build the scaled fixture first, e.g. a 10x
replica with ``tools/make_scale_fixture.py 10 BASE_DIR SCALED_DIR``.

Per entry and fixture: one warm-up run, then the minimum of two timed
runs.  Prints one line per entry as it finishes, then one JSON object
``{entry: {"base": s, "scaled": s, "ratio": scaled / base}}``.

Usage: python tools/measure_scale_ratio.py --scaled SCALED_DIR
       [--base BASE_DIR] ENTRY [ENTRY ...]
(``--base`` defaults to ``$SPARK_GRAFT_SF_DIR``.)
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("entries", nargs="+", metavar="ENTRY")
    ap.add_argument("--base", default=os.environ.get("SPARK_GRAFT_SF_DIR"))
    ap.add_argument("--scaled", required=True)
    args = ap.parse_args()
    if not args.base:
        ap.error("--base is required when $SPARK_GRAFT_SF_DIR is unset")

    from arrow_ballista_spark.operators.caching import release_caches
    from arrow_ballista_spark.queries import load_all
    from arrow_ballista_spark.session import get_session

    spark = get_session(app_name="scale-ratio", shuffle_partitions=32)
    reg = load_all()
    out = {}
    for name in args.entries:
        times = {}
        for label, sf in (("base", args.base), ("scaled", args.scaled)):
            samples = []
            for _ in range(3):  # warm + 2 timed
                release_caches()
                t0 = time.monotonic()
                df = reg[name].spark(spark, sf)
                df.selectExpr(
                    "count(*) AS n", "sum(hash(*)) AS cs"
                ).collect()
                samples.append(time.monotonic() - t0)
            times[label] = round(min(samples[1:]), 3)
        ratio = round(times["scaled"] / times["base"], 2)
        out[name] = {**times, "ratio": ratio}
        print(name, out[name], flush=True)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
