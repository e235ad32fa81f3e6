"""Classes compiled by a cold and a warm run of registered queries.

Runs each named query twice in one ``get_spark()`` session, building
its DataFrame and writing it to Spark's ``noop`` sink each time, and
prints each run's wall time and the number of generated classes Spark
compiled during it (``CodegenMetrics``' compilation count).  The first
run of a query pays for its code; a second run that still compiles is
building different code on each call (literals baked into generated
code, or an adaptive plan whose stage order varies from run to run) or
has been evicted from the session's codegen cache.  Queries run in the
order given, so a later query's cold run may reuse classes an earlier
one compiled.

Usage:

    python tools/warm_compiles.py [--sf-dir DIR] QUERY [QUERY ...]

``--sf-dir`` defaults to the sf0.01 fixture the oracle gate reads.
"""

from __future__ import annotations

import argparse
import sys
import time
from pathlib import Path

_REPO = str(Path(__file__).resolve().parent.parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from artis_data_ingest_spark import plans  # noqa: E402
from artis_data_ingest_spark.plans.pipeline import _SF001_DIR  # noqa: E402
from artis_data_ingest_spark.session import get_spark  # noqa: E402


def compiled(spark) -> int:
    """Generated classes compiled so far in this JVM."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("queries", nargs="+", metavar="QUERY")
    ap.add_argument("--sf-dir", default=_SF001_DIR)
    args = ap.parse_args()
    registry = plans.queries()
    unknown = [q for q in args.queries if q not in registry]
    if unknown:
        ap.error(f"unknown queries: {', '.join(unknown)}")
    spark = get_spark("warm-compiles")
    spark.sparkContext.setLogLevel("ERROR")
    cache = spark.conf.get("spark.sql.codegen.cache.maxEntries")
    print(f"codegen cache maxEntries = {cache}")
    for name in args.queries:
        for run in (1, 2):
            c0, t0 = compiled(spark), time.perf_counter()
            df = registry[name](spark, args.sf_dir)
            df.write.format("noop").mode("overwrite").save()
            wall = time.perf_counter() - t0
            print(f"{name} run {run}: {wall:.2f} s, "
                  f"{compiled(spark) - c0} classes compiled", flush=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
