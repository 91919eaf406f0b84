"""Per-query sf0.1 health sweep: run a slice of the registry order in ONE
fresh session with per-query wall timings, so no single query's cost can
hide inside an opaque multi-hour sweep.  Usage:

    python scripts/sweep_sf01.py START END [SF_DIR]

Prints one line per query: ``idx name rows t_sec``.  A query that wedges
is visible as the last printed index + the missing line, and a fresh JVM
per slice keeps cumulative session state (checkpoint RDDs, temp views,
shuffle files) from compounding across slices the way a whole-registry
single-session sweep does.
"""
import sys
import time

sys.path.insert(0, ".")

from aws_kinesis_spark import registry
from aws_kinesis_spark.session import get_spark


def main() -> None:
    if len(sys.argv) < 3:
        print("Usage: python scripts/sweep_sf01.py START END [SF_DIR]", file=sys.stderr)
        sys.exit(2)
    start, end = int(sys.argv[1]), int(sys.argv[2])
    sf_dir = sys.argv[3] if len(sys.argv) > 3 else "/root/testdata/sf0.1"
    spark = get_spark("sweep-sf01", cpus="32")
    spark.sparkContext.setLogLevel("ERROR")
    registry._ensure_loaded()
    names = registry._ordered_names()
    qmap = registry.queries()
    for i in range(start, min(end, len(names))):
        name = names[i]
        t0 = time.time()
        try:
            n = qmap[name](spark, sf_dir).count()
            print(f"{i} {name} rows={n} t={time.time() - t0:.1f}s", flush=True)
        except Exception as exc:  # noqa: BLE001 — sweep must report, not die
            print(
                f"{i} {name} ERR {type(exc).__name__}: {str(exc)[:200]} "
                f"t={time.time() - t0:.1f}s",
                flush=True,
            )
    spark.stop()


if __name__ == "__main__":
    main()
