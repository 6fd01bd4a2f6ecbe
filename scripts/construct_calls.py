"""Plan-construction cost per registered key: seconds and py4j round
trips, ranked, to pick the next construction-cost targets.

Usage:
    python scripts/construct_calls.py KEY [KEY ...] > OUT.json

Each KEY is a registered query, built through its registered wrapper at
$SPARK_GRAFT_SF_DIR (default: perfbench's committed sf0.01 tables, the
ones its ``analytics_stable`` workload reads), or ``migrate_cli``
for the migrate pass's plan constructors (``read_mapping_csv``,
``read_customers_xml``, ``reconcile``, ``apply_migration``,
``customer_xml``), each timed over inputs built beforehand from a
1,000-customer export made by ``perfbench/enfinity_gen.py``.

Every construction starts from a cold dataset memo and an empty cache
(``invalidate_dataset`` and ``clearCache``), as a benchmark pass does,
so jobs a construction runs to train memoized state are part of its
cost. One untimed construction warms the JVM first; then the median
seconds and the fewest round trips of ``REPS`` constructions are kept.
A round trip is one ``GatewayClient.send_command``: a call, a field
read, or a release of a JVM object the Python side dropped. One line
per measured name goes to stderr; the JSON ranking, slowest first, to
stdout.
"""

import json
import os
import statistics
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

REPS = 3
MIGRATE = "migrate_cli"
MIGRATE_CUSTOMERS = 1000

_calls = [0]


def _count_round_trips() -> None:
    from py4j.java_gateway import GatewayClient

    send = GatewayClient.send_command

    def counted(self, *args, **kwargs):
        _calls[0] += 1
        return send(self, *args, **kwargs)

    GatewayClient.send_command = counted


def measure(reset, build) -> dict:
    reset()
    build()
    times, calls = [], []
    for _ in range(REPS):
        reset()
        c, t = _calls[0], time.perf_counter()
        build()
        times.append(time.perf_counter() - t)
        calls.append(_calls[0] - c)
    return {"construct_s": round(statistics.median(times), 4), "py4j_calls": min(calls)}


def migrate_constructors(spark, work: str) -> dict:
    """name -> constructor of each migrate plan function, over inputs built
    here once."""
    sys.path.insert(0, os.path.join(ROOT, "perfbench"))
    import enfinity_gen

    from pro_etl_spark import migrate_cli, xml_io
    from pro_etl_spark.ops.migration import apply_migration, reconcile

    xml, csv = os.path.join(work, "export.xml"), os.path.join(work, "mapping.csv")
    enfinity_gen.write_inputs(enfinity_gen.generate(MIGRATE_CUSTOMERS, 0.9, 1), xml, csv)
    customers = migrate_cli.read_customers_xml(spark, xml)
    mapping = migrate_cli.read_mapping_csv(spark, csv)
    migrated = apply_migration(customers, mapping)
    return {
        "migrate_cli.read_mapping_csv": lambda: migrate_cli.read_mapping_csv(spark, csv),
        "migrate_cli.read_customers_xml": lambda: migrate_cli.read_customers_xml(spark, xml),
        "migrate_cli.reconcile": lambda: reconcile(mapping, customers),
        "ops.migration.apply_migration": lambda: apply_migration(customers, mapping),
        "xml_io.customer_xml": lambda: xml_io.customer_xml(migrated),
    }


def main() -> None:
    keys = sys.argv[1:]
    if not keys:
        sys.exit(__doc__)
    sf = os.environ.get("SPARK_GRAFT_SF_DIR", os.path.join(ROOT, "perfbench", "data", "sf0.01"))
    _count_round_trips()

    import pro_etl_spark
    from pro_etl_spark.io import invalidate_dataset
    from pro_etl_spark.session import get_spark

    spark = get_spark("construct-calls")
    spark.sparkContext.setLogLevel("ERROR")
    qs = pro_etl_spark.get_queries()

    def reset():
        invalidate_dataset(spark, sf)
        spark.catalog.clearCache()

    rows = []
    with tempfile.TemporaryDirectory() as work:
        for k in keys:
            if k == MIGRATE:
                constructors = migrate_constructors(spark, work)
            else:
                constructors = {k: lambda k=k: qs[k](spark, sf)}
            for name, build in constructors.items():
                r = {"key": name, **measure(reset, build)}
                print(
                    f"{name}: {r['construct_s']:.4f} s, {r['py4j_calls']} round trips",
                    file=sys.stderr,
                )
                rows.append(r)
    spark.stop()
    rows.sort(key=lambda r: -r["construct_s"])
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    out = {"sf_dir": os.path.relpath(sf, ROOT), "cpus": cpus, "reps": REPS, "ranked": rows}
    json.dump(out, sys.stdout, indent=1)
    print()


if __name__ == "__main__":
    main()
