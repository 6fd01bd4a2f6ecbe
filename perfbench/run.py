#!/usr/bin/env python3
"""The repository's benchmark: the paper's migration job and a slice of
the frozen stable-80 analytics suite, one closed-loop client on
``local[<cores>]``.

    python3 perfbench/run.py --workload migrate_dense --seed 1 \
        --seconds 20 --trace 0

Run from the repository root. One run:

1. makes its inputs from ``--seed`` (migrate) or takes the committed
   parquet tables under ``perfbench/data`` (analytics);
2. sets up: starts the session, runs ``registry.tune`` and a warm-up,
   timed as ``setup_s``;
3. repeats timed passes until ``--seconds`` have passed (at least
   ``MIN_PASSES``), checking every pass's outputs;
4. prints one JSON object as the last line of stdout: the end-to-end
   metrics with ``--trace 0``, or the per-layer metrics with
   ``--trace 1`` (see ``layers.py``).

Everything the run writes stays under ``.perfbench_work/`` in the
current directory and is removed at exit; the Spark JVM is stopped and
waited for. See ``perfbench/README.md`` for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import contextlib
import csv
import glob
import io
import json
import os
import shlex
import shutil
import subprocess
import sys
import time

import layers


def _steal_s() -> float:
    """CPU time the hypervisor has taken from this machine's CPUs (the
    steal column of /proc/stat), in seconds per CPU."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK") / os.cpu_count()
    except (OSError, IndexError, ValueError):
        return 0.0


def net_time() -> float:
    """A clock that runs like ``time.perf_counter`` but stops while the
    hypervisor steals the machine's CPUs. On a shared host steal comes
    and goes in bursts of minutes (3-13% of CPU time was measured while
    the benchmark was made), and it is the host's load, not the
    engine's work, so every timing below is read from this clock."""
    return time.perf_counter() - _steal_s()


T_PROCESS = net_time()
T_PROCESS_WALL = time.perf_counter()

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
DATA_DIR = os.path.join(BENCH_DIR, "data")
DIGESTS_PATH = os.path.join(BENCH_DIR, "analytics_digests.json")

CORES = len(os.sched_getaffinity(0))
DRIVER_MEMORY = "2g"
MIN_PASSES = 2
#: a run starts no pass after this long, so that it ends well within
#: three minutes however slow the machine is
RUN_DEADLINE_S = 140.0

#: customers in the migrate export. The warm-up runs the job WARM_RUNS
#: times over an export of the same size (from seed+1). The JIT keeps
#: speeding the job up for several runs more (the JVM's CPU time per run
#: fell from about 9 s to 5 s over the next six), so run_s is the best of
#: the run's passes, about six in 20 s, rather than any one pass.
MIGRATE_N = 10_000
WARM_RUNS = 3
MAPPED_FRAC = 0.9

WORKLOADS = {"migrate_dense": "migrate", "analytics_stable": "analytics"}

#: The analytics slice: stable-80 keys (bench.STABLE_V10), kept in
#: bench.py order because dedup_incremental reuses the pair table
#: dedup_minhash_lsh leaves in the session. One key per ops module but
#: sources (its one stable key, sink_xml_sharded, costs a tenth of a
#: run); graph_hits is an iterative key from the suite's tail.
ANALYTICS_KEYS = (
    "agg_multi_measure",
    "migration_reconciliation",
    "stream_tumbling",
    "dedup_minhash_lsh",
    "dedup_incremental",
    "sql_returned_items",
    "ann_cosine_topk",
    "text_bm25",
    "text_tfidf",
    "join_salted",
    "merge_cdc_apply",
    "events_mannwhitney",
    "graph_hits",
    "mm_phash",
)
#: the tables every analytics pass reads, warm-up included
ANALYTICS_DATA = os.path.join(DATA_DIR, "sf0.01")


def _spark_env(work: str) -> None:
    """Point every scratch path of Python, Spark and the JVM into
    ``work`` and fix the session settings ``session.get_spark`` reads."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    confs = {
        "spark.ui.showConsoleProgress": "false",
        # the tracer reads every job and stage of a run back
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    args = []
    for k, v in confs.items():
        args += ["--conf", f"{k}={v}"]
    os.environ.update(
        {
            "TMPDIR": tmp,
            # read by every JVM, the spark-submit launcher's too
            "JAVA_TOOL_OPTIONS": shlex.join(
                [f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData", f"-Dderby.system.home={work}"]
            ),
            "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
            "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
            "SPARK_GRAFT_CPUS": str(CORES),
            "PYSPARK_SUBMIT_ARGS": shlex.join(args + ["pyspark-shell"]),
        }
    )
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def start_spark():
    from pro_etl_spark import registry
    from pro_etl_spark.session import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    registry.tune(spark)
    return spark


def stop_spark(spark) -> None:
    """Stop the session and its JVM, and wait until the JVM has exited."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _span(tracer, name):
    return tracer.span(name) if tracer else contextlib.nullcontext()


# -- migrate -----------------------------------------------------------


class MigrateWorkload:
    """One pass = one ``migrate_cli.run`` with the single-file sink. The
    traced run adds one pass in ``scale=True`` mode with the downstream
    manifest read-back, as a probe of the manifest layers."""

    kind = "migrate"

    def __init__(self, seed: int, work: str, n: int = MIGRATE_N):
        import enfinity_gen

        t = net_time()
        self.work = work
        self.gen = enfinity_gen.generate(n, MAPPED_FRAC, seed)
        self.xml = os.path.join(work, "export.xml")
        self.csv = os.path.join(work, "mapping.csv")
        self.xml_bytes, self.csv_bytes = enfinity_gen.write_inputs(self.gen, self.xml, self.csv)
        warm = enfinity_gen.generate(n, MAPPED_FRAC, seed + 1)
        self.warm_xml = os.path.join(work, "warm.xml")
        self.warm_csv = os.path.join(work, "warm.csv")
        enfinity_gen.write_inputs(warm, self.warm_xml, self.warm_csv)
        self.items = n
        self._n = 0
        #: time spent making inputs, which setup_s leaves out
        self.prep_s = net_time() - t

    def warm_up(self, spark, scale=False, runs=WARM_RUNS) -> None:
        for _ in range(runs):
            _out, out_dir = self.run_once(spark, self.warm_xml, self.warm_csv, scale=scale)
            shutil.rmtree(out_dir)

    def run_once(self, spark, xml, csv_path, tracer=None, scale=False):
        """migrate_cli.run, plus the schema'd manifest read-back executed
        to completion when ``scale``; returns (run's result, output dir)."""
        from pro_etl_spark import migrate_cli, xml_io

        self._n += 1
        out_dir = os.path.join(self.work, f"out{self._n}")
        with contextlib.redirect_stdout(io.StringIO()):
            out = migrate_cli.run(spark, xml, csv_path, out_dir, scale=scale)
        if scale:
            with _span(tracer, "read_back"):
                _root, _attrs, records = xml_io.read_manifest_document(
                    spark, out["xml"], schema=migrate_cli.XML_SCHEMA
                )
                with _span(tracer, "xml_io.read_manifest_document.execute"):
                    layers.noop_sink(records)
        return out, out_dir

    def run_pass(self, spark, tracer=None):
        """Returns (wall seconds, outcome); ``check`` judges the outcome."""
        t = net_time()
        outcome = self.run_once(spark, self.xml, self.csv, tracer)
        return net_time() - t, outcome

    def best_pass_s(self, walls: list[float]) -> float:
        return min(walls)

    def check(self, spark, outcome, scale=False) -> list[str]:
        """Every way a pass's outputs differ from the generator's
        expectation; removes the outputs."""
        import enfinity_gen
        from pro_etl_spark import migrate_cli, xml_io

        out, out_dir = outcome
        exp = self.gen.expected
        errors = []
        if (int(out["found"]), int(out["total"])) != (exp.found, exp.total):
            errors.append(f"found/total {out['found']}/{out['total']} != {exp.found}/{exp.total}")
        counts: dict = {}
        for part in glob.glob(os.path.join(out["log"], "part-*")):
            with open(part, encoding="utf-8", newline="") as f:
                for row in csv.DictReader(f):
                    key = (row["status"], row["reason"])
                    counts[key] = counts.get(key, 0) + 1
        if counts != exp.log_counts:
            errors.append(f"log counts {counts} != {exp.log_counts}")
        doc_path = out["xml"]
        if scale:
            doc_path = os.path.join(out_dir, "composed.xml")
            xml_io.compose_manifest(out["xml"], doc_path)
            _root, _attrs, records = xml_io.read_manifest_document(
                spark, out["xml"], schema=migrate_cli.XML_SCHEMA
            )
            import pyspark.sql.functions as F

            n, n_ids = records.agg(F.count(F.lit(1)), F.count("_id")).first()
            if (n, n_ids) != (exp.n_records, exp.n_records):
                errors.append(f"read-back {n} records, {n_ids} ids != {exp.n_records}")
        with open(doc_path, encoding="utf-8") as f:
            doc = f.read()
        header = enfinity_gen.export_xml([]).removesuffix("</enfinity>\n")
        if not doc.startswith(header) or not doc.endswith("</enfinity>\n"):
            errors.append("delta document envelope differs")
        else:
            records = enfinity_gen.split_records(
                doc[len(header): -len("</enfinity>\n")], out["run_ts"]
            )
            if len(records) != exp.n_records:
                errors.append(f"{len(records)} delta records != {exp.n_records}")
            elif enfinity_gen.record_digest(records) != exp.digest:
                errors.append("delta record digest differs")
        shutil.rmtree(out_dir, ignore_errors=True)
        return errors


# -- analytics ---------------------------------------------------------


def table_digest(df) -> tuple[int, str]:
    """Row count plus an exact, order-insensitive hash over every output
    column: the sum of per-row xxhash64 values as a decimal (map columns
    go through to_json, which xxhash64 does not take). Computing it
    executes every column of every row."""
    import pyspark.sql.functions as F

    names = [f"c{i}" for i in range(len(df.columns))]
    df = df.toDF(*names)
    cols = [
        F.to_json(F.col(n)) if "map<" in f.dataType.simpleString() else F.col(n)
        for n, f in zip(names, df.schema.fields)
    ]
    h = F.xxhash64(*cols) if cols else F.lit(0)
    n, s = df.agg(F.count(F.lit(1)), F.sum(h.cast("decimal(38,0)"))).first()
    return int(n), str(s if s is not None else 0)


class AnalyticsWorkload:
    """One pass = every key of ANALYTICS_KEYS, constructed and executed
    to completion (a digest over every output column), from a cold
    dataset memo and an empty cache."""

    kind = "analytics"
    prep_s = 0.0
    items = len(ANALYTICS_KEYS)

    def __init__(self):
        self.data = ANALYTICS_DATA
        rec = {"keys": {}, "row_count_only": {}}
        if os.path.exists(DIGESTS_PATH):
            with open(DIGESTS_PATH) as f:
                rec = json.load(f)
        self.digests = rec["keys"]
        self.row_count_only = rec["row_count_only"]
        #: per pass: key -> wall seconds of construct plus execute
        self.pass_key_times: list[dict[str, float]] = []
        self._errors: list[str] = []

    def _queries(self):
        import pro_etl_spark

        return pro_etl_spark.get_queries()

    def _fresh(self, spark, d: str) -> None:
        from pro_etl_spark import io as pio

        pio.invalidate_dataset(spark, d)
        spark.catalog.clearCache()

    def warm_up(self, spark) -> None:
        """One untimed pass over the same tables: the timed passes then
        all run the plans compiled and JIT-ed. Each pass starts with
        ``invalidate_dataset`` and ``clearCache``, so no memoized state
        or cached table carries from one pass into the next."""
        q = self._queries()
        self._fresh(spark, self.data)
        for k in ANALYTICS_KEYS:
            table_digest(q[k](spark, self.data))

    def run_pass(self, spark, tracer=None, record: dict | None = None):
        import inspect

        q = self._queries()
        self._fresh(spark, self.data)
        times: dict[str, float] = {}
        t_pass = net_time()
        for k in ANALYTICS_KEYS:
            mod = inspect.unwrap(q[k]).__module__.removeprefix("pro_etl_spark.")
            t = net_time()
            try:
                with _span(tracer, f"query:{mod}:{k}"):
                    with _span(tracer, "construct"):
                        df = q[k](spark, self.data)
                    with _span(tracer, "execute"):
                        got = table_digest(df)
            except Exception as exc:  # noqa: BLE001 — a failing key is counted, the pass goes on
                self._errors.append(f"{k}: {type(exc).__name__}: {exc}"[:300])
                continue
            times[k] = net_time() - t
            if record is not None:
                record[k] = {"rows": got[0], "hash": got[1]}
                continue
            want = self.digests.get(k)
            if want is None or got[0] != want["rows"] or (
                k not in self.row_count_only and got[1] != want["hash"]
            ):
                self._errors.append(f"{k}: digest {got} != recorded {want}")
        self.pass_key_times.append(times)
        return net_time() - t_pass, None

    def best_pass_s(self, walls: list[float]) -> float:
        """A pass with every key at its best over the run's passes."""
        return sum(
            min(p[k] for p in self.pass_key_times if k in p)
            for k in ANALYTICS_KEYS
            if any(k in p for p in self.pass_key_times)
        )

    def check(self, spark, outcome) -> list[str]:
        errors, self._errors = self._errors, []
        return errors


# -- driver ------------------------------------------------------------


def measure(wl, spark, seconds: float, tracer=None, min_passes: int = MIN_PASSES):
    """Timed passes until ``seconds`` have passed and at least
    ``min_passes`` ran. Returns (pass walls, operations attempted,
    operations failed, failure reasons)."""
    walls, errors, attempted, failed = [], [], 0, 0
    t_end = time.perf_counter() + seconds
    while len(walls) < min_passes or time.perf_counter() < t_end:
        if tracer:
            tracer.run_id = f"p{len(tracer.named('pass'))}"
        try:
            with _span(tracer, "pass"):
                wall, outcome = wl.run_pass(spark, tracer)
            walls.append(wall)
            errs = wl.check(spark, outcome)
        except Exception as exc:  # noqa: BLE001 — a failing pass is counted, not fatal
            errs = [f"pass: {type(exc).__name__}: {exc}"[:300]]
        if wl.kind == "analytics":
            # one operation per key; errors are prefixed by their key
            attempted += len(ANALYTICS_KEYS)
            failed += len({e.split(":")[0] for e in errs})
        else:
            attempted += 1
            failed += bool(errs)
        errors += errs
        if time.perf_counter() - T_PROCESS_WALL > RUN_DEADLINE_S or (errs and not walls):
            break
    return walls, attempted, failed, errors


#: (name, unit, better) of the end-to-end metrics
END_TO_END = (
    ("setup_s", "s", "lower"),
    ("run_s", "s", "lower"),
    ("items_per_s", "1/s", "higher"),
)


def end_to_end_metrics(setup_s: float, run_s: float, items: int) -> dict:
    """setup_s: process start to ready (inputs the benchmark makes left
    out); run_s: the run's best pass (analytics: each key at its best);
    items_per_s: customers (migrate) or queries (analytics) of one pass
    per second of run_s. All read from ``net_time``."""
    values = (setup_s, run_s, items / run_s)
    return {name: (v, unit) for (name, unit, _b), v in zip(END_TO_END, values)}


def run(wl, a):
    spark = start_spark()
    try:
        wl.warm_up(spark)
        setup_s = net_time() - T_PROCESS - wl.prep_s
        if a.record_digests:
            record: dict = {}
            wl.run_pass(spark, record=record)
            with open(a.record_digests, "w") as f:
                json.dump({"cores": CORES, "keys": record, "errors": wl.check(spark, None)}, f)
            return None
        if a.trace:
            metrics, attempted, failed, errors, _tracer = layers.traced_run(
                wl, spark, a.seconds, CORES, measure
            )
        else:
            walls, attempted, failed, errors = measure(wl, spark, a.seconds)
            if not walls:
                raise RuntimeError(f"every pass failed: {errors[:3]}")
            metrics = end_to_end_metrics(setup_s, wl.best_pass_s(walls), wl.items)
            print(f"perfbench: setup {setup_s:.2f}s passes {[round(w, 2) for w in walls]} "
                  f"wall {time.perf_counter() - T_PROCESS_WALL:.1f}s stolen "
                  f"{time.perf_counter() - T_PROCESS_WALL - (net_time() - T_PROCESS):.1f}s/cpu",
                  file=sys.stderr)
    finally:
        stop_spark(spark)
    for e in errors[:20]:
        print(f"perfbench: FAILED {e}", file=sys.stderr)
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description="perfbench: migrate and analytics workloads")
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument(
        "--record-digests",
        metavar="PATH",
        help="analytics only: write the per-key digests of one pass to PATH "
        "instead of checking them (see record_digests.py)",
    )
    a = p.parse_args(argv)
    if a.record_digests and WORKLOADS[a.workload] != "analytics":
        p.error("--record-digests applies to the analytics workload only")
    cwd = os.getcwd()
    if not os.path.isdir(os.path.join(ROOT, "pro_etl_spark")):
        print(f"perfbench: no pro_etl_spark package next to {BENCH_DIR}", file=sys.stderr)
        return 2
    work = os.path.join(cwd, ".perfbench_work", f"{a.workload}-{os.getpid()}")
    os.makedirs(work)
    try:
        _spark_env(work)
        sys.path.insert(0, ROOT)
        if WORKLOADS[a.workload] == "migrate":
            wl = MigrateWorkload(a.seed, work)
        else:
            wl = AnalyticsWorkload()  # fixed tables: the seed changes nothing
        os.chdir(work)
        result = run(wl, a)
    finally:
        os.chdir(cwd)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.join(cwd, ".perfbench_work"))
    if result is None:
        return 0
    print(json.dumps(result, separators=(",", ":")))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
