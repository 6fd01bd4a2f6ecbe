"""The traced run: per-layer metrics from spans and Spark counters.

Every workload prints the whole per-layer set; a layer the workload
does not run reads 0 (the migrate layers on analytics, the ops modules
on migrate). Values are medians over the traced passes of the run. The
manifest sink and reader (``xml_io.write_xml_document_manifest.*``,
``xml_io.read_manifest_document.execute_s``) come from one extra traced
migrate pass in ``scale=True`` mode, and the ``probe.*`` split from noop
sinks, both outside the timed passes.

Which end-to-end metric each layer metric should move:

- ``ops.*.construct_s``, ``analytics.construct_*`` and the scheduling
  counts (``analytics.tasks``, ``stages``, ``single_task_stage_frac``)
  move ``run_s`` on analytics_stable, and nothing on migrate_dense.
- ``ops.{dedup,graph,similarity}.construct_jobs`` (the iterative loops)
  move the slow keys of analytics_stable, seen in
  ``analytics.query_p85_s``.
- ``migrate.input_read_amplification``, ``migrate.xml_scan_tasks`` and
  ``probe.parse_s`` move ``items_per_s`` on migrate_dense.
- ``probe.rewrite_s``, ``probe.serialize_s`` and
  ``xml_io.write_xml_document.driver_s`` move ``items_per_s`` on
  migrate_dense; set beside ``xml_io.write_xml_document_manifest.s``
  they give the single-file-vs-manifest crossover.
- A cache or persist change shows in ``jvm.peak_rss_mb``, the driver
  JVM's VmHWM at the end of the traced run. It is not an end-to-end
  metric: G1 sizes the heap by the time it spends in GC, so the peak
  follows the host's load (0.15-0.22 spread across seeds).
"""

from __future__ import annotations

import statistics
import time

from tracer import Tracer

#: the ops modules the analytics keys come from (``ops.sources`` has no
#: key in the slice)
OPS_MODULES = (
    "analytics", "text", "similarity", "corpus", "cdc", "dedup", "relational",
    "graph", "sqlapi", "relational_ext", "streaming", "search", "multimodal",
    "migration",
)

#: migrate_cli's public functions (and the one it imports from
#: ops.migration) whose call builds a plan: name -> metric prefix
CONSTRUCT_FNS = {
    "read_mapping_csv": "migrate_cli.read_mapping_csv",
    "read_customers_xml": "migrate_cli.read_customers_xml",
    "reconcile": "migrate_cli.reconcile",
    "apply_migration": "ops.migration.apply_migration",
}
SINKS = ("xml_io.write_xml_document", "xml_io.write_xml_document_manifest")
LOG = "migrate_cli.log_and_summary"


def per_layer_metrics() -> list[tuple[str, str, str]]:
    """(name, unit, better) of every per-layer metric, in output order."""
    m = []
    for mod in OPS_MODULES:
        m += [
            (f"ops.{mod}.construct_s", "s", "lower"),
            (f"ops.{mod}.construct_jobs", "count", "lower"),
            (f"ops.{mod}.execute_s", "s", "lower"),
            (f"ops.{mod}.tasks", "count", "lower"),
            (f"ops.{mod}.executor_run_s", "s", "lower"),
        ]
    m += [
        ("analytics.construct_s", "s", "lower"),
        ("analytics.execute_s", "s", "lower"),
        ("analytics.construct_jobs", "count", "lower"),
        ("analytics.jobs", "count", "lower"),
        ("analytics.stages", "count", "lower"),
        ("analytics.tasks", "count", "lower"),
        ("analytics.single_task_stage_frac", "ratio", "lower"),
        ("analytics.core_busy_frac", "ratio", "higher"),
        ("analytics.shuffle_mb", "MB", "lower"),
        ("analytics.spill_mb", "MB", "lower"),
        ("analytics.input_mb", "MB", "lower"),
        ("analytics.query_p50_s", "s", "lower"),
        ("analytics.query_p85_s", "s", "lower"),
    ]
    m += [(f"{p}.construct_s", "s", "lower") for p in CONSTRUCT_FNS.values()]
    m += [("xml_io.customer_xml.construct_s", "s", "lower")]
    for sink in SINKS:
        m += [
            (f"{sink}.s", "s", "lower"),
            (f"{sink}.driver_s", "s", "lower"),
            (f"{sink}.tasks", "count", "higher"),
            (f"{sink}.executor_run_s", "s", "lower"),
        ]
    m += [
        ("xml_io.read_manifest_document.execute_s", "s", "lower"),
        (f"{LOG}.s", "s", "lower"),
        (f"{LOG}.jobs", "count", "lower"),
        (f"{LOG}.tasks", "count", "lower"),
        ("migrate.input_read_amplification", "ratio", "lower"),
        ("migrate.xml_scan_tasks", "count", "higher"),
        ("migrate.core_busy_frac", "ratio", "higher"),
        ("probe.parse_s", "s", "lower"),
        ("probe.rewrite_s", "s", "lower"),
        ("probe.serialize_s", "s", "lower"),
        ("jvm.peak_rss_mb", "MB", "lower"),
        ("trace.untraced_run_s", "s", "lower"),
        ("trace.run_s", "s", "lower"),
        ("trace.overhead_s", "s", "lower"),
    ]
    return m


def noop_sink(df) -> None:
    """Execute ``df`` to completion: every column of every row reaches
    the sink, nothing is kept."""
    df.write.format("noop").mode("overwrite").save()


def jvm_peak_rss_mb(spark) -> float:
    """VmHWM of the driver JVM, which in local mode is the whole engine."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("no VmHWM for the driver JVM")


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile, q in (0, 100]."""
    s = sorted(values)
    k = -(-len(s) * q // 100)  # ceil
    return s[max(0, int(k) - 1)]


# -- instrumentation ---------------------------------------------------


def install(tracer: Tracer):
    """Wrap migrate_cli's and xml_io's public functions in spans; returns
    an undo callable. ``apply_migration`` is wrapped under the name
    migrate_cli imported it as, which is the one ``run`` calls."""
    from pro_etl_spark import migrate_cli, xml_io

    saved = []

    def patch(mod, attr, fn):
        saved.append((mod, attr, getattr(mod, attr)))
        setattr(mod, attr, fn)

    for attr, name in CONSTRUCT_FNS.items():
        patch(migrate_cli, attr, tracer.wrap(getattr(migrate_cli, attr), name))
    patch(migrate_cli, "run", tracer.wrap(migrate_cli.run, "migrate_cli.run"))
    for attr in ("customer_xml", "read_root_attrs", "read_manifest_document", "compose_manifest"):
        patch(xml_io, attr, tracer.wrap(getattr(xml_io, attr), f"xml_io.{attr}"))
    for sink in SINKS:
        attr = sink.split(".")[1]
        fn = getattr(xml_io, attr)

        def traced_sink(*args, _fn=fn, _name=sink, **kwargs):
            with tracer.span(_name):
                out = _fn(*args, **kwargs)
            # the log CSV write and the two counts run from here until
            # run() returns; its span is closed together with run's
            tracer.open(LOG)
            return out

        patch(xml_io, attr, traced_sink)

    def undo():
        for mod, attr, fn in reversed(saved):
            setattr(mod, attr, fn)

    return undo


# -- derivation --------------------------------------------------------


def _migrate_pass_metrics(tr: Tracer, root, wl, cores: int) -> dict:
    spans = tr.subtree(root)
    out: dict = {}

    def dur(name):
        return sum(s.duration for s in spans if s.name == name)

    for prefix in CONSTRUCT_FNS.values():
        out[f"{prefix}.construct_s"] = dur(prefix)
    out["xml_io.customer_xml.construct_s"] = dur("xml_io.customer_xml")
    for sink in SINKS:
        for s in (s for s in spans if s.name == sink):
            out[f"{sink}.s"] = s.duration
            out[f"{sink}.driver_s"] = tr.driver_time(s)
            out[f"{sink}.tasks"] = tr.total(s, "tasks")
            out[f"{sink}.executor_run_s"] = tr.total(s, "executor_run_s")
    out["xml_io.read_manifest_document.execute_s"] = dur("xml_io.read_manifest_document.execute")
    for s in (s for s in spans if s.name == LOG):
        out[f"{LOG}.s"] = s.duration
        out[f"{LOG}.jobs"] = tr.total(s, "jobs")
        out[f"{LOG}.tasks"] = tr.total(s, "tasks")
    for run in (s for s in spans if s.name == "migrate_cli.run"):
        stages = [st for s in tr.subtree(run) for st in s.stages]
        read = sum(st.input_bytes for st in stages)
        out["migrate.input_read_amplification"] = read / (wl.xml_bytes + wl.csv_bytes)
        # the export is many times the mapping: a stage reading more
        # than twice the mapping's bytes is scanning the export
        out["migrate.xml_scan_tasks"] = sum(
            st.tasks for st in stages if st.input_bytes > 2 * wl.csv_bytes
        )
        out["migrate.core_busy_frac"] = sum(st.executor_run_s for st in stages) / (
            run.duration * cores
        )
    return out


def _analytics_pass_metrics(tr: Tracer, root, cores: int) -> dict:
    out: dict = {}
    tot = dict.fromkeys(
        ("construct_s", "execute_s", "construct_jobs", "jobs", "stages", "tasks",
         "single", "exec_run_execute", "shuffle", "spill", "input"),
        0.0,
    )
    for q in tr.children(root):
        _, mod, _key = q.name.split(":")
        cons = next(c for c in tr.children(q) if c.name == "construct")
        exe = next(c for c in tr.children(q) if c.name == "execute")
        m = mod.removeprefix("ops.")
        for k, v in (
            ("construct_s", cons.duration),
            ("construct_jobs", tr.total(cons, "jobs")),
            ("execute_s", exe.duration),
            ("tasks", tr.total(q, "tasks")),
            ("executor_run_s", tr.total(q, "executor_run_s")),
        ):
            out[f"ops.{m}.{k}"] = out.get(f"ops.{m}.{k}", 0) + v
        tot["construct_s"] += cons.duration
        tot["execute_s"] += exe.duration
        tot["construct_jobs"] += tr.total(cons, "jobs")
        tot["exec_run_execute"] += tr.total(exe, "executor_run_s")
        for k, c in (("jobs", "jobs"), ("stages", "stages"), ("tasks", "tasks"),
                     ("single", "single_task_stages"), ("shuffle", "shuffle_bytes"),
                     ("spill", "spill_bytes"), ("input", "input_bytes")):
            tot[k] += tr.total(q, c)
    mb = 1024.0 * 1024.0
    out.update(
        {
            "analytics.construct_s": tot["construct_s"],
            "analytics.execute_s": tot["execute_s"],
            "analytics.construct_jobs": tot["construct_jobs"],
            "analytics.jobs": tot["jobs"],
            "analytics.stages": tot["stages"],
            "analytics.tasks": tot["tasks"],
            "analytics.single_task_stage_frac": tot["single"] / max(1, tot["stages"]),
            "analytics.core_busy_frac": tot["exec_run_execute"] / (tot["execute_s"] * cores),
            "analytics.shuffle_mb": tot["shuffle"] / mb,
            "analytics.spill_mb": tot["spill"] / mb,
            "analytics.input_mb": tot["input"] / mb,
        }
    )
    return out


def _probes(wl, spark) -> dict:
    """Parse, rewrite and serialize timed apart with a noop sink: whole-
    stage codegen fuses them into one stage inside a real run. Each is
    the best of two, and each later step is reported minus the earlier."""
    from pro_etl_spark import migrate_cli, xml_io

    def parse():
        return migrate_cli.read_customers_xml(spark, wl.xml)

    def rewrite():
        mapping = migrate_cli.read_mapping_csv(spark, wl.csv)
        return migrate_cli.apply_migration(parse(), mapping, run_ts="1970-01-01T00:00:00+00:00")

    def serialize():
        return xml_io.customer_xml(rewrite())

    best = {}
    for name, build in (("parse", parse), ("rewrite", rewrite), ("serialize", serialize)):
        walls = []
        for _ in range(2):
            t = time.perf_counter()
            noop_sink(build())
            walls.append(time.perf_counter() - t)
        best[name] = min(walls)
    return {
        "probe.parse_s": best["parse"],
        "probe.rewrite_s": best["rewrite"] - best["parse"],
        "probe.serialize_s": best["serialize"] - best["rewrite"],
    }


def traced_run(wl, spark, seconds: float, cores: int, measure):
    """Untraced and traced passes, alternating, until ``seconds`` have
    passed and at least two of each ran (each run by ``measure``); then,
    on migrate, a traced pass in manifest mode and the layer probes.
    Alternating keeps the host's slow spells and the JIT's progress out
    of the tracing overhead. Returns (metrics, attempted, failed, errors,
    tracer)."""
    if wl.kind == "migrate":
        wl.warm_up(spark, scale=True, runs=1)  # so the manifest probe is not cold
    tr = Tracer(spark)
    untraced, walls, attempted, failed, errors = [], [], 0, 0, []

    def add(result):
        nonlocal attempted, failed, errors
        attempted, failed, errors = attempted + result[1], failed + result[2], errors + result[3]
        return result[0]

    t_end = time.perf_counter() + seconds
    while len(walls) < 2 or time.perf_counter() < t_end:
        untraced += add(measure(wl, spark, 0, min_passes=1))
        undo = install(tr)
        try:
            walls += add(measure(wl, spark, 0, tracer=tr, min_passes=1))
        finally:
            undo()
        if errors:
            break
    if wl.kind == "migrate":
        undo = install(tr)
        try:
            tr.run_id = "manifest"
            with tr.span("manifest_probe"):
                outcome = wl.run_once(spark, wl.xml, wl.csv, tr, scale=True)
        finally:
            undo()
        errs = wl.check(spark, outcome, scale=True)
        attempted, failed, errors = attempted + 1, failed + bool(errs), errors + errs
    tr.collect()
    values = {name: 0.0 for name, _u, _b in per_layer_metrics()}
    if wl.kind == "analytics":
        per_pass = [_analytics_pass_metrics(tr, root, cores) for root in tr.named("pass")]
    else:
        per_pass = [_migrate_pass_metrics(tr, root, wl, cores) for root in tr.named("pass")]
    for name in values:
        got = [p[name] for p in per_pass if name in p]
        if got:
            values[name] = statistics.median(got)
    if wl.kind == "analytics":
        key_times = list(wl.pass_key_times[0].values())
        values["analytics.query_p50_s"] = percentile(key_times, 50)
        values["analytics.query_p85_s"] = percentile(key_times, 85)
    else:
        probe = _migrate_pass_metrics(tr, tr.named("manifest_probe")[0], wl, cores)
        values.update(
            {k: v for k, v in probe.items()
             if k.startswith(("xml_io.write_xml_document_manifest.", "xml_io.read_manifest_document."))}
        )
        values.update(_probes(wl, spark))
    values["jvm.peak_rss_mb"] = jvm_peak_rss_mb(spark)
    values["trace.untraced_run_s"] = statistics.median(untraced)
    values["trace.run_s"] = statistics.median(walls)
    values["trace.overhead_s"] = values["trace.run_s"] - values["trace.untraced_run_s"]
    units = {name: unit for name, unit, _b in per_layer_metrics()}
    return {k: (v, units[k]) for k, v in values.items()}, attempted, failed, errors, tr
