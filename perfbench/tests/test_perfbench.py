"""Self-tests of the benchmark.

    python3 -m pytest perfbench/tests -q

They cover the input generator's determinism, the generator's expected
outcome against a real ``migrate_cli.run`` at a tiny size, the metric
names and units against ``BENCHMARK.json``, and the span tree of a
traced run.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

BENCH_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH_DIR)
sys.path[:0] = [BENCH_DIR, ROOT]

import enfinity_gen  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    BENCHMARK = json.load(_f)


def test_generator_is_deterministic():
    a = enfinity_gen.generate(300, 0.9, 5)
    b = enfinity_gen.generate(300, 0.9, 5)
    c = enfinity_gen.generate(300, 0.9, 6)
    assert enfinity_gen.export_xml(a.customers) == enfinity_gen.export_xml(b.customers)
    assert enfinity_gen.mapping_csv(a.mapping) == enfinity_gen.mapping_csv(b.mapping)
    assert a.expected == b.expected
    assert enfinity_gen.mapping_csv(a.mapping) != enfinity_gen.mapping_csv(c.mapping)


def test_generator_covers_fixture_edge_cases():
    g = enfinity_gen.generate(2000, 0.9, 1)
    rows = g.mapping
    ids = [r.cur for r in rows]
    assert len(ids) > len(set(ids))  # a duplicate key
    known = {c.cid for c in g.customers}
    assert any(i not in known and not i.isascii() for i in ids)  # non-ASCII not-found id
    assert any(r.delivery == "" for r in rows)
    assert any(r.delivery in enfinity_gen._INVALID_DAYS for r in rows)
    assert any(r.mandatory == "" for r in rows)
    assert any(r.mandatory.lower() == "false" for r in rows)
    users = [u for c in g.customers for u in c.users]
    assert any(u.login == u.default_customer for u in users)  # login == old id
    assert any(len(c.users) == 2 for c in g.customers)
    xml = enfinity_gen.export_xml(g.customers)
    assert "&amp;" in xml and "&lt;" in xml and '"' in xml.split("<custom-attribute")[2]
    csv = enfinity_gen.mapping_csv(rows)
    assert "&" in csv and "<" in csv


def test_end_to_end_metrics_match_benchmark_json():
    got = run.end_to_end_metrics(1.0, 2.0, 10)
    want = {m["name"]: m["unit"] for m in BENCHMARK["end_to_end"]}
    assert {k: u for k, (_v, u) in got.items()} == want
    assert all(v > 0 for v, _u in got.values())


def test_per_layer_metrics_match_benchmark_json():
    names = layers.per_layer_metrics()
    want = [(m["name"], m["unit"], m["better"]) for m in BENCHMARK["per_layer"]]
    assert names == want
    assert len({n for n, _u, _b in names}) == len(names)


def test_benchmark_json_lists_every_workload():
    assert [w["name"] for w in BENCHMARK["workloads"]] == list(run.WORKLOADS)


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    work = str(tmp_path_factory.mktemp("work"))
    run._spark_env(work)
    s = run.start_spark()
    yield s
    run.stop_spark(s)


@pytest.mark.parametrize("scale", [False, True])
def test_expected_outcome_matches_migrate_run(spark, tmp_path, scale):
    wl = run.MigrateWorkload(3, str(tmp_path), n=400)
    outcome = wl.run_once(spark, wl.xml, wl.csv, scale=scale)
    out = outcome[0]
    assert (int(out["found"]), int(out["total"])) == (wl.gen.expected.found, wl.gen.expected.total)
    assert wl.check(spark, outcome, scale=scale) == []


def test_check_catches_a_wrong_record(spark, tmp_path):
    wl = run.MigrateWorkload(4, str(tmp_path), n=200)
    _wall, outcome = wl.run_pass(spark)
    with open(outcome[0]["xml"], encoding="utf-8") as f:
        doc = f.read()
    with open(outcome[0]["xml"], "w", encoding="utf-8") as f:
        f.write(doc.replace("<login>", "<login>x", 1))
    assert wl.check(spark, outcome) == ["delta record digest differs"]


def test_traced_run_metrics_and_span_tree(spark, tmp_path):
    wl = run.MigrateWorkload(11, str(tmp_path), n=400)
    metrics, attempted, failed, errors, tr = layers.traced_run(wl, spark, 0, run.CORES, run.measure)
    # two untraced and two traced passes, one manifest probe
    assert errors == [] and failed == 0 and attempted == 5
    want = {m["name"]: m["unit"] for m in BENCHMARK["per_layer"]}
    assert {k: u for k, (_v, u) in metrics.items()} == want
    assert metrics["xml_io.write_xml_document_manifest.tasks"][0] >= 1
    assert metrics["migrate.xml_scan_tasks"][0] >= 1
    assert metrics["migrate_cli.log_and_summary.jobs"][0] >= 1
    assert metrics["xml_io.read_manifest_document.execute_s"][0] > 0
    eps = 1e-3  # span clocks are read with time.time()
    names = {s.name for s in tr.spans}
    assert metrics["xml_io.write_xml_document.tasks"][0] >= 1
    assert {"pass", "migrate_cli.run", "xml_io.write_xml_document_manifest",
            "migrate_cli.log_and_summary", "ops.migration.apply_migration"} <= names
    for s in tr.spans:
        assert s.end is not None and s.end >= s.start
        assert tr.self_time(s) >= -eps
        if s.parent is not None:
            assert s.parent.start - eps <= s.start and s.end <= s.parent.end + eps
    run_span = tr.named("migrate_cli.run")[0]
    # a parent's jobs are its own group's plus its children's
    assert tr.total(run_span, "jobs") == run_span.counters["jobs"] + sum(
        tr.total(c, "jobs") for c in tr.children(run_span)
    )
