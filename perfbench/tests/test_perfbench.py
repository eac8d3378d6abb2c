"""Tests of the benchmark's own arithmetic, output checks and tracer, plus a
tiny-size smoke run of each workload.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import copy
import os
import random
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
sys.path.insert(0, ROOT)

from measure import failed_frac, median, summarize  # noqa: E402
from tracing import LAYERS, Span, layer_metrics, self_time  # noqa: E402


def _span(sid, layer, start, end, parent=None, func="f", jobs=0, **extra):
    s = Span(sid, layer, func, 1, parent, start, end, jobs)
    s.extra.update(extra)
    return s


# ---------------------------------------------------------------- arithmetic

def test_self_time_subtracts_union_of_children():
    parent = _span(1, "api", 0.0, 10.0)
    kids = [_span(2, "x", 1.0, 3.0), _span(3, "x", 2.0, 5.0),
            _span(4, "x", 7.0, 8.0)]
    assert self_time(parent, kids) == pytest.approx(10.0 - 4.0 - 1.0)


def test_self_time_clips_children_and_handles_leaves():
    parent = _span(1, "api", 2.0, 6.0)
    assert self_time(parent, []) == pytest.approx(4.0)
    # a child reaching outside the parent only covers the overlap
    assert self_time(parent, [_span(2, "x", 0.0, 3.0)]) == pytest.approx(3.0)
    assert self_time(parent, [_span(2, "x", 0.0, 9.0)]) == pytest.approx(0.0)


def test_layer_metrics_busy_calls_jobs_errors():
    api = _span(1, "api", 0.0, 10.0, func="anonymize_flat_json", jobs=1)
    eng = _span(2, "anonymize.engine", 1.0, 9.0, parent=1, jobs=4,
                rows_out=7)
    kpi = _span(3, "anonymize.kpi", 5.0, 8.0, parent=2, jobs=10,
                mode="pairs")
    bad = _span(4, "ingest", 0.2, 0.8, parent=1, rows_out=3)
    bad.error = "ValueError: x"
    out, busy = layer_metrics([bad, kpi, eng, api], traced_wall=20.0)
    assert busy["api"] == pytest.approx(10.0 - 8.0 - 0.6)
    assert busy["anonymize.engine"] == pytest.approx(8.0 - 3.0)
    assert out["anonymize.engine.busy_frac"] == pytest.approx(5.0 / 20.0)
    assert out["anonymize.kpi.calls"] == 1
    assert out["anonymize.kpi.spark_jobs"] == 10
    assert out["ingest.errors"] == 1 and out["api.errors"] == 0
    assert out["anonymize.kpi.mode_pairs"] == 1
    assert out["anonymize.kpi.mode_grid"] == 0
    # jobs per request / per call count the whole subtree
    assert out["api.spark_jobs_per_request"] == 15
    assert out["api.flat.spark_jobs_per_request"] == 15
    assert out["api.jsonld.spark_jobs_per_request"] == 0
    assert out["anonymize.engine.spark_jobs_per_call"] == 14
    assert out["ingest.triples_out"] == 3
    # every layer is reported, untouched ones as zero
    for layer in LAYERS:
        assert f"{layer}.busy_frac" in out
    assert out["kg.lsh.calls"] == 0


def test_median_and_sample_count():
    assert median([3.0, 1.0, 2.0]) == 2.0
    assert median([4.0, 1.0, 3.0, 2.0]) == 2.5
    assert summarize([5.0, 1.0, 3.0]) == {"p50": 3.0, "n": 3}
    with pytest.raises(ValueError):
        median([])


def test_failed_frac():
    assert failed_frac(0, 5) == 0.0
    assert failed_frac(2, 4) == 0.5
    assert failed_frac(3, 3) == 1.0
    with pytest.raises(ValueError):
        failed_frac(0, 0)
    with pytest.raises(ValueError):
        failed_frac(4, 3)


# ---------------------------------------------------------------- checks

def test_check_person_flags_each_violation():
    pytest.importorskip("pyspark")
    from workloads import _column_ranges, check_person, make_persons

    persons = make_persons(random.Random(3), 30)
    p = next(q for q in persons if "name" in q)
    ranges = _column_ranges(persons)
    good = {
        "name_masked": "*****",
        "latitude_generalized": {"min": "46", "max": "55"},
        "longitude_randomized": str(p["longitude"]),
        "start_pv_generalized": {"min": "a", "max": "b"},
        "geburtsdatum_randomized": p["geburtsdatum"],
        "gehalt_generalized": {"min": "1", "max": "2"},
        "adresse_generalized": "AT",
    }
    key = lambda a: a  # noqa: E731
    assert check_person(p, good, ranges, key) == []

    def broken(**change):
        row = copy.deepcopy(good)
        for k, v in change.items():
            if v is None:
                row.pop(k)
            else:
                row[k] = v
        return check_person(p, row, ranges, key)

    assert broken(name_masked="Anna")  # not the mask
    assert broken(name="Anna")  # original remains
    assert broken(gehalt_generalized=None)  # missing
    assert broken(longitude_randomized="99.0")  # outside [min, max]
    assert broken(geburtsdatum_randomized="1900-01-01")
    assert broken(adresse_generalized=["AT", "DE"])  # more than one value
    # an absent input value must not produce an anonymized value
    nameless = {k: v for k, v in p.items() if k != "name"}
    assert check_person(nameless, good, ranges, key)


# ---------------------------------------------------------------- Spark

@pytest.fixture(scope="module")
def spark():
    pytest.importorskip("pyspark")
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        yield active
        return
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    from run import SESSION_CONF, stop_session

    b = SparkSession.builder.appName("perfbench-tests")
    for k, v in SESSION_CONF.items():
        b = b.config(k, v)
    s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    yield s
    # end the JVM too: a later session in this process must be able to
    # launch its own with its own driver settings
    stop_session(s)


@pytest.fixture
def tiny(monkeypatch):
    import workloads

    monkeypatch.setattr(workloads, "KG_DOCS", 120)
    monkeypatch.setattr(workloads, "REQUEST_ROWS", 12)
    monkeypatch.setattr(workloads, "FLAT_REQUESTS", 1)
    return workloads


def test_write_docs_matches_synth_docs(spark, tmp_path):
    from workloads import write_docs

    from kgforge.kg.synth import synth_docs

    path = str(tmp_path / "docs")
    write_docs(path, 57, seed=11, files=3)
    got = spark.read.parquet(path)
    want = synth_docs(spark, 57, seed=11)
    assert got.schema.simpleString() == want.schema.simpleString()
    assert sorted(got.collect()) == sorted(want.collect())
    assert got.rdd.getNumPartitions() == 3


def test_kg_build_smoke_and_trace(spark, tiny, tmp_path):
    from tracing import Tracer

    import kgforge.kg.pipeline as pipeline

    cache = str(tmp_path / "cache")
    wl = tiny.KgBuild(spark, 5, tiny.KgBuild.prepare(5, cache), str(tmp_path / "w"))
    assert wl.warmup() is None
    assert wl.operation(1).check() == []
    orig = pipeline.build_kg
    tracer = Tracer(spark)
    tracer.install()
    tracer.op_id = 2
    try:
        res = wl.operation(2)
        with tracer.suspended():
            failures = res.check()
    finally:
        tracer.uninstall()
        tracer.release()
    assert pipeline.build_kg is orig  # uninstall restores the originals
    assert failures == []  # includes: same triple count as operation 1
    assert res.units == wl.expected_triples > 0
    out, _ = layer_metrics(tracer.spans, res.seconds)
    assert out["kg.pipeline.calls"] == 1
    assert out["kg.pipeline.triples_out"] == res.units
    assert out["kg.io.rows"] == res.units
    assert out["kg.io.bytes_written"] > 0
    assert out["kg.synth.calls"] == 1  # the check's own call is not traced
    assert out["kg.synth.rows_out"] > 0
    assert out["kg.mentions.rows_in"] == out["kg.synth.rows_out"]
    # small vocabulary: driver union-find, never LSH
    assert out["kg.lsh.calls"] == 0
    assert out["kg.components.calls"] == 1
    assert out["kg.components.components"] > 0
    assert out["kg.pipeline.spark_jobs"] > 0
    assert all(s.op_id == 2 for s in tracer.spans)

    # a graph without spanCount triples, or of another size, fails
    assert wl.check(spark.read.parquet(wl.docs_path),
                    _empty_graph(spark, tmp_path), 0)


def _empty_graph(spark, tmp_path):
    from kgforge.triples import empty_triples

    path = str(tmp_path / "empty")
    empty_triples(spark).write.parquet(path)
    return path


def test_anon_requests_smoke_and_trace(spark, tiny, tmp_path):
    from tracing import Tracer

    cache = str(tmp_path / "cache")
    wl = tiny.AnonRequests(spark, 5, tiny.AnonRequests.prepare(5, cache),
                           str(tmp_path / "w"))
    tracer = Tracer(spark)
    try:
        tracer.install()
        warm = wl.warmup()
        tracer.op_id = 1
        res = wl.operation(1)
    finally:
        tracer.uninstall()
        tracer.release()
        wl.close()
    assert warm.check() == [] and res.check() == []
    assert set(warm.parts) == {"jsonld"} and set(res.parts) == {"flat"}
    assert res.units == 12
    out, _ = layer_metrics(tracer.spans, warm.seconds + res.seconds)
    assert out["api.calls"] == 2
    assert out["anonymize.engine.calls"] == 2
    assert out["anonymize.kpi.mode_pairs"] == 2  # request size: pairs path
    assert out["anonymize.flat_output.calls"] == 1
    assert out["jsonld_out.calls"] == 1
    assert out["ingest.calls"] == 2
    assert out["rank.calls"] > 0 and out["anonymize.ops.calls"] > 0
    assert out["api.flat.spark_jobs_per_request"] > 0
    assert out["api.jsonld.spark_jobs_per_request"] > 0
    assert out["kg.pipeline.calls"] == 0
    assert {s.op_id for s in tracer.spans} == {None, 1}


def test_anon_checks_reject_bad_responses(spark, tiny, tmp_path):
    import kgforge.api as api

    cache = str(tmp_path / "cache")
    wl = tiny.AnonRequests(spark, 6, tiny.AnonRequests.prepare(6, cache),
                           str(tmp_path / "w"))
    try:
        persons, req = wl.flat[0]["persons"], wl.flat[0]["request"]
        resp = api.anonymize_flat_json(spark, req)
        k = wl.tap.last.k_anonymity[tiny.DEMO_TYPE]
        ld_persons = wl.jsonld["persons"]
        doc = api.anonymize_jsonld_response(spark, wl.jsonld["request"])
        ld_k = wl.tap.last.k_anonymity[tiny.DEMO_TYPE]
    finally:
        wl.close()
    assert wl.check_flat(persons, resp, k) == []
    short = dict(resp, data=resp["data"][:-1])
    assert wl.check_flat(persons, short, k)
    assert wl.check_flat(persons, resp, k + 1)  # k differs from the report
    leaked = copy.deepcopy(resp)
    leaked["data"][0]["gehalt"] = "1"
    assert wl.check_flat(persons, leaked, k)

    assert wl.check_jsonld(ld_persons, doc, ld_k) == []
    assert wl.check_jsonld(ld_persons[:-1] + ld_persons, doc, ld_k)
    unmasked = copy.deepcopy(doc)
    node = next(n for n in unmasked["@graph"] if "demo:name_masked" in n)
    node["demo:name_masked"] = "Anna"
    assert wl.check_jsonld(ld_persons, unmasked, ld_k)
