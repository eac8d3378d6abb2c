"""Per-type batched anonymization: the multi-spec operators equal their
single-spec calls, a flat request stays inside its Spark-job budget and
leaves nothing persisted, and the DataFrame flat codec runs under ANSI."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from kgforge.anonymize.ops import generalize, randomize
from kgforge.config import DEMO2_PREFIX, DEMO_PREFIX

DEMO_URL = "https://soya.ownyourdata.eu/AnonymisationDemo"
DEMO2_URL = "https://soya.ownyourdata.eu/AnonymisationDemo2"


def _persons(n: int, seed: int) -> list[dict]:
    rng = random.Random(seed)
    places = [("Wien", "Wien", "AT"), ("Graz", "Steiermark", "AT"),
              ("Berlin", "Berlin", "DE"), ("Zuerich", "Zuerich", "CH")]
    out = []
    for i in range(n):
        city, state, country = rng.choice(places)
        out.append({
            "name": f"P{i:03d}",
            "latitude": rng.randint(46, 55),
            "longitude": round(rng.uniform(9.5, 17.2), 5),
            "start_pv": f"20{rng.randint(12, 24)}-0{rng.randint(1, 9)}-1{rng.randint(0, 9)}",
            "geburtsdatum": f"19{rng.randint(45, 99)}-0{rng.randint(1, 9)}-2{rng.randint(0, 8)}",
            "gehalt": rng.randint(22, 120) * 1000,
            "adresse": {"city": city, "state": state, "country": country},
        })
    return out


def _demo_request(persons: list[dict], seed: int) -> dict:
    return {
        "configurationUrl": DEMO_URL,
        "prefix": DEMO_PREFIX,
        "data": [{"type": "AnonymisationDemo", **p} for p in persons],
        "randomSeed": seed,
    }


def _jobs_of(spark, group: str, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        result = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return result, len(sc.statusTracker().getJobIdsForGroup(group))


def test_flat_demo_request_job_budget(spark):
    """Each object type runs a few batched passes, not several per
    attribute: a flat Demo request (7 attributes, KPI on) stays within 90
    Spark jobs (163 when every attribute ran its own passes)."""
    from kgforge.api import anonymize_flat_json

    req = _demo_request(_persons(60, 1), 42)
    anonymize_flat_json(spark, req)  # compile once, like a warm service
    resp, jobs = _jobs_of(spark, "kgforge-test-flat-jobs",
                          lambda: anonymize_flat_json(spark, req))
    assert len(resp["data"]) == 60
    assert jobs <= 90, jobs


def test_two_type_request_leaves_nothing_persisted(spark):
    from kgforge.api import anonymize_flat_json

    rng = random.Random(5)
    data = []
    for i in range(40):
        if i % 2:
            data.append({"type": "Object1", "name": f"p{i}",
                         "gehalt": rng.randint(1, 9) * 1000,
                         "geburtsdatum": f"19{rng.randint(50, 99)}-0{rng.randint(1, 9)}-15"})
        else:
            data.append({"type": "Object2", "latitude": round(rng.uniform(40, 50), 3),
                         "longitude": round(rng.uniform(5, 15), 3)})
    req = {"configurationUrl": DEMO2_URL, "prefix": DEMO2_PREFIX,
           "data": data, "randomSeed": 5}
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keys())
    resp = anonymize_flat_json(spark, req)
    after = set(jsc.getPersistentRDDs().keys())
    assert set(resp["kpis"]) == {"kpiObject1", "kpiObject2"}
    assert after - before == set()


def _mixed_column(spark):
    """Three attributes with ties: integer, date and double values, rows
    interleaved, a shared counter as tie order."""
    rng = random.Random(9)
    rows, tie = [], 0
    for i in range(45):
        for attr, value in (
            ("ai", str(rng.randint(1, 6))),
            ("ad", f"2020-0{rng.randint(1, 3)}-1{rng.randint(0, 2)}"),
            ("af", str(rng.choice([0.5, 1.25, 2.0, 7.75]))),
        ):
            if attr == "af" and i % 9 == 0:
                continue  # attributes of different sizes
            rows.append((f"s{i:02d}", attr, value, tie))
            tie += 1
    rng.shuffle(rows)
    return spark.createDataFrame(rows, "subj string, pred string, obj_value string, _tie long")


def test_multi_spec_operators_equal_single_spec_calls(spark):
    from kgforge.anonymize.buckets import calculate_number_of_buckets

    df = _mixed_column(spark)
    counts = {r["pred"]: r["count"] for r in df.groupBy("pred").count().collect()}
    specs = [(a, dt, calculate_number_of_buckets(counts[a], 3), counts[a])
             for a, dt in (("ai", "integer"), ("ad", "date"), ("af", "double"))]

    def triples(out):
        return sorted(tuple(r) for r in out.select(
            "subj", "pred", "obj_value", "obj_dtype", "obj_is_iri").collect())

    tie = F.col("_tie")
    single_g, single_r = [], []
    for spec in specs:
        col = df.filter(F.col("pred") == spec[0]).drop("pred")
        single_g += triples(generalize(col, [spec], tie))
        single_r += triples(randomize(col, [spec], 1234, tie))
    assert triples(generalize(df, specs, tie)) == sorted(single_g)
    assert triples(randomize(df, specs, 1234, tie)) == sorted(single_r)
    # every attribute's buckets are numbered from 0 on its own rank
    assigned = {r["obj_value"] for r in generalize(df, specs, tie)
                .filter(F.col("pred").endswith("_generalized")).collect()}
    assert {"ai_0", "ad_0", "af_0"} <= assigned


def test_flat_df_codec_under_ansi_matches_driver_codec(spark):
    """Under Spark's default ANSI mode the DataFrame flat codec feeds the
    engine like the driver codec: same response, no CAST_INVALID_INPUT on
    the counter cast over other predicates' IRI values."""
    from kgforge.anonymize.engine import anonymize_triples
    from kgforge.anonymize.flat_output import flat_json_output
    from kgforge.config import ANONYMISATION_DEMO
    from kgforge.ingest import flat_df_to_triples, flat_rows_to_triples

    assert spark.conf.get("spark.sql.ansi.enabled") == "true"
    rows = [{"type": "AnonymisationDemo", **{k: v for k, v in p.items() if k != "adresse"}}
            for p in _persons(30, 3)]
    rows[4]["gehalt"] = "not-a-number"  # malformed value: parses to NULL
    cols = ["type", "name", "latitude", "longitude", "start_pv", "geburtsdatum", "gehalt"]
    df = spark.createDataFrame(
        [tuple(str(r[c]) for c in cols) for r in rows],
        ", ".join(f"{c} string" for c in cols),
    )

    def respond(triples):
        out, report = anonymize_triples(
            triples, ANONYMISATION_DEMO, random_seed=7,
            order_pred=DEMO_PREFIX + "counter",
        )
        return flat_json_output(out, ANONYMISATION_DEMO, DEMO_PREFIX), report

    got, got_report = respond(flat_df_to_triples(df, DEMO_PREFIX))
    want, want_report = respond(flat_rows_to_triples(
        spark, [{k: str(v) for k, v in r.items()} for r in rows], DEMO_PREFIX))
    assert got == want
    assert got_report.k_anonymity == want_report.k_anonymity
    assert len(got["data"]) == 30
