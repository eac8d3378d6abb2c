"""The benchmark's workloads: seeded input generators, the timed operation
that drives kgforge's public API, and the output checks run on every
operation.

Each workload generates its inputs from the run seed into a cache directory
keyed by (workload, seed, size), so the program only ever sees generated
files.  ``operation(i)`` times the program calls alone and returns, with
the timing, a ``check`` that inspects their outputs; the runner calls it
outside the timed (and traced) region, and any message it returns counts
the operation as failed.
"""

from __future__ import annotations

import datetime as _dt
import json
import os
import random
import shutil
import time
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import functions as F

import kgforge.api as api
import kgforge.kg.io as kgio
import kgforge.kg.pipeline as pipeline
from kgforge.anonymize.kpi import K_ANONYMITY, KPI_OBJECT_URI
from kgforge.anonymize.ops import MASK
from kgforge.config import ANONYMISATION_DEMO, DEMO_PREFIX
from kgforge.kg.synth import make_spans
from kgforge.kg.vocab import KG
from kgforge.triples import local_name

# sizes (fixed per workload; the seed varies content only)
KG_DOCS = 10_000
REQUEST_ROWS = 200
FLAT_REQUESTS = 2  # timed operations cycle over these

DEMO_URL = "https://soya.ownyourdata.eu/AnonymisationDemo"
DEMO_TYPE = DEMO_PREFIX + "AnonymisationDemo"
XSD = "http://www.w3.org/2001/XMLSchema#"
SUFFIX = {"masking": "_masked", "generalization": "_generalized",
          "randomization": "_randomized"}


@dataclass
class OpResult:
    units: int  # triples committed, or persons anonymized
    seconds: float  # wall time of the program calls only
    check: Callable[[], list[str]]  # output checks; messages mean failure
    parts: dict[str, float] = field(default_factory=dict)  # per-request s


def cached(cache_root: str, key: str, make) -> str:
    """Directory holding the inputs for ``key``; ``make(tmp_dir)`` fills it
    on a miss.  The rename publishes a complete directory or nothing."""
    final = os.path.join(cache_root, key)
    if os.path.isdir(final):
        return final
    tmp = f"{final}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    make(tmp)
    try:
        os.rename(tmp, final)
    except OSError:  # another run published the same key first
        shutil.rmtree(tmp, ignore_errors=True)
    return final


# ---------------------------------------------------------------- kg_build

def write_docs(path: str, n_docs: int, seed: int, files: int = 4) -> None:
    """The ``synth_docs(spark, n_docs, seed)`` corpus, row for row, built
    with the same ``make_spans`` stream in this process and written as
    ``files`` parquet files (the parallelism Spark's writer gives it at
    local[4]).  Needing no Spark, it runs in its own process while the JVM
    starts."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    span_t = pa.struct([
        pa.field("kind", pa.string(), False),
        pa.field("text", pa.string(), False),
        pa.field("media_ref", pa.string(), False),
        pa.field("offset", pa.int32(), False),
    ])
    schema = pa.schema([
        pa.field("doc_id", pa.string(), False),
        pa.field("spans", pa.list_(pa.field("element", span_t, False)), False),
    ])
    os.makedirs(path)
    bounds = [n_docs * k // files for k in range(files + 1)]
    for k in range(files):
        ids = range(bounds[k], bounds[k + 1])
        table = pa.table({
            "doc_id": [f"doc_{i:012d}" for i in ids],
            "spans": [make_spans(seed, i) for i in ids],
        }, schema=schema)
        pq.write_table(table, os.path.join(path, f"part-{k:05d}.parquet"))


class KgBuild:
    """read docs → ``build_kg`` (defaults: pandas mentions, sql linking,
    driver canonicalization) → ``write_graph``, on a seeded ``synth_docs``
    corpus."""

    name = "kg_build"

    @staticmethod
    def prepare(seed: int, cache_root: str) -> str:
        """Path of the seeded corpus, generated on a cache miss."""
        def make(tmp):
            write_docs(os.path.join(tmp, "docs.parquet"), KG_DOCS, seed)

        key = f"kg_build-seed{seed}-docs{KG_DOCS}"
        return os.path.join(cached(cache_root, key, make), "docs.parquet")

    def __init__(self, spark, seed: int, inputs: str, work_dir: str):
        self.spark, self.seed = spark, seed
        self.work_dir = work_dir
        self.docs_path = inputs
        self.expected_triples: int | None = None

    def warmup(self) -> None:
        """None: a KG build is a batch job that pays JIT and code generation
        once per Spark application, so the timed build runs cold."""
        return None

    def operation(self, i: int) -> OpResult:
        out = os.path.join(self.work_dir, f"graph-{i}")
        t0 = time.perf_counter()
        docs = self.spark.read.parquet(self.docs_path)
        triples, _ = pipeline.build_kg(docs, collect_metrics=False)
        snap = kgio.write_graph(triples, out, stage="kg_build",
                                fingerprint=f"seed{self.seed}")
        seconds = time.perf_counter() - t0
        rows = int(snap["rows"])

        def check():
            try:
                return self.check(docs, out, rows)
            finally:
                shutil.rmtree(out, ignore_errors=True)

        return OpResult(rows, seconds, check)

    def check(self, docs, out: str, rows: int) -> list[str]:
        failures = []
        bad = pipeline.span_sequence_check(docs)
        if bad:
            failures.append(f"span_sequence_check: {bad} violating docs")
        span_count = KG + "spanCount"
        g = self.spark.read.parquet(out).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum((F.col("pred") == span_count).cast("long")).alias("n_sc"),
            F.countDistinct(
                F.when(F.col("pred") == span_count, F.col("subj"))
            ).alias("n_sc_subj"),
        ).collect()[0]
        if g["n"] != rows:
            failures.append(f"graph holds {g['n']} triples, snapshot says {rows}")
        if not g["n_sc"] == g["n_sc_subj"] == KG_DOCS:
            failures.append(
                f"spanCount: {g['n_sc']} triples over {g['n_sc_subj']} docs,"
                f" want exactly one per each of {KG_DOCS} docs")
        if self.expected_triples is None:
            self.expected_triples = rows
        elif rows != self.expected_triples:
            failures.append(
                f"triple count {rows} differs from {self.expected_triples}"
                " in an earlier operation of this run")
        return failures

    def close(self) -> None:
        pass


# ---------------------------------------------------------------- anon_requests

_PLACES = [  # (city, state, country), sampled with skew
    ("Wien", "Wien", "AT"), ("Graz", "Steiermark", "AT"),
    ("Linz", "Oberoesterreich", "AT"), ("Salzburg", "Salzburg", "AT"),
    ("Innsbruck", "Tirol", "AT"), ("Berlin", "Berlin", "DE"),
    ("Hamburg", "Hamburg", "DE"), ("Muenchen", "Bayern", "DE"),
    ("Nuernberg", "Bayern", "DE"), ("Zuerich", "Zuerich", "CH"),
]
_PLACE_WEIGHTS = [30, 12, 9, 6, 5, 14, 8, 8, 4, 4]
# Only the masked attribute is ever absent: a record whose generalized or
# randomized value is absent forms its own null-pattern group, where a
# k-anonymity of 0 is the correct KPI and the k >= 1 check would not hold.
_MISSING = 0.03  # share of persons without a name


def _date(rng: random.Random, y0: int, y1: int) -> str:
    start = _dt.date(y0, 1, 1).toordinal()
    end = _dt.date(y1, 12, 31).toordinal()
    return _dt.date.fromordinal(rng.randint(start, end)).isoformat()


def make_persons(rng: random.Random, n: int) -> list[dict]:
    """Persons in the Demo configuration's shape; ``name`` is absent with
    probability ``_MISSING``."""
    people = []
    for i in range(n):
        city, state, country = rng.choices(_PLACES, _PLACE_WEIGHTS)[0]
        p = {
            "name": f"{rng.choice('ABCDEFGHJKLMNPRSTW')}. Person{i:04d}",
            "latitude": rng.randint(46, 55),
            "longitude": round(rng.uniform(9.5, 17.2), 5),
            "start_pv": _date(rng, 2012, 2024),
            "geburtsdatum": _date(rng, 1945, 2004),
            "gehalt": rng.randint(22, 120) * 1000 + rng.randint(0, 999),
            "adresse": {"city": city, "state": state, "country": country},
        }
        if rng.random() < _MISSING:
            del p["name"]
        people.append(p)
    return people


def flat_request(persons: list[dict], seed: int) -> dict:
    return {
        "configurationUrl": DEMO_URL,
        "prefix": DEMO_PREFIX,
        "data": [{"type": "AnonymisationDemo", **p} for p in persons],
        "randomSeed": seed,
    }


_LD_TYPES = {"latitude": "integer", "gehalt": "integer",
             "longitude": "double", "start_pv": "date",
             "geburtsdatum": "date"}


def jsonld_request(persons: list[dict], seed: int) -> dict:
    graph = []
    for i, p in enumerate(persons):
        node = {"@id": f"demo:person{i}", "@type": "demo:AnonymisationDemo"}
        for k, v in p.items():
            if k == "adresse":
                node["demo:adresse"] = {
                    "@id": f"demo:address{i}",
                    **{f"demo:{kk}": vv for kk, vv in v.items()},
                }
            elif k in _LD_TYPES:
                node[f"demo:{k}"] = {"@value": str(v),
                                     "@type": f"xsd:{_LD_TYPES[k]}"}
            else:
                node[f"demo:{k}"] = v
        graph.append(node)
    return {
        "configurationUrl": DEMO_URL,
        "data": {"@context": {"demo": DEMO_PREFIX, "xsd": XSD},
                 "@graph": graph},
        "randomSeed": seed,
    }


def _as_number(attr: str, value: str):
    # dates compare as ISO strings; numbers as floats
    return value if attr in ("start_pv", "geburtsdatum") else float(value)


def _column_ranges(persons: list[dict]) -> dict[str, tuple]:
    out = {}
    for attr, cfg in _demo_attrs().items():
        if cfg.strategy != "randomization":
            continue
        vals = [_as_number(attr, str(p[attr])) for p in persons if attr in p]
        out[attr] = (min(vals), max(vals))
    return out


def _demo_attrs() -> dict:
    return {local_name(a): c for a, c in ANONYMISATION_DEMO[DEMO_TYPE].items()}


def check_person(attrs_in: dict, attrs_out: dict, ranges: dict,
                 key) -> list[str]:
    """One anonymized person against its input: each non-null configured
    value has exactly one suffixed value, no original configured value
    remains, masked values are the mask, randomized values lie within the
    input column's [min, max].  ``key(attr)`` maps a local name to the
    response's key; list values count as more than one."""
    failures = []
    for attr, cfg in _demo_attrs().items():
        out_key = key(attr + SUFFIX[cfg.strategy])
        present = attr in attrs_in
        got = attrs_out.get(out_key)
        if key(attr) in attrs_out:
            failures.append(f"original {attr} remains")
        if present != (got is not None):
            failures.append(f"{out_key}: present={got is not None}, input"
                            f" value present={present}")
            continue
        if got is None:
            continue
        if isinstance(got, list):
            failures.append(f"{out_key}: {len(got)} values, want one")
            continue
        if isinstance(got, dict) and "@value" in got:
            got = got["@value"]
        if cfg.strategy == "masking" and got != MASK:
            failures.append(f"{out_key}={got!r}, want the mask")
        if cfg.strategy == "randomization":
            lo, hi = ranges[attr]
            if not lo <= _as_number(attr, got) <= hi:
                failures.append(f"{out_key}={got} outside [{lo}, {hi}]")
    return failures


class ReportTap:
    """Keeps the ``AnonymizationReport`` of the last ``anonymize_triples``
    call the API made, so the response's k can be checked against it.  The
    API resolves ``anonymize_triples`` on its module at call time."""

    def __init__(self):
        self.last = None
        self._orig = api.anonymize_triples

        def tap(*args, **kwargs):
            out, report = self._orig(*args, **kwargs)
            self.last = report
            return out, report

        api.anonymize_triples = tap

    def close(self) -> None:
        api.anonymize_triples = self._orig


class AnonRequests:
    """One closed-loop client of the two request endpoints under the Demo
    configuration, every request carrying ``REQUEST_ROWS`` persons and a
    seeded ``randomSeed``.  The warm-up is a JSON-LD request; the timed
    operation is a flat-JSON request (the heavier endpoint, and the one with
    its own output layer)."""

    name = "anon_requests"

    @staticmethod
    def prepare(seed: int, cache_root: str) -> str:
        """Path of the seeded requests, generated on a cache miss."""
        def make(tmp):
            rng = random.Random(seed)

            def one(make_request):
                persons = make_persons(rng, REQUEST_ROWS)
                return {"persons": persons,
                        "request": make_request(persons, rng.randrange(1, 2**31))}

            reqs = {"jsonld": one(jsonld_request),
                    "flat": [one(flat_request) for _ in range(FLAT_REQUESTS)]}
            with open(os.path.join(tmp, "requests.json"), "w") as f:
                json.dump(reqs, f)

        key = f"anon_requests-seed{seed}-rows{REQUEST_ROWS}x{FLAT_REQUESTS}"
        return os.path.join(cached(cache_root, key, make), "requests.json")

    def __init__(self, spark, seed: int, inputs: str, work_dir: str):
        self.spark, self.seed = spark, seed
        with open(inputs) as f:
            reqs = json.load(f)
        self.jsonld, self.flat = reqs["jsonld"], reqs["flat"]
        self.tap = ReportTap()

    def warmup(self) -> OpResult:
        t0 = time.perf_counter()
        doc = api.anonymize_jsonld_response(self.spark, self.jsonld["request"])
        seconds = time.perf_counter() - t0
        k = self.tap.last.k_anonymity.get(DEMO_TYPE)
        return OpResult(
            REQUEST_ROWS, seconds,
            lambda: self.check_jsonld(self.jsonld["persons"], doc, k),
            {"jsonld": seconds})

    def operation(self, i: int) -> OpResult:
        req = self.flat[(i - 1) % len(self.flat)]
        t0 = time.perf_counter()
        resp = api.anonymize_flat_json(self.spark, req["request"])
        seconds = time.perf_counter() - t0
        k = self.tap.last.k_anonymity.get(DEMO_TYPE)
        return OpResult(
            REQUEST_ROWS, seconds,
            lambda: self.check_flat(req["persons"], resp, k),
            {"flat": seconds})

    def check_flat(self, persons: list[dict], resp: dict, k) -> list[str]:
        data = resp["data"]
        if len(data) != len(persons):
            return [f"data has {len(data)} rows, request had {len(persons)}"]
        ranges = _column_ranges(persons)
        failures = []
        for i, (p, row) in enumerate(zip(persons, data)):
            failures += [f"row {i}: {m}" for m in
                         check_person(p, row, ranges, lambda a: a)]
        kpi = resp["kpis"].get("kpi" + local_name(DEMO_TYPE), {})
        failures += _check_k(kpi.get("k-Anonymity"), k)
        return failures

    def check_jsonld(self, persons: list[dict], doc: dict, k) -> list[str]:
        nodes = {n["@id"]: n for n in doc.get("@graph", [doc])}
        ids = [f"demo:person{i}" for i in range(len(persons))]
        typed = [n for n in nodes.values()
                 if "demo:AnonymisationDemo" in _types(n)]
        if len(typed) != len(persons) or any(i not in nodes for i in ids):
            return [f"{len(typed)} person nodes, request had {len(persons)}"]
        ranges = _column_ranges(persons)
        failures = []
        for pid, p in zip(ids, persons):
            failures += [f"{pid}: {m}" for m in
                         check_person(p, nodes[pid], ranges,
                                      lambda a: "demo:" + a)]
        kpi = nodes.get(KPI_OBJECT_URI + local_name(DEMO_TYPE), {})
        got = kpi.get(K_ANONYMITY)
        if isinstance(got, dict):
            got = int(got["@value"])
        return failures + _check_k(got, k)

    def close(self) -> None:
        self.tap.close()


def _types(node: dict) -> list:
    t = node.get("@type", [])
    return t if isinstance(t, list) else [t]


def _check_k(got, report_k) -> list[str]:
    if got is None or report_k is None:
        return [f"k-anonymity missing (response {got}, report {report_k})"]
    if not (int(got) >= 1 and int(got) == report_k):
        return [f"k-anonymity {got} in response, {report_k} in report"]
    return []


WORKLOADS = {w.name: w for w in (KgBuild, AnonRequests)}


if __name__ == "__main__":
    # python3 workloads.py <workload> <seed> <cache_root>: make (or find)
    # the workload's inputs and print their path
    import sys

    name, seed, cache_root = sys.argv[1:4]
    print(WORKLOADS[name].prepare(int(seed), cache_root))
