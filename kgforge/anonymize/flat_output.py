"""Flat JSON output assembly (reference: service/FaltJsonService.java:101-265).

Rows = resources typed ``<prefix>anonymizationObject`` with ≥1 literal
property, ordered by the injected counter; literal attrs stringified; ``types``
lists the other rdf:types; per-attr generalization bounds appear only for
strategy=generalization with datatype ∈ {integer, float, date} — the
``float``≠``double`` mismatch is a preserved reference quirk
(FaltJsonService.java:113-118); absent bounds render "obfuscated".

``flat_json_rows`` keeps everything distributed (one row per resource as a
JSON string); ``flat_json_output`` collects into the reference's response
dict for fixture-sized payloads.
"""

from __future__ import annotations

import json
import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kgforge.anonymize.kpi import (
    ANONYMIZATION_TYP,
    HAS_ATTRIBUTE,
    K_ANONYMITY,
    KPI_OBJECT_URI,
    NR_BUCKETS,
)
from kgforge.config import AnonymizationConfig
from kgforge.ingest import FLAT_OBJECT_NAME
from kgforge.triples import (
    RDF_MAX,
    RDF_MIN,
    RDF_TYPE,
    local_name,
    subjects_of_type,
)

_BOUND_DATATYPES = ("integer", "float", "date")  # quirk: float, not double


_ABS_IRI_RE = re.compile(r"^[A-Za-z][A-Za-z0-9+.\-]*:")


def _flat_config(config: AnonymizationConfig) -> dict:
    flat = {}
    for attrs in config.values():
        flat.update(attrs)
    return flat


def flat_json_output(
    triples: DataFrame,
    config: AnonymizationConfig,
    prefix: str,
    calculate_kpi: bool = True,
) -> dict:
    flat_type = prefix + FLAT_OBJECT_NAME
    subs = subjects_of_type(triples, flat_type)
    # reference quirk (fixture 05-invalid-prefix): a prefix that is not an
    # absolute IRI makes the marker type a RELATIVE IRI; Jena resolves it
    # against the query base while the model stores it raw, so the row
    # selection matches nothing — data is empty, KPIs still emitted
    if not _ABS_IRI_RE.match(prefix):
        subs = subs.limit(0)
    mine = triples.join(subs, "subj", "left_semi")
    flat_cfg = _flat_config(config)
    bound_attrs = [
        a
        for a, c in flat_cfg.items()
        if c.strategy == "generalization" and c.datatype in _BOUND_DATATYPES
    ]

    # ONE collect over the union of every predicate slice the response
    # needs, tagged by slice.  A union returns each branch's rows in the
    # branch's own order, and output key order follows row order, so each
    # slice reads exactly as a separate collect of it would.
    none = F.lit(None).cast("string")

    def tagged(df, tag, pred=none, value=none, lo=none, hi=none):
        return df.select(
            F.lit(tag).alias("_t"), "subj", pred.alias("pred"),
            value.alias("obj_value"), lo.alias("min"), hi.alias("max"),
        )

    # literal attributes per resource (getLiteralData)
    slices = [tagged(mine.filter(~F.col("obj_is_iri")), "lit",
                     F.col("pred"), F.col("obj_value"))]
    # other types per resource, input order (getTypesForResources)
    slices.append(tagged(
        mine.filter((F.col("pred") == RDF_TYPE) & (F.col("obj_value") != flat_type)),
        "type", value=F.col("obj_value"),
    ))
    # generalization bounds for the quirk-filtered attribute set
    if bound_attrs:
        gen_preds = [a + "_generalized" for a in bound_attrs]
        assign = mine.filter(F.col("pred").isin(gen_preds)).select(
            "subj", "pred", F.col("obj_value").alias("bucket")
        )
        bounds = (
            triples.filter(F.col("pred").isin([RDF_MIN, RDF_MAX]))
            .groupBy(F.col("subj").alias("bucket"))
            .agg(
                F.first(F.when(F.col("pred") == RDF_MIN, F.col("obj_value")), True).alias("min"),
                F.first(F.when(F.col("pred") == RDF_MAX, F.col("obj_value")), True).alias("max"),
            )
        )
        slices.append(tagged(
            assign.join(F.broadcast(bounds), "bucket", "left"), "gen",
            F.col("pred"), lo=F.col("min"), hi=F.col("max"),
        ))
    if calculate_kpi:
        kpi_preds = [K_ANONYMITY, HAS_ATTRIBUTE, ANONYMIZATION_TYP, NR_BUCKETS]
        slices.append(tagged(
            triples.filter(F.col("pred").isin(kpi_preds)), "kpi",
            F.col("pred"), F.col("obj_value"),
        ))
    rows = slices[0]
    for sl in slices[1:]:
        rows = rows.unionByName(sl)

    attrs_by_subj: dict[str, dict[str, str]] = {}
    counter_by_subj: dict[str, int] = {}
    types_by_subj: dict[str, list[str]] = {}
    gen_by_subj: dict[str, dict[str, dict]] = {}
    k_by_obj: dict[str, int] = {}
    has_attr: list[tuple[str, str]] = []
    anon_typ: dict[str, str] = {}
    nr_buckets: dict[str, int] = {}
    for r in rows.collect():
        tag, subj = r["_t"], r["subj"]
        if tag == "lit":
            ln = local_name(r["pred"])
            if ln == "counter":
                counter_by_subj[subj] = int(r["obj_value"])
            d = attrs_by_subj.setdefault(subj, {})
            if ln != "counter" and ln not in d:
                d[ln] = r["obj_value"]
        elif tag == "type":
            lst = types_by_subj.setdefault(subj, [])
            ln = local_name(r["obj_value"])
            if ln not in lst:
                lst.append(ln)
        elif tag == "gen":
            gen_by_subj.setdefault(subj, {})[local_name(r["pred"])] = {
                "min": r["min"] if r["min"] is not None else "obfuscated",
                "max": r["max"] if r["max"] is not None else "obfuscated",
            }
        elif r["pred"] == K_ANONYMITY:
            k_by_obj[subj] = int(r["obj_value"])
        elif r["pred"] == HAS_ATTRIBUTE:
            has_attr.append((subj, r["obj_value"]))
        elif r["pred"] == ANONYMIZATION_TYP:
            anon_typ[subj] = r["obj_value"]
        else:
            nr_buckets[subj] = int(r["obj_value"])

    data = []
    all_subj = sorted(
        attrs_by_subj.keys(), key=lambda s: counter_by_subj.get(s, 2**31 - 1)
    )
    for subj in all_subj:
        node: dict = dict(attrs_by_subj.get(subj, {}))
        ts = types_by_subj.get(subj)
        if ts:
            node["types"] = ts
        for k, v in gen_by_subj.get(subj, {}).items():
            node[k] = v
        data.append(node)

    kpis: dict = {}
    if calculate_kpi:
        for type_iri in config:
            kpi_obj = KPI_OBJECT_URI + local_name(type_iri)
            if kpi_obj not in k_by_obj:
                continue
            node = {"k-Anonymity": k_by_obj[kpi_obj]}
            for subj, attr in has_attr:
                if subj != kpi_obj:
                    continue
                info = {"anonymization": anon_typ.get(attr)}
                if attr in nr_buckets:
                    info["nrBuckets"] = nr_buckets[attr]
                node[local_name(attr)] = info
            kpis[local_name(kpi_obj)] = node

    return {"data": data, "kpis": kpis}


def flat_json_rows(
    triples: DataFrame, config: AnonymizationConfig, prefix: str
) -> DataFrame:
    """Distributed variant: one JSON string per flat row (scale path).

    Same row semantics as :func:`flat_json_output` without driver collection —
    pivot by predicate local name via map aggregation, counter-ordered.
    """
    from kgforge.triples import local_name_col

    flat_type = prefix + FLAT_OBJECT_NAME
    subs = subjects_of_type(triples, flat_type)
    mine = triples.join(subs, "subj", "left_semi")
    lits = mine.filter(~F.col("obj_is_iri")).select(
        "subj", local_name_col(F.col("pred")).alias("k"), F.col("obj_value").alias("v")
    )
    rows = lits.groupBy("subj").agg(
        F.map_from_entries(F.collect_list(F.struct("k", "v"))).alias("attrs")
    )
    rows = rows.withColumn("counter", F.col("attrs")["counter"].cast("long"))
    types = (
        mine.filter((F.col("pred") == RDF_TYPE) & (F.col("obj_value") != flat_type))
        .groupBy("subj")
        .agg(F.collect_list(local_name_col(F.col("obj_value"))).alias("types"))
    )
    rows = rows.join(types, "subj", "left")
    return rows.orderBy("counter").select(
        "subj",
        "counter",
        F.to_json(F.struct(F.col("attrs"), F.col("types"))).alias("row_json"),
    )
