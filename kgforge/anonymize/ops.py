"""Column anonymization operators as DataFrame transforms.

Each operator consumes attribute column vectors ``(subj, obj_value, ...)`` —
``generalize`` and ``randomize`` take a batch of attributes, one
``(attr, datatype, g, n)`` spec each, told apart by ``pred`` — and returns
NEW triples to union into the graph (the reference mutates its Jena model in
place — Masking.java:19-25, Generalization.java:59-62,
Randomization.java:72-75; we rebuild immutably).

Scale notes are inline: generalization uses a range-partitioned global rank
(never a single-partition window); randomization's sequential RNG contract
forces one task per attribute in fixture-parity mode (attributes run in
parallel — independent seeded streams per attribute, RandomizationNumeric.java:22),
with a documented partition-parallel scale mode.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kgforge.anonymize.values import (
    format_bound,
    format_bound_col,
    format_randomized,
    median_col,
    parse_col,
)
from kgforge.javarandom import JavaRandom, java_math_round
from kgforge.rank import register_cache, with_global_rank
from kgforge.triples import (
    RDF_MAX,
    RDF_MIN,
    RDF_TYPE,
    RDFS_COMMENT,
    SOYA_URL,
)

MASK = "*****"
OBFUSCATED_LOWER = "For the lower bound the minimum value is obfuscated"
OBFUSCATED_UPPER = "For the higher bound the maximum value is obfuscated"


def mask(col_df: DataFrame, attr: str) -> DataFrame:
    """Masking (reference: Masking.java:19-25): constant '*****' per non-null."""
    return col_df.select(
        F.col("subj"),
        F.lit(attr + "_masked").alias("pred"),
        F.lit(MASK).alias("obj_value"),
        F.lit("string").alias("obj_dtype"),
        F.lit(False).alias("obj_is_iri"),
    )


def _attr_index(col_df: DataFrame, attrs: list[str]) -> DataFrame:
    """Stamp ``_a`` = the spec index of each row's attribute.

    A frame carrying several attributes tells them apart by its ``pred``
    column; rows of unlisted predicates are dropped.  A frame without
    ``pred`` holds one attribute's column vector (one spec)."""
    if "pred" not in col_df.columns:
        if len(attrs) != 1:
            raise ValueError("several attribute specs need a pred column")
        return col_df.withColumn("_a", F.lit(0))
    idx = F.lit(None).cast("int")
    for i, a in reversed(list(enumerate(attrs))):
        idx = F.when(F.col("pred") == a, F.lit(i)).otherwise(idx)
    return col_df.withColumn("_a", idx).filter(F.col("_a").isNotNull())


def _per_attr(values: list):
    """Per-row literal picked by ``_a`` from one value per spec."""
    if len(set(values)) == 1:
        return F.lit(values[0])
    return F.array(*[F.lit(v) for v in values])[F.col("_a")]


def _per_datatype(datatypes: list[str], build):
    """Per-row ``build(datatype)`` for the row's spec: one branch per
    distinct datatype, not per attribute."""
    dts = list(dict.fromkeys(datatypes))
    if len(dts) == 1:
        return build(dts[0])
    out = F.lit(None)
    for dt in reversed(dts):
        idxs = [i for i, d in enumerate(datatypes) if d == dt]
        out = F.when(F.col("_a").isin(idxs), build(dt)).otherwise(out)
    return out


def generalize(
    col_df: DataFrame,
    specs: list[tuple[str, str, int, int]],
    order_col=None,
) -> DataFrame:
    """Equal-frequency generalization (reference: Generalization.java:30-104)
    of one or more attributes, each given as an ``(attr, datatype, g, n)``
    spec; rows of several attributes are told apart by ``pred`` (see
    :func:`_attr_index`) and ``n`` must be the attribute's row count.

    bucket(i) = g*i/k (int arithmetic — NOT ntile, which distributes
    remainders differently); bucket b bounds are means of the sorted values
    adjacent to indices b*k/g and (b+1)*k/g - 1; edge buckets obfuscate the
    outer bound.

    All attributes share ONE global rank over ``(_a, _v, tie)`` computed with
    range partitioning + partition offsets (kgforge.rank), so the sort
    scales and a batch of attributes pays one sort, not one per attribute.
    An attribute's own rank is the global rank minus its offset, the prefix
    sum of the earlier specs' ``n``.

    Boundary extraction is fully distributed: the ≤4g boundary indices per
    attribute come from a one-row-per-spec ``(_a, _g, _n, _off)`` frame
    exploded with ``sequence`` and *broadcast* into a join against the
    ranked table (no literal IN-list in the plan, no driver loop over g), and
    the bucket-bound triples are built as DataFrame transforms via the
    column twins of median/format (kgforge.anonymize.values).  Plan size is
    O(1) in g, so g ≈ 10⁶ (k ≈ 10¹²) works.
    """
    spark = col_df.sparkSession
    attrs = [s[0] for s in specs]
    dts = [s[1] for s in specs]
    gs = [int(s[2]) for s in specs]
    ns = [int(s[3]) for s in specs]
    offs = [sum(ns[:i]) for i in range(len(ns))]
    d = _attr_index(col_df, attrs).withColumn(
        "_v", _per_datatype(dts, lambda dt: parse_col(dt, F.col("obj_value")))
    )
    tiebreak = order_col if order_col is not None else F.col("subj")
    # persisted (read by the boundary join AND the bucket assignment) and
    # registered: the engine releases it after its per-type checkpoint
    ranked = register_cache(
        with_global_rank(
            d, [F.col("_a"), F.col("_v"), tiebreak], out="_grank"
        ).persist()
    )

    # boundary-adjacent sorted indices for all buckets of all specs
    roles = F.array(
        F.struct(F.lit("lo_prev").alias("_role"), (F.col("_lb") - 1).alias("_i")),
        F.struct(F.lit("lo").alias("_role"), F.col("_lb").alias("_i")),
        F.struct(F.lit("hi").alias("_role"), F.col("_ub").alias("_i")),
        F.struct(F.lit("hi_next").alias("_role"), (F.col("_ub") + 1).alias("_i")),
    )
    bidx = (
        spark.createDataFrame(
            list(zip(range(len(specs)), gs, ns, offs)),
            "_a int, _g long, _n long, _off long",
        )
        .filter(F.col("_g") > 0)
        .select(
            "_a", "_n", "_off",
            F.explode(F.sequence(F.lit(0).cast("long"), F.col("_g") - 1)).alias("_b"),
            "_g",
        )
        .select(
            "_a", "_b", "_n", "_off",
            F.expr("_b * _n div _g").alias("_lb"),
            F.expr("(_b + 1) * _n div _g - 1").alias("_ub"),
        )
        .select("_a", "_b", "_n", "_off", F.explode(roles).alias("_e"))
        .filter((F.col("_e._i") >= 0) & (F.col("_e._i") < F.col("_n")))
        .select(
            "_a", "_b", F.col("_e._role").alias("_role"),
            (F.col("_e._i") + F.col("_off")).alias("_gi"),
        )
    )
    bvals = (
        ranked.select(F.col("_grank").alias("_gi"), "_v")
        .join(F.broadcast(bidx), "_gi")
        .groupBy("_a", "_b")
        .agg(
            F.max(F.when(F.col("_role") == "lo_prev", F.col("_v"))).alias("_vlp"),
            F.max(F.when(F.col("_role") == "lo", F.col("_v"))).alias("_vlo"),
            F.max(F.when(F.col("_role") == "hi", F.col("_v"))).alias("_vhi"),
            F.max(F.when(F.col("_role") == "hi_next", F.col("_v"))).alias("_vhn"),
        )
    )
    lower_lex = _per_datatype(dts, lambda dt: format_bound_col(
        dt, median_col(dt, F.col("_vlp"), F.col("_vlo")))[0])
    upper_lex = _per_datatype(dts, lambda dt: format_bound_col(
        dt, median_col(dt, F.col("_vhi"), F.col("_vhn")))[0])
    bound_dt = _per_attr([format_bound(dt, 0)[1] for dt in dts])
    bucket_iri = F.concat(_per_attr([a + "_" for a in attrs]), F.col("_b").cast("string"))
    # reference addProperty(RDF.type, String) stores the type as a *string
    # literal* (Generalization.java:75)
    t_type = bvals.select(
        bucket_iri.alias("subj"),
        F.lit(RDF_TYPE).alias("pred"),
        F.lit(SOYA_URL + "generalization").alias("obj_value"),
        F.lit("string").alias("obj_dtype"),
        F.lit(False).alias("obj_is_iri"),
    )
    first_b = F.col("_b") == 0
    last_b = F.col("_b") == _per_attr(gs).cast("long") - 1
    t_min = bvals.select(
        bucket_iri.alias("subj"),
        F.when(first_b, F.lit(RDFS_COMMENT)).otherwise(F.lit(RDF_MIN)).alias("pred"),
        F.when(first_b, F.lit(OBFUSCATED_LOWER)).otherwise(lower_lex).alias("obj_value"),
        F.when(first_b, F.lit("string")).otherwise(bound_dt).alias("obj_dtype"),
        F.lit(False).alias("obj_is_iri"),
    )
    t_max = bvals.select(
        bucket_iri.alias("subj"),
        F.when(last_b, F.lit(RDFS_COMMENT)).otherwise(F.lit(RDF_MAX)).alias("pred"),
        F.when(last_b, F.lit(OBFUSCATED_UPPER)).otherwise(upper_lex).alias("obj_value"),
        F.when(last_b, F.lit("string")).otherwise(bound_dt).alias("obj_dtype"),
        F.lit(False).alias("obj_is_iri"),
    )

    # bucket(i) = g*i/k in integer arithmetic (Generalization.java:50)
    assign = ranked.select(
        "subj",
        "_a",
        _per_attr(gs).cast("long").alias("_ga"),
        _per_attr(ns).cast("long").alias("_na"),
        (F.col("_grank") - _per_attr(offs).cast("long")).alias("_rank"),
    ).select(
        F.col("subj"),
        F.concat(_per_attr(attrs), F.lit("_generalized")).alias("pred"),
        F.concat(
            _per_attr([a + "_" for a in attrs]),
            F.expr("_ga * _rank div _na").cast("string"),
        ).alias("obj_value"),
        F.lit("iri").alias("obj_dtype"),
        F.lit(True).alias("obj_is_iri"),
    )
    return assign.unionByName(t_type).unionByName(t_min).unionByName(t_max)


def generalize_object(
    triples: DataFrame,
    col_df: DataFrame,
    attr: str,
    attr_order: tuple[str, ...],
    g: int,
    n: int,
    hier_prefix: str,
) -> DataFrame:
    """Hierarchy generalization (reference: GeneralizationObject.java:27-58).

    Walk the attributeOrder ladder low→high; first level whose value groups
    satisfy (#groups ≤ g AND min group count > 0.5·n/g) wins; otherwise mask.
    Sub-property IRIs are hardcoded under the demo prefix
    (GeneralizationObject.java:31 — quirk preserved via hier_prefix).

    ``(ngroups, mincnt)`` of every level comes from ONE aggregation and one
    collect (each reference keyed by every level); the driver then picks
    the first level that passes.
    """
    gen_pred = attr + "_generalized"
    levels = list(dict.fromkeys(hier_prefix + level for level in attr_order))
    refs = col_df.select("subj", F.col("obj_value").alias("_ref"))
    child = (
        triples.filter(F.col("pred").isin(levels) & (~F.col("obj_is_iri")))
        .select(
            F.col("subj").alias("_ref"),
            F.col("pred").alias("_lp"),
            F.col("obj_value").alias("_lv"),
        )
        .dropDuplicates(["_ref", "_lp"])
    )
    vals = (
        refs.select("subj", "_ref", F.explode(F.array(*map(F.lit, levels))).alias("_lp"))
        .join(F.broadcast(child), ["_ref", "_lp"], "left")
        .select("subj", "_lp", F.coalesce(F.col("_lv"), F.lit("")).alias("val"))
    )
    stats = {
        r["_lp"]: r
        for r in vals.groupBy("_lp", "val")
        .count()
        .groupBy("_lp")
        .agg(F.count(F.lit(1)).alias("ngroups"), F.min("count").alias("mincnt"))
        .collect()
    }
    for level in (hier_prefix + lv for lv in attr_order):
        st = stats.get(level)
        if st is not None and st["ngroups"] <= g and st["mincnt"] > n * 0.5 / g:
            return vals.filter(F.col("_lp") == level).select(
                "subj",
                F.lit(gen_pred).alias("pred"),
                F.col("val").alias("obj_value"),
                F.lit("string").alias("obj_dtype"),
                F.lit(False).alias("obj_is_iri"),
            )
    return col_df.select(
        "subj",
        F.lit(gen_pred).alias("pred"),
        F.lit(MASK).alias("obj_value"),
        F.lit("string").alias("obj_dtype"),
        F.lit(False).alias("obj_is_iri"),
    )


def _draw_numeric(rng: JavaRandom, v: float, dist: float, vmin: float, vmax: float) -> float:
    # RandomizationNumeric.java:30-40 — uniform noise, reflect, re-draw loop
    rv = float("inf")
    while rv > vmax or rv < vmin:
        noise = rng.next_double() * dist
        cand = v + noise
        rv = v - noise if (cand > vmax or cand < vmin) else cand
    return rv


def _draw_date(rng: JavaRandom, day: int, dist: float, dmin: int, dmax: int) -> int:
    # RandomizationDate.java:40-58 — gaussian days, negate-if-out, re-draw
    noise = 2**31 - 1
    while day + noise > dmax or day + noise < dmin:
        noise = int(java_math_round(rng.next_gaussian() * dist))
        if day + noise > dmax or day + noise < dmin:
            noise = -noise
    return day + noise


def _draw_datetime(rng: JavaRandom, sec: int, dist: float, smin: int, smax: int) -> int:
    # RandomizationDateTime.java:36-51 — gaussian seconds, (int) truncation
    noise = 2**31 - 1
    while sec + noise > smax or sec + noise < smin:
        noise = int(rng.next_gaussian() * dist)  # Java (int) cast truncates
        if sec + noise > smax or sec + noise < smin:
            noise = -noise
    return sec + noise


def randomize(
    col_df: DataFrame,
    specs: list[tuple[str, str, int, int]],
    seed: int,
    order_col=None,
    mode: str = "exact",
) -> DataFrame:
    """Adaptive-noise randomization (reference: Randomization.java:27-59 +
    per-datatype draws) of one or more attributes, each given as an
    ``(attr, datatype, g, n)`` spec; rows of several attributes are told
    apart by ``pred`` (see :func:`_attr_index`).

    Window size rv = n/g (n-1 if rv == n); for each sorted value, a two-pointer
    pass finds the closest contiguous (rv+1)-window and the noise scale is the
    max distance to its ends.  Draws come from ONE java.util.Random(seed)
    stream per attribute consumed in ascending-value order with
    data-dependent retry loops — inherently sequential per attribute
    (RandomizationNumeric.java:22, fixtures pin seed=1234).  mode="exact"
    runs ONE applyInPandas grouped by attribute: each attribute is one group
    with its own ``JavaRandom(seed)`` (attributes parallelize across tasks,
    all in a single stage); mode="partitioned" range-partitions each
    attribute and seeds each partition with seed ⊕ pid — a documented
    semantic extension for corpus scale.
    """
    attrs = [s[0] for s in specs]
    dts = [s[1] for s in specs]
    d = _attr_index(col_df, attrs).withColumn(
        "_v", _per_datatype(dts, lambda dt: parse_col(dt, F.col("obj_value")))
    )
    tiebreak = order_col if order_col is not None else F.col("subj")
    d = d.withColumn("_ord", tiebreak.cast("string")).select("_a", "subj", "_v", "_ord")

    def run_group(pdf: pd.DataFrame, a: int, seed_: int) -> pd.DataFrame:
        _, datatype, g, _ = specs[a]
        pdf = pdf.sort_values(["_v", "_ord"], kind="mergesort").reset_index(drop=True)
        vals = pdf["_v"].to_numpy()
        k = len(vals)
        if k == 0:
            return pd.DataFrame({"_a": [], "subj": [], "obj_value": []})
        rng = JavaRandom(seed_)
        vmin, vmax = vals[0], vals[-1]
        # window size from the group's own size (Randomization.java:29,37);
        # in exact mode the group IS the whole column, so this equals n/g
        rvv = k // g
        if rvv == k:
            rvv -= 1
        out = []
        lower = 0
        for idx in range(k):
            v = vals[idx]
            while lower < k - (rvv + 1) and (
                lower < idx - rvv
                or abs(vals[lower] - v) > abs(vals[lower + rvv + 1] - v)
            ):
                lower += 1
            dist = max(abs(vals[lower] - v), abs(vals[lower + rvv] - v))
            if datatype in ("integer", "double"):
                res = _draw_numeric(rng, float(v), float(dist), float(vmin), float(vmax))
            elif datatype == "date":
                res = _draw_date(rng, int(v), float(dist), int(vmin), int(vmax))
            else:
                res = _draw_datetime(rng, int(v), float(dist), int(vmin), int(vmax))
            out.append(format_randomized(datatype, res)[0])
        return pd.DataFrame({"_a": a, "subj": pdf["subj"], "obj_value": out})

    schema = "_a int, subj string, obj_value string"
    if mode == "partitioned":
        npart = max(d.sparkSession.sparkContext.defaultParallelism, 1)
        from pyspark import TaskContext

        def part_runner(a: int):
            def run_part(it):
                pid = TaskContext.get().partitionId()
                pdf = pd.concat(list(it)) if it else pd.DataFrame()
                frames = [pdf] if len(pdf) else []
                for f_ in frames:
                    yield run_group(f_, a, seed ^ pid)

            return run_part

        randomized = None
        for a in range(len(specs)):
            part = (
                d.filter(F.col("_a") == a)
                .repartitionByRange(npart, "_v", "_ord")
                .mapInPandas(part_runner(a), schema=schema)
            )
            randomized = part if randomized is None else randomized.unionByName(part)
    else:
        randomized = d.groupBy("_a").applyInPandas(
            lambda pdf: run_group(pdf, int(pdf["_a"].iloc[0]), seed), schema=schema
        )
    return randomized.select(
        "subj",
        F.concat(_per_attr(attrs), F.lit("_randomized")).alias("pred"),
        "obj_value",
        _per_attr([format_randomized(dt, 0)[1] for dt in dts]).alias("obj_dtype"),
        F.lit(False).alias("obj_is_iri"),
    )
