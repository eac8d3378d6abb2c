"""Anonymization pipeline orchestrator.

Spark re-expression of AnonymizationService.applyAnonymizationForObject
(reference: service/AnonymizationService.java:74-116): per configured object
type — used-property semi-join (J1), per-attribute column extraction (J2
decomposed), operator dispatch (Configuration.java:29-65), KPI write-back,
original deletion (QueryBuildingService.java:98-123), optional
rename-to-original (AnonymizationService.java:159-201).

The reference runs one pivot query and one operator per attribute.  Here each
object type is anonymized in a few batched passes instead, because at
request size every Spark job is fixed cost:

- ONE extraction frame per type — the configured predicates semi-joined to
  the typed subjects, tie order joined once, persisted; the J1 counts come
  from the collect that materializes it.
- ONE ``ops.generalize`` call for all numeric/date generalization attributes
  (one global rank, one boundary aggregation), ONE ``ops.randomize`` call for
  all randomization attributes (one grouped Python stage, an independent
  seeded stream per attribute), one ``ops.generalize_object`` call per
  hierarchy attribute (one aggregation over all its levels), masking as a
  plain projection.
- ONE per-subject KPI pivot inside ``kpi.k_anonymity``.

The batched outputs are split back per attribute before the write-back, so
every subject's new triples keep the configured attribute order.

The config is driver-side (tiny, broadcast into every generated plan); all
data movement is DataFrame transforms.  Per-type results accumulate into the
same triple table, exactly like the reference's shared Jena model (M5).
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kgforge.anonymize import kpi as kpi_mod
from kgforge.anonymize import ops
from kgforge.anonymize.buckets import calculate_number_of_buckets
from kgforge.config import AnonymizationConfig, AttrConfig, DEMO_PREFIX
from kgforge.rank import register_cache, release_rank_caches
from kgforge.triples import subjects_of_type, triples_df

_SUFFIX = {
    "masking": "_masked",
    "generalization": "_generalized",
    "randomization": "_randomized",
}


@dataclass
class AnonymizationReport:
    """Bookkeeping for assertions / KPIs (also present as triples)."""

    k_anonymity: dict[str, int] = field(default_factory=dict)  # type -> k
    nr_buckets: dict[str, dict[str, int]] = field(default_factory=dict)
    used: dict[str, list[str]] = field(default_factory=dict)


def anonymize_triples(
    triples: DataFrame,
    config: AnonymizationConfig,
    *,
    calculate_kpi: bool = True,
    include_original_data: bool = False,
    use_adjusted_attributes: bool = True,
    random_seed: int | None = None,
    hier_prefix: str = DEMO_PREFIX,
    order_pred: str | None = None,
    rng_mode: str = "exact",
    checkpoints: list | None = None,
) -> tuple[DataFrame, AnonymizationReport]:
    """Apply the full anonymization pipeline; returns (new triples, report).

    ``order_pred`` names a predicate whose integer value fixes sort tie order
    (the flat codec's injected counter).  The reference's tie order is
    unspecified (HashMap iteration, Randomization.java:61-66); we make it
    deterministic — value multisets are tie-order-invariant so KPIs and bucket
    contents match the reference exactly, only tied rows may swap resources.

    ``checkpoints``, when given, collects every lineage-truncation frame the
    call creates; a caller that owns the terminal action frees their blocks
    afterwards with :func:`release_checkpoints` instead of leaving them to
    Spark's context cleaner.
    """
    spark = triples.sparkSession
    seed = int(time.time() * 1000) if random_seed is None else random_seed
    report = AnonymizationReport()

    order_df = None
    if order_pred is not None:
        # try_cast: under ANSI, Catalyst constant-folds this cast over the
        # literal obj_value of other union branches (rdf:type IRIs) before
        # the pred filter prunes them; a malformed counter becomes NULL
        order_df = (
            triples.filter(F.col("pred") == order_pred)
            .select("subj", F.col("obj_value").try_cast("long").alias("_tie"))
            .dropDuplicates(["subj"])
        )

    for type_iri, attrs_cfg in config.items():
        subjects = subjects_of_type(triples, type_iri)

        # ONE extraction frame per type: every configured predicate of the
        # typed subjects, with the tie order joined once.  Persisted and
        # registered (released after the per-type checkpoint); the J1 count
        # collect below is what materializes it.
        ext = (
            triples.filter(F.col("pred").isin(list(attrs_cfg)))
            .join(subjects, "subj", "left_semi")
            .select("subj", "pred", "obj_value", "obj_dtype", "obj_is_iri")
        )
        if order_df is not None:
            ext = ext.join(order_df, "subj", "left")
        else:
            ext = ext.withColumn("_tie", F.col("subj"))
        ext = register_cache(ext.persist())
        order_col = F.col("_tie")

        # J1: which configured predicates are actually used by this type
        counts = {
            r["pred"]: r["count"] for r in ext.groupBy("pred").count().collect()
        }
        used = [a for a in attrs_cfg if a in counts]
        report.used[type_iri] = used
        for a in used:
            if attrs_cfg[a].strategy not in _SUFFIX:
                raise ValueError(
                    f"No Anonymization implementation for {attrs_cfg[a].strategy}"
                )
        n_anon = sum(
            1
            for a in used
            if attrs_cfg[a].strategy in ("generalization", "randomization")
        )

        parts: dict[str, DataFrame] = {}
        kpi_rows: list[tuple] = []
        report.nr_buckets[type_iri] = {}
        gen_specs: list[tuple] = []
        rand_specs: list[tuple] = []

        for attr in used:
            cfg: AttrConfig = attrs_cfg[attr]
            n = counts[attr]
            if cfg.strategy == "masking":
                # masking records no KPI attribute info (short ctor)
                parts[attr] = ops.mask(ext.filter(F.col("pred") == attr), attr)
                continue

            g = calculate_number_of_buckets(n, n_anon)
            report.nr_buckets[type_iri][attr] = g
            if calculate_kpi:
                kpi_rows.extend(
                    kpi_mod.attribute_info_rows(type_iri, attr, cfg.strategy, g)
                )
            if cfg.strategy == "randomization":
                rand_specs.append((attr, cfg.datatype, g, n))
            elif cfg.is_object_generalization:
                parts[attr] = ops.generalize_object(
                    triples, ext.filter(F.col("pred") == attr), attr,
                    cfg.attr_order, g, n, hier_prefix,
                )
            else:
                gen_specs.append((attr, cfg.datatype, g, n))

        # the batched operators: one call each for all of the type's
        # attributes, split back per attribute so every subject's new triples
        # keep the configured attribute order (serialization order follows
        # the table's row order)
        extra: list[DataFrame] = []
        if gen_specs:
            gen_preds = [s[0] + "_generalized" for s in gen_specs]
            gen = ops.generalize(
                ext.filter(F.col("pred").isin([s[0] for s in gen_specs])),
                gen_specs, order_col,
            )
            for spec, gp in zip(gen_specs, gen_preds):
                parts[spec[0]] = gen.filter(F.col("pred") == gp)
            # bucket triples have subjects of their own: any place will do
            extra.append(gen.filter(~F.col("pred").isin(gen_preds)))
        if rand_specs:
            rnd = ops.randomize(
                ext.filter(F.col("pred").isin([s[0] for s in rand_specs])),
                rand_specs, seed, order_col, rng_mode,
            )
            for spec in rand_specs:
                parts[spec[0]] = rnd.filter(F.col("pred") == spec[0] + "_randomized")

        for part in [parts[a] for a in used] + extra:
            triples = triples.unionByName(
                part.select("subj", "pred", "obj_value", "obj_dtype", "obj_is_iri")
            )
        if kpi_rows:
            triples = triples.unionByName(triples_df(spark, kpi_rows))
        # Lineage truncation, not just caching: each operator stacks a
        # rank/bucket/noise subtree onto the shared triple table, and the KPI
        # pass re-reads that table.  Without a checkpoint the analyzed plan
        # grows multiplicatively per type — analysis time dominates tiny
        # inputs and the driver can OOM just rendering plan strings for the
        # SQL listener.  The written-back model is reused by KPIs, deletes,
        # renames, and serialization, so this is the natural stage boundary
        # to checkpoint.  When the session has a checkpoint dir configured we
        # take a RELIABLE checkpoint (survives executor loss / dynamic
        # allocation on a real cluster); otherwise localCheckpoint
        # (unreplicated executor blocks — fine for local mode and
        # fixture-sized services, not for long cluster jobs).
        triples = _truncate(triples, True, checkpoints)
        # the checkpoint materialized every operator plan for this type, so
        # the extraction frame and the rank caches the operators pinned
        # (range-partitioned sort frames) are now redundant — release them
        # before the next type
        release_rank_caches()

        if calculate_kpi:
            k = kpi_mod.k_anonymity(triples, type_iri, used, attrs_cfg)
            report.k_anonymity[type_iri] = k
            triples = triples.unionByName(
                triples_df(spark, kpi_mod.kpi_object_rows(type_iri, k))
            )

        if not include_original_data and used:
            subjects = subjects_of_type(triples, type_iri)
            vict = (
                triples.join(subjects, "subj", "left_semi")
                .filter(F.col("pred").isin(used))
            )
            children = vict.filter(F.col("obj_is_iri")).select(
                F.col("obj_value").alias("subj")
            ).distinct()
            typed = subjects.withColumnRenamed("subj", "_ts")
            triples = (
                triples.join(typed, triples["subj"] == typed["_ts"], "left")
                .filter(F.col("_ts").isNull() | ~F.col("pred").isin(used))
                .drop("_ts")
            )
            # one-hop delete of the value's own triples (drops address
            # sub-objects — QueryBuildingService.java:98-123)
            triples = triples.join(children, "subj", "left_anti")

        if not use_adjusted_attributes:
            # copy <attr>_<suffix> onto <attr>, drop both old predicate sets —
            # global rewrites, like listStatements(null, p, null)
            for attr in used:
                sfx = attr + _SUFFIX[attrs_cfg[attr].strategy]
                moved = triples.filter(F.col("pred") == sfx).withColumn(
                    "pred", F.lit(attr)
                )
                triples = triples.filter(
                    (F.col("pred") != attr) & (F.col("pred") != sfx)
                ).unionByName(moved)

        # Truncate again after deletes/renames so the next type's loop (and the
        # caller's serialization) starts from a flat plan.  eager=False only
        # defers the final result stage: under AQE, building the checkpoint
        # RDD already runs the plan's shuffle-map stages (about 8 jobs and
        # 1.6 s on a 200-person Demo request at local[4]); the plan is
        # replaced by a LogicalRDD either way.
        triples = _truncate(triples, False, checkpoints)

    return triples, report


def _truncate(df: DataFrame, eager: bool, checkpoints: list | None) -> DataFrame:
    """Plan-lineage truncation point: reliable ``checkpoint`` when the session
    has a checkpoint dir (cluster-safe — replicated, survives executor loss),
    ``localCheckpoint`` otherwise (local mode / short-lived fixture jobs)."""
    sc = df.sparkSession.sparkContext
    if sc.getCheckpointDir():
        out = df.checkpoint(eager=eager)
    else:
        out = df.localCheckpoint(eager=eager)
    if checkpoints is not None:
        checkpoints.append(out)
    return out


def release_checkpoints(frames: list) -> None:
    """Unpersist the blocks behind frames collected through
    ``anonymize_triples(checkpoints=...)``.  Call it only after the last
    action on the result: a truncated frame has no lineage to recompute
    from."""
    while frames:
        frames.pop()._jdf.queryExecution().logical().rdd().unpersist(False)
