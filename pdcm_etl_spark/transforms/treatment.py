"""Treatment subsystem entities.

Parity targets (semantics):
- response / response_classification dims: name dims over protocol
  columns, built as one family (dims.name_dims)
- treatment_protocol: treatment_protocol_transformer_job.py:45-115 —
  drug-dosing (model FK) ∪ patient-treatment (patient FK) + response FKs
- treatment_and_component_helper:
  treatment_and_component_helper_transformer_job.py:53-140 — '+'-split of
  names and doses, positional (posexplode) matching, cardinality-mismatch
  rows keep the original dose string
- treatment dim + treatment_component
- regimen discovery: treatment_data_aggregator_by_model.py:222-290 —
  sorted treatment-list-per-protocol joined on array equality against
  regimen component lists (idiomatic rewrite: array_sort(collect_list)
  instead of window+max)
- per-model aggregation: treatment_data_aggregator_by_model.py:90-165 —
  arrays per (model, target); the reference's drug-dosing ⟗ patient full
  outer join becomes one groupBy(model) with per-target aggregates

Scale: protocols/treatments are dim-sized relative to molecular data;
the per-model aggregation is the only fact-scale shuffle (keyed on
model), and the regimen join shuffles canonical sorted arrays — bounded
by protocol count, with map-side dedup before the shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pdcm_etl_spark.functions.cleaner import (
    init_cap_and_trim_all,
    lower_and_trim_all,
    trim_all,
)
from pdcm_etl_spark.functions.ids import add_id
from pdcm_etl_spark.functions.joins import transform_to_fk
from pdcm_etl_spark.sources.tsv import PROVIDER_COL
from pdcm_etl_spark.transforms.dims import NameDims, name_dims


RESPONSE_NAME_DIMS: NameDims = {
    "response": (init_cap_and_trim_all, ("treatment_response",)),
    "response_classification": (init_cap_and_trim_all, ("response_classification",)),
}


def response_name_dims(
    raw_drug_dosing: DataFrame, raw_patient_treatment: DataFrame
) -> DataFrame:
    """response + response_classification over drug dosing ∪ patient
    treatment as one ``(dim, id, name)`` family (``dims.name_dims``)."""
    return name_dims([raw_drug_dosing, raw_patient_treatment], RESPONSE_NAME_DIMS)


def treatment_protocol(
    raw_drug_dosing: DataFrame,
    raw_patient_treatment: DataFrame,
    model_df: DataFrame,
    patient_df: DataFrame,
    response_df: DataFrame,
    response_classification_df: DataFrame,
) -> DataFrame:
    """Union of drug-dosing (target='drug dosing', model FK) and
    patient-treatment (target='patient', patient FK) protocols."""
    dd = (
        raw_drug_dosing.select(
            F.col("model_id").alias("external_model_id"),
            "treatment_name",
            "treatment_dose",
            "treatment_response",
            "response_classification",
            F.col(PROVIDER_COL),
        )
        .withColumn("external_patient_id", F.lit(None).cast("string"))
        .withColumn("treatment_target", F.lit("drug dosing"))
    )
    dd = transform_to_fk(
        dd,
        model_df.select("id", "external_model_id"),
        "external_model_id", "external_model_id", "id", "model_id",
    ).withColumn("patient_id", F.lit(None).cast("bigint")).drop("external_patient_id")

    pt = (
        raw_patient_treatment.select(
            F.col("patient_id").alias("external_patient_id"),
            "treatment_name",
            "treatment_dose",
            "treatment_response",
            "response_classification",
            F.col(PROVIDER_COL),
        )
        .withColumn("treatment_target", F.lit("patient"))
    )
    pt = transform_to_fk(
        pt,
        patient_df.select("id", "external_patient_id"),
        "external_patient_id", "external_patient_id", "id", "patient_id",
    ).withColumn("model_id", F.lit(None).cast("bigint"))

    proto = dd.unionByName(pt).drop_duplicates()
    proto = proto.withColumn(
        "treatment_response", init_cap_and_trim_all("treatment_response")
    )
    proto = transform_to_fk(proto, response_df, "treatment_response", "name", "id", "response_id")
    proto = proto.withColumn(
        "response_classification", init_cap_and_trim_all("response_classification")
    )
    proto = transform_to_fk(
        proto, response_classification_df,
        "response_classification", "name", "id", "response_classification_id",
    )
    return add_id(
        proto, "id",
        key_cols=["model_id", "patient_id", "treatment_name", "treatment_dose",
                  "treatment_target", PROVIDER_COL],
        fact=True,
    )


def treatment_and_component_helper(treatment_protocol_df: DataFrame) -> DataFrame:
    """'+'-separated names/doses split into per-component rows.

    Positional matching when name/dose cardinalities agree; on mismatch
    every component keeps the protocol's original dose string (the
    reference's left-anti remainder rule)."""
    base = treatment_protocol_df.select(
        F.col("id").alias("treatment_protocol_id"),
        "treatment_name",
        "treatment_dose",
        F.col(PROVIDER_COL),
    )
    split_names = F.split("treatment_name", r"\+")
    split_doses = F.split("treatment_dose", r"\+")
    df = base.withColumn("names", split_names).withColumn("doses", split_doses)

    names = (
        df.select(
            "treatment_protocol_id",
            F.size("names").alias("n_names"),
            F.size("doses").alias("n_doses"),
            F.posexplode("names").alias("pos", "raw_name"),
            F.col(PROVIDER_COL),
        )
        .withColumn("component_name", trim_all("raw_name"))
        .where("component_name is not null and component_name != ''")
    )

    matched = (
        names.filter(F.col("n_names") == F.col("n_doses"))
        .join(
            df.select(
                "treatment_protocol_id", F.posexplode("doses").alias("pos", "raw_dose")
            ),
            on=["treatment_protocol_id", "pos"],
        )
        .select(
            "treatment_protocol_id",
            F.col("component_name").alias("treatment_name"),
            trim_all("raw_dose").alias("treatment_dose"),
            F.col(PROVIDER_COL),
        )
    )
    unmatched = (
        names.filter(F.col("n_names") != F.col("n_doses"))
        .join(
            df.select("treatment_protocol_id", "treatment_dose"),
            on="treatment_protocol_id",
        )
        .select(
            "treatment_protocol_id",
            F.col("component_name").alias("treatment_name"),
            F.col("treatment_dose"),
            F.col(PROVIDER_COL),
        )
    )
    return matched.unionByName(unmatched)


def treatment(helper_df: DataFrame) -> DataFrame:
    """Distinct treatment-name dim over the split components, per provider."""
    out = (
        helper_df.select(
            trim_all("treatment_name").alias("name"), F.col(PROVIDER_COL)
        )
        .where("name is not null and name != ''")
        .drop_duplicates()
    )
    return add_id(out, "id", key_cols=["name", PROVIDER_COL]).select(
        "id", "name", PROVIDER_COL
    )


def treatment_component(helper_df: DataFrame, treatment_df: DataFrame) -> DataFrame:
    """(protocol, treatment FK, dose) component rows."""
    t = treatment_df.select(
        F.col("id").alias("treatment_id"),
        F.col("name").alias("treatment_name"),
        F.col(PROVIDER_COL),
    )
    out = helper_df.join(F.broadcast(t), on=["treatment_name", PROVIDER_COL], how="left")
    out = out.select("treatment_protocol_id", "treatment_id", "treatment_dose", PROVIDER_COL)
    return add_id(out, "id", key_cols=["treatment_protocol_id", "treatment_id", "treatment_dose"], fact=True)


def discover_regimens(
    components_by_protocol: DataFrame, regimen_to_treatment: DataFrame
) -> DataFrame:
    """Regimen detection: a protocol whose canonical (sorted, lowercased)
    treatment list equals a regimen's component list is that regimen.

    Reference uses Window+collect_list+max (treatment_data_aggregator_by_
    model.py:222-256); the idiomatic Spark rewrite is
    array_sort(collect_set) — one hash aggregation, no window sort, same
    canonical key. Returns (treatment_protocol_id, regimen).
    """
    proto_lists = components_by_protocol.groupBy("treatment_protocol_id").agg(
        F.array_sort(F.collect_set(F.lower(trim_all("treatment_name")))).alias("tlist")
    )
    regimen_lists = regimen_to_treatment.groupBy("regimen").agg(
        F.array_sort(F.collect_set(F.lower(trim_all("treatment")))).alias("tlist")
    )
    return proto_lists.join(regimen_lists, on="tlist").select(
        "treatment_protocol_id", "regimen"
    )


def treatment_aggregation_by_model(
    treatment_protocol_df: DataFrame,
    helper_df: DataFrame,
    response_df: DataFrame,
    patient_sample_df: DataFrame | None = None,
) -> DataFrame:
    """Per-model arrays of treatments/responses for drug-dosing and patient
    targets: one row per model, each target's pair of columns NULL when
    the model has no protocol of that target (a model may have either or
    both).

    Patient-target protocols carry a patient FK, not a model FK — they are
    resolved to the patient's model(s) through patient_sample (the
    reference's ``tp.patient_id = ps.patient_id AND m.id = ps.model_id``
    join, views.sql:1218-1230).

    One ``groupBy(model_id)`` with per-target conditional aggregates: a
    (model, target) aggregate split by a filter would run twice and need
    a full outer join to put the halves back together."""
    comp = helper_df.select(
        "treatment_protocol_id", F.lower(trim_all("treatment_name")).alias("treatment_name")
    )
    resp = F.broadcast(
        response_df.select(
            F.col("id").alias("response_id"), F.col("name").alias("treatment_response")
        )
    )
    proto = treatment_protocol_df.join(resp, "response_id", "left").select(
        F.col("id").alias("treatment_protocol_id"),
        "model_id",
        "patient_id",
        "treatment_target",
        "treatment_response",
    )
    if patient_sample_df is not None:
        pat_models = (
            patient_sample_df.select(
                F.col("patient_id").alias("ps_patient_id"),
                F.col("model_id").alias("patient_model_id"),
            )
            .where("ps_patient_id is not null and patient_model_id is not null")
            .drop_duplicates()
        )
        proto = proto.join(
            pat_models, proto.patient_id == pat_models.ps_patient_id, "left"
        ).withColumn(
            "model_id", F.coalesce("model_id", "patient_model_id")
        ).drop("ps_patient_id", "patient_model_id")
    proto = proto.drop("patient_id").where(
        F.col("treatment_target").isin("drug dosing", "patient")
    )
    # no pre-dedupe: the per-model lists are array_distinct'ed below, so a
    # full-width drop_duplicates here is an extra fact-scale shuffle for
    # an identical result
    joined = proto.join(comp, "treatment_protocol_id", "left")

    def per_target(target: str, col: str) -> Column:
        of_target = F.col("treatment_target") == target
        values = F.collect_list(F.when(of_target, F.col(col)))
        return F.when(
            F.count_if(of_target) > 0, F.array_sort(F.array_distinct(values))
        )

    # a NULL model id never matched in the per-target outer join this
    # replaces, so such rows keep one output row per target
    null_model_target = F.when(
        F.col("model_id").isNull(), F.col("treatment_target")
    ).alias("__null_model_target")
    return joined.groupBy("model_id", null_model_target).agg(
        per_target("drug dosing", "treatment_name").alias("model_treatments"),
        per_target("drug dosing", "treatment_response")
        .alias("model_treatments_responses"),
        per_target("patient", "treatment_name").alias("patient_treatments"),
        per_target("patient", "treatment_response")
        .alias("patient_treatments_responses"),
    ).drop("__null_model_target")


def harmonise_treatment_names(
    treatment_df: DataFrame,
    treatment_mapping_df: DataFrame,
    ontology_term_treatment_df: DataFrame,
    ontology_term_regimen_df: DataFrame,
) -> DataFrame:
    """Treatment-name → NCIt term harmonisation
    (treatment_name_harmonisation_helper_transformer_job.py:43-92):
    case-normalized mapping-rule join to the term URL, then a union of the
    treatment/regimen ontology branches (tagged with ``class``) resolves
    the term. Both lookup sides are small — broadcast."""
    names = treatment_df.select("name").drop_duplicates().withColumn(
        "name_l", lower_and_trim_all("name")
    )
    mapping = F.broadcast(
        treatment_mapping_df.select(
            lower_and_trim_all("treatment").alias("name_l"),
            "mapped_term_url",
        ).drop_duplicates()
    )
    mapped = names.join(mapping, "name_l", "left").select("name", "mapped_term_url")

    terms = F.broadcast(
        ontology_term_treatment_df.select("term_id", "term_name", "term_url")
        .withColumn("class", F.lit("treatment"))
        .unionByName(
            ontology_term_regimen_df.select("term_id", "term_name", "term_url")
            .withColumn("class", F.lit("regimen"))
        )
    )
    return (
        mapped.join(terms, mapped.mapped_term_url == terms.term_url, "left")
        .select("name", "term_name", "term_id", "class")
        .drop_duplicates()
    )
