"""Model characterization scoring — columnar rewrite of the reference's
RDD row-map scorer.

Parity targets (semantics):
- validity rule (generic_metadata_calculator.py:40-45): non-empty and not
  'not provided' / 'not collected' / 'unknown' (case-insensitive)
- single-value columns score their weight when valid (:48-53)
- JSON-array columns ('quality_assurance', 'xenograft_model_specimens')
  score weight 'col.attr' when EVERY element has a valid attr (:56-86)
- final = int(0.9·metadata% + 0.07·raw_data% + 0.03·cancer_annotation%)
  (:9-11, :130-141)
- weight tables: scoring/weights_per_fields.py

The reference evaluates this with ``rdd.map`` over Python dicts — a full
Python round-trip per row. Here the whole score is ONE column expression
(sum of when() terms + higher-order forall over parsed JSON), so it runs
inside whole-stage codegen; at 100 TB that is the difference between a
metadata pass and a cluster-wide Python serialization storm.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

METADATA_WEIGHT = 0.9
RAW_DATA_WEIGHT = 0.07
CANCER_ANNOTATION_WEIGHT = 0.03

# common weights (weights_per_fields.py:2-36); nonzero entries only affect
# the numerator — the max score uses the full table
COMMON_WEIGHTS: dict[str, float] = {
    "patient_sex": 1, "patient_history": 0, "patient_ethnicity": 0.5,
    "patient_ethnicity_assessment_method": 0, "patient_initial_diagnosis": 0,
    "patient_age_at_initial_diagnosis": 0, "patient_sample_id": 1,
    "patient_sample_collection_date": 0, "patient_sample_collection_event": 0,
    "patient_sample_months_since_collection_1": 0, "patient_age": 1,
    "histology": 1, "tumour_type": 1, "primary_site": 1,
    "collection_site": 0.5, "cancer_stage": 0.5, "cancer_staging_system": 0,
    "cancer_grade": 0.5, "cancer_grading_system": 0,
    "patient_sample_virology_status": 0, "patient_sample_sharable": 0,
    "patient_sample_treated_at_collection": 0.5,
    "patient_sample_treated_prior_to_collection": 0.5,
    "pdx_model_publications": 0,
    "quality_assurance.validation_technique": 1,
    "quality_assurance.description": 1,
    "quality_assurance.SNP_analysis": 0, "quality_assurance.STR_analysis": 0,
    "quality_assurance.comments": 0, "supplier": 0, "supplier_type": 0,
}

PDX_ONLY_WEIGHTS: dict[str, float] = {
    "xenograft_model_specimens.host_strain_name": 1,
    "xenograft_model_specimens.host_strain_nomenclature": 1,
    "xenograft_model_specimens.engraftment_site": 1,
    "xenograft_model_specimens.engraftment_type": 1,
    "xenograft_model_specimens.engraftment_sample_type": 1,
    "xenograft_model_specimens.engraftment_sample_state": 0,
    "xenograft_model_specimens.passage_number": 1,
}

_INVALID_SQL = "('', 'not provided', 'not collected', 'unknown')"


def _valid_sql(ref: str) -> str:
    return f"lower(coalesce({ref}, '')) not in {_INVALID_SQL}"


def _json_attr_score_sql(col_name: str, attr: str, weight: float) -> str:
    """weight if every element of the JSON-array column has a valid
    ``attr`` (and the array is non-empty) — the all-rows rule."""
    arr = f"from_json(`{col_name}`, 'array<map<string,string>>')"
    return (
        f"(case when {arr} is not null and size({arr}) > 0 "
        f"and forall({arr}, m -> {_valid_sql(f'element_at(m, {attr!r})')}) "
        f"then {float(weight)!r}d else 0.0d end)"
    )


def metadata_score_pct(df: DataFrame, weights: dict[str, float]) -> Column:
    """Σ earned / Σ possible × 100, assembled as ONE SQL string parsed in
    a single ``F.expr`` call. Building it term-by-term from py4j Column
    objects costs one JVM round trip per operator node (~3s of driver
    time for the two ~30-term score expressions at flagship scale); one
    string parse is milliseconds and yields the identical expression
    tree."""
    terms = []
    maximum = 0.0
    for key, w in weights.items():
        maximum += float(w or 0)
        if w in (None, 0):
            continue
        if "." in key:
            col_name, attr = key.split(".", 1)
            if col_name in df.columns:
                terms.append(_json_attr_score_sql(col_name, attr, w))
        elif key in df.columns:
            terms.append(
                f"(case when {_valid_sql(f'`{key}`')} "
                f"then {float(w)!r}d else 0.0d end)"
            )
    earned = " + ".join(terms) if terms else "0.0d"
    return F.expr(f"(({earned}) / {maximum!r}d) * 100")


def model_score(
    df: DataFrame,
    weights: dict[str, float] | None = None,
    total_cancer_annotation_resources: int = 1,
) -> DataFrame:
    """(pdcm_model_id, score) — int(0.9·meta + 0.07·raw + 0.03·annot)."""
    weights = weights or COMMON_WEIGHTS
    meta = metadata_score_pct(df, weights)
    raw = F.when(
        F.col("raw_data_resources").isNotNull()
        & (F.size("raw_data_resources") > 0),
        F.lit(100.0),
    ).otherwise(F.lit(0.0)) if "raw_data_resources" in df.columns else F.lit(0.0)
    annot = (
        F.coalesce(F.size("cancer_annotation_resources"), F.lit(0))
        / F.lit(float(total_cancer_annotation_resources))
        * 100
        if "cancer_annotation_resources" in df.columns
        else F.lit(0.0)
    )
    score = (
        meta * METADATA_WEIGHT + raw * RAW_DATA_WEIGHT + annot * CANCER_ANNOTATION_WEIGHT
    ).cast("int")
    return df.drop_duplicates().select("pdcm_model_id", score.alias("score"))


def scores_json(df: DataFrame) -> DataFrame:
    """(model_id, scores) — the search_index 'scores' JSON column
    (model_characterizations_calculator.py:27-51): pdx_metadata_score for
    PDX models (common + xenograft-specimen weights), in_vitro_metadata_
    score otherwise. ``df`` is the per-model metadata frame (model_type +
    scored columns + JSON aggregates). Nulled branch keys are omitted by
    to_json, matching the reference's per-type score dicts."""
    pdx_pct = metadata_score_pct(df, {**COMMON_WEIGHTS, **PDX_ONLY_WEIGHTS})
    vitro_pct = metadata_score_pct(df, COMMON_WEIGHTS)
    is_pdx = F.lower(F.coalesce(F.col("model_type"), F.lit(""))) == "pdx"
    as_score = lambda pct: (pct * METADATA_WEIGHT).cast("int")  # noqa: E731
    return df.drop_duplicates(["pdcm_model_id"]).select(
        F.col("pdcm_model_id").alias("model_id"),
        F.to_json(
            F.struct(
                F.when(is_pdx, as_score(pdx_pct)).alias("pdx_metadata_score"),
                F.when(~is_pdx, as_score(vitro_pct)).alias(
                    "in_vitro_metadata_score"
                ),
            )
        ).alias("scores"),
    )
