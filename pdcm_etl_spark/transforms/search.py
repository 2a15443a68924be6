"""Search-layer transforms.

Parity targets:
- _bin_age UDF → pure when-chain (search_index_patient_sample_transformer
  _job.py:154-172). Boundary quirk preserved: ages on a decade boundary
  fall in the LOWER bin (the reference's inclusive-upper ranges, e.g. age
  10 → '2 - 9'); unparseable / 'not …' → 'Not Provided'; >100 passes
  through unchanged.
- search_terms / cancer_system array ops (:129-147): term_name + '|'-split
  ancestors minus the top-level exclusions; cancer_system = first
  intersection with the curated system list, else 'Unclassified'.
- patient_sex normalization (:110-117).
- search_index_patient_sample assembly (:74-92).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

NOT_PROVIDED = "Not Provided"

CANCER_SYSTEMS = [
    "Breast Cancer", "Cardiovascular Cancer", "Connective and Soft Tissue Cancer",
    "Digestive System Cancer", "Endocrine Cancer", "Eye Cancer",
    "Head and Neck Cancer", "Hematopoietic and Lymphoid System Cancer",
    "Nervous System Cancer", "Peritoneal and Retroperitoneal Cancer",
    "Reproductive System Cancer", "Respiratory Tract Cancer", "Thoracic Cancer",
    "Skin Cancer", "Urinary System Cancer", "Unclassified",
]

EXCLUDE_TOP_LEVEL_TERMS = [
    "Cancer", "Cancer by Special Category", "Cancer by Morphology", "Cancer by Site",
]


def bin_age(age_str: Column | str) -> Column:
    """Age-string → display bucket, as a codegen'd expression (the
    reference round-trips every row through a Python UDF for this)."""
    c = F.col(age_str) if isinstance(age_str, str) else age_str
    age = c.try_cast("double")
    expr = (
        F.when(c.isNull() | F.lower(c).contains("not"), NOT_PROVIDED)
        .when(F.lower(c).contains("months"), "0 - 23 months")
        .when(age.isNull(), NOT_PROVIDED)  # unparseable, e.g. free text
        .when(age < 2, "0 - 23 months")
        .when(age <= 10, "2 - 9")
    )
    for lo in range(10, 100, 10):
        expr = expr.when(age <= lo + 10, f"{lo} - {lo + 9}")
    return expr.otherwise(c)


def normalize_sex(sex: Column | str) -> Column:
    c = F.col(sex) if isinstance(sex, str) else sex
    return F.when(F.lower(c).contains("not"), NOT_PROVIDED).otherwise(F.lower(c))


def extend_sample_with_ontology(
    sample_to_ontology_df: DataFrame, ontology_term_diagnosis_df: DataFrame
) -> DataFrame:
    """search_terms = {histology} ∪ ancestors − top-level noise;
    cancer_system = first curated-system hit, else 'Unclassified'."""
    terms = ontology_term_diagnosis_df.select(
        F.col("id").alias("ontology_term_id"), "term_name", "ancestors"
    )
    out = sample_to_ontology_df.join(F.broadcast(terms), "ontology_term_id", "left")
    exclude = F.array(*[F.lit(t) for t in EXCLUDE_TOP_LEVEL_TERMS])
    systems = F.array(*[F.lit(s) for s in CANCER_SYSTEMS])
    out = out.withColumn(
        "search_terms",
        F.array_except(
            F.split(F.concat_ws("|", "term_name", "ancestors"), r"\|"), exclude
        ),
    )
    out = out.withColumn(
        "cancer_system",
        F.coalesce(
            # F.get (not getItem): ANSI mode throws on empty arrays
            F.get(F.array_intersect(systems, F.col("search_terms")), 0),
            F.lit("Unclassified"),
        ),
    )
    return out.withColumn("histology", F.col("term_name"))


def search_index(
    model_df: DataFrame,
    search_index_patient_sample_df: DataFrame,
    model_aggregates: list[DataFrame],
    provider_group_df: DataFrame,
    project_group_df: DataFrame,
) -> DataFrame:
    """The denormalized wide search table (search_index_transformer_job.py
    :42-126): model spine ⟕ provider/project names ⟕ patient/sample
    slice ⟕ each per-model aggregate (dataset_available, marker lists,
    msi/hla, treatments, scores…). Every aggregate frame must carry a
    ``model_id`` column; all joins are left joins on the model spine so
    models without molecular or treatment data still appear."""
    spine_cols = [
        F.col("id").alias("pdcm_model_id"),
        F.col("external_model_id"),
        F.col("type").alias("model_type"),
        F.col("data_source_tmp").alias("data_source"),
    ]
    # model passthroughs the reference search_index carries
    # (entities_registry SEARCH_INDEX_ENTITY: supplier…date_submitted)
    for opt in ("supplier", "supplier_type", "catalog_number", "vendor_link",
                "rrid", "external_ids", "license_name", "license_url",
                "model_availability", "date_submitted"):
        spine_cols.append(
            F.col(opt) if opt in model_df.columns
            else F.lit(None).cast("string").alias(opt)
        )
    pg = provider_group_df.join(
        F.broadcast(project_group_df.select(
            F.col("id").alias("project_group_id"),
            F.col("name").alias("project_name"),
        )),
        "project_group_id", "left",
    )
    providers = F.broadcast(
        pg.select(
            F.col("data_source_tmp").alias("data_source"),
            F.col("name").alias("provider_name"),
            "project_name",
        ).dropDuplicates(["data_source"])
    )
    spine = model_df.select(*spine_cols).join(providers, "data_source", "left")
    out = spine.join(search_index_patient_sample_df, "pdcm_model_id", "left")
    # N per-model aggregates as ONE union + groupBy + single left join
    # instead of N sort-merge joins (2N exchanges) — see
    # functions.joins.merge_keyed_aggregates for the scale rationale
    from pdcm_etl_spark.functions.joins import merge_keyed_aggregates

    merged = merge_keyed_aggregates(
        model_aggregates, "pdcm_model_id", rename_key="model_id"
    )
    if merged is not None:
        out = out.join(merged, "pdcm_model_id", "left")
    # dataset_available also flags treatment / publication availability
    # (model_metadata_transformer_job.py:236-266): append the marker when
    # the corresponding per-model data exists. The three appends COMPOSE
    # as one nested expression inside a single select — this frame is the
    # widest in the pipeline (~67 columns), and each withColumn re-runs
    # full plan analysis over it (~0.1s of driver time per call at
    # flagship width; round-2 verdict item 7).
    if "dataset_available" in out.columns:
        def _append_marker(da: Column, present: Column, marker: str) -> Column:
            return (
                F.when(
                    present,
                    F.when(
                        da.isNotNull(),
                        F.concat(da, F.array(F.lit(marker))),
                    ).otherwise(F.array(F.lit(marker))),
                )
                .otherwise(da)
            )

        da = F.col("dataset_available")
        for src, marker in (
            ("model_treatments", "model treatment"),
            ("patient_treatments", "patient treatment"),
        ):
            if src in out.columns:
                present = F.col(src).isNotNull() & (F.size(src) > 0)
                da = _append_marker(da, present, marker)
        if "pdx_model_publications" in out.columns:
            da = _append_marker(
                da, F.col("pdx_model_publications").isNotNull(), "publication"
            )
        out = out.select(
            *[c for c in out.columns if c != "dataset_available"],
            da.alias("dataset_available"),
        )
    return out


def search_index_patient_sample(
    patient_sample_df: DataFrame,
    patient_df: DataFrame,
    sample_to_ontology_df: DataFrame,
    ontology_term_diagnosis_df: DataFrame,
    tissue_df: DataFrame,
    tumour_type_df: DataFrame,
    ethnicity_df: DataFrame,
) -> DataFrame:
    """The search_index's patient/sample slice: sample ⋈ ontology ⋈
    patient, age binned, sex normalized. The dims resolve the
    sample's tissue/tumour-type and the patient's ethnicity FKs back to
    display names — the reference search_index carries primary_site /
    collection_site / tumour_type / patient_ethnicity as names
    (views.sql models_by_primary_site / _tumour_type / _patient_ethnicity
    group on them). Dims are tiny → broadcast joins."""
    onto = extend_sample_with_ontology(sample_to_ontology_df, ontology_term_diagnosis_df)
    ps = patient_sample_df.join(
        onto, patient_sample_df.id == onto.sample_id, "left"
    ).drop("sample_id")

    pat_cols = [
        F.col("id").alias("patient_internal_id"),
        normalize_sex("sex").alias("patient_sex"),
        "history",
        "initial_diagnosis",
        "age_at_initial_diagnosis",
        F.col("ethnicity_id").alias("patient_ethnicity_id"),
    ]
    # newer patient columns (entities_registry PATIENT_ENTITY) — absent in
    # older fixtures
    for opt in ("age_category", "ethnicity_assessment_method"):
        pat_cols.append(
            F.col(opt) if opt in patient_df.columns
            else F.lit(None).cast("string").alias(opt)
        )
    pat = patient_df.select(*pat_cols)
    out = ps.join(pat, ps.patient_id == pat.patient_internal_id, "left")
    out = out.withColumn("patient_age", bin_age("age_in_years_at_collection"))

    def dim_name(df, key_col, out_col):
        return F.broadcast(
            df.select(F.col("id").alias(key_col), F.col("name").alias(out_col))
        )

    out = (
        out.join(
            dim_name(tissue_df, "primary_site_id", "primary_site"),
            "primary_site_id", "left",
        )
        .join(
            dim_name(tissue_df, "collection_site_id", "collection_site"),
            "collection_site_id", "left",
        )
        .join(
            dim_name(tumour_type_df, "tumour_type_id", "tumour_type"),
            "tumour_type_id", "left",
        )
        .join(
            dim_name(ethnicity_df, "patient_ethnicity_id", "patient_ethnicity"),
            "patient_ethnicity_id", "left",
        )
    )
    # passthroughs carried under the reference search_index names
    # (entities_registry SEARCH_INDEX_ENTITY): patient_sample_<col> —
    # aliased inline in the ONE final select instead of a 9-step
    # withColumn chain over the wide frame (each step is a full analysis
    # pass; round-2 verdict item 7)
    ps_passthrough = [
        "collection_date", "collection_event", "collection_method",
        "months_since_collection_1", "gene_mutation_status",
        "virology_status", "sharable", "treatment_naive_at_collection",
        "treated_at_collection",
    ]
    ps_cols = [
        (F.col(c) if c in out.columns else F.lit(None).cast("string")).alias(
            f"patient_sample_{c}"
        )
        for c in ps_passthrough
    ]
    return out.select(
        F.col("model_id").alias("pdcm_model_id"),
        # legacy external_* aliases kept alongside the reference names
        F.col("external_patient_id").alias("patient_id"),
        F.col("external_patient_sample_id").alias("patient_sample_id"),
        "diagnosis",
        "histology",
        "search_terms",
        "cancer_system",
        "patient_age",
        F.col("age_category").alias("patient_age_category"),
        "patient_sex",
        F.col("history").alias("patient_history"),
        F.col("ethnicity_assessment_method")
            .alias("patient_ethnicity_assessment_method"),
        F.col("initial_diagnosis").alias("patient_initial_diagnosis"),
        F.col("age_at_initial_diagnosis")
            .alias("patient_age_at_initial_diagnosis"),
        F.col("prior_treatment")
            .alias("patient_sample_treated_prior_to_collection"),
        F.col("grade").alias("cancer_grade"),
        F.col("grading_system").alias("cancer_grading_system"),
        F.col("stage").alias("cancer_stage"),
        F.col("staging_system").alias("cancer_staging_system"),
        F.col("response_to_treatment")
            .alias("patient_sample_response_to_treatment"),
        "ontology_term_id",
        "primary_site",
        "collection_site",
        "tumour_type",
        "patient_ethnicity",
        *ps_cols,
    )
