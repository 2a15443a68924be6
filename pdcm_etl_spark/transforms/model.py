"""Model cluster entities.

Parity:
- initial_model: initial_model_transformer_job.py:41-120 — PDX ∪ cell
  model normalization (missing cell columns as empty strings on the PDX
  side, type standardization) + sharing join.
- model: model_transformer_job.py:58-137 — six FK resolutions including a
  multi-column equi join (accessibility) and a null-safe join (contact
  people).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pdcm_etl_spark.functions.cleaner import lower_and_trim_all, trim_all
from pdcm_etl_spark.functions.ids import add_id, portable_hash_id
from pdcm_etl_spark.functions.joins import transform_to_fk
from pdcm_etl_spark.sources.tsv import PROVIDER_COL

_CELL_ONLY_COLS = [
    "rrid", "model_name", "model_name_aliases", "growth_properties",
    "growth_media", "media_id", "plate_coating", "other_plate_coating",
    "passage_number", "contaminated", "contamination_details", "supplements",
    "drug", "drug_concentration",
]

_SHARED_COLS = [
    "model_id", "publications", "external_ids", "supplier", "supplier_type",
    "catalog_number", "vendor_link", "parent_id", "origin_patient_sample_id",
]


def initial_model(
    raw_model: DataFrame, raw_cell_model: DataFrame, raw_sharing: DataFrame
) -> DataFrame:
    """PDX ∪ cell models, normalized to one schema, joined with sharing."""
    pdx = raw_model.select(
        *_SHARED_COLS,
        *[F.lit("").alias(c) for c in _CELL_ONLY_COLS],
        F.col(PROVIDER_COL),
    ).drop_duplicates().withColumn("type", F.lit("PDX"))

    cell = (
        raw_cell_model.select(
            *_SHARED_COLS, *_CELL_ONLY_COLS, "type", F.col(PROVIDER_COL)
        )
        .drop_duplicates()
        .withColumn("type", lower_and_trim_all("type"))
        .withColumn(
            "type",
            F.when(F.col("type") == "cell line", "cell line")
            .when(F.col("type").like("%organoid%"), "organoid")
            .otherwise(F.lit("other")),
        )
    )
    union = pdx.unionByName(cell).withColumnRenamed("model_id", "external_model_id")

    sharing = raw_sharing.select(
        F.col("model_id").alias("external_model_id"),
        trim_all("accessibility").alias("accessibility"),
        trim_all("europdx_access_modality").alias("europdx_access_modality"),
        "email", "name", "form_url", "database_url", "license",
        "date_submitted", "model_availability",
        F.col(PROVIDER_COL),
    ).drop_duplicates()

    out = union.join(sharing, on=["external_model_id", PROVIDER_COL], how="left")
    # The model id is PUBLISHED as search_index.pdcm_model_id, so unlike
    # the other fact ids it uses the engine-portable md5-based hash
    # (round-3 verdict item 4): same map-side/no-shuffle profile as
    # hash_id, but the DuckDB oracle can re-derive it, which makes the
    # flagship's 67th column hash-checkable.
    return out.withColumn(
        "id", portable_hash_id("external_model_id", PROVIDER_COL)
    )


def model(
    initial_model_df: DataFrame,
    publication_group_df: DataFrame,
    accessibility_group_df: DataFrame,
    contact_people_df: DataFrame,
    contact_form_df: DataFrame,
    source_database_df: DataFrame,
    license_df: DataFrame,
) -> DataFrame:
    """Resolve the six dimension FKs. All dims broadcast; the fact side
    keeps its partitioning throughout (no shuffle for any FK join)."""
    m = initial_model_df

    m = transform_to_fk(
        m, publication_group_df, "publications", "pubmed_ids", "id", "publication_group_id"
    )

    ag = F.broadcast(
        accessibility_group_df.withColumnRenamed("id", "accessibility_group_id")
    )
    m = m.withColumnRenamed("europdx_access_modality", "europdx_access_modalities").join(
        ag, on=["accessibility", "europdx_access_modalities"], how="left"
    )

    cp = F.broadcast(
        contact_people_df.select(
            F.col("id").alias("contact_people_id"),
            F.col("name_list").alias("cp_name"),
            F.col("email_list").alias("cp_email"),
            F.col(PROVIDER_COL).alias("cp_provider"),
        )
    )
    m = (
        m.withColumn("name_t", trim_all("name"))
        .withColumn("email_t", trim_all("email"))
        .join(
            cp,
            F.col("name_t").eqNullSafe(F.col("cp_name"))
            & F.col("email_t").eqNullSafe(F.col("cp_email"))
            & (F.col(PROVIDER_COL) == F.col("cp_provider")),
            "left",
        )
        .drop("cp_name", "cp_email", "cp_provider", "name_t", "email_t", "name", "email")
    )

    m = transform_to_fk(m, contact_form_df, "form_url", "form_url", "id", "contact_form_id")
    m = transform_to_fk(
        m, source_database_df, "database_url", "database_url", "id", "source_database_id"
    )

    lic = F.broadcast(
        license_df.select(
            F.col("id").alias("license_id"),
            F.col("name").alias("license_name"),
            F.col("url").alias("license_url"),
        )
    )
    m = m.join(lic, m.license == lic.license_name, "left").drop("license")

    return m.select(
        "id", "external_model_id", "type", "publication_group_id",
        "accessibility_group_id", "contact_people_id", "contact_form_id",
        "source_database_id", "license_id", "license_name", "license_url",
        "external_ids", "supplier", "supplier_type", "catalog_number",
        "vendor_link", "rrid", "parent_id", "origin_patient_sample_id",
        "model_name", "model_name_aliases", "growth_properties", "growth_media",
        "media_id", "plate_coating", "other_plate_coating", "passage_number",
        "contaminated", "contamination_details", "supplements", "drug",
        "drug_concentration", "date_submitted", "model_availability",
        PROVIDER_COL,
    )


def cell_model(raw_cell_model: DataFrame, model_df: DataFrame) -> DataFrame:
    """cell_model entity (cell_model_transformer_job.py:29-49): the raw
    cell-model rows with the internal model FK resolved on
    (external_model_id, provider). The reference joins on external id
    alone; the 2-key join is the correct grain across ~56 providers
    (external ids are only provider-unique)."""
    c = raw_cell_model.withColumnRenamed("model_id", "external_model_id")
    m = model_df.select(
        F.col("id").alias("model_id"),
        "external_model_id",
        F.col(PROVIDER_COL).alias("__m_provider"),
    )
    c = c.join(
        F.broadcast(m),
        (c.external_model_id == m.external_model_id)
        & (c[PROVIDER_COL] == m["__m_provider"]),
        "left",
    ).drop(m.external_model_id).drop("__m_provider")
    c = c.withColumnRenamed(PROVIDER_COL, "provider_abb")
    return add_id(c, "id", key_cols=["external_model_id", "provider_abb"], fact=True)
