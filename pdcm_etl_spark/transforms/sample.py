"""Patient-sample cluster: tissue & tumour_type dims + patient_sample.

Parity: tissue_transformer_job / tumour_type_transformer_job (name dims
over sample columns, built as one family by dims.name_dims) and
patient_sample_transformer_job.py:40-120 — extract, clean, FK patient
(2-key join with provider), tissue FKs for primary & collection site,
tumour_type FK, model name link.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pdcm_etl_spark.functions.cleaner import init_cap_and_trim_all, lower_and_trim_all
from pdcm_etl_spark.functions.ids import add_id
from pdcm_etl_spark.functions.joins import transform_to_fk
from pdcm_etl_spark.sources.tsv import PROVIDER_COL
from pdcm_etl_spark.transforms.dims import NameDims, name_dims


SAMPLE_NAME_DIMS: NameDims = {
    # distinct lowercased site names from primary + collection site
    "tissue": (lower_and_trim_all, ("primary_site", "collection_site")),
    "tumour_type": (init_cap_and_trim_all, ("tumour_type",)),
}


def sample_name_dims(raw_sample: DataFrame) -> DataFrame:
    """tissue + tumour_type as one ``(dim, id, name)`` family
    (``dims.name_dims``)."""
    return name_dims([raw_sample], SAMPLE_NAME_DIMS)


def patient_sample(
    raw_sample: DataFrame,
    patient_df: DataFrame,
    tissue_df: DataFrame,
    tumour_type_df: DataFrame,
    model_df: DataFrame,
) -> DataFrame:
    ps = (
        raw_sample.select(
            "diagnosis",
            F.col("sample_id").alias("external_patient_sample_id"),
            "grade", "grading_system", "stage", "staging_system",
            F.lower(F.col("primary_site")).alias("primary_site"),
            F.lower(F.col("collection_site")).alias("collection_site"),
            init_cap_and_trim_all("treated_prior_to_collection").alias("prior_treatment"),
            init_cap_and_trim_all("tumour_type").alias("tumour_type"),
            F.col("patient_id").alias("external_patient_id"),
            "age_in_years_at_collection", "collection_event", "collection_date",
            "collection_method", "months_since_collection_1",
            "gene_mutation_status", "treatment_naive_at_collection",
            "treated_at_collection", "response_to_treatment",
            "virology_status", "sharable",
            F.col("model_id").alias("model_name"),
            F.col(PROVIDER_COL),
        )
        .where("external_patient_sample_id is not null")
        .drop_duplicates()
    )

    pat = patient_df.select(
        F.col("id").alias("patient_id"), "external_patient_id", PROVIDER_COL
    )
    ps = ps.join(F.broadcast(pat), on=["external_patient_id", PROVIDER_COL], how="left")

    ps = transform_to_fk(ps, tissue_df, "primary_site", "name", "id", "primary_site_id")
    ps = transform_to_fk(ps, tissue_df, "collection_site", "name", "id", "collection_site_id")
    ps = transform_to_fk(ps, tumour_type_df, "tumour_type", "name", "id", "tumour_type_id")

    mdl = model_df.select(
        F.col("id").alias("model_id"),
        F.col("external_model_id").alias("model_name"),
        PROVIDER_COL,
    )
    ps = ps.join(F.broadcast(mdl), on=["model_name", PROVIDER_COL], how="left")
    return add_id(ps, "id", key_cols=["external_patient_sample_id", PROVIDER_COL], fact=True)


def platform(raw_molchar_platform: DataFrame, provider_group: DataFrame) -> DataFrame:
    """Sequencing-platform dim (platform_transformer_job.py:30-76): distinct
    platform metadata rows with the provider_group FK resolved.

    Scale: pure distinct + broadcast dim join — one shuffle on the
    (small) distinct key set."""
    p = raw_molchar_platform.select(
        "instrument_model",
        "library_strategy",
        "library_selection",
        "platform_id",
        "molecular_characterisation_type",
        F.col(PROVIDER_COL),
    ).drop_duplicates()
    pg = provider_group.select(
        F.col("data_source_tmp").alias("__pg_key"), F.col("id").alias("provider_group_id")
    )
    p = p.join(
        F.broadcast(pg), p[PROVIDER_COL] == pg["__pg_key"], "left"
    ).drop("__pg_key")
    p = add_id(
        p, "id", key_cols=["platform_id", "molecular_characterisation_type", PROVIDER_COL]
    )
    return p.select(
        "id", "library_strategy", "provider_group_id", "instrument_model",
        "library_selection", "platform_id", "molecular_characterisation_type",
        PROVIDER_COL,
    )


def _origin_sample(
    raw_molchar_sample: DataFrame,
    model: DataFrame,
    platform_df: DataFrame,
    origin: str,
    ext_id_name: str,
    extra_cols: list[str],
) -> DataFrame:
    """Shared body of cell/xenograft sample (cell_sample_transformer_job.py
    :36-80, xenograft_sample_transformer_job.py:37-92): filter on
    sample_origin, resolve model (2-key) and platform FKs."""
    s = (
        raw_molchar_sample.where(F.lower(F.trim(F.col("sample_origin"))) == origin)
        .select(
            F.col("sample_id").alias(ext_id_name),
            F.col("model_id").alias("external_model_id"),
            "passage",
            *extra_cols,
            F.col("platform_id").alias("external_platform_id"),
            F.col(PROVIDER_COL),
        )
        .drop_duplicates()
    )
    m = model.select(
        F.col("id").alias("model_id"),
        "external_model_id",
        F.col(PROVIDER_COL).alias("__m_provider"),
    )
    s = s.join(
        F.broadcast(m),
        (s.external_model_id == m.external_model_id)
        & (s[PROVIDER_COL] == m["__m_provider"]),
        "left",
    ).drop(m.external_model_id).drop("__m_provider")
    pl = platform_df.select(
        F.col("platform_id").alias("__pl_key"), F.col("id").alias("platform_fk")
    )
    s = (
        s.join(F.broadcast(pl), s.external_platform_id == pl["__pl_key"], "left")
        .drop("__pl_key", "external_platform_id")
        .withColumnRenamed("platform_fk", "platform_id")
    )
    return s


def cell_sample(
    raw_molchar_sample: DataFrame, model: DataFrame, platform_df: DataFrame
) -> DataFrame:
    """cell_sample entity (cell_sample_transformer_job.py:36-80)."""
    s = _origin_sample(
        raw_molchar_sample, model, platform_df, "cell", "external_cell_sample_id", []
    )
    s = add_id(s, "id", key_cols=["external_cell_sample_id", PROVIDER_COL], fact=True)
    return s.select(
        "id", "external_cell_sample_id", "passage", "model_id", "platform_id",
        PROVIDER_COL,
    )


def xenograft_sample(
    raw_molchar_sample: DataFrame,
    host_strain: DataFrame,
    model: DataFrame,
    platform_df: DataFrame,
) -> DataFrame:
    """xenograft_sample entity (xenograft_sample_transformer_job.py:37-92):
    adds the host-strain nomenclature FK on top of the shared body."""
    s = _origin_sample(
        raw_molchar_sample, model, platform_df, "xenograft",
        "external_xenograft_sample_id", ["host_strain_nomenclature"],
    )
    s = transform_to_fk(
        s, host_strain, "host_strain_nomenclature", "nomenclature", "id",
        "host_strain_id",
    )
    s = add_id(s, "id", key_cols=["external_xenograft_sample_id", PROVIDER_COL], fact=True)
    return s.select(
        "id", "external_xenograft_sample_id", "passage", "host_strain_id",
        "model_id", "platform_id", PROVIDER_COL,
    )
