"""PDX specimen cluster: engraftment dims, host strains, xenograft model
specimens, quality assurance.

Parity targets (semantics):
- engraftment_site/type/sample_type/sample_state dims: name dims over the
  PDX model module columns, built as one family (dims.name_dims)
- host_strain: host_strain_transformer_job.py:28-56 — (name, nomenclature)
  with nomenclature uniqueness kept via row_number (our version makes the
  pick deterministic by ordering on name, not just the partition key)
- xenograft_model_specimen: xenograft_model_specimen_transformer_job.py:
  35-110 — clean + 6 FK resolutions
- quality_assurance: quality_assurance_transformer_job.py:30-55 — model
  validation rows with the model FK (inner join drops orphans)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pdcm_etl_spark.functions.cleaner import init_cap_and_trim_all, lower_and_trim_all, trim_all
from pdcm_etl_spark.functions.ids import add_id
from pdcm_etl_spark.functions.joins import transform_to_fk
from pdcm_etl_spark.sources.tsv import PROVIDER_COL
from pdcm_etl_spark.transforms.dims import NameDims, name_dims


MODEL_NAME_DIMS: NameDims = {
    "engraftment_site": (init_cap_and_trim_all, ("engraftment_site",)),
    "engraftment_type": (init_cap_and_trim_all, ("engraftment_type",)),
    "engraftment_sample_type": (init_cap_and_trim_all, ("sample_type",)),
    "engraftment_sample_state": (init_cap_and_trim_all, ("sample_state",)),
}


def model_name_dims(raw_model: DataFrame) -> DataFrame:
    """The four engraftment name dims over the PDX model module, as one
    ``(dim, id, name)`` family (``dims.name_dims``)."""
    return name_dims([raw_model], MODEL_NAME_DIMS)


def host_strain(raw_model: DataFrame) -> DataFrame:
    """(name, nomenclature) unique by nomenclature; deterministic winner
    (min name) where the reference's row_number pick was partition-order
    dependent."""
    hs = raw_model.select(
        lower_and_trim_all("host_strain_name").alias("name"),
        trim_all("host_strain_nomenclature").alias("nomenclature"),
    )
    w = Window.partitionBy("nomenclature").orderBy(F.col("name").asc_nulls_last())
    out = (
        hs.withColumn("row", F.row_number().over(w))
        .filter(F.col("row") == 1)
        .drop("row")
        .where("name is not null")
    )
    return add_id(out, "id", key_cols=["nomenclature"]).select("id", "name", "nomenclature")


def xenograft_model_specimen(
    raw_model: DataFrame,
    engraftment_site_df: DataFrame,
    engraftment_type_df: DataFrame,
    engraftment_sample_type_df: DataFrame,
    engraftment_sample_state_df: DataFrame,
    model_df: DataFrame,
    host_strain_df: DataFrame,
) -> DataFrame:
    sp = (
        raw_model.select(
            F.col("model_id").alias("external_model_id"),
            trim_all("host_strain_nomenclature").alias("host_strain_nomenclature"),
            "passage_number",
            init_cap_and_trim_all("engraftment_site").alias("engraftment_site"),
            init_cap_and_trim_all("engraftment_type").alias("engraftment_type"),
            init_cap_and_trim_all("sample_type").alias("sample_type"),
            init_cap_and_trim_all("sample_state").alias("sample_state"),
            F.col(PROVIDER_COL),
        )
        .drop_duplicates()
    )
    sp = transform_to_fk(sp, engraftment_site_df, "engraftment_site", "name", "id", "engraftment_site_id")
    sp = transform_to_fk(sp, engraftment_type_df, "engraftment_type", "name", "id", "engraftment_type_id")
    sp = transform_to_fk(sp, engraftment_sample_type_df, "sample_type", "name", "id", "engraftment_sample_type_id")
    sp = transform_to_fk(sp, engraftment_sample_state_df, "sample_state", "name", "id", "engraftment_sample_state_id")

    mdl = F.broadcast(
        model_df.select(
            F.col("id").alias("model_id"), "external_model_id", PROVIDER_COL
        )
    )
    sp = sp.join(mdl, on=["external_model_id", PROVIDER_COL], how="left")
    hs = F.broadcast(
        host_strain_df.select(
            F.col("id").alias("host_strain_id"), "nomenclature"
        )
    )
    sp = sp.join(hs, sp.host_strain_nomenclature == hs.nomenclature, "left").drop("nomenclature")
    return add_id(
        sp, "id",
        key_cols=["external_model_id", "host_strain_nomenclature",
                  "passage_number", PROVIDER_COL],
        fact=True,
    )


def quality_assurance(raw_model_validation: DataFrame, model_df: DataFrame) -> DataFrame:
    qa = raw_model_validation.withColumn(
        "validation_technique", init_cap_and_trim_all("validation_technique")
    ).withColumnRenamed("model_id", "external_model_id")
    mdl = F.broadcast(
        model_df.select(
            F.col("id").alias("model_id"), "external_model_id", PROVIDER_COL
        )
    )
    qa = qa.join(mdl, on=["external_model_id", PROVIDER_COL], how="inner")
    return add_id(
        qa, "id", key_cols=["external_model_id", "validation_technique", PROVIDER_COL],
        fact=True,
    )
