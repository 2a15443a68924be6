"""Dimension entities derived from the metadata modules.

Parity targets (semantics, not code):
- ethnicity:          ethnicity_transformer_job.py:26-38
- provider_type:      provider_type_transformer_job.py (distinct from source)
- project_group:      project_group_transformer_job.py
- provider_group:     provider_group_transformer_job.py:34-86
- publication_group:  publication_group_transformer_job.py:27-41
- accessibility_group: accessibility_group_transformer_job.py:30-43
- contact_people:     contact_people_transformer_job.py:27-44
- contact_form / source_database: sharing-derived URL dims
- license:            license_transformer_job.py:27-34 (static)

All dims end in (id, business columns) with a deterministic dense id over
the business key. They are small by construction → always broadcast on the
FK side.

One name-dim builder: every one-column distinct-name dim (here
ethnicity, provider_type, project_group; the engraftment, tissue /
tumour_type and response dims in their own modules) comes out of
``name_dims``. The dims that read the same raw module(s) form one family
and are built in one plan: tagged ``(dim, name)`` rows, distinct, then
``dense_rank()`` partitioned by dim and ordered by name, so each dim's
ids equal its own dense rank. ``name_dim`` slices one dim back out; the
entity DAG shares the family plan once and wires each dim as a cheap
slice of it.
"""

from __future__ import annotations

from functools import reduce
from typing import Callable

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pdcm_etl_spark.functions.cleaner import init_cap_and_trim_all, trim_all
from pdcm_etl_spark.functions.ids import add_id
from pdcm_etl_spark.sources.tsv import PROVIDER_COL


# dim -> (clean function, source columns): one family of name dims
NameDims = dict[str, tuple[Callable[[str], Column], tuple[str, ...]]]

SOURCE_NAME_DIMS: NameDims = {
    "provider_type": (trim_all, ("provider_type",)),
    "project_group": (trim_all, ("project",)),
}


def name_dims(frames: list[DataFrame], dims: NameDims) -> DataFrame:
    """``(dim, id, name)`` for a family of one-column distinct-name dims
    over the same raw frame(s): each row is cleaned and tagged once per
    (dim, source column), empty and null names are dropped, and ids are
    the dense rank of the name within its dim. One shuffle on the dim
    tag serves the distinct and the rank window alike."""
    cols = [
        F.struct(F.lit(dim).alias("dim"), clean(c).alias("name"))
        for dim, (clean, src_cols) in dims.items()
        for c in src_cols
    ]
    tagged = reduce(
        DataFrame.unionByName,
        [df.select(F.inline(F.array(*cols))) for df in frames],
    )
    return (
        tagged.where("name is not null and name != ''")
        .repartition("dim")
        .distinct()
        .withColumn(
            "id",
            F.dense_rank().over(Window.partitionBy("dim").orderBy("name")).cast("bigint"),
        )
        .select("dim", "id", "name")
    )


def name_dim(family: DataFrame, dim: str) -> DataFrame:
    """One dim's ``(id, name)`` rows out of a ``name_dims`` family."""
    return family.where(F.col("dim") == dim).select("id", "name")


def ethnicity(raw_patient: DataFrame) -> DataFrame:
    dims = {"ethnicity": (init_cap_and_trim_all, ("ethnicity",))}
    return name_dim(name_dims([raw_patient], dims), "ethnicity")


def source_name_dims(raw_source: DataFrame) -> DataFrame:
    """provider_type + project_group as one ``(dim, id, name)`` family."""
    return name_dims([raw_source], SOURCE_NAME_DIMS)


def provider_group(
    raw_source: DataFrame, provider_type_df: DataFrame, project_group_df: DataFrame
) -> DataFrame:
    """One row per provider with provider_type/project_group FKs resolved."""
    base = raw_source.select(
        trim_all("provider_name").alias("name"),
        trim_all("provider_abbreviation").alias("abbreviation"),
        trim_all("provider_description").alias("description"),
        trim_all("provider_type").alias("provider_type_name"),
        trim_all("project").alias("project_name"),
        F.col(PROVIDER_COL),
    ).drop_duplicates()
    pt = F.broadcast(
        provider_type_df.select(
            F.col("id").alias("provider_type_id"), F.col("name").alias("provider_type_name")
        )
    )
    pj = F.broadcast(
        project_group_df.select(
            F.col("id").alias("project_group_id"), F.col("name").alias("project_name")
        )
    )
    out = (
        base.join(pt, "provider_type_name", "left")
        .join(pj, "project_name", "left")
        .drop("provider_type_name", "project_name")
    )
    out = add_id(out, "id", key_cols=["abbreviation"])
    return out.select(
        "id", "name", "abbreviation", "description",
        "provider_type_id", "project_group_id", PROVIDER_COL,
    )


def publication_group(raw_model: DataFrame, raw_cell_model: DataFrame) -> DataFrame:
    """Distinct publication strings across PDX + cell models → pubmed_ids."""
    pubs = (
        raw_model.select("publications")
        .where("publications is not null")
        .unionByName(
            raw_cell_model.select("publications").where("publications is not null")
        )
        .distinct()
        .withColumnRenamed("publications", "pubmed_ids")
    )
    return add_id(pubs, "id", key_cols=["pubmed_ids"]).select("id", "pubmed_ids")


def accessibility_group(raw_sharing: DataFrame) -> DataFrame:
    out = (
        raw_sharing.select(
            trim_all("europdx_access_modality").alias("europdx_access_modalities"),
            trim_all("accessibility").alias("accessibility"),
        )
        .drop_duplicates()
    )
    out = add_id(out, "id", key_cols=["europdx_access_modalities", "accessibility"])
    return out.select("id", "europdx_access_modalities", "accessibility")


def contact_people(raw_sharing: DataFrame) -> DataFrame:
    out = (
        raw_sharing.select(
            trim_all("name").alias("name_list"),
            trim_all("email").alias("email_list"),
            F.col(PROVIDER_COL),
        )
        .where("name_list is not null or email_list is not null")
        .drop_duplicates()
    )
    out = add_id(out, "id", key_cols=["name_list", "email_list", PROVIDER_COL])
    return out.select("id", "name_list", "email_list", PROVIDER_COL)


def contact_form(raw_sharing: DataFrame) -> DataFrame:
    out = (
        raw_sharing.select(trim_all("form_url").alias("form_url"))
        .where("form_url is not null")
        .drop_duplicates()
    )
    return add_id(out, "id", key_cols=["form_url"]).select("id", "form_url")


def source_database(raw_sharing: DataFrame) -> DataFrame:
    out = (
        raw_sharing.select(trim_all("database_url").alias("database_url"))
        .where("database_url is not null")
        .drop_duplicates()
    )
    return add_id(out, "id", key_cols=["database_url"]).select("id", "database_url")


def license_table(spark: SparkSession) -> DataFrame:
    """Static license dim (ref license_transformer_job.py:27-34)."""
    from pdcm_etl_spark.functions.local_table import values_table

    return values_table(
        spark,
        [
            (1, "EMBL-EBI", "https://www.ebi.ac.uk/about/terms-of-use"),
            (2, "CC0", "https://creativecommons.org/publicdomain/zero/1.0/"),
        ],
        "id long, name string, url string",
    )
