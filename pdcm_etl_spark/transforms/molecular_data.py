"""Molecular measurement-data tables + per-model search aggregates.

Parity targets (semantics):
- measurement tables (mutation/cna/expression/biomarker/immunemarker):
  per-type transformer jobs — harmonise symbols against the gene marker
  reference, resolve the molecular_characterization FK on
  (sample_id, platform, provider) (molecular_characterization_fk_assigner
  .py:33-36), keep typed measurement columns.
- per-model aggregates for the search index
  (search_index_molecular_data_transformer_job.py): markers-with-data
  sets, MSI status, HLA types, breast-cancer biomarkers, raw-data and
  annotation resources — one aggregation, molecular_aggregates_per_model
  — and dataset_available (distinct molchar types with data).

Scale: measurement tables are the 100 TB side. The molchar FK join keys
on (sample, platform, provider) — molchar metadata broadcasts; the gene
reference (~40k) broadcasts into the harmonisation cascade; the only
fact-scale shuffle is the one per-model collect_set aggregation, which
is map-side-combined sets of short strings.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pdcm_etl_spark.functions.ids import hash_id
from pdcm_etl_spark.sources.tsv import PROVIDER_COL

BREAST_CANCER_GENES = ["ERBB2", "ESR1", "PGR"]


def measurement_data(
    raw_df: DataFrame,
    molchar_df: DataFrame,
    harmonised: DataFrame | None = None,
) -> DataFrame:
    """Generic measurement-table builder: attach a stable row id, resolve
    the molecular_characterization FK; ``harmonised`` (output of
    molecular.harmonise_marker_symbols over the same raw rows) replaces
    the raw frame when provided."""
    df = harmonised if harmonised is not None else raw_df
    mc = F.broadcast(
        molchar_df.select(
            F.col("id").alias("molecular_characterization_id"),
            F.col("sample_id"),
            F.col("platform_external_id").alias("platform_id"),
            F.col(PROVIDER_COL),
        )
    )
    out = df.join(mc, on=["sample_id", "platform_id", PROVIDER_COL], how="left")
    # stable fact-scale row id: xxhash64 over the full row (no global sort)
    return out.withColumn("id", hash_id(*out.columns))


def model_molchar(molchar_df: DataFrame) -> DataFrame:
    """(mol_char_id, model_id, molchar_type) lookup used by every
    per-model aggregate."""
    return molchar_df.select(
        F.col("id").alias("mol_char_id"),
        "model_id",
        "molchar_type",
    )


# marker-list column per measurement type (search_index_molecular_data_
# transformer_job.py:296-315), in search_index column order
MARKER_COLUMNS = {
    m: f"markers_with_{m}_data" for m in ("mutation", "cna", "expression", "biomarker")
}


def molecular_aggregates_per_model(
    measurements: dict[str, DataFrame],
    molchar_df: DataFrame,
    model_molchar_df: DataFrame,
    resources_df: DataFrame | None = None,
) -> DataFrame:
    """Every per-model molecular aggregate of search_index in ONE pass:
    a long-format union of ``(mol_char_id, kind, value)`` rows joined to
    model_molchar once and grouped by model once, each kind a conditional
    ``collect_set`` (sorted). ``measurements`` maps measurement type →
    measurement table; the columns are those its module set yields:

    - ``markers_with_<type>_data`` per mutation/cna/expression/biomarker
      table: the distinct marker symbols, ``[]`` for a model with
      molecular characterizations but no rows of the type;
    - ``msi_status`` (marker_type 'Model Genomics', marker_name 'MSI',
      :233-262) and ``hla_types`` (marker_type 'HLA type', :264-291) from
      immunemarker;
    - ``breast_cancer_biomarkers`` (:179-230): 'HER2/ERBB2 positive'-style
      strings for ERBB2/ESR1/PGR with a positive/negative status — the
      display mapping is a when-chain where the reference uses a
      dict-lookup UDF (:191-196);
    - ``raw_data_resources``: archive names ('ENA:ERP000001' → 'ENA')
      parsed from the characterization's raw_data_url (ref
      model_metadata_transformer_job.py:88-89, where the name round-trips
      through an external_db_links JSON string);
    - ``cancer_annotation_resources`` when ``resources_df`` is given and
      there is a marker table: the Gene/Variant resources (Civic, OncoMx,
      …) whose entries match a marker symbol. The reference runs one
      groupBy per resource (resources_per_model_util.py:94-112); here the
      resource list broadcasts into one equi join, whatever its length.

    Every column but the marker lists is NULL for a model without a row
    of its kind, as the inner join of a per-kind aggregate would leave
    it.

    Scale: the union is read once per measurement table (twice for the
    marker tables when resources are given); model_molchar is
    metadata-sized and broadcasts into an inner join, and one spine row
    per molecular characterization keeps every model that a left join
    would keep. The only fact-scale shuffle is the one groupBy of short
    strings, map-side combined — instead of one join and one shuffle per
    aggregate. No pre-dedupe: collect_set dedupes in its partial
    aggregation (a drop_duplicates first was a 914k-row 16.7 s
    HashAggregate in the sf0.1 flagship)."""

    def kind_rows(df: DataFrame, kind: str, value) -> DataFrame:
        return df.select(
            F.col("molecular_characterization_id").alias("mol_char_id"),
            F.lit(kind).alias("kind"),
            value.alias("value"),
        )

    # the raw biomarker module names its gene column 'biomarker'; a
    # harmonised frame carries 'symbol' for every type
    markers = [
        kind_rows(
            md, MARKER_COLUMNS[m],
            F.col("symbol" if "symbol" in md.columns else "biomarker"),
        )
        for m, md in measurements.items()
        if m in MARKER_COLUMNS
    ]
    marker_cols = [MARKER_COLUMNS[m] for m in MARKER_COLUMNS if m in measurements]
    rows = list(markers)
    inner_kinds = []
    if "immunemarker" in measurements:
        im = measurements["immunemarker"]
        rows.append(kind_rows(
            im.filter((F.col("marker_type") == "Model Genomics")
                      & (F.col("marker_name") == "MSI")),
            "msi_status", F.col("marker_value"),
        ))
        rows.append(kind_rows(
            im.filter(F.col("marker_type") == "HLA type"),
            "hla_types", F.col("marker_name"),
        ))
        inner_kinds += ["msi_status", "hla_types"]
    if "biomarker" in measurements:
        display = (
            F.when(F.col("biomarker") == "ERBB2", "HER2/ERBB2")
            .when(F.col("biomarker") == "ESR1", "ER/ESR1")
            .when(F.col("biomarker") == "PGR", "PR/PGR")
            .otherwise(F.col("biomarker"))
        )
        status = F.lower(F.col("biomarker_status"))
        rows.append(kind_rows(
            measurements["biomarker"].filter(
                F.col("biomarker").isin(BREAST_CANCER_GENES)
                & status.isin(["positive", "negative"])
            ),
            "breast_cancer_biomarkers", F.concat_ws(" ", display, status),
        ))
        inner_kinds.append("breast_cancer_biomarkers")
    rows.append(
        molchar_df.filter(
            F.col("raw_data_url").isNotNull() & (F.trim("raw_data_url") != "")
        ).select(
            F.col("id").alias("mol_char_id"),
            F.lit("raw_data_resources").alias("kind"),
            F.split(F.col("raw_data_url"), ":").getItem(0).alias("value"),
        )
    )
    inner_kinds.append("raw_data_resources")
    if resources_df is not None and markers:
        lookup = F.broadcast(
            resources_df.filter(F.col("type").isin("Gene", "Variant"))
            .select(F.col("entry").alias("value"), "resource")
            .distinct()
        )
        rows.append(
            reduce(DataFrame.unionByName, markers)
            .join(lookup, "value")
            .select(
                "mol_char_id",
                F.lit("cancer_annotation_resources").alias("kind"),
                F.col("resource").alias("value"),
            )
        )
        inner_kinds.append("cancer_annotation_resources")

    mm = F.broadcast(model_molchar_df.select("mol_char_id", "model_id"))
    spine = model_molchar_df.select(
        "model_id",
        F.lit(None).cast("string").alias("kind"),
        F.lit(None).cast("string").alias("value"),
    )
    long = (
        reduce(DataFrame.unionByName, rows)
        .join(mm, "mol_char_id")
        .select("model_id", "kind", "value")
        .unionByName(spine)
    )

    def values(kind: str):
        of_kind = F.when(F.col("kind") == kind, F.col("value"))
        return F.array_sort(F.collect_set(of_kind))

    return long.groupBy("model_id").agg(
        *[values(k).alias(k) for k in marker_cols],
        *[
            F.when(F.count_if(F.col("kind") == k) > 0, values(k)).alias(k)
            for k in inner_kinds
        ],
    )
