"""External-DB link generation for molecular data and treatment types.

Parity targets (semantics):
- resource-lookup links (Gene / Variant): molecular_data_links_builder.py:
  55-96 — the reference theta-joins ``colA || ' ' || colB == entry`` per
  resource in a driver loop with unions; here ONE equi join on a
  precomputed concat key against the whole (broadcast) resource table —
  the BNLJ→hash-join rewrite that survives at scale.
- regex-extracted id links (dbSNP rs…, COSMIC COSV…): :114-143 —
  regexp_extract + template substitution via regexp_replace.
- treatment-type classification: treatment_type_helper_transformer_job.py:
  33-87 — the reference's Python UDF over (name, ancestors) becomes
  higher-order ``exists`` over the ancestor array (exact match first, then
  substring containment), fully JVM-side.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# treatment classification keywords (treatment_type_helper:10-31 shape)
KEYWORDS_BY_TYPE: list[tuple[str, list[str]]] = [
    ("Chemotherapy", ["chemotherapy", "chemical substance", "cytotoxic"]),
    ("Immunotherapy", ["immunotherapy", "immune system modulation"]),
    ("Hormone Therapy", ["hormone therapy", "hormone"]),
    ("Targeted Therapy", ["targeted therapy", "kinase inhibitor"]),
    ("Radiation Therapy", ["radiation therapy"]),
]


def treatment_types(name_col: str = "treatment_name", ancestors_col: str = "ancestors") -> Column:
    """Array of treatment types from ontology ancestors + the name itself.
    Exact keyword match OR substring containment, per type."""
    names = F.transform(
        F.concat(
            F.coalesce(F.col(ancestors_col), F.array()),
            F.array(F.col(name_col)),
        ),
        lambda x: F.lower(x),
    )
    branches = []
    for type_name, keywords in KEYWORDS_BY_TYPE:
        kw = F.array(*[F.lit(k) for k in keywords])
        hit = F.exists(
            names,
            lambda n: F.exists(kw, lambda k: n.contains(k)),
        )
        branches.append(F.when(hit, F.lit(type_name)))
    return F.filter(F.array(*branches), lambda x: x.isNotNull())


def custom_treatment_types_per_model(
    treatment_protocol_df: DataFrame,
    component_helper_df: DataFrame,
    treatment_name_harmonisation_df: DataFrame,
    term_ancestors_df: DataFrame,
) -> DataFrame:
    """(model_id, custom_treatment_type_list) — distinct treatment types
    over every treatment a model received (search_index
    custom_treatment_type_list; the reference routes this through its
    treatment_type_helper UDF — here the keyword match is the
    higher-order ``treatment_types`` expression over ontology ancestors).

    Scale: harmonisation + ancestors are term-level (small, broadcast);
    the only model-scale shuffle is the final collect_set."""
    proto = treatment_protocol_df.select(
        F.col("id").alias("treatment_protocol_id"), "model_id"
    )
    comp = component_helper_df.select(
        "treatment_protocol_id", F.lower(F.trim(F.col("treatment_name"))).alias("name_l")
    )
    harm = F.broadcast(
        treatment_name_harmonisation_df.select(
            F.lower(F.trim(F.col("name"))).alias("name_l"), "term_id"
        ).drop_duplicates(["name_l"])
    )
    # term_ancestors stores the closure as a '|'-joined display string
    # (ref graph_builder.py:152-163); the keyword match wants the array
    anc = F.broadcast(
        term_ancestors_df.select(
            "term_id", F.split(F.col("ancestors"), r"\|").alias("ancestors")
        )
    )
    per_treatment = (
        comp.join(harm, "name_l", "left")
        .join(anc, "term_id", "left")
        .withColumn(
            "ttypes", treatment_types(name_col="name_l", ancestors_col="ancestors")
        )
    )
    return (
        proto.join(per_treatment, "treatment_protocol_id")
        .select("model_id", F.explode("ttypes").alias("ttype"))
        .groupBy("model_id")
        .agg(F.array_sort(F.collect_set("ttype")).alias("custom_treatment_type_list"))
    )


def resource_lookup_links(
    molecular_df: DataFrame,
    resources_df: DataFrame,
    target_column: str,
    ref_source_columns: list[str],
    resource_type: str,
) -> DataFrame:
    """(id, resource, column, link) by joining the concat of
    ``ref_source_columns`` against downloaded resource entries of
    ``resource_type`` — single broadcast equi join for ALL resources."""
    entry = F.concat_ws(" ", *[F.col(c) for c in ref_source_columns])
    lookup = F.broadcast(
        resources_df.filter(F.col("type") == resource_type).select(
            F.col("entry"), F.col("resource"), F.col("link")
        )
    )
    return (
        molecular_df.withColumn("entry", entry)
        .join(lookup, "entry", "inner")
        .select(
            "id",
            "resource",
            F.lit(target_column).alias("column"),
            "link",
        )
    )


def regex_id_links(
    molecular_df: DataFrame,
    id_pattern: str,
    template: str,
    placeholder: str,
    resource_label: str,
    target_column: str,
    source_column: str = "variation_id",
) -> DataFrame:
    """dbSNP/COSMIC-style links: extract the id with a regex, substitute it
    into the template (molecular_data_links_builder.py:114-143)."""
    extracted = F.regexp_extract(F.col(source_column), id_pattern, 0)
    return (
        molecular_df.where(f"{source_column} is not null and {source_column} != ''")
        .withColumn("__xid", extracted)
        .select(
            "id",
            F.lit(resource_label).alias("resource"),
            F.lit(target_column).alias("column"),
            F.when(F.col("__xid") == "", F.lit(None).cast("string"))
            .otherwise(F.regexp_replace(F.lit(template), placeholder, F.col("__xid")))
            .alias("link"),
        )
    )


def dbsnp_links(molecular_df: DataFrame, template: str = "https://www.ncbi.nlm.nih.gov/snp/RS_ID") -> DataFrame:
    return regex_id_links(molecular_df, r"(rs\d+)", template, "RS_ID", "dbSNP", "variation_id")


def cosmic_links(molecular_df: DataFrame, template: str = "https://cancer.sanger.ac.uk/cosmic/search?q=COSMIC_ID") -> DataFrame:
    return regex_id_links(molecular_df, r"(COSV\d+)", template, "COSMIC_ID", "COSMIC", "variation_id")
