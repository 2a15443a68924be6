"""The flagship: the full metadata ETL, provider modules through the
entity DAG to the denormalized 67-column ``search_index``
(``plans/synth.py``), and its provider-refresh twin
(``plans/incremental.py``). Both share one oracle, a DuckDB replay of
the whole release over the same synthesized providers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from pdcm_etl_spark.operators.dedup import DUCK_H60
from pdcm_etl_spark.plans.incremental import run_etl_search_index_incremental
from pdcm_etl_spark.plans.synth import run_etl_search_index


def q_etl_search_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship pipeline query: synthesize raw provider modules from
    the TPC tables, run the full metadata DAG, return the search_index
    with the reference's full 67-column declared list (plans/synth.py).
    Fully hash-checked since round 4: the internal id became the
    engine-portable md5-based hash of (external_model_id, provider)
    (transforms/model.py, round-3 verdict item 4), so the oracle is the
    wide 66-column SQL plus a re-derived pdcm_model_id."""
    return run_etl_search_index(spark, sf_dir)


# Body of the etl_search_index oracle (_sql_etl_search_index_full): every
# search_index column except the portable internal id, re-derived in pure
# SQL from the synth workload's key arithmetic (plans/synth.py) composed
# with the pipeline semantics.
# Display strings produced by initcap-style cleaners are hardcoded
# (Spark initcap capitalizes every word); JSON aggregate columns are
# re-built as literal to_json output (sorted single-element arrays).
SQL_ETL_SEARCH_INDEX_WIDE = """
WITH prov AS (
  SELECT n_nationkey, n_name, r_name AS provider_name,
         replace(r_name, ' ', '_') AS prov
  FROM nation JOIN region ON n_regionkey = r_regionkey
), cust AS (
  -- ethnicity dim init-caps the lowered nation name (functions/cleaner
  -- init_cap_and_trim_all): first letter upper, rest as lowered
  SELECT c_custkey, p.provider_name, p.prov,
         upper(substr(lower(p.n_name), 1, 1)) || substr(lower(p.n_name), 2)
           AS ethnicity,
         CASE WHEN c_custkey % 2 = 0 THEN 'female' ELSE 'male' END AS patient_sex
  FROM customer JOIN prov p ON c_nationkey = p.n_nationkey
), o AS (
  SELECT o_orderkey AS ok, o_custkey AS ck,
         c.prov, c.provider_name, c.patient_sex, c.ethnicity
  FROM orders JOIN cust c ON o_custkey = c.c_custkey
), li AS (
  SELECT l_orderkey AS ok, CAST(l_linenumber AS INTEGER) AS ln,
         CAST(l_partkey AS BIGINT) AS pk
  FROM lineitem
), muts AS (
  SELECT ok,
         array_to_string(list_sort(list_distinct(list('GENE' || (pk % 2000)))), '|')
           AS markers
  FROM li GROUP BY ok
), bio AS (
  -- biomarker module (ok%6=0): line 1 carries the IHC panel gene
  SELECT ok, array_to_string(list_sort(list_distinct(list(
           CASE WHEN ln = 1 THEN
             CASE pk % 3 WHEN 0 THEN 'ERBB2' WHEN 1 THEN 'ESR1' ELSE 'PGR' END
           ELSE 'GENE' || (pk % 2000) END))), '|') AS bio_markers
  FROM li WHERE ok % 6 = 0 GROUP BY ok
), breast AS (
  -- display-name map + positive/negative filter (Undetermined dropped)
  SELECT ok, array_to_string(list_sort(list_distinct(list(
           (CASE pk % 3 WHEN 0 THEN 'HER2/ERBB2' WHEN 1 THEN 'ER/ESR1'
                 ELSE 'PR/PGR' END)
           || ' ' ||
           (CASE (pk + 1) % 3 WHEN 0 THEN 'positive' ELSE 'negative' END)))), '|')
           AS bc
  FROM li WHERE ok % 6 = 0 AND ln = 1 AND (pk + 1) % 3 != 2 GROUP BY ok
), annot AS (
  -- downloaded-resource gene slices (plans/synth.py resource_defs)
  SELECT ok, list_sort(list_distinct(flatten(list(
           (CASE WHEN pk % 2000 < 400 THEN ['CIViC'] ELSE []::VARCHAR[] END)
           || (CASE WHEN pk % 2000 >= 200 AND pk % 2000 < 700
                    THEN ['OncoMX'] ELSE []::VARCHAR[] END)
           || (CASE WHEN pk % 2000 >= 600 AND pk % 2000 < 1200
                    THEN ['ClinGen'] ELSE []::VARCHAR[] END)
           || (CASE WHEN pk % 2000 >= 1000 AND pk % 2000 < 1800
                    THEN ['CancerMine'] ELSE []::VARCHAR[] END)
         )))) AS res
  FROM li GROUP BY ok
), dosing AS (
  -- drug_dosing: line 1 of pdx orders; every 3rd order is a 2-drug combo
  -- split into components by the treatment_component_helper
  SELECT ok,
         list_sort(list_distinct(flatten(list(
           CASE WHEN ok % 3 = 0
                THEN ['drug ' || (pk % 50), 'drug ' || ((pk + 1) % 50)]
                ELSE ['drug ' || (pk % 50)] END)))) AS mt,
         array_to_string(list_sort(list_distinct(list(
           CASE pk % 4 WHEN 0 THEN 'Complete Response'
                WHEN 1 THEN 'Partial Response'
                WHEN 2 THEN 'Stable Disease'
                ELSE 'Progressive Disease' END))), '|') AS mtr,
         list_sort(list_distinct(flatten(list(
           CASE WHEN ok % 3 = 0 THEN
             [CASE (pk % 50) % 3 WHEN 0 THEN 'Chemotherapy'
                   WHEN 1 THEN 'Immunotherapy' ELSE NULL END,
              CASE ((pk + 1) % 50) % 3 WHEN 0 THEN 'Chemotherapy'
                   WHEN 1 THEN 'Immunotherapy' ELSE NULL END]
           ELSE
             [CASE (pk % 50) % 3 WHEN 0 THEN 'Chemotherapy'
                   WHEN 1 THEN 'Immunotherapy' ELSE NULL END]
           END)))) AS ttypes
  FROM li WHERE ln = 1 AND ok % 10 != 0 GROUP BY ok
), pt AS (
  -- patient-target protocols key on the PATIENT and attach to every
  -- model of that patient (ref views.sql:1218-1230 / treatment_protocol):
  -- a model shows 'patient treatment' iff its customer has any order
  -- with a 2nd lineitem
  SELECT o2.o_custkey AS ck,
         list_sort(list_distinct(list('drug ' || (li.pk % 50)))) AS ptl,
         array_to_string(list_sort(list_distinct(list(
           CASE (li.pk + 1) % 4 WHEN 0 THEN 'Complete Response'
                WHEN 1 THEN 'Partial Response'
                WHEN 2 THEN 'Stable Disease'
                ELSE 'Progressive Disease' END))), '|') AS ptr
  FROM orders o2 JOIN li ON li.ok = o2.o_orderkey AND li.ln = 2
  GROUP BY o2.o_custkey
)
SELECT
  CASE WHEN o.ok % 10 = 0 THEN 'C' || o.ok ELSE 'M' || o.ok END AS external_model_id,
  o.prov AS data_source,
  'SYNTH' AS project_name,
  o.provider_name AS provider_name,
  CASE WHEN o.ok % 10 = 0 THEN
    CASE o.ok % 3 WHEN 0 THEN 'cell line' WHEN 1 THEN 'organoid' ELSE 'other' END
  ELSE 'PDX' END AS model_type,
  CASE WHEN o.ok % 10 != 0 AND o.ok % 4 = 0 THEN 'Vendor' || (o.ok % 7) END AS supplier,
  CASE WHEN o.ok % 10 != 0 AND o.ok % 4 = 0 THEN 'commercial' END AS supplier_type,
  CASE WHEN o.ok % 10 != 0 AND o.ok % 4 = 0 THEN 'CAT-' || (o.ok % 500) END
    AS catalog_number,
  CASE WHEN o.ok % 10 != 0 AND o.ok % 4 = 0
       THEN 'https://vendor.example.org/' || (o.ok % 500) END AS vendor_link,
  CASE WHEN o.ok % 10 = 0 THEN 'CVCL_' || (o.ok % 10000) ELSE '' END AS rrid,
  CAST(NULL AS VARCHAR) AS external_ids,
  'Diagnosis ' || (o.ok % 97) || ' Cancer' AS histology,
  'Diagnosis ' || (o.ok % 97) || ' Cancer' AS search_terms,
  'Unclassified' AS cancer_system,
  array_to_string(
    list_sort(
      ['mutation']
      || CASE WHEN o.ok % 3 = 0 THEN ['expression'] ELSE []::VARCHAR[] END
      || CASE WHEN o.ok % 4 = 0 THEN ['copy number alteration'] ELSE []::VARCHAR[] END
      || CASE WHEN o.ok % 5 = 0 THEN ['immune markers'] ELSE []::VARCHAR[] END
      || CASE WHEN o.ok % 6 = 0 THEN ['bio markers'] ELSE []::VARCHAR[] END)
    || CASE WHEN dosing.mt IS NOT NULL AND len(dosing.mt) > 0
            THEN ['model treatment'] ELSE []::VARCHAR[] END
    || CASE WHEN pt.ptl IS NOT NULL AND len(pt.ptl) > 0
            THEN ['patient treatment'] ELSE []::VARCHAR[] END
    || CASE WHEN o.ok % 5 = 0 THEN ['publication'] ELSE []::VARCHAR[] END,
    '|') AS dataset_available,
  CASE o.ok % 3 WHEN 0 THEN 'EMBL-EBI' WHEN 1 THEN 'CC0' END AS license_name,
  CASE o.ok % 3 WHEN 0 THEN 'https://www.ebi.ac.uk/about/terms-of-use'
       WHEN 1 THEN 'https://creativecommons.org/publicdomain/zero/1.0/' END
    AS license_url,
  'site' || ((o.ok % 97) % 20) AS primary_site,
  'site' || (((o.ok % 97) + 1) % 20) AS collection_site,
  CASE WHEN o.ok % 2 = 0 THEN 'Primary' ELSE 'Metastatic' END AS tumour_type,
  CAST(o.ok % 3 + 1 AS VARCHAR) AS cancer_grade,
  'G' AS cancer_grading_system,
  CASE o.ok % 4 WHEN 0 THEN 'I' WHEN 1 THEN 'II' WHEN 2 THEN 'III' ELSE 'IV' END
    AS cancer_stage,
  'TNM' AS cancer_staging_system,
  'P' || o.ck AS patient_id,
  (((20 + o.ok % 65) - 1) // 10) * 10 || ' - '
    || ((((20 + o.ok % 65) - 1) // 10) * 10 + 9) AS patient_age,
  CAST(NULL AS VARCHAR) AS patient_age_category,
  o.patient_sex AS patient_sex,
  CAST(NULL AS VARCHAR) AS patient_history,
  o.ethnicity AS patient_ethnicity,
  CAST(NULL AS VARCHAR) AS patient_ethnicity_assessment_method,
  CAST(NULL AS VARCHAR) AS patient_initial_diagnosis,
  CAST(20 + o.ck % 60 AS VARCHAR) AS patient_age_at_initial_diagnosis,
  'S' || o.ok AS patient_sample_id,
  CAST(NULL AS VARCHAR) AS patient_sample_collection_date,
  CAST(NULL AS VARCHAR) AS patient_sample_collection_event,
  CAST(NULL AS VARCHAR) AS patient_sample_collection_method,
  CAST(NULL AS VARCHAR) AS patient_sample_months_since_collection_1,
  CAST(NULL AS VARCHAR) AS patient_sample_gene_mutation_status,
  CAST(NULL AS VARCHAR) AS patient_sample_virology_status,
  CAST(NULL AS VARCHAR) AS patient_sample_sharable,
  CAST(NULL AS VARCHAR) AS patient_sample_treatment_naive_at_collection,
  CAST(NULL AS VARCHAR) AS patient_sample_treated_at_collection,
  CASE WHEN o.ok % 2 = 0 THEN 'Yes' ELSE 'No' END
    AS patient_sample_treated_prior_to_collection,
  CAST(NULL AS VARCHAR) AS patient_sample_response_to_treatment,
  CASE WHEN o.ok % 5 = 0
       THEN '[{"pub_med_id":"PMID: ' || (o.ok % 1000) || '"}]' END
    AS pdx_model_publications,
  CASE WHEN o.ok % 10 != 0 AND o.ok % 7 = 0 THEN
    '[{"validation_technique":"'
    || (CASE o.ok % 3 WHEN 0 THEN 'Histology' WHEN 1 THEN 'Str Analysis'
             ELSE 'Snp Analysis' END)
    || '","description":"matches patient tumour","passages_tested":"'
    || (o.ok % 3 + 1) || '"}]' END AS quality_assurance,
  CASE WHEN o.ok % 10 != 0 THEN
    '[{"host_strain_name":"'
    || (CASE o.ok % 3 WHEN 0 THEN 'nod scid gamma' WHEN 1 THEN 'nod scid'
             ELSE 'nude' END)
    || '","host_strain_nomenclature":"'
    || (CASE o.ok % 3 WHEN 0 THEN 'NOD.Cg-Prkdc<scid>' WHEN 1 THEN 'NOD.CB17'
             ELSE 'Foxn1<nu>' END)
    || '","engraftment_site":"'
    || (CASE o.ok % 3 WHEN 0 THEN 'Subcutaneous' WHEN 1 THEN 'Orthotopic'
             ELSE 'Renal Capsule' END)
    || '","engraftment_type":"'
    || (CASE WHEN o.ok % 2 = 0 THEN 'Heterotopic' ELSE 'Orthotopic' END)
    || '","engraftment_sample_type":"'
    || (CASE WHEN o.ok % 2 = 0 THEN 'Tissue Fragment' ELSE 'Cell Suspension' END)
    || '","engraftment_sample_state":"'
    || (CASE WHEN o.ok % 2 = 0 THEN 'Fresh' ELSE 'Frozen' END)
    || '","passage_number":"' || (o.ok % 9 + 1) || '"}]' END
    AS xenograft_model_specimens,
  CASE WHEN o.ok % 10 != 0 AND o.ok % 8 = 0 THEN
    '[{"url":"https://images.example.org/M' || o.ok
    || '.png","description":"tumour section","sample_type":"tumour","passage":"'
    || (o.ok % 5)
    || '","magnification":"20x","staining":"H&E"}]' END AS model_images,
  CASE WHEN o.ok % 4 = 0 THEN COALESCE(muts.markers, '') ELSE '' END
    AS markers_with_cna_data,
  -- every model has a pl_mut molchar, so the pipeline's left join always
  -- yields an array (empty when the order has no lineitems) → ''
  COALESCE(muts.markers, '') AS markers_with_mutation_data,
  CASE WHEN o.ok % 3 = 0 THEN COALESCE(muts.markers, '') ELSE '' END
    AS markers_with_expression_data,
  CASE WHEN o.ok % 6 = 0 THEN COALESCE(bio.bio_markers, '') ELSE '' END
    AS markers_with_biomarker_data,
  breast.bc AS breast_cancer_biomarkers,
  CASE WHEN o.ok % 5 = 0 THEN
    CASE o.ok % 3 WHEN 0 THEN 'Stable' WHEN 1 THEN 'Instable high'
         ELSE 'Instable low' END END AS msi_status,
  CASE WHEN o.ok % 10 = 0 THEN 'HLA-A*' || (o.ok % 30) END AS hla_types,
  array_to_string(pt.ptl, '|') AS patient_treatments,
  pt.ptr AS patient_treatments_responses,
  array_to_string(dosing.mt, '|') AS model_treatments,
  dosing.mtr AS model_treatments_responses,
  CASE WHEN dosing.ttypes IS NOT NULL AND len(dosing.ttypes) > 0
       THEN array_to_string(dosing.ttypes, '|') END AS custom_treatment_type_list,
  CASE o.ok % 3 WHEN 0 THEN 'ENA' WHEN 1 THEN 'EGA' END AS raw_data_resources,
  CASE WHEN annot.res IS NOT NULL AND len(annot.res) > 0
       THEN array_to_string(annot.res, '|') END AS cancer_annotation_resources,
  CAST(NULL AS VARCHAR) AS model_availability,
  CAST(NULL AS VARCHAR) AS date_submitted,
  CASE WHEN o.ok % 10 = 0 THEN '{"in_vitro_metadata_score":69}'
       WHEN o.ok % 7 = 0 THEN '{"pdx_metadata_score":87}'
       ELSE '{"pdx_metadata_score":76}' END AS scores
FROM o
LEFT JOIN muts USING (ok)
LEFT JOIN bio USING (ok)
LEFT JOIN breast USING (ok)
LEFT JOIN annot USING (ok)
LEFT JOIN dosing USING (ok)
LEFT JOIN pt ON pt.ck = o.ck
"""


def _sql_etl_search_index_full() -> str:
    """Full 67-column flagship oracle: the wide 66-column SQL plus the
    internal id, re-derived with the portable md5-based hash over the
    same (external_model_id, chr(31), data_source) key string that
    transforms/model.py hashes Spark-side (functions/ids.py
    portable_hash_id)."""
    # coalesce each key to chr(0) — mirrors portable_hash_id's NULL
    # encoding (functions/ids.py: NULL → '\x00' so NULL ≠ '')
    key = (
        "concat_ws(chr(31), "
        "coalesce(CAST(external_model_id AS VARCHAR), chr(0)), "
        "coalesce(CAST(data_source AS VARCHAR), chr(0)))"
    )
    h = DUCK_H60.format(col=key)
    # VARCHAR: the flagship projects every column to string (synth.py
    # _project_columns), so the re-derived id must be string-typed too
    return (
        f"SELECT w.*, CAST({h} AS VARCHAR) AS pdcm_model_id\n"
        f"FROM (\n{SQL_ETL_SEARCH_INDEX_WIDE}\n) w"
    )


def x_etl_search_index_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Delta-aware flagship (plans/incremental.py): the base run's
    materialized search_index (partitioned by provider) merged with ONE
    provider's freshly-recomputed rows — the metadata DAG runs over
    that provider's raw modules alone. The oracle is the FULL-REBUILD
    67-column SQL, so every driver-hash check proves delta-applied ≡
    rebuilt from scratch (what the reference's Luigi memoization cannot
    do: a provider drop there reruns the whole DAG over all data —
    etl/workflow/config.py:4-7)."""
    return run_etl_search_index_incremental(spark, sf_dir)


def _sql_incremental_oracle() -> str:
    return _sql_etl_search_index_full()


CATALOG: dict[str, tuple] = {
    "etl_search_index": (q_etl_search_index, _sql_etl_search_index_full()),
    "etl_search_index_incremental": (
        x_etl_search_index_incremental,
        _sql_incremental_oracle(),
    ),
}
