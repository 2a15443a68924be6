"""View-layer tests over the end-to-end DAG fixture."""

import json

from test_end_to_end import full_dag  # noqa: F401  (fixture reuse)

from pdcm_etl_spark.plans import views


def test_views_create_and_answer(spark, full_dag):  # noqa: F811
    out = full_dag.run()
    views.register_entities(out)
    created = views.create_views(spark)
    assert {"models_by_type", "provider_model_summary",
            "models_by_cancer_system", "model_dataset_availability",
            "models_by_treatment"} <= set(created)

    types = {r["model_type"]: r["n_models"] for r in spark.table("models_by_type").collect()}
    assert types["PDX"] == 3 and types["cell line"] == 1

    summary = {r["provider"]: r for r in spark.table("provider_model_summary").collect()}
    models = json.loads(summary["TRACE"]["models_json"])
    assert {m["external_model_id"] for m in models} == {"M1", "M2", "C1"}

    avail = {r["model_id"]: r for r in spark.table("model_dataset_availability").collect()}
    assert all(r["model_dataset_type_count"] >= 1 for r in avail.values())

    treat = {r["treatment"]: r["n_models"] for r in spark.table("models_by_treatment").collect()}
    assert treat.get("cisplatin") == 1 and treat.get("gemcitabine") == 1

    # views.sql:1097-1102 — per (cancer_system, histology) counts
    assert "models_by_cancer" in created
    cancers = spark.table("models_by_cancer").collect()
    assert all(r["count"] >= 1 for r in cancers)

    # views.sql:1147-1162 — jsonb_agg → to_json(collect_list(struct(...)))
    assert "dosing_studies" in created
    dosing = spark.table("dosing_studies").collect()
    entries = [e for r in dosing for e in json.loads(r["entries"])]
    assert any(e["name"] for e in entries)

    # views.sql:816-851 — full derived-column set over search_index; only
    # created when this run's search_index carries dataset_available
    if "search_index_enriched" in created:
        enr = spark.table("search_index_enriched").collect()
        for col in ("paediatric", "model_dataset_type_count",
                    "model_availability_boolean",
                    "model_availability_plus_commercial_availability",
                    "model_relationships", "has_relations"):
            assert col in enr[0].asDict(), col
        assert all(r["has_relations"] in (True, False) for r in enr)
        assert "models_by_dataset_availability" in created

    # reports.sql VW_STATS_TABLES / records_by_table analogs
    stats = {r["table_name"]: r["row_estimate"]
             for r in views.stats_tables(spark, out).collect()}
    assert stats.get("model", 0) >= 1
    report = views.records_report(spark, out).collect()
    assert all(r["report_type"] == "records_by_table" for r in report)
    assert len(report) == len(stats)

    # views.sql:1113-1126 — SPLIT_PART(unnest(...)) over the marker lists
    assert "models_by_mutated_gene" in created
    genes = {r["mutated_gene"]: r["count"]
             for r in spark.table("models_by_mutated_gene").collect()}
    assert genes.get("KRAS") == 1 and genes.get("TP53") == 1


# every CREATE VIEW name in the reference script (scripts/views.sql) —
# the name-parity contract the view layer must satisfy
REFERENCE_VIEW_NAMES = {
    "molecular_characterization_vw", "biomarker_data_extended",
    "biomarker_data_table", "cell_model", "cna_data_extended",
    "cna_data_table", "contact_form", "contact_people",
    "engraftment_sample_state", "engraftment_sample_type",
    "engraftment_site", "engraftment_type", "expression_data_extended",
    "expression_data_table", "host_strain", "immunemarker_data_extended",
    "immunemarker_data_table", "model_information", "model_metadata",
    "model_quality_assurance", "molecular_data_restriction",
    "mutation_data_extended", "mutation_data_table", "project_group",
    "provider_group", "publication_group", "quality_assurance",
    "release_info", "search_facet", "search_index", "source_database",
    "xenograft_model_specimen",
}


def test_reference_view_name_parity(spark, full_dag):  # noqa: F811
    """Literal name diff vs views.sql is empty: every reference view is
    either a defined view or a codified entity passthrough, and the
    passthroughs the DAG produces are live queryable views."""
    declared = (
        set(views.VIEW_DEFINITIONS) | set(views.PASSTHROUGH_VIEWS)
    )
    missing = REFERENCE_VIEW_NAMES - declared
    assert not missing, f"views.sql names with no definition/passthrough: {missing}"

    out = full_dag.run()
    views.register_entities(out)
    created = set(views.create_views(spark))
    # the fixture DAG produces these passthrough entities — each must be
    # reported created and answer a query under the reference name
    for name in ("provider_group", "project_group", "cell_model",
                 "search_index", "quality_assurance"):
        assert name in created, name
        assert spark.table(name).count() >= 0


def test_molecular_data_views(spark, full_dag):  # noqa: F811
    out = full_dag.run()
    views.register_entities(out)
    created = views.create_views(spark)

    # views.sql:2-64 — molchar display view
    assert "molecular_characterization_vw" in created
    mcv = spark.table("molecular_characterization_vw").collect()
    # only biomarker is display-renamed (views.sql:10-11); the others
    # keep their molchar type verbatim
    assert {r["data_type"] for r in mcv} == {
        "mutation", "copy number alteration", "expression",
        "bio markers", "immunemarker"}
    platforms = {r["data_type"]: r["platform_name"] for r in mcv}
    assert platforms["mutation"] == "Illumina"
    assert platforms["bio markers"] == "IHC"

    # views.sql:363-404 — restriction-filtered measurement view with
    # harmonised symbols (KRAS approved; TP53 absent from the marker
    # fixture → coalesce falls back to the provider symbol)
    assert "mutation_data_table" in created
    mdt = {r["hgnc_symbol"]: r for r in spark.table("mutation_data_table").collect()}
    assert set(mdt) == {"KRAS", "TP53"}
    assert mdt["KRAS"]["harmonisation_result"] == "approved_symbol"
    assert mdt["TP53"]["harmonisation_result"] == "no_mapping"
    assert json.loads(mdt["KRAS"]["text"])["sample_id"] == "MS1"

    # views.sql:406-446 — data_exists flag over registered measurement tables
    assert "model_molecular_metadata" in created
    mmm = spark.table("model_molecular_metadata").collect()
    assert all(r["data_exists"] == "TRUE" and r["data_restricted"] == "FALSE"
               for r in mmm)

    # views.sql:448-494 — measurement rows + owning model/sample
    assert "mutation_data_extended" in created
    ext = spark.table("mutation_data_extended").collect()
    assert {r["model_id"] for r in ext} == {"M1"}
    assert {r["sample_id"] for r in ext} == {"MS1"}

    # views.sql:1041-1095 — per-molchar availability flag; the reference's
    # CASE has no immunemarker branch, so those rows are always FALSE
    assert "details_molecular_data" in created
    det = spark.table("details_molecular_data").collect()
    avail = {r["data_type"]: r["data_availability"] for r in det}
    assert avail == {"mutation": "TRUE", "copy number alteration": "TRUE",
                     "expression": "TRUE", "bio markers": "TRUE",
                     "immunemarker": "FALSE"}

    # data_visualization_views.sql — gene-panel cohort. The fixture's
    # mini-ontology classifies every model 'Unclassified', so the cohort
    # filter must drop all rows; without the system filter the panel
    # keeps KRAS (in panel) and drops TP53 (not in panel).
    assert "data_overview_mutation_cohorts" in created
    assert spark.table("data_overview_mutation_cohorts").count() == 0
    unfiltered = spark.sql("""
        SELECT mut.hgnc_symbol FROM mutation_data_extended mut
        JOIN search_index si ON mut.model_id = si.external_model_id
                            AND mut.data_source = si.data_source
        WHERE mut.hgnc_symbol IN ({})
    """.format(", ".join(f"'{g}'" for g in views.COHORT_GENES))).collect()
    assert {r["hgnc_symbol"] for r in unfiltered} == {"KRAS"}


def test_treatment_and_overview_views(spark, full_dag):  # noqa: F811
    out = full_dag.run()
    views.register_entities(out)
    created = views.create_views(spark)

    # views.sql:1192-1244 — patient_treatment JSON aggregation
    assert "patient_treatment" in created
    pt = spark.table("patient_treatment").collect()
    assert len(pt) >= 1
    names = {e["name"] for r in pt for e in json.loads(r["entries"])}
    assert "tamoxifen" in {n.lower() for n in names}

    # views.sql:1363-1416 — drug dosing with model context
    assert "drug_dosing_extended" in created
    dd = spark.table("drug_dosing_extended").collect()
    assert {r["model_id"] for r in dd} == {"M1"}
    dd_names = {e["name"] for r in dd for e in json.loads(r["entries"])}
    assert {n.lower() for n in dd_names} == {"cisplatin", "gemcitabine"}

    # views.sql:1280-1293 — facet options unnest
    assert "search_facet_options" in created
    opts = spark.table("search_facet_options").collect()
    assert len(opts) > 0

    # views.sql:1418-1543 — Data Overview counts over the widened
    # search_index columns
    for view, col in [("models_by_primary_site", "primary_site"),
                      ("models_by_tumour_type", "tumour_type"),
                      ("models_by_patient_age", "patient_age"),
                      ("models_by_patient_sex", "patient_sex"),
                      ("models_by_patient_ethnicity", "patient_ethnicity")]:
        assert view in created, view
        rows = spark.table(view).collect()
        assert sum(r["count"] for r in rows) >= 1, view
    sites = {r["primary_site"]: r["count"]
             for r in spark.table("models_by_primary_site").collect()}
    assert sites.get("breast") == 2  # tissue names are lower_and_trim'd

    # views.sql:1544-1549 — info key/value
    assert "info" in created
    info = spark.table("info").collect()
    assert info[0]["key"] == "total_models" and info[0]["value"] == 6


def test_model_metadata_api_views(spark, full_dag):  # noqa: F811
    """pdcm_api.model_metadata / model_quality_assurance — the flat
    per-model metadata API views."""
    out = full_dag.run()
    views.register_entities(out)
    created = views.create_views(spark)

    assert "model_metadata" in created
    mm = {r["model_id"]: r for r in spark.table("model_metadata").collect()}
    assert "M1" in mm
    m1 = mm["M1"]
    assert m1["data_source"] == "TRACE"
    assert m1["type"] == "PDX"
    assert m1["histology"] == "Breast Carcinoma"
    assert m1["contact_form_url"] or m1["contact_name_list"] or True  # shape only

    assert "model_quality_assurance" in created
    qa = spark.table("model_quality_assurance").collect()
    assert {r["model_id"] for r in qa} == {"M1"}
    assert {r["validation_technique"] for r in qa} == {"Histology"}


def test_create_views_names_its_skips(spark, capsys):
    """A view that cannot be created is reported on stderr with one line
    naming the error class of its failure, with no PySpark error record
    or stack trace, and is left out of the returned names."""
    import logging

    from pyspark.logger import PySparkLogger

    class Records(logging.Handler):
        def __init__(self):
            super().__init__()
            self.records = []

        def emit(self, record):
            self.records.append(record)

    logger = PySparkLogger.getLogger("SQLQueryContextLogger")
    level = logger.level
    records = Records()
    logger.addHandler(records)
    had = spark.catalog.tableExists("search_index")
    saved = spark.table("search_index") if had else None
    try:
        spark.range(3).toDF("pdcm_model_id").createOrReplaceTempView("search_index")
        created = views.create_views(spark, only=["models_by_primary_site"])
    finally:
        logger.removeHandler(records)
        if had:
            saved.createOrReplaceTempView("search_index")
        else:
            spark.catalog.dropTempView("search_index")
    assert "models_by_primary_site" not in created
    assert not records.records, [r.getMessage()[:200] for r in records.records]
    assert logger.level == level
    err = capsys.readouterr().err.splitlines()
    assert len(err) == 1, err
    assert err[0].startswith(
        "create_views: skipped models_by_primary_site (UNRESOLVED_COLUMN"
    ), err
