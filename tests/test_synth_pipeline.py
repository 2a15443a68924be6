"""Synthetic provider workload → full metadata DAG (plans/synth.py).

This is the scale twin of the hand-written fixture in test_end_to_end:
same DAG, module set derived deterministically from the TPC tables, so
invariants here guard the flagship `entry()` / `etl_search_index` path."""

import pytest

from pdcm_etl_spark.plans.synth import (
    SEARCH_INDEX_COLUMNS,
    run_etl_search_index,
    synthesize_provider_modules,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def six_rows(spark):
    df = run_etl_search_index(spark, SF)
    assert df.columns == SEARCH_INDEX_COLUMNS
    return df.collect()


def test_every_model_present(spark, six_rows):
    orders = spark.read.parquet(f"{SF}/orders.parquet")
    assert len(six_rows) == orders.count()
    ids = {r["external_model_id"] for r in six_rows}
    # 9:1 pdx / cell split by order-key arithmetic
    assert any(i.startswith("M") for i in ids)
    assert any(i.startswith("C") for i in ids)


def test_patient_sample_slice_populated(six_rows):
    r = next(r for r in six_rows if r["external_model_id"].startswith("M"))
    assert r["histology"].startswith("Diagnosis ")
    assert r["histology"].endswith("Cancer")  # Neoplasm→Cancer rename ran
    assert r["patient_sex"] in ("female", "male")
    assert r["patient_age"] and r["patient_age"] != "Not Provided"
    # display name keeps the space; the abbreviation underscores it
    assert r["provider_name"].replace(" ", "_") == r["data_source"]


def test_molecular_aggregates(six_rows):
    # arrays are '|'-serialized in the flagship's final projection
    # (driver-canonicalizer-safe; mirrors the reference's {a,b} export)
    with_mut = [r for r in six_rows if r["markers_with_mutation_data"]]
    assert with_mut, "no model got a mutation marker list"
    sample = with_mut[0]["markers_with_mutation_data"].split("|")
    assert sample == sorted(set(sample))
    assert all(m.startswith("GENE") for m in sample)
    assert all("mutation" in r["dataset_available"] for r in with_mut)


def test_treatments_harmonised(six_rows):
    treated = [r for r in six_rows if r["model_treatments"]]
    assert treated, "no model carries model_treatments"
    names = {t for r in treated for t in r["model_treatments"].split("|")}
    assert any(n.startswith("drug ") for n in names)


def test_full_column_list_matches_reference_registry(six_rows, spark):
    # the flagship carries the reference's full declared search_index
    # column list (entities_registry.py:621-692), 67 columns, in order
    assert len(SEARCH_INDEX_COLUMNS) == 67
    # every aggregate family actually populates under the synth workload
    populated = {
        c for c in SEARCH_INDEX_COLUMNS
        if any(r[c] not in (None, "") for r in six_rows)
    }
    for col in ("supplier", "custom_treatment_type_list", "model_images",
                "breast_cancer_biomarkers", "msi_status", "hla_types",
                "raw_data_resources", "cancer_annotation_resources",
                "markers_with_cna_data", "markers_with_biomarker_data",
                "quality_assurance", "xenograft_model_specimens", "scores"):
        assert col in populated, col


def test_raw_modules_all_string(spark):
    raw = synthesize_provider_modules(spark, SF)
    for name, df in raw.items():
        if name == "obo":
            continue
        assert all(f.dataType.simpleString() == "string" for f in df.schema.fields), name


def test_model_availability_reaches_index_and_views(spark, six_rows):
    """The sharing module's model_availability is carried through the
    model entities: every index row holds one of the synthesized values,
    and the enriched view's availability flag follows it."""
    from pdcm_etl_spark.plans import views
    from pdcm_etl_spark.plans.dag import build_metadata_dag

    values = {"available", "unknown", "not available"}
    assert {r["model_availability"] for r in six_rows} == values

    out = build_metadata_dag(spark, synthesize_provider_modules(spark, SF)).run(
        targets=["search_index", "model_relationships"]
    )
    views.register_entities(out)
    try:
        assert views.create_views(spark, only=["search_index_enriched"]) == [
            "search_index_enriched"
        ]
        rows = spark.table("search_index_enriched").select(
            "model_availability", "vendor_link", "model_availability_boolean"
        ).collect()
    finally:
        for name in [*out, "search_index_enriched"]:
            spark.catalog.dropTempView(name)
    for r in rows:
        assert r["model_availability_boolean"] == (
            r["model_availability"] in ("available", "unknown")
            or (r["vendor_link"] or "").lower().startswith("http")
        ), r
    assert {r["model_availability_boolean"] for r in rows} == {True, False}
