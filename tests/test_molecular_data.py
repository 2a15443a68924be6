"""Measurement-data + per-model molecular aggregate tests."""

import pytest
from pyspark.sql import functions as F

import fixtures
from pdcm_etl_spark.transforms import molecular as mol, molecular_data as md


@pytest.fixture(scope="module")
def molchar(spark):
    molchar_sample = fixtures.make_module_df(spark, "molchar_sample", [
        dict(model_id="M1", sample_id="MS1", sample_origin="patient", passage="0",
             platform_id="pl_mut", data_source_tmp="TRACE"),
        dict(model_id="M1", sample_id="MS2", sample_origin="xenograft", passage="1",
             platform_id="pl_bio", data_source_tmp="TRACE"),
        dict(model_id="M2", sample_id="MS3", sample_origin="patient", passage="0",
             platform_id="pl_imm", data_source_tmp="TRACE"),
    ])
    platform = fixtures.make_module_df(spark, "molchar_platform", [
        dict(platform_id="pl_mut", molecular_characterisation_type="mutation",
             data_source_tmp="TRACE"),
        dict(platform_id="pl_bio", molecular_characterisation_type="biomarker",
             data_source_tmp="TRACE"),
        dict(platform_id="pl_imm", molecular_characterisation_type="immunemarker",
             data_source_tmp="TRACE"),
    ])
    return mol.molecular_characterization(molchar_sample, platform)


def test_measurement_data_fk_and_stable_id(spark, molchar):
    raw_mut = fixtures.make_module_df(spark, "mutation", [
        dict(sample_id="MS1", symbol="TP53", platform_id="pl_mut",
             read_depth="44", data_source_tmp="TRACE"),
        dict(sample_id="MS1", symbol="KRAS", platform_id="pl_mut",
             read_depth="10", data_source_tmp="TRACE"),
        dict(sample_id="ORPHAN", symbol="TP53", platform_id="pl_mut",
             read_depth="1", data_source_tmp="TRACE"),
    ])
    out = md.measurement_data(raw_mut, molchar)
    rows = {(r["sample_id"], r["symbol"]): r for r in out.collect()}
    assert rows[("MS1", "TP53")]["molecular_characterization_id"] is not None
    assert rows[("ORPHAN", "TP53")]["molecular_characterization_id"] is None
    # ids stable across rebuilds
    out2 = md.measurement_data(raw_mut, molchar)
    assert {r["id"] for r in out.collect()} == {r["id"] for r in out2.collect()}


def _by_model(df):
    return {r["model_id"]: r.asDict() for r in df.collect()}


def test_per_model_aggregates(spark, molchar):
    """The fused per-model aggregation gives each former per-kind
    aggregate's values (marker lists, MSI, HLA, breast-cancer biomarkers)."""
    mm = md.model_molchar(molchar)
    mc_id = {r["sample_id"]: r["id"] for r in molchar.collect()}

    mut = spark.createDataFrame(
        [(mc_id["MS1"], "TP53"), (mc_id["MS1"], "KRAS")],
        "molecular_characterization_id long, symbol string",
    )
    imm = spark.createDataFrame(
        [
            (mc_id["MS3"], "Model Genomics", "MSI", "Stable"),
            (mc_id["MS3"], "HLA type", "HLA-A*02", "present"),
        ],
        "molecular_characterization_id long, marker_type string, "
        "marker_name string, marker_value string",
    )
    bio = spark.createDataFrame(
        [
            (mc_id["MS2"], "ERBB2", "Positive"),
            (mc_id["MS2"], "ESR1", "negative"),
            (mc_id["MS2"], "OTHER", "positive"),
        ],
        "molecular_characterization_id long, biomarker string, biomarker_status string",
    )
    agg = _by_model(md.molecular_aggregates_per_model(
        {"mutation": mut, "biomarker": bio, "immunemarker": imm},
        molchar, mm,
    ))
    assert agg["M1"]["markers_with_mutation_data"] == ["KRAS", "TP53"]
    assert {m: r["msi_status"] for m, r in agg.items() if r["msi_status"]} == {
        "M2": ["Stable"]}
    assert {m: r["hla_types"] for m, r in agg.items() if r["hla_types"]} == {
        "M2": ["HLA-A*02"]}
    assert agg["M1"]["breast_cancer_biomarkers"] == [
        "ER/ESR1 negative", "HER2/ERBB2 positive"]


def test_per_model_aggregates_edge_cases(spark):
    """Left-join kinds give [] for a model with molecular data but no
    rows of the kind; the former inner-join kinds stay NULL unless the
    model has a row of the kind (a NULL value still counts); a missing
    measurement module drops its column; a characterization whose model
    did not resolve keeps its own NULL-model row."""
    mm = spark.createDataFrame(
        [(1, "A", "mutation"), (2, "B", "immunemarker"), (3, None, "mutation")],
        "mol_char_id long, model_id string, molchar_type string",
    )
    molchar = spark.createDataFrame(
        [(1, "ENA:ERP1"), (2, None), (3, "EGA:EGAS1"), (9, "GEO:GSE9")],
        "id long, raw_data_url string",
    )
    mut = spark.createDataFrame(
        [(1, "KRAS"), (1, None), (3, "TP53"), (None, "ORPHAN"), (9, "NOMODEL")],
        "molecular_characterization_id long, symbol string",
    )
    imm = spark.createDataFrame(
        [(2, "Model Genomics", "MSI", None), (1, "Other", "MSI", "Stable")],
        "molecular_characterization_id long, marker_type string, "
        "marker_name string, marker_value string",
    )
    resources = spark.createDataFrame(
        [("TP53", "Civic", "Gene"), ("KRAS", "OncoMx", "Variant"),
         ("KRAS", "Skip", "Other")],
        "entry string, resource string, type string",
    )
    out = md.molecular_aggregates_per_model(
        {"mutation": mut, "immunemarker": imm}, molchar, mm, resources
    )
    assert out.columns == [
        "model_id", "markers_with_mutation_data", "msi_status", "hla_types",
        "raw_data_resources", "cancer_annotation_resources",
    ]
    agg = _by_model(out)
    assert set(agg) == {"A", "B", None}
    assert agg["A"] == dict(
        model_id="A", markers_with_mutation_data=["KRAS"], msi_status=None,
        hla_types=None, raw_data_resources=["ENA"],
        cancer_annotation_resources=["OncoMx"],
    )
    # molchar rows but no mutation rows: [] (left join); an MSI row with
    # a NULL value: [] (the model has a row of the kind)
    assert agg["B"] == dict(
        model_id="B", markers_with_mutation_data=[], msi_status=[],
        hla_types=None, raw_data_resources=None,
        cancer_annotation_resources=None,
    )
    assert agg[None]["markers_with_mutation_data"] == ["TP53"]
    assert agg[None]["raw_data_resources"] == ["EGA"]
    assert agg[None]["cancer_annotation_resources"] == ["Civic"]
    # no resources: no annotation column
    bare = md.molecular_aggregates_per_model({"cna": mut}, molchar, mm)
    assert bare.columns == [
        "model_id", "markers_with_cna_data", "raw_data_resources"]
