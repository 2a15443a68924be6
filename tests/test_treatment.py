"""Treatment-subsystem tests — mirrors the reference's best-covered area
(tests/etl/workflow/treatment*, SURVEY §5): '+'-split positional matching,
cardinality-mismatch fallback, regimen detection by sorted-list equality."""

import pytest
from pyspark.sql import functions as F

import fixtures
from pdcm_etl_spark.transforms import dims, model as model_t, patient as patient_t, treatment as tr


@pytest.fixture(scope="module")
def raw(spark):
    base = fixtures.metadata_fixture(spark)
    base["drug_dosing"] = fixtures.make_module_df(spark, "drug_dosing", [
        dict(model_id="M1", treatment_name="Cisplatin + Gemcitabine",
             treatment_dose="2 mg/kg + 5 mg/kg", treatment_response="Stable Disease",
             response_classification="RECIST", data_source_tmp="TRACE"),
        dict(model_id="M1", treatment_name="Dactolisib",
             treatment_dose="40.0 mg/kg", treatment_response="progressive disease",
             response_classification="RECIST", data_source_tmp="TRACE"),
        # cardinality mismatch: 2 names, 1 dose → both keep original dose
        dict(model_id="M2", treatment_name="Fluorouracil + Oxaliplatin",
             treatment_dose="10 mg/kg", treatment_response="Complete Response",
             response_classification="RECIST", data_source_tmp="TRACE"),
    ])
    base["patient_treatment"] = fixtures.make_module_df(spark, "patient_treatment", [
        dict(patient_id="P1", treatment_name="Tamoxifen",
             treatment_dose="20 mg", treatment_response="stable disease",
             response_classification="irRECIST", model_id="M1",
             data_source_tmp="TRACE"),
    ])
    return base


@pytest.fixture(scope="module")
def entities(spark, raw):
    eth = dims.ethnicity(raw["patient"])
    source_dims = dims.source_name_dims(raw["source"])
    pt = dims.name_dim(source_dims, "provider_type")
    pj = dims.name_dim(source_dims, "project_group")
    pg = dims.provider_group(raw["source"], pt, pj)
    patient_df = patient_t.patient(raw["patient"], eth, pg)
    initial = model_t.initial_model(raw["model"], raw["cell_model"], raw["sharing"])
    resp_dims = tr.response_name_dims(raw["drug_dosing"], raw["patient_treatment"])
    resp = dims.name_dim(resp_dims, "response")
    resp_cls = dims.name_dim(resp_dims, "response_classification")
    proto = tr.treatment_protocol(
        raw["drug_dosing"], raw["patient_treatment"], initial, patient_df, resp, resp_cls
    )
    helper = tr.treatment_and_component_helper(proto)
    treatment_df = tr.treatment(helper)
    comp = tr.treatment_component(helper, treatment_df)
    return dict(
        patient=patient_df, initial=initial, resp=resp, proto=proto,
        helper=helper, treatment=treatment_df, comp=comp,
    )


def test_protocol_union_targets(entities):
    proto = entities["proto"]
    targets = {
        (r["treatment_name"], r["treatment_target"]) for r in proto.collect()
    }
    assert ("Cisplatin + Gemcitabine", "drug dosing") in targets
    assert ("Tamoxifen", "patient") in targets
    # response dim FK resolved after initcap normalization
    resolved = {r["treatment_name"]: r["response_id"] for r in proto.collect()}
    assert resolved["Dactolisib"] is not None
    assert resolved["Tamoxifen"] is not None


def test_component_positional_split(entities):
    helper, proto = entities["helper"], entities["proto"]
    pid = {r["treatment_name"]: r["id"] for r in proto.collect()}
    comps = {
        (r["treatment_name"], r["treatment_dose"])
        for r in helper.filter(
            F.col("treatment_protocol_id") == pid["Cisplatin + Gemcitabine"]
        ).collect()
    }
    assert comps == {("Cisplatin", "2 mg/kg"), ("Gemcitabine", "5 mg/kg")}


def test_component_cardinality_mismatch_keeps_original_dose(entities):
    helper, proto = entities["helper"], entities["proto"]
    pid = {r["treatment_name"]: r["id"] for r in proto.collect()}
    comps = {
        (r["treatment_name"], r["treatment_dose"])
        for r in helper.filter(
            F.col("treatment_protocol_id") == pid["Fluorouracil + Oxaliplatin"]
        ).collect()
    }
    assert comps == {
        ("Fluorouracil", "10 mg/kg"),
        ("Oxaliplatin", "10 mg/kg"),
    }


def test_regimen_discovery_by_sorted_list_equality(spark, entities):
    regimen_map = spark.createDataFrame(
        [
            ("FOLF Regimen", "Fluorouracil"),
            ("FOLF Regimen", "Oxaliplatin"),
            ("GemCis Regimen", "Gemcitabine"),
            ("GemCis Regimen", "Cisplatin"),
            ("Other Regimen", "Fluorouracil"),
        ],
        "regimen string, treatment string",
    )
    found = tr.discover_regimens(entities["helper"], regimen_map)
    proto = entities["proto"]
    pid = {r["treatment_name"]: r["id"] for r in proto.collect()}
    got = {(r["treatment_protocol_id"], r["regimen"]) for r in found.collect()}
    assert (pid["Cisplatin + Gemcitabine"], "GemCis Regimen") in got
    assert (pid["Fluorouracil + Oxaliplatin"], "FOLF Regimen") in got
    # single-component protocols must not match multi-component regimens
    assert all(r != "Other Regimen" or p == pid.get("Fluorouracil") for p, r in got)


def test_aggregation_by_model(entities):
    agg = tr.treatment_aggregation_by_model(
        entities["proto"], entities["helper"], entities["resp"]
    )
    initial = entities["initial"]
    mid = {r["external_model_id"]: r["id"] for r in initial.collect()}
    rows = {r["model_id"]: r for r in agg.collect()}
    m1 = rows[mid["M1"]]
    assert m1["model_treatments"] == ["cisplatin", "dactolisib", "gemcitabine"]
    assert m1["patient_treatments"] is None  # patient rows carry no model FK here


def test_aggregation_by_model_one_row_per_model(spark):
    """Per-target lists come out of one groupBy: a model with both
    targets is one row, a target the model lacks leaves its two columns
    NULL (an empty list when the model has the target but no names),
    and protocols with no model keep one row per target."""
    proto = spark.createDataFrame(
        [
            (1, 10, None, "drug dosing", 1),
            (2, None, 7, "patient", 2),
            (3, 20, None, "drug dosing", None),
            (4, None, None, "drug dosing", 1),
            (5, None, None, "patient", None),
            (6, 30, None, "other", 1),
        ],
        "id long, model_id long, patient_id long, treatment_target string, "
        "response_id long",
    )
    helper = spark.createDataFrame(
        [(1, "Cisplatin "), (1, "cisplatin"), (2, "Tamoxifen"), (4, "X")],
        "treatment_protocol_id long, treatment_name string",
    )
    resp = spark.createDataFrame(
        [(1, "Stable Disease"), (2, "Complete Response")], "id long, name string"
    )
    ps = spark.createDataFrame(
        [(7, 10), (7, None)], "patient_id long, model_id long"
    )
    agg = tr.treatment_aggregation_by_model(proto, helper, resp, ps)
    assert agg.columns == [
        "model_id", "model_treatments", "model_treatments_responses",
        "patient_treatments", "patient_treatments_responses",
    ]
    got = sorted((tuple(r) for r in agg.collect()), key=repr)
    assert got == sorted([
        (10, ["cisplatin"], ["Stable Disease"], ["tamoxifen"], ["Complete Response"]),
        (20, [], [], None, None),
        (None, ["x"], ["Stable Disease"], None, None),
        (None, None, None, [], []),
    ], key=repr)
