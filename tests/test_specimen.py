"""Specimen-cluster + model-relationship tests."""

import pytest

import fixtures
from pdcm_etl_spark.transforms import lineage, model as model_t, specimen
from pdcm_etl_spark.transforms.dims import name_dim


@pytest.fixture(scope="module")
def raw_model(spark):
    return fixtures.make_module_df(spark, "model", [
        dict(model_id="M1", host_strain_name="NSG", host_strain_nomenclature="NOD.Cg-X",
             engraftment_site="flank", engraftment_type="heterotopic",
             sample_type="tissue fragment", sample_state="fresh",
             passage_number="1", data_source_tmp="TRACE"),
        dict(model_id="M2", host_strain_name="nsg mouse", host_strain_nomenclature="NOD.Cg-X",
             engraftment_site="Flank ", engraftment_type="orthotopic",
             sample_type="cell suspension", sample_state=None,
             passage_number="2", parent_id="M1", data_source_tmp="TRACE"),
        dict(model_id="M3", parent_id="M2", data_source_tmp="TRACE"),
    ])


def test_host_strain_nomenclature_uniqueness(raw_model):
    hs = specimen.host_strain(raw_model)
    rows = hs.collect()
    assert len(rows) == 1  # two names, one nomenclature → one row
    assert rows[0]["name"] == "nsg"  # deterministic winner: min name
    assert rows[0]["nomenclature"] == "NOD.Cg-X"


def test_specimen_fks(spark, raw_model):
    sharing = fixtures.make_module_df(spark, "sharing", [])
    cell = fixtures.make_module_df(spark, "cell_model", [])
    initial = model_t.initial_model(raw_model, cell, sharing)
    model_dims = specimen.model_name_dims(raw_model)
    sp = specimen.xenograft_model_specimen(
        raw_model,
        *[name_dim(model_dims, d) for d in specimen.MODEL_NAME_DIMS],
        initial,
        specimen.host_strain(raw_model),
    )
    got = {r["external_model_id"]: r for r in sp.collect()}
    assert got["M1"]["engraftment_site_id"] is not None
    # 'flank' vs 'Flank ' normalize to the same dim row
    assert got["M1"]["engraftment_site_id"] == got["M2"]["engraftment_site_id"]
    assert got["M1"]["host_strain_id"] == got["M2"]["host_strain_id"]
    assert got["M2"]["engraftment_sample_state_id"] is None
    assert got["M1"]["model_id"] is not None


def test_model_relationships_closure(spark, raw_model):
    sharing = fixtures.make_module_df(spark, "sharing", [])
    cell = fixtures.make_module_df(spark, "cell_model", [])
    initial = model_t.initial_model(raw_model, cell, sharing)
    rel = lineage.model_relationships(initial)
    ids = {r["external_model_id"]: r["id"] for r in initial.collect()}
    got = {(r["model_id"], r["ancestor_model_id"]): r["depth"] for r in rel.collect()}
    assert got[(ids["M2"], ids["M1"])] == 1
    assert got[(ids["M3"], ids["M2"])] == 1
    assert got[(ids["M3"], ids["M1"])] == 2  # transitive grandparent


def test_quality_assurance_inner_join(spark, raw_model):
    sharing = fixtures.make_module_df(spark, "sharing", [])
    cell = fixtures.make_module_df(spark, "cell_model", [])
    initial = model_t.initial_model(raw_model, cell, sharing)
    validation = fixtures.make_module_df(spark, "model_validation", [
        dict(model_id="M1", validation_technique="histology",
             description="ok", data_source_tmp="TRACE"),
        dict(model_id="GHOST", validation_technique="str analysis",
             data_source_tmp="TRACE"),
    ])
    qa = specimen.quality_assurance(validation, initial)
    rows = qa.collect()
    assert len(rows) == 1  # orphan validation dropped (inner join)
    assert rows[0]["validation_technique"] == "Histology"
    assert rows[0]["model_id"] is not None
