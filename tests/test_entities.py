"""Entity-transform tests over the metadata fixture — the reference's
chispa-style per-entity checks (SURVEY §5), plus DAG wiring."""

import pytest

import fixtures


@pytest.fixture(scope="module")
def dag(spark):
    from pdcm_etl_spark.plans.dag import build_metadata_dag

    raw = fixtures.metadata_fixture(spark)
    return build_metadata_dag(spark, raw)


def rows(df, *cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_ethnicity_dim(dag):
    eth = dag.get("ethnicity")
    # initcap + trim, nulls dropped, deterministic dense ids
    assert rows(eth, "name") == [("Caucasian",), ("Hispanic",)]
    assert rows(eth, "id", "name") == [(1, "Caucasian"), (2, "Hispanic")]


def test_patient_fk_resolution(dag):
    p = dag.get("patient")
    got = {r["external_patient_id"]: r for r in p.collect()}
    assert set(got) == {"P1", "P2", "P3"}  # null patient_id dropped
    eth = {r["name"]: r["id"] for r in dag.get("ethnicity").collect()}
    assert got["P1"]["ethnicity_id"] == eth["Caucasian"]
    assert got["P2"]["ethnicity_id"] is None
    pg = {r["abbreviation"]: r["id"] for r in dag.get("provider_group").collect()}
    assert got["P1"]["provider_group_id"] == pg["TRACE"]
    assert got["P3"]["provider_group_id"] == pg["PDMR"]


def test_provider_group_fks(dag):
    pg = dag.get("provider_group")
    got = {r["abbreviation"]: r for r in pg.collect()}
    pt = {r["name"]: r["id"] for r in dag.get("provider_type").collect()}
    pj = {r["name"]: r["id"] for r in dag.get("project_group").collect()}
    assert got["TRACE"]["provider_type_id"] == pt["Academia"]
    assert got["TRACE"]["project_group_id"] == pj["EurOPDX"]
    assert got["PDMR"]["provider_type_id"] == pt["Government"]


def test_initial_model_union_and_type_standardization(dag):
    im = dag.get("initial_model")
    got = {r["external_model_id"]: r["type"] for r in im.collect()}
    assert got == {
        "M1": "PDX", "M2": "PDX", "M3": "PDX",
        "C1": "cell line", "C2": "organoid", "C3": "other",
    }


def test_model_fk_joins(dag):
    m = dag.get("model")
    got = {r["external_model_id"]: r for r in m.collect()}
    # publication group shared across providers resolves to one id
    assert got["M1"]["publication_group_id"] == got["M3"]["publication_group_id"]
    assert got["M2"]["publication_group_id"] is None
    # contact people: all-null rows are excluded from the dim (reference
    # filter), so M2 resolves to no contact; the null-safe join is what
    # lets M3 (null name, real email) still match its dim row
    cp = dag.get("contact_people")
    cp_ids = {(r["name_list"], r["email_list"], r["data_source_tmp"]): r["id"] for r in cp.collect()}
    assert got["M2"]["contact_people_id"] is None
    assert got["M1"]["contact_people_id"] == cp_ids[("Dr A", "a@trace.org", "TRACE")]
    assert got["M3"]["contact_people_id"] == cp_ids[(None, "b@pdmr.gov", "PDMR")]
    # license: static table match; unknown license → null id
    assert got["M1"]["license_name"] == "EMBL-EBI"
    assert got["M3"]["license_id"] is None
    # accessibility multi-column join
    ag = dag.get("accessibility_group")
    ag_ids = {
        (r["accessibility"], r["europdx_access_modalities"]): r["id"] for r in ag.collect()
    }
    assert got["M1"]["accessibility_group_id"] == ag_ids[("academia only", "transnational access")]


def test_deterministic_ids_across_runs(spark):
    """Same input → identical ids on a fresh DAG (the property the
    reference lacks, SURVEY §4 monotonically_increasing_id)."""
    from pdcm_etl_spark.plans.dag import build_metadata_dag

    raw = fixtures.metadata_fixture(spark)
    a = build_metadata_dag(spark, raw).get("model")
    b = build_metadata_dag(spark, raw).get("model")
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_topological_order(dag):
    order = dag.topological_order()
    assert order.index("provider_type") < order.index("provider_group")
    assert order.index("initial_model") < order.index("model")
    assert order.index("publication_group") < order.index("model")


def test_name_dim_family_ids_equal_per_dim_dense_rank(spark):
    """Every dim sliced out of a ``name_dims`` family carries the ids a
    dim built alone (distinct cleaned names, ``add_id`` dense rank)
    would: across a two-frame family, a two-column dim, an empty-string
    value and a dim with no rows at all."""
    from pyspark.sql import functions as F

    from pdcm_etl_spark.functions.cleaner import init_cap_and_trim_all, trim_all
    from pdcm_etl_spark.functions.ids import add_id
    from pdcm_etl_spark.transforms.dims import name_dim, name_dims

    schema = "a string, b string, c string, d string"
    left = spark.createDataFrame(
        [(" beta", "x", "", None), ("alpha", " ", None, "q"),
         ("Beta ", None, "", "p"), (None, "y", None, None)],
        schema,
    )
    right = spark.createDataFrame(
        [("gamma", "x", None, None), ("", "z ", "", "q")], schema
    )
    family = {
        "first": (init_cap_and_trim_all, ("a",)),
        "pair": (trim_all, ("b", "d")),
        "empty": (trim_all, ("c",)),
    }
    stacked = name_dims([left, right], family)
    for dim, (clean, cols) in family.items():
        names = None
        for frame in (left, right):
            for c in cols:
                part = frame.select(clean(c).alias("name"))
                names = part if names is None else names.unionByName(part)
        want = add_id(
            names.where("name is not null and name != ''").drop_duplicates(),
            "id", key_cols=["name"],
        ).select("id", "name")
        got = name_dim(stacked, dim)
        assert got.schema == want.schema, dim
        assert rows(got, "id", "name") == rows(want, "id", "name"), dim
    assert rows(name_dim(stacked, "first"), "id", "name") == [
        (1, "Alpha"), (2, "Beta"), (3, "Gamma")]
    assert rows(name_dim(stacked, "pair"), "id", "name") == [
        (1, "p"), (2, "q"), (3, "x"), (4, "y"), (5, "z")]
    assert name_dim(stacked, "empty").count() == 0
    assert stacked.where(F.col("name") == "").count() == 0


def test_name_dims_are_cheap_slices_of_one_shared_family(dag):
    """A name-dim family is one DAG node and its dims are cheap slices,
    so the family counts their consumers and is shared once for all."""
    assert dag.nodes["source_name_dims"].deps == ["raw/source"]
    for d in ("provider_type", "project_group"):
        assert dag.nodes[d].cheap and dag.nodes[d].deps == ["source_name_dims"]
    assert dag._consumers("source_name_dims", set(dag.nodes)) > 1
