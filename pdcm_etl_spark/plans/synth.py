"""Synthetic provider workload: derive a full set of raw provider modules
from the TPC-H-shaped test lake, deterministically, so the REAL entity
pipeline (plans/dag.py → search_index) can be run and benchmarked at any
scale factor — the reference's production workload shape (~56 providers ×
19 modules, SURVEY §6) rather than a hand-written 5-row fixture.

Mapping (all pure column expressions — no UDFs, no randomness):

| TPC table  | becomes                                             |
|------------|-----------------------------------------------------|
| region     | provider (`source` module), 1 provider per region   |
| customer   | `patient` (sex/ethnicity/age from key arithmetic)   |
| orders     | model (`model`/`cell_model` split 9:1), `sample`,   |
|            | `sharing`, `model_validation`, `molchar_sample`     |
| lineitem   | `mutation` rows (line 1..n), `drug_dosing` (line 1),|
|            | `patient_treatment` (line 2), `expression` (key%3=0)|
| range()    | `markers` (HGNC stand-in), obo ontology, mappings   |

Scale design: the only wide joins are orders⋈customer (provider lookup —
hash join on the natural key) and lineitem⋈orders (model/patient ids for
treatments); everything else is key arithmetic on the fact row itself, so
generation is map-side and the pipeline under test does the real work.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pdcm_etl_spark.functions.local_table import values_table
from pdcm_etl_spark.operators.sharing import shared
from pdcm_etl_spark.plans.dag import build_metadata_dag
from pdcm_etl_spark.sources.registry import module_columns
from pdcm_etl_spark.sources.tsv import PROVIDER_COL

N_DIAGNOSES = 97
N_SITES = 20
N_GENES = 2000
N_MARKERS = 1800  # < N_GENES → ~10% of symbols stay unharmonised
N_TREATMENTS = 50

_RESPONSES = [
    "complete response", "partial response", "stable disease",
    "progressive disease",
]
_SITES_OF_ENGRAFTMENT = ["subcutaneous", "orthotopic", "renal capsule"]


def _sq(s: str) -> str:
    """SQL single-quoted string literal."""
    return "'" + s.replace("'", "''") + "'"


def _pick(expr: str, options: list[str]) -> str:
    """Deterministic member of ``options`` keyed by a bigint SQL expr."""
    arr = ", ".join(_sq(o) for o in options)
    return f"element_at(array({arr}), CAST(({expr}) % {len(options)} + 1 AS INT))"


def _module(
    df: DataFrame, module: str, exprs: dict[str, str], provider: str = "prov"
) -> DataFrame:
    """Project onto the module's declared all-string schema in ONE
    ``selectExpr`` call (missing declared columns become null strings,
    provider column last).

    Everything here is SQL-string expressions, not Column objects: each
    Column operation is a py4j round trip, and 17 modules x ~15 columns x
    ~10 ops each put ~8s of pure driver-side chatter on the flagship's
    critical path (profiled at sf0.01 — the cost is scale-independent).
    One selectExpr per module is ~2 round trips total."""
    declared = module_columns(module)
    unknown = set(exprs) - set(declared)
    if unknown:
        raise KeyError(f"{module}: undeclared columns {sorted(unknown)}")
    sel = [
        f"CAST({exprs[c]} AS STRING) AS `{c}`"
        if c in exprs
        else f"CAST(NULL AS STRING) AS `{c}`"
        for c in declared
    ]
    sel.append(f"CAST({provider} AS STRING) AS `{PROVIDER_COL}`")
    return df.selectExpr(*sel)


def synthesize_provider_modules(
    spark: SparkSession, sf_dir: str
) -> dict[str, DataFrame]:
    """Build the full raw-module dict the metadata DAG consumes."""
    from functools import reduce

    region = spark.read.parquet(f"{sf_dir}/region.parquet")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    lineitem = spark.read.parquet(f"{sf_dir}/lineitem.parquet")

    prov_expr = "regexp_replace(r_name, ' ', '_')"

    # provider registry: one per region
    source = _module(
        region,
        "source",
        {
            "provider_name": "r_name",
            "provider_abbreviation": prov_expr,
            "provider_type": _pick(
                "CAST(r_regionkey AS BIGINT)", ["Academia", "Government"]
            ),
            "project": "'SYNTH'",
        },
        provider=prov_expr,
    )

    # customer -> provider lookup (broadcast both dims onto the fact side)
    cust_prov = customer.join(
        F.broadcast(
            nation.join(
                F.broadcast(region), nation.n_regionkey == region.r_regionkey
            ).selectExpr(
                "n_nationkey", "n_name AS nation_name", f"{prov_expr} AS prov"
            )
        ),
        customer.c_nationkey == F.col("n_nationkey"),
    ).select("c_custkey", "nation_name", "prov")
    # shared by patient + the orders spine below; sharing mirrors the
    # reference's materialize-raw-extraction-once step (spark_reader.py:108)
    # and truncates lineage so downstream analysis stays O(node)
    cust_prov = shared(cust_prov)

    patient = _module(
        cust_prov,
        "patient",
        {
            "patient_id": "concat('P', c_custkey)",
            "sex": _pick("c_custkey", ["female", "male"]),
            "ethnicity": "lower(nation_name)",
            "age_at_initial_diagnosis": "20 + c_custkey % 60",
        },
    )

    # orders carry the model/sample spine; resolve provider + patient once.
    # Every 10th spine row is a cell model, the rest PDX.
    o = (
        orders.join(cust_prov, orders.o_custkey == cust_prov.c_custkey)
        .selectExpr(
            "CAST(o_orderkey AS BIGINT) AS ok",
            "concat('P', c_custkey) AS patient_id",
            "prov",
        )
        .selectExpr(
            "*",
            "CASE WHEN ok % 10 = 0 THEN concat('C', ok)"
            " ELSE concat('M', ok) END AS model_id",
            "concat('S', ok) AS sample_id",
        )
    )
    # the model/sample spine feeds 8 modules — compute the o⋈customer
    # shuffle once (lineage-truncating, see operators/sharing.py)
    o = shared(o)

    pdx = o.filter("ok % 10 != 0")
    cell = o.filter("ok % 10 = 0")

    model = _module(
        pdx,
        "model",
        {
            "model_id": "model_id",
            "host_strain_name": _pick("ok", ["NOD SCID GAMMA", "NOD SCID", "nude"]),
            "host_strain_nomenclature": _pick(
                "ok", ["NOD.Cg-Prkdc<scid>", "NOD.CB17", "Foxn1<nu>"]
            ),
            "engraftment_site": _pick("ok", _SITES_OF_ENGRAFTMENT),
            "engraftment_type": _pick("ok", ["heterotopic", "orthotopic"]),
            "sample_type": _pick("ok", ["tissue fragment", "cell suspension"]),
            "sample_state": _pick("ok", ["fresh", "frozen"]),
            "passage_number": "ok % 9 + 1",
            "publications": "CASE WHEN ok % 5 = 0"
            " THEN concat('PMID: ', ok % 1000) END",
            # supplier block (reference model module columns) on every
            # 4th model so the search_index supplier columns populate
            "supplier": "CASE WHEN ok % 4 = 0 THEN concat('Vendor', ok % 7) END",
            "supplier_type": "CASE WHEN ok % 4 = 0 THEN 'commercial' END",
            "catalog_number": "CASE WHEN ok % 4 = 0"
            " THEN concat('CAT-', ok % 500) END",
            "vendor_link": "CASE WHEN ok % 4 = 0"
            " THEN concat('https://vendor.example.org/', ok % 500) END",
        },
    )
    cell_model = _module(
        cell,
        "cell_model",
        {
            "model_id": "model_id",
            "model_name": "concat('CL-', ok)",
            "type": _pick("ok", ["Cell Line", "tumour organoid", "2D: Other"]),
            "publications": "CASE WHEN ok % 5 = 0"
            " THEN concat('PMID: ', ok % 1000) END",
            "rrid": "concat('CVCL_', ok % 10000)",
        },
    )

    sharing = _module(
        o,
        "sharing",
        {
            "model_id": "model_id",
            "accessibility": _pick("ok", ["academia only", "academia and industry"]),
            "europdx_access_modality": "CASE WHEN ok % 3 = 0"
            " THEN 'transnational access' END",
            "email": "CASE WHEN ok % 2 = 0 THEN"
            " concat('contact', ok % 50, '@', lower(prov), '.org') END",
            "name": "CASE WHEN ok % 2 = 0 THEN concat('Dr ', ok % 50) END",
            "form_url": "concat('http://', lower(prov), '.org/form')",
            "database_url": "concat('http://', lower(prov), '.org/db')",
            "license": _pick("ok", ["EMBL-EBI", "CC0", "CC-BY 4.0"]),
            "model_availability": _pick(
                "ok", ["available", "unknown", "not available"]
            ),
        },
    )

    diag_idx = f"(ok % {N_DIAGNOSES})"
    sample = _module(
        o,
        "sample",
        {
            "patient_id": "patient_id",
            "sample_id": "sample_id",
            "model_id": "model_id",
            "age_in_years_at_collection": "20 + ok % 65",
            "diagnosis": f"concat('Diagnosis ', {diag_idx})",
            "tumour_type": _pick("ok", ["primary", "metastatic"]),
            "primary_site": f"concat('site', {diag_idx} % {N_SITES})",
            "collection_site": f"concat('site', ({diag_idx} + 1) % {N_SITES})",
            "stage": _pick("ok", ["I", "II", "III", "IV"]),
            "staging_system": "'TNM'",
            "grade": _pick("ok", ["1", "2", "3"]),
            "grading_system": "'G'",
            "treated_prior_to_collection": _pick("ok", ["yes", "no"]),
        },
    )

    model_validation = _module(
        pdx.filter("ok % 7 = 0"),
        "model_validation",
        {
            "model_id": "model_id",
            "validation_technique": _pick(
                "ok", ["histology", "STR analysis", "SNP analysis"]
            ),
            "description": "'matches patient tumour'",
            "passages_tested": "ok % 3 + 1",
        },
    )

    # treatments: lineitem line 1 -> drug dosing (pdx), line 2 -> patient tx
    li = lineitem.selectExpr(
        "CAST(l_orderkey AS BIGINT) AS ok",
        "CAST(l_linenumber AS INT) AS ln",
        "CAST(l_partkey AS BIGINT) AS pk",
        "CAST(l_quantity AS INT) AS qty",
    )
    # lineitem⋈orders feeds 4 modules (dosing, patient tx, mutation,
    # expression) — one shuffle, reused
    li_o = shared(li.join(o, "ok"))
    drug = f"concat('drug ', pk % {N_TREATMENTS})"
    # every third protocol is a 2-drug combination ('+'-separated, the
    # reference's posexplode positional-dose shape)
    drug2 = f"concat({drug}, ' + drug ', (pk + 1) % {N_TREATMENTS})"
    dose1 = "concat(qty % 20 + 1, ' mg')"
    dose2 = f"concat({dose1}, ' + ', qty % 10 + 1, ' mg')"
    drug_dosing = _module(
        li_o.filter("ln = 1 AND ok % 10 != 0"),
        "drug_dosing",
        {
            "model_id": "model_id",
            "treatment_name": f"CASE WHEN ok % 3 = 0 THEN {drug2} ELSE {drug} END",
            "treatment_dose": f"CASE WHEN ok % 3 = 0 THEN {dose2} ELSE {dose1} END",
            "treatment_response": _pick("pk", _RESPONSES),
            "response_classification": "'RECIST 1.1'",
        },
    )
    patient_treatment = _module(
        li_o.filter("ln = 2"),
        "patient_treatment",
        {
            "patient_id": "patient_id",
            "model_id": "model_id",
            "treatment_name": drug,
            "treatment_dose": dose1,
            "treatment_response": _pick("pk + 1", _RESPONSES),
            "response_classification": "'RECIST 1.1'",
        },
    )

    # molecular metadata: every sample sequenced for mutation; every third
    # also has expression; every 4th/5th/6th cna / immunemarker / biomarker
    platforms = source.select(F.col(PROVIDER_COL).alias("prov")).crossJoin(
        values_table(
            spark,
            [
                ("pl_mut", "mutation", "Illumina NovaSeq", "WGS"),
                ("pl_expr", "expression", "Illumina NovaSeq", "RNA-Seq"),
                ("pl_cna", "copy number alteration", "Affymetrix SNP6", "arrays"),
                ("pl_imm", "immunemarker", "IHC", "targeted"),
                ("pl_bio", "bio markers", "IHC", "targeted"),
            ],
            [
                "platform_id",
                "molecular_characterisation_type",
                "instrument_model",
                "library_strategy",
            ],
        )
    )
    molchar_platform = _module(
        platforms,
        "molchar_platform",
        {
            "platform_id": "platform_id",
            "molecular_characterisation_type": "molecular_characterisation_type",
            "instrument_model": "instrument_model",
            "library_strategy": "library_strategy",
        },
    )
    # raw_data_url: alternate archive accessions so raw_data_resources has
    # a deterministic per-model set ('ENA'/'EGA'/none)
    mc_base = o.selectExpr(
        "model_id",
        "sample_id",
        "ok",
        "'patient' AS sample_origin",
        "'0' AS passage",
        "CASE WHEN ok % 3 = 0 THEN concat('ENA:ERP', ok % 900)"
        " WHEN ok % 3 = 1 THEN concat('EGA:EGAS', ok % 900) END AS raw_data_url",
        "prov",
    )
    mc_parts = [mc_base.selectExpr("*", "'pl_mut' AS platform_id")] + [
        mc_base.filter(f"ok % {mod} = 0").selectExpr(
            "*", f"'{pid}' AS platform_id"
        )
        for mod, pid in ((3, "pl_expr"), (4, "pl_cna"), (5, "pl_imm"), (6, "pl_bio"))
    ]
    molchar_sample = _module(
        reduce(lambda a, b: a.unionByName(b), mc_parts),
        "molchar_sample",
        {
            "model_id": "model_id",
            "sample_id": "sample_id",
            "sample_origin": "sample_origin",
            "passage": "passage",
            "raw_data_url": "raw_data_url",
            "platform_id": "platform_id",
        },
    )

    gene = f"concat('GENE', pk % {N_GENES})"
    mutation = _module(
        li_o,
        "mutation",
        {
            "sample_id": "sample_id",
            "symbol": gene,
            "consequence": _pick(
                "pk", ["missense_variant", "stop_gained", "frameshift"]
            ),
            "chromosome": "pk % 23 + 1",
            "read_depth": "qty",
            "seq_start_position": "pk % 1000",
            "ref_allele": _pick("pk", ["A", "C", "G", "T"]),
            "alt_allele": _pick("pk + 1", ["A", "C", "G", "T"]),
            "ncbi_gene_id": f"pk % {N_GENES} + 100000",
            "platform_id": "'pl_mut'",
        },
    )
    expression = _module(
        li_o.filter("ok % 3 = 0"),
        "expression",
        {
            "sample_id": "sample_id",
            "symbol": gene,
            "rnaseq_fpkm": "qty * 100 + pk % 100",
            "platform_id": "'pl_expr'",
        },
    )
    cna = _module(
        li_o.filter("ok % 4 = 0"),
        "cna",
        {
            "sample_id": "sample_id",
            "symbol": gene,
            "chromosome": "pk % 23 + 1",
            "seq_start_position": "pk % 1000",
            "seq_end_position": "pk % 1000 + 500",
            "copy_number_status": _pick("pk", ["gain", "loss", "neutral"]),
            "gistic_value": "qty % 5 - 2",
            "platform_id": "'pl_cna'",
        },
    )
    # biomarker: line 1 of every 6th order carries a breast-cancer IHC
    # panel gene; other lines carry plain GENE symbols
    bc_gene = _pick("pk", ["ERBB2", "ESR1", "PGR"])
    biomarker = _module(
        li_o.filter("ok % 6 = 0"),
        "biomarker",
        {
            "sample_id": "sample_id",
            "biomarker": f"CASE WHEN ln = 1 THEN {bc_gene} ELSE {gene} END",
            "biomarker_status": _pick(
                "pk + 1", ["Positive", "Negative", "Undetermined"]
            ),
            "essential_or_additional_marker": "'essential'",
            "platform_id": "'pl_bio'",
        },
    )
    # immunemarker: every 5th order gets an MSI call; every 10th also HLA
    imm_base = o.filter("ok % 5 = 0")
    immunemarker = _module(
        imm_base,
        "immunemarker",
        {
            "sample_id": "sample_id",
            "marker_type": "'Model Genomics'",
            "marker_name": "'MSI'",
            "marker_value": _pick("ok", ["Stable", "Instable high", "Instable low"]),
            "platform_id": "'pl_imm'",
        },
    ).unionByName(
        _module(
            imm_base.filter("ok % 10 = 0"),
            "immunemarker",
            {
                "sample_id": "sample_id",
                "marker_type": "'HLA type'",
                "marker_name": "concat('HLA-A*', ok % 30)",
                "marker_value": "'present'",
                "platform_id": "'pl_imm'",
            },
        )
    )
    model_image = _module(
        pdx.filter("ok % 8 = 0"),
        "model_image",
        {
            "model_id": "model_id",
            "url": "concat('https://images.example.org/', model_id, '.png')",
            "description": "'tumour section'",
            "sample_type": _pick("ok", ["tumour", "xenograft"]),
            "passage": "ok % 5",
            "magnification": "'20x'",
            "staining": "'H&E'",
        },
    )
    # downloaded annotation-resource entries: fixed gene slices per
    # resource so cancer_annotation_resources is key arithmetic too
    resource_defs = values_table(
        spark,
        [
            ("CIViC", 0, 400),
            ("OncoMX", 200, 700),
            ("ClinGen", 600, 1200),
            ("CancerMine", 1000, 1800),
        ],
        ["resource_name", "lo", "hi"],
    )
    resource = _module(
        spark.range(N_GENES).join(
            F.broadcast(resource_defs),
            (F.col("id") >= F.col("lo")) & (F.col("id") < F.col("hi")),
        ),
        "resource",
        {
            "entry": "concat('GENE', id)",
            "resource": "resource_name",
            "type": "'Gene'",
            "link": "concat('https://resources.example.org/',"
            " resource_name, '/', id)",
        },
        provider="'SYNTH'",
    )

    # HGNC stand-in: the first N_MARKERS genes are approved symbols
    markers = _module(
        spark.range(N_MARKERS),
        "markers",
        {
            "hgnc_id": "concat('HGNC:', id)",
            "approved_symbol": "concat('GENE', id)",
            "approved_name": "concat('gene ', id)",
            "status": "'Approved'",
            "ncbi_gene_id": "id + 100000",
        },
        provider="'SYNTH'",
    )

    # mini NCIt: a diagnosis branch, a treatment branch, a regimen root
    diag_terms = spark.range(N_DIAGNOSES).selectExpr(
        "concat('NCIT:D', id) AS term_id",
        "concat('Diagnosis ', id, ' Neoplasm') AS term_name",
        "concat('http://purl.obolibrary.org/obo/NCIT_D', id) AS term_url",
        "'NCIT:C9305' AS is_a",
    )
    # drugs hang off typed intermediate classes so the treatment-type
    # keyword classifier (transforms/links.py KEYWORDS_BY_TYPE) finds
    # matches in the ancestor closure: 1/3 cytotoxic, 1/3 immuno, 1/3
    # unclassified (direct child of the root)
    trt_terms = spark.range(N_TREATMENTS).selectExpr(
        "concat('NCIT:T', id) AS term_id",
        "concat('drug ', id) AS term_name",
        "concat('http://purl.obolibrary.org/obo/NCIT_T', id) AS term_url",
        "CASE WHEN id % 3 = 0 THEN 'NCIT:TCHEMO'"
        " WHEN id % 3 = 1 THEN 'NCIT:TIMMUNO'"
        " ELSE 'NCIT:C1932' END AS is_a",
    )
    roots = values_table(
        spark,
        [
            (
                "NCIT:C9305",
                "Malignant Neoplasm",
                "http://purl.obolibrary.org/obo/NCIT_C9305",
                "",
            ),
            (
                "NCIT:C1932",
                "Chemical Modifier",
                "http://purl.obolibrary.org/obo/NCIT_C1932",
                "",
            ),
            (
                "NCIT:TCHEMO",
                "Cytotoxic Chemotherapy Agent",
                "http://purl.obolibrary.org/obo/NCIT_TCHEMO",
                "NCIT:C1932",
            ),
            (
                "NCIT:TIMMUNO",
                "Immunotherapy Agent",
                "http://purl.obolibrary.org/obo/NCIT_TIMMUNO",
                "NCIT:C1932",
            ),
            (
                "NCIT:C12218",
                "Treatment Regimen",
                "http://purl.obolibrary.org/obo/NCIT_C12218",
                "",
            ),
        ],
        ["term_id", "term_name", "term_url", "is_a"],
    )
    obo = roots.unionByName(diag_terms).unionByName(trt_terms)

    # curated mappings: every (provider, diagnosis, tissue, tumour type)
    # combination the sample generator can emit
    diag_space = (
        spark.range(N_DIAGNOSES)
        .crossJoin(source.selectExpr(f"`{PROVIDER_COL}` AS datasource"))
        .crossJoin(
            values_table(spark, [("primary",), ("metastatic",)], ["tumor_type"])
        )
    )
    diagnosis_mapping = _module(
        diag_space,
        "diagnosis_mapping",
        {
            "datasource": "datasource",
            "diagnosis": "concat('Diagnosis ', id)",
            "primary_tissue": f"concat('site', id % {N_SITES})",
            "tumor_type": "tumor_type",
            "mapped_term_url": "concat('http://purl.obolibrary.org/obo/NCIT_D', id)",
        },
        provider="datasource",
    )
    treatment_mapping = _module(
        spark.range(N_TREATMENTS).crossJoin(
            source.selectExpr(f"`{PROVIDER_COL}` AS datasource")
        ),
        "treatment_mapping",
        {
            "datasource": "datasource",
            "treatment": "concat('drug ', id)",
            "mapped_term_url": "concat('http://purl.obolibrary.org/obo/NCIT_T', id)",
        },
        provider="datasource",
    )

    return {
        "source": source,
        "patient": patient,
        "model": model,
        "cell_model": cell_model,
        "sharing": sharing,
        "sample": sample,
        "model_validation": model_validation,
        "drug_dosing": drug_dosing,
        "patient_treatment": patient_treatment,
        "molchar_sample": molchar_sample,
        "molchar_platform": molchar_platform,
        "mutation": mutation,
        "expression": expression,
        "cna": cna,
        "biomarker": biomarker,
        "immunemarker": immunemarker,
        "model_image": model_image,
        "resource": resource,
        "markers": markers,
        "obo": obo,
        "diagnosis_mapping": diagnosis_mapping,
        "treatment_mapping": treatment_mapping,
    }


# stable search_index projection for the flagship entry/bench query —
# the REFERENCE's full declared column list, in registry order
# (entities_registry.py:621-692 SEARCH_INDEX_ENTITY
# expected_database_columns). Fixed so the result schema never depends on
# which optional aggregates a module set produces; columns a workload
# doesn't populate surface as null strings (exactly like the reference's
# left-join chain).
SEARCH_INDEX_COLUMNS = [
    "pdcm_model_id", "external_model_id", "data_source", "project_name",
    "provider_name", "model_type", "supplier", "supplier_type",
    "catalog_number", "vendor_link", "rrid", "external_ids", "histology",
    "search_terms", "cancer_system", "dataset_available", "license_name",
    "license_url", "primary_site", "collection_site", "tumour_type",
    "cancer_grade", "cancer_grading_system", "cancer_stage",
    "cancer_staging_system", "patient_id", "patient_age",
    "patient_age_category", "patient_sex", "patient_history",
    "patient_ethnicity", "patient_ethnicity_assessment_method",
    "patient_initial_diagnosis", "patient_age_at_initial_diagnosis",
    "patient_sample_id", "patient_sample_collection_date",
    "patient_sample_collection_event", "patient_sample_collection_method",
    "patient_sample_months_since_collection_1",
    "patient_sample_gene_mutation_status", "patient_sample_virology_status",
    "patient_sample_sharable", "patient_sample_treatment_naive_at_collection",
    "patient_sample_treated_at_collection",
    "patient_sample_treated_prior_to_collection",
    "patient_sample_response_to_treatment", "pdx_model_publications",
    "quality_assurance", "xenograft_model_specimens", "model_images",
    "markers_with_cna_data", "markers_with_mutation_data",
    "markers_with_expression_data", "markers_with_biomarker_data",
    "breast_cancer_biomarkers", "msi_status", "hla_types",
    "patient_treatments", "patient_treatments_responses", "model_treatments",
    "model_treatments_responses", "custom_treatment_type_list",
    "raw_data_resources", "cancer_annotation_resources",
    "model_availability", "date_submitted", "scores",
]


def _project_columns(six: DataFrame) -> DataFrame:
    """Projection onto SEARCH_INDEX_COLUMNS with array serialization:
    arrays are '|'-joined (sorted upstream) — the reference flattens
    these to `{a,b}` literals at export the same way; the string form
    also keeps the driver canonicalizer hash-stable. Missing columns →
    null strings (the reference's left-join chain yields NULL there
    too)."""
    from pyspark.sql.types import ArrayType

    array_cols = {f.name for f in six.schema.fields if isinstance(f.dataType, ArrayType)}
    cols = []
    for c in SEARCH_INDEX_COLUMNS:
        if c not in six.columns:
            cols.append(F.lit(None).cast("string").alias(c))
        elif c in array_cols:
            cols.append(F.array_join(F.col(c).cast("array<string>"), "|").alias(c))
        else:
            cols.append(F.col(c).cast("string").alias(c))
    return six.select(*cols)


def build_search_index(
    spark: SparkSession, raw: dict[str, DataFrame]
) -> DataFrame:
    """The flagship build over provider modules ``raw``: the metadata DAG
    run for search_index, projected onto SEARCH_INDEX_COLUMNS."""
    dag = build_metadata_dag(spark, raw)
    return _project_columns(dag.run(targets=["search_index"])["search_index"])


def run_etl_search_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship query: full metadata DAG over the synthetic provider
    workload, returning the denormalized search_index with the
    reference's full declared column list."""
    return build_search_index(spark, synthesize_provider_modules(spark, sf_dir))
