"""The v2f pipelines (reference P1-P5) as Spark plans.

Declarative per-table configs mirror ``V2FConstants.scala`` (six concrete
configs, ``:71-287``); assemblies mirror
``V2FExtractionsAndTransforms.scala`` and the two entry points
(``ExtractionPipeline.scala``, ``DatasetSpecificPipeline.scala``).

The transform order inside :func:`transform_table` is observable behavior
and matches ``V2FExtractionsAndTransforms.scala:80-121`` exactly:
rename -> remove -> doubles -> longs -> booleans -> string arrays ->
double arrays (with nan sentinel ``"."`` hardcoded at ``:113-117``).
E.g. ``position`` appears in both remove and long sets for
FrequencyAnalysis — removal wins because it runs first (SURVEY.md §7.3.4).

Every stage is a narrow transformation; the only shuffle in the whole
extraction pipeline is the variant dedup (``distinct_by`` on ``id``),
exactly like the reference (SURVEY.md §6).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from monster_etl_spark.config import TableConfig
from monster_etl_spark.naming import columns_to_snake_case
from monster_etl_spark.operators.transforms import (
    distinct_by,
    extract_fields,
    parse_array_expr,
    parse_boolean_expr,
    parse_double_expr,
    parse_long_expr,
    parse_longs,
    parse_string_array_expr,
    remove_fields,
    rename_fields,
    union_all,
)
from monster_etl_spark.sources.jsonl import read_json_lines, write_json_lines
from monster_etl_spark.sources.tsv import read_tsv
from monster_etl_spark.sql import quote_ident

# ---------------------------------------------------------------------------
# Table configs (V2FConstants.scala:71-287). Names are post-snake-case.
# ---------------------------------------------------------------------------

VARIANT_FIELDS_TO_EXTRACT = frozenset({"id", "chromosome", "position", "reference", "alt"})
VARIANT_FIELDS_TO_RENAME = {"var_id": "id"}

FREQUENCY_ANALYSIS = TableConfig(
    table_name="frequency-analysis",
    fields_to_rename={"var_id": "variant_id"},
    fields_to_remove=frozenset({"chromosome", "position", "reference", "alt"}),
    fields_to_double=frozenset({"eaf", "maf"}),
    fields_to_long=frozenset({"position"}),
)

META_ANALYSIS_ANCESTRY_SPECIFIC = TableConfig(
    table_name="meta-analysis/ancestry-specific",
    fields_to_rename={"var_id": "variant_id"},
    fields_to_remove=frozenset({"chromosome", "position", "reference", "alt"}),
    fields_to_double=frozenset({"p_value", "beta", "std_err"}),
    fields_to_long=frozenset({"n", "position"}),
)

META_ANALYSIS_TRANS_ETHNIC = TableConfig(
    table_name="meta-analysis/trans-ethnic",
    fields_to_rename={"var_id": "variant_id"},
    fields_to_remove=frozenset({"chromosome", "position", "reference", "alt"}),
    fields_to_double=frozenset({"p_value", "z_score", "std_err", "beta"}),
    fields_to_long=frozenset({"n", "position"}),
    fields_to_boolean=frozenset({"top"}),
)

VARIANT_EFFECT_REGULATORY_FEATURE_CONSEQUENCES = TableConfig(
    table_name="variant-effect/regulatory-feature-consequences",
    fields_to_rename={"id": "variant_id"},
    fields_to_boolean=frozenset({"pick"}),
    string_array_fields={",": frozenset({"consequence_terms"})},
)

_TC_DOUBLES = frozenset(
    """cadd_phred cadd_raw cadd_raw_rankscore dann_rankscore dann_score
    eigen_pc_raw eigen_pc_raw_rankscore eigen_phred eigen_raw
    fathmm_converted_rankscore fathmm_mkl_coding_rankscore fathmm_mkl_coding_score
    genocanyon_score genocanyon_score_rankscore gerp_plus_plus_nr gerp_plus_plus_rs
    gerp_plus_plus_rs_rankscore gm_12878_confidence_value gm_12878_fitcons_score
    gm_12878_fitcons_score_rankscore h_1_hesc_confidence_value h_1_hesc_fitcons_score
    h_1_hesc_fitcons_score_rankscore huvec_confidence_value huvec_fitcons_score
    huvec_fitcons_score_rankscore integrated_confidence_value integrated_fitcons_score
    integrated_fitcons_score_rankscore lrt_converted_rankscore lrt_omega lrt_score
    metalr_rankscore metalr_score metasvm_rankscore metasvm_score
    mutationassessor_score mutationassessor_score_rankscore
    mutationtaster_converted_rankscore phastcons_100_way_vertebrate
    phastcons_100_way_vertebrate_rankscore phastcons_20_way_mammalian
    phastcons_20_way_mammalian_rankscore phylop_100_way_vertebrate
    phylop_100_way_vertebrate_rankscore phylop_20_way_mammalian
    phylop_20_way_mammalian_rankscore polyphen_2_hdiv_rankscore
    polyphen_2_hvar_rankscore polyphen_score provean_converted_rankscore
    sift_converted_rankscore siphy_29_way_logodds siphy_29_way_logodds_rankscore
    vest_3_rankscore""".split()
)

VARIANT_EFFECT_TRANSCRIPT_CONSEQUENCES = TableConfig(
    table_name="variant-effect/transcript-consequences",
    fields_to_rename={
        "gerp++_nr": "gerp_plus_plus_nr",
        "gerp++_rs": "gerp_plus_plus_rs",
        "gerp++_rs_rankscore": "gerp_plus_plus_rs_rankscore",
        "id": "variant_id",
    },
    fields_to_double=_TC_DOUBLES,
    fields_to_long=frozenset(
        {"cdna_end", "cdna_start", "cds_end", "cds_start", "distance",
         "protein_end", "protein_start", "reliability_index", "strand"}
    ),
    fields_to_boolean=frozenset({"canonical", "pick"}),
    string_array_fields={
        ",": frozenset(
            {"consequence_terms", "fathmm_pred", "flags", "lof_flags",
             "mutationtaster_aae", "mutationtaster_model", "mutationtaster_pred",
             "provean_pred", "sift_pred", "transcript_id_vest_3",
             "transcript_var_vest_3", "interpro_domain"}
        )
    },
    double_array_fields={
        ",": frozenset(
            {"mutationtaster_score", "vest_3_score", "polyphen_2_hdiv_score",
             "polyphen_2_hvar_score", "sift_score", "fathmm_score", "provean_score"}
        ),
        ":": frozenset({"siphy_29_way_pi"}),
    },
    nan_values=frozenset({"."}),
)

DATASET_SPECIFIC_ANALYSIS = TableConfig(
    table_name="dataset-specific",
    fields_to_rename={"var_id": "variant_id"},
    fields_to_remove=frozenset({"chromosome", "position", "reference", "alt"}),
)

TSV_TABLE_CONFIGS = {
    "frequency-analysis": FREQUENCY_ANALYSIS,
    "meta-analysis-ancestry-specific": META_ANALYSIS_ANCESTRY_SPECIFIC,
    "meta-analysis-trans-ethnic": META_ANALYSIS_TRANS_ETHNIC,
    "regulatory-feature-consequences": VARIANT_EFFECT_REGULATORY_FEATURE_CONSEQUENCES,
    "transcript-consequences": VARIANT_EFFECT_TRANSCRIPT_CONSEQUENCES,
}

# Variant extraction happens from these three tables (ExtractionPipeline.scala:122-138)
VARIANT_SOURCE_TABLES = (
    "frequency-analysis",
    "meta-analysis-ancestry-specific",
    "meta-analysis-trans-ethnic",
)


# ---------------------------------------------------------------------------
# P1: extract + convert (TSV glob -> snake-cased all-string DataFrame)
# ---------------------------------------------------------------------------


def extract_and_convert(
    spark: SparkSession,
    input_dir: str,
    config: TableConfig,
    relative_file_path: str = "**/*.csv",
) -> DataFrame:
    """P1 ``extractAndConvert`` (``V2FExtractionsAndTransforms.scala:21-40``):
    TSV glob read + snake-case headers. Provenance kept for T16."""
    df = read_tsv(spark, f"{input_dir}/{config.table_name}/{relative_file_path}", with_provenance=True)
    return columns_to_snake_case(df)


# ---------------------------------------------------------------------------
# P2: config-driven transform chain
# ---------------------------------------------------------------------------


def transform_table(df: DataFrame, config: TableConfig, strict: bool = True) -> DataFrame:
    """P2 ``transform`` (``V2FExtractionsAndTransforms.scala:77-122``).

    After the rename, one projection: each column's remaining stages
    compose in the reference order as nested parsed SQL, built in one py4j
    trip instead of one analysed frame per stage. The rename stays its own
    metadata-only step so Catalyst places its aliases exactly where it
    places them for the stage-by-stage chain (same plan)."""
    df = rename_fields(df, config.fields_to_rename)
    nan_values = config.nan_values or {"."}  # hardcoded in the reference at :113-117
    exprs = []
    for name in df.columns:
        if name in config.fields_to_remove:
            continue
        e = quote_ident(name)
        if name in config.fields_to_double:
            e = parse_double_expr(e, strict=strict, field=name)
        if name in config.fields_to_long:
            e = parse_long_expr(e, strict=strict, field=name)
        if name in config.fields_to_boolean:
            e = parse_boolean_expr(e, config.boolean_true_values)
        for delim, fields in config.string_array_fields.items():
            if name in fields:
                e = parse_string_array_expr(e, delim)
        for delim, fields in config.double_array_fields.items():
            if name in fields:
                e = parse_array_expr(
                    e, delim, lambda x: parse_double_expr(x, nan_values, strict, field=name)
                )
        exprs.append(e if e == quote_ident(name) else f"{e} AS {quote_ident(name)}")
    return df.selectExpr(*exprs)


# ---------------------------------------------------------------------------
# P3/P4: variant extraction + merge
# ---------------------------------------------------------------------------


def extract_and_transform_variants(df: DataFrame, config: TableConfig) -> DataFrame:
    """P3 (``V2FExtractionsAndTransforms.scala:48-70``): rename
    ``var_id -> id``, project the 5 variant fields, parse the config's long
    fields (only ``position`` survives the projection)."""
    df = rename_fields(df, VARIANT_FIELDS_TO_RENAME)
    df = extract_fields(df, VARIANT_FIELDS_TO_EXTRACT)
    return parse_longs(df, config.fields_to_long)


def merge_variants(variant_dfs: list[DataFrame]) -> DataFrame:
    """P4 ``mergeVariantMsgs`` (``V2FExtractionsAndTransforms.scala:129-135``):
    union + dedup by ``id`` — the pipeline's single shuffle."""
    return distinct_by(union_all(variant_dfs), ["id"])


# ---------------------------------------------------------------------------
# P5: dataset-specific (JSON -> JSON, no casts)
# ---------------------------------------------------------------------------


def transform_dataset_specific(df: DataFrame) -> DataFrame:
    """P5 (``DatasetSpecificPipeline.scala:83-97``): snake-case keys ->
    rename -> remove; types come from JSON inference itself."""
    df = columns_to_snake_case(df)
    df = rename_fields(df, DATASET_SPECIFIC_ANALYSIS.fields_to_rename)
    return remove_fields(df, DATASET_SPECIFIC_ANALYSIS.fields_to_remove)


# ---------------------------------------------------------------------------
# Entry points (ExtractionPipeline.scala / DatasetSpecificPipeline.scala)
# ---------------------------------------------------------------------------


def build_extraction_tables(spark: SparkSession, input_dir: str) -> dict[str, DataFrame]:
    """Assemble all six output tables of ``ExtractionPipeline.convertAndWrite``
    (``ExtractionPipeline.scala:53-192``) as lazy DataFrames."""
    from monster_etl_spark.operators.transforms import add_ancestry_id

    raw: dict[str, DataFrame] = {}
    for name, config in TSV_TABLE_CONFIGS.items():
        df = extract_and_convert(spark, input_dir, config)
        if name == "meta-analysis-ancestry-specific":
            # T16 between P1 and P2 (ExtractionPipeline.scala:75-77). The
            # ancestry=X/ layout is Hive-partitioning; at scale, reading it
            # as a partition column gets pruning for free (SURVEY.md §4).
            df = add_ancestry_id(df)
        raw[name] = df

    out = {
        name: transform_table(df.drop("__source_file__"), TSV_TABLE_CONFIGS[name])
        for name, df in raw.items()
    }
    out["variants"] = merge_variants(
        [
            extract_and_transform_variants(
                raw[name].drop("__source_file__"), TSV_TABLE_CONFIGS[name]
            )
            for name in VARIANT_SOURCE_TABLES
        ]
    )
    return out


def run_extraction_pipeline(spark: SparkSession, input_dir: str, output_dir: str) -> None:
    """TSV -> JSON-lines, six sinks. Sparse-record outputs drop null fields
    (SURVEY.md §1.5). Output layout mirrors the reference exactly
    (``$outputDir/$filePath``, nested per ``V2FConstants`` file paths —
    e.g. ``variant-effect/transcript-consequences`` — plus ``variants``)."""
    for name, df in build_extraction_tables(spark, input_dir).items():
        config = TSV_TABLE_CONFIGS.get(name)
        out_path = config.table_name if config else name
        # double-array columns render NULL elements as the reference's
        # literal "nan" (SURVEY §7.3.1, now closed at the output boundary)
        nan_arrays = (
            frozenset().union(*config.double_array_fields.values())
            if config and config.double_array_fields
            else ()
        )
        write_json_lines(
            df,
            f"{output_dir}/{out_path}",
            drop_null_fields=True,
            nan_sentinel_arrays=nan_arrays,
        )


def run_dataset_specific_pipeline(spark: SparkSession, input_dir: str, output_dir: str) -> None:
    """JSON -> JSON (``DatasetSpecificPipeline.scala:55-76``): explicit
    nulls preserved, ``n``-style integral doubles read back as longs."""
    df = read_json_lines(spark, f"{input_dir}/dataset-specific/*/*", long_columns=["n"])
    out = transform_dataset_specific(df)
    write_json_lines(out, f"{output_dir}/dataset-specific", drop_null_fields=False)
