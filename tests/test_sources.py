"""Source-layer tests: the reference's TSV edge-case fixture matrix
(V2FUtilsSpec.scala:146-191; FIXTURES.md §8) re-created 1:1, plus the
Hive-partition path that supersedes the reference's per-row regex (T16) —
including the pruning behavior that makes it strictly better at scale."""

import contextlib
import io

import pytest
from pyspark.sql import functions as F

from monster_etl_spark.sources import read_tsv, write_json_lines
from monster_etl_spark.sources.jsonl import read_json_lines


def _tsv(path, text):
    path.write_text(text)


@pytest.fixture()
def fixture_dir(tmp_path):
    # the reference's six unit fixtures, reproduced semantically
    _tsv(tmp_path / "original.tsv", "key1\tkey2\tkey3\nv1\tv2\tv3\nw1\tw2\tw3\n")
    _tsv(tmp_path / "diff_order.tsv", "key3\tkey1\tkey2\nc3\tc1\tc2\n")
    _tsv(tmp_path / "diff_cols.tsv", "key10\tkey20\nd10\td20\n")
    _tsv(tmp_path / "missing_values.tsv", "key1\tkey2\tkey3\nm1\t\tm3\n\t \tm3b\n")
    _tsv(tmp_path / "header_only.tsv", "key1\tkey2\tkey3\n")
    _tsv(tmp_path / "completely_empty.tsv", "")
    return tmp_path


def test_tsv_fixture_matrix(spark, fixture_dir):
    df = read_tsv(spark, f"{fixture_dir}/*.tsv")
    assert set(df.columns) == {"key1", "key2", "key3", "key10", "key20"}
    rows = [r.asDict() for r in df.collect()]
    assert len(rows) == 6  # 2 + 1 + 1 + 2 + 0 + 0
    # header-driven parsing: diff_order row lands in the right columns
    assert {"key1": "c1", "key2": "c2", "key3": "c3", "key10": None, "key20": None} in rows
    # disjoint columns: null-padded union
    assert {"key1": None, "key2": None, "key3": None, "key10": "d10", "key20": "d20"} in rows
    # empty and whitespace-only cells are absent (NULL)
    assert {"key1": "m1", "key2": None, "key3": "m3", "key10": None, "key20": None} in rows
    assert {"key1": None, "key2": None, "key3": "m3b", "key10": None, "key20": None} in rows


def test_tsv_header_only_and_empty_alone(spark, fixture_dir):
    assert read_tsv(spark, f"{fixture_dir}/header_only.tsv").count() == 0
    assert read_tsv(spark, f"{fixture_dir}/completely_empty.tsv").count() == 0


def test_tsv_padded_header_short_row_and_empty_files(spark, tmp_path):
    # whitespace-padded header names read as the trimmed names; a short row
    # gets trailing NULLs; a header-only file and a 0-byte file in the same
    # glob add no rows
    _tsv(tmp_path / "padded.tsv", " key1 \t  key2\tkey3  \nv1\tv2\tv3\ns1\n")
    _tsv(tmp_path / "z_header_only.tsv", "key1\tkey2\tkey3\n")
    _tsv(tmp_path / "z_empty.tsv", "")
    df = read_tsv(spark, f"{tmp_path}/*.tsv")
    assert df.columns == ["key1", "key2", "key3"]
    assert sorted(tuple(r) for r in df.collect()) == [
        ("s1", None, None),
        ("v1", "v2", "v3"),
    ]
    assert read_tsv(spark, f"{tmp_path}/z_*.tsv").count() == 0


def _jobs_while(spark, build):
    """Spark jobs launched while ``build()`` runs on this thread."""
    sc = spark.sparkContext
    sc.setJobGroup("build-only", "plan build")
    try:
        build()
        return list(sc.statusTracker().getJobIdsForGroup("build-only"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def test_tsv_transform_build_launches_no_job(spark, tmp_path):
    """The driver already read the header, so building the whole v2f
    chain over a local TSV reads no data: no Spark job."""
    from monster_etl_spark.config import TableConfig
    from monster_etl_spark.naming import columns_to_snake_case
    from monster_etl_spark.plans.v2f import transform_table

    _tsv(tmp_path / "t.tsv", "OrderKey\tQty\tFlag\n1\t2.0\tR\n")
    config = TableConfig(
        table_name="t",
        fields_to_rename={"order_key": "id"},
        fields_to_long={"id", "qty"},
        fields_to_boolean={"flag"},
        boolean_true_values=frozenset({"R"}),
    )

    def build():
        return transform_table(columns_to_snake_case(read_tsv(spark, f"{tmp_path}/t.tsv")), config)

    assert _jobs_while(spark, build) == []
    assert [tuple(r) for r in build().collect()] == [(1, 2, True)]


def test_small_tsv_scan_fills_the_cores(spark, tmp_path):
    # a ~6 MB single file splits into at least one task per core of the
    # local[4] test session
    row = "\t".join(["1234567890"] * 8) + "\n"
    _tsv(tmp_path / "big.tsv", "\t".join(f"c{i}" for i in range(8)) + "\n" + row * 70_000)
    assert (tmp_path / "big.tsv").stat().st_size > 6_000_000
    assert read_tsv(spark, f"{tmp_path}/big.tsv").rdd.getNumPartitions() >= 4


def test_tsv_malformed_header_named_in_error(spark, tmp_path):
    # a trailing tab yields an empty column name; duplicates are ambiguous —
    # both must fail driver-side naming the offending file
    _tsv(tmp_path / "trailing_tab.tsv", "key1\tkey2\t\nv1\tv2\tv3\n")
    with pytest.raises(ValueError, match="trailing_tab.tsv.*empty column"):
        read_tsv(spark, f"{tmp_path}/trailing_tab.tsv")
    _tsv(tmp_path / "dupe.tsv", "key1\tkey1\nv1\tv2\n")
    with pytest.raises(ValueError, match=r"dupe.tsv.*duplicate column.*key1"):
        read_tsv(spark, f"{tmp_path}/dupe.tsv")


def test_hive_partition_layout_and_pruning(spark, tmp_path):
    """The ancestry=X/ directory convention read as a native partition
    column: the value appears without any per-row regex, and a filter on it
    prunes partitions at planning time (the scan never lists the other
    directories' files) — SURVEY.md §4."""
    src = spark.createDataFrame(
        [("1:10:A:G", "EU"), ("2:20:C:T", "EU"), ("3:30:G:A", "AA")],
        ["variant_id", "ancestry"],
    )
    out = str(tmp_path / "parts")
    src.write.partitionBy("ancestry").json(out)

    df = spark.read.json(out)
    assert set(df.columns) == {"variant_id", "ancestry"}
    filtered = df.filter(F.col("ancestry") == "EU")
    assert filtered.count() == 2

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        filtered.explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters" in plan
    assert "ancestry" in plan.split("PartitionFilters", 1)[1].splitlines()[0]


def test_json_lines_null_contract_roundtrip(spark, tmp_path):
    """SURVEY.md §1.5: explicit nulls preserved with drop_null_fields=False,
    omitted with True."""
    df = spark.createDataFrame([(1, None), (2, "x")], "id bigint, v string")
    keep = str(tmp_path / "keep")
    drop = str(tmp_path / "drop")
    write_json_lines(df, keep, drop_null_fields=False)
    write_json_lines(df, drop, drop_null_fields=True)

    import glob
    import json

    def lines(d):
        out = []
        for f in sorted(glob.glob(f"{d}/part-*")):
            with open(f) as fh:
                out += [json.loads(x) for x in fh if x.strip()]
        return sorted(out, key=lambda r: r["id"])

    assert lines(keep)[0] == {"id": 1, "v": None}
    assert lines(drop)[0] == {"id": 1}
    # readback parity
    back = read_json_lines(spark, keep, schema=df.schema)
    assert sorted(map(tuple, back.collect())) == [(1, None), (2, "x")]
