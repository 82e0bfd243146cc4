"""Operator unit tests transcribed from the reference's spec
(MsgTransformationsSpec.scala): happy path, missing-field tolerance, and
expected-throw cases per operator (SURVEY.md §5.1)."""

import pytest
from pyspark.errors import PySparkException
from pyspark.sql import Row
from pyspark.sql import types as T

from monster_etl_spark.operators import transforms as tr


def rows(df):
    return [r.asDict(recursive=True) for r in df.collect()]


def test_rename_fields_skips_missing(spark):
    df = spark.createDataFrame([("a", "b")], ["foo", "bar"])
    out = tr.rename_fields(df, {"foo": "fooNew", "nope": "x"})
    assert out.columns == ["fooNew", "bar"]
    assert rows(out) == [{"fooNew": "a", "bar": "b"}]


def test_remove_fields_skips_missing(spark):
    df = spark.createDataFrame([("a", "b", "c")], ["foo", "bar", "baz"])
    out = tr.remove_fields(df, {"bar", "nope"})
    assert out.columns == ["foo", "baz"]


def test_extract_fields(spark):
    df = spark.createDataFrame([("a", "b", "c")], ["foo", "bar", "baz"])
    out = tr.extract_fields(df, {"foo", "baz"})
    assert out.columns == ["foo", "baz"]


def test_extract_fields_none_present_raises(spark):
    df = spark.createDataFrame([("a",)], ["foo"])
    with pytest.raises(ValueError):
        tr.extract_fields(df, {"nope1", "nope2"})


def test_extract_fields_strict_all_null_record_raises(spark):
    # reference throws when a record has none of the extracted keys
    # (MsgTransformations.scala:88-94)
    df = spark.createDataFrame([(None, None, "x")], "foo string, bar string, baz string")
    with pytest.raises(PySparkException):
        tr.extract_fields(df, {"foo", "bar"}, strict=True).collect()


def test_collect_fields_preserves_order_and_skips_missing(spark):
    # MsgTransformationsSpec: collected array keeps the *given* field order;
    # missing values are skipped -> shorter array
    df = spark.createDataFrame(
        [("v1", "v2", "v3", "k"), (None, "v2", None, "k2")],
        ["a", "b", "c", "keep"],
    )
    out = tr.collect_fields(df, ["c", "a", "b"], "collected")
    assert out.columns == ["keep", "collected"]
    got = rows(out)
    assert got[0]["collected"] == ["v3", "v1", "v2"]
    assert got[1]["collected"] == ["v2"]


def test_concat_fields(spark):
    df = spark.createDataFrame([("4", "835425", "G", "T")], ["chrom", "pos", "ref", "alt"])
    out = tr.concat_fields(df, ["chrom", "pos", "ref", "alt"], "id", ":")
    assert rows(out) == [{"id": "4:835425:G:T"}]


def test_concat_fields_missing_column_raises(spark):
    df = spark.createDataFrame([("a",)], ["foo"])
    with pytest.raises(ValueError):
        tr.concat_fields(df, ["foo", "oops"], "combined", ":")


def test_concat_fields_null_value_raises(spark):
    df = spark.createDataFrame([("a", None)], "foo string, bar string")
    with pytest.raises(PySparkException):
        tr.concat_fields(df, ["foo", "bar"], "combined", ":").collect()


def test_parse_longs_strips_trailing_dot_zero(spark):
    # MsgTransformationsSpec.scala:370-389
    df = spark.createDataFrame([("184305.0", "12", "x")], ["n", "m", "other"])
    out = tr.parse_longs(df, {"n", "m", "missing"})
    assert out.schema["n"].dataType == T.LongType()
    assert rows(out) == [{"n": 184305, "m": 12, "other": "x"}]


def test_parse_longs_failure_raises_strict(spark):
    df = spark.createDataFrame([("12.5",)], ["n"])
    with pytest.raises(PySparkException):
        tr.parse_longs(df, {"n"}).collect()


def test_parse_strict_error_names_field(spark):
    # reference parity: parse failures carry the field name
    # (MsgTransformations.scala:216-221)
    df = spark.createDataFrame([("12.5", "ok")], ["qty_raw", "other"])
    with pytest.raises(PySparkException, match=r"qty_raw.*12\.5"):
        tr.parse_longs(df, {"qty_raw"}).collect()
    df2 = spark.createDataFrame([("abc",)], ["eaf"])
    with pytest.raises(PySparkException, match=r"eaf.*abc"):
        tr.parse_doubles(df2, {"eaf"}).collect()
    df3 = spark.createDataFrame([("1,x,3",)], ["vals"])
    with pytest.raises(PySparkException, match=r"vals.*'x'"):
        tr.parse_long_arrays(df3, {"vals"}, ",").collect()


def test_parse_longs_nan_whitelist(spark):
    # nanValues -> missing (reference emits literal "nan"; we emit NULL,
    # SURVEY.md §7.3.1)
    df = spark.createDataFrame([(".",), ("7.0",)], ["n"])
    out = tr.parse_longs(df, {"n"}, nan_values={"."})
    assert [r["n"] for r in rows(out)] == [None, 7]


def test_parse_doubles(spark):
    df = spark.createDataFrame([("0.13", "1e-3")], ["eaf", "p"])
    out = tr.parse_doubles(df, {"eaf", "p"})
    assert rows(out) == [{"eaf": 0.13, "p": 0.001}]


def test_parse_doubles_nonstrict_yields_null(spark):
    df = spark.createDataFrame([("abc",)], ["x"])
    out = tr.parse_doubles(df, {"x"}, strict=False)
    assert rows(out) == [{"x": None}]


def test_parse_booleans_membership_not_cast(spark):
    # "1" => false under default true-set {"true"} (SURVEY.md §7.3.3)
    df = spark.createDataFrame([("true",), ("1",), ("True",), (None,)], ["pick"])
    out = tr.parse_booleans(df, {"pick"})
    assert [r["pick"] for r in rows(out)] == [True, False, False, None]


def test_parse_booleans_custom_true_values(spark):
    df = spark.createDataFrame([("yes",), ("true",)], ["flag"])
    out = tr.parse_booleans(df, {"flag"}, true_values={"yes", "y"})
    assert [r["flag"] for r in rows(out)] == [True, False]
    # an empty true-set makes every value false, NULL included
    df = spark.createDataFrame([("yes",), (None,)], "flag string")
    assert [r["flag"] for r in rows(tr.parse_booleans(df, {"flag"}, true_values=()))] == [False, False]


def test_parse_string_arrays(spark):
    df = spark.createDataFrame([("24,81,5", None)], "arr string, null_arr string")
    out = tr.parse_string_arrays(df, {"arr", "null_arr"}, ",")
    got = rows(out)
    assert got[0]["arr"] == ["24", "81", "5"]
    assert got[0]["null_arr"] is None


def test_parse_string_arrays_regex_metachar_delimiter(spark):
    df = spark.createDataFrame([("a|b|c",)], ["arr"])
    out = tr.parse_string_arrays(df, {"arr"}, "|")
    assert rows(out)[0]["arr"] == ["a", "b", "c"]


def test_parse_double_arrays_with_nan_sentinel(spark):
    # "." sentinel inside numeric arrays -> NULL element (SURVEY.md §7.3.1)
    df = spark.createDataFrame([("0.1,.,0.3",)], ["scores"])
    out = tr.parse_double_arrays(df, {"scores"}, ",", nan_values={"."})
    assert rows(out)[0]["scores"] == [0.1, None, 0.3]
    assert out.schema["scores"].dataType == T.ArrayType(T.DoubleType())


def test_parse_double_arrays_colon_delimiter(spark):
    df = spark.createDataFrame([("0.5:0.25:.",)], ["pi"])
    out = tr.parse_double_arrays(df, {"pi"}, ":", nan_values={"."})
    assert rows(out)[0]["pi"] == [0.5, 0.25, None]


def test_parse_long_arrays(spark):
    df = spark.createDataFrame([("1.0,2,.",)], ["xs"])
    out = tr.parse_long_arrays(df, {"xs"}, ",", nan_values={"."})
    assert rows(out)[0]["xs"] == [1, 2, None]


def test_ensure_arrays(spark):
    # scalar -> singleton, NULL -> [], array -> unchanged
    # (MsgTransformationsSpec.scala:621-638)
    df = spark.createDataFrame(
        [Row(scalar="x", nothing=None, already=["a", "b"])],
        schema=T.StructType(
            [
                T.StructField("scalar", T.StringType()),
                T.StructField("nothing", T.StringType()),
                T.StructField("already", T.ArrayType(T.StringType())),
            ]
        ),
    )
    out = tr.ensure_arrays(df, {"scalar", "nothing", "already", "missing"})
    got = rows(out)[0]
    assert got == {"scalar": ["x"], "nothing": [], "already": ["a", "b"]}


def test_map_field_values_skips_missing(spark):
    from pyspark.sql import functions as F

    df = spark.createDataFrame([("a",)], ["x"])
    out = tr.map_field_values(df, {"x", "missing"}, lambda c: F.upper(c))
    assert rows(out) == [{"x": "A"}]


def test_union_all_and_distinct_by(spark):
    a = spark.createDataFrame([("1", "x")], ["id", "a"])
    b = spark.createDataFrame([("1", "y"), ("2", "z")], ["id", "b"])
    merged = tr.union_all([a, b])
    assert set(merged.columns) == {"id", "a", "b"}
    assert merged.count() == 3
    deduped = tr.distinct_by(merged, ["id"])
    assert sorted(r["id"] for r in deduped.collect()) == ["1", "2"]
