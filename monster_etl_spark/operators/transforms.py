"""The core record-transform library (reference operators T1-T16, A1-A2).

Each reference transform (``MsgTransformations.scala``; inventory in
SURVEY.md §2.2/§2.4) is re-expressed as a ``DataFrame -> DataFrame``
function built ONLY from built-in column expressions — no Python UDFs —
so every operator stays inside Catalyst/whole-stage-codegen and scales as a
narrow (shuffle-free) map stage regardless of data size. The reference's
per-record "skip missing key" tolerance maps to "skip columns absent from
the schema" plus NULL-tolerant expressions (SURVEY.md §1.3-1.4).

Strictness parity: the reference throws on unparsable numerics
(``MsgTransformations.scala:216-221``). ``strict=True`` uses a plain cast,
which throws under an ANSI session (the engine default,
``monster_etl_spark.session``); ``strict=False`` uses ``try_cast`` and
yields NULL in any session. Operators never depend on session config for
their *tolerant* paths.
"""

from __future__ import annotations

import re
from collections.abc import Callable, Iterable, Sequence
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from monster_etl_spark.sql import quote_ident


def _present(df: DataFrame, cols: Iterable[str]) -> list[str]:
    """Columns from ``cols`` present in ``df``'s schema, in schema order.

    Mirrors the reference's missing-key tolerance
    (``MsgTransformations.scala:41-44``, ``:63-65``, ``:210-213``).
    """
    wanted = set(cols)
    return [c for c in df.columns if c in wanted]


# --------------------------------------------------------------------------
# T1-T5: structural per-record ops
# --------------------------------------------------------------------------


def rename_fields(df: DataFrame, mapping: dict[str, str]) -> DataFrame:
    """T1 ``renameFields`` (``MsgTransformations.scala:36-47``).

    Rename columns old->new; absent old names are skipped silently.
    Metadata-only: no row work at any scale.
    """
    present = {old: new for old, new in mapping.items() if old in df.columns}
    return df.withColumnsRenamed(present) if present else df


def remove_fields(df: DataFrame, fields: Iterable[str]) -> DataFrame:
    """T2 ``removeFields`` (``MsgTransformations.scala:60-67``)."""
    return df.drop(*[c for c in _present(df, fields)])


def extract_fields(df: DataFrame, fields: Iterable[str], strict: bool = False) -> DataFrame:
    """T3 ``extractFields`` (``MsgTransformations.scala:80-95``).

    Project to a subset of columns. The reference throws when a record has
    *none* of the requested keys; with ``strict=True`` we reproduce that
    with a raise-on-all-null guard (costly only in the error branch).
    """
    cols = _present(df, fields)
    if not cols:
        raise ValueError(f"none of {sorted(set(fields))} present in schema {df.columns}")
    if not strict:
        return df.select(*cols)
    # The guard must live inside a *kept* column, else Catalyst prunes it
    # away and the error never fires.
    all_null = reduce(lambda a, b: a & b, [F.col(c).isNull() for c in cols])
    first, rest = cols[0], cols[1:]
    guarded = (
        F.when(all_null, F.raise_error(F.lit("extract_fields: record has none of the expected fields")))
        .otherwise(F.col(first))
        .alias(first)
    )
    return df.select(guarded, *rest)


def collect_fields(
    df: DataFrame, fields: Sequence[str], collected_name: str
) -> DataFrame:
    """T4 ``collectFields`` (``MsgTransformations.scala:112-124``).

    Gather N scalar columns into one array column, preserving the given
    order; missing values are *skipped* (shorter array, exact reference
    parity via a null-filter); source columns are removed.
    """
    cols = [c for c in fields if c in df.columns]
    arr = F.filter(F.array(*[F.col(c) for c in cols]), lambda x: x.isNotNull())
    return df.withColumn(collected_name, arr).drop(*cols)


def concat_fields(
    df: DataFrame,
    fields: Sequence[str],
    concat_name: str,
    sep: str,
    strict: bool = True,
) -> DataFrame:
    """T5 ``concatFields`` (``MsgTransformations.scala:142-160``).

    Concatenate N string columns with a separator; the reference throws if
    any is missing (``:151-153``) — ``concat`` (not ``concat_ws``) gives
    NULL-in -> NULL-out, and ``strict=True`` turns that NULL into an error.
    """
    for c in fields:
        if c not in df.columns:
            raise ValueError(f"concat_fields: column {c!r} not in schema")
    parts: list[Column] = []
    for i, c in enumerate(fields):
        if i:
            parts.append(F.lit(sep))
        parts.append(F.col(c))
    joined = F.concat(*parts)
    if strict:
        joined = F.when(joined.isNull(), F.raise_error(F.lit("concat_fields: missing value"))).otherwise(joined)
    return df.withColumn(concat_name, joined).drop(*list(fields))


# --------------------------------------------------------------------------
# T8: generic per-column value mapper (engine of the parse family)
# --------------------------------------------------------------------------


def map_field_values(
    df: DataFrame, fields: Iterable[str], fn: Callable[[Column], Column]
) -> DataFrame:
    """T8 ``mapFieldValues`` (``MsgTransformations.scala:207-225``).

    Replace each present column's value with ``fn(col)``; absent columns
    skipped. One ``withColumns`` call keeps the projection single-pass.
    """
    cols = _present(df, fields)
    return df.withColumns({c: fn(F.col(c)) for c in cols}) if cols else df


# --------------------------------------------------------------------------
# T9-T13: typed parses
#
# Each builder returns parsed SQL over ``operand``, itself SQL: a column
# name quoted by ``quote_ident`` or another builder's output. That is how
# ``plans.v2f.transform_table`` composes a column's stages into one
# projection, and a whole parse chain costs one py4j trip instead of a
# Column tree per field.
# --------------------------------------------------------------------------


def _sql_str(s: str) -> str:
    """A SQL string literal holding exactly ``s``."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


_TRAILING_DOT_ZERO = _sql_str(r"\.0$")


def _nan_to_null(operand: str, nan_values: Iterable[str]) -> str:
    nans = list(nan_values)
    if not nans:
        return operand
    # Reference rewrites nan-sentinels to the literal string "nan" inside
    # numeric fields (MsgTransformations.scala:236-248); a relational column
    # is homogeneous, so we represent the sentinel as NULL (SURVEY.md §7.3.1).
    return f"CASE WHEN {operand} IN ({', '.join(map(_sql_str, nans))}) THEN NULL ELSE {operand} END"


def _named_strict_cast(operand: str, dtype: str, field: str | None) -> str:
    """Strict cast that names the offending field on failure, like the
    reference's parse wrapper (``MsgTransformations.scala:216-221``:
    failures carry the field so a 100-column pipeline error is actionable).
    Pure expressions (try_cast + conditional raise_error) — stays inside
    whole-stage codegen, no UDF."""
    if field is None:
        return f"CAST({operand} AS {dtype})"
    casted = f"try_cast({operand} AS {dtype})"
    msg = _sql_str(f"failed to parse field '{field}' as {dtype}: value '")
    return (
        f"CASE WHEN {operand} IS NOT NULL AND {casted} IS NULL"
        f" THEN raise_error(concat({msg}, {operand}, '\\'')) ELSE {casted} END"
    )


def _parse_numeric_expr(
    operand: str, dtype: str, nan_values: Iterable[str], strict: bool, field: str | None
) -> str:
    c = _nan_to_null(operand, nan_values)
    if dtype == "bigint":
        c = f"regexp_replace({c}, {_TRAILING_DOT_ZERO}, '')"
    return _named_strict_cast(c, dtype, field) if strict else f"try_cast({c} AS {dtype})"


def parse_long_expr(
    operand: str, nan_values: Iterable[str] = (), strict: bool = True, field: str | None = None
) -> str:
    """Scalar of T9: strip one trailing ``.0`` then cast to long
    (``MsgTransformations.scala:236-248``; ``"184305.0"`` -> 184305)."""
    return _parse_numeric_expr(operand, "bigint", nan_values, strict, field)


def parse_double_expr(
    operand: str, nan_values: Iterable[str] = (), strict: bool = True, field: str | None = None
) -> str:
    """Scalar of T10 (``MsgTransformations.scala:259-265``)."""
    return _parse_numeric_expr(operand, "double", nan_values, strict, field)


def parse_boolean_expr(operand: str, true_values: Iterable[str] = ("true",)) -> str:
    """Scalar of T11: boolean by *membership*, NOT cast
    (``MsgTransformations.scala:276-277``): value in ``true_values`` ->
    true, anything else -> false, NULL -> NULL. So ``"1"`` is false under
    the default set — pinned by the reference's golden output
    (``outputs/variant-effect/regulatory-feature-consequences/part-00000-of-00004.json:1``).
    An empty ``true_values`` makes every value false, NULL included.
    """
    values = ", ".join(map(_sql_str, true_values))
    return f"({operand} IN ({values}))" if values else "false"


def parse_string_array_expr(operand: str, delimiter: str) -> str:
    """Scalar of T12: split with Java ``String.split`` semantics (the
    reference calls it at ``MsgTransformations.scala:294``): trailing empty
    strings are dropped (``"a,,".split(",") == ["a"]``,
    ``",,".split(",") == []``), while leading/middle empties are kept.
    Spark's ``split`` keeps trailing empties, so we strip trailing
    delimiters first.
    """
    pat = re.escape(delimiter)
    stripped = f"regexp_replace({operand}, {_sql_str(f'(?:{pat})+$')}, '')"
    return (
        f"CASE WHEN {operand} IS NULL THEN CAST(NULL AS ARRAY<STRING>)"
        f" WHEN {stripped} = '' AND {operand} != '' THEN CAST(array() AS ARRAY<STRING>)"
        f" ELSE split({stripped}, {_sql_str(pat)}) END"
    )


def parse_array_expr(operand: str, delimiter: str, parse_elem: Callable[[str], str]) -> str:
    """Scalar of T13: split like T12, then parse each element with
    ``parse_elem`` (a scalar builder applied to the lambda variable)."""
    return f"transform({parse_string_array_expr(operand, delimiter)}, x -> {parse_elem('x')})"


def _with_parsed(df: DataFrame, fields: Iterable[str], build: Callable[[str, str], str]) -> DataFrame:
    """Replace each present column ``c`` with the parsed SQL
    ``build(quote_ident(c), c)``; absent columns skipped."""
    cols = _present(df, fields)
    return df.withColumns({c: F.expr(build(quote_ident(c), c)) for c in cols}) if cols else df


def parse_longs(
    df: DataFrame, fields: Iterable[str], nan_values: Iterable[str] = (), strict: bool = True
) -> DataFrame:
    """T9 ``parseLongs`` (``MsgTransformations.scala:309-312``). Strict
    failures name the offending field (reference parity)."""
    return _with_parsed(df, fields, lambda q, c: parse_long_expr(q, nan_values, strict, field=c))


def parse_doubles(
    df: DataFrame, fields: Iterable[str], nan_values: Iterable[str] = (), strict: bool = True
) -> DataFrame:
    """T10 ``parseDoubles`` (``MsgTransformations.scala:325-328``). Strict
    failures name the offending field (reference parity)."""
    return _with_parsed(df, fields, lambda q, c: parse_double_expr(q, nan_values, strict, field=c))


def parse_booleans(
    df: DataFrame, fields: Iterable[str], true_values: Iterable[str] = ("true",)
) -> DataFrame:
    """T11 ``parseBooleans`` (``MsgTransformations.scala:340-343``)."""
    return _with_parsed(df, fields, lambda q, _: parse_boolean_expr(q, true_values))


def parse_string_arrays(df: DataFrame, fields: Iterable[str], delimiter: str) -> DataFrame:
    """T12 ``parseStringArrays`` (``MsgTransformations.scala:354-355``).

    Split a string column on a literal delimiter into array<string>.
    """
    return _with_parsed(df, fields, lambda q, _: parse_string_array_expr(q, delimiter))


def parse_long_arrays(
    df: DataFrame,
    fields: Iterable[str],
    delimiter: str,
    nan_values: Iterable[str] = (),
    strict: bool = True,
) -> DataFrame:
    """T13 ``parseLongArrays`` (``MsgTransformations.scala:369-374``).

    Heterogeneous-sentinel caveat: reference keeps literal ``"nan"`` strings
    inside numeric arrays; we emit NULL elements (SURVEY.md §7.3.1).
    """
    return _with_parsed(df, fields, lambda q, c: parse_array_expr(
        q, delimiter, lambda x: parse_long_expr(x, nan_values, strict, field=c)))


def parse_double_arrays(
    df: DataFrame,
    fields: Iterable[str],
    delimiter: str,
    nan_values: Iterable[str] = (),
    strict: bool = True,
) -> DataFrame:
    """T13 ``parseDoubleArrays`` (``MsgTransformations.scala:388-393``)."""
    return _with_parsed(df, fields, lambda q, c: parse_array_expr(
        q, delimiter, lambda x: parse_double_expr(x, nan_values, strict, field=c)))


# --------------------------------------------------------------------------
# T14/T15: array coercion
# --------------------------------------------------------------------------


def ensure_arrays(df: DataFrame, fields: Iterable[str]) -> DataFrame:
    """T15 ``ensureArrays`` (``MsgTransformations.scala:430-436``).

    Force columns to array type: scalar -> singleton, NULL (absent) ->
    empty array, already-array -> unchanged. T14 (``popAsArray`` /
    ``getAsArray``) is the per-record helper this subsumes; with a fixed
    schema the scalar-vs-array decision is static per column.
    """
    dtypes = {f.name: f.dataType for f in df.schema.fields}

    def coerce(c: Column, name: str) -> Column:
        if isinstance(dtypes[name], T.ArrayType):
            return c
        return F.when(c.isNull(), F.array()).otherwise(F.array(c))

    cols = _present(df, fields)
    return df.withColumns({c: coerce(F.col(c), c) for c in cols}) if cols else df


# --------------------------------------------------------------------------
# T16: path-derived columns
# --------------------------------------------------------------------------


def add_column_from_path(
    df: DataFrame, name: str, pattern: str, strict: bool = True
) -> DataFrame:
    """T16 ``addAncestryID`` generalized (``V2FUtils.scala:87-107``).

    Regex-extract a value from each row's source file path into a column.
    ``df`` must still carry file-source lineage (``input_file_name()`` is
    empty after a shuffle). Idiomatic alternative at scale: lay data out as
    ``key=value/`` directories and let Spark partition discovery surface the
    column with partition *pruning* — strictly better than per-row regex
    (SURVEY.md §4); this function exists for reference parity on arbitrary
    layouts. No match -> error when ``strict`` (reference throws,
    ``V2FUtils.scala:97-101``), else NULL.
    """
    extracted = F.regexp_extract(F.input_file_name(), pattern, 1)
    val = F.when(extracted == "", F.lit(None)).otherwise(extracted)
    if strict:
        val = F.when(
            val.isNull(),
            F.raise_error(F.concat(F.lit(f"no match for {pattern!r} in path "), F.input_file_name())),
        ).otherwise(val)
    return df.withColumn(name, val)


def add_ancestry_id(df: DataFrame, strict: bool = True) -> DataFrame:
    """T16 with the reference's hardcoded pattern (``V2FUtils.scala:80``)."""
    return add_column_from_path(df, "ancestry", r"ancestry=([^/]+)/", strict)


# --------------------------------------------------------------------------
# A1/A2: union + dedup
# --------------------------------------------------------------------------


def union_all(dfs: Sequence[DataFrame]) -> DataFrame:
    """A1 bag union by column name (``V2FExtractionsAndTransforms.scala:129-135``)."""
    return reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), dfs)


def distinct_by(df: DataFrame, keys: Sequence[str]) -> DataFrame:
    """A2 ``distinctBy`` (``V2FExtractionsAndTransforms.scala:134``).

    Arbitrary-survivor dedup on extracted scalar keys. Spark plans this as
    partial (map-side) + final hash aggregate on the key exchange — the one
    shuffle of the reference's main pipeline; AQE sizes the post-shuffle
    partitions. Never dedups on whole records (SURVEY.md §1.4).
    """
    return df.dropDuplicates(list(keys))
