"""TSV-with-header source (reference S3/S4).

Reference behavior (``V2FUtils.scala:33-76``; tested
``V2FUtilsSpec.scala:89-191``):

- glob expansion; empty glob is OK, a missing *literal* path errors
  (Spark's reader has the same semantics);
- header row drives parsing; cells are trimmed; empty cells mean the key is
  ABSENT for that record (-> NULL in a fixed schema, SURVEY.md §1.3);
- all cells are strings (typing happens later, per table config);
- heterogeneous files (different columns / column orders) in one glob are
  supported — handled here by unioning per-header groups by name;
- zero-byte files and header-only files are tolerated;
- each record carries file-path provenance (``input_file_name()``).

Scale note: the common case (one header across the glob) is a single
``spark.read.csv`` — splittable, parallel, pushdown-friendly. The
heterogeneous-header case costs one tiny driver-side pass over *file
headers only* (first line per file), then groups files per header so each
group is still one distributed scan; record data never touches the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from monster_etl_spark.fsutil import list_files, read_head
from monster_etl_spark.operators.transforms import union_all

_PROVENANCE_COL = "__source_file__"


def _expand_glob(path: str, spark: SparkSession | None = None) -> list[str]:
    """Reference glob semantics (``V2FUtils.scala:42``): empty *wildcard*
    match is allowed; a missing literal path raises. Listing goes through
    the Hadoop FS API (fsutil) so ``file:/`` URIs and remote schemes both
    resolve; local bare paths keep the ``glob`` fallback."""
    files = [f.path for f in list_files(spark, path)]
    has_wildcard = any(ch in path for ch in "*?[")
    if not files and not has_wildcard:
        raise FileNotFoundError(path)
    return files


def _read_header(
    path: str, sep: str = "\t", spark: SparkSession | None = None
) -> tuple[str, ...] | None:
    """First line of a file as trimmed column names; None if empty file.

    Reads at most the first 64 KiB via fsutil.read_head (any filesystem),
    growing once for pathological headers. Validates driver-side so a
    malformed header fails with a message naming the file, instead of an
    obscure Spark analysis error (or a silent unusable empty-named column)
    much later: empty names (e.g. a trailing tab in the header row) and
    duplicate names are rejected."""
    head = read_head(spark, path, 65536)
    if b"\n" not in head and len(head) == 65536:
        head = read_head(spark, path, 4 * 1024 * 1024)
    line = head.split(b"\n", 1)[0].decode("utf-8")
    if not line.strip():
        return None
    header = tuple(c.strip() for c in line.rstrip("\n").rstrip("\r").split(sep))
    empties = [i for i, c in enumerate(header) if not c]
    if empties:
        raise ValueError(
            f"{path}: empty column name(s) at position(s) {empties} in header "
            f"{header!r} (check for trailing/double separators)"
        )
    dupes = sorted({c for c in header if header.count(c) > 1})
    if dupes:
        raise ValueError(f"{path}: duplicate column name(s) {dupes} in header {header!r}")
    return header


def read_tsv(
    spark: SparkSession,
    path: str,
    with_provenance: bool = False,
    sep: str = "\t",
) -> DataFrame:
    """S4 ``tsvToMsg``: read a TSV glob into an all-string DataFrame.

    Empty cells and whitespace-only cells become NULL (trim-then-drop,
    ``V2FUtils.scala:66-69``). With ``with_provenance`` a
    ``__source_file__`` column carries the reference's ``(path, msg)``
    tuple (``V2FUtils.scala:71``).
    """
    if "://" in path and not path.startswith("file://"):
        # Non-local storage (s3a://, gs://, hdfs://...): delegate wholly to
        # Spark's distributed reader, which reads the header itself. One
        # header per glob is assumed (the overwhelmingly common layout); the
        # heterogeneous-header union is a local-path feature, though
        # fsutil.read_head reads any Hadoop filesystem and could extend it.
        df = (
            spark.read.option("header", True)
            .option("sep", sep)
            .option("inferSchema", False)
            .option("ignoreLeadingWhiteSpace", True)
            .option("ignoreTrailingWhiteSpace", True)
            .option("nullValue", "")
            .csv(path)
        )
        if with_provenance:
            df = df.withColumn(_PROVENANCE_COL, F.input_file_name())
        return df

    files = _expand_glob(path, spark)
    headers: dict[tuple[str, ...], list[str]] = {}
    for f in files:
        h = _read_header(f, sep, spark)
        if h is None:
            continue  # 0-byte files in the glob are legal (FIXTURES.md §8)
        headers.setdefault(h, []).append(f)

    if not headers:
        # empty-glob-OK: an empty all-string frame with no columns
        return spark.createDataFrame([], "struct<>")

    parts: list[DataFrame] = []
    for header, group in headers.items():
        # the trimmed header is the schema: Spark skips each file's first
        # line and launches no job to read it while the plan is built
        df = (
            spark.read.schema(T.StructType([T.StructField(c, T.StringType()) for c in header]))
            .option("header", True)
            .option("sep", sep)
            # trim-then-null: both "" and whitespace-only cells are absent
            .option("ignoreLeadingWhiteSpace", True)
            .option("ignoreTrailingWhiteSpace", True)
            .option("nullValue", "")
            .csv(group)
        )
        if with_provenance:
            df = df.withColumn(_PROVENANCE_COL, F.input_file_name())
        parts.append(df)
    return union_all(parts)
