"""Tarball extraction source (reference S7, the NeMO untar workflow).

Reference behavior (``NeMO/src/main/wdl/untar/UntarFiles.wdl:11-54``):
scatter over a list of tarballs (one task per tarball); each task extracts
every member with the directory structure flattened to basenames
(``--transform 's/.*\\///g'``), keeps files matching
``*<file_extension>``, and lands them at an output path. Tarballs are
assumed uncompressed (the WDL passes no ``-z``) — we auto-detect
compression anyway (``r:*``), which is a superset.

Spark-first mapping: the ``binaryFile`` source scatters tarballs across
the cluster exactly like the WDL scatter (one input split per tarball);
``mapInPandas`` extracts members with the stdlib ``tarfile`` against an
in-memory buffer — no shell, no temp files. Members land as rows of a
DataFrame (tarball provenance, flattened name, size, bytes), which then
write through any normal sink — a parquet landing table of
``binary`` + metadata is the queryable form of the WDL's loose-file
bucket copy.

Memory shape: a whole tarball is one ``content`` cell, so executor memory
bounds tarball size (the WDL sizes per-task disk the same way). For
tarballs beyond memory you shard upstream; the per-member output rows
stream out of the iterator one batch per member list slice.
"""

from __future__ import annotations

import io
import os
import tarfile
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from monster_etl_spark.pyworkers import map_in_pandas

MEMBER_SCHEMA = "tarball string, member string, size long, content binary"


def untar_members(
    spark: SparkSession,
    path_glob: str,
    file_extension: str = "",
    flatten: bool = True,
) -> DataFrame:
    """One row per extracted tar member across a tarball glob.

    ``file_extension`` mirrors the WDL's ``*~{file_extension}`` filter
    (empty = keep everything); ``flatten`` mirrors the WDL's
    ``--transform 's/.*\\///g'`` (basename only). Directories and other
    non-file members are skipped. Deterministic output: members appear in
    archive order with their tarball of origin.
    """
    ext = file_extension

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for _, row in pdf.iterrows():
                out: dict[str, list] = {"tarball": [], "member": [], "size": [], "content": []}
                with tarfile.open(fileobj=io.BytesIO(row["content"]), mode="r:*") as tf:
                    for m in tf:
                        if not m.isfile():
                            continue
                        name = os.path.basename(m.name) if flatten else m.name
                        if ext and not name.endswith(ext):
                            continue
                        fh = tf.extractfile(m)
                        data = fh.read() if fh is not None else b""
                        out["tarball"].append(row["path"])
                        out["member"].append(name)
                        out["size"].append(len(data))
                        out["content"].append(data)
                if out["member"]:
                    yield pd.DataFrame(out)

    src = spark.read.format("binaryFile").load(path_glob).select("path", "content")
    return map_in_pandas(src, extract, MEMBER_SCHEMA)


def untar_to_dir(
    spark: SparkSession,
    path_glob: str,
    output_dir: str,
    file_extension: str = "",
) -> int:
    """The WDL's full task: extract + land the members as loose files under
    ``output_dir`` (flat, basename-keyed — the WDL's bucket-copy shape).
    Runs distributed (each partition writes its own members; works on any
    task-visible filesystem). Returns the number of files written.
    Collisions follow the WDL: same basename from two tarballs = last
    writer wins.
    """
    os.makedirs(output_dir, exist_ok=True)
    members = untar_members(spark, path_glob, file_extension)

    def land(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for _, row in pdf.iterrows():
                with open(os.path.join(output_dir, row["member"]), "wb") as f:
                    f.write(row["content"])
            yield pd.DataFrame({"n": [len(pdf)]})

    counts = map_in_pandas(members, land, "n long")
    return sum(r["n"] for r in counts.collect())
