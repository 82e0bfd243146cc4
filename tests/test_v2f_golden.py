"""End-to-end golden test: run both v2f pipelines over the reference's own
integration-test inputs and compare every output table to its checked-in
golden outputs as order-insensitive sets of parsed JSON — the reference's
own comparison strategy (V2FIntegrationSpec.scala:45-57; SURVEY.md §5.4).

The literal-"nan"-in-arrays representation is now produced by the engine
itself (write_json_lines nan_sentinel_arrays), so no nan normalization is
applied. Remaining normalization: integral floats compare equal to ints
(JSON 15225.0 vs 15225 — engines may render either). The TSV-derived
sparse tables compare with null/absent keys dropped (absent key and
explicit null are both "missing" there); dataset-specific — whose
contract is "explicit nulls preserved" — compares records verbatim,
nulls included.
"""

import glob
import json
import os

import pytest

REFERENCE_IT = "/root/reference/v2f/src/it/test-files"

# the golden inputs live outside this repo; without them there is
# nothing to compare, so say so instead of erroring on empty reads
pytestmark = pytest.mark.skipif(
    not os.path.isdir(REFERENCE_IT),
    reason=f"v2f reference test files absent: {REFERENCE_IT} does not exist",
)

# engine output layout now mirrors the reference's nested paths exactly
TABLES = {
    t: t
    for t in (
        "frequency-analysis",
        "meta-analysis/ancestry-specific",
        "meta-analysis/trans-ethnic",
        "variant-effect/regulatory-feature-consequences",
        "variant-effect/transcript-consequences",
        "variants",
        "dataset-specific",
    )
}

# explicit-null contract: compare verbatim, keeping null-valued keys
STRICT_NULL_TABLES = {"dataset-specific"}


def _load(pattern):
    recs = []
    for f in sorted(glob.glob(pattern)):
        with open(f) as fh:
            recs.extend(json.loads(line) for line in fh if line.strip())
    return recs


def _norm(v):
    if isinstance(v, list):
        return tuple(_norm(x) for x in v)
    if isinstance(v, float) and v == int(v) and abs(v) < 2**53:
        return int(v)
    return v


def _key(rec, keep_nulls=False):
    return tuple(
        sorted((k, _norm(v)) for k, v in rec.items() if keep_nulls or v is not None)
    )


@pytest.fixture(scope="module")
def pipeline_output(spark, tmp_path_factory):
    from monster_etl_spark.plans.v2f import (
        run_dataset_specific_pipeline,
        run_extraction_pipeline,
    )

    out = str(tmp_path_factory.mktemp("v2f_out"))
    run_extraction_pipeline(spark, f"{REFERENCE_IT}/inputs", out)
    run_dataset_specific_pipeline(spark, f"{REFERENCE_IT}/inputs", out)
    return out


@pytest.mark.parametrize("mine", sorted(TABLES))
def test_golden_table(pipeline_output, mine):
    gold = TABLES[mine]
    got = _load(f"{pipeline_output}/{mine}/part-*.json") or _load(f"{pipeline_output}/{mine}/part-*")
    exp = _load(f"{REFERENCE_IT}/outputs/{gold}/part-*.json")
    assert len(got) == len(exp), f"{mine}: {len(got)} rows vs golden {len(exp)}"
    keep = mine in STRICT_NULL_TABLES
    got_k = sorted(_key(r, keep_nulls=keep) for r in got)
    exp_k = sorted(_key(r, keep_nulls=keep) for r in exp)
    assert got_k == exp_k, f"{mine}: value mismatch"
