"""Property-based tests (hypothesis): the engine's transform semantics vs
an independent pure-Python model of the reference behavior, over randomized
records. One Spark job per property (a single createDataFrame with many
generated rows) keeps runtime sane."""

import re

from hypothesis import example, given, settings
from hypothesis import strategies as st

from monster_etl_spark.naming import to_snake_case
from monster_etl_spark.operators import transforms as tr

# --- pure-Python models of reference behavior ------------------------------


def model_snake(name: str) -> str:
    s = name.replace("-", "_")
    s = re.sub(r"([A-Z]+)([A-Z][a-z])", r"\1_\2", s)
    s = re.sub(r"([a-z0-9])([A-Z])", r"\1_\2", s)
    s = re.sub(r"([a-z])([0-9])", r"\1_\2", s)
    s = re.sub(r"([0-9])([a-z])", r"\1_\2", s)
    return s.lower()


def model_parse_long(raw: str | None, nans: set[str]) -> int | None:
    if raw is None or raw in nans:
        return None
    s = raw[:-2] if raw.endswith(".0") else raw
    return int(s)


def model_java_split(raw: str | None, delim: str) -> list[str] | None:
    if raw is None:
        return None
    if raw == "":
        return [""]
    out = raw.split(delim)
    while out and out[-1] == "":
        out.pop()
    return out


# --- properties ------------------------------------------------------------

ident = st.text(
    alphabet=st.characters(whitelist_categories=("Lu", "Ll", "Nd"), max_codepoint=127),
    min_size=1,
    max_size=12,
)


@given(st.lists(ident, min_size=1, max_size=30))
@settings(max_examples=200, deadline=None)
def test_snake_case_matches_model(names):
    for n in names:
        assert to_snake_case(n) == model_snake(n)


longish = st.one_of(
    st.none(),
    st.from_regex(r"-?[0-9]{1,15}", fullmatch=True),
    st.from_regex(r"-?[0-9]{1,12}\.0", fullmatch=True),
    st.just("."),
)


def test_parse_longs_matches_model(spark):
    samples = [
        None, "0", "-7", "184305.0", "9.0", ".", "-12.0", "00.0", "5",
        "123456789012345", "-123456789012.0",
    ]
    df = spark.createDataFrame([(s,) for s in samples], "x string")
    out = [r["x"] for r in tr.parse_longs(df, {"x"}, nan_values={"."}).collect()]
    expected = [model_parse_long(s, {"."}) for s in samples]
    assert out == expected


@given(
    st.lists(
        st.one_of(
            st.none(),
            st.text(alphabet="ab,", max_size=8),
        ),
        min_size=1,
        max_size=25,
    )
)
@settings(max_examples=30, deadline=None)
def test_java_split_matches_model(spark_global, values):
    df = spark_global.createDataFrame([(v,) for v in values], "x string")
    out = [r["x"] for r in tr.parse_string_arrays(df, {"x"}, ",").collect()]
    expected = [model_java_split(v, ",") for v in values]
    assert out == expected


@given(
    st.integers(min_value=0, max_value=40),  # token count
    st.integers(min_value=2, max_value=10),  # chunk size
    st.integers(min_value=0, max_value=8),  # overlap (clamped below chunk)
)
@settings(max_examples=25, deadline=None)
def test_chunking_reconstructs_document(spark_global, n_tokens, chunk, raw_overlap):
    """Stripping each chunk's leading overlap and concatenating in chunk_id
    order must reconstruct the original token sequence exactly — no token
    lost or duplicated for ANY (n, chunk, overlap)."""
    from monster_etl_spark.operators.text import chunk_documents

    overlap = min(raw_overlap, chunk - 1)
    text = " ".join(f"t{i}" for i in range(n_tokens))
    df = spark_global.createDataFrame([(1, text)], "doc_id long, text string")
    rows = sorted(
        chunk_documents(df, chunk_tokens=chunk, overlap=overlap).collect(),
        key=lambda r: r["chunk_id"],
    )
    rebuilt: list[str] = []
    for r in rows:
        toks = r["chunk_text"].split(" ") if r["chunk_text"] else [""]
        rebuilt.extend(toks if not rebuilt else toks[overlap:])
    # empty text tokenizes to [''] on both sides (split semantics)
    expected = text.split(" ") if text else [""]
    assert rebuilt == expected


# hypothesis can't take the function-scoped spark fixture directly; use a
# module-level handle initialized lazily from the session fixture
import pytest  # noqa: E402


@pytest.fixture(scope="module")
def spark_global(spark):
    return spark


@given(
    st.lists(st.sampled_from(["a", "b", "ab", "ba", "c"]), min_size=0, max_size=12),
    st.sampled_from([("a", "b"), ("b", "a"), ("ab", "a")]),
)
def test_bpe_two_pass_replace_equals_greedy_for_distinct_pairs(syms, pair):
    """The operator contract (operators/text.py::_bpe_apply_merge): for
    w1 != w2, two non-overlapping left-to-right literal replaces of
    '|w1|w2|'->'|w1w2|' reproduce greedy left-to-right BPE merge
    application exactly (distinct-pair occurrences never share a symbol,
    only the boundary delimiter, which the second pass repairs).
    Pure-Python mirror of the column expression."""
    w1, w2 = pair
    s = "|" + "|".join(syms) + "|" if syms else "|"
    pat, rep = f"|{w1}|{w2}|", f"|{w1}{w2}|"
    two_pass = s.replace(pat, rep).replace(pat, rep)

    out, i = [], 0
    while i < len(syms):
        if i + 1 < len(syms) and syms[i] == w1 and syms[i + 1] == w2:
            out.append(w1 + w2)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    greedy = "|" + "|".join(out) + "|" if out else "|"
    assert two_pass == greedy


def test_bpe_self_pair_run_semantics_pinned():
    """Self-pair (w1 == w2) runs: identical to greedy up to k = 4; the
    documented deterministic variant (anchored every-third pairing)
    beyond — pinned exactly so a change to the replace scheme is loud."""
    def two_pass(k):
        s = "|" + "|".join(["a"] * k) + "|"
        return s.replace("|a|a|", "|aa|").replace("|a|a|", "|aa|")

    assert two_pass(2) == "|aa|"
    assert two_pass(3) == "|aa|a|"
    assert two_pass(4) == "|aa|aa|"
    # divergence starts at 5: greedy would give |aa|aa|a|
    assert two_pass(5) == "|aa|a|aa|"
    assert two_pass(6) == "|aa|a|aa|a|"
    assert two_pass(8) == "|aa|a|aa|a|aa|"


# --- transform_table: one projection == the stage-by-stage chain ----------

_COLS = ("a", "b", "c", "d")
_TARGETS = ("r1", "r2")
_CELLS = (None, "", "1", "-2", "3.0", "1.5", ".", "R", "true", "x", "1,2", "1,.,2.5", "4,,", ",")


def _stage_chain(df, config, strict):
    """``transform_table`` as the composition of the public per-operator
    functions, one analysed frame per stage, in the reference order."""
    df = tr.rename_fields(df, config.fields_to_rename)
    df = tr.remove_fields(df, config.fields_to_remove)
    df = tr.parse_doubles(df, config.fields_to_double, strict=strict)
    df = tr.parse_longs(df, config.fields_to_long, strict=strict)
    df = tr.parse_booleans(df, config.fields_to_boolean, config.boolean_true_values)
    for delim, fields in config.string_array_fields.items():
        df = tr.parse_string_arrays(df, fields, delim)
    for delim, fields in config.double_array_fields.items():
        df = tr.parse_double_arrays(
            df, fields, delim, nan_values=config.nan_values or {"."}, strict=strict
        )
    return df


def _outcome(build):
    """(column names and types, rows) of the built frame, or the error:
    the field a strict parse names, else the exception type."""
    try:
        df = build()
        return df.dtypes, [tuple(r) for r in df.collect()]
    except Exception as e:  # noqa: BLE001 - the error itself is compared
        named = re.search(r"failed to parse field '([^']*)'", str(e))
        return ("error", named.group(1) if named else type(e).__name__)


@st.composite
def _tables(draw):
    cols = draw(st.lists(st.sampled_from(_COLS), min_size=1, max_size=4, unique=True))
    rows = draw(st.lists(st.tuples(*[st.sampled_from(_CELLS)] * len(cols)), min_size=1, max_size=4))
    olds = draw(st.lists(st.sampled_from(cols), max_size=2, unique=True))
    fresh = [t for t in _TARGETS + _COLS if t not in cols]
    news = draw(st.lists(st.sampled_from(fresh), min_size=len(olds), max_size=len(olds), unique=True))
    names = st.frozensets(st.sampled_from(_COLS + _TARGETS), max_size=3)
    spec = _cfg(
        fields_to_rename=dict(zip(olds, news)),
        fields_to_remove=draw(names),
        fields_to_double=draw(names),
        fields_to_long=draw(names),
        fields_to_boolean=draw(names),
        boolean_true_values=draw(st.frozensets(st.sampled_from(("R", "true", "1")), min_size=1)),
        string_array_fields=draw(st.dictionaries(st.sampled_from((",", ".")), names, max_size=2)),
        double_array_fields=draw(st.dictionaries(st.sampled_from((",", ":")), names, max_size=2)),
        nan_values=draw(st.frozensets(st.sampled_from((".", "x")), max_size=1)),
    )
    return cols, rows, spec, draw(st.booleans())


def _cfg(**kw):
    """``TableConfig`` keyword arguments for table ``t``."""
    return dict(table_name="t", **kw)


def _typed_clashes(spec):
    """Columns in more than one typed parse: the numeric (double or long),
    boolean, and each string-array or double-array delimiter set."""
    typed = [
        {*spec.get("fields_to_double", ()), *spec.get("fields_to_long", ())},
        set(spec.get("fields_to_boolean", ())),
        *map(set, spec.get("string_array_fields", {}).values()),
        *map(set, spec.get("double_array_fields", {}).values()),
    ]
    return {c for c in set().union(*typed) if sum(c in t for t in typed) > 1}


@given(_tables())
@example((["a", "b"], [("x", "2.0")], _cfg(fields_to_remove={"a"}, fields_to_long={"a", "b"}), True))
@example((["a"], [("3.0",), ("x",)], _cfg(fields_to_rename={"a": "r1"}, fields_to_long={"r1"}), True))
@example((["a"], [("3.0",), (None,)], _cfg(fields_to_double={"a"}, fields_to_long={"a"}), True))
@example((["a"], [("3.0",), ("1.5",)], _cfg(fields_to_double={"a"}, fields_to_long={"a"}), True))
@example((["a"], [("1.5",)], _cfg(fields_to_double={"a"}, fields_to_long={"a"}), False))
@example(
    (["a", "b"], [("1,.,2.5", "x,,y,"), (None, "")],
     _cfg(double_array_fields={",": {"a"}}, string_array_fields={",": {"b"}}), True)
)
@example((["a"], [("1,x",)], _cfg(double_array_fields={",": {"a"}}), True))
@example((["a", "b", "d", "c"], [(None, None, None, None), (None, None, "", None), (None, "1.5", "", None)],
          _cfg(fields_to_long={"b", "d"}), True))
@example((["a", "b"], [("", "1.5")], _cfg(fields_to_long={"b"}, double_array_fields={",": {"a"}}), True))
@example((["a"], [(None,)], _cfg(fields_to_long={"a"}, fields_to_boolean={"a"}, boolean_true_values={"R"},
                                 double_array_fields={",": {"a"}}), False))
# about 60 % of drawn configs are rejected, which costs no Spark job:
# 100 examples keep about 40 accepted configs
@settings(max_examples=100, deadline=None)
def test_transform_table_matches_stage_chain(spark_global, table):
    """The one-projection ``transform_table`` gives the columns, rows and
    strict-parse error of the stage-by-stage chain for any accepted config:
    removal wins over parse, a renamed column takes the new name's parses,
    a column in both the double and the long sets is parsed twice, arrays
    split. A config that puts a column through two typed parses of
    different kinds is rejected."""
    from pyspark.sql import types as T

    from monster_etl_spark.config import TableConfig
    from monster_etl_spark.plans.v2f import transform_table

    cols, rows, spec, strict = table
    clashes = _typed_clashes(spec)
    if clashes:
        # a column in two differently typed parses is rejected up front,
        # and the error names it
        with pytest.raises(ValueError) as err:
            TableConfig(**spec)
        assert re.search(r"column '([^']*)'", str(err.value))[1] in clashes
        return
    config = TableConfig(**spec)
    df = spark_global.createDataFrame(
        rows, T.StructType([T.StructField(c, T.StringType()) for c in cols])
    )
    want = _outcome(lambda: _stage_chain(df, config, strict))
    got = _outcome(lambda: transform_table(df, config, strict))
    if want != got and want[0] == got[0] == "error":
        # Spark fixes no order among failing rows and columns (the task
        # that fails first names its field, so one plan run twice can name
        # two fields): each side must name a field whose own parse fails
        chain = _stage_chain(df, config, strict)
        failing = {o[1] for c in chain.columns if (o := _outcome(lambda: chain.select(c)))[0] == "error"}
        assert {want[1], got[1]} <= failing
    else:
        assert got == want


def test_p2_transform_chain_plan_unchanged(spark, sf_dir, monkeypatch):
    """``p2_transform_chain`` plans exactly as it did over the
    stage-by-stage chain."""
    from monster_etl_spark.explain import plan_hash
    from monster_etl_spark.queries import refops_queries

    got = plan_hash(refops_queries.p2_transform_chain(spark, sf_dir))
    monkeypatch.setattr(
        refops_queries, "transform_table", lambda df, config: _stage_chain(df, config, True)
    )
    want = plan_hash(refops_queries.p2_transform_chain(spark, sf_dir))
    assert want is not None and got == want
