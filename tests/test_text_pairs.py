"""Frequent token pairs against a pure-Python Apriori reference on the
edge cases the corpus-level oracle cannot reach, and the plan shape of
the three queries that mine them (the pair mining reads the documents
once, and PageRank's driver-tier probe does not plan it twice)."""

import re
from collections import Counter
from itertools import combinations

from monster_etl_spark.operators import graph
from monster_etl_spark.operators.text import frequent_token_pairs
from monster_etl_spark.queries import all_queries


def _reference(rows, min_support):
    """Apriori pass 2 over {doc id: token set}: rows sharing an id are one
    document, the None id is one document that counts toward document
    frequency but yields no pair."""
    docs: dict = {}
    for doc, text in rows:
        toks = {t for t in re.split(r"\s+", (text or "").lower()) if t}
        docs.setdefault(doc, set()).update(toks)
    doc_freq = Counter(t for toks in docs.values() for t in toks)
    frequent = {t for t, n in doc_freq.items() if n >= min_support}
    support = Counter(
        p
        for doc, toks in docs.items()
        if doc is not None
        for p in combinations(sorted(toks & frequent), 2)
    )
    return {(a, b, n) for (a, b), n in support.items() if n >= min_support}


# min_support 3. (apple, banana) has support 3, the boundary: kept, and
# doc 2's repeated "banana" and doc 1's two rows count once. (banana,
# cherry) reaches 3 only because doc 1's two rows merge. (apple, cherry)
# and (banana, date) have support 2, one under: dropped; the NULL
# document holds (apple, cherry) too and must not lift it to 3.
ROWS = [
    (1, "Apple banana"),
    (1, "  CHERRY apple  "),
    (2, "apple\tbanana\n banana cherry"),
    (3, "APPLE Banana date"),
    (4, "cherry date banana"),
    (None, "apple cherry"),
    (None, "date egg"),
    (5, ""),
    (6, "  \t \n "),
    (7, None),
    (8, "egg"),
    (9, "egg fig"),
]


def test_frequent_token_pairs_matches_python_reference(spark):
    df = spark.createDataFrame(ROWS, "doc_id long, text string")
    got = {tuple(r) for r in frequent_token_pairs(df, min_support=3).collect()}
    expected = _reference(ROWS, 3)
    assert expected == {("apple", "banana", 3), ("banana", "cherry", 3)}
    assert got == expected
    # one lower: every pair of support 2 appears, still none from the
    # NULL document ((cherry, date) has support 1 without it)
    got2 = {tuple(r) for r in frequent_token_pairs(df, min_support=2).collect()}
    assert got2 == _reference(ROWS, 2)
    assert ("apple", "cherry", 2) in got2 and ("cherry", "date", 2) not in got2


def _document_scans(plan: str) -> int:
    return sum("FileScan" in line and "documents" in line for line in plan.splitlines())


def _final_plan(df) -> str:
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    return plan.split("== Initial Plan ==")[0]


def test_frequent_pairs_plan_reads_documents_once(spark, sf_dir):
    """The token sets come from one ``groupBy(doc)`` exchange that both the
    document-frequency branch and the pair branch read, so AQE reuses it
    (``ReusedExchange``) and the executed plan scans ``documents`` once.
    A pair self-join on the document id read them twice: the join
    inferred ``isnotnull(doc)`` onto one copy only, so the two exchanges
    differed and could not be reused."""
    df = all_queries()["text_frequent_pairs"].fn(spark, sf_dir)
    df.collect()
    final = _final_plan(df)
    assert _document_scans(final) == 1
    assert "ReusedExchange" in final


def test_token_pagerank_probe_plans_pair_mining_once(spark, sf_dir, monkeypatch):
    """``text_token_pagerank`` symmetrizes the pairs with one
    ``inline(array(struct(a, b), struct(b, a)))``, so the edge list the
    driver-tier probe collects holds the pair-mining subtree once. A
    ``unionAll`` of two copies of the pairs doubled it (8 document scans
    in the initial plan), and AQE re-optimized the doubled tree after
    every stage while the plan was built."""
    probed = []

    def spy(df, cap, label):
        probed.append(df)
        return bounded_collect(df, cap, label)

    bounded_collect = graph.bounded_collect
    monkeypatch.setattr(graph, "bounded_collect", spy)
    reg = all_queries()
    reg["text_token_pagerank"].fn(spark, sf_dir)
    assert len(probed) == 1
    edges = probed[0]
    pairs = reg["text_frequent_pairs"].fn(spark, sf_dir)
    initial = edges._jdf.queryExecution().executedPlan().toString()
    assert _document_scans(initial) == _document_scans(
        pairs._jdf.queryExecution().executedPlan().toString()
    )
    edges.collect()
    assert _document_scans(_final_plan(edges)) == 1
