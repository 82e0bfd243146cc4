"""Structured physical-plan inspection.

``plan_summary(df)`` parses ``explain('formatted')`` into the handful of
facts that decide whether a plan scales — shuffle count, broadcast count,
scan pushdowns, Python crossings, codegen spans — so perf reviews and the
plan-shape tests read plan *facts* instead of grepping plan text ad hoc.

``plan_hash(df)`` digests the physical plan's shape with the session-varying
parts stripped by ``normalize_plan``: the guard that a refactor leaves every
query's plan as it was, and the plan fact ``bench.py`` records per query.
"""

from __future__ import annotations

import contextlib
import hashlib
import io
import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame


@dataclass
class ScanInfo:
    fmt: str
    pushed_filters: str
    read_schema: str


@dataclass
class PlanSummary:
    shuffles: int = 0
    broadcasts: int = 0
    sort_merge_joins: int = 0
    broadcast_hash_joins: int = 0
    python_evals: int = 0
    map_in_pandas: int = 0
    codegen_spans: int = 0
    scans: list[ScanInfo] = field(default_factory=list)

    @property
    def is_narrow(self) -> bool:
        return self.shuffles == 0 and self.broadcasts == 0


def formatted_plan(df: DataFrame) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


#: logical nodes that bound the cardinality of whatever sits beneath them —
#: a broadcast hint above one of these ships a BOUNDED intermediate (a 1-row
#: global aggregate, a LIMITed subset), not an SF-growing table.
#: ``LocalRelation`` is bounded by a different argument: it is data the
#: driver ALREADY holds (a driver-tier fit result / bounded collect, each
#: governed by its own cap contract audited at the collect site), so a
#: broadcast hint on it cannot ship more than the driver-resident rows —
#: the round-11 driver-tier k-means fit turned the centroid table from an
#: Aggregate subtree into a LocalRelation without changing its row bound.
_BOUNDING_NODES = (
    "Aggregate", "GlobalLimit", "LocalLimit", "Sample", "Deduplicate",
    "LocalRelation",
)


def broadcast_hinted_tables(df: DataFrame) -> list[str]:
    """First column name of every BASE RELATION pinned under an explicit
    ``broadcast()`` hint in the analyzed logical plan, excluding relations
    shielded by a cardinality-bounding node (global aggregate / limit).

    This is the durable no-scale-killer guard: AQE may legitimately pick a
    broadcast join for a genuinely small input at a given SF, but a HINT on
    an SF-growing table is pinned forever and OOMs the driver at 100 TB —
    the round-1 q3/q5/q18 defect class. Tests assert the returned set is a
    subset of the constant-size dims (``n_*``/``r_*``)."""
    out: list[str] = []

    def relations(node):
        name = node.nodeName()
        if any(b in name for b in _BOUNDING_NODES):
            return  # bounded subtree: broadcast is size-safe by construction
        if "Relation" in name:
            m = re.search(r"\[([^#,\]]+)#", node.simpleString(1000))
            out.append(m.group(1) if m else name)
            return
        for i in range(node.children().size()):
            relations(node.children().apply(i))

    def walk(node):
        if node.nodeName() == "ResolvedHint" and "broadcast" in node.simpleString(200).lower():
            relations(node)
            return
        for i in range(node.children().size()):
            walk(node.children().apply(i))

    walk(df._jdf.queryExecution().analyzed())
    return out


def plan_summary(df: DataFrame) -> PlanSummary:
    plan = formatted_plan(df)
    s = PlanSummary()
    s.shuffles = len(re.findall(r"^\(\d+\) Exchange", plan, re.M))
    s.broadcasts = len(re.findall(r"^\(\d+\) BroadcastExchange", plan, re.M))
    s.sort_merge_joins = plan.count("SortMergeJoin")
    s.broadcast_hash_joins = plan.count("BroadcastHashJoin")
    s.python_evals = plan.count("BatchEvalPython") + plan.count("ArrowEvalPython")
    s.map_in_pandas = len(re.findall(r"^\(\d+\) MapInPandas", plan, re.M))
    s.codegen_spans = len(set(re.findall(r"\[codegen id : (\d+)\]", plan)))

    for m in re.finditer(r"^\(\d+\) Scan (\w+)([\s\S]*?)(?=^\(\d+\)|\Z)", plan, re.M):
        body = m.group(2)
        pushed = re.search(r"PushedFilters: \[(.*?)\]", body)
        schema = re.search(r"ReadSchema: (.*)", body)
        s.scans.append(
            ScanInfo(
                fmt=m.group(1),
                pushed_filters=pushed.group(1) if pushed else "",
                read_schema=schema.group(1).strip() if schema else "",
            )
        )
    return s


def unpartitioned_windows(df: DataFrame) -> list[str]:
    """Node names of physical window operators whose partition spec is
    EMPTY — each one funnels its entire input through a single task
    (the ``WindowExec: No Partition Defined`` warning). The audit test
    asserts these appear only where the input is structurally bounded
    (a top-N, a strata-count rollup), never corpus-sized; corpus-sized
    prefix scans go through ``operators/prefix.py`` instead.

    Walks the pre-AQE physical plan via the JVM tree (the formatted
    plan OMITS the empty partition group, so text matching cannot see
    the difference)."""
    out: list[str] = []

    def walk(node):
        name = node.nodeName()
        try:
            if hasattr(node, "partitionSpec") and node.partitionSpec().isEmpty():
                out.append(name)
        except Exception:
            pass
        for i in range(node.children().size()):
            walk(node.children().apply(i))

    walk(df._jdf.queryExecution().sparkPlan())
    return out


def normalize_plan(s: str) -> str:
    """Strip the session-varying parts of a physical-plan string so the
    hash is stable within and across sessions for the same plan SHAPE:
    exprIds, plan ids, object addresses, codegen stage ids, and the
    per-process counters in lambda-variable names (PySpark names a
    Column-API lambda ``x_13``) and in ``_common_expr_<n>`` aliases.

    A scan metadata value longer than ``spark.sql.maxMetadataStringLength``
    is cut and ends in ``...``; when it holds a lambda variable, the cut
    point moves with the counters' digit count, so such a value keeps
    only its text before the first lambda variable."""
    s = re.sub(r"(: [^:\n]*?)lambda [^:\n]*?\.\.\.(?=, \w+: |$)", r"\1...", s, flags=re.M)
    s = re.sub(r"(lambda \w+?)_\d+#", r"\1#", s)
    s = re.sub(r"_common_expr_\d+", "_common_expr_x", s)
    s = re.sub(r"#\d+L?", "#x", s)
    s = re.sub(r"plan_id=\d+", "plan_id=x", s)
    s = re.sub(r"\bid=#?\d+", "id=x", s)
    s = re.sub(r"0x[0-9a-fA-F]+", "0xX", s)
    s = re.sub(r"\[codegen id : \d+\]", "[codegen id : x]", s)
    return _canonical_distinct_groups(s)


def _split_top(s: str) -> list[str]:
    """Items of a plan list: ``s`` split at commas outside any brackets."""
    out, depth, start = [], 0, 0
    for i, ch in enumerate(s):
        depth += (ch in "([") - (ch in ")]")
        if ch == "," and depth == 0:
            out.append(s[start:i].strip())
            start = i + 1
    return out + [s[start:].strip()]


def _canonical_distinct_groups(s: str) -> str:
    """Renumber the distinct-aggregate groups of a normalized plan in name
    order.

    ``RewriteDistinctAggregates`` orders its distinct groups (the Expand
    projections and their ``gid``) by exprId hashes, so one query built
    after a different history plans them in another order. The Expand's
    output names the group columns before ``gid#x``; every list that
    carries them before ``gid#x`` (keys, sort orders, partitioning, the
    projections) gets them in sorted order, and each ``gid`` literal the
    number its group has in that order."""
    m = re.search(r"Expand \[\[.*\]\], \[(.*)\]$", s, flags=re.M)
    if not m or "gid#x" not in (out := _split_top(m.group(1))):
        return s
    n = out.index("gid#x")
    cols = out[:n]
    order = sorted(range(n), key=cols.__getitem__)
    sets = {}  # gid literal -> the group columns its projection sets
    for proj in re.findall(r"\[([^\[\]]*)\]", m.group(0)):
        items = _split_top(proj)
        if len(items) > n and items[n].isdigit():
            sets[items[n]] = sorted(c for c, v in zip(cols, items) if v != "null")
    gid = dict(zip(sorted(sets, key=sets.__getitem__), sorted(sets, key=int)))

    def fix(items: list[str]) -> list[str]:
        for k in range(n, len(items)):
            if items[k].split(" ")[0] == "gid#x" or (
                k == n and items[k] in gid and all(v in ("null", c) for v, c in zip(items, cols))
            ):
                items = items[: k - n] + [items[k - n + i] for i in order] + items[k:]
                items[k] = gid.get(items[k], items[k])
                return items
        lits = [_split_top(i[1:-1])[n:n + 1] if i[:1] == "[" else [] for i in items]
        if all(lit and lit[0] in gid for lit in lits):  # the Expand's projections
            return [i for _, i in sorted(zip((int(lit[0]) for lit in lits), items))]
        return items

    def rewrite(line: str) -> str:
        stack: list[list[str]] = [[]]
        for ch in line:
            if ch in "([":
                stack.append([ch])
            elif ch in ")]" and len(stack) > 1:
                opener, *inner = stack.pop()
                items = _split_top("".join(inner))
                fixed = fix(items)
                stack[-1].append(opener + ("".join(inner) if fixed == items else ", ".join(fixed)) + ch)
            else:
                stack[-1].append(ch)
        if len(stack) > 1:
            return line
        return re.sub(r"\(gid#x = (\d+)\)", lambda g: f"(gid#x = {gid.get(g[1], g[1])})", "".join(stack[0]))

    return "\n".join(rewrite(x) if "gid#x" in x else x for x in s.split("\n"))


def plan_hash(df) -> str | None:
    """Digest of the query's physical plan shape: the first 12 hex digits
    of the SHA-256 of its normalized ``executedPlan`` string, or None when
    the plan cannot be built. Equal digests mean the same plan shape, so
    a refactor is plan-neutral when every query's digest holds. Planning
    only — nothing executes."""
    try:
        s = df._jdf.queryExecution().executedPlan().toString()
    except Exception:
        return None
    return hashlib.sha256(normalize_plan(s).encode()).hexdigest()[:12]
