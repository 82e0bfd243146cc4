"""SQL gateway: register the warehouse tables as temp views so the engine
can be driven with plain ANSI SQL (``spark.sql``) — the query surface the
reference never had (SURVEY.md §3: "there is no query language")."""

from __future__ import annotations

import weakref

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings".split()
)


# keyed by the live session OBJECT (weakly), not id(): a stopped session's
# id can be reused by a new session, which would silently skip registration
_REGISTERED: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def register_views(spark: SparkSession, sf_dir: str, force: bool = False) -> None:
    """Register every warehouse table as a temp view. Memoized per
    (session, sf_dir): repeat calls are free (each registration re-runs the
    table loaders, including the events timestamp reconstruction)."""
    from monster_etl_spark.queries import load

    seen = _REGISTERED.setdefault(spark, set())
    if not force and sf_dir in seen:
        return
    for t in TABLES:
        load(spark, sf_dir, t).createOrReplaceTempView(t)
    seen.add(sf_dir)


def quote_ident(name: str) -> str:
    """Backtick-quote ONE identifier for a parsed SQL string, doubling any
    backtick inside it, so a reserved word or a name with a dot, a space
    or a backtick stays one column reference."""
    return "`" + name.replace("`", "``") + "`"


def sql(spark: SparkSession, sf_dir: str, query: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(query)
