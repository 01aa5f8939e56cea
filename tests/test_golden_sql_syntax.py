"""Spark's own parser is the only SQL grammar: identifiers the engine
renders parse under reserved-keyword enforcement, user SQL and
``incremental_predicates`` spliced into the parquet rewrite of an
incremental merge build end to end, and a malformed statement handed
to ``SparkAdapter.execute`` fails in ``spark.sql``'s parser before
anything is planned or written."""

from __future__ import annotations

from contextlib import contextmanager

import pytest
from pyspark.errors import ParseException

from sparkt.adapter import SparkAdapter
from sparkt.relation import Relation


def _spark_parses(spark, sql: str) -> None:
    """Vanilla Spark's parser (parse-only, no analysis) accepts the
    statement."""
    spark._jsparkSession.sessionState().sqlParser().parsePlan(sql)


@contextmanager
def _reserved_keywords_enforced(spark):
    key = "spark.sql.ansi.enforceReservedKeywords"
    prev = spark.conf.get(key)
    spark.conf.set(key, "true")
    try:
        yield
    finally:
        spark.conf.set(key, prev)


def test_reserved_relation_identifier_renders_backquoted(spark):
    assert Relation(schema="s", identifier="order").render() == "s.`order`"
    assert Relation(schema="group", identifier="t").render() == "`group`.t"
    # a bare reserved identifier is a parse error once Spark enforces
    # reserved keywords; the backquoted rendering parses either way
    with _reserved_keywords_enforced(spark):
        with pytest.raises(Exception, match="PARSE_SYNTAX_ERROR"):
            _spark_parses(spark, "SELECT * FROM s.order")
        _spark_parses(
            spark,
            f"SELECT * FROM {Relation(schema='s', identifier='order').render()}",
        )


def _merge_rows(make_project, spark, schema, model):
    """Build ``model`` (an incremental merge on ``id``) twice; the
    second build takes the parquet rewrite. Returns the rows."""
    files = {
        "dbt_project.yml": f"name: {schema}\nmodel-paths: [models]\n",
        "models/m.sql": model,
    }
    runner = make_project(files, schema=schema)
    assert runner.run().ok
    res = runner.run()
    assert res.ok, [r.message for r in res.results]
    assert "rewrite" in res.results[0].message
    return spark.table(f"{schema}.m")


def test_validator_accepts_real_world_compiled_sql(make_project, spark):
    """Spark's parser, the one SQL validator, accepts real-world user
    SQL on the rewrite path: line and block comments with apostrophes,
    double-quoted strings, backslash-escaped quotes and array and map
    subscripts, in the model and in its predicates."""
    df = _merge_rows(make_project, spark, "t_realsql", (
        "{{ config(materialized='incremental', unique_key='id', "
        "incremental_strategy='merge', incremental_predicates=["
        "\"DBT_INTERNAL_DEST.tags[0] = 'gold'\", "
        "\"DBT_INTERNAL_DEST.m['tier'] IS NOT NULL\"]) }}\n"
        "select id, v, w, tags, m -- don't include archived rows\n"
        "from (select 1 as id, array('gold') as tags, map('tier', 'a') as m\n"
        "      union all select 2, array('silver'), map('tier', 'b')) u\n"
        "/* block 'comment' */\n"
        "cross join (select \"{{ 'new' if is_incremental() else 'old' }}\""
        " as v, 'don\\'t' as w) w"
    ))
    # id 1 matches both predicates and is updated; id 2's target row
    # fails tags[0] = 'gold', so it survives beside the new version
    assert sorted((r.id, r.v, r.w) for r in df.collect()) == [
        (1, "new", "don't"), (2, "new", "don't"), (2, "old", "don't")
    ]


def test_predicate_ending_in_line_comment_parses(make_project, spark):
    """A predicate that ends with a line comment must not swallow the
    closing paren and the SQL after it in the parquet rewrite."""
    df = _merge_rows(make_project, spark, "t_predcmt", (
        "{{ config(materialized='incremental', unique_key='id', "
        "incremental_strategy='merge', "
        "incremental_predicates=['locked = false -- note']) }}\n"
        "{% if not is_incremental() %}\n"
        "select 1 as id, 'a' as v, true as locked\n"
        "union all select 2 as id, 'b' as v, false as locked\n"
        "{% else %}\n"
        "select 1 as id, 'A' as v, true as locked\n"
        "union all select 2 as id, 'B' as v, false as locked\n"
        "{% endif %}\n"
    ))
    # id 1 is locked: its target row survives and the new row lands
    # beside it; id 2 is updated
    assert sorted((r.id, r.v) for r in df.collect()) == [
        (1, "A"), (1, "a"), (2, "B")
    ]


def test_invalid_predicate_fails_before_target_changes(make_project, spark):
    """A malformed merge predicate fails the node in Spark's parser on
    the parquet rewrite path, and the target keeps its rows."""
    files = {
        "dbt_project.yml": "name: badpred\nmodel-paths: [models]\n",
        "models/bad.sql": (
            "{{ config(materialized='incremental', unique_key='id', "
            "incremental_strategy='merge', "
            "incremental_predicates=['locked = = false']) }}\n"
            "{% if not is_incremental() %}\n"
            "select 1 as id, 'a' as v, false as locked\n"
            "{% else %}\n"
            "select 1 as id, 'A' as v, false as locked\n"
            "union all select 2 as id, 'B' as v, false as locked\n"
            "{% endif %}\n"
        ),
    }
    runner = make_project(files, schema="t_badpred")
    assert runner.run().ok  # first build is a CTAS: no predicate
    res = runner.run()
    assert not res.ok
    assert "PARSE_SYNTAX_ERROR" in " ".join(
        str(r.message) for r in res.results
    )
    rows = {(r.id, r.v) for r in spark.table("t_badpred.bad").collect()}
    assert rows == {(1, "a")}


MALFORMED = [
    # unquoted reserved word as the merge target (malformed once Spark
    # enforces reserved keywords; the default parses it)
    "MERGE INTO s.order AS D USING (SELECT 1) AS S ON D.a = S.a\n"
    "WHEN MATCHED THEN UPDATE SET *\n"
    "WHEN NOT MATCHED THEN INSERT *",
    # INSERT column/value arity mismatch
    "MERGE INTO s.t AS D USING (SELECT 1) AS S ON D.a = S.a\n"
    "WHEN NOT MATCHED THEN INSERT (`a`, `b`) VALUES (S.`a`)",
    # no WHEN clause at all
    "MERGE INTO s.t AS D USING (SELECT 1) AS S ON D.a = S.a",
    # unbalanced parens in the USING subquery
    "MERGE INTO s.t AS D USING (SELECT f(x FROM u) AS S "
    "ON D.a = S.a WHEN MATCHED THEN UPDATE SET *",
    # unterminated backquote
    "MERGE INTO s.`t AS D USING (SELECT 1) AS S ON D.a = S.a\n"
    "WHEN MATCHED THEN UPDATE SET *",
    # dangling AND in the ON condition
    "MERGE INTO s.t AS D USING (SELECT 1) AS S ON D.a = S.a AND\n"
    "WHEN MATCHED THEN UPDATE SET *",
    # empty UPDATE SET
    "MERGE INTO s.t AS D USING (SELECT 1) AS S ON D.a = S.a\n"
    "WHEN MATCHED THEN UPDATE SET",
    # REPLACE WHERE predicate with no payload select
    "INSERT INTO s.t REPLACE WHERE `ts` >= TIMESTAMP '2024-01-01 00:00:00'",
    # predicate placement error: payload select BEFORE the predicate
    "INSERT INTO s.t REPLACE WHERE SELECT * FROM src",
]


@pytest.mark.parametrize(
    "sql", MALFORMED,
    ids=["reserved-target", "insert-arity", "no-when",
         "unbalanced-using", "unterminated-backquote", "dangling-and",
         "empty-update-set", "rw-no-payload", "rw-select-as-predicate"],
)
def test_malformed_statements_fail_loudly(spark, tmp_path, sql):
    """A malformed statement handed to the adapter fails in Spark's
    parser, before anything is planned."""
    adapter = SparkAdapter(spark, str(tmp_path))
    with _reserved_keywords_enforced(spark):
        with pytest.raises(ParseException):
            adapter.execute(sql)
