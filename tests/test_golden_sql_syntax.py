"""Syntax gate for the table-format statements the engine emits but
cannot execute without a Delta/Iceberg runtime: MERGE INTO
(incremental merge + snapshot SCD-2) and INSERT INTO ... REPLACE
WHERE (microbatch on delta/iceberg) go through Spark's own parser (parse only, no analysis), parameterized
over reserved-word identifiers and multi-column unique keys. CREATE OR
REPLACE TABLE ... SHALLOW CLONE is Delta-only syntax that vanilla
Spark cannot parse, so its emission is pinned as a string and its two
names are parsed with Spark's multipart-identifier parser. At run time
the same parser runs inside ``spark.sql``, before anything is planned
or written."""

from __future__ import annotations

import re
import threading
from contextlib import contextmanager

import pytest
from pyspark.errors import ParseException

from sparkt.adapter import SparkAdapter
from sparkt.relation import Relation

MERGE_CASES = [
    # (unique_key, columns, predicates, update_columns, exclude_columns)
    (["id"], ["id", "v"], None, None, None),
    # multi-column key + incremental_predicates
    (
        ["id", "src"],
        ["id", "src", "v", "loaded_at"],
        ["DBT_INTERNAL_DEST.loaded_at > current_date() - 7",
         "DBT_INTERNAL_SOURCE.`v` IS NOT NULL"],
        None,
        None,
    ),
    # explicit merge_update_columns
    (["id"], ["id", "a", "b"], None, ["a"], None),
    # merge_exclude_columns
    (["id"], ["id", "a", "b"], None, None, ["b"]),
    # reserved-word identifiers everywhere the emitter quotes
    (
        ["order", "select"],
        ["order", "select", "from", "group"],
        None,
        ["from"],
        None,
    ),
]


def _parser(spark):
    return spark._jsparkSession.sessionState().sqlParser()


def _spark_parses(spark, sql: str) -> None:
    """Vanilla Spark's parser (parse-only, no analysis) accepts the
    statement."""
    _parser(spark).parsePlan(sql)


@contextmanager
def _reserved_keywords_enforced(spark):
    key = "spark.sql.ansi.enforceReservedKeywords"
    prev = spark.conf.get(key)
    spark.conf.set(key, "true")
    try:
        yield
    finally:
        spark.conf.set(key, prev)


def _identifier_parts(spark, text: str) -> list[str]:
    parts = _parser(spark).parseMultipartIdentifier(text)
    return [parts.apply(i) for i in range(parts.length())]


@pytest.mark.parametrize(
    "uk,cols,preds,upd,excl", MERGE_CASES,
    ids=["single-key", "multikey-predicates", "update-cols",
         "exclude-cols", "reserved-words"],
)
def test_merge_into_round_trips_validator_and_spark_parser(
    spark, uk, cols, preds, upd, excl
):
    for ident in ("tgt", "order"):  # incl. reserved-word TARGET name
        sql = SparkAdapter.merge_into_sql(
            Relation(schema="s", identifier=ident),
            "SELECT * FROM stage WHERE v > 0",
            unique_key=uk, columns=cols, predicates=preds,
            update_columns=upd, exclude_columns=excl,
        )
        _spark_parses(spark, sql)


def test_snapshot_merge_round_trips_validator_and_spark_parser(spark):
    for ident, cols in [
        ("snap", ["id", "v", "dbt_scd_id", "dbt_valid_from",
                  "dbt_valid_to"]),
        # reserved-word target + reserved-word tracked columns
        ("table", ["order", "select", "dbt_scd_id", "dbt_valid_from",
                   "dbt_valid_to"]),
    ]:
        sql = SparkAdapter.snapshot_merge_sql(
            Relation(schema="snaps", identifier=ident),
            "SELECT s.*, 'insert' AS dbt_change_type FROM staging s",
            insert_cols=cols,
        )
        _spark_parses(spark, sql)


def test_replace_where_emission_shape_validates(spark):
    # exactly the statement shape materialize_incremental emits for
    # delta/iceberg microbatch windows (incremental.py), over plain
    # and reserved-word relation/event-time names
    for rel, et in [
        (Relation(schema="s", identifier="mb_daily"), "`ts`"),
        (Relation(schema="s", identifier="order"), "`select`"),
    ]:
        window = (
            f"{et} >= TIMESTAMP '2024-01-04 00:00:00' "
            f"AND {et} < TIMESTAMP '2024-01-05 00:00:00'"
        )
        src = ("SELECT * FROM (SELECT `id`, `ts` FROM src) __mb "
               f"WHERE {window}")
        _spark_parses(
            spark,
            f"INSERT INTO {rel.render()} REPLACE WHERE {window} {src}",
        )


class _CaptureAdapter:
    """Stands in for the adapter state ``shallow_clone`` touches, so
    the emitter runs without a delta runtime."""

    def __init__(self):
        self.statements: list[str] = []
        self._ddl_lock = threading.RLock()

    def execute(self, sql, fetch=False):
        self.statements.append(sql)

    def _record(self, *args, **kwargs):
        pass


def test_shallow_clone_emission_validates(spark):
    for tgt, src, want in [
        (Relation(schema="dev", identifier="orders"), "prod.orders",
         "CREATE OR REPLACE TABLE dev.orders SHALLOW CLONE prod.orders"),
        # reserved-word identifiers must come out backquoted
        (Relation(schema="dev", identifier="order"),
         Relation(schema="prod", identifier="order").render(),
         "CREATE OR REPLACE TABLE dev.`order` "
         "SHALLOW CLONE prod.`order`"),
    ]:
        cap = _CaptureAdapter()
        SparkAdapter.shallow_clone(cap, tgt, src)
        assert cap.statements == [want]
        m = re.fullmatch(
            r"CREATE OR REPLACE TABLE (.+) SHALLOW CLONE (.+)", want
        )
        assert _identifier_parts(spark, m.group(1)) == [
            tgt.schema, tgt.identifier
        ]
        assert _identifier_parts(spark, m.group(2)) == [
            "prod", tgt.identifier
        ]
    # the name parser rejects anything after the source name
    with pytest.raises(Exception, match="PARSE_SYNTAX_ERROR"):
        _identifier_parts(spark, "prod.t where x = 1")


def test_reserved_relation_identifier_renders_backquoted(spark):
    assert Relation(schema="s", identifier="order").render() == "s.`order`"
    assert Relation(schema="group", identifier="t").render() == "`group`.t"
    # a bare reserved identifier is a parse error once Spark enforces
    # reserved keywords; the backquoted rendering parses either way
    with _reserved_keywords_enforced(spark):
        with pytest.raises(Exception, match="PARSE_SYNTAX_ERROR"):
            _spark_parses(spark, "SELECT * FROM s.order")
        _spark_parses(spark, SparkAdapter.merge_into_sql(
            Relation(schema="s", identifier="order"), "SELECT 1",
            ["select"], ["select", "from"],
        ))


def test_validator_accepts_real_world_compiled_sql(spark):
    """Embedded user SQL (the USING subquery) legitimately contains
    line+block comments with apostrophes, double-quoted strings, array
    subscripts and parameter-marker characters."""
    rel = Relation(schema="s", identifier="t")
    sources = [
        "select * from u -- don't include archived rows\nwhere ok",
        'select * from u where region = "EMEA"',
        "select ids[0] as id, v from u /* block 'comment' */",
        "select 'don\\'t' as w, m['k'] as mk from u",
        "select x from u where y = :param and z = ?",
    ]
    for src in sources:
        _spark_parses(
            spark, SparkAdapter.merge_into_sql(rel, src, ["id"], ["id", "v"])
        )
    # subscripts inside spliced predicates too
    for p in [
        "DBT_INTERNAL_DEST.tags[0] = 'gold'",
        "DBT_INTERNAL_DEST.meta['tier'] IS NOT NULL",
    ]:
        _spark_parses(spark, SparkAdapter.merge_into_sql(
            rel, "SELECT 1", ["id"], ["id"], predicates=[p]
        ))


def test_predicate_ending_in_line_comment_parses(spark):
    """A predicate that ends with a line comment must not swallow the
    emitter's closing paren and the WHEN clauses after it."""
    sql = SparkAdapter.merge_into_sql(
        Relation(schema="s", identifier="t"), "SELECT 1",
        ["id"], ["id"],
        predicates=["DBT_INTERNAL_DEST.x = 1 -- trailing comment"],
    )
    _spark_parses(spark, sql)
    assert sql.endswith("WHEN NOT MATCHED THEN INSERT *")


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
    ("merge", "MERGE INTO s.order AS D USING (SELECT 1) AS S ON D.a = S.a\n"
              "WHEN MATCHED THEN UPDATE SET *\n"
              "WHEN NOT MATCHED THEN INSERT *"),
    # INSERT column/value arity mismatch
    ("merge", "MERGE INTO s.t AS D USING (SELECT 1) AS S ON D.a = S.a\n"
              "WHEN NOT MATCHED THEN INSERT (`a`, `b`) VALUES (S.`a`)"),
    # no WHEN clause at all
    ("merge", "MERGE INTO s.t AS D USING (SELECT 1) AS S ON D.a = S.a"),
    # unbalanced parens in the USING subquery
    ("merge", "MERGE INTO s.t AS D USING (SELECT f(x FROM u) AS S "
              "ON D.a = S.a WHEN MATCHED THEN UPDATE SET *"),
    # unterminated backquote
    ("merge", "MERGE INTO s.`t AS D USING (SELECT 1) AS S ON D.a = S.a\n"
              "WHEN MATCHED THEN UPDATE SET *"),
    # dangling AND in the ON condition
    ("merge", "MERGE INTO s.t AS D USING (SELECT 1) AS S ON D.a = S.a AND\n"
              "WHEN MATCHED THEN UPDATE SET *"),
    # empty UPDATE SET
    ("merge", "MERGE INTO s.t AS D USING (SELECT 1) AS S ON D.a = S.a\n"
              "WHEN MATCHED THEN UPDATE SET"),
    # REPLACE WHERE predicate with no payload select
    ("rw", "INSERT INTO s.t REPLACE WHERE `ts` >= TIMESTAMP "
           "'2024-01-01 00:00:00'"),
    # predicate placement error: payload select BEFORE the predicate
    ("rw", "INSERT INTO s.t REPLACE WHERE SELECT * FROM src"),
    # clone with trailing garbage
    ("clone", "CREATE OR REPLACE TABLE dev.t SHALLOW CLONE prod.t "
              "WHERE x = 1"),
    # clone missing the source
    ("clone", "CREATE OR REPLACE TABLE dev.t SHALLOW CLONE"),
]


@pytest.mark.parametrize(
    "kind,sql", MALFORMED,
    ids=["reserved-target", "insert-arity", "no-when",
         "unbalanced-using", "unterminated-backquote", "dangling-and",
         "empty-update-set", "rw-no-payload", "rw-select-as-predicate",
         "clone-trailing", "clone-no-source"],
)
def test_malformed_statements_fail_loudly(spark, tmp_path, kind, sql):
    """A malformed MERGE / REPLACE WHERE handed to the adapter fails in
    Spark's parser, before anything is planned. Vanilla Spark cannot
    parse any SHALLOW CLONE, so a clone is checked by its source
    name."""
    if kind == "clone":
        source = sql.split(" SHALLOW CLONE", 1)[1]
        with pytest.raises(Exception, match="Syntax error"):
            _identifier_parts(spark, source)
        return
    adapter = SparkAdapter(spark, str(tmp_path))
    with _reserved_keywords_enforced(spark):
        with pytest.raises(ParseException):
            adapter.execute(sql)
