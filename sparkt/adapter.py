"""SparkAdapter: the single warehouse façade.

Implements the ~25-method adapter contract the reference's core consumes
(SURVEY.md §2.4; call sites ``core/dbt/task/run.py:258-296``,
``core/dbt/task/runnable.py:345-360``) over one ``SparkSession``.

Storage model: one table format, parquet.

- Seeds, tables, incrementals and snapshots are **external parquet
  tables** in Spark's session catalog, whatever ``file_format`` a model
  sets; every (re)write is one ``CREATE TABLE ... LOCATION ... AS
  SELECT`` into a fresh versioned directory
  ``<warehouse>/<schema>/<identifier>/v<N>`` (a DataFrame is selected
  from a temp view), and the catalog entry is swapped via tmp-table +
  DROP + RENAME. This gives atomic replace-while-reading semantics
  without a table format — the analogue of the reference's
  transactional CTAS (SURVEY.md §7 "Mutation without transactions").
  Sources read csv, json or parquet (``register_external_table``).
- Views are catalog views (`CREATE OR REPLACE VIEW`).
- ``catalog.json`` records every relation, so a new process re-creates
  the session catalog. A partitioned or bucketed table keeps its column
  list there and is re-created with it, so partition columns keep their
  declared types instead of being re-inferred from directory names.

Thread-safety: many scheduler threads share the session (Spark is
thread-safe). ``_ddl_lock`` guards only the adapter's catalog
bookkeeping, mirroring the reference's relation-cache locking
(SURVEY.md §7 "Concurrency"): the catalog swap of a rebuilt relation
(drop the old entry, rename the tmp table, record), ``_catalog`` and
its catalog.json writes, the per-schema listing behind
``_cached_relation_type``, and the ensured-schema memo. Data jobs run
outside it: a table (re)build writes a fresh version directory under a
private ``__sparkt_tmp_<hex>`` name, so independent builds overlap.
Invariant: one writer per relation — two threads never replace the
same relation at once. Each relation belongs to one DAG node, and a
microbatch model's concurrent batches run inside one job.
"""

from __future__ import annotations

import os
import re
import shutil
import threading
import time
import uuid
from contextlib import contextmanager
from dataclasses import dataclass, field
from itertools import takewhile

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession

from sparkt.relation import Relation, quote_identifier


def _sql_str(spark: SparkSession, v) -> str:
    """Escape ``v`` for embedding in a single-quoted Spark SQL string
    literal. Quotes are doubled (``''``), which Spark parses identically
    whether ``spark.sql.parser.escapedStringLiterals`` is true or false;
    literal backslashes are doubled only under the default (false)
    setting, where backslash acts as an escape character."""
    s = str(v)
    raw = spark.conf.get("spark.sql.parser.escapedStringLiterals", "false")
    if str(raw).lower() != "true":
        s = s.replace("\\", "\\\\")
    return s.replace("'", "''")


def _col_list(names) -> str:
    return ", ".join(map(quote_identifier, names))


def _is_pure_query(sql: str) -> bool:
    """True for statements that are lazy under ``spark.sql`` (plain
    queries) — these need an explicit action in non-fetch execute().
    DDL/DML keywords run eagerly and must NOT be re-executed. Leading
    ``--`` and ``/* */`` comments are skipped with the compilation
    module's scanner (second-opinion review #3: a '-- note' line
    before the SELECT made this return False and the validating query
    silently never ran)."""
    from sparkt.compilation import _skip_leading_comments

    body = sql[_skip_leading_comments(sql):].lstrip().lstrip("(")
    head = body.split(None, 1)
    first = head[0].upper() if head else ""
    return first in ("SELECT", "WITH", "VALUES", "TABLE", "FROM")


def _statement_body(sql: str) -> str:
    """``sql`` up to its last token: without the trailing ``;`` and
    ``--``/``/* */`` comments a whole statement may end with but a
    subquery may not. Scans from the start, so a ``;`` or ``--`` inside
    a quoted literal or identifier stays."""
    i, n, end = 0, len(sql), 0
    while i < n:
        c = sql[i]
        if c in "'\"`":
            j = i + 1
            while j < n and sql[j] != c:
                j += 2 if sql[j] == "\\" and c != "`" else 1
            i = end = j + 1
        elif sql.startswith("--", i):
            nl = sql.find("\n", i)
            i = n if nl == -1 else nl + 1
        elif sql.startswith("/*", i):
            close = sql.find("*/", i + 2)
            i = n if close == -1 else close + 2
        else:
            i += 1
            if not c.isspace() and c != ";":
                end = i
    return sql[:end]


@dataclass
class ExecuteResult:
    """Driver-side result set (the reference's agate table analogue,
    ``core/dbt/context/providers.py:884-899``). Small results only."""

    column_names: list[str] = field(default_factory=list)
    rows: list = field(default_factory=list)
    rows_affected: int = -1

    def __iter__(self):
        return iter(self.rows)

    def __len__(self):
        return len(self.rows)


class SparkAdapter:
    def __init__(self, spark: SparkSession, warehouse_dir: str):
        from sparkt.sources import ensure_runtime_conf

        self.spark = spark
        # Driver-provided sessions lack our defaults; without
        # partitionOverwriteMode=dynamic, INSERT OVERWRITE on a
        # partitioned table replaces the whole table (data loss).
        ensure_runtime_conf(spark)
        self.warehouse_dir = warehouse_dir
        self._ddl_lock = threading.RLock()
        # serializes models that carry spark_session_conf overrides
        # (pre_model_hook → post_model_hook); see pre_model_hook
        self._session_conf_lock = threading.RLock()
        os.makedirs(warehouse_dir, exist_ok=True)
        self._catalog_path = os.path.join(warehouse_dir, "catalog.json")
        self._catalog: dict[str, dict] = {}
        self._restoring = False
        # per-thread query-comment state, created ONCE here — lazy
        # creation raced when two workers hit their first node
        # simultaneously (loser's comment landed on a discarded object)
        self._query_header = threading.local()
        # per-schema {identifier: "table"|"view"} (_cached_relation_type)
        self._listing: dict[str, dict[str, str]] = {}
        self._schemas_ensured: set[str] = set()
        self._defer_saves = False
        self._catalog_dirty = False
        self._py_src_stash: dict = {}
        self.events = None  # the runner's EventManager, once attached
        self._restore_catalog()

    # ----------------------------------------------- persistent catalog
    # Spark's in-memory session catalog dies with the process; the engine
    # keeps its own durable record (the reference leans on a persistent
    # warehouse for the same continuity). On a Hive/Delta deployment this
    # replay is unnecessary and disabled by the catalog itself surviving.
    def _save_catalog(self) -> None:
        import json

        if self._restoring:
            return
        if self._defer_saves:
            self._catalog_dirty = True
            return
        self._catalog_dirty = False
        tmp = self._catalog_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(self._catalog, f, indent=1)
        os.replace(tmp, self._catalog_path)

    @contextmanager
    def defer_catalog_saves(self):
        """Batch catalog.json persistence across a run: each DDL op
        otherwise rewrites the file (open+truncate measured ~19 ms on
        this filesystem — 4.3 s of a 200-view run, r4 profile). One
        atomic write lands on exit, success or failure; a hard kill
        mid-run loses the run's catalog delta, which is acceptable
        because a killed run's results are replayed anyway."""
        self._defer_saves = True
        try:
            yield
        finally:
            self._defer_saves = False
            if self._catalog_dirty:
                self._save_catalog()

    def _record(self, relation: Relation, obj_type: str | None = None,
                **entry) -> None:
        key = f"{relation.schema}.{relation.identifier}"
        self._catalog.pop(key, None)  # re-insert to keep dependency order
        self._catalog[key] = entry
        self._save_catalog()
        self._fire_cache("add_relation", key)
        # keep the lazy per-schema listing (see _cached_relation_type)
        # in sync with the real object type: views record "view",
        # everything else is a table unless the caller says otherwise
        # (external sources may be a repair VIEW)
        listing = self._listing.get(relation.schema)
        if listing is not None:
            t = obj_type or ("view" if entry.get("kind") == "view" else "table")
            listing[relation.identifier] = t

    def _fire_cache(self, action: str, ref_key: str,
                    ref_key_2: str = "") -> None:
        if self.events is not None:
            from sparkt.events import CacheAction

            self.events.fire(CacheAction(
                action=action, ref_key=ref_key, ref_key_2=ref_key_2,
            ))

    def _unrecord(self, relation: Relation) -> None:
        self._catalog.pop(f"{relation.schema}.{relation.identifier}", None)
        self._save_catalog()
        self._fire_cache(
            "drop_relation", f"{relation.schema}.{relation.identifier}"
        )
        listing = self._listing.get(relation.schema)
        if listing is not None:
            listing.pop(relation.identifier, None)

    def _cached_relation_type(self, schema: str, identifier: str) -> str | None:
        """Object type from a lazily-built per-schema listing — ONE
        ``listTables`` JVM roundtrip per schema instead of one
        ``getTable`` probe per node (200 serialized probes ≈ 2.5 s of
        a 200-view run, r4 profile). Kept in sync by
        ``_record``/``_unrecord``/``rename_relation``/``drop_schema``;
        external catalog mutations made outside this adapter are
        invisible to it (same assumption as dbt's relation cache)."""
        listing = self._listing.get(schema)
        if listing is None:
            listing = {r.identifier: r.type for r in self.list_relations(schema)}
            self._listing[schema] = listing
        return listing.get(identifier)

    def _restore_catalog(self) -> None:
        import json

        if not os.path.exists(self._catalog_path):
            return
        with open(self._catalog_path) as f:
            self._catalog = json.load(f)
        # only these kinds are recorded; an entry of any other kind (an
        # older version's delta clone) has no replay and is stale
        stale = [
            k for k, e in self._catalog.items()
            if e.get("kind") not in ("external", "table", "view")
        ]
        if stale:
            for key in stale:
                del self._catalog[key]
            self._save_catalog()
        self._restoring = True
        try:
            # FIXPOINT replay: catalog.json's insertion order is NOT a
            # dependency order (recreating a relation re-inserts it at
            # the end, so a selective re-run can move a parent view
            # AFTER its dependents). Replay in rounds, retrying entries
            # whose dependencies may appear later; only entries that
            # still fail once a full round makes no progress are truly
            # stale and get dropped.
            pending = list(self._catalog.items())
            while pending:
                failed: list[tuple[str, dict]] = []
                for key, entry in pending:
                    schema, _, identifier = key.partition(".")
                    rel = Relation(
                        schema=schema,
                        identifier=identifier,
                        type="view" if entry["kind"] == "view" else "table",
                    )
                    try:
                        if self.relation_exists(rel):
                            continue
                        if entry["kind"] == "external":
                            self.register_external_table(
                                rel, entry["path"],
                                fmt=entry.get("fmt", "parquet"),
                                options=entry.get("options") or None,
                            )
                        elif entry["kind"] == "table":
                            self.create_schema(schema)
                            # with a recorded column list the table keeps
                            # its declared types; an entry without one
                            # infers them from the files
                            cols = (
                                f" ({entry['schema_ddl']})"
                                if entry.get("schema_ddl") else ""
                            )
                            part = self._partition_clause(
                                entry.get("partition_by")
                            )
                            buck = self._bucket_clause(
                                entry.get("bucket_by"), entry.get("buckets"),
                                entry.get("sort_by"),
                            )
                            self.spark.sql(
                                f"CREATE TABLE {rel.render()}{cols} USING "
                                f"parquet{part}{buck} "
                                f"LOCATION "
                                f"'{_sql_str(self.spark, entry['location'])}'"
                            )
                            # A partitioned location needs explicit
                            # partition recovery in the in-memory catalog,
                            # else the restored table scans 0 rows.
                            # If the recovery fails, drop the table this
                            # attempt created (its files stay: the table
                            # is external): left registered, it would
                            # count as restored next round and scan 0
                            # rows instead of being retried.
                            if entry.get("partitioned"):
                                try:
                                    self.spark.sql(
                                        f"ALTER TABLE {rel.render()} "
                                        "RECOVER PARTITIONS"
                                    )
                                except Exception:
                                    self.spark.sql(
                                        f"DROP TABLE IF EXISTS "
                                        f"{rel.render()}"
                                    )
                                    raise
                        elif entry["kind"] == "view":
                            self.create_view_as(rel, entry["sql"])
                    except Exception:  # noqa: BLE001 — retry next round
                        failed.append((key, entry))
                if len(failed) == len(pending):  # no progress: stale
                    for key, _ in failed:
                        self._catalog.pop(key, None)
                    break
                pending = failed
        finally:
            self._restoring = False

    # ------------------------------------------------------ model hooks
    def pre_model_hook(self, config: dict) -> dict:
        """Per-node session prep hook. Spark analogue: apply per-model
        session overrides (e.g. ``spark.sql.shuffle.partitions``) from
        ``config['spark_session_conf']``; returns the previous values for
        ``post_model_hook`` to restore.

        Models CARRYING overrides serialize on a lock held until their
        post hook (r12 adapter review #3): session conf is global, so
        two concurrent overriders of the same key would snapshot each
        other's values as 'prev' and the restore would wedge the wrong
        default permanently. Models without overrides don't take the
        lock (and may still observe an overrider's conf while it runs
        — the documented shared-session limitation; isolate via
        threads=1 or per-worker sessions)."""
        overrides = config.get("spark_session_conf") or {}
        if not overrides:
            return {}
        self._session_conf_lock.acquire()
        prev: dict[str, str] = {}
        try:
            for k, v in overrides.items():
                try:
                    prev[k] = self.spark.conf.get(k)
                except Exception:  # noqa: BLE001 — unset key
                    prev[k] = None
                self.spark.conf.set(k, str(v))
        except BaseException:
            self._session_conf_lock.release()
            raise
        return prev

    def post_model_hook(self, config: dict, context: dict) -> None:
        # keyed on the returned STATE, not config: pre returns a
        # non-empty prev-map exactly when it applied overrides (and
        # took the lock)
        if not context:
            return
        try:
            for k, v in context.items():
                if v is None:
                    self.spark.conf.unset(k)
                else:
                    self.spark.conf.set(k, v)
        finally:
            self._session_conf_lock.release()

    # ------------------------------------------------------------------ exec
    # ---------------------------------------------------- query comment
    def set_query_header(self, comment: str | None, append: bool = False) -> None:
        """Per-node query attribution (reference query_comment,
        ``core/dbt/config/project.py:211-240``): the rendered comment is
        attached to every submitted statement AND becomes the Spark job
        description, so the Spark UI groups this thread's jobs under the
        node. Thread-local — worker threads run different nodes
        concurrently, and ``setJobDescription`` is itself a thread-local
        scheduler property."""
        state = self._query_header
        state.comment = comment
        state.append = append
        try:
            self.spark.sparkContext.setJobDescription(comment)
        except Exception:  # noqa: BLE001 — no sparkContext (Connect)
            pass

    def _commented(self, sql: str) -> str:
        state = self._query_header
        comment = getattr(state, "comment", None)
        if not comment:
            return sql
        block = "/* {} */".format(comment.replace("*/", "* /"))
        if getattr(state, "append", False):
            return f"{sql}\n{block}"
        return f"{block}\n{sql}"

    def execute(self, sql: str, fetch: bool = False) -> tuple[str, ExecuteResult]:
        """Run one SQL statement; optionally fetch rows to the driver."""
        events = self.events
        if events is not None:
            from sparkt.events import SQLQuery

            events.fire(SQLQuery(conn_name="spark", sql=sql))
        t0 = time.time()
        try:
            df = self.spark.sql(self._commented(sql))
            if fetch:
                rows = df.collect()
                result = "OK", ExecuteResult(
                    column_names=list(df.columns), rows=rows,
                    rows_affected=len(rows),
                )
            else:
                # DDL/DML executes eagerly inside .sql(); a pure
                # SELECT is lazy, so a non-fetch query (a validating
                # hook like SELECT assert_true(...)) needs an explicit
                # action or it silently never runs (r12 adapter review
                # #6). The noop sink executes the full query without
                # collecting anything to the driver.
                if _is_pure_query(sql):
                    df.write.format("noop").mode("overwrite").save()
                result = "OK", ExecuteResult(column_names=list(df.columns))
        except Exception:
            # a failed statement still terminates its E016 with a
            # status line (dbt-adapters E016→E017 pairing holds on
            # both outcomes)
            if events is not None:
                from sparkt.events import SQLQueryStatus

                events.fire(SQLQueryStatus(
                    status="ERROR", elapsed=time.time() - t0,
                ))
            raise
        if events is not None:
            from sparkt.events import SQLQueryStatus

            events.fire(SQLQueryStatus(
                status="OK", elapsed=time.time() - t0,
            ))
        return result

    def sql_df(self, sql: str) -> DataFrame:
        return self.spark.sql(self._commented(sql))

    def quote(self, identifier: str) -> str:
        from sparkt.relation import quote_identifier

        return quote_identifier(identifier)

    # --------------------------------------------------------------- schemas
    def create_schema(self, schema: str) -> None:
        # memoized: every materialization ensures its schema, which at
        # 200 nodes was 200 serialized CREATE DATABASE IF NOT EXISTS
        # JVM roundtrips under the DDL lock (~12 ms each, r4 profile)
        if schema in self._schemas_ensured:
            return
        with self._ddl_lock:
            self.spark.sql(f"CREATE DATABASE IF NOT EXISTS {self.quote(schema)}")
            self._schemas_ensured.add(schema)

    def drop_schema(self, schema: str) -> None:
        with self._ddl_lock:
            self._schemas_ensured.discard(schema)
            self._listing.pop(schema, None)
            self.spark.sql(
                f"DROP DATABASE IF EXISTS {self.quote(schema)} CASCADE"
            )
            shutil.rmtree(os.path.join(self.warehouse_dir, schema), ignore_errors=True)
            for key in [k for k in self._catalog if k.startswith(schema + ".")]:
                self._catalog.pop(key, None)
            self._save_catalog()

    # --------------------------------------------- durable relation meta
    def set_relation_meta(self, relation: Relation, **meta) -> None:
        """Annotate the DURABLE catalog entry (catalog.json) for a
        relation — survives process restarts, unlike TBLPROPERTIES on
        the in-memory Spark catalog, which _restore_catalog's CREATE
        TABLE does not re-apply. Holds the materialized-view definition
        hash and the microbatch run state. A table rewrite through
        ``create_table_as`` carries the meta into its new entry;
        ``drop_relation`` clears it. A missing entry makes this a
        no-op."""
        key = f"{relation.schema}.{relation.identifier}"
        with self._ddl_lock:
            entry = self._catalog.get(key)
            if entry is None:
                return
            entry.setdefault("meta", {}).update(meta)
            self._save_catalog()

    def get_relation_meta(self, relation: Relation) -> dict:
        entry = (
            self._catalog.get(
                f"{relation.schema}.{relation.identifier}"
            )
            or {}
        )
        return dict(entry.get("meta") or {})

    # -------------------------------------------------------------- catalog
    def get_relation(self, schema: str, identifier: str) -> Relation | None:
        try:
            # QUOTED probe (r12 adapter review #1): the DDL path quotes
            # reserved-word names, so the catalog probe must too —
            # unquoted getTable('s.order') parse-errors and the
            # existing table looked permanently absent
            tbl = self.spark.catalog.getTable(
                f"{self.quote(schema)}.{self.quote(identifier)}"
            )
        except Exception:
            return None
        rel_type = "view" if tbl.tableType == "VIEW" else "table"
        return Relation(schema=schema, identifier=identifier, type=rel_type)

    def list_relations(self, schema: str) -> list[Relation]:
        if not self.spark.catalog.databaseExists(schema):
            return []
        out = []
        for t in self.spark.catalog.listTables(schema):
            if t.isTemporary:
                continue
            out.append(
                Relation(
                    schema=schema,
                    identifier=t.name,
                    type="view" if t.tableType == "VIEW" else "table",
                )
            )
        return out

    def get_columns_in_relation(self, relation: Relation) -> list[tuple[str, str]]:
        df = self.spark.table(relation.render())
        return [(f.name, f.dataType.simpleString()) for f in df.schema.fields]

    def relation_exists(self, relation: Relation) -> bool:
        return self.get_relation(relation.schema, relation.identifier) is not None

    def partition_columns(self, relation: Relation) -> list[str]:
        """Partition column names of a catalog table ([] if unpartitioned
        or missing). One ``DESCRIBE TABLE``: the names are the rows under
        its ``# Partition Information`` header (``catalog.listColumns``
        costs several JVM roundtrips per column)."""
        try:
            rows = self.spark.sql(f"DESCRIBE TABLE {relation.render()}").collect()
        except AnalysisException:  # no such relation
            return []
        names = [r["col_name"] for r in rows]
        if "# Partition Information" not in names:
            return []
        # skip the header and its "# col_name" row; the section ends at
        # a blank row or the next "#" header
        start = names.index("# Partition Information") + 2
        return list(takewhile(
            lambda n: n and not n.startswith("#"), names[start:]
        ))

    # ---------------------------------------------------------------- paths
    def _new_location(self, relation: Relation) -> str:
        base = os.path.join(self.warehouse_dir, relation.schema, relation.identifier)
        os.makedirs(base, exist_ok=True)
        return os.path.join(base, f"v{int(time.time() * 1000)}_{uuid.uuid4().hex[:6]}")

    def _gc_old_versions(self, relation: Relation, keep: str) -> None:
        """Deferred GC: retain the current version AND the newest
        previous one; older versions are removed on the NEXT write.

        A reader that resolved the old location just before the catalog
        swap can still finish its scan — files only disappear one full
        write cycle later (the same grace Delta/Iceberg gets from
        retention-windowed VACUUM)."""
        base = os.path.join(self.warehouse_dir, relation.schema, relation.identifier)
        if not os.path.isdir(base):
            return
        others = sorted(
            d
            for d in os.listdir(base)
            if os.path.join(base, d) != keep
            and os.path.isdir(os.path.join(base, d))
        )
        # version dirs are v<epoch_millis>_<hex>: lexicographic ==
        # chronological; drop all but the newest previous version
        for d in others[:-1]:
            shutil.rmtree(os.path.join(base, d), ignore_errors=True)

    # ------------------------------------------------------------------ DDL
    def register_external_table(
        self,
        relation: Relation,
        path: str,
        fmt: str = "parquet",
        options: dict | None = None,
    ) -> None:
        """Zero-copy: point a catalog table at existing files (sources).
        ``fmt`` is any Spark DataSource (parquet/csv/json/orc/text);
        ``options`` pass through as table OPTIONS (csv header,
        delimiter, json multiLine, ...). Reference surface:
        ExternalTable.file_format,
        ``core/dbt/artifacts/resources/v1/source_definition.py:25-60``.

        Nanosecond-timestamp parquet columns (unreadable by Spark
        natively) are repaired through a ``<name>__raw`` table +
        casting view — see ``sparkt/sources.py``.
        """
        from sparkt.sources import ns_fix_exprs, ns_timestamp_columns

        fmt = (fmt or "parquet").lower()
        if fmt == "csv":
            # header+inferSchema default on: seeds-parity ergonomics
            options = {"header": "true", "inferSchema": "true",
                       **(options or {})}
        # keys must be identifiers and values are quote-escaped so csv
        # quote/escape chars (e.g. quote: "'") can't break out of the DDL
        if options:
            for k in options:
                if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_.]*", str(k)):
                    raise ValueError(f"invalid table OPTION key: {k!r}")

            opt_clause = " OPTIONS (" + ", ".join(
                f"{k} '{_sql_str(self.spark, v)}'" for k, v in options.items()
            ) + ")"
        else:
            opt_clause = ""
        with self._ddl_lock:
            self.create_schema(relation.schema)
            if self.relation_exists(relation):
                return
            ns_cols = ns_timestamp_columns(path) if fmt == "parquet" else ()
            if not ns_cols:
                self.spark.sql(
                    f"CREATE TABLE {relation.render()} USING {fmt}"
                    f"{opt_clause} LOCATION '{_sql_str(self.spark, path)}'"
                )
                self._record(relation, kind="external", path=path, fmt=fmt,
                             options=options or {})
                return
            raw = relation.with_suffix("__raw")
            if not self.relation_exists(raw):
                # user OPTIONS apply to the raw table too (r12 adapter
                # review #8 — the ns path silently dropped e.g.
                # mergeSchema/recursiveFileLookup)
                self.spark.sql(
                    f"CREATE TABLE {raw.render()} USING parquet"
                    f"{opt_clause} LOCATION '{_sql_str(self.spark, path)}'"
                )
            cols = [f.name for f in self.spark.table(raw.render()).schema.fields]
            exprs = ", ".join(ns_fix_exprs(cols, ns_cols))
            self.spark.sql(
                f"CREATE OR REPLACE VIEW {relation.render()} AS "
                f"SELECT {exprs} FROM {raw.render()}"
            )
            # options persist so a catalog restore re-applies them
            self._record(relation, obj_type="view",
                         kind="external", path=path, fmt="parquet",
                         options=options or {})

    def create_view_as(self, relation: Relation, select_sql: str) -> None:
        self.create_schema(relation.schema)
        with self._ddl_lock:
            # the pre-drop matters only when a non-view occupies the
            # name (CREATE OR REPLACE VIEW cannot replace a table).
            # The managed catalog answers that without a JVM roundtrip
            # (serialized under this lock). An external entry may be a
            # table or a repair view, so it pays a getTable probe; only
            # a name the catalog does not know pays the schema listing.
            entry = self._catalog.get(f"{relation.schema}.{relation.identifier}")
            if entry is None:
                existing_type = self._cached_relation_type(
                    relation.schema, relation.identifier
                )
            elif entry["kind"] == "external":
                existing = self.get_relation(relation.schema, relation.identifier)
                existing_type = existing and existing.type
            else:
                existing_type = "view" if entry["kind"] == "view" else "table"
            if existing_type == "table":
                self.drop_relation(
                    Relation(schema=relation.schema,
                             identifier=relation.identifier, type="table")
                )
            self.spark.sql(
                f"CREATE OR REPLACE VIEW {relation.render()} AS {select_sql}"
            )
            self._record(relation, kind="view", sql=select_sql)

    @staticmethod
    def _partition_clause(partition_by: list[str] | None) -> str:
        if not partition_by:
            return ""
        return f" PARTITIONED BY ({_col_list(partition_by)})"

    @staticmethod
    def _bucket_clause(
        bucket_by: list[str] | None, buckets: int | None,
        sort_by: list[str] | None,
    ) -> str:
        if not bucket_by:
            return ""
        sort = f" SORTED BY ({_col_list(sort_by)})" if sort_by else ""
        return (
            f" CLUSTERED BY ({_col_list(bucket_by)}){sort} "
            f"INTO {int(buckets or 8)} BUCKETS"
        )

    def _fans_out(self, df: DataFrame) -> bool:
        """True when a partitioned write of ``df`` should give each
        partition value its own writer task: Spark's size estimate of
        ``df`` fits in one AQE advisory partition (so AQE would coalesce
        the write into one task that writes every partition file in
        turn), and ``df`` promises no row order (a repartition would
        drop an ORDER BY that the writer's own sort keeps). ``df`` is the
        select of the one write statement, for SQL and DataFrame input
        alike (a DataFrame arrives through its temp view). Any other
        write keeps Spark's shape: a large write needs no extra shuffle,
        and a hash shuffle would put each partition value in one task
        however large it is."""
        plan = df._jdf.queryExecution().optimizedPlan()
        advisory = self.spark._jvm.org.apache.spark.network.util.JavaUtils \
            .byteStringAsBytes(self.spark.conf.get(
                "spark.sql.adaptive.advisoryPartitionSizeInBytes"
            ))
        if plan.stats().sizeInBytes() > advisory:
            return False
        # an ORDER BY (or sortWithinPartitions) on top, under only
        # order-keeping nodes
        node = plan
        while node.nodeName() in (
            "Project", "Filter", "GlobalLimit", "LocalLimit"
        ):
            node = node.child()
        return node.nodeName() != "Sort"

    def _one_writer_per_partition(
        self, select_sql: str, partition_by: list[str]
    ) -> str:
        """``select_sql`` under a ``REPARTITION(n, <partition cols>)``
        hint, ``n = defaultParallelism``, when ``_fans_out`` says so;
        else ``select_sql`` unchanged. ``n`` is explicit because AQE
        coalesces a count-less hint (``REBALANCE(cols)``, even
        ``REBALANCE(4, cols)``) back into one task on a small result."""
        try:
            if not self._fans_out(self.spark.sql(select_sql)):
                return select_sql
        except AnalysisException:  # the statement itself reports it
            return select_sql
        n = self.spark.sparkContext.defaultParallelism
        cols = _col_list(partition_by)
        return (
            f"SELECT /*+ REPARTITION({n}, {cols}) */ * FROM "
            f"({_statement_body(select_sql)}) __sparkt_parts"
        )

    def create_table_as(
        self,
        relation: Relation,
        select_sql: str | None = None,
        df: DataFrame | None = None,
        partition_by: list[str] | None = None,
        bucket_by: list[str] | None = None,
        buckets: int | None = None,
        sort_by: list[str] | None = None,
    ) -> None:
        """Atomic CTAS-replace: write new version dir, swap catalog entry.

        One write statement for either input: ``CREATE TABLE ... USING
        parquet [PARTITIONED BY] [CLUSTERED BY ... SORTED BY ... INTO n
        BUCKETS] LOCATION ... AS SELECT``. A ``df`` is selected from a
        uniquely named temp view that lives only for the statement, so
        its column types are written as the DataFrame declares them.

        Safe even when ``select_sql`` reads from ``relation`` itself (the
        old files are only dropped after the new ones are fully written),
        which the incremental/snapshot rewrite paths rely on.

        Only the swap (drop, rename ``__sparkt_tmp_<hex>``, record) holds
        ``_ddl_lock``; the data job runs outside it. Invariant: no two
        threads replace the SAME relation at once — each relation belongs
        to one DAG node and microbatch concurrency stays inside one job.

        ``bucket_by``/``buckets``/``sort_by`` hash-bucket the table on
        write (Spark ``CLUSTERED BY ... INTO n BUCKETS``): two tables
        bucketed the same way join WITHOUT a shuffle — the co-located
        join path for repeated large joins at 100 TB.

        Invariant: a small, unordered ``partition_by`` write (``_fans_out``:
        Spark's size estimate fits in one AQE advisory partition, 64 MB
        by default, and the select has no ORDER BY) gives each partition
        value exactly one writer task, so it makes one file per
        partition value (per bucket, if bucketed), and the partitions
        are written in parallel. A larger or ordered write keeps
        Spark's shape. Limit: the estimate is the optimizer's, so a
        write it underestimates still puts each partition value in one
        task, the skew case ``REBALANCE`` would split.
        """
        assert (select_sql is None) != (df is None)
        self.create_schema(relation.schema)
        loc = self._new_location(relation)
        tmp = relation.incorporate(
            identifier=f"{relation.identifier}__sparkt_tmp_{uuid.uuid4().hex[:6]}"
        )
        view = None
        if df is not None:
            view = f"__sparkt_df_{uuid.uuid4().hex}"
            df.createTempView(view)
            select_sql = f"SELECT * FROM {view}"
        try:
            if partition_by:
                select_sql = self._one_writer_per_partition(
                    select_sql, partition_by
                )
            self.spark.sql(
                f"CREATE TABLE {tmp.render()} USING parquet"
                f"{self._partition_clause(partition_by)}"
                f"{self._bucket_clause(bucket_by, buckets, sort_by)} "
                f"LOCATION '{_sql_str(self.spark, loc)}' AS {select_sql}"
            )
        finally:
            if view is not None:
                self.spark.catalog.dropTempView(view)
        # the restore re-creates the table from this column list, so
        # partition columns keep their declared types (directory names
        # alone would re-infer '02139' as int) and the bucket spec is
        # accepted (Spark refuses CLUSTERED BY on schema-inferred CREATE)
        schema_ddl = (
            self.spark.table(tmp.render()).schema.toDDL()
            if partition_by or bucket_by else None
        )
        with self._ddl_lock:
            # the replaced entry's meta (a microbatch's run state, an
            # MV's definition hash) outlives the rewrite; drop_relation
            # alone clears it
            meta = self._catalog.get(
                f"{relation.schema}.{relation.identifier}", {}
            ).get("meta")
            existing = self.get_relation(relation.schema, relation.identifier)
            if existing is not None:
                self.drop_relation(existing)
            self.rename_relation(tmp, relation)
            self._record(
                relation,
                kind="table",
                location=loc,
                partitioned=bool(partition_by),
                partition_by=partition_by or None,
                bucket_by=bucket_by or None,
                buckets=int(buckets or 8) if bucket_by else None,
                sort_by=sort_by or None,
                schema_ddl=schema_ddl,
                **({"meta": meta} if meta else {}),
            )
        self._gc_old_versions(relation, keep=loc)

    def create_seed(
        self,
        relation: Relation,
        path: str,
        delimiter: str = ",",
        column_types: dict | None = None,
        sample: bool = False,
    ) -> dict:
        """Seed CSV → table as ONE adapter call, returning a
        serializable summary ({count, columns, rows}) so a
        record/replay bundle can serve seeds without a session
        (sparkt/record.py; reference ``tests/functional/record/``).
        Agate-like inference: header on, inferSchema, dates preferred,
        empty string → NULL (SURVEY.md §7).

        count and the opt-in ``sample`` rows (≤1000, recording runs
        only — the flag rides the recorded key so replay matches) read
        from the WRITTEN table, not the CSV: the parquet count is
        footer-stats cheap and the CSV is scanned exactly once."""
        reader = (
            self.spark.read.option("header", True)
            .option("delimiter", delimiter)
            .option("inferSchema", True)
            .option("preferDate", True)
            .option("nullValue", "")
            .option("emptyValue", "")
        )
        df = reader.csv(path)
        for col, dtype in (column_types or {}).items():
            if col in df.columns:
                df = df.withColumn(col, df[col].cast(dtype))
        self.create_table_as(relation, df=df)
        written = self.spark.table(relation.render())
        return {
            "count": written.count(),
            "columns": [[f.name, f.dataType.simpleString()]
                        for f in df.schema.fields],
            "rows": (
                [r.asDict() for r in written.limit(1000).collect()]
                if sample else []
            ),
        }

    def stash_python_model_source(self, unique_id: str, columns) -> None:
        """Per-INSTANCE stash feeding python_model_source: set via this
        un-recorded call so the recorded call's KEY is the uid alone —
        replay reproduces the key without knowing the schema."""
        self._py_src_stash[unique_id] = columns

    def python_model_source(self, unique_id: str) -> dict:
        """Echo of an incremental python model's SOURCE DataFrame
        schema, recorded into the support bundle: replay reads it to
        drive on_schema_change/strategy SQL generation identically,
        with no session and no user-code re-run (sparkt/record.py)."""
        return {
            "columns": self._py_src_stash.get(unique_id)
        }

    def python_model_result(self, relation_name: str) -> dict:
        """Schema + count + row sample of a materialized python model's
        relation — recorded into the support bundle so replay can
        describe the model's output without re-running user code
        against a session (sparkt/record.py)."""
        df = self.spark.table(relation_name)
        return {
            "count": df.count(),
            "columns": [[f.name, f.dataType.simpleString()]
                        for f in df.schema.fields],
            "sample": [r.asDict() for r in df.limit(10).collect()],
        }

    def _location_stats(self, location: str) -> tuple[int, int]:
        n_files = total = 0
        for root, _dirs, files in os.walk(location):
            for f in files:
                if f.endswith(".parquet"):
                    n_files += 1
                    total += os.path.getsize(os.path.join(root, f))
        return n_files, total

    def table_stats(self, relation: Relation) -> dict | None:
        """Catalog statistics for ``docs generate`` (the reference's
        catalog carries adapter-provided stats — ``core/dbt/task/docs/
        generate.py`` folds whatever the adapter returns into
        ``CatalogTable.stats``; the Spark adapter convention is
        ``bytes`` + ``rows`` parsed from table metadata). Here the
        warehouse is parquet-on-disk: bytes come from the file listing
        and rows from the parquet footers (a metadata-only count — no
        data scan), so stats cost O(files), not O(rows).

        Returns ``{"bytes": int, "rows": int}`` or None for views /
        location-less relations."""
        entry = self._catalog.get(f"{relation.schema}.{relation.identifier}")
        if not entry or entry.get("kind") != "table":
            return None
        location = entry.get("location")
        if not location:
            return None
        n_files, n_bytes = self._location_stats(location)
        if not n_files:
            return None
        rows = self.spark.read.parquet(location).count()
        return {"bytes": n_bytes, "rows": int(rows)}

    def optimize_table(
        self,
        relation: Relation | str,
        target_file_mb: int = 128,
        cluster_by: list[str] | None = None,
    ) -> dict:
        """OPTIMIZE-style table maintenance: compact files toward
        ``target_file_mb`` and optionally sort-cluster rows on
        ``cluster_by`` — the Spark-first substitute for Delta
        ``OPTIMIZE``/``ZORDER BY`` (SURVEY.md §4 "OPTIMIZE/compaction
        for Delta"; the reference leaves maintenance to the warehouse,
        but this engine IS the warehouse).

        Shapes, chosen for 100 TB:
        - compaction only: ``coalesce(n)`` — NARROW, no shuffle; a
          small-file-riddled table rewrites at scan speed.
        - ``cluster_by``: ``repartitionByRange(n, cols)`` +
          ``sortWithinPartitions`` — one range shuffle; globally
          range-clustered files give parquet min/max skipping on the
          leading column(s), the practical benefit of Z-ordering for
          single-column predicates (true multi-dim interleaving is a Delta
          feature; divergence documented).
        - partitioned tables compact within partitions (shuffle on the
          partition columns keeps directory layout).
        Atomicity comes from the same versioned-path swap as
        ``create_table_as``. Returns before/after file stats.
        """
        import math

        if isinstance(relation, str):
            schema, _, ident = relation.replace("`", "").rpartition(".")
            if not schema:
                raise ValueError(
                    "optimize_table: pass 'schema.identifier' or a Relation"
                )
            relation = Relation(schema=schema, identifier=ident)
        key = f"{relation.schema}.{relation.identifier}"
        entry = self._catalog.get(key)
        if entry is None or entry.get("kind") != "table":
            raise ValueError(f"optimize_table: {key} is not a managed table")
        if entry.get("bucket_by"):
            raise ValueError(
                "optimize_table: bucketed tables already control file "
                "placement via their bucket spec; rebuild instead"
            )
        files_before, bytes_total = self._location_stats(entry["location"])
        n_files = max(1, math.ceil(bytes_total / (target_file_mb * 1024**2)))
        df = self.spark.table(relation.render())
        part_cols = (
            self.partition_columns(relation) if entry.get("partitioned") else []
        )
        if part_cols:
            df = df.repartition(n_files, *part_cols)
            if cluster_by:
                df = df.sortWithinPartitions(*cluster_by)
            self.create_table_as(relation, df=df, partition_by=part_cols)
        elif cluster_by:
            df = df.repartitionByRange(n_files, *cluster_by) \
                .sortWithinPartitions(*cluster_by)
            self.create_table_as(relation, df=df)
        else:
            self.create_table_as(relation, df=df.coalesce(n_files))
        files_after, _ = self._location_stats(self._catalog[key]["location"])
        return {
            "files_before": files_before,
            "files_after": files_after,
            "bytes": bytes_total,
            "cluster_by": list(cluster_by or []),
        }

    def insert_into(self, relation: Relation, select_sql: str) -> None:
        # through execute() (r12 adapter review #10): the long-running
        # writes get the query comment AND the E016/E017 SQLQuery
        # event pair like every other statement
        self.execute(f"INSERT INTO {relation.render()} {select_sql}")

    def insert_overwrite(
        self, relation: Relation, select_sql: str
    ) -> None:
        """Dynamic-partition overwrite. REQUIRES a partitioned target:
        on an unpartitioned table ``INSERT OVERWRITE`` replaces every
        row, so we refuse rather than silently lose data (the caller
        should use a table rewrite / full refresh for that intent).

        Invariant, as in ``create_table_as``: a small, unordered select
        gives each partition value exactly one writer task, so the
        statement writes one file per overwritten partition, and the
        partitions are written in parallel; a larger or ordered select
        keeps Spark's shape."""
        from sparkt.exceptions import ExecutionError

        part_cols = self.partition_columns(relation)
        if not part_cols:
            raise ExecutionError(
                f"insert_overwrite on {relation.render()}: target is not "
                "partitioned — a full-table overwrite would silently drop "
                "all existing rows. Set partition_by on the model, or use "
                "the 'merge'/'delete+insert' strategy or --full-refresh."
            )
        # partitionOverwriteMode=dynamic is pinned in __init__
        # (ensure_runtime_conf); under STATIC this statement would
        # replace the whole table.
        select_sql = self._one_writer_per_partition(select_sql, part_cols)
        self.execute(
            f"INSERT OVERWRITE TABLE {relation.render()} {select_sql}"
        )

    def drop_relation(self, relation: Relation) -> None:
        with self._ddl_lock:
            kind = "VIEW" if relation.type == "view" else "TABLE"
            self.spark.sql(f"DROP {kind} IF EXISTS {relation.render()}")
            self._unrecord(relation)

    def rename_relation(self, from_rel: Relation, to_rel: Relation) -> None:
        with self._ddl_lock:
            self.spark.sql(
                f"ALTER TABLE {from_rel.render()} RENAME TO {to_rel.render()}"
            )
            self._fire_cache(
                "rename_relation",
                f"{from_rel.schema}.{from_rel.identifier}",
                f"{to_rel.schema}.{to_rel.identifier}",
            )
            src = self._listing.get(from_rel.schema)
            if src is not None:
                src.pop(from_rel.identifier, None)
            dst = self._listing.get(to_rel.schema)
            if dst is not None:
                dst[to_rel.identifier] = "table"

    # -------------------------------------------------------------- grants
    @staticmethod
    def standardize_grants_dict(grants: dict) -> dict[str, list[str]]:
        """``{privilege: grantee | [grantees]}`` → lists, lower-cased
        privileges (reference ``standardize_grants_dict``,
        ``core/dbt/adapters`` surface consumed by ``task/run.py``)."""
        out: dict[str, list[str]] = {}
        for priv, grantees in (grants or {}).items():
            if isinstance(grantees, str):
                grantees = [grantees]
            out[str(priv).lower()] = [str(g) for g in grantees or []]
        return out

    def apply_grants(self, relation: Relation, grants: dict) -> dict:
        """Record grants on the relation. DOCUMENTED DIVERGENCE: Spark's
        in-memory catalog has no ACLs, so no GRANT DDL exists to run —
        the standardized grants are persisted in the engine catalog (and
        would compile to ``GRANT <priv> ON TABLE ... TO <grantee>`` on a
        Hive/Unity deployment) instead of being silently dropped."""
        std = self.standardize_grants_dict(grants)
        with self._ddl_lock:
            key = f"{relation.schema}.{relation.identifier}"
            entry = self._catalog.get(key)
            if entry is not None:
                entry["grants"] = std
                self._save_catalog()
        return std

    def get_grants(self, relation: Relation) -> dict[str, list[str]]:
        entry = self._catalog.get(
            f"{relation.schema}.{relation.identifier}"
        )
        return dict((entry or {}).get("grants") or {})

    # ----------------------------------------------------------- freshness
    def calculate_freshness_from_metadata(
        self, relation: Relation
    ) -> float | None:
        """Seconds since the newest data file backing the relation was
        written — the zero-scan path
        (``core/dbt/task/freshness.py:107-145``,
        ``calculate_freshness_from_metadata``; warehouse table metadata
        there, file mtimes for external parquet here — the exact
        analogue of a Delta/Iceberg last-commit timestamp)."""
        newest = self.metadata_max_loaded_at(relation)
        if newest is None:
            return None
        return max(0.0, time.time() - newest)

    def metadata_max_loaded_at(self, relation: Relation) -> float | None:
        """Absolute last-modified epoch of the newest data file backing
        the relation — deterministic across calls (unlike age, which
        moves with the clock); feeds the sources.json ``max_loaded_at``
        that ``source_status:fresher`` compares across runs."""
        entry = self._catalog.get(f"{relation.schema}.{relation.identifier}")
        path = None
        if entry is not None:
            path = entry.get("path") or entry.get("location")
        if path is None or not os.path.exists(path):
            return None
        newest = 0.0
        if os.path.isdir(path):
            # any DATA file counts, whatever the source format — a
            # parquet-only filter reported csv/json directory sources
            # as having no freshness at all (r12 adapter review #9);
            # only hidden/metadata entries (_SUCCESS, .crc) are skipped
            for dirpath, _, files in os.walk(path):
                for fn in files:
                    if fn.startswith((".", "_")):
                        continue
                    newest = max(
                        newest,
                        os.path.getmtime(os.path.join(dirpath, fn)),
                    )
        else:
            newest = os.path.getmtime(path)
        return None if newest == 0.0 else newest

    def calculate_freshness_from_metadata_batch(
        self, relations: list[Relation]
    ) -> dict[str, float | None]:
        """One call for all metadata-path sources
        (``calculate_freshness_from_metadata_batch``,
        ``core/dbt/task/freshness.py:107-145``) — on a warehouse this
        saves N information_schema round-trips; here it is one pass over
        the engine catalog."""
        return {
            f"{r.schema}.{r.identifier}":
                self.calculate_freshness_from_metadata(r)
            for r in relations
        }
