"""Relation: the engine-side name of a warehouse object.

Mirrors the reference's (database, schema, identifier) triple
(``core/dbt/context/providers.py:101-113``; SURVEY.md §1.1b). Spark's
session catalog is two-level, so ``database`` collapses into the Spark
catalog name and a relation renders as ``schema.identifier`` with
backtick quoting.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, replace

_IDENT_RE = re.compile(r"^[a-z_][a-z0-9_]*$")

#: Spark's ANSI-mode reserved words (ANSI compliance doc, "Reserved
#: keywords"). Under ``spark.sql.ansi.enforceReservedKeywords=true`` a
#: bare ``order``/``select`` identifier in generated SQL is a syntax
#: error, so these are always backquoted; pinned by
#: ``tests/test_golden_sql_syntax.py::
#: test_reserved_relation_identifier_renders_backquoted``
_ANSI_RESERVED = frozenset("""
    all and any array as at authorization between both case cast
    check collate column constraint create cross current_date
    current_time current_timestamp current_user distinct else end
    escape except exists external extract false fetch filter for
    foreign from full grant group grouping having in inner intersect
    interval into is join lateral leading left like natural not null
    offset on only or order outer overlaps partition position primary
    references right select session_user some table then time to
    trailing true union unique unknown user using when where window
    with
""".split())


def _quote(part: str) -> str:
    if _IDENT_RE.match(part) and part not in _ANSI_RESERVED:
        return part
    return "`" + part.replace("`", "``") + "`"


def quote_identifier(name: str) -> str:
    """ALWAYS-quoted identifier for generated DML (unlike
    :func:`_quote`, which skips plain identifiers and so would leave
    reserved words like ``select`` bare). Single source of truth for
    adapter.quote and the materializations' ``bt`` helper."""
    return "`" + str(name).replace("`", "``") + "`"


@dataclass(frozen=True)
class Relation:
    schema: str
    identifier: str
    type: str = "table"  # "table" | "view"

    def render(self) -> str:
        return f"{_quote(self.schema)}.{_quote(self.identifier)}"

    def __str__(self) -> str:  # Jinja renders {{ this }} via str()
        return self.render()

    def incorporate(self, **kwargs) -> "Relation":
        return replace(self, **kwargs)

    def replace_path(self, **kwargs) -> "Relation":
        """Reference ``BaseRelation.replace_path`` (used by ref-override
        macros, ``tests/functional/ref_override``): accepts
        database/schema/identifier; ``database`` is dropped — Spark's
        catalog is two-level."""
        kwargs.pop("database", None)
        return replace(self, **kwargs)

    def with_suffix(self, suffix: str) -> "Relation":
        return replace(self, identifier=f"{self.identifier}{suffix}")

    @classmethod
    def create(
        cls, schema: str, identifier: str, type: str = "table"
    ) -> "Relation":
        return cls(schema=schema, identifier=identifier, type=type)

    @staticmethod
    def add_ephemeral_prefix(name: str) -> str:
        """Reference: ``Relation.add_ephemeral_prefix`` (SURVEY.md §2.4)."""
        return f"__dbt__cte__{name}"
