"""Relation identity.

Mirrors the reference's relation model: two-level ``schema.identifier``
namespace (database==schema enforced, reference:
dbt/adapters/glue/credentials.py:69-78) and backtick quoting
(reference: dbt/adapters/glue/relation.py:7-25). The reference's
``{location}/{schema}/{table}`` S3 layout (impl.py:415-444) lives in
``Engine._version_scan_args``, the one place that knows where a model's
generations are stored.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

_IDENT = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")


def quote(name: str) -> str:
    return name if _IDENT.match(name) else f"`{name}`"


@dataclass(frozen=True)
class Relation:
    schema: str
    identifier: str
    type: str = "table"  # table | view

    def render(self) -> str:
        # database level intentionally excluded, like SparkIncludePolicy
        # (reference: relation.py:13-17)
        return f"{quote(self.schema)}.{quote(self.identifier)}"
