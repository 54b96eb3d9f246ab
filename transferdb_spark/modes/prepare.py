"""`prepare` mode — workspace + built-in rule seeding.

The reference creates 14 meta tables and seeds built-in datatype/
default-value rule rows (/root/reference/module/prepare/prepare.go:26-46,
database/meta/meta.go:100-117). Here: create the task workdir layout
and materialize the built-in rule tables as JSON (editable overrides —
the rule-table-as-data extension point, SURVEY.md §2.10).
"""

from __future__ import annotations

import json
import os

from transferdb_spark.rules.datatypes import M2O_BASE, O2M_BASE
from transferdb_spark.rules.defaults import M2O_DEFAULTS, O2M_DEFAULTS

SUBDIRS = ["target", "csv", "reports", "fixsql", "checkpoints", "rules"]


def prepare_workspace(workdir: str) -> dict[str, str]:
    """Create the layout; seed built-in rules; return path map."""
    paths = {}
    for d in SUBDIRS:
        p = os.path.join(workdir, d)
        os.makedirs(p, exist_ok=True)
        paths[d] = p
    seed = {
        "datatype_o2m": O2M_BASE,
        "datatype_m2o": M2O_BASE,
        "default_o2m": O2M_DEFAULTS,
        "default_m2o": M2O_DEFAULTS,
    }
    for name, table in seed.items():
        with open(os.path.join(paths["rules"], f"{name}.json"), "w") as f:
            json.dump(table, f, indent=1, sort_keys=True)
    return paths


