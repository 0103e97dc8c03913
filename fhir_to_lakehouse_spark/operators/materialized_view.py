"""Incrementally-maintained materialized flat views: ViewDefinition x
change feed.

`maintenance create-view --materialize` writes a flat view once; this
module keeps it FRESH without recomputing the world. The source
KeyedTable's change feed (`_change_type` + `commit_version`,
sinks/keyed_table.py — the Delta CDF analog) names exactly which
resources changed since the last refresh, and a ViewDefinition row's
lineage is exactly ONE resource (views are per-resource flattenings:
every row of a compiled view derives from a single resource, even
under forEach). That makes the maintenance delta-shaped:

1. read changes since the last refreshed version — O(delta), the
   changelog is partitioned by commit_version so old commits are
   partition-pruned;
2. fold to the latest post-image per changed resource key
   (``KeyedTable.latest_changes``; deletes drop out) — these rows
   carry the full encoded columns, so the SOURCE TABLE IS NEVER
   SCANNED during a refresh;
3. compile the view over just those rows;
4. swap the changed keys' row-groups in the materialization:
   anti-join out the changed keys, append the recompiled rows, and
   publish the result through ``SwapDir``, the keyed table's own
   copy-on-write directory (tmp dir + rename, stranded-copy recovery,
   reads with the recorded schema).

Step 4 rewrites the materialization file set — that is the parquet
fallback's cost, same as every fallback merge. On the Delta backend
the identical plan runs as `DELETE WHERE key IN (...)` + append with
file-level skipping; the delta-shaped COMPUTE (steps 1-3) is the part
that matters at 100 TB, where a day's changes are megabytes against a
terabyte view.

Requires the ViewDefinition to declare a ``getResourceKey()`` column —
that column is the row-group key; refusing views without one keeps
the delete-then-append swap exact.
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fhir_to_lakehouse_spark.operators.view_definition import (
    ViewCompileError,
    compile_view,
)
from fhir_to_lakehouse_spark.sinks.keyed_table import KeyedTable, SwapDir


def _resource_key_column(view: dict) -> str:
    for sel in view.get("select", []) or []:
        for c in sel.get("column", []) or []:
            if c.get("path", "").strip() == "getResourceKey()":
                return c["name"]
    raise ViewCompileError(
        "incremental materialization needs a getResourceKey() column "
        "in the ViewDefinition (it is the refresh row-group key)"
    )


class MaterializedFlatView:
    """A flat parquet materialization of ``view`` over ``source``,
    refreshed incrementally from the source's change feed."""

    def __init__(
        self, view: dict, source: KeyedTable, path: str
    ) -> None:
        if not source.changelog:
            raise ValueError(
                "incremental refresh needs the source KeyedTable "
                "constructed with changelog=True"
            )
        self.view = view
        self.source = source
        self.spark = source.spark
        self.path = path
        self.key_col = _resource_key_column(view)
        self._dir = SwapDir(path)
        self._dir.recover()

    # -- state -----------------------------------------------------------

    def _meta_path(self) -> str:
        return f"{self.path.rstrip('/')}.meta.json"

    def last_refreshed_version(self) -> int:
        try:
            with open(self._meta_path()) as f:
                return int(json.load(f)["last_version"])
        except (FileNotFoundError, KeyError, ValueError):
            return -1

    def _commit_version(self, version: int) -> None:
        tmp = f"{self._meta_path()}.tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump({"last_version": version}, f)
        os.replace(tmp, self._meta_path())

    def read(self) -> DataFrame:
        return self._dir.read(self.spark)

    # -- refresh ---------------------------------------------------------

    def refresh(self) -> dict:
        """Bring the materialization up to the source's current
        changelog version. First call (or a missing materialization)
        is a full build; afterwards only changed resources are
        recompiled. Returns refresh stats."""
        v_now = self.source.changelog_version()
        v_last = self.last_refreshed_version()
        if not self._dir.exists() or v_last < 0:
            self._dir.publish(compile_view(self.view, self.source.to_df()))
            self._commit_version(v_now)
            return {
                "mode": "full",
                "from_version": None,
                "to_version": v_now,
                "resources": None,
            }
        if v_now <= v_last:
            return {
                "mode": "noop",
                "from_version": v_last,
                "to_version": v_now,
                "resources": 0,
            }

        latest = self.source.latest_changes(since=v_last + 1).persist()
        try:
            n_changed = latest.count()
            survivors = latest.filter(
                F.col("_change_type") != "delete"
            ).drop("_change_type")
            recompiled = compile_view(self.view, survivors)
            changed_keys = latest.select(F.col(self.source.key).alias(self.key_col))
            kept = self.read().join(
                F.broadcast(changed_keys), self.key_col, "left_anti"
            )
            self._dir.publish(kept.unionByName(recompiled))
        finally:
            latest.unpersist()
        self._commit_version(v_now)
        return {
            "mode": "incremental",
            "from_version": v_last + 1,
            "to_version": v_now,
            "resources": n_changed,
        }
