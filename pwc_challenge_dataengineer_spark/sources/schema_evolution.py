"""Schema evolution: registry, diff/compatibility engine, evolve-on-read.

Mirrors the reference's schema-evolution subsystem
(src/streaming/schema_evolution_manager.py:43-220 — CompatibilityType,
SchemaCompatibilityChecker with its widening map, _analyze_schema_differences
change taxonomy; src/etl/spark/enhanced_bronze.py:221-236 evolve-on-read),
re-expressed for Spark batch/streaming reads:

- ``diff_schemas``     add / drop / change_type / modify_nullable taxonomy
  with per-change backward/forward safety using the reference's widening map
  (int→{bigint,double,float}, bigint→{double,float}, float→double,
  boolean→string).
- ``check_compatibility``  BACKWARD (new schema reads old data: drops and
  non-widening type changes break), FORWARD (old schema reads new data:
  added non-nullable fields break), FULL (both), NONE.
- ``SchemaRegistry``   JSON-file registry of named schema versions with an
  enforced compatibility mode per subject (Confluent-registry-style), same
  atomic-write discipline as the versioned store's manifest.
- ``evolve_read``      union heterogeneous generations (DataFrames or
  parquet paths, each with its own physical schema) onto one target schema:
  rename → widen-cast → fill missing nullable columns with NULL →
  unionByName. All per-column expressions; no data moves through the driver.

Scale: schema metadata is KB-sized driver state; the data path is a plain
columnar projection per generation followed by a union — no shuffle at all,
so evolve-on-read costs the same as reading each generation directly.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .commit import write_atomic

# Reference widening map (schema_evolution_manager.py:207-214), keyed by
# Spark simpleString type names.
TYPE_WIDENING: dict[str, frozenset[str]] = {
    "int": frozenset({"bigint", "double", "float"}),
    "bigint": frozenset({"double", "float"}),
    "float": frozenset({"double"}),
    "boolean": frozenset({"string"}),
}


def is_widening(old_type: T.DataType, new_type: T.DataType) -> bool:
    """True when old values can be read as ``new_type`` losslessly-enough
    per the reference's compatibility map (identity included)."""
    if old_type == new_type:
        return True
    return new_type.simpleString() in TYPE_WIDENING.get(
        old_type.simpleString(), frozenset()
    )


def diff_schemas(current: T.StructType, target: T.StructType) -> list[dict]:
    """Change list between two schemas (reference taxonomy).

    Each change: ``field``, ``change_type`` ∈ {add_column, drop_column,
    change_type, modify_nullable}, ``impact`` ∈ {low, medium, high},
    ``backward_safe`` (new schema can still read old data) and
    ``forward_safe`` (old schema can still read new data).
    """
    cur = {f.name: f for f in current.fields}
    tgt = {f.name: f for f in target.fields}
    changes: list[dict] = []
    for name, tf in tgt.items():
        if name not in cur:
            changes.append(
                {
                    "field": name,
                    "change_type": "add_column",
                    "impact": "low",
                    # new schema reading old data: missing column → NULL, safe
                    "backward_safe": True,
                    # old schema reading new data: unknown column is ignored,
                    # unless it was required (non-nullable) downstream
                    "forward_safe": bool(tf.nullable),
                }
            )
    for name, cf in cur.items():
        if name not in tgt:
            changes.append(
                {
                    "field": name,
                    "change_type": "drop_column",
                    "impact": "high",
                    "backward_safe": False,
                    "forward_safe": True,
                }
            )
    for name, cf in cur.items():
        tf = tgt.get(name)
        if tf is None:
            continue
        if cf.dataType != tf.dataType:
            widen = is_widening(cf.dataType, tf.dataType)
            changes.append(
                {
                    "field": name,
                    "change_type": "change_type",
                    "impact": "medium",
                    "backward_safe": widen,
                    "forward_safe": widen,
                }
            )
        if cf.nullable != tf.nullable:
            changes.append(
                {
                    "field": name,
                    "change_type": "modify_nullable",
                    "impact": "medium",
                    # nullable→required breaks reads of old NULL-bearing data
                    "backward_safe": bool(tf.nullable),
                    "forward_safe": True,
                }
            )
    return changes


def check_compatibility(
    current: T.StructType, target: T.StructType, mode: str = "backward"
) -> tuple[bool, list[str]]:
    """(is_compatible, issues) under ``mode`` ∈ backward/forward/full/none,
    with the reference's rules (schema_evolution_manager.py:139-199)."""
    mode = mode.lower()
    if mode == "none":
        return True, []
    issues: list[str] = []
    changes = diff_schemas(current, target)
    if mode in ("backward", "full"):
        for c in changes:
            if not c["backward_safe"]:
                issues.append(
                    f"{c['change_type']} on '{c['field']}' breaks backward compatibility"
                )
    if mode in ("forward", "full"):
        for c in changes:
            if not c["forward_safe"]:
                issues.append(
                    f"{c['change_type']} on '{c['field']}' breaks forward compatibility"
                )
    return len(issues) == 0, issues


class SchemaRegistry:
    """File-backed named-schema registry with per-subject compat enforcement.

    Versions are append-only; ``register`` refuses an evolution that violates
    the subject's compatibility mode (like Confluent's registry, which the
    reference's SchemaRegistry dataclass models)."""

    def __init__(self, path: str):
        self.path = path
        os.makedirs(path, exist_ok=True)

    def _subject_path(self, subject: str) -> str:
        return os.path.join(self.path, f"{subject}.json")

    def _load(self, subject: str) -> list[dict]:
        try:
            with open(self._subject_path(subject)) as fh:
                return json.load(fh)
        except FileNotFoundError:
            return []

    def register(
        self, subject: str, schema: T.StructType, mode: str = "backward"
    ) -> int:
        entries = self._load(subject)
        if entries:
            latest = T.StructType.fromJson(json.loads(entries[-1]["schema"]))
            ok, issues = check_compatibility(latest, schema, mode)
            if not ok:
                raise ValueError(
                    f"schema for '{subject}' violates {mode} compatibility: {issues}"
                )
        entries.append(
            {"version": len(entries) + 1, "schema": schema.json(), "mode": mode}
        )
        write_atomic(self._subject_path(subject), json.dumps(entries))
        return entries[-1]["version"]

    def latest_version(self, subject: str) -> int | None:
        entries = self._load(subject)
        return entries[-1]["version"] if entries else None

    def get_schema(self, subject: str, version: int | None = None) -> T.StructType:
        entries = self._load(subject)
        if not entries:
            raise KeyError(f"no schemas registered for '{subject}'")
        if version is None:
            entry = entries[-1]
        else:
            by_v = {e["version"]: e for e in entries}
            if version not in by_v:
                raise KeyError(f"version {version} not registered for '{subject}'")
            entry = by_v[version]
        return T.StructType.fromJson(json.loads(entry["schema"]))


def conform_to(
    df: DataFrame,
    target: T.StructType,
    renames: dict[str, str] | None = None,
) -> DataFrame:
    """Project one generation onto the target schema: rename, widen-cast,
    NULL-fill missing columns. Pure column expressions (codegen-friendly)."""
    renames = renames or {}
    for old, new in renames.items():
        if old in df.columns:
            df = df.withColumnRenamed(old, new)
    have = {f.name: f for f in df.schema.fields}
    cols = []
    for f in target.fields:
        if f.name in have:
            src = have[f.name]
            if src.dataType == f.dataType:
                cols.append(F.col(f.name))
            elif is_widening(src.dataType, f.dataType):
                cols.append(F.col(f.name).cast(f.dataType).alias(f.name))
            else:
                raise ValueError(
                    f"column '{f.name}': {src.dataType.simpleString()} → "
                    f"{f.dataType.simpleString()} is not a safe widening"
                )
        elif f.nullable:
            cols.append(F.lit(None).cast(f.dataType).alias(f.name))
        else:
            raise ValueError(
                f"required column '{f.name}' missing from generation "
                f"with columns {sorted(have)}"
            )
    return df.select(*cols)


def evolve_read(
    spark: SparkSession,
    generations,
    target: T.StructType,
    renames: dict[str, str] | None = None,
) -> DataFrame:
    """Union heterogeneous generations (DataFrames or parquet paths) onto
    ``target``. Each generation keeps its own physical schema on disk; the
    conform step is a per-file projection, so old files are never rewritten
    (the same evolve-on-read contract Delta/Iceberg readers give)."""
    dfs = []
    for g in generations:
        df = spark.read.parquet(g) if isinstance(g, str) else g
        dfs.append(conform_to(df, target, renames))
    out = dfs[0]
    for df in dfs[1:]:
        out = out.unionByName(df)
    return out
