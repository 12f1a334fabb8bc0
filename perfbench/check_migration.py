#!/usr/bin/env python3
"""Output check for the migration workloads.

Compares a migration's target tree (<out>/<table>.parquet plus the uploaded
attachments under <out>/_objects/) with the generator's manifest:
  - every target table exists and has the manifest's row count;
  - `id` is unique and non-null wherever a target has one;
  - every foreign key resolves, except exactly the dangling references the
    generator planted and counted; lookups planted to match nothing are null;
  - text columns keep no edge whitespace and no NUL bytes;
  - regions, provinces and municipalities keep the seed CSVs' `istat_code`
    strings (leading zeros);
  - resolution names are unique after numbering;
  - the uploaded objects are exactly the planted attachments, each with the
    payload's SHA-256.

Three known program faults are tolerated, never required: a column the
manifest lists under `defect_dangling` may dangle by exactly the counted
references or not at all; a `passthrough_text` column may hold its exact
uncleaned source values; `regions` and `provinces` may hold `istat_code` as
integers equal to the seed code (`Main.seedCsv` infers them as numbers).
Output with the faults mended passes as well.

Usage: python3 check_migration.py <out> <manifest.json>   (exit 1 on failure)
"""
import hashlib
import json
import os
import sys

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# (table, column) -> referenced table (its `id`).
FOREIGN_KEYS = [
    ("companies", "municipality_id", "municipalities"),
    ("physical_structures", "district_id", "districts"),
    ("physical_structures", "company_id", "companies"),
    ("operational_offices", "physical_structure_id", "physical_structures"),
    ("operational_offices", "municipality_id", "municipalities"),
    ("operational_offices", "toponym_id", "toponyms"),
    ("buildings", "physical_structure_id", "physical_structures"),
    ("operational_units", "company_id", "companies"),
    ("production_factors", "production_factor_type_id", "production_factor_types"),
    ("udos", "udo_type_id", "udo_types"),
    ("udos", "operational_office_id", "operational_offices"),
    ("udos", "building_id", "buildings"),
    ("udos", "company_id", "companies"),
    ("udos", "operational_unit_id", "operational_units"),
    ("udo_status_history", "udo_id", "udos"),
    ("udo_specialties", "udo_id", "udos"),
    ("udo_specialties", "specialty_id", "specialties"),
    ("udo_specialties", "clinical_operational_unit_id", "operational_units"),
    ("udo_production_factors", "udo_id", "udos"),
    ("udo_production_factors", "production_factor_id", "production_factors"),
    ("udo_type_production_factor_types", "udo_type_id", "udo_types"),
    ("udo_type_production_factor_types", "production_factor_type_id", "production_factor_types"),
    ("udo_resolutions", "udo_id", "udos"),
    ("udo_resolutions", "resolution_id", "resolutions"),
    ("udo_types", "udo_type_classification_id", "udo_type_classifications"),
    ("specialties", "grouping_specialty_id", "grouping_specialties"),
    ("specialties", "parent_specialty_id", "specialties"),
    ("users", "operational_unit_id", "operational_units"),
    ("user_companies", "user_id", "users"),
    ("user_companies", "company_id", "companies"),
    ("requirements", "requirement_taxonomy_id", "requirement_taxonomies"),
    ("requirement_lists", "resolution_id", "resolutions"),
    ("procedures", "company_id", "companies"),
    ("healthcare_companies", "ulss_id", "ulss"),
]

# Seed tables whose istat_code the program writes as an integer (a fault).
INT_ISTAT_TOLERATED = {"regions", "provinces"}


def read(out, table):
    return pq.read_table(os.path.join(out, f"{table}.parquet"))


def check(out, manifest):
    """Returns a list of failure strings (empty when the tree is correct)."""
    fails = []
    tables = {}
    for t, n in sorted(manifest["targets"].items()):
        try:
            tables[t] = read(out, t)
        except Exception as e:  # noqa: BLE001 - any unreadable target is a failure
            fails.append(f"{t}: unreadable ({e})")
            continue
        if tables[t].num_rows != n:
            fails.append(f"{t}: {tables[t].num_rows} rows, manifest says {n}")
    for t, tb in tables.items():
        if "id" in tb.schema.names:
            ids = tb.column("id")
            if ids.null_count:
                fails.append(f"{t}.id: {ids.null_count} nulls")
            if pc.count_distinct(ids).as_py() != len(ids) - ids.null_count:
                fails.append(f"{t}.id: duplicates")
        for i, f in enumerate(tb.schema):
            key = f"{t}.{f.name}"
            # The FK rule below already holds these ids to the normalized spelling.
            if not pa.types.is_string(f.type) or key in manifest["defect_dangling"]:
                continue
            col = tb.column(i)
            if key in manifest["passthrough_text"]:
                col = pc.filter(col, pc.invert(pc.is_in(
                    col, value_set=pa.array(manifest["passthrough_text"][key], pa.string()))))
            edge = pc.sum(pc.match_substring_regex(col, r"^\s|\s$").cast(pa.int64())).as_py()
            nul = pc.sum(pc.match_substring(col, "\x00").cast(pa.int64())).as_py()
            if edge or nul:
                fails.append(f"{t}.{f.name}: {edge or 0} values with edge whitespace, "
                             f"{nul or 0} with NUL bytes")
    for key, want in manifest["null_fk"].items():
        t, c = key.split(".")
        if t in tables and tables[t].column(c).null_count != want:
            fails.append(f"{key}: {tables[t].column(c).null_count} nulls, {want} planted "
                         "lookups that match nothing")
    for t, c, ref in FOREIGN_KEYS:
        if t not in tables or ref not in tables:
            continue
        vals = tables[t].column(c).cast(pa.string()).drop_null()
        known = tables[ref].column("id").cast(pa.string())
        dangling = len(vals) - pc.sum(pc.is_in(vals, value_set=known).cast(pa.int64())).as_py()
        want = manifest["dangling"].get(f"{t}.{c}", 0)
        defect = manifest["defect_dangling"].get(f"{t}.{c}", 0)
        if dangling not in (want, want + defect):
            fails.append(f"{t}.{c} -> {ref}.id: {dangling} dangling, {want} planted"
                         + (f" (or {want + defect} with the known fault)" if defect else ""))
    for t, want in manifest["istat_code"].items():
        if t not in tables:
            continue
        tb = tables[t]
        as_int = pa.types.is_integer(tb.schema.field("istat_code").type) and t in INT_ISTAT_TOLERATED
        if as_int:
            want = {i: int(code) for i, code in want.items()}
        bad = sum(1 for i, code in zip(tb.column("id").to_pylist(), tb.column("istat_code").to_pylist())
                  if code != want.get(str(i)))
        if bad:
            fails.append(f"{t}.istat_code: {bad} codes differ from the seed CSV")
    if "resolutions" in tables:
        res = tables["resolutions"]
        names = res.column("name")
        if pc.count_distinct(names).as_py() != len(names):
            fails.append("resolutions.name: duplicates after numbering")
        fails += check_objects(out, res, manifest["attachments"])
    return fails


def check_objects(out, res, want):
    fails = []
    root = os.path.join(out, "_objects", "resolutions")
    keyed = {i: k for i, k in zip(res.column("id").to_pylist(), res.column("object_key").to_pylist())
             if k is not None}
    if set(keyed) != set(want):
        fails.append(f"resolutions.object_key: {len(keyed)} uploaded, {len(want)} planted "
                     f"({len(set(keyed) ^ set(want))} ids differ)")
    bad = 0
    for rid, key in keyed.items():
        path = os.path.join(root, key)
        try:
            with open(path, "rb") as fh:
                digest = hashlib.sha256(fh.read()).hexdigest()
        except OSError:
            digest = None
        bad += digest != want.get(rid)
    if bad:
        fails.append(f"_objects: {bad} objects missing or not matching their payload SHA-256")
    return fails


def main():
    out, manifest = sys.argv[1], json.load(open(sys.argv[2]))
    fails = check(out, manifest)
    for f in fails:
        print("FAIL", f)
    print("OK" if not fails else f"{len(fails)} failures")
    return 1 if fails else 0


if __name__ == "__main__":
    sys.exit(main())
