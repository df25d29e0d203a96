"""The clinical lake: the program's composed ETL over the seeded raw CSVs
(00-etl-rwd.py), its traced form, and the checks of what it wrote.

    io.read_csv_dir (explicit schemas) -> functions.scalar.deidentify
    (SHA-256 of PII) -> io.write_table -> operators.joins.denormalize
    (patient_encounters) -> catalog.register_external_table ->
    catalog.optimize_table (the reference's Z-order columns)
"""

from __future__ import annotations

import os

from .. import gen
from . import common

DATABASE = "lakebench"

_PATIENT_RENAMES = {"Id": "PATIENT"}
_ENCOUNTER_RENAMES = {"Id": "Enc_Id", "START": "START_TIME", "STOP": "END_TIME",
                      "PROVIDER": "ORGANIZATION"}
_ORG_RENAMES = {"Id": "ORGANIZATION", "NAME": "Org_Name", "CITY": "PROVIDER_CITY",
                "STATE": "PROVIDER_STATE", "ZIP": "PROVIDER_ZIP"}


def etl_specs():
    """The reference ETL as TableSpecs: Synthea renames, PII
    de-identification on patients, and the ETL's Z-order columns on
    patients and patient_encounters (00-etl-rwd.py:213,217)."""
    from clinical_data_lake_spark.etl import TableSpec
    from clinical_data_lake_spark.etl.pipeline import DenormSpec

    specs = [
        TableSpec("patients", renames=_PATIENT_RENAMES, pii_cols=gen.PII_COLS,
                  zorder_by=["BIRTHDATE", "ZIP", "GENDER", "RACE"]),
        TableSpec("encounters", renames=_ENCOUNTER_RENAMES),
        TableSpec("organizations", renames=_ORG_RENAMES),
    ]
    denorm = DenormSpec(
        name="patient_encounters", base="encounters",
        dims=[("patients", ["PATIENT"], False), ("organizations", ["ORGANIZATION"], True)],
        zorder_by=["REASONDESCRIPTION", "START_TIME", "ZIP", "PATIENT"],
    )
    return specs, denorm


def load(ctx) -> dict[str, str]:
    """CSV ingest through ``etl.run_etl`` into the catalog, with
    OPTIMIZE; returns {table: location}."""
    from clinical_data_lake_spark.etl import run_etl
    from clinical_data_lake_spark.etl.pipeline import ingest_csv_dir

    specs, denorm = etl_specs()
    sources = ingest_csv_dir(ctx.spark, ctx.inputs, gen.SCHEMAS)
    return run_etl(ctx.spark, sources, specs, os.path.join(ctx.work, "lake"),
                   denorm=denorm, database=DATABASE, optimize=True)


def traced_load(ctx) -> dict[str, str]:
    """``load`` with a span around ``etl.run_etl`` and around each public
    function it calls (patched in the modules that call them)."""
    from clinical_data_lake_spark import catalog
    from clinical_data_lake_spark.etl import pipeline

    def files_written(args, kwargs, out):
        return {"files": len(common.parquet_files(args[1]))}

    def files_after(args, kwargs, out):
        return {"files": len(common.parquet_files(catalog.table_location(args[0], args[1])))}

    targets = [
        (pipeline, "read_csv_dir", "io.read_csv_dir", {}),
        (pipeline, "deidentify", "functions.scalar.deidentify", {}),
        (pipeline, "write_table", "io.write_table", {"after": files_written}),
        (pipeline, "denormalize", "operators.joins.denormalize", {}),
        (catalog, "register_external_table", "catalog.register_external_table", {}),
        (catalog, "optimize_table", "catalog.optimize_table", {"after": files_after}),
    ]
    with ctx.tracer.patched(targets), ctx.tracer.span("etl.run_etl"):
        return load(ctx)


def lake_bytes(paths: dict[str, str]) -> int:
    return sum(common.dir_bytes(p) for p in paths.values())


def _expected_fact_sql(raw: str) -> str:
    """patient_encounters built by DuckDB straight from the raw CSVs:
    the join, the renames and the SHA-256 de-identification."""
    def csv(name):
        types = {"patients": "{'BIRTHDATE': 'DATE', 'ZIP': 'INTEGER'}",
                 "encounters": "{'START': 'TIMESTAMP', 'STOP': 'TIMESTAMP', "
                               "'PROVIDER': 'INTEGER', 'REASONDESCRIPTION': 'VARCHAR'}",
                 "organizations": "{'Id': 'INTEGER', 'ZIP': 'INTEGER'}"}[name]
        return f"read_csv('{raw}/{name}.csv', header=true, types={types})"

    def sel(alias, cols, renames, pii=()):
        return [f"sha256(coalesce({alias}.{c}, '{gen.NULL_TOKEN}')) AS {c}" if c in pii
                else f"{alias}.{c} AS {renames.get(c, c)}" for c in cols]

    cols = (sel("e", gen.ENCOUNTER_COLS, _ENCOUNTER_RENAMES)
            + sel("p", gen.PATIENT_COLS[1:], _PATIENT_RENAMES, gen.PII_COLS)
            + sel("o", gen.ORGANIZATION_COLS[1:], _ORG_RENAMES))
    return (f"SELECT {', '.join(cols)} FROM {csv('encounters')} e "
            f"JOIN {csv('patients')} p ON e.PATIENT = p.Id "
            f"JOIN {csv('organizations')} o ON e.PROVIDER = o.Id")


def _fingerprint(con, relation: str, columns: list[str]) -> tuple:
    """Row-multiset fingerprint over canonical text of ``columns``: the
    row count and the sum of row hashes."""
    row = ", ".join(f"coalesce(CAST({c} AS VARCHAR), '\\N')" for c in columns)
    return con.execute(
        f"SELECT count(*), sum(hash(concat_ws('|', {row}))::HUGEINT) FROM ({relation})"
    ).fetchone()


def check(ctx, paths: dict[str, str]) -> list[str]:
    """Row counts per table; every PII value equal to SHA-256 of the
    generated value and never the raw value; and the optimized
    patient_encounters equal, as a row multiset, to the join DuckDB
    computes from the raw CSVs — every encounter exactly once, with
    nothing lost or altered by the denormalize or OPTIMIZE rewrites."""
    m = ctx.manifest
    con = common.duck()
    problems = []
    expect = dict(m["rows"], patient_encounters=m["rows"]["encounters"])
    for table, n in expect.items():
        got = con.execute(f"SELECT count(*) FROM {common.scan(paths[table])}").fetchone()[0]
        if got != n:
            problems.append(f"{table}: {got} rows, expected {n}")

    raw = gen.read_patients_pii(os.path.join(ctx.inputs, "patients.csv"))
    cols = ", ".join(gen.PII_COLS)
    bad_hash = leaked = 0
    for row in con.execute(f"SELECT PATIENT, {cols} FROM {common.scan(paths['patients'])}").fetchall():
        pii = raw.get(row[0], {})
        for c, v in zip(gen.PII_COLS, row[1:]):
            bad_hash += v != gen.sha256_token(pii.get(c, ""))
            leaked += bool(pii.get(c)) and v == pii[c]
    if bad_hash or leaked:
        problems.append(f"patients PII: {bad_hash} values not SHA-256 of the input, {leaked} raw")

    fact = f"SELECT * FROM {common.scan(paths['patient_encounters'])}"
    columns = [r[0] for r in con.execute(f"DESCRIBE {fact}").fetchall()]
    got = _fingerprint(con, fact, columns)
    want = _fingerprint(con, _expected_fact_sql(ctx.inputs), columns)
    if got != want:
        problems.append(f"patient_encounters row multiset {got} != expected {want}")
    return problems
