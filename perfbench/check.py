#!/usr/bin/env python3
"""Correctness checks against implementations other than the Spark engine.

osm_wrangle:
  - `tools/shred_osm.py` (stdlib ElementTree) re-derives nodes, ways,
    way_nodes and the cleaned official list from the same files; each must
    equal the engine's relation as a hash of its sorted rows;
  - the six CSVs, counted here with the csv module, must hold the row
    counts the generator's manifest knows by construction, and the
    update_history rows must split into the manifest's phone and name
    updates;
  - nodes_tags, ways_tags and update_history must hold exactly the rows
    the generator expects after the phone and street-name fixes (the
    manifest's sorted-row sha256 of each);
  - the explore scalars the report phase returned must equal the
    manifest's.
curation_chain (q_curation_chain; in a traced run also q_dedup_eval):
  - the query's DuckDB oracle (`SparkEntry.oracleSql`, dumped by the
    harness) runs over the generated `documents.parquet`, and the rows
    are compared the way `tools/selfcheck.py` compares them. Every CTE of
    the oracle is marked MATERIALIZED first: DuckDB 1.0 otherwise inlines
    a CTE at each reference, which changes the cost, not the result.

Each check returns a list of failure messages (empty = correct).
`corrupt=True` perturbs one expected value, so the checks can be shown to
fail (the self-test uses it).
"""
import csv
import hashlib
import json
import re
import subprocess
import sys
from pathlib import Path

import duckdb

from gen_osm import rows_sha256

ROOT = Path(__file__).resolve().parent.parent
CSV_TABLES = ["nodes", "nodes_tags", "ways", "ways_nodes", "ways_tags",
              "update_history"]


def sorted_rows_hash(con, path):
    rel = con.sql(f"SELECT * FROM read_parquet('{path}/*.parquet')")
    cols = ", ".join(f'CAST("{c}" AS VARCHAR)' for c in rel.columns)
    rows = con.sql(f"SELECT {cols} FROM read_parquet('{path}/*.parquet')") \
        .fetchall()
    rows.sort(key=lambda r: tuple((x is None, x or "") for x in r))
    return len(rows), hashlib.sha256(repr(rows).encode()).hexdigest()


def read_csv_table(d):
    rows = []
    for part in sorted(Path(d).glob("part-*")):
        with open(part, newline="", encoding="utf-8") as f:
            rows.extend(list(csv.reader(f))[1:])
    return rows


def check_osm(input_dir, out_dir, check, corrupt=False):
    input_dir, out_dir = Path(input_dir), Path(out_dir)
    manifest = json.loads((input_dir / "manifest.json").read_text())
    if corrupt:
        manifest["explore"]["nodes_count"] += 1
    fails = []
    shred = out_dir / "shred"
    subprocess.run([sys.executable, str(ROOT / "tools" / "shred_osm.py"),
                    str(input_dir / "map.osm"), str(input_dir / "official.xml"),
                    str(shred)], check=True, stdout=subprocess.DEVNULL)
    con = duckdb.connect()
    for rel in ["nodes", "ways", "way_nodes", "official_raw"]:
        eng = sorted_rows_hash(con, out_dir / "engine" / rel)
        ref = sorted_rows_hash(con, shred / rel)
        if eng != ref:
            fails.append(f"{rel}: engine {eng[0]} rows != shred {ref[0]} "
                         "rows (or contents differ)")
    tables = {t: read_csv_table(out_dir / "csv" / t) for t in CSV_TABLES}
    for t in CSV_TABLES:
        if len(tables[t]) != manifest["csv_rows"][t]:
            fails.append(f"csv {t}: {len(tables[t])} rows, manifest "
                         f"{manifest['csv_rows'][t]}")
    for t, want in manifest["csv_sha256"].items():
        if rows_sha256(tables[t]) != want:
            fails.append(f"csv {t}: rows differ from the fixed rows the "
                         "generator expects")
    fields = [r[2] for r in tables["update_history"]]
    for field, key in (("phone", "phone_updates"), ("name", "name_updates")):
        if fields.count(field) != manifest["explore"][key]:
            fails.append(f"update_history {field}: {fields.count(field)}, "
                         f"manifest {manifest['explore'][key]}")
    got = check.get("explore", {})
    for k, v in manifest["explore"].items():
        if got.get(k) != v:
            fails.append(f"explore {k}: engine {got.get(k)}, manifest {v}")
    return fails


def materialized(sql):
    """Mark every non-recursive CTE MATERIALIZED (DuckDB >= 0.9 syntax)."""
    return re.sub(r"\b(\w+) AS \((SELECT|WITH)\b",
                  r"\1 AS MATERIALIZED (\2", sql)


def check_corpus(input_dir, out_dir, check, corrupt=False):
    """Every exported corpus result (`chain`, and `pairs` from a traced
    run) against its DuckDB oracle over the same documents."""
    sys.path.insert(0, str(ROOT / "tools"))
    import selfcheck  # the oracle comparison tools/selfcheck.py applies

    fails = []
    for part, got in sorted(check.items()):
        sql = materialized((Path(out_dir) / got["oracle"]).read_text())
        con = duckdb.connect()
        con.sql("CREATE VIEW documents AS SELECT * FROM read_parquet("
                f"'{Path(input_dir) / part / 'documents.parquet'}')")
        exp = con.sql(sql)
        e_cols, e_rows = selfcheck.canon(exp.fetchall(), list(exp.columns))
        g_cols, g_rows = selfcheck.canon([tuple(r) for r in got["rows"]],
                                         list(got["columns"]))
        if corrupt and e_rows:
            e_rows[0] = tuple(x + 1 if isinstance(x, int) else x
                              for x in e_rows[0])
        if g_cols != e_cols:
            fails.append(f"{got['query']}: columns engine={g_cols} "
                         f"duckdb={e_cols}")
        elif g_rows != e_rows:
            diff = next(((a, b) for a, b in zip(g_rows, e_rows) if a != b),
                        None)
            fails.append(f"{got['query']}: engine {len(g_rows)} rows, "
                         f"duckdb {len(e_rows)} rows; first diff {diff}")
    return fails
