"""Expected rows of the snapshot queries, from DuckDB.

Runs each query's `SparkEntry.oracleSql` (dumped by the JVM side) in DuckDB
over the generated tables and writes `<query>.tsv` in the canonical form of
`Check.scala`: a `name:type` header sorted by column name, then one
tab-separated line per row, doubles as their IEEE bit pattern.
"""
import json
import os
import struct

import duckdb

import gen

TYPES = {"BIGINT": "int64", "INTEGER": "int32", "SMALLINT": "int16", "TINYINT": "int8",
         "DOUBLE": "float64", "FLOAT": "float32", "VARCHAR": "str", "BOOLEAN": "bool"}


def value(v):
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        if v != v:
            return "nan"
        if v == 0.0:
            return "0"
        return str(struct.unpack("<q", struct.pack("<d", v))[0])
    return str(v)


def render(rel):
    cols = sorted(zip(rel.columns, (str(t) for t in rel.types)), key=lambda c: c[0])
    idx = {name: i for i, name in enumerate(rel.columns)}
    lines = ["\t".join(f"{n}:{TYPES.get(t, t.lower())}" for n, t in cols)]
    for row in rel.fetchall():
        lines.append("\t".join(value(row[idx[n]]) for n, _ in cols))
    return lines


def write(oracle_sql_path, data_dir, out_dir, tmp_dir):
    """Write one expected-rows file per query of `oracle_sql_path`."""
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    con.execute(f"SET temp_directory='{tmp_dir}'")
    con.execute("SET threads=4")
    for t in gen.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    with open(oracle_sql_path) as fh:
        queries = json.load(fh)
    for name, sql in sorted(queries.items()):
        lines = render(con.sql(sql))
        with open(os.path.join(out_dir, f"{name}.tsv"), "w") as fh:
            fh.write("\n".join(lines) + "\n")
    con.close()
