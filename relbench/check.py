"""Output checks of the relationalize benchmark.

Each check returns a list of problems (empty when the output is correct).
The JSON workloads are compared against the generator's manifest
(``gen.py``); the catalog workload against the DuckDB oracle SQL the
program declares for each entry, with the gate's own comparison
(``tools/localverify.py``).
"""
import glob
import importlib.util
import json
import os
import re
from collections import Counter, defaultdict

PY_TYPES = {"int": int, "float": float, "str": str, "bool": bool}
ARROW_TYPES = {"int": "int64", "float": "double", "str": "string", "bool": "bool", "none": "bool"}
DDL_COLUMN = re.compile(r'^\s*,?\s*"((?:[^"]|"")+)" (.+?)\s*$')


def check_links(manifest, rows_of):
    """Referential integrity: every child rid names exactly one parent row,
    and a rid's ``__index_`` values run 0..n-1."""
    problems = []
    for child, spec in manifest["tables"].items():
        if not spec["parent"]:
            continue
        parent, pcol = spec["parent"]
        parents = Counter(r[pcol] for r in rows_of(parent) if r.get(pcol) is not None)
        indices = defaultdict(list)
        for r in rows_of(child):
            indices[r.get(f"{pcol}__rid_")].append(r.get(f"{pcol}__index_"))
        for rid, idx in indices.items():
            if parents.get(rid) != 1:
                problems.append(f"{child}: rid {rid} has {parents.get(rid, 0)} parents in {parent}")
            elif sorted(idx) != list(range(len(idx))):
                problems.append(f"{child}: rid {rid} has indices {sorted(idx)[:8]}")
            if len(problems) > 5:
                return problems
    return problems


def check_rows(table, spec, rows):
    """Row count, column set, value types and non-null count per column."""
    problems = []
    if len(rows) != spec["rows"]:
        problems.append(f"{table}: {len(rows)} rows, expected {spec['rows']}")
    cols = spec["columns"]
    non_null = Counter()
    for r in rows:
        for k, v in r.items():
            if v is None:
                continue
            if k not in cols:
                problems.append(f"{table}: unexpected column {k}")
                return problems
            want = PY_TYPES.get(cols[k]["tag"])
            if want is None or type(v) is not want:
                problems.append(f"{table}.{k}: value {v!r} is not {cols[k]['tag']}")
                return problems
            non_null[k] += 1
    for c, s in cols.items():
        if non_null[c] != s["non_null"]:
            problems.append(f"{table}.{c}: {non_null[c]} non-null values, expected {s['non_null']}")
    return problems


def read_jsonl_dir(path):
    rows = []
    for f in sorted(glob.glob(os.path.join(path, "part-*"))):
        with open(f) as fh:
            rows.extend(json.loads(line) for line in fh if line.strip())
    return rows


def parse_ddl(text):
    """(table, {column: type}) of one CREATE TABLE statement."""
    head = re.search(r'CREATE TABLE IF NOT EXISTS "[^"]+"\."([^"]+)" \(', text)
    cols = {}
    for line in text.splitlines()[1:-1]:
        m = DDL_COLUMN.match(line)
        if m:
            cols[m.group(1).replace('""', '"')] = m.group(2)
    return (head.group(1) if head else None), cols


def check_batch_job(job_dir, manifest, facts):
    """Tables written as JSONL and their DDL, by one relationalize job."""
    tables_dir = os.path.join(job_dir, "tables")
    found = sorted(os.listdir(tables_dir)) if os.path.isdir(tables_dir) else []
    want = sorted(manifest["tables"])
    if found != want:
        return [f"tables {found[:5]}... ({len(found)}), expected {len(want)}"]
    rows = {t: read_jsonl_dir(os.path.join(tables_dir, t)) for t in want}
    problems = []
    for t, spec in manifest["tables"].items():
        problems += check_rows(t, spec, rows[t])
        ddl_path = os.path.join(job_dir, "ddl", f"{t}.sql")
        if not os.path.exists(ddl_path):
            problems.append(f"{t}: no DDL")
            continue
        with open(ddl_path) as fh:
            name, cols = parse_ddl(fh.read())
        want_cols = {c: s["type"] for c, s in spec["columns"].items()}
        if name != t or cols != want_cols:
            problems.append(f"{t}: DDL {name} {cols}, expected {want_cols}")
    problems += check_links(manifest, lambda t: rows[t])
    if facts.get("joinback_rows") != manifest["joinback_rows"]:
        problems.append(f"join-back {facts.get('joinback_rows')} rows, expected {manifest['joinback_rows']}")
    return problems


def read_parquet_dir(path):
    import pyarrow.dataset as ds
    return ds.dataset(path, format="parquet").to_table()


def check_stream_job(job_dir, manifest, facts):
    """Evolving parquet tables, schema store and drift log of one drain."""
    out = os.path.join(job_dir, "tables")
    problems = []
    found = sorted(d for d in os.listdir(out) if not d.startswith("_"))
    if found != sorted(manifest["tables"]):
        problems.append(f"tables {found}, expected {sorted(manifest['tables'])}")
    batches = facts.get("batches", [])
    if len(batches) != manifest["files"]:
        problems.append(f"{len(batches)} micro-batches, expected {manifest['files']}")
    rows = {}
    for t, spec in manifest["tables"].items():
        try:
            data = read_parquet_dir(os.path.join(out, t))
        except Exception as e:  # a missing or mixed-layout table
            problems.append(f"{t}: unreadable ({e})")
            continue
        types = {f.name: str(f.type) for f in data.schema}
        want_types = {c: ARROW_TYPES[s["tag"]] for c, s in spec["columns"].items()}
        if types != want_types:
            problems.append(f"{t}: columns {types}, expected {want_types}")
            continue
        rows[t] = data.to_pylist()
        problems += check_rows(t, spec, rows[t])
        schema_path = os.path.join(out, "_graft_schema", f"{t}.json")
        with open(schema_path) as fh:
            stored = json.load(fh)
        if stored != spec["schema"]:
            problems.append(f"{t}: stored schema {stored}, expected {spec['schema']}")
    if problems:
        return problems
    problems += check_links(manifest, lambda t: rows[t])
    drift_dir = os.path.join(out, "_drift_log")
    logged = []
    if os.path.isdir(drift_dir):
        log = read_parquet_dir(drift_dir).to_pylist()
        logged = sorted((r["batch_id"], r["table"], r["column"], r["change"]) for r in log)
    want = sorted((d[0], d[1], d[2], d[3]) for d in manifest["drift"])
    if logged != want:
        problems.append(f"drift log {logged}, expected {want}")
    facts["drift_rows"] = len(logged)
    return problems


def load_canon(root):
    """The gate's canonical row form, from the checkout's tools/localverify.py."""
    spec = importlib.util.spec_from_file_location(
        "localverify", os.path.join(root, "tools", "localverify.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.canon


class CatalogOracle:
    """DuckDB answers of the catalog entries over the generated tables,
    computed once per run and compared with every job's result dump."""

    def __init__(self, root, run_dir, input_dir, manifest):
        import duckdb
        self.canon = load_canon(root)
        self.con = duckdb.connect()
        for t in manifest["tables"]:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{input_dir}/{t}.parquet'")
        with open(os.path.join(run_dir, "oracle_sql.json")) as fh:
            oracle = json.load(fh)
        self.expected = {}
        for name, sql in oracle.items():
            res = self.con.execute(sql)
            self.expected[name] = self.canon([d[0] for d in res.description], res.fetchall())

    def check(self, job_dir):
        problems = []
        for name, (ocols, orows) in self.expected.items():
            path = os.path.join(job_dir, "results", name)
            try:
                scols = [x[0] for x in self.con.execute(
                    f"DESCRIBE SELECT * FROM '{path}/*.parquet'").fetchall()]
                srows = self.con.execute(f"SELECT * FROM '{path}/*.parquet'").fetchall()
            except Exception as e:
                problems.append(f"{name}: no readable result ({e})")
                continue
            sc, sr = self.canon(scols, srows)
            if sc != ocols:
                problems.append(f"{name}: columns {sc}, oracle {ocols}")
            elif sr != orows:
                problems.append(f"{name}: {len(sr)} rows differ from the oracle's {len(orows)}")
        return problems
