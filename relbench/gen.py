"""Seeded inputs and expected outputs of the relationalize benchmark.

Everything here is plain Python: the generator makes the documents and
derives, independently of the program, what relationalizing them must
produce. That expectation (table names, row counts, output columns with
their DDL types, non-null counts per column, parent links) is the
manifest the output check compares against.

Relationalize semantics re-derived here (reference: tulip/relationalize):
  - a nested object key ``a.b`` flattens to column ``a_b``;
  - an array at path ``p`` is replaced by a rid string in its row; its
    elements become rows of table ``<root>_p`` carrying ``p__rid_`` and
    ``p__index_``; object elements expand to ``p_<key>``, scalar elements
    to ``p__val_``;
  - a column seen with two or more non-null scalar types is a choice
    column, split into ``<col>_<type>`` output columns.
"""
import json
import os
import random

RID = object()  # stands for a synthetic rid value (a string)

PG_TYPES = {"int": "BIGINT", "float": "FLOAT", "str": "VARCHAR(65535)",
            "bool": "BOOLEAN", "none": "BOOLEAN"}

# Input sizes. A run's job time scales with these; they are fixed so that
# every seed gives the same amount of work.
NESTED_DOCS = 15000
STREAM_DOCS = 4500
STREAM_FILES = 3
CATALOG_LINEITEM = 60000
CATALOG_ORDERS = 15000
CATALOG_PARTS = 2000
CATALOG_EMBEDDINGS = 500
CATALOG_DOCUMENTS = 500

WORDS = ("batch part spark line column order small sort fast value scan a hash "
         "slow group agg filter query big key window row table stream merge data "
         "vector join index plan").split()
CITIES = ["Lyon", "Osaka", "Lima", "Oslo", "Pune", "Accra", "Quito", "Perth"]
STATUSES = ["open", "paid", "shipped", "returned"]
TAGS = ["gift", "fragile", "bulk", "promo", "eco", "rush"]


def tag_of(v):
    if v is RID or isinstance(v, str):
        return "str"
    if v is None:
        return "none"
    if isinstance(v, bool):
        return "bool"
    if isinstance(v, int):
        return "int"
    if isinstance(v, float):
        return "float"
    raise TypeError(f"not a JSON scalar: {v!r}")


def relationalize(doc, name):
    """(table, flat row, parent link) triples of one document, children
    first. A parent link is (parent table, parent column) for child rows,
    None for the root row."""
    out = []

    def walk(node, path, table):
        if isinstance(node, list):
            child = f"{name}_{path}"
            for idx, elem in enumerate(node):
                out.append((child, element_row(elem, idx, path, child), (table, path)))
            return {path: RID}
        if isinstance(node, dict):
            prefix = f"{path}_" if path else ""
            acc = {}
            for k, v in node.items():
                acc.update(walk(v, prefix + k, table))
            return acc
        return {path: node}

    def element_row(elem, idx, path, table):
        prefix = f"{path}_" if path else ""
        if isinstance(elem, dict):
            acc = {}
            for k, v in elem.items():
                if k not in ("_rid_", "_index_"):
                    acc.update(walk(v, prefix + k, table))
        else:
            acc = walk(elem, prefix + "_val_", table)
        acc[prefix + "_rid_"] = RID
        acc[prefix + "_index_"] = idx
        return acc

    root = walk(doc, "", name)
    out.append((name, root, None))
    return out


def type_repr(tags):
    members = sorted(t for t in tags if t != "none")
    if not members:
        return "none"
    return members[0] if len(members) == 1 else "c-" + "-".join(members)


class Expect:
    """Accumulates what relationalizing a stream of documents must yield."""

    def __init__(self, name):
        self.name = name
        self.rows = {}      # table -> row count
        self.counts = {}    # table -> column -> tag -> non-null count
        self.tags = {}      # table -> column -> set of tags (none included)
        self.parents = {}   # child table -> [parent table, parent column]

    def add(self, doc):
        for table, row, link in relationalize(doc, self.name):
            self.rows[table] = self.rows.get(table, 0) + 1
            counts = self.counts.setdefault(table, {})
            tags = self.tags.setdefault(table, {})
            for k, v in row.items():
                t = tag_of(v)
                tags.setdefault(k, set()).add(t)
                if t != "none":
                    col = counts.setdefault(k, {})
                    col[t] = col.get(t, 0) + 1
            if link:
                self.parents[table] = list(link)

    def schema(self, table):
        """column -> type repr, the program's choice schema."""
        return {k: type_repr(ts) for k, ts in self.tags[table].items()}

    def columns(self, table):
        """Output columns after the choice split: name -> (base tag,
        non-null count), sorted by name."""
        cols = {}
        for k, ts in self.tags[table].items():
            members = sorted(t for t in ts if t != "none")
            by_tag = self.counts.get(table, {}).get(k, {})
            if len(members) >= 2:
                for m in members:
                    cols[f"{k}_{m}"] = (m, by_tag.get(m, 0))
            else:
                m = members[0] if members else "none"
                cols[k] = (m, by_tag.get(m, 0))
        return dict(sorted(cols.items()))

    def manifest(self):
        return {
            "root": self.name,
            "tables": {
                t: {"rows": self.rows[t],
                    "columns": {c: {"type": PG_TYPES[m], "tag": m, "non_null": n}
                                for c, (m, n) in self.columns(t).items()},
                    "schema": self.schema(t),
                    "parent": self.parents.get(t)}
                for t in sorted(self.rows)},
        }


def price(rng):
    r = rng.random()
    if r < 0.4:
        return round(rng.uniform(1, 500), 2)
    if r < 0.8:
        return rng.randint(1, 500)
    return f"{rng.uniform(1, 500):.2f}"


def order_doc(rng, i, regime2=False):
    """An order: 3-level customer struct, items (array of structs) holding a
    tags array (scalar array), and fields mixing int, str, float and null.
    Regime 2 widens ``id`` from int to str and adds a bool ``flag``."""
    items = [{"sku": f"SKU-{rng.randrange(100000):05d}",
              "qty": rng.randint(1, 9),
              "price": price(rng),
              "tags": [rng.choice(TAGS) for _ in range(rng.randint(0, 3))]}
             for _ in range(rng.randint(0, 5))]
    total = sum(float(it["price"]) * it["qty"] for it in items)
    doc = {
        "id": f"ORD-{i}" if regime2 else i,
        "status": rng.choice(STATUSES),
        "total": round(total, 2) if rng.random() < 0.7 else int(total),
        "note": None if rng.random() < 0.5 else " ".join(rng.choices(WORDS, k=rng.randint(2, 8))),
        "customer": {
            "name": f"cust-{rng.randrange(50000)}",
            "tier": rng.choice([1, 2, 3, "gold", "silver", None]),
            "address": {
                "city": rng.choice(CITIES),
                "zip": f"{rng.randrange(100000):05d}",
                "geo": {"lat": round(rng.uniform(-90, 90), 5),
                        "lon": round(rng.uniform(-180, 180), 5)},
            },
        },
        "items": items,
    }
    if regime2:
        doc["flag"] = rng.random() < 0.5
    return doc


def write_jsonl(path, docs):
    with open(path, "w") as f:
        for d in docs:
            f.write(json.dumps(d, separators=(",", ":")))
            f.write("\n")


def gen_nested(seed, input_path):
    rng = random.Random(seed)
    exp = Expect("orders")
    docs = [order_doc(rng, i) for i in range(NESTED_DOCS)]
    for d in docs:
        exp.add(d)
    write_jsonl(input_path, docs)
    m = exp.manifest()
    m["docs"] = len(docs)
    m["joinback_rows"] = exp.rows.get("orders_items", 0)
    return m


def drift_rows(prior, merged):
    """Column changes of one batch, as the program's drift log records them:
    every column added, and every column whose type repr changed."""
    rows = []
    for k, t in prior.items():
        if merged.get(k) != t:
            rows.append((k, "retyped", t, merged[k]))
    rows += [(k, "added", None, t) for k, t in merged.items() if k not in prior]
    return rows


def gen_stream(seed, input_dir):
    """The order documents in STREAM_FILES files (one micro-batch each,
    oldest file first); the second half is regime 2."""
    rng = random.Random(seed)
    os.makedirs(input_dir)
    per_file = STREAM_DOCS // STREAM_FILES
    total = Expect("orders")
    stored = {}  # table -> column -> tag set, as merged so far
    drift = []
    base = 1_600_000_000
    i = 0
    for f in range(STREAM_FILES):
        regime2 = f >= STREAM_FILES // 2
        batch = Expect("orders")
        docs = []
        for _ in range(per_file):
            docs.append(order_doc(rng, i, regime2))
            i += 1
        for d in docs:
            batch.add(d)
            total.add(d)
        path = os.path.join(input_dir, f"part-{f:03d}.jsonl")
        write_jsonl(path, docs)
        os.utime(path, (base + f, base + f))
        for table, cols in batch.tags.items():
            if table in stored:
                prior = {k: type_repr(ts) for k, ts in stored[table].items()}
                for k, ts in cols.items():
                    stored[table].setdefault(k, set()).update(ts)
                merged = {k: type_repr(ts) for k, ts in stored[table].items()}
                drift += [[f, table] + list(r) for r in drift_rows(prior, merged)]
            else:
                stored[table] = {k: set(ts) for k, ts in cols.items()}
    m = total.manifest()
    m["docs"] = i
    m["files"] = STREAM_FILES
    m["drift"] = drift
    m["migration_batches"] = sorted({d[0] for d in drift})
    return m


def gen_catalog(seed, input_dir):
    """lineitem, embeddings and documents tables in the layout of the
    repository's testdata (TESTDATA.md), at the scale of its sf0.01 tables,
    drawn from ``seed``.

    Which parts share orders is fixed, and the seed relabels parts and
    orders and shuffles the rows: the iterative entries peel a graph of the
    same shape for every seed, so they run the same number of rounds (on
    freely drawn graphs the round count, and with it the job time, varied
    by a sixth between seeds)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq
    os.makedirs(input_dir)
    n = CATALOG_LINEITEM
    shape = np.random.default_rng(0)
    orders = shape.integers(0, CATALOG_ORDERS, n)
    parts = shape.integers(0, CATALOG_PARTS, n)
    g = np.random.default_rng(seed)
    rows = g.permutation(n)
    qty = g.integers(1, 51, n).astype(np.float64)
    lineitem = pa.table({
        "l_orderkey": g.permutation(CATALOG_ORDERS)[orders][rows],
        "l_partkey": g.permutation(CATALOG_PARTS)[parts][rows],
        "l_suppkey": g.integers(0, CATALOG_PARTS // 20, n),
        "l_linenumber": g.integers(1, 8, n).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * g.uniform(900, 2100, n), 2),
        "l_discount": np.round(g.integers(0, 11, n) / 100.0, 2),
        "l_tax": np.round(g.integers(0, 9, n) / 100.0, 2),
        "l_returnflag": g.choice(["A", "N", "R"], n),
        "l_linestatus": g.choice(["F", "O"], n),
        "l_shipdate": pa.array((np.datetime64("1992-01-01")
                                + g.integers(0, 3650, n).astype("timedelta64[D]")).astype("datetime64[us]")),
    })
    pq.write_table(lineitem, os.path.join(input_dir, "lineitem.parquet"))

    dim, labels = 64, 10
    centers = g.normal(size=(labels, dim))
    label = g.integers(0, labels, CATALOG_EMBEDDINGS)
    vecs = centers[label] + g.normal(scale=1.2, size=(CATALOG_EMBEDDINGS, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    embeddings = pa.table({
        "vec_id": np.arange(CATALOG_EMBEDDINGS, dtype=np.int64),
        "embedding": pa.array([list(v) for v in vecs.astype(np.float32)], pa.list_(pa.float32())),
        "label": label.astype(np.int32),
    })
    pq.write_table(embeddings, os.path.join(input_dir, "embeddings.parquet"))

    rng = random.Random(seed)
    texts = [" ".join(rng.choices(WORDS, k=rng.randint(8, 90))) for _ in range(CATALOG_DOCUMENTS)]
    documents = pa.table({
        "doc_id": np.arange(CATALOG_DOCUMENTS, dtype=np.int64),
        "text": texts,
        "lang": [rng.choice(["en", "es", "zh", "de", "fr"]) for _ in texts],
        "source": [f"src{j % 20}" for j in range(len(texts))],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    pq.write_table(documents, os.path.join(input_dir, "documents.parquet"))
    return {"tables": {"lineitem": n, "embeddings": CATALOG_EMBEDDINGS,
                       "documents": CATALOG_DOCUMENTS},
            "docs": n + CATALOG_EMBEDDINGS + CATALOG_DOCUMENTS}


GENERATORS = {
    "nested_docs": (gen_nested, "docs.jsonl"),
    "drift_stream": (gen_stream, "files"),
    "catalog_iterative": (gen_catalog, "tables"),
}


def generate(workload, seed, run_dir):
    """Write the workload's input under ``run_dir``; return (input path,
    manifest). The manifest also records the input's size in bytes."""
    fn, leaf = GENERATORS[workload]
    path = os.path.join(run_dir, leaf)
    manifest = fn(seed, path)
    if os.path.isdir(path):
        size = sum(os.path.getsize(os.path.join(path, f)) for f in os.listdir(path))
    else:
        size = os.path.getsize(path)
    manifest.update(workload=workload, seed=seed, input_bytes=size)
    return path, manifest
