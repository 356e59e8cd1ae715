"""Seeded, structure-keeping derivation of the benchmark's input tables.

From one read-only source directory of graft's tables the derivation makes,
for a seed, two input sets:

- ``base``: every row kept, every table in a seeded row order, and each dense
  key domain (0..n-1) renumbered by a seeded permutation that is applied to
  the primary key and to every foreign key that refers to it. Row counts,
  key ranges, join fan-outs and value distributions are those of the source.
- ``hot``: ``base`` plus two planted hot keys. A seeded share of lineitem rows
  is moved onto one seeded ``l_partkey``, and a seeded phrase of
  ``shingle_words`` corpus words is appended to a seeded share of documents
  (``n_chars`` is kept equal to the text length).

The program under test only ever sees the derived tables.
"""
import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# dense key domain -> (owning table, primary key, [(table, foreign key)])
DOMAINS = {
    "region": ("region", "r_regionkey", [("nation", "n_regionkey")]),
    "nation": ("nation", "n_nationkey",
               [("customer", "c_nationkey"), ("supplier", "s_nationkey")]),
    "customer": ("customer", "c_custkey", [("orders", "o_custkey")]),
    "supplier": ("supplier", "s_suppkey", [("lineitem", "l_suppkey")]),
    "part": ("part", "p_partkey", [("lineitem", "l_partkey")]),
    "orders": ("orders", "o_orderkey", [("lineitem", "l_orderkey")]),
    "documents": ("documents", "doc_id", []),
}


def _replace(t, name, values):
    i = t.schema.get_field_index(name)
    return t.set_column(i, t.schema.field(i), pa.array(values, t.schema.field(i).type))


def _dense_size(col):
    """n when the column holds exactly 0..n-1 once each; raises otherwise."""
    v = col.to_numpy(zero_copy_only=False)
    n = len(v)
    if n == 0 or v.min() != 0 or v.max() != n - 1 or len(np.unique(v)) != n:
        raise ValueError("key column is not a dense 0..n-1 domain")
    return n


def derive_base(src, seed):
    """Return {table: pyarrow.Table} for the base input set of ``seed``."""
    rng = np.random.default_rng([seed, 0])
    tables = {t: pq.read_table(os.path.join(src, f"{t}.parquet")) for t in TABLES}
    for table, key, refs in DOMAINS.values():
        n = _dense_size(tables[table][key])
        perm = rng.permutation(n)
        for t, c in [(table, key)] + refs:
            old = tables[t][c].to_numpy(zero_copy_only=False)
            tables[t] = _replace(tables[t], c, perm[old])
    for t in TABLES:
        tables[t] = tables[t].take(rng.permutation(tables[t].num_rows))
    return tables


def plant_hot(tables, seed, partkey_share, shingle_share, shingle_words):
    """Plant the hot part key and the hot shingle; returns (tables, facts)."""
    rng = np.random.default_rng([seed, 1])
    out = dict(tables)
    li = out["lineitem"]
    n_part = out["part"].num_rows
    hot_part = int(rng.integers(n_part))
    rows = rng.choice(li.num_rows, size=round(partkey_share * li.num_rows), replace=False)
    pk = li["l_partkey"].to_numpy(zero_copy_only=False).copy()
    pk[rows] = hot_part
    out["lineitem"] = _replace(li, "l_partkey", pk)

    docs = out["documents"]
    text = docs["text"].to_pylist()
    vocab = sorted({w for s in text for w in s.split()})
    phrase = " ".join(rng.choice(vocab, size=shingle_words).tolist())
    picked = rng.choice(len(text), size=round(shingle_share * len(text)), replace=False)
    for i in picked:
        text[i] = f"{text[i]} {phrase}"
    docs = _replace(docs, "text", text)
    out["documents"] = _replace(docs, "n_chars", pc.utf8_length(docs["text"]).cast(pa.int64()))
    facts = {"hot_partkey": hot_part,
             "hot_partkey_share": float(np.mean(pk == hot_part)),
             "hot_shingle": phrase,
             "hot_shingle_doc_share": len(picked) / len(text)}
    return out, facts


def _write(tables, out_dir, facts):
    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    manifest = {"tables": {}, **facts}
    for t, tab in tables.items():
        path = os.path.join(tmp, f"{t}.parquet")
        pq.write_table(tab, path)
        manifest["tables"][t] = {"rows": tab.num_rows, "bytes": os.path.getsize(path)}
    with open(os.path.join(tmp, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1)
    shutil.rmtree(out_dir, ignore_errors=True)
    os.rename(tmp, out_dir)


def input_key(src, hot_cfg):
    """Short hash of everything the derived tables depend on besides the
    seed: the source tables' contents, the hot-key settings and this file."""
    h = hashlib.sha256(json.dumps(hot_cfg, sort_keys=True).encode())
    with open(os.path.abspath(__file__), "rb") as f:
        h.update(f.read())
    for t in TABLES:
        h.update(t.encode())
        with open(os.path.join(src, f"{t}.parquet"), "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def ensure_inputs(src, cache_dir, seed, hot_cfg):
    """Derive (once per seed and input key) and return {"base": dir, "hot": dir}.

    The cache directory names the input key, so a different source or hot
    configuration derives afresh, and the DuckDB answers cached beside the
    tables are never reused for other data."""
    key = input_key(src, hot_cfg)
    root = os.path.join(cache_dir, f"seed{seed}-{key}")
    dirs = {v: os.path.join(root, v) for v in ("base", "hot")}
    if all(os.path.exists(os.path.join(d, "manifest.json")) for d in dirs.values()):
        return dirs
    facts = {"seed": seed, "source": os.path.basename(os.path.normpath(src)), "input_key": key}
    base = derive_base(src, seed)
    _write(base, dirs["base"], facts)
    hot, hot_facts = plant_hot(base, seed, hot_cfg["lineitem_partkey_share"],
                               hot_cfg["document_shingle_share"], hot_cfg["shingle_words"])
    _write(hot, dirs["hot"], {**facts, **hot_facts})
    return dirs
