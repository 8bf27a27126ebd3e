"""Seeded inputs for the session benchmark.

The corpus comes from the repo's own generators (tools/gen_sf_local.py:
gen_documents, gen_embeddings, gen_star), driven by numpy generators built
from the seed, so one seed always gives the same files. For build_refresh
it also writes the append batch: 1% more documents (half near-dup
mutations of sampled documents, half fresh text) and 1% more orders with
their lineitems under new keys.

Layout under <out>:
  base/              the corpus the workload starts from (10 tables)
  appended.staged/   base plus the batch; the harness moves it to
                     appended/ at the moment the append lands
  scratch/           the same files as appended.staged, under another
                     directory, for the from-scratch reference build
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# corpus shape: documents, embedding vectors, star-schema multiplier
# (gen_star's 1.0 is the sf0.1 testdata star: 150k orders)
N_DOCS = 400
N_VECS = 400
STAR_MULT = 0.02
APPEND_FRAC = 0.01


def _generators(root):
    sys.path.insert(0, os.path.join(root, "tools"))
    import gen_sf_local
    return gen_sf_local


def _rng(seed, stream):
    return np.random.default_rng([seed, stream])


def _write(table, path):
    pq.write_table(table, path)
    return os.path.getsize(path)


def write_base(g, seed, out):
    os.makedirs(out)
    tables = {"documents": g.gen_documents(N_DOCS, _rng(seed, 1)),
              "embeddings": g.gen_embeddings(N_VECS, _rng(seed, 2))}
    tables.update(g.gen_star(STAR_MULT, _rng(seed, 3)))
    return {name: _write(t, os.path.join(out, f"{name}.parquet"))
            for name, t in tables.items()}


def document_batch(g, docs, rng):
    """Near-dup mutations of sampled documents plus fresh documents,
    under doc_ids past the current maximum."""
    n = docs.num_rows
    k = max(2, round(n * APPEND_FRAC))
    picked = rng.choice(n, k // 2, replace=False)
    texts = docs.column("text").to_pylist()
    lang = docs.column("lang").to_pylist()
    source = docs.column("source").to_pylist()
    rows = []
    for i in picked:
        words = texts[i].split()
        if rng.random() < 0.5 and len(words) > 12:
            words = words[:-1]
        else:
            words[int(rng.integers(0, len(words)))] = g.VOCAB[int(rng.integers(0, len(g.VOCAB)))]
        rows.append((" ".join(words), lang[i], source[i]))
    fresh = g.gen_documents(k - len(rows), rng)
    rows += zip(fresh.column("text").to_pylist(), fresh.column("lang").to_pylist(),
                fresh.column("source").to_pylist())
    first = max(docs.column("doc_id").to_pylist()) + 1
    return pa.table({
        "doc_id": pa.array(range(first, first + len(rows)), pa.int64()),
        "text": pa.array([r[0] for r in rows], pa.string()),
        "lang": pa.array([r[1] for r in rows], pa.string()),
        "source": pa.array([r[2] for r in rows], pa.string()),
        "n_chars": pa.array([len(r[0]) for r in rows], pa.int64()),
    }).cast(docs.schema)


def order_batch(g, orders, lineitem, base, rng):
    """New-key orders with their lineitems; foreign keys stay inside the
    base dimension tables."""
    m = max(1, round(orders.num_rows * APPEND_FRAC))
    star = g.gen_star(max(m / 150000, 0.001), rng)
    new_o, new_l = star["orders"].slice(0, m), star["lineitem"]
    new_l = new_l.filter(pa.array(np.asarray(new_l.column("l_orderkey")) < m))
    shift = max(orders.column("o_orderkey").to_pylist()) + 1

    def rows_of(name):
        return pq.ParquetFile(os.path.join(base, f"{name}.parquet")).metadata.num_rows

    def remap(table, col, by):
        i = table.schema.get_field_index(col)
        return table.set_column(i, col, pa.array(by(np.asarray(table.column(col))),
                                                 table.schema.field(col).type))

    new_o = remap(new_o, "o_orderkey", lambda k: k + shift)
    new_o = remap(new_o, "o_custkey", lambda k: k % rows_of("customer"))
    new_l = remap(new_l, "l_orderkey", lambda k: k + shift)
    new_l = remap(new_l, "l_partkey", lambda k: k % rows_of("part"))
    new_l = remap(new_l, "l_suppkey", lambda k: k % rows_of("supplier"))
    return new_o.cast(orders.schema), new_l.cast(lineitem.schema)


def write_appended(g, seed, base, staged, scratch):
    rng = _rng(seed, 4)
    os.makedirs(staged)
    os.makedirs(scratch)
    sizes = {}
    docs = pq.read_table(os.path.join(base, "documents.parquet"))
    orders = pq.read_table(os.path.join(base, "orders.parquet"))
    lineitem = pq.read_table(os.path.join(base, "lineitem.parquet"))
    doc_b = document_batch(g, docs, rng)
    ord_b, li_b = order_batch(g, orders, lineitem, base, rng)
    grown = {"documents": pa.concat_tables([docs, doc_b]),
             "orders": pa.concat_tables([orders, ord_b]),
             "lineitem": pa.concat_tables([lineitem, li_b])}
    for name in sorted(os.listdir(base)):
        table = name[:-len(".parquet")]
        src = os.path.join(staged, name)
        if table in grown:
            sizes[table] = _write(grown[table], src)
        else:
            os.link(os.path.join(base, name), src)
        os.link(src, os.path.join(scratch, name))
    sizes["batch_rows"] = {"documents": doc_b.num_rows, "orders": ord_b.num_rows,
                           "lineitem": li_b.num_rows}
    return sizes


def generate(root, workload, seed, out):
    """Write the workload's inputs under `out`; return their sizes."""
    g = _generators(root)
    base = os.path.join(out, "base")
    info = {"base": write_base(g, seed, base)}
    if workload == "build_refresh":
        info["appended"] = write_appended(g, seed, base, os.path.join(out, "appended.staged"),
                                          os.path.join(out, "scratch"))
    return info


if __name__ == "__main__":
    import json
    if len(sys.argv) != 4:
        sys.exit("usage: gen.py <workload> <seed> <out-dir>")
    here = os.path.dirname(os.path.abspath(__file__))
    print(json.dumps(generate(os.path.dirname(here), sys.argv[1], int(sys.argv[2]), sys.argv[3])))
