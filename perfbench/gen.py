"""Seeded input generator for the pipeline benchmark.

Reads the vendored source tables under ``perfbench/data/sf0.01`` and writes
one workload's inputs under an output directory. Everything that varies is
drawn from ``random.Random(seed)``: row permutation, file split, which rows
are replicated with distinct keys, and the stream's refetch share,
near-duplicate share and arrival rounds. The same seed gives byte-identical
files. Returns a manifest with each input's rows, bytes and file count.
"""
import json
import os
import random

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
SOURCE = os.path.join(HERE, "data", "sf0.01")
TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def _read(name):
    return pq.read_table(os.path.join(SOURCE, f"{name}.parquet"))


def _permute(table, rng):
    idx = list(range(table.num_rows))
    rng.shuffle(idx)
    return table.take(pa.array(idx, type=pa.int64()))


def _split_points(n, files, rng):
    """`files` contiguous slices of n rows with seeded, uneven sizes."""
    cuts = sorted(rng.sample(range(1, n), files - 1)) if files > 1 else []
    bounds = [0] + cuts + [n]
    return list(zip(bounds[:-1], bounds[1:]))


def _stat(path):
    files = [os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs]
    if os.path.isfile(path):
        files = [path]
    return len(files), sum(os.path.getsize(f) for f in files)


def _record(manifest, name, path, rows):
    files, size = _stat(path)
    manifest[name] = {"rows": rows, "bytes": size, "files": files}


def _write_parquet(table, path):
    pq.write_table(table, path, compression="snappy")


def gen_sf(out, rng, manifest):
    """All ten tables, each permuted, one file each (the query layout)."""
    sf = os.path.join(out, "sf")
    os.makedirs(sf, exist_ok=True)
    for t in TABLES:
        tab = _permute(_read(t), rng)
        path = os.path.join(sf, f"{t}.parquet")
        _write_parquet(tab, path)
        _record(manifest, t, path, tab.num_rows)


def gen_etl(out, rng, manifest, replicas=2):
    """lineitem as header CSV in several files, replicated with distinct
    order keys; orders and customer as permuted parquet."""
    li = _read("lineitem")
    step = pc.max(li["l_orderkey"]).as_py() + 1
    copies = [li.set_column(0, "l_orderkey",
                            pc.add(li["l_orderkey"], pa.scalar(r * step, pa.int64())))
              for r in range(replicas)]
    li = _permute(pa.concat_tables(copies), rng)
    d = os.path.join(out, "lineitem_csv")
    os.makedirs(d, exist_ok=True)
    for i, (a, b) in enumerate(_split_points(li.num_rows, rng.randint(3, 6), rng)):
        pacsv.write_csv(li.slice(a, b - a), os.path.join(d, f"part-{i:05d}.csv"),
                        pacsv.WriteOptions(quoting_style="none"))
    _record(manifest, "lineitem_csv", d, li.num_rows)
    for t in ("orders", "customer"):
        tab = _permute(_read(t), rng)
        d = os.path.join(out, f"{t}_parquet")
        os.makedirs(d, exist_ok=True)
        for i, (a, b) in enumerate(_split_points(tab.num_rows, rng.randint(1, 3), rng)):
            _write_parquet(tab.slice(a, b - a), os.path.join(d, f"part-{i:05d}.parquet"))
        _record(manifest, f"{t}_parquet", d, tab.num_rows)


def _html(doc_id, source, text):
    return (f"<html><head><title>doc {doc_id}</title></head><body>"
            f"<div>home about contact {source}</div><p>{text}</p>"
            f"<div>copyright 2024 {source} all rights reserved</div></body></html>")


def gen_stream(out, rng, manifest, arrivals=2000, rounds=2):
    """Crawl-dump arrivals in `rounds` rounds. Ids increase with arrival
    order. Each arrival is one of: a fresh document (two source documents
    joined, so replicas are distinct), a refetch of an earlier URL, or a
    near duplicate of an earlier arrival's text (one word changed)."""
    docs = _read("documents").to_pylist()
    refetch = rng.uniform(0.05, 0.15)
    near = rng.uniform(0.05, 0.15)
    rows = []
    for i in range(arrivals):
        doc_id = 1_000_000 + i
        r = rng.random()
        if rows and r < refetch:
            prev = rows[rng.randrange(len(rows))]
            url, source, text = prev["url"], prev["source"], prev["text"]
        elif rows and r < refetch + near:
            prev = rows[rng.randrange(len(rows))]
            words = prev["text"].split()
            words[rng.randrange(len(words))] = f"w{rng.randrange(10 ** 6)}"
            source, text = prev["source"], " ".join(words)
            url = f"https://{source}.example.com/p/{doc_id}.html"
        else:
            a, b = rng.sample(docs, 2)
            source, text = a["source"], f"{a['text']} {b['text']}"
            url = f"https://{source}.example.com/p/{doc_id}.html"
        rows.append({"doc_id": doc_id, "url": url, "source": source, "text": text})
    # seeded round sizes: each round is its even share, jittered by +-20%
    cuts = [round(arrivals * (k + rng.uniform(-0.2, 0.2)) / rounds)
            for k in range(1, rounds)]
    bounds = list(zip([0] + cuts, cuts + [arrivals]))
    for k, (a, b) in enumerate(bounds):
        d = os.path.join(out, "rounds", f"round_{k}")
        os.makedirs(d, exist_ok=True)
        part = rows[a:b]
        tab = pa.table({
            "doc_id": pa.array([r["doc_id"] for r in part], pa.int64()),
            "url": pa.array([r["url"] for r in part], pa.string()),
            "html": pa.array([_html(r["doc_id"], r["source"], r["text"]) for r in part],
                             pa.string())})
        _write_parquet(tab, os.path.join(d, f"arrivals-{k:03d}.parquet"))
        _record(manifest, f"round_{k}", d, tab.num_rows)
    return {"refetch_share": refetch, "near_dup_share": near}


def gen_batch(out, rng, manifest):
    """The copy job's inputs and the query tables side by side."""
    gen_etl(out, rng, manifest)
    gen_sf(out, rng, manifest)


GENERATORS = {"sf": gen_sf, "etl": gen_etl, "batch": gen_batch, "stream": gen_stream}


def generate(kind, seed, out, **opts):
    """Write inputs of `kind` for `seed` under `out`; return the manifest.
    A directory already holding a manifest for the same request is reused."""
    request = {"kind": kind, "seed": seed, "opts": opts}
    mpath = os.path.join(out, "manifest.json")
    if os.path.exists(mpath):
        m = json.load(open(mpath))
        if m.get("request") == request:
            return m
    os.makedirs(out, exist_ok=True)
    inputs = {}
    shares = GENERATORS[kind](out, random.Random(f"{kind}:{seed}"), inputs, **opts)
    manifest = {"request": request, "inputs": inputs, "shares": shares}
    with open(mpath + ".tmp", "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    os.replace(mpath + ".tmp", mpath)
    return manifest
