"""Output checks that run outside the program, in DuckDB.

- copy outputs: an order-free fingerprint (count, xor and sum of row hashes
  over the values cast to text) must equal the source's;
- graftQuery outputs: the rows must equal the query's DuckDB oracle (plus the
  task's SQL transform) on the same inputs, as a multiset, with floats
  rounded to 9 significant digits (6 for text outputs, which print floats);
- stream outputs: kept doc ids are unique, a subset of the arrivals, and
  equal to the batch twin of the chain.

Each check returns None when it passes, else a one-line reason.
"""
import datetime
import decimal
import glob
import hashlib
import math
import os

import duckdb
import pyarrow.parquet as pq


def connect():
    return duckdb.connect(config={"threads": 2})


def _q(name):
    return '"' + name.replace('"', '""') + '"'


def fingerprint(con, relation, columns):
    """(count, xor, sum) of per-row hashes of the columns cast to text."""
    row = " || chr(1) || ".join(
        f"coalesce(CAST({_q(c)} AS VARCHAR), chr(0))" for c in columns)
    return con.sql(
        f"SELECT count(*), bit_xor(h), sum(h::HUGEINT) FROM "
        f"(SELECT hash({row}) AS h FROM {relation})").fetchone()


def parquet_rel(path):
    return (f"read_parquet('{path}/**/*.parquet', hive_partitioning = true, "
            f"union_by_name = true)")


def check_copy(con, src_rel, dst_rel, columns, casts=None):
    """Fingerprint `columns` of both relations. `casts` maps a column to
    the SQL type both sides are cast to before hashing (for text outputs
    whose values must be parsed back to the source type)."""
    casts = casts or {}

    def typed(rel):
        sel = ", ".join(
            f"CAST({_q(c)} AS {casts[c]}) AS {_q(c)}" if c in casts else _q(c)
            for c in columns)
        return f"(SELECT {sel} FROM {rel})"
    a = fingerprint(con, typed(src_rel), columns)
    b = fingerprint(con, typed(dst_rel), columns)
    if a != b:
        return f"fingerprint mismatch: source {a} != output {b}"
    if not a[0]:
        return "empty output"
    return None


# ---- oracle comparison -----------------------------------------------------

def _norm(v, digits):
    """Comparable form of one value; floats are rounded to `digits`
    significant digits."""
    if v is None:
        return None
    if isinstance(v, bool):
        return ("b", v)
    if isinstance(v, float):
        if math.isnan(v):
            return ("f", "nan")
        return ("f", float(f"{v:.{digits}g}"))
    if isinstance(v, decimal.Decimal):
        return ("f", float(f"{float(v):.{digits}g}"))
    if isinstance(v, int):
        return ("f", float(f"{v:.{digits}g}")) if abs(v) > 2 ** 53 else ("i", v)
    if isinstance(v, (datetime.datetime, datetime.date)):
        return ("t", v.isoformat())
    if isinstance(v, bytes):
        return ("s", v.hex())
    if isinstance(v, (list, tuple)):
        return ("l", tuple(_norm(x, digits) for x in v))
    if isinstance(v, dict):
        return ("d", tuple(sorted((k, _norm(x, digits)) for k, x in v.items())))
    return ("s", str(v))


def _parse_text(v, like):
    """Parse a CSV cell back to the type of the oracle's value `like`."""
    if v is None or v == "":
        return None
    if isinstance(like, bool):
        return v.lower() == "true"
    if isinstance(like, (int, float, decimal.Decimal)) and not isinstance(like, bool):
        return float(v) if isinstance(like, float) or "." in v or "e" in v.lower() \
            else int(v)
    if isinstance(like, datetime.datetime):
        s = v.rstrip("Z").replace("T", " ")
        return datetime.datetime.fromisoformat(s)
    if isinstance(like, datetime.date):
        return datetime.date.fromisoformat(v[:10])
    return v


def _rows(columns, data, digits):
    """Rows with columns in name order, normalized, in a canonical order."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted((tuple(_norm(r[i], digits) for i in order) for r in data), key=repr)


def expected_rows(con, sf_dir, sql, transform):
    for p in glob.glob(os.path.join(sf_dir, "*.parquet")):
        t = os.path.basename(p)[:-len(".parquet")]
        con.sql(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    if transform:
        sql = f"WITH _input AS ({sql}) {transform}"
    rel = con.sql(sql)
    return rel.columns, rel.fetchall()


def check_query(con, expected, out_path, text):
    """Compare an output directory against (columns, rows) from the oracle."""
    ecols, erows = expected
    if text:
        files = sorted(glob.glob(f"{out_path}/**/*.csv*", recursive=True))
        if not files:
            return "no output files"
        rel = con.sql(f"SELECT * FROM read_csv({files!r}, header = true, "
                      f"all_varchar = true, delim = ',')")
        acols, raw = rel.columns, rel.fetchall()
        if sorted(acols) != sorted(ecols):
            return f"columns {sorted(acols)} != oracle {sorted(ecols)}"
        like = {}
        for r in erows:
            for c, v in zip(ecols, r):
                if v is not None and c not in like:
                    like[c] = v
        arows = [tuple(_parse_text(v, like.get(c)) for c, v in zip(acols, r)) for r in raw]
        digits = 6
    else:
        files = sorted(glob.glob(f"{out_path}/**/*.parquet", recursive=True))
        if not files:
            return "no output files"
        table = pq.ParquetDataset(out_path).read()
        acols = table.column_names
        if sorted(acols) != sorted(ecols):
            return f"columns {sorted(acols)} != oracle {sorted(ecols)}"
        arows = list(zip(*(table.column(c).to_pylist() for c in acols))) \
            if table.num_rows else []
        digits = 9
    a = _rows(acols, arows, digits)
    e = _rows(list(ecols), erows, digits)
    if len(a) != len(e):
        return f"{len(a)} rows != oracle {len(e)}"
    if a != e:
        bad = next(i for i, (x, y) in enumerate(zip(a, e)) if x != y)
        return f"row {bad} differs: {a[bad]!r} != {e[bad]!r}"
    return None


def content_key(paths, *texts):
    """Hash of the input files' bytes plus the query texts: the cache key
    of an oracle result."""
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(os.path.basename(p).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    for t in texts:
        h.update((t or "").encode())
    return h.hexdigest()


# ---- stream checks ---------------------------------------------------------

def check_stream(con, out_path, arrivals_rel, twin_ids):
    files = glob.glob(f"{out_path}/*.parquet")
    if not files:
        return "no stream output"
    kept = [r[0] for r in con.sql(
        f"SELECT doc_id FROM read_parquet({sorted(files)!r})").fetchall()]
    if len(kept) != len(set(kept)):
        return f"{len(kept) - len(set(kept))} duplicate kept doc_ids"
    arrived = {r[0] for r in con.sql(f"SELECT doc_id FROM {arrivals_rel}").fetchall()}
    stray = set(kept) - arrived
    if stray:
        return f"{len(stray)} kept doc_ids never arrived"
    if set(kept) != set(twin_ids):
        return (f"kept set != batch twin: {len(set(kept) - set(twin_ids))} stream-only, "
                f"{len(set(twin_ids) - set(kept))} twin-only")
    return None
