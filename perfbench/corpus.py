"""Seeded corpus for the benchmark: TPC-H-shaped tables, nested order dumps,
a text corpus to curate, and the expected result of every request.

Run once per seed, in its own process, before anything is timed:

    python3 perfbench/corpus.py --seed 7 --out perfbench/.work/corpus/7

It writes

- ``customer.parquet``, ``orders.parquet``, ``lineitem.parquet``: the flat
  collections the ``export`` workload queries;
- ``orders.bson`` (mongodump shape: concatenated BSON documents) and
  ``orders.jsonl`` (mongoexport shape: one Extended JSON v2 document a
  line): both hold the same ``DUMP_DOCS`` order documents with their
  lineitems embedded as a ``lines`` array, the ``documents`` workload's
  read inputs;
- ``docs.parquet``: the generator's own pyarrow copy of the first
  ``WRITE_DOCS`` of those documents, the ``documents`` workload's write
  input;
- ``texts.parquet`` and ``holdout.parquet``: ``N_TEXTS`` short text
  documents (with exact and near duplicates, quality-gate failures and PII)
  and a holdout slice, half of it copied from the corpus, for ``curate``;
- ``corpus.json``: rows, bytes and ``bytes_per_doc`` of every file, the
  seeded parameter points each op type draws from, and the expected result
  of every point. DuckDB and this module's own BSON reader and writer make
  the expectations, so the program is never checked against itself, and the
  client that is measured holds no oracle.
"""

from __future__ import annotations

import argparse
import datetime as dt
import hashlib
import json
import multiprocessing
import os
import struct
from concurrent.futures import ProcessPoolExecutor

N_CUSTOMERS = 7_500
N_ORDERS = 75_000
DUMP_DOCS = 20_000
#: the first WRITE_DOCS of them are the write input
WRITE_DOCS = 5_000
N_TEXTS = 3_000
N_HOLDOUT = 60
#: shingles in more documents than this are left out of decontamination
MAX_DF = 100
#: seeded parameter values per op type; each has its expected result
BAND_POINTS = 16

EPOCH = dt.datetime(1970, 1, 1)
_DAY0 = (dt.date(1992, 1, 1) - dt.date(1970, 1, 1)).days
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
SHIPMODES = ["AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK"]


# ------------------------------------------------------------------ tables


def make_tables(seed: int):
    """customer, orders, lineitem as pyarrow tables, fully determined by seed."""
    import numpy as np
    import pyarrow as pa

    n_orders, n_customers = N_ORDERS, N_CUSTOMERS
    rng = np.random.default_rng(seed)
    custkey = np.arange(1, n_customers + 1, dtype=np.int64)
    customer = pa.table(
        {
            "c_custkey": custkey,
            "c_name": [f"Customer#{k:09d}" for k in custkey],
            "c_nationkey": rng.integers(0, 25, n_customers, dtype=np.int64),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_customers), 2),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_customers)],
        }
    )

    orderkey = np.arange(1, n_orders + 1, dtype=np.int64)
    orderdate = _DAY0 + rng.integers(0, 2400, n_orders)
    nlines = rng.integers(1, 8, n_orders)
    l_orderkey = np.repeat(orderkey, nlines)
    n_li = len(l_orderkey)
    starts = np.cumsum(nlines) - nlines
    linenumber = np.arange(n_li) - np.repeat(starts, nlines) + 1
    partkey = rng.integers(1, 20_001, n_li, dtype=np.int64)
    retail = (90_000 + (partkey // 10) % 20_001 + 100 * (partkey % 1_000)) / 100.0
    quantity = rng.integers(1, 51, n_li, dtype=np.int64)
    extprice = np.round(quantity * retail, 2)
    discount = rng.integers(0, 11, n_li) / 100.0
    tax = rng.integers(0, 9, n_li) / 100.0
    shipdate = np.repeat(orderdate, nlines) + rng.integers(1, 122, n_li)
    lineitem = pa.table(
        {
            "l_orderkey": l_orderkey,
            "l_linenumber": linenumber.astype(np.int64),
            "l_partkey": partkey,
            "l_quantity": quantity,
            "l_extendedprice": extprice,
            "l_discount": discount,
            "l_tax": tax,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
            "l_shipdate": pa.array(shipdate.astype(np.int32), pa.date32()),
            "l_shipmode": np.array(SHIPMODES)[rng.integers(0, 7, n_li)],
        }
    )
    charge = extprice * (1 + tax) * (1 - discount)
    totalprice = np.round(np.add.reduceat(charge, starts), 2)
    orders = pa.table(
        {
            "o_orderkey": orderkey,
            "o_custkey": rng.integers(1, n_customers + 1, n_orders, dtype=np.int64),
            "o_orderstatus": np.array(["F", "O", "P"])[
                rng.choice(3, n_orders, p=[0.49, 0.49, 0.02])
            ],
            "o_totalprice": totalprice,
            "o_orderdate": pa.array(orderdate.astype(np.int32), pa.date32()),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_orders)],
            "o_clerk": [f"Clerk#{k:09d}" for k in rng.integers(1, 1001, n_orders)],
        }
    )
    return customer, orders, lineitem


def nested_docs(orders, lineitem, n_docs: int) -> list[dict]:
    """The first ``n_docs`` orders as documents with their lines embedded."""
    import pyarrow.compute as pc

    o = orders.slice(0, n_docs).to_pylist()
    li = lineitem.filter(pc.less_equal(lineitem["l_orderkey"], n_docs)).to_pylist()
    lines: dict[int, list] = {}
    for r in li:
        lines.setdefault(r["l_orderkey"], []).append(
            {
                "l_linenumber": r["l_linenumber"],
                "l_partkey": r["l_partkey"],
                "l_quantity": r["l_quantity"],
                "l_extendedprice": r["l_extendedprice"],
                "l_discount": r["l_discount"],
                "l_shipmode": r["l_shipmode"],
                "l_shipdate": _midnight(r["l_shipdate"]),
            }
        )
    return [
        {
            "_id": r["o_orderkey"],
            "o_custkey": r["o_custkey"],
            "o_orderstatus": r["o_orderstatus"],
            "o_totalprice": r["o_totalprice"],
            "o_orderdate": _midnight(r["o_orderdate"]),
            "o_orderpriority": r["o_orderpriority"],
            "o_clerk": r["o_clerk"],
            "lines": lines[r["o_orderkey"]],
        }
        for r in o
    ]


def _midnight(d: dt.date) -> dt.datetime:
    return dt.datetime(d.year, d.month, d.day)


def make_texts(seed: int):
    """The text corpus and the holdout slice, as (doc_id, text) tables.

    Words are drawn from a seeded 400-word vocabulary with Zipf-like
    weights, so a few shingles are common enough to hit the ``MAX_DF``
    cap. About 5% of the documents copy an earlier one exactly and 5% copy
    one with a tenth of the words changed; 3% carry many ``#`` symbols and
    2% are made of long words, so the quality gate drops them, as it does
    the documents under 20 words; 10% carry an email address, a phone
    number or an IP address. Half the holdout copies a corpus document with
    one word changed, so decontamination has documents to drop.
    """
    import numpy as np
    import pyarrow as pa

    rng = np.random.default_rng([seed, 2])
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    vocab = ["".join(rng.choice(letters, int(rng.integers(2, 9)))) for _ in range(400)]
    weights = 1.0 / np.arange(1, 401) ** 0.8
    weights /= weights.sum()

    def words(n: int) -> list:
        return [vocab[i] for i in rng.choice(400, n, p=weights)]

    def pii() -> str:
        kind = rng.integers(0, 3)
        if kind == 0:
            return f"{vocab[rng.integers(400)]}@{vocab[rng.integers(400)]}.com"
        if kind == 1:
            return f"{rng.integers(200, 999)}-{rng.integers(200, 999)}-{rng.integers(1000, 9999)}"
        return ".".join(str(x) for x in rng.integers(1, 255, 4))

    texts: list[str] = []
    for i in range(N_TEXTS):
        r = rng.random()
        if i and r < 0.05:
            texts.append(texts[rng.integers(0, i)])
            continue
        if i and r < 0.10:
            toks = texts[rng.integers(0, i)].split(" ")
            for j in rng.choice(len(toks), max(1, len(toks) // 10), replace=False):
                toks[j] = vocab[rng.integers(400)]
        else:
            toks = words(int(rng.integers(5, 150)))
            if r < 0.13:
                toks += ["#"] * (len(toks) // 5)
            elif r < 0.15:
                toks = ["".join(rng.choice(letters, 12)) for _ in toks]
        if rng.random() < 0.10:
            toks.insert(int(rng.integers(0, len(toks) + 1)), pii())
        texts.append(" ".join(toks))

    long_docs = [t for t in texts if len(t.split(" ")) >= 40]
    holdout = []
    for k in range(N_HOLDOUT):
        if k % 2:
            holdout.append(" ".join(words(int(rng.integers(30, 100)))))
        else:
            toks = long_docs[rng.integers(0, len(long_docs))].split(" ")
            toks[rng.integers(0, len(toks))] = vocab[rng.integers(400)]
            holdout.append(" ".join(toks))
    table = pa.table({"doc_id": np.arange(N_TEXTS, dtype=np.int64), "text": texts})
    hold = pa.table({"doc_id": np.arange(N_HOLDOUT, dtype=np.int64) + 1_000_000,
                     "text": holdout})
    return table, hold


# ------------------------------------------------------------ BSON (checker)


def bson_encode(doc: dict) -> bytes:
    """The generator's BSON writer: int32/int64, double, string, UTC
    datetime, embedded document and array — all the dump holds."""
    body = b"".join(_bson_elem(str(k).encode() + b"\x00", v) for k, v in doc.items())
    return struct.pack("<i", len(body) + 5) + body + b"\x00"


def _bson_elem(key: bytes, v) -> bytes:
    if isinstance(v, float):
        return b"\x01" + key + struct.pack("<d", v)
    if isinstance(v, str):
        raw = v.encode()
        return b"\x02" + key + struct.pack("<i", len(raw) + 1) + raw + b"\x00"
    if isinstance(v, dict):
        return b"\x03" + key + bson_encode(v)
    if isinstance(v, list):
        return b"\x04" + key + bson_encode({str(i): x for i, x in enumerate(v)})
    if isinstance(v, dt.datetime):
        ms = (v - EPOCH) // dt.timedelta(milliseconds=1)
        return b"\x09" + key + struct.pack("<q", ms)
    if isinstance(v, int):
        if -(2**31) <= v < 2**31:
            return b"\x10" + key + struct.pack("<i", v)
        return b"\x12" + key + struct.pack("<q", v)
    if v is None:
        return b"\x0a" + key
    raise TypeError(f"unsupported BSON value {type(v).__name__}")


def bson_file_docs(path: str):
    """The documents of a concatenated BSON file (mongodump layout), one at
    a time, so a check holds one document, not the file."""
    with open(path, "rb") as fh:
        while head := fh.read(4):
            (size,) = struct.unpack("<i", head)
            yield _bson_doc(head + fh.read(size - 4), 0)[0]


def _bson_doc(data: bytes, pos: int) -> tuple[dict, int]:
    (size,) = struct.unpack_from("<i", data, pos)
    end, p, doc = pos + size, pos + 4, {}
    while data[p] != 0:
        etype = data[p]
        z = data.index(b"\x00", p + 1)
        key = data[p + 1 : z].decode()
        p = z + 1
        if etype == 0x01:
            (doc[key],) = struct.unpack_from("<d", data, p)
            p += 8
        elif etype == 0x02:
            (n,) = struct.unpack_from("<i", data, p)
            doc[key] = data[p + 4 : p + 3 + n].decode()
            p += 4 + n
        elif etype in (0x03, 0x04):
            sub, p = _bson_doc(data, p)
            doc[key] = list(sub.values()) if etype == 0x04 else sub
        elif etype == 0x09:
            (ms,) = struct.unpack_from("<q", data, p)
            doc[key] = EPOCH + dt.timedelta(milliseconds=ms)
            p += 8
        elif etype == 0x10:
            (doc[key],) = struct.unpack_from("<i", data, p)
            p += 4
        elif etype == 0x12:
            (doc[key],) = struct.unpack_from("<q", data, p)
            p += 8
        elif etype == 0x0A:
            doc[key] = None
        else:
            raise ValueError(f"unexpected BSON element type {etype:#x}")
    return doc, end


def _ext_json(v):
    """mongoexport's relaxed Extended JSON v2 for the dump's value types."""
    if isinstance(v, dt.datetime):
        return {"$date": v.strftime("%Y-%m-%dT%H:%M:%S.000Z")}
    if isinstance(v, dict):
        return {k: _ext_json(x) for k, x in v.items()}
    if isinstance(v, list):
        return [_ext_json(x) for x in v]
    return v


# ----------------------------------------------------------------- digests

#: Fields of an order document's digest (all integer sums, so the digest
#: is independent of document order and of how a writer split its files).
DOC_DIGEST_KEYS = (
    "n", "id_sum", "id_sq", "price_cents", "date_days", "status_f",
    "prio_len", "n_lines", "qty", "ext_cents", "ship_days", "mode_len",
)


def _days(v) -> int:
    if isinstance(v, str):  # Spark's to_json timestamp text
        v = dt.datetime.fromisoformat(v.replace("Z", ""))
    if isinstance(v, dict):  # {"$date": ...}
        return _days(v["$date"])
    return (v.replace(tzinfo=None) - EPOCH).days


def doc_vector(doc: dict) -> list:
    """One order document's share of the digest, in ``DOC_DIGEST_KEYS`` order."""
    k = int(doc["_id"])
    lines = doc["lines"]
    return [
        1, k, k * k,
        round(doc["o_totalprice"] * 100),
        _days(doc["o_orderdate"]),
        int(doc["o_orderstatus"] == "F"),
        len(doc["o_orderpriority"]),
        len(lines),
        sum(int(ln["l_quantity"]) for ln in lines),
        sum(round(ln["l_extendedprice"] * 100) for ln in lines),
        sum(_days(ln["l_shipdate"]) for ln in lines),
        sum(len(ln["l_shipmode"]) for ln in lines),
    ]


def doc_digest(docs) -> list:
    """Digest of order documents given as Python dicts, one at a time."""
    total = [0] * len(DOC_DIGEST_KEYS)
    for doc in docs:
        total = [a + b for a, b in zip(total, doc_vector(doc))]
    return total


def table_docs(table, rows: int = 2048):
    """An Arrow table's rows as dicts, a batch at a time."""
    for batch in table.to_batches(max_chunksize=rows):
        yield from batch.to_pylist()


def rows_digest(rows) -> dict:
    """Digest of (doc_id, split, fingerprint) rows in any order."""
    lines = sorted(f"{int(i)}\t{s}\t{fp}" for i, s, fp in rows)
    return {"rows": len(lines),
            "sha1": hashlib.sha1("\n".join(lines).encode()).hexdigest()}


# ----------------------------------------------------------- expectations

FIND_SQL = """
SELECT count(*), sum(l_orderkey), sum(CAST(round(l_extendedprice * 100) AS BIGINT)),
       sum(l_quantity), sum(length(l_shipmode))
FROM lineitem WHERE l_extendedprice >= ?
"""
GROUP_SQL = """
SELECT l_shipmode, count(*), sum(l_quantity), sum(l_extendedprice), avg(l_discount)
FROM lineitem WHERE l_quantity <= ? GROUP BY l_shipmode ORDER BY l_shipmode
"""
GROUP_QTY = (24, 25, 26)
RANK_CUT = 200
PIPELINE_SQL = """
SELECT c_mktsegment, count(*), sum(o_totalprice) FROM (
  SELECT c_mktsegment, o_totalprice,
         rank() OVER (PARTITION BY c_mktsegment ORDER BY o_totalprice DESC) AS rk
  FROM orders JOIN customer ON o_custkey = c_custkey
  WHERE o_totalprice >= ? AND o_totalprice < ?)
WHERE rk <= ? GROUP BY c_mktsegment ORDER BY c_mktsegment
"""
# curate without its fuzzy stage: Gopher quality gate, exact dedup (min id
# per payload), decontamination against the holdout on word-trigram
# Jaccard with shingles over MAX_DF documents left out, PII redaction and
# the md5 split.
_TOKS = "string_split(text, ' ')"
_GRAMS = (f"list_distinct(list_transform(range(1, greatest(len({_TOKS}) - 1, 2)), "
          f"i -> array_to_string({_TOKS}[i:i+2], ' ')))")
CURATE_SQL = f"""
WITH
gate AS (
  SELECT doc_id, text FROM (
    SELECT doc_id, text, len({_TOKS}) AS n_tok,
           (length(text) - len({_TOKS}) + 1) * 1.0 / len({_TOKS}) AS mwl,
           length(regexp_replace(text, '[^#…]', '', 'g')) * 1.0 / len({_TOKS}) AS swr
    FROM texts)
  WHERE n_tok BETWEEN 20 AND 100000 AND mwl BETWEEN 2.0 AND 10.0 AND swr <= 0.1
),
keep_exact AS (SELECT MIN(doc_id) AS doc_id FROM gate GROUP BY md5(text)),
e AS (SELECT gate.* FROM gate JOIN keep_exact USING (doc_id)),
esh AS (SELECT doc_id, unnest({_GRAMS}) AS s FROM e),
hsh AS (SELECT doc_id, unnest({_GRAMS}) AS s FROM holdout),
esz AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz FROM esh GROUP BY doc_id),
hsz AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz FROM hsh GROUP BY doc_id),
hot AS (SELECT s FROM (SELECT * FROM esh UNION ALL SELECT * FROM hsh)
        GROUP BY s HAVING COUNT(*) > {MAX_DF}),
eposts AS (SELECT * FROM esh ANTI JOIN hot USING (s)),
hposts AS (SELECT * FROM hsh ANTI JOIN hot USING (s)),
inter AS (
  SELECT a.doc_id AS id_l, b.doc_id AS id_r, CAST(COUNT(*) AS BIGINT) AS i
  FROM eposts a JOIN hposts b ON a.s = b.s GROUP BY 1, 2
),
contaminated AS (
  SELECT DISTINCT id_l AS doc_id
  FROM inter JOIN esz ON id_l = esz.doc_id JOIN hsz ON id_r = hsz.doc_id
  WHERE i * 1.0 / (esz.sz + hsz.sz - i) >= 0.8
),
d AS (SELECT e.* FROM e ANTI JOIN contaminated USING (doc_id)),
final AS (
  SELECT doc_id,
    regexp_replace(regexp_replace(regexp_replace(text,
      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}', '[PII]', 'g'),
      '\\b[0-9]{{1,3}}\\.[0-9]{{1,3}}\\.[0-9]{{1,3}}\\.[0-9]{{1,3}}\\b', '[PII]', 'g'),
      '\\b[0-9]{{3}}[-. ][0-9]{{3}}[-. ][0-9]{{4}}\\b', '[PII]', 'g') AS text
  FROM d
)
SELECT doc_id,
       CASE WHEN substring(md5('split' || CAST(doc_id AS VARCHAR)), 1, 4)
                 < '{int(0.8 * 65536):04x}' THEN 'train'
            WHEN substring(md5('split' || CAST(doc_id AS VARCHAR)), 1, 4)
                 < '{int(0.9 * 65536):04x}' THEN 'val'
            ELSE 'test' END AS split,
       md5(text) AS fp
FROM final
"""


def _points(sorted_vals, lo: float, hi: float) -> list:
    """``BAND_POINTS`` values at the quantiles spread over [lo, hi]."""
    n = len(sorted_vals) - 1
    return [float(sorted_vals[round((lo + (hi - lo) * k / (BAND_POINTS - 1)) * n)])
            for k in range(BAND_POINTS)]


def doc_expectations(docs: list) -> dict:
    """Expected digests of the seeded reads and of every write."""
    import numpy as np

    prices = np.array([d["o_totalprice"] for d in docs])
    vectors = np.array([doc_vector(d) for d in docs], dtype=np.int64)
    read = [[t, [int(x) for x in vectors[prices >= t].sum(axis=0)]]
            for t in _points(np.sort(prices), 0.90, 0.91)]
    return {"read": read, "write": doc_digest(docs[:WRITE_DOCS])}


def sql_expectations(out: str) -> dict:
    """Expected results of the seeded export requests and of curate, from
    DuckDB over the corpus's parquet files."""
    import duckdb
    import numpy as np

    db = duckdb.connect()
    for name in ("customer", "orders", "lineitem", "texts", "holdout"):
        db.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                   f"read_parquet('{os.path.join(out, name + '.parquet')}')")
    ext = np.sort(db.execute("SELECT l_extendedprice FROM lineitem").fetchnumpy()
                  ["l_extendedprice"])
    find = [[t, [int(v) for v in db.execute(FIND_SQL, [t]).fetchone()]]
            for t in _points(ext, 0.80, 0.81)]
    group = {str(q): [list(r) for r in db.execute(GROUP_SQL, [q]).fetchall()]
             for q in GROUP_QTY}
    tot = np.sort(db.execute("SELECT o_totalprice FROM orders").fetchnumpy()["o_totalprice"])
    pipeline = []
    for lo in _points(tot, 0.40, 0.41):
        hi = float(tot[min(len(tot) - 1, np.searchsorted(tot, lo) + len(tot) // 5)])
        rows = db.execute(PIPELINE_SQL, [lo, hi, RANK_CUT]).fetchall()
        pipeline.append([lo, hi, [list(r) for r in rows]])
    curate = rows_digest(db.execute(CURATE_SQL).fetchall())
    db.close()
    return {"find": find, "group": group, "pipeline": pipeline, "curate": curate}


# ------------------------------------------------------------------- main


def generate(seed: int, out: str) -> dict:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out, exist_ok=True)
    customer, orders, lineitem = make_tables(seed)
    texts, holdout = make_texts(seed)
    files = {}
    for name, t in (("customer", customer), ("orders", orders), ("lineitem", lineitem),
                    ("texts", texts), ("holdout", holdout)):
        path = os.path.join(out, f"{name}.parquet")
        pq.write_table(t, path)
        files[name] = {"rows": t.num_rows, "bytes": os.path.getsize(path)}

    # another process computes the DuckDB expectations while this one
    # builds the dumps
    with ProcessPoolExecutor(1, mp_context=multiprocessing.get_context("spawn")) as pool:
        sql = pool.submit(sql_expectations, out)
        docs = nested_docs(orders, lineitem, DUMP_DOCS)
        with open(os.path.join(out, "orders.bson"), "wb") as fh:
            for doc in docs:
                fh.write(bson_encode(doc))
        with open(os.path.join(out, "orders.jsonl"), "w") as fh:
            for doc in docs:
                fh.write(json.dumps(_ext_json(doc), separators=(",", ":")) + "\n")
        pq.write_table(pa.Table.from_pylist(docs[:WRITE_DOCS]),
                       os.path.join(out, "docs.parquet"))
        expect = {**doc_expectations(docs), **sql.result()}
    for name, rows in (("orders.bson", len(docs)), ("orders.jsonl", len(docs)),
                       ("docs.parquet", WRITE_DOCS)):
        size = os.path.getsize(os.path.join(out, name))
        files[name] = {"rows": rows, "bytes": size, "bytes_per_doc": size / rows}
    meta = {"seed": seed, "files": files, "expect": expect}
    # corpus.json is written last: its presence marks a complete corpus
    tmp = os.path.join(out, "corpus.json.tmp")
    with open(tmp, "w") as fh:
        json.dump(meta, fh, indent=1)
    os.replace(tmp, os.path.join(out, "corpus.json"))
    return meta


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    generate(args.seed, args.out)


if __name__ == "__main__":
    main()
