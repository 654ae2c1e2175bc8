"""The benchmark's workloads: one client, closed loop, every output checked.

A workload opens its collections (part of set-up), may prepare untimed
state, and serves requests of a few op types. ``request`` returns the
number of documents it returned, wrote or curated and a ``check`` callable;
the caller times the request alone and runs the check off the clock.

Each op type draws its seeded parameter from a few points that the corpus
generator fixed, and the check compares the result with the expectation
the generator stored for that point. So the client runs no oracle, and
its peak RSS is the program's.
"""

from __future__ import annotations

import json
import os
import shutil

import corpus


class Workload:
    name = ""
    ops: tuple = ()
    #: untimed request cycles (every op type) before the timed loop
    warmup_cycles = 1

    def __init__(self, corpus_dir: str, work_dir: str, rng, tracer):
        self.dir = corpus_dir
        self.work = work_dir
        self.rng = rng
        self.trace = tracer
        with open(os.path.join(corpus_dir, "corpus.json")) as fh:
            self.meta = json.load(fh)
        self.expect = self.meta["expect"]
        #: ``bytes_per_doc`` = bytes / byte_docs, summed over timed requests
        self.bytes = self.byte_docs = 0

    def open(self, spark) -> None:  # pragma: no cover - abstract
        raise NotImplementedError

    def prepare(self) -> None:
        """Untimed state built after set-up (default: none)."""

    def request(self, op: str):  # pragma: no cover - abstract
        raise NotImplementedError


# --------------------------------------------------------------- documents


def curate_request(texts, holdout):
    """The ``curate`` request: the curation pipeline without its fuzzy
    stage (see README.md), as (doc_id, split, md5 of the text) rows."""
    from pyspark.sql import functions as F

    from mongo_arrow_spark.operators.curate import curate

    out = curate(texts, holdout, min_tokens=20, jaccard_threshold=None,
                 max_df=corpus.MAX_DF, decontaminate_threshold=0.8, train=0.8, val=0.1)
    return out.select("doc_id", "split", F.md5("text").alias("fp"))


class Documents(Workload):
    """Documents in and out, and curated.

    ``read.*``: load an order dump through the ``documents`` source with
    schema inference, apply a seeded ``find`` and materialize the result to
    Arrow. ``write.*``: write the same orders, cached in memory, through
    ``api.write(format="documents")``; the check re-reads every output
    file. ``curate``: the curation pipeline over a text corpus and its
    holdout slice."""

    name = "documents"
    ops = ("read.bson", "read.jsonl", "write.jsonl", "write.bson", "curate")

    def open(self, spark):
        self.spark = spark
        for fmt in ("bson", "jsonl"):
            with self.trace.span("sources.load"):
                spark.read.format("documents").load(self._path(fmt))
        self.texts = spark.read.parquet(os.path.join(self.dir, "texts.parquet"))
        self.holdout = spark.read.parquet(os.path.join(self.dir, "holdout.parquet"))
        self.n = 0

    def prepare(self):
        # the write input: the same orders from the generator's parquet copy
        # (one file, so one partition, as one dump file is one split)
        self.df = self.spark.read.parquet(os.path.join(self.dir, "docs.parquet")).cache()
        self.df.count()
        self.texts, self.holdout = self.texts.cache(), self.holdout.cache()
        self.texts.count(), self.holdout.count()

    def _path(self, fmt: str) -> str:
        return os.path.join(self.dir, f"orders.{fmt}")

    def request(self, op):
        if op == "curate":
            return self._curate()
        kind, fmt = op.split(".")
        return self._read(fmt) if kind == "read" else self._write(fmt)

    def _read(self, fmt):
        import mongo_arrow_spark as mas

        t, want = self.rng.choice(self.expect["read"])
        with self.trace.span("sources.load"):
            df = self.spark.read.format("documents").load(self._path(fmt))
        with self.trace.span("api.find_arrow_all"):
            table = mas.find_arrow_all(df, {"o_totalprice": {"$gte": t}})
        return (self.meta["files"][f"orders.{fmt}"]["rows"],
                lambda: corpus.doc_digest(corpus.table_docs(table)) == want)

    def _write(self, fmt):
        import mongo_arrow_spark as mas

        self.n += 1
        out = os.path.join(self.work, "out", f"{fmt}-{self.n}")
        with self.trace.span("api.write"):
            res = mas.write(self.df, out, format="documents", mode="overwrite",
                            fileFormat=fmt)
        files = [os.path.join(out, f) for f in os.listdir(out) if f.startswith("part-")]
        self.bytes += sum(os.path.getsize(f) for f in files)
        self.byte_docs += res.inserted_count

        def reread():
            for f in files:
                if fmt == "bson":
                    yield from corpus.bson_file_docs(f)
                else:
                    with open(f, encoding="utf-8") as fh:
                        yield from (json.loads(x) for x in fh if x.strip())

        def check():
            try:
                got = corpus.doc_digest(reread())
                return got == self.expect["write"] and got[0] == res.inserted_count
            finally:
                shutil.rmtree(out, ignore_errors=True)

        return res.inserted_count, check

    def _curate(self):
        with self.trace.span("operators.curate"):
            table = curate_request(self.texts, self.holdout).toArrow()

        def check():
            rows = zip(*(table[c].to_pylist() for c in ("doc_id", "split", "fp")))
            return corpus.rows_digest(rows) == self.expect["curate"]

        return self.meta["files"]["texts"]["rows"], check


# ------------------------------------------------------------------ export

FIND_PROJECTION = {
    "_id": 0, "l_orderkey": 1, "l_partkey": 1, "l_quantity": 1,
    "l_extendedprice": 1, "l_shipmode": 1,
}


def group_pipeline(max_qty: int) -> list:
    return [
        {"$match": {"l_quantity": {"$lte": max_qty}}},
        {"$group": {"_id": "$l_shipmode", "n": {"$sum": 1},
                    "qty": {"$sum": "$l_quantity"},
                    "revenue": {"$sum": "$l_extendedprice"},
                    "disc": {"$avg": "$l_discount"}}},
        {"$sort": {"_id": 1}},
    ]


def rank_pipeline(lo: float, hi: float) -> list:
    return [
        {"$match": {"o_totalprice": {"$gte": lo, "$lt": hi}}},
        {"$lookup": {"from": "customer", "localField": "o_custkey",
                     "foreignField": "c_custkey", "as": "cust"}},
        {"$unwind": "$cust"},
        {"$setWindowFields": {
            "partitionBy": "$cust.c_mktsegment",
            "sortBy": {"o_totalprice": -1},
            "output": {"rank": {"$rank": {}}},
        }},
        {"$match": {"rank": {"$lte": corpus.RANK_CUT}}},
        {"$group": {"_id": "$cust.c_mktsegment", "n": {"$sum": 1},
                    "revenue": {"$sum": "$o_totalprice"}}},
        {"$sort": {"_id": 1}},
    ]


def _rows_match(got: list, want: list) -> bool:
    """Aggregate rows equal: keys and counts exactly, sums to 1e-9."""
    if len(got) != len(want):
        return False
    for g, w in zip(got, want):
        for a, b in zip(g, w):
            if isinstance(b, float):
                if abs(a - b) > 1e-9 * max(1.0, abs(b)):
                    return False
            elif a != b:
                return False
    return True


def _find_digest(frame) -> list:
    """Count and column sums of a ``find`` result given as a pandas frame."""
    return [
        len(frame),
        int(frame["l_orderkey"].sum()),
        int((frame["l_extendedprice"] * 100).round().astype("int64").sum()),
        int(frame["l_quantity"].sum()),
        int(frame["l_shipmode"].str.len().sum()),
    ]


class Export(Workload):
    """Seeded MQL requests over parquet-backed collections, exported to
    Arrow (``find_arrow_all``), pandas (``find_pandas_all``), NumPy
    (``find_numpy_all``) or as an aggregation (``aggregate_arrow_all``)."""

    name = "export"
    ops = ("arrow", "pandas", "numpy", "group", "pipeline")
    # the aggregations keep speeding up (JIT) over the first requests
    warmup_cycles = 3

    def open(self, spark):
        import mongo_arrow_spark as mas
        from mongo_arrow_spark.session import load_tables

        with self.trace.span("session.load_tables"):
            tables = load_tables(spark, self.dir)
        self.lineitem = mas.Collection(tables["lineitem"], "lineitem", collections=tables)
        self.orders = mas.Collection(tables["orders"], "orders", collections=tables)

    def _aggregate(self, coll, pipeline, want, fields):
        with self.trace.span("api.aggregate_arrow_all"):
            table = coll.aggregate_arrow_all(pipeline)
        self.bytes += table.nbytes
        self.byte_docs += table.num_rows

        def check():
            got = [[r[f] for f in fields] for r in table.to_pylist()]
            return _rows_match(got, want)

        return table.num_rows, check

    def request(self, op):
        if op == "pipeline":
            lo, hi, want = self.rng.choice(self.expect["pipeline"])
            return self._aggregate(self.orders, rank_pipeline(lo, hi), want,
                                   ("_id", "n", "revenue"))
        if op == "group":
            qty = self.rng.choice(corpus.GROUP_QTY)
            return self._aggregate(self.lineitem, group_pipeline(qty),
                                   self.expect["group"][str(qty)],
                                   ("_id", "n", "qty", "revenue", "disc"))

        import pandas as pd

        t, want = self.rng.choice(self.expect["find"])
        query = {"l_extendedprice": {"$gte": t}}
        with self.trace.span(f"api.find_{op}_all"):
            result = getattr(self.lineitem, f"find_{op}_all")(
                query, projection=FIND_PROJECTION)
        if op == "arrow":
            self.bytes += result.nbytes
            self.byte_docs += result.num_rows

        def check():
            if op == "arrow":
                frame = result.to_pandas()
            elif op == "numpy":
                frame = pd.DataFrame(result)
            else:
                frame = result
            return _find_digest(frame) == want

        return len(result["l_orderkey"]), check


WORKLOADS = {w.name: w for w in (Documents, Export)}
