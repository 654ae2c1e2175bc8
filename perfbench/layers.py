"""Tracing and per-layer probes for the traced run (``--trace 1``).

Spans are recorded from the benchmark's own files around its calls into
the package's layers; the program itself is not instrumented. Each span is
(name, start, end, parent index, request id), kept in memory and written
as JSON lines when the run ends.

The probes call each layer's public entry points in-process on the run's
corpus — the same inputs on every workload — so a layer's rate can be set
beside the end-to-end figure it should move (see README.md).
"""

from __future__ import annotations

import io
import itertools
import json
import os
import shutil
import statistics
import time

PROBE_REPEATS = 3
#: repeats of the probes that send a whole Spark read request (seconds each)
READ_REPEATS = 2
#: in-process decode probes read this many reader batches of the first split
DECODE_BATCHES = 2
#: documents the bson_codec probes run on
PROBE_DOCS = 5_000


class _Span:
    __slots__ = ("tracer", "name", "idx")

    def __init__(self, tracer, name):
        self.tracer, self.name = tracer, name

    def __enter__(self):
        tr = self.tracer
        self.idx = len(tr.spans)
        tr.spans.append(None)
        tr.stack.append(self.idx)
        tr.starts.append(time.perf_counter())

    def __exit__(self, *exc):
        tr = self.tracer
        end = time.perf_counter()
        tr.stack.pop()
        parent = tr.stack[-1] if tr.stack else None
        tr.spans[self.idx] = (self.name, tr.starts.pop(), end, parent, tr.request)


class _NoSpan:
    def __enter__(self):
        return None

    def __exit__(self, *exc):
        return False


_NO_SPAN = _NoSpan()


class Tracer:
    """Span recorder; with ``enabled=False`` every span is a shared no-op."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list = []
        self.stack: list = []
        self.starts: list = []
        self.request = None

    def span(self, name: str):
        return _Span(self, name) if self.enabled else _NO_SPAN

    def cost_per_span_s(self, n: int = 5000) -> float:
        """Measured cost of recording one span on a throwaway tracer."""
        probe = Tracer(True)
        t0 = time.perf_counter()
        for _ in range(n):
            with probe.span("x"):
                pass
        return (time.perf_counter() - t0) / n

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for s in self.spans:
                if s:
                    fh.write(json.dumps(dict(zip(
                        ("name", "start", "end", "parent", "request"), s))) + "\n")


class JobCounter:
    """Spark jobs, stages and tasks per request, from the status tracker."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.per_request: list = []

    def begin(self, request_id: str) -> None:
        self.sc.setJobGroup(request_id, request_id)

    def end(self, request_id: str) -> None:
        st = self.sc.statusTracker()
        jobs = [st.getJobInfo(j) for j in st.getJobIdsForGroup(request_id)]
        stages = [st.getStageInfo(s) for job in jobs if job for s in job.stageIds]
        tasks = sum(stage.numTasks for stage in stages if stage)
        self.per_request.append((len(jobs), len(stages), tasks))
        self.sc.setLocalProperty("spark.jobGroup.id", None)


def _median_time(fn, repeats: int = PROBE_REPEATS) -> tuple:
    """(median seconds of ``repeats`` calls of fn, the last call's result)"""
    times = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        result = fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times), result


def probe_layers(spark, corpus_dir: str, work_dir: str) -> dict:
    """Per-layer figures measured in-process on the corpus of this run, as
    {name: (value, unit)}."""
    out: dict = {}
    out.update(_probe_sources(spark, corpus_dir, work_dir))
    out.update(_probe_api(spark, corpus_dir))
    out.update(_probe_operators(spark, corpus_dir))
    return out


def _probe_sources(spark, corpus_dir: str, work_dir: str) -> dict:
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema

    import mongo_arrow_spark as mas
    from mongo_arrow_spark import bson_codec
    from mongo_arrow_spark.sources import DocumentsDataSource
    from mongo_arrow_spark.sources.documents import DocumentsWriter

    out: dict = {}
    dump = {f: os.path.join(corpus_dir, f"orders.{f}") for f in ("bson", "jsonl")}
    with open(os.path.join(corpus_dir, "corpus.json")) as fh:
        meta = json.load(fh)
    n_docs = meta["files"]["orders.bson"]["rows"]
    price = meta["expect"]["read"][0][0]

    # inference, splits, in-process decode of the first batches, and the
    # whole read request (as the documents workload sends it). Decode and
    # read alternate, so both see the host in the same state.
    src = DocumentsDataSource({"path": dump["bson"]})
    out["sources.infer_ms"] = (1000 * _median_time(src.schema)[0], "ms")

    def read(path):
        df = spark.read.format("documents").load(path)
        return mas.find_arrow_all(df, {"o_totalprice": {"$gte": price}})

    read(dump["bson"])  # the first read after set-up starts Python workers
    splits = []
    for fmt in ("bson", "jsonl"):
        ds = DocumentsDataSource({"path": dump[fmt]})
        reader = ds.reader(ds.schema())
        parts = reader.partitions()
        splits.append(len(parts))

        def decode(reader=reader, part=parts[0]):
            return sum(b.num_rows for b in itertools.islice(reader.read(part), DECODE_BATCHES))

        rates, request_s = [], []
        for _ in range(READ_REPEATS):
            decode_s, decoded = _median_time(decode, 1)
            rates.append(decoded / decode_s)
            request_s.append(_median_time(lambda: read(dump[fmt]), 1)[0])
        rate, request = statistics.median(rates), statistics.median(request_s)
        out[f"sources.{fmt}.decode_docs_per_s"] = (rate, "1/s")
        out[f"sources.{fmt}.read_docs_per_s"] = (n_docs / request, "1/s")
        out[f"sources.{fmt}.decode_share"] = (n_docs / (rate * len(parts)) / request, "ratio")
    out["sources.splits"] = (statistics.mean(splits), "count")

    # bson_codec: the codec alone, on the dump's first PROBE_DOCS documents
    with open(dump["bson"], "rb") as fh:
        raw = fh.read()

    def decode_docs():
        return list(itertools.islice(bson_codec.decode_file_iter(io.BytesIO(raw)), PROBE_DOCS))

    decode_s, docs = _median_time(decode_docs)
    out["bson_codec.decode_docs_per_s"] = (len(docs) / decode_s, "1/s")
    out["bson_codec.encode_docs_per_s"] = (len(docs) / _median_time(
        lambda: [bson_codec.encode_document(d) for d in docs])[0], "1/s")

    # sources writer, in-process, on the write input (docs.parquet): bson
    # from Arrow rows; jsonl from the pre-serialized line column api.write
    # hands it
    truth = pq.read_table(os.path.join(corpus_dir, "docs.parquet"))
    with open(dump["jsonl"], encoding="utf-8") as fh:
        lines = pa.table({"__json_line__": [x.rstrip("\n") for x in
                                            itertools.islice(fh, truth.num_rows)]})
    inputs = {
        "bson": (truth, {"fileformat": "bson"}),
        "jsonl": (lines, {"fileformat": "jsonl", "preserialized": "true"}),
    }
    written_bytes = written_files = 0
    for fmt, (table, opts) in inputs.items():
        path = os.path.join(work_dir, "probe", fmt)

        def write(table=table, opts=opts, path=path):
            shutil.rmtree(path, ignore_errors=True)
            w = DocumentsWriter(from_arrow_schema(table.schema), {"path": path, **opts}, True)
            return w.write(iter(table.to_batches(max_chunksize=4096)))

        write_s, res = _median_time(write)
        out[f"sources.{fmt}.encode_docs_per_s"] = (table.num_rows / write_s, "1/s")
        written_files += len(res.files)
        written_bytes += sum(os.path.getsize(f) for f in res.files)
        shutil.rmtree(path, ignore_errors=True)
    out["sources.bytes_written"] = (written_bytes, "bytes")
    out["sources.files_written"] = (written_files, "count")
    return out


def _probe_api(spark, corpus_dir: str) -> dict:
    """mql translation, api collect and convert, on the export collections."""
    from mongo_arrow_spark import api
    from mongo_arrow_spark.session import load_tables
    from workloads import FIND_PROJECTION, rank_pipeline

    tables = load_tables(spark, corpus_dir)
    li, orders = tables["lineitem"], tables["orders"]
    query = {"l_extendedprice": {"$gte": 60_000.0}}
    translate_s = statistics.median(
        [_median_time(lambda: api.find(li, query, projection=FIND_PROJECTION))[0],
         _median_time(lambda: api.aggregate(orders, rank_pipeline(1e5, 2e5),
                                            collections=tables))[0]])
    found = api.find(li, query, projection=FIND_PROJECTION)
    found.toArrow()  # warm the plan once
    collect_s, table = _median_time(found.toArrow)
    convert_s, _ = _median_time(
        lambda: api._bson_dtype_frame(api._tz_frame(table.to_pandas(), found.schema),
                                      found.schema))
    return {"mql.translate_ms": (1000 * translate_s, "ms"),
            "api.collect_ms": (1000 * collect_s, "ms"),
            "api.convert_ms": (1000 * convert_s, "ms")}


def _probe_operators(spark, corpus_dir: str) -> dict:
    """The curation stages one at a time, each on the cached output of the
    stage before it, with the parameters of the ``curate`` request; the
    fuzzy stage runs here only (see README.md)."""
    from pyspark.sql import functions as F

    import corpus
    from mongo_arrow_spark.operators import dedup, quality
    from workloads import curate_request

    texts = spark.read.parquet(os.path.join(corpus_dir, "texts.parquet")).cache()
    holdout = spark.read.parquet(os.path.join(corpus_dir, "holdout.parquet")).cache()
    n_texts = texts.count()
    holdout.count()

    def gate():
        flagged = quality.gopher_quality_flags(texts, "text", min_tokens=20)
        return flagged.filter(F.col("q_keep")).select(texts.columns)

    quality_s = _median_time(lambda: gate().count())[0]
    kept = gate().cache()
    kept.count()
    exact_s = _median_time(lambda: dedup.exact_dedup(kept).count())[0]
    exact = dedup.exact_dedup(kept).cache()
    exact.count()

    def fuzzy():
        pairs = dedup.banded_jaccard_pairs(exact, n=3, threshold=0.3, bands=16)
        return dedup.dedup_survivors(exact, dedup.connected_components(pairs)).count()

    fuzzy_s = _median_time(fuzzy, 1)[0]  # seconds a call: timed once
    decon_s = _median_time(lambda: dedup.decontaminate(
        exact, holdout, n=3, threshold=0.8, max_df=corpus.MAX_DF).count())[0]
    kept_frac = curate_request(texts, holdout).count() / n_texts
    for frame in (exact, kept, holdout, texts):
        frame.unpersist()
    return {"operators.quality_ms": (1000 * quality_s, "ms"),
            "operators.dedup_exact_ms": (1000 * exact_s, "ms"),
            "operators.dedup_fuzzy_ms": (1000 * fuzzy_s, "ms"),
            "operators.decontaminate_ms": (1000 * decon_s, "ms"),
            "operators.kept_frac": (kept_frac, "ratio")}
