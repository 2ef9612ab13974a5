"""The workloads and the measurements they share.

Each workload drives the program from one client in one process, in a
closed loop: the next request goes out when the previous reply is back.
Both workloads run every kind of operation (retrieve, query, list,
ingest), so every end-to-end metric has a value on each; ``README.md``
says which phase each metric comes from.
"""

from __future__ import annotations

import json
import os
import random
import signal
import statistics
import subprocess
import sys
import time
import traceback
from collections import defaultdict
from dataclasses import dataclass, field
from typing import Callable

import numpy as np
import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq

from morphik_core_spark import api
from morphik_core_spark.api import MorphikSpark
from morphik_core_spark.functions.chunking import chunk_documents, split_text
from morphik_core_spark.functions.embedder import hash_embed
from morphik_core_spark.functions.text import clean_control_chars
from morphik_core_spark.operators import metadata_filters, rag, retrieval
from morphik_core_spark.operators.retrieval import score_chunks, top_k
from morphik_core_spark.operators.scopes import AuthContext
from morphik_core_spark.plans import partitioning
from morphik_core_spark.session import get_spark
from morphik_core_spark.streaming import ingestion
from morphik_core_spark.streaming.ingestion import RAW_DOC_SCHEMA, ingest_batch
from pyspark import SparkContext
from pyspark.sql import functions as F

from perfbench import gen, oracle
from perfbench.counters import EventLog, JobGroups, OpJobs, StoreSnapshot, peak_rss_mb
from perfbench.trace import Tracer, span_cost_ms

EMBED_DIMS = 768  # the reference's default (morphik.toml)
CHUNK_SIZE, CHUNK_OVERLAP = 512, 64  # the facade's and ingest_batch's defaults
RETRIEVE_K, QUERY_K, LIST_LIMIT = 5, 20, 100
OP_KINDS = ("retrieve", "query", "list", "ingest")
SETUP_PARTS = 3  # bulk loads that build a store; set-up time counts their median
WARM_DOCS = 24  # documents in the first load, which compiles the path

# sizes keep one run (set-up, window, checks) near a minute on 4 cores
READ_STORE_DOCS = 720
READ_OPS = 1000
MIXED_STORE_DOCS = 240
MIXED_CYCLES = 100
BULK_CONTENT_SAMPLE = 25
BULK_EMBED_SAMPLE = 40
KERNEL_DOCS = 300
KERNEL_CHUNKS = 500
# per-layer metrics measured in isolation by ``kernel_layers``
KERNEL_METRICS = (
    "chunking.split_text_ms_per_mb",
    "chunking.chunks_per_doc",
    "embedder.hash_embed_us_per_chunk",
    "ingestion.clean_s",
    "ingestion.chunk_s",
    "ingestion.embed_s",
    "ingestion.write_s",
    "ingestion.python_udf_nodes",
    "vectors.score_us_per_chunk",
)
PYTHON_UDF_NODES = ("ArrowEvalPython", "BatchEvalPython", "MapInPandas", "MapInArrow")


@dataclass
class OpRecord:
    op_id: int
    kind: str
    variant: str
    ms: float
    wall: tuple  # (start, end) epoch milliseconds
    window: bool
    ok: bool = True
    jobs: OpJobs = field(default_factory=OpJobs)
    results: int = 0
    input_bytes: int = 0
    docs: int = 0
    store_bytes_written: int = 0
    chunk_rows_written: int = 0
    chunk_rows_added: int = 0


@dataclass
class Outcome:
    setup_s: float
    store: str
    input_bytes: int
    docs: list  # every document the store holds
    drop: str  # the parquet drop of the store's first part


class Bench:
    """One benchmark process: the Spark session, the clock, the counters
    and, in a traced run, the tracer."""

    def __init__(self, work: str, seed: int, seconds: int, trace: bool) -> None:
        self.work, self.seed, self.seconds, self.trace = work, seed, seconds, trace
        self.eventlog_dir = os.path.join(work, "eventlog")
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        }
        if trace:
            os.makedirs(self.eventlog_dir, exist_ok=True)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://" + self.eventlog_dir,
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        self.t_start = t0 = time.perf_counter()
        self.spark = get_spark(app_name="perfbench", extra_conf=conf)
        self.get_spark_s = time.perf_counter() - t0
        self.log("session started")
        self.sc = self.spark.sparkContext
        self.jobs = JobGroups(self.sc)
        self.tracer = Tracer() if trace else None
        self.ops: list[OpRecord] = []
        self.failures: list[str] = []
        self.eventlog: EventLog | None = None
        self.layer: dict[str, float] = {}
        if trace:
            self._install_spans()

    def _install_spans(self) -> None:
        t = self.tracer
        for attr in ("retrieve_chunks", "query", "list_documents", "ingest_texts"):
            t.wrap(api.MorphikSpark, attr, f"api.{attr}")
        t.wrap(api.MorphikSpark, "documents", "api.table_open")
        t.wrap(api.MorphikSpark, "chunks", "api.table_open")
        t.wrap(metadata_filters.MetadataFilterCompiler, "compile", "metadata_filters.compile")
        for attr in ("retrieve_chunks", "authorized_documents", "scoped_chunks", "score_chunks", "top_k", "with_padding"):
            t.wrap(retrieval, attr, f"retrieval.{attr}")
        t.wrap(rag, "rag_query", "rag.rag_query")
        t.wrap(partitioning, "merge_upsert_partitioned", "partitioning.merge_upsert_partitioned")
        t.wrap(ingestion, "ingest_batch", "ingestion.ingest_batch")
        t.wrap(api, "chunk_documents", "chunking.chunk_documents")
        t.wrap(ingestion, "chunk_documents", "chunking.chunk_documents")

    def log(self, msg: str) -> None:
        """Progress on standard error, with seconds since the run began."""
        print(f"perfbench [{time.perf_counter() - self.t_start:7.2f}s] {msg}", file=sys.stderr, flush=True)

    def facade(self, root: str):
        m = MorphikSpark(self.spark, root, embed_dims=EMBED_DIMS)
        if self.tracer is not None:
            self.tracer.wrap(m, "_embed_text", "embedder.query_embed")
        return m

    # -------------------------------------------------------- operations

    def run_op(
        self,
        kind: str,
        fn: Callable[[], object],
        check: Callable[[object], str | None] | None = None,
        variant: str = "",
        window: bool = True,
        store: str | None = None,
        input_bytes: int = 0,
        docs: int = 0,
    ) -> tuple[OpRecord, object]:
        """Run one operation in its own job group; time it, check its answer.
        In a traced run, spans are recorded on every operation."""
        op_id = len(self.ops) + 1
        before = StoreSnapshot.take(store) if (store and self.tracer is not None) else None
        if self.tracer is not None:
            self.tracer.op_id, self.tracer.active = op_id, True
        self.jobs.begin(op_id, kind)
        wall0 = time.time() * 1000.0
        t0 = time.perf_counter()
        out, ok = None, True
        try:
            out = fn()
        except Exception:  # noqa: BLE001 — a failed request is counted, not fatal
            ok = False
            self.failures.append(f"op {op_id} {kind}: {traceback.format_exc()}")
        ms = (time.perf_counter() - t0) * 1000.0
        wall1 = time.time() * 1000.0
        if self.tracer is not None:
            self.tracer.active = False
        rec = OpRecord(op_id, kind, variant, ms, (wall0, wall1), window, ok, self.jobs.end(op_id))
        rec.input_bytes, rec.docs = input_bytes, docs
        if ok and check is not None:
            reason = check(out)
            if reason is not None:
                rec.ok = False
                self.failures.append(f"op {op_id} {kind}/{variant}: wrong answer: {reason}")
        if ok and isinstance(out, list):
            rec.results = len(out)
        if before is not None:
            after = StoreSnapshot.take(store)
            written = after.written_since(before)
            rec.store_bytes_written = sum(after.files[p][1] for p in written)
            rec.chunk_rows_written = sum(after.rows.get(p, 0) for p in written if p.startswith("chunks" + os.sep))
            rec.chunk_rows_added = after.table_rows("chunks") - before.table_rows("chunks")
        self.ops.append(rec)
        self.log(f"op {op_id} {kind}/{variant}: {ms:.0f} ms, {rec.jobs.jobs} jobs{'' if rec.ok else ', FAILED'}")
        return rec, out

    def window(self, rounds, run_one: Callable) -> None:
        """Closed loop for at least ``seconds``, in whole rounds of requests,
        so every run serves the same mix and, while a round outlasts
        ``seconds``, the same number of requests."""
        self.log("window opens")
        t0 = time.perf_counter()
        deadline = t0 + self.seconds
        for round_ in rounds:
            if time.perf_counter() >= deadline:
                break
            for op in round_:
                run_one(op)
        else:
            self.failures.append("generated requests ran out before the window closed")
        self.log(f"window closed after {time.perf_counter() - t0:.2f}s")

    # ------------------------------------------------------------- set-up

    def bulk_load(self, drop: str, store: str) -> None:
        """``ingest_batch`` over one drop; documents and chunks are appended
        to ``store`` in the facade's table layout, so the result serves."""
        raw = self.spark.read.schema(RAW_DOC_SCHEMA).parquet(drop)
        documents, chunks = ingestion.ingest_batch(raw, CHUNK_SIZE, CHUNK_OVERLAP, EMBED_DIMS)
        chunks.write.mode("append").parquet(os.path.join(store, "chunks"))
        types = F.create_map(F.lit("category"), F.lit("string"), F.lit("year"), F.lit("number"))
        now = F.current_timestamp()
        documents.select(
            "external_id",
            "filename",
            "content_type",
            "metadata",
            types.alias("metadata_types"),
            "status",
            now.alias("created_at"),
            now.alias("updated_at"),
            F.lit("perfbench").alias("owner_id"),
            "app_id",
            F.element_at(F.split("folder_path", "/"), -1).alias("folder_name"),
            "folder_path",
            F.lit(None).cast("string").alias("end_user_id"),
        ).write.mode("append").partitionBy("app_id").parquet(os.path.join(store, "documents"))

    def build_store(self, docs: list) -> tuple[str, float, int]:
        """Bulk-load ``docs`` into a fresh store in ``SETUP_PARTS`` parts,
        each appended by its own ``ingest`` operation outside the window. A
        first, small load into a throwaway store compiles the path, so the
        parts' loads are alike. Returns (store, warm-up plus ``SETUP_PARTS``
        times the median part's seconds, input bytes)."""
        store = os.path.join(self.work, "store")
        t0 = time.perf_counter()
        warm = os.path.join(self.work, "warm")
        write_drop(docs[:WARM_DOCS], warm)
        self.bulk_load(warm, os.path.join(self.work, "warm-store"))
        warm_s = time.perf_counter() - t0
        self.log(f"warm-up load: {warm_s:.2f}s")
        times, loads, nbytes = [], [], 0
        for i in range(SETUP_PARTS):
            part = docs[i::SETUP_PARTS]
            drop = os.path.join(self.work, f"drop{i}")
            size = write_drop(part, drop)
            nbytes += size
            rec, _ = self.run_op(
                "ingest", lambda: self.bulk_load(drop, store), variant="bulk", window=False,
                store=store, input_bytes=size, docs=len(part),
            )
            times.append(rec.ms / 1000.0)
            loads.append((rec, part))
        check_bulk(self, store, loads)
        return store, warm_s + SETUP_PARTS * statistics.median(times), nbytes

    # ----------------------------------------------------------- shutdown

    def close(self) -> float:
        """Stop Spark and wait for the JVM and its Python workers to exit;
        returns the peak RSS taken just before."""
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        jvm_pid = proc.pid if proc is not None else None
        rss = peak_rss_mb(jvm_pid)
        workers = _descendants(jvm_pid) if jvm_pid else []
        if self.tracer is not None:
            self.tracer.unwrap_all()
        self.spark.stop()
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        _wait_gone(workers, 30)
        if self.trace:
            logs = [os.path.join(self.eventlog_dir, f) for f in os.listdir(self.eventlog_dir)]
            if logs:
                self.eventlog = EventLog(max(logs, key=os.path.getmtime))
        return rss


def _descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        try:
            tasks = os.listdir(f"/proc/{p}/task")
        except OSError:
            continue
        for t in tasks:
            try:
                with open(f"/proc/{p}/task/{t}/children") as fh:
                    kids = [int(x) for x in fh.read().split()]
            except OSError:
                continue
            out += kids
            todo += kids
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _wait_gone(pids: list[int], timeout: float) -> None:
    """Wait for the JVM's Python workers to exit after it; kill stragglers."""
    deadline = time.monotonic() + timeout
    for pid in pids:
        while _alive(pid) and time.monotonic() < deadline:
            time.sleep(0.05)
        if _alive(pid):
            try:
                os.kill(pid, signal.SIGKILL)
            except OSError:
                pass


def write_drop(docs: list, path: str) -> int:
    """Write documents as a parquet drop in ``ingest_batch``'s input schema;
    returns the input text bytes."""
    table = pa.table(
        {
            "external_id": [d.external_id for d in docs],
            "filename": [d.filename for d in docs],
            "content_type": ["text/plain"] * len(docs),
            "text": [d.text for d in docs],
            "metadata": [json.dumps(d.metadata, sort_keys=True) for d in docs],
            "app_id": [d.app_id for d in docs],
            "folder_path": [d.folder_path for d in docs],
        }
    )
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, "drop.parquet"))
    return sum(len(d.text.encode()) for d in docs)


# ---------------------------------------------------------------- checks


def _embed(text: str) -> list[float]:
    return hash_embed(text, EMBED_DIMS)


def _split(text: str) -> list[str]:
    return [] if text.strip() == "" else split_text(oracle.clean(text), CHUNK_SIZE, CHUNK_OVERLAP)


def _rows(out) -> list[tuple]:
    return [(r["document_id"], int(r["chunk_number"]), r["score"]) for r in out]


def retrieve_check(ref: oracle.Store, tenant: str, text: str, filters=None, folder=None):
    expected = ref.scores(_embed(text), ref.eligible_docs(tenant, filters, folder))
    return lambda out: oracle.check_topk(_rows(out), expected, RETRIEVE_K)


def query_check(tenant: str):
    def check(out) -> str | None:
        cites = out.get("citations") or []
        if not cites or not out.get("answer"):
            return "empty answer"
        bad = [c for c in cites if not c.startswith(f"[{tenant}/")]
        return f"citations outside tenant {tenant}: {bad[:3]}" if bad else None

    return check


def list_check(ref: oracle.Store, tenant: str, filters: dict, skip: int):
    """The reference page: the tenant's documents matching the filter,
    newest first, ties by id (the program's listing order)."""
    docs = [
        (doc_id, d)
        for doc_id, d in ref.docs.items()
        if d["app_id"] == tenant and all(d["metadata"].get(f) == v for f, v in filters.items())
    ]
    docs.sort(key=lambda x: x[0])
    docs.sort(key=lambda x: x[1]["updated_at"], reverse=True)
    want = [doc_id for doc_id, _ in docs[skip : skip + LIST_LIMIT]]

    def check(out) -> str | None:
        if any(r.get("app_id") != tenant for r in out):
            return f"rows outside tenant {tenant}"
        got = [r["external_id"] for r in out]
        return None if got == want else f"page of {len(got)} ids differs from the reference page of {len(want)}"

    return check


def check_bulk(bench: Bench, store: str, loads: list[tuple[OpRecord, list]]) -> None:
    """A bulk load is right when every document's chunk count and a sample
    of contents match the pure-Python splitter, a sample of embeddings match
    ``hash_embed``, and exactly the empty documents failed. ``loads`` pairs
    each load with its documents; the store is read once, after them all."""
    t = ds.dataset(os.path.join(store, "chunks"), format="parquet").to_table(
        columns=["document_id", "chunk_number", "content", "embedding"]
    )
    stored: dict[str, dict[int, str]] = defaultdict(dict)
    row: dict[tuple[str, int], int] = {}
    for i, (d, n, c) in enumerate(zip(*(t.column(x).to_pylist() for x in ("document_id", "chunk_number", "content")))):
        stored[d][n] = c
        row[(d, n)] = i
    dt = ds.dataset(os.path.join(store, "documents"), format="parquet", partitioning="hive").to_table(
        columns=["external_id", "status"]
    )
    status = dict(zip(dt.column("external_id").to_pylist(), dt.column("status").to_pylist()))
    rng = random.Random(f"check:{bench.seed}")
    for rec, docs in loads:
        reason = _bulk_mismatch(docs, stored, status, rng)
        if reason is None:
            reason = _embedding_mismatch(docs, stored, rng, t, row)
        if reason is not None:
            rec.ok = False
            bench.failures.append(f"op {rec.op_id} ingest/bulk: wrong output: {reason}")


def _bulk_mismatch(docs: list, stored: dict, status: dict, rng: random.Random) -> str | None:
    sampled = set(d.external_id for d in rng.sample(docs, min(BULK_CONTENT_SAMPLE, len(docs))))
    for d in docs:
        empty = d.text.strip() == ""
        if status.get(d.external_id) != ("failed" if empty else "completed"):
            return f"{d.external_id} has status {status.get(d.external_id)}"
        want = _split(d.text)
        got = stored.get(d.external_id, {})
        if sorted(got) != list(range(len(want))):
            return f"{d.external_id}: {len(got)} chunks, expected {len(want)}"
        if d.external_id in sampled and [got[i] for i in range(len(want))] != want:
            return f"{d.external_id}: chunk contents differ from split_text"
    return None


def _embedding_mismatch(docs: list, stored: dict, rng: random.Random, t: pa.Table, row: dict) -> str | None:
    keys = [(d.external_id, n) for d in docs for n in sorted(stored.get(d.external_id, {}))]
    sample = rng.sample(keys, min(BULK_EMBED_SAMPLE, len(keys)))
    got = t.column("embedding").take(pa.array([row[k] for k in sample], pa.int64())).to_pylist()
    for (d, n), e in zip(sample, got):
        if not np.allclose(e or [], _embed(stored[d][n]), rtol=0.0, atol=1e-12):
            return f"embedding of {d}#{n} differs from hash_embed"
    return None


# ------------------------------------------------------------- requests


def request(m, op: gen.Op) -> Callable[[], object]:
    """The facade call a read request makes."""
    auth = AuthContext(user_id="perfbench", app_id=op.tenant)
    if op.kind == "retrieve":
        return lambda: m.retrieve_chunks(
            op.text, k=RETRIEVE_K, filters=op.filters, auth=auth,
            folder_path=op.folder, folder_depth=-1 if op.folder else 0,
        )
    if op.kind == "query":
        return lambda: m.query(op.text, k=QUERY_K, padding=1, use_reranker=True, auth=auth)
    return lambda: m.list_documents(skip=op.skip, limit=LIST_LIMIT, filters=op.filters, auth=auth)


def read_request(bench: Bench, m, ref: oracle.Store, op: gen.Op) -> None:
    """One timed read request, checked against the reference store."""
    if op.kind == "retrieve":
        check = retrieve_check(ref, op.tenant, op.text, op.filters, op.folder)
    elif op.kind == "query":
        check = query_check(op.tenant)
    else:
        check = list_check(ref, op.tenant, op.filters, op.skip)
    bench.run_op(op.kind, request(m, op), check, op.variant)


def warm_up(m, ops: list) -> None:
    """Serve ``ops`` untimed and unchecked before the window, so the JVM has
    compiled the read path of every request shape the window sends."""
    for op in ops:
        request(m, op)()


# ------------------------------------------------------------- workloads


def serve_read(bench: Bench) -> Outcome:
    """Set-up bulk-loads an 8-tenant store through ``ingest_batch``; timed:
    the 60/20/20 retrieve/query/list mix over the static store."""
    t0 = time.perf_counter()
    corpus = gen.make_corpus(bench.seed)
    store_docs = gen.tenant_docs(corpus, READ_STORE_DOCS)
    docs = [d for ds_ in store_docs.values() for d in ds_]
    gen_s = time.perf_counter() - t0
    store, build_s, input_bytes = bench.build_store(docs)
    setup_s = bench.get_spark_s + gen_s + build_s

    ref = oracle.load_store(store)
    m = bench.facade(store)
    ops = gen.read_ops(corpus, store_docs, READ_OPS)
    bench.log("reference store loaded")
    warm_up(m, [op for op in ops[: gen.READ_BLOCK] if op.kind != "retrieve"])  # a query runs a retrieve
    bench.log("warmed up")
    bench.window(_rounds(ops[gen.READ_BLOCK :], 2 * gen.READ_BLOCK), lambda op: read_request(bench, m, ref, op))
    return Outcome(setup_s, store, input_bytes, docs, os.path.join(bench.work, "drop0"))


def serve_mixed(bench: Bench) -> Outcome:
    """Set-up bulk-loads a smaller store and writes once through
    ``ingest_texts``; timed: cycles of one ``ingest_texts`` call of
    ``DOCS_PER_INGEST`` documents into a tenant, three retrieves from it (the first asks for a
    just-written chunk by its exact content), a query and a listing."""
    t0 = time.perf_counter()
    corpus = gen.make_corpus(bench.seed)
    store_docs = gen.tenant_docs(corpus, MIXED_STORE_DOCS, tag="m")
    docs = [d for ds_ in store_docs.values() for d in ds_]
    ops = gen.mixed_ops(corpus, store_docs, MIXED_CYCLES + 1)
    gen_s = time.perf_counter() - t0
    store, build_s, input_bytes = bench.build_store(docs)
    m = bench.facade(store)
    state: dict = {"bytes": input_bytes, "docs": list(docs)}

    def ingest(op: gen.Op, window: bool) -> list | None:
        new = list(op.docs)
        nbytes = sum(len(d.text.encode()) for d in new)
        _, ids = bench.run_op(
            "ingest",
            lambda: m.ingest_texts(
                [d.text for d in new],
                filenames=[d.filename for d in new],
                metadatas=[d.metadata for d in new],
                auth=AuthContext(user_id="perfbench", app_id=op.tenant),
                folder_path=new[0].folder_path,
            ),
            check=lambda ids: None if len(ids) == len(new) else f"{len(ids)} ids for {len(new)} documents",
            variant="texts", window=window, store=store, input_bytes=nbytes, docs=len(new),
        )
        state["bytes"] += nbytes
        state["docs"] += new
        state["ref"] = oracle.load_store(store)
        own = next(((i, d) for i, d in zip(ids or [], new) if d.text.strip()), None)
        state["own"] = None if own is None else (own[0], _split(own[1].text)[0])
        return ids

    # the first cycle's write is set-up: the store's first write through the
    # facade compiles the merge path, which no later write pays again
    t1 = time.perf_counter()
    ingest(ops[0], window=False)  # the rest of the first cycle is skipped
    setup_s = bench.get_spark_s + gen_s + build_s + (time.perf_counter() - t1)
    bench.log("first facade write done")
    warm_up(m, [op for op in ops[1 : gen.MIXED_CYCLE] if op.kind in ("query", "list")])
    bench.log("warmed up")

    def one(op: gen.Op) -> None:
        if op.kind == "ingest":
            ingest(op, window=True)
        elif op.variant == "own":
            if state["own"] is None:
                return
            doc_id, content = state["own"]
            ref = state["ref"]
            expected = ref.scores(_embed(content), ref.eligible_docs(op.tenant))

            def check(out) -> str | None:
                hit = [r for r in out if r["document_id"] == doc_id and r["chunk_number"] == 0]
                if not hit or abs(hit[0]["score"] - 1.0) > oracle.SCORE_TOL:
                    return f"just-written chunk {doc_id}#0 not returned with score 1.0"
                return oracle.check_topk(_rows(out), expected, RETRIEVE_K)

            auth = AuthContext(user_id="perfbench", app_id=op.tenant)
            bench.run_op("retrieve", lambda: m.retrieve_chunks(content, k=RETRIEVE_K, auth=auth), check, "own")
        else:
            read_request(bench, m, state["ref"], op)

    bench.window(_rounds(ops[gen.MIXED_CYCLE :], 2 * gen.MIXED_CYCLE), one)
    return Outcome(setup_s, store, state["bytes"], state["docs"], os.path.join(bench.work, "drop0"))


def _rounds(ops: list, size: int) -> list[list]:
    """Window rounds: two blocks of the read mix, or two mixed cycles."""
    return [ops[i : i + size] for i in range(0, len(ops), size)]


WORKLOADS = {"serve_read": serve_read, "serve_mixed": serve_mixed}


# ------------------------------------------------------------ the metrics


def p50(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def samples(bench: Bench, kind: str) -> list[OpRecord]:
    """The operations a latency or rate of ``kind`` is taken from: the
    window's if the window ran that kind, else those outside it (set-up
    loads)."""
    done = [r for r in bench.ops if r.kind == kind and r.ok]
    return [r for r in done if r.window] or done


def layer_records(bench: Bench, kind: str) -> list[OpRecord]:
    """The operations a per-layer count of ``kind`` is taken from: the
    window's if the window ran that kind, else set-up's."""
    mine = [r for r in bench.ops if r.kind == kind]
    return [r for r in mine if r.window] or mine


def end_to_end(bench: Bench, out: Outcome, rss_mb: float) -> dict[str, tuple[float, int]]:
    """name -> (value, samples)."""
    lat = {k: [r.ms for r in samples(bench, k)] for k in OP_KINDS}
    ingest = samples(bench, "ingest")
    window_ops = [r for r in bench.ops if r.window]
    stored = StoreSnapshot.take(out.store).total_bytes()
    return {
        "setup_s": (out.setup_s, 1),
        "peak_rss_mb": (rss_mb, 1),
        "stored_bytes_per_input_byte": (stored / max(1, out.input_bytes), 1),
        "ingest_docs_per_s": (sum(r.docs for r in ingest) / max(1e-9, sum(r.ms for r in ingest) / 1000.0), len(ingest)),
        "ingest_p50_ms": (p50(lat["ingest"]), len(lat["ingest"])),
        "retrieve_p50_ms": (p50(lat["retrieve"]), len(lat["retrieve"])),
        "query_p50_ms": (p50(lat["query"]), len(lat["query"])),
        # the window's requests over the time the program spent on them,
        # which leaves out the benchmark's own checks between requests
        "ops_per_s": (len(window_ops) / max(1e-9, sum(r.ms for r in window_ops) / 1000.0), len(window_ops)),
    }


def _mean(xs) -> float:
    xs = list(xs)
    return float(sum(xs) / len(xs)) if xs else 0.0


def kernel_layers(bench: Bench, out: Outcome) -> None:
    """Per-layer costs measured in isolation after the timed phases: the
    splitter and the embedder in this process, ``ingest_batch`` stage
    prefixes through the noop writer, and scoring the whole store."""
    L = bench.layer
    texts = [oracle.clean(d.text) for d in out.docs[:KERNEL_DOCS] if d.text.strip()]
    t0 = time.perf_counter()
    chunks = [split_text(t, CHUNK_SIZE, CHUNK_OVERLAP) for t in texts]
    split_s = time.perf_counter() - t0
    L["chunking.split_text_ms_per_mb"] = split_s * 1000.0 / max(1e-9, sum(len(t.encode()) for t in texts) / 1e6)
    L["chunking.chunks_per_doc"] = sum(map(len, chunks)) / max(1, len(chunks))
    flat = [c for cs in chunks for c in cs][:KERNEL_CHUNKS]
    t0 = time.perf_counter()
    for c in flat:
        _embed(c)
    L["embedder.hash_embed_us_per_chunk"] = (time.perf_counter() - t0) * 1e6 / max(1, len(flat))

    def noop(df) -> float:
        t = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t

    raw = bench.spark.read.schema(RAW_DOC_SCHEMA).parquet(out.drop)
    cleaned = raw.withColumn("text", clean_control_chars(F.col("text")))
    t_clean = noop(cleaned)
    ok = cleaned.filter(F.col("text").isNotNull() & (F.length(F.trim("text")) > 0))
    t_chunk = noop(chunk_documents(ok, "text", "external_id", CHUNK_SIZE, CHUNK_OVERLAP))
    _documents, full = ingest_batch(raw, CHUNK_SIZE, CHUNK_OVERLAP, EMBED_DIMS)
    t_embed = noop(full)
    t = time.perf_counter()
    bench.bulk_load(out.drop, os.path.join(bench.work, "stage-store"))
    t_write = time.perf_counter() - t
    L["ingestion.clean_s"] = t_clean
    L["ingestion.chunk_s"] = t_chunk - t_clean
    L["ingestion.embed_s"] = t_embed - t_chunk
    L["ingestion.write_s"] = t_write - t_embed
    plan = full._jdf.queryExecution().executedPlan().toString()
    L["ingestion.python_udf_nodes"] = float(sum(plan.count(n) for n in PYTHON_UDF_NODES))

    store_chunks = bench.spark.read.parquet(os.path.join(out.store, "chunks"))
    n = store_chunks.count()
    qv = _embed(" ".join(texts[0].split()[:8]) if texts else "query")
    runs = []
    for _ in range(3):
        t = time.perf_counter()
        top_k(score_chunks(store_chunks, qv), RETRIEVE_K).collect()
        runs.append(time.perf_counter() - t)
    L["vectors.score_us_per_chunk"] = statistics.median(runs) * 1e6 / max(1, n)


def traced_layers(bench: Bench, out: Outcome) -> dict[str, float]:
    """Per-layer metrics of a traced run; call after ``Bench.close``."""
    L = dict(bench.layer)
    t = bench.tracer
    spans, self_ms, names = t.spans, t.self_ms(), t.by_name()
    read_ids = {r.op_id for r in bench.ops if r.kind in ("retrieve", "query", "list")}

    def mean_ms(name: str, scale: float = 1.0) -> float:
        return _mean(spans[i].ms * scale for i in names.get(name, ()))

    L["session.get_spark_s"] = bench.get_spark_s
    L["embedder.query_embed_ms"] = mean_ms("embedder.query_embed")
    L["api.table_open_ms"] = mean_ms("api.table_open")
    opens = [i for i in names.get("api.table_open", ()) if spans[i].op_id in read_ids]
    L["api.table_opens_per_op"] = len(opens) / max(1, len(read_ids))
    facade = ("api.retrieve_chunks", "api.query", "api.list_documents")
    own = [self_ms[i] for n in facade for i in names.get(n, ()) if spans[i].op_id in read_ids]
    L["api.self_ms_per_op"] = sum(own) / max(1, len(read_ids))
    L["partitioning.merge_upsert_partitioned_ms"] = mean_ms("partitioning.merge_upsert_partitioned")
    L["metadata_filters.compile_us"] = mean_ms("metadata_filters.compile", 1000.0)
    L["retrieval.retrieve_chunks_ms"] = mean_ms("retrieval.retrieve_chunks")
    L["retrieval.scoped_chunks_ms"] = mean_ms("retrieval.scoped_chunks")
    L["retrieval.with_padding_ms"] = mean_ms("retrieval.with_padding")
    L["rag.rag_query_ms"] = mean_ms("rag.rag_query")

    writes = layer_records(bench, "ingest")
    L["store.bytes_written_per_input_byte"] = sum(r.store_bytes_written for r in writes) / max(
        1, sum(r.input_bytes for r in writes)
    )
    L["store.chunk_rows_rewritten_per_chunk_added"] = sum(r.chunk_rows_written for r in writes) / max(
        1, sum(r.chunk_rows_added for r in writes)
    )
    snap = StoreSnapshot.take(out.store)
    L["store.chunks_files"] = float(len(snap.parquet_files("chunks")))
    L["store.documents_files"] = float(len(snap.parquet_files("documents")))

    ev = bench.eventlog
    retrieves = [r for r in bench.ops if r.kind == "retrieve" and r.ok]
    rows_read = sum(ev.groups[JobGroups.group(r.op_id)].input_rows for r in retrieves) if ev else 0
    L["retrieval.rows_examined_per_result"] = rows_read / max(1, sum(r.results for r in retrieves))
    for kind in OP_KINDS:
        recs = layer_records(bench, kind)
        n = max(1, len(recs))
        L[f"spark.jobs_per_op.{kind}"] = sum(r.jobs.jobs for r in recs) / n
        L[f"spark.stages_per_op.{kind}"] = sum(r.jobs.stages for r in recs) / n
        L[f"spark.tasks_per_op.{kind}"] = sum(r.jobs.tasks for r in recs) / n
        groups = [(r, ev.groups[JobGroups.group(r.op_id)]) for r in recs] if ev else []
        L[f"spark.task_run_ms_per_op.{kind}"] = sum(g.task_run_ms for _, g in groups) / n
        L[f"spark.scheduler_delay_ms_per_op.{kind}"] = sum(g.scheduler_delay_ms for _, g in groups) / n
        L[f"spark.shuffle_bytes_per_op.{kind}"] = sum(g.shuffle_bytes for _, g in groups) / n
        L[f"spark.driver_gap_ms_per_op.{kind}"] = (
            sum((r.wall[1] - r.wall[0]) - ev.busy_ms(JobGroups.group(r.op_id), *r.wall) for r, _ in groups) / n
        )
    L["spark.failed_tasks"] = float(ev.failed_tasks if ev else 0)

    # tracing overhead: what one span costs, timed on a no-op, times the
    # spans an operation records
    L["trace.spans_per_op"] = len(spans) / max(1, len(bench.ops))
    L["trace.overhead_ms_per_op"] = span_cost_ms() * L["trace.spans_per_op"]
    return L
