"""The generator is a pure function of the seed and varies what it claims to."""

from __future__ import annotations

import hashlib
import os
from collections import Counter

from perfbench import gen, oracle
from perfbench.workloads import MIXED_STORE_DOCS, READ_STORE_DOCS, write_drop


def _inputs(seed: int) -> str:
    corpus = gen.make_corpus(seed)
    read_store = gen.tenant_docs(corpus, READ_STORE_DOCS)
    mixed_store = gen.tenant_docs(corpus, MIXED_STORE_DOCS, tag="m")
    return gen.canonical_json(
        {
            "read_store": read_store,
            "read_ops": gen.read_ops(corpus, read_store, 200),
            "mixed_store": mixed_store,
            "mixed_ops": gen.mixed_ops(corpus, mixed_store, 20),
        }
    )


def _sha(path: str) -> str:
    with open(path, "rb") as fh:
        return hashlib.sha256(fh.read()).hexdigest()


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    assert _inputs(7) == _inputs(7)
    assert _inputs(7) != _inputs(8)
    docs = [d for ds in gen.tenant_docs(gen.make_corpus(7), 50).values() for d in ds]
    a, b = tmp_path / "a", tmp_path / "b"
    assert write_drop(docs, str(a)) == write_drop(docs, str(b))
    assert _sha(os.path.join(a, "drop.parquet")) == _sha(os.path.join(b, "drop.parquet"))


def test_corpus_properties():
    corpus = gen.make_corpus(3)
    docs = [d for ds in gen.tenant_docs(corpus, 2000).values() for d in ds]
    empty = [d for d in docs if not d.text.strip()]
    control = [d for d in docs if oracle.CONTROL_CHARS_RE.search(d.text)]
    assert 5 <= len(empty) <= 40  # about 1%
    assert len(control) >= 20
    live = [d for d in docs if d.text.strip()]
    sizes = [len(d.text) for d in live]
    assert min(sizes) >= gen.MIN_DOC_CHARS and max(sizes) <= gen.MAX_DOC_CHARS + 1000
    assert all("\n\n" in d.text and ". " in d.text for d in live if len(d.text) > 2000)
    words = Counter(w for d in live[:200] for w in d.text.lower().split())
    top = [n for _, n in words.most_common(50)]
    assert top[0] > 5 * top[-1]  # Zipf: a few words dominate
    assert {d.metadata["category"] for d in docs} <= set(gen.CATEGORIES)


def test_tenant_skew_and_read_mix():
    sizes = gen.tenant_sizes(READ_STORE_DOCS)
    assert sum(sizes.values()) == READ_STORE_DOCS
    counts = [sizes[t] for t in gen.TENANTS]
    assert counts == sorted(counts, reverse=True) and counts[0] > 4 * counts[-1]
    corpus = gen.make_corpus(5)
    store = gen.tenant_docs(corpus, READ_STORE_DOCS)
    ops = gen.read_ops(corpus, store, 500)
    kinds = Counter(op.kind for op in ops)
    assert kinds == {"retrieve": 300, "query": 100, "list": 100}
    variants = Counter(op.variant for op in ops if op.kind == "retrieve")
    assert variants == {"plain": 100, "filter": 100, "folder": 100}
    for block in (ops[i : i + gen.READ_BLOCK] for i in range(0, len(ops), gen.READ_BLOCK)):
        assert Counter(op.kind for op in block) == {"retrieve": 3, "query": 1, "list": 1}
    tenants = Counter(op.tenant for op in ops)
    assert tenants["t0"] > tenants["t7"]
    assert {op.skip for op in ops if op.kind == "list"} == set(gen.LIST_SKIPS)
    # a folder scope is one of the tenant's two folders, so it leaves out
    # some of the tenant's own documents
    narrower = 0
    for op in ops:
        if op.variant == "folder":
            assert op.folder.split("/")[2] == op.tenant
            folders = {d.folder_path for d in store[op.tenant]}
            narrower += op.folder in folders and len(folders) > 1
    assert narrower > 0.8 * variants["folder"]


def test_mixed_cycles():
    corpus = gen.make_corpus(5)
    store = gen.tenant_docs(corpus, MIXED_STORE_DOCS, tag="m")
    ops = gen.mixed_ops(corpus, store, 10)
    assert len(ops) == 10 * gen.MIXED_CYCLE
    for i in range(0, len(ops), gen.MIXED_CYCLE):
        cycle = ops[i : i + gen.MIXED_CYCLE]
        assert [op.kind for op in cycle] == ["ingest", "retrieve", "retrieve", "retrieve", "query", "list"]
        assert len({op.tenant for op in cycle}) == 1
        assert len(cycle[0].docs) == gen.DOCS_PER_INGEST
        assert len({d.folder_path for d in cycle[0].docs}) == 1
