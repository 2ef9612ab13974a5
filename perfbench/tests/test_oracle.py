"""The brute-force reference agrees with answers worked out by hand on a
3-tenant store written in the facade's table layout."""

from __future__ import annotations

import json
import math
import os
from datetime import datetime

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from perfbench import oracle

# doc id -> (tenant, status, metadata, folder)
DOCS = {
    "a1": ("ta", "completed", {"category": "news", "year": 2020}, "/org0/ta"),
    "a2": ("ta", "completed", {"category": "legal", "year": 2021}, "/org0/ta/deep"),
    "a3": ("ta", "failed", {"category": "news", "year": 2022}, "/org0/ta"),
    "b1": ("tb", "completed", {"category": "news", "year": 2020}, "/org1/tb"),
    "c1": ("tc", "completed", {"category": "science", "year": 2019}, "/org0/tc"),
}
# (doc, chunk number, embedding); dims 3
CHUNKS = [
    ("a1", 0, [1.0, 0.0, 0.0]),
    ("a1", 1, [0.0, 1.0, 0.0]),
    ("a2", 0, [1.0, 1.0, 0.0]),
    ("a2", 1, [2.0, 0.0, 0.0]),  # same direction as a1#0: a tie
    ("a3", 0, [1.0, 0.0, 0.0]),  # failed document: never eligible
    ("b1", 0, [1.0, 0.0, 0.0]),  # other tenant
    ("c1", 0, [0.0, 0.0, 0.0]),  # zero vector: NULL score
]


@pytest.fixture()
def store(tmp_path):
    root = str(tmp_path)
    when = datetime(2024, 1, 1)
    for doc_id, (tenant, status, md, folder) in DOCS.items():
        part = os.path.join(root, "documents", f"app_id={tenant}")
        os.makedirs(part, exist_ok=True)
        pq.write_table(
            pa.table(
                {
                    "external_id": [doc_id],
                    "filename": [f"{tenant}/{doc_id}.txt"],
                    "metadata": [json.dumps(md)],
                    "status": [status],
                    "folder_path": [folder],
                    "updated_at": pa.array([when], pa.timestamp("us")),
                }
            ),
            os.path.join(part, f"{doc_id}.parquet"),
        )
    os.makedirs(os.path.join(root, "chunks"))
    pq.write_table(
        pa.table(
            {
                "document_id": [c[0] for c in CHUNKS],
                "chunk_number": pa.array([c[1] for c in CHUNKS], pa.int32()),
                "content": [f"{c[0]}#{c[1]}" for c in CHUNKS],
                "embedding": [c[2] for c in CHUNKS],
            }
        ),
        os.path.join(root, "chunks", "part-0.parquet"),
    )
    return oracle.load_store(root)


def test_scope(store):
    assert store.eligible_docs("ta") == {"a1", "a2"}
    assert store.eligible_docs("tb") == {"b1"}
    assert store.eligible_docs("ta", filters={"category": "news"}) == {"a1"}
    assert store.eligible_docs("ta", folder_prefix="/org0/ta/deep") == {"a2"}
    assert store.eligible_docs("ta", folder_prefix="/org0") == {"a1", "a2"}
    assert store.eligible_docs("ta", folder_prefix="/org0/t") == set()
    assert store.eligible_docs(None) == {"a1", "a2", "b1", "c1"}


def test_scores_by_hand(store):
    s = store.scores([1.0, 0.0, 0.0], store.eligible_docs("ta"))
    assert set(s) == {("a1", 0), ("a1", 1), ("a2", 0), ("a2", 1)}
    assert s[("a1", 0)] == pytest.approx(1.0)
    assert s[("a2", 1)] == pytest.approx(1.0)
    assert s[("a1", 1)] == pytest.approx(0.5)
    assert s[("a2", 0)] == pytest.approx((1 + 1 / math.sqrt(2)) / 2)
    assert store.scores([0.0, 1.0, 0.0], store.eligible_docs("tc")) == {("c1", 0): None}


def test_check_topk(store):
    expected = store.scores([1.0, 0.0, 0.0], store.eligible_docs("ta"))
    top2 = [("a1", 0, 1.0), ("a2", 1, 1.0)]
    assert oracle.check_topk(top2, expected, 2) is None
    # the two chunks tied at the k-th score may stand in for each other
    assert oracle.check_topk([("a2", 1, 1.0)], expected, 1) is None
    assert oracle.check_topk([("a1", 0, 1.0)], expected, 1) is None
    # a chunk below the k-th score may not stand in for one at it
    assert "below" in oracle.check_topk([("a1", 0, 1.0), ("a2", 0, 0.8535533905932737)], expected, 2)
    # a chunk above the k-th score may not be left out, even when chunks
    # tied at the k-th score fill the answer
    diagonal = store.scores([1.0, 1.0, 0.0], store.eligible_docs("ta"))
    tied = (1 + 1 / math.sqrt(2)) / 2
    assert oracle.check_topk([("a1", 0, tied), ("a1", 1, tied)], diagonal, 2).endswith("is missing")
    assert oracle.check_topk([("a2", 0, 1.0), ("a1", 1, tied)], diagonal, 2) is None
    assert "scored" in oracle.check_topk([("a1", 0, 0.9), ("a2", 1, 1.0)], expected, 2)
    assert "outside" in oracle.check_topk([("a1", 0, 1.0), ("b1", 0, 1.0)], expected, 2)
    assert "returned" in oracle.check_topk(top2, expected, 3)
    assert oracle.check_topk(top2 + [("a2", 0, 0.8535533905932737)], expected, 3) is None
    # k beyond the eligible chunks: all of them, no more
    everything = top2 + [("a2", 0, 0.8535533905932737), ("a1", 1, 0.5)]
    assert oracle.check_topk(everything, expected, 10) is None


def test_clean_matches_program_class():
    assert oracle.clean("a\x00b\x1fc\x7fd\te\nf\rg") == "abcd\te\nf\rg"


def test_folder_scope_rejects_unscoped_answer(store):
    """An answer that ignores the folder scope returns a chunk of the
    caller's own tenant that the scope excludes, and fails the check."""
    q = [1.0, 0.0, 0.0]
    scoped = store.scores(q, store.eligible_docs("ta", folder_prefix="/org0/ta/deep"))
    assert set(scoped) == {("a2", 0), ("a2", 1)}
    unscoped = [("a1", 0, 1.0), ("a2", 1, 1.0)]  # the tenant-wide top 2
    assert oracle.check_topk(unscoped, store.scores(q, store.eligible_docs("ta")), 2) is None
    assert "outside" in oracle.check_topk(unscoped, scoped, 2)
    assert oracle.check_topk([("a2", 1, 1.0), ("a2", 0, (1 + 1 / math.sqrt(2)) / 2)], scoped, 2) is None
