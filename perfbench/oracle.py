"""Brute-force reference answers, computed without Spark.

The store is read with pyarrow; auth, status, the metadata filter and the
folder scope are applied in Python and scores come from one numpy
matrix-vector product. Retrieval results are compared with a score
tolerance, and ties at the k-th score may be broken either way.
"""

from __future__ import annotations

import json
import os
import re
from dataclasses import dataclass

import numpy as np
import pyarrow.dataset as ds

__all__ = ["Store", "load_store", "CONTROL_CHARS_RE", "clean", "check_topk", "SCORE_TOL"]

SCORE_TOL = 1e-9
# the character class the program's clean_control_chars strips
CONTROL_CHARS_RE = re.compile(r"[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]")


def clean(text: str) -> str:
    return CONTROL_CHARS_RE.sub("", text)


@dataclass
class Store:
    docs: dict  # external_id -> {app_id, status, metadata, folder_path, filename, updated_at}
    chunk_doc: np.ndarray  # document_id per chunk (object)
    chunk_num: np.ndarray  # chunk_number per chunk
    content: list
    unit: np.ndarray  # embeddings scaled to unit norm (rows of zeros stay zero)
    zero: np.ndarray  # chunks whose embedding has zero norm (score is NULL)

    def eligible_docs(self, app_id: str | None, filters: dict | None = None, folder_prefix: str | None = None) -> set:
        out = set()
        for doc_id, d in self.docs.items():
            if app_id is not None and d["app_id"] != app_id:
                continue
            if d["status"] != "completed":
                continue
            if filters and any(d["metadata"].get(f) != v for f, v in filters.items()):
                continue
            if folder_prefix is not None:
                fp = d["folder_path"] or ""
                if not (fp == folder_prefix or fp.startswith(folder_prefix.rstrip("/") + "/")):
                    continue
            out.add(doc_id)
        return out

    def scores(self, query_vector, doc_ids: set) -> dict:
        """(document_id, chunk_number) -> retrieval score over the chunks of
        ``doc_ids``; None where the program's cosine is NULL."""
        q = np.asarray(query_vector, dtype=np.float64)
        qn = float(np.linalg.norm(q))
        mask = np.fromiter((d in doc_ids for d in self.chunk_doc), dtype=bool, count=len(self.chunk_doc))
        idx = np.nonzero(mask)[0]
        out = {}
        if qn == 0.0:
            return {(self.chunk_doc[i], int(self.chunk_num[i])): None for i in idx}
        s = (1.0 + self.unit[idx] @ (q / qn)) / 2.0
        for j, i in enumerate(idx):
            out[(self.chunk_doc[i], int(self.chunk_num[i]))] = None if self.zero[i] else float(s[j])
        return out


def load_store(root: str) -> Store:
    docs_t = ds.dataset(os.path.join(root, "documents"), format="parquet", partitioning="hive").to_table(
        columns=["external_id", "app_id", "status", "metadata", "folder_path", "filename", "updated_at"]
    )
    docs = {}
    for r in docs_t.to_pylist():
        docs[r["external_id"]] = {
            "app_id": None if r["app_id"] is None else str(r["app_id"]),
            "status": r["status"],
            "metadata": json.loads(r["metadata"] or "{}"),
            "folder_path": r["folder_path"],
            "filename": r["filename"],
            "updated_at": r["updated_at"],
        }
    ch = ds.dataset(os.path.join(root, "chunks"), format="parquet").to_table(
        columns=["document_id", "chunk_number", "content", "embedding"]
    )
    emb = ch.column("embedding").combine_chunks()
    n = len(ch)
    dims = len(emb[0]) if n else 0
    mat = np.asarray(emb.flatten().to_numpy(zero_copy_only=False), dtype=np.float64).reshape(n, dims)
    norms = np.linalg.norm(mat, axis=1)
    zero = norms == 0.0
    unit = mat / np.where(zero, 1.0, norms)[:, None]
    return Store(
        docs=docs,
        chunk_doc=np.asarray(ch.column("document_id").to_pylist(), dtype=object),
        chunk_num=np.asarray(ch.column("chunk_number").to_pylist()),
        content=ch.column("content").to_pylist(),
        unit=unit,
        zero=zero,
    )


def check_topk(returned: list[tuple[str, int, float | None]], expected: dict, k: int) -> str | None:
    """Compare a top-k answer with the brute-force scores of every eligible
    chunk. Returns None when it matches, else the reason it does not.

    Every returned chunk must be eligible, carry its reference score and
    score at least the k-th score; every chunk scoring above the k-th score
    must be returned; chunks tied with the k-th score may stand in for each
    other.
    """
    want = min(k, len(expected))
    if len(returned) != want:
        return f"returned {len(returned)} rows, expected {want}"
    if len({(d, n) for d, n, _ in returned}) != len(returned):
        return "duplicate rows"
    for d, n, s in returned:
        ref = expected.get((d, n), "missing")
        if ref == "missing":
            return f"chunk {d}#{n} is outside the caller's scope"
        if (ref is None) != (s is None) or (ref is not None and abs(ref - s) > SCORE_TOL):
            return f"chunk {d}#{n} scored {s}, reference {ref}"
    if not want:
        return None
    ranked = sorted((-1.0 if v is None else v) for v in expected.values())[::-1]
    kth = ranked[want - 1]
    for d, n, s in returned:
        if (-1.0 if s is None else s) < kth - SCORE_TOL:
            return f"chunk {d}#{n} scores {s}, below the k-th score {kth}"
    got = {(d, n) for d, n, _ in returned}
    for key, v in expected.items():
        if (-1.0 if v is None else v) > kth + SCORE_TOL and key not in got:
            return f"chunk {key[0]}#{key[1]} scores {v}, above the k-th score {kth}, but is missing"
    return None
