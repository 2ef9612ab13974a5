"""Seeded workload generator.

Everything a workload feeds the program comes from here and is a pure
function of the seed: the corpus (Zipf vocabulary, paragraph and sentence
structure, log-uniform document length from 0.5 to 8 KB, about 1% empty
documents and some with control characters), the tenant skew, the two
metadata fields and the request stream. Nothing here imports Spark or the
program, so the same seed gives byte-identical inputs on any machine.
"""

from __future__ import annotations

import bisect
import itertools
import json
import math
import random
import string
from dataclasses import asdict, dataclass, field

__all__ = [
    "Doc",
    "Op",
    "Corpus",
    "TENANTS",
    "CATEGORIES",
    "make_corpus",
    "tenant_sizes",
    "tenant_docs",
    "read_ops",
    "mixed_ops",
    "canonical_json",
]

TENANTS = tuple(f"t{i}" for i in range(8))
CATEGORIES = ("news", "legal", "science", "finance", "sports", "travel")
YEARS = tuple(range(2015, 2025))
VOCAB_SIZE = 4000
ZIPF_S = 1.1
TENANT_ZIPF_S = 1.0
MIN_DOC_CHARS, MAX_DOC_CHARS = 500, 8000
EMPTY_SHARE = 0.01
CONTROL_SHARE = 0.03
CONTROL_CHARS = "\x00\x01\x07\x08\x0b\x0c\x0e\x1b\x1f\x7f"
LIST_SKIPS = (0, 20, 100)
FOLDERS = ("a", "b")  # each tenant's documents sit in one of two folders
READ_BLOCK = 5  # requests per block of the read mix
MIXED_CYCLE = 6  # requests per cycle of the mixed workload
DOCS_PER_INGEST = 8  # documents one ``ingest_texts`` call of the mixed workload writes


@dataclass(frozen=True)
class Doc:
    """One input document: the fields ``ingest_batch`` and ``ingest_texts`` take."""

    external_id: str
    filename: str
    text: str
    app_id: str
    folder_path: str
    metadata: dict = field(default_factory=dict)


@dataclass(frozen=True)
class Op:
    """One request of a serving workload.

    ``kind`` is ``retrieve``, ``query``, ``list`` or ``ingest``; ``variant``
    is ``plain``, ``filter`` or ``folder`` for retrieves. ``docs`` holds the
    documents an ``ingest`` writes.
    """

    kind: str
    tenant: str
    variant: str = ""
    text: str = ""
    filters: dict | None = None
    folder: str | None = None
    skip: int = 0
    docs: tuple = ()


class _Zipf:
    """Sampler over ``n`` ranks with P(rank r) ∝ 1 / (r + 1) ** s."""

    def __init__(self, n: int, s: float) -> None:
        self.cum = list(itertools.accumulate(1.0 / (r + 1) ** s for r in range(n)))

    def draw(self, rng: random.Random) -> int:
        return bisect.bisect_left(self.cum, rng.random() * self.cum[-1])


@dataclass
class Corpus:
    """Vocabulary and samplers derived from one seed."""

    seed: int
    vocab: list[str]
    words: _Zipf
    tenants: _Zipf
    categories: _Zipf

    def tenant(self, rng: random.Random) -> str:
        return TENANTS[self.tenants.draw(rng)]

    def token_bag(self, rng: random.Random, n: int) -> str:
        return " ".join(self.vocab[self.words.draw(rng)] for _ in range(n))

    def sentence(self, rng: random.Random) -> str:
        words = self.token_bag(rng, rng.randint(5, 18))
        return words[0].upper() + words[1:]

    def text(self, rng: random.Random) -> str:
        """A document: ``\\n\\n`` between paragraphs, ``. `` between
        sentences and an occasional ``\\n`` inside a paragraph, so the
        recursive splitter walks every separator level."""
        roll = rng.random()
        if roll < EMPTY_SHARE:
            return rng.choice(("", " ", "   "))
        target = int(math.exp(rng.uniform(math.log(MIN_DOC_CHARS), math.log(MAX_DOC_CHARS))))
        paragraphs, size = [], 0
        while size < target:
            para, n_sent = "", rng.randint(2, 7)
            for i in range(n_sent):
                para += self.sentence(rng) + "."
                if i < n_sent - 1:
                    para += "\n" if rng.random() < 0.15 else " "
            paragraphs.append(para)
            size += len(para) + 2
        text = "\n\n".join(paragraphs)
        if roll < EMPTY_SHARE + CONTROL_SHARE:
            chars = list(text)
            for _ in range(rng.randint(1, 6)):
                chars.insert(rng.randrange(len(chars) + 1), rng.choice(CONTROL_CHARS))
            text = "".join(chars)
        return text

    def metadata(self, rng: random.Random) -> dict:
        return {"category": CATEGORIES[self.categories.draw(rng)], "year": rng.choice(YEARS)}

    def doc(self, rng: random.Random, external_id: str, app_id: str, folder: str | None = None) -> Doc:
        return Doc(
            external_id=external_id,
            filename=f"{app_id}/{external_id}.txt",
            text=self.text(rng),
            app_id=app_id,
            folder_path=folder or folder_of(app_id, rng.choice(FOLDERS)),
            metadata=self.metadata(rng),
        )


def folder_of(app_id: str, name: str) -> str:
    """Each tenant writes into ``/org<k>/<tenant>/a`` and ``/org<k>/<tenant>/b``;
    a folder-scoped request asks for one of the two, so the scope excludes
    some of the tenant's own documents."""
    return f"/org{int(app_id[1:]) % 2}/{app_id}/{name}"


def make_corpus(seed: int) -> Corpus:
    rng = random.Random(f"vocab:{seed}")
    vocab: list[str] = []
    seen: set[str] = set()
    while len(vocab) < VOCAB_SIZE:
        w = "".join(rng.choice(string.ascii_lowercase) for _ in range(rng.randint(2, 10)))
        if w not in seen:
            seen.add(w)
            vocab.append(w)
    return Corpus(
        seed=seed,
        vocab=vocab,
        words=_Zipf(VOCAB_SIZE, ZIPF_S),
        tenants=_Zipf(len(TENANTS), TENANT_ZIPF_S),
        categories=_Zipf(len(CATEGORIES), 1.0),
    )


def tenant_sizes(total: int) -> dict[str, int]:
    """Zipf-skewed document counts per tenant, at least 2 each, summing to
    ``total``."""
    w = [1.0 / (r + 1) ** TENANT_ZIPF_S for r in range(len(TENANTS))]
    sizes = [max(2, int(total * x / sum(w))) for x in w]
    sizes[0] += total - sum(sizes)
    return dict(zip(TENANTS, sizes))


def tenant_docs(corpus: Corpus, total: int, tag: str = "s") -> dict[str, list[Doc]]:
    """The starting store of a serving workload: per tenant, its documents."""
    rng = random.Random(f"store:{tag}:{corpus.seed}")
    return {
        t: [corpus.doc(rng, f"{tag}-{t}-{i:05d}", t) for i in range(n)]
        for t, n in tenant_sizes(total).items()
    }


def _query_text(corpus: Corpus, rng: random.Random, docs: list[Doc]) -> str:
    """Half Zipf token bags, half a sentence lifted from a stored document."""
    texts = [d.text for d in docs if d.text.strip()]
    if rng.random() < 0.5 or not texts:
        return corpus.token_bag(rng, rng.randint(4, 10))
    sentences = [s.strip() for s in rng.choice(texts).replace("\n", " ").split(". ") if s.strip()]
    return rng.choice(sentences)


def read_ops(corpus: Corpus, store: dict[str, list[Doc]], n: int) -> list[Op]:
    """``serve_read`` requests. Each block of five holds three retrieves (one
    plain, one metadata-filtered, one folder-scoped), a query and a listing
    in seeded order, so even a short run keeps the 60/20/20 mix."""
    rng = random.Random(f"read:{corpus.seed}")
    block = ["retrieve:plain", "retrieve:filter", "retrieve:folder", "query", "list"]
    ops: list[Op] = []
    while len(ops) < n:
        order = block[:]
        rng.shuffle(order)
        for slot in order:
            kind, _, variant = slot.partition(":")
            tenant = corpus.tenant(rng)
            docs = store[tenant]
            # filters name a category some retrievable document carries
            live = [d for d in docs if d.text.strip()] or docs
            if kind == "retrieve":
                ops.append(
                    Op(
                        kind="retrieve",
                        tenant=tenant,
                        variant=variant,
                        text=_query_text(corpus, rng, docs),
                        filters={"category": rng.choice(live).metadata["category"]} if variant == "filter" else None,
                        folder=folder_of(tenant, rng.choice(FOLDERS)) if variant == "folder" else None,
                    )
                )
            elif kind == "query":
                ops.append(Op(kind="query", tenant=tenant, text=_query_text(corpus, rng, docs)))
            else:
                ops.append(
                    Op(
                        kind="list",
                        tenant=tenant,
                        filters={"category": rng.choice(live).metadata["category"]},
                        skip=rng.choice(LIST_SKIPS),
                    )
                )
    return ops[:n]


def mixed_ops(corpus: Corpus, store: dict[str, list[Doc]], n_cycles: int) -> list[Op]:
    """``serve_mixed`` requests. Each cycle ingests ``DOCS_PER_INGEST``
    documents into one folder of a tenant, retrieves three times from that tenant, then
    queries it and lists it. The first retrieve asks for a just-written
    chunk by its exact content (read-your-writes), so its ``text`` is filled
    in by the workload, which knows the chunking; the listing filters on the
    category of a just-written document, so that document heads the page."""
    rng = random.Random(f"mixed:{corpus.seed}")
    ops: list[Op] = []
    for c in range(n_cycles):
        tenant = corpus.tenant(rng)
        folder = folder_of(tenant, rng.choice(FOLDERS))  # one call writes one folder
        new = tuple(corpus.doc(rng, f"m{c:04d}-{i:02d}", tenant, folder) for i in range(DOCS_PER_INGEST))
        docs = store[tenant] + list(new)
        ops.append(Op(kind="ingest", tenant=tenant, docs=new))
        ops.append(Op(kind="retrieve", tenant=tenant, variant="own"))
        for _ in range(2):
            ops.append(Op(kind="retrieve", tenant=tenant, variant="plain", text=_query_text(corpus, rng, docs)))
        ops.append(Op(kind="query", tenant=tenant, text=_query_text(corpus, rng, docs)))
        ops.append(Op(kind="list", tenant=tenant, filters={"category": new[0].metadata["category"]}))
    return ops


def canonical_json(obj) -> str:
    """Stable serialisation of generated inputs (for the determinism test)."""

    def default(o):
        if isinstance(o, (Doc, Op)):
            return asdict(o)
        raise TypeError(type(o))

    return json.dumps(obj, default=default, sort_keys=True, ensure_ascii=True)
