"""The facade's snapshot-scoped serving frame.

``documents()``/``chunks()`` are resolved once per on-disk snapshot and
retrieval scores against a cached frame carrying ``embedding_norm``. The
contract under test: a retrieve after any write sees the new data (never a
stale cached frame), scores are bit-identical to the plain expression, a
warm retrieve stays within its Spark job budget, and served rows carry no
vectors.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from morphik_core_spark.api import MorphikSpark
from morphik_core_spark.functions.vectors import l2_norm, retrieval_score, vector_literal, vector_norm
from morphik_core_spark.operators.retrieval import score_chunks
from morphik_core_spark.operators.scopes import AuthContext

AUTH = AuthContext(user_id="u1", app_id="app1")
TEXTS = [
    "spark shuffles data between executors during wide transformations " * 3,
    "cats are small domesticated felines that purr " * 3,
    "catalyst optimizes logical plans into physical plans " * 3,
]


def _client(spark, root) -> MorphikSpark:
    return MorphikSpark(spark, str(root), chunk_size=120, chunk_overlap=12)


@pytest.fixture()
def seeded(spark, tmp_path):
    client = _client(spark, tmp_path / "store")
    ids = client.ingest_texts(
        TEXTS,
        filenames=["spark.txt", "cats.txt", "catalyst.txt"],
        metadatas=[{"topic": "engine"}, {"topic": "pets"}, {"topic": "engine"}],
        auth=AUTH,
        folder_path="/corp/docs",
    )
    # warm: the serving frame exists before any write under test
    assert client.retrieve_chunks("spark shuffles", k=3, auth=AUTH)
    return client, ids


def _top(client, text, **kw):
    return client.retrieve_chunks(text, k=3, auth=AUTH, **kw)


# ------------------------------------------------------------ invalidation


def test_retrieve_sees_ingest_texts(seeded):
    client, _ids = seeded
    text = "zebras gallop across the savanna at dawn"
    (new_id,) = client.ingest_texts([text], auth=AUTH, folder_path="/corp/docs")
    hit = _top(client, text)[0]
    assert hit["document_id"] == new_id and hit["score"] == pytest.approx(1.0)


def test_retrieve_sees_update_document_text(seeded):
    client, ids = seeded
    text = "quantum tunnelling through potential barriers"
    client.update_document_text(ids[1], text)
    hit = _top(client, text)[0]
    assert hit["document_id"] == ids[1] and hit["content"] == text
    assert all("purr" not in h["content"] for h in _top(client, "cats purr felines"))


def test_retrieve_sees_delete_document(seeded):
    client, ids = seeded
    client.delete_document(ids[0])
    assert all(h["document_id"] != ids[0] for h in _top(client, "spark shuffles data"))


def test_retrieve_sees_move_folder(seeded):
    client, ids = seeded
    client.move_folder("/corp/docs", "/corp/archive")
    moved = _top(client, "spark shuffles data", folder_path="/corp/archive", folder_depth=-1)
    assert moved and moved[0]["document_id"] == ids[0]
    assert _top(client, "spark shuffles data", folder_path="/corp/docs", folder_depth=-1) == []


def test_retrieve_sees_external_spark_append(spark, seeded):
    client, ids = seeded
    text = "an appended chunk written by another spark job"
    row = [(ids[2], 99, text, client._embed_text(text), "app1", "/corp/docs")]
    spark.createDataFrame(row, client.chunks().schema).write.mode("append").parquet(
        client._path("chunks")
    )
    hit = _top(client, text)[0]
    assert (hit["document_id"], hit["chunk_number"]) == (ids[2], 99)
    assert hit["score"] == pytest.approx(1.0)


def test_retrieve_sees_a_file_written_outside_spark(seeded):
    """A writer Spark's own cache refresh never hears of (another process,
    another engine): only the fingerprint can notice it."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    client, ids = seeded
    text = "a chunk file dropped in by a non-spark writer"
    table = pa.table(
        {
            "document_id": [ids[2]],
            "chunk_number": pa.array([77], pa.int32()),
            "content": [text],
            "embedding": [client._embed_text(text)],
            "app_id": ["app1"],
            "folder_path": ["/corp/docs"],
        }
    )
    pq.write_table(table, os.path.join(client._path("chunks"), "part-external.parquet"))
    hit = _top(client, text)[0]
    assert (hit["document_id"], hit["chunk_number"]) == (ids[2], 77)


def test_retrieve_sees_second_facade_write(spark, seeded):
    client, _ids = seeded
    other = _client(spark, client.root)
    text = "lighthouses guide ships along rocky coasts"
    (new_id,) = other.ingest_texts([text], auth=AUTH, folder_path="/corp/docs")
    assert _top(client, text)[0]["document_id"] == new_id
    # and back: the second facade sees the first one's delete
    client.delete_document(new_id)
    assert all(h["document_id"] != new_id for h in _top(other, text))


def test_second_facade_never_adopts_a_stale_cached_frame(spark, seeded):
    """Spark's cache is session-wide and matches a cached plan by its table
    path, not by its file listing: a fresh facade's serving frame over the
    same path must not pick up the first facade's cache of an older
    snapshot. The updated document stays authorized, so only the cached
    chunk rows could hide the change."""
    client, ids = seeded
    text = "quantum tunnelling through potential barriers"
    client.update_document_text(ids[1], text)
    other = _client(spark, client.root)
    hit = _top(other, text)[0]
    assert hit["document_id"] == ids[1] and hit["content"] == text
    assert all("purr" not in h["content"] for h in _top(other, "cats purr felines"))
    # and the first facade, whose own cache predates the update, agrees
    assert _top(client, text)[0]["content"] == text


def test_superseded_serving_frame_is_unpersisted(seeded):
    client, _ids = seeded
    old = client._serving_chunks()
    assert old.is_cached
    assert client._serving_chunks() is old  # unchanged store: same frame
    client.ingest_texts(["a new document about volcanoes"], auth=AUTH)
    new = client._serving_chunks()
    assert new is not old and new.is_cached and not old.is_cached


def test_unchanged_store_keeps_its_frames(seeded):
    client, _ids = seeded
    assert client.documents() is client.documents()
    assert client.chunks() is client.chunks()


# ------------------------------------------------------------- scoring


def test_precomputed_norm_score_is_bit_identical(spark):
    rng = random.Random(7)
    dims = 9
    vecs = [[rng.uniform(-4.0, 4.0) * rng.choice([0.01, 1.0, 30.0]) for _ in range(dims)] for _ in range(60)]
    vecs.append([0.0] * dims)  # zero stored vector: NULL score
    df = spark.createDataFrame([(i, v) for i, v in enumerate(vecs)], "id int, embedding array<double>")
    df = df.withColumn("embedding_norm", l2_norm(F.col("embedding")))
    for q in ([rng.uniform(-2.0, 2.0) for _ in range(dims)], [0.0] * dims):
        old = retrieval_score(F.col("embedding"), F.lit(q).cast("array<double>"))
        want = {r.id: r.s for r in df.select("id", old.alias("s")).collect()}
        for norm_col in ("embedding_norm", None):
            got = {r.id: r.score for r in score_chunks(df, q, norm_col=norm_col).select("id", "score").collect()}
            assert got == want  # exact, NULLs included
        assert want[len(vecs) - 1] is None
        if not any(q):
            assert set(want.values()) == {None}
        else:
            assert None not in [want[i] for i in range(len(vecs) - 1)]


def test_vector_literal_and_norm_match_the_jvm(spark):
    rng = random.Random(11)
    q = [rng.uniform(-3.0, 3.0) for _ in range(768)] + [-0.0, 5e-324, 1e300]
    row = spark.range(1).select(
        vector_literal(q).alias("v"), l2_norm(F.lit(q[:768]).cast("array<double>")).alias("n")
    ).collect()[0]
    assert row.v == q
    assert row.n == vector_norm(q[:768])


def test_row_bound_answers_only_small(spark):
    """The documents-snapshot row count bounds the authorized set from
    above: at or below the threshold it skips the probe, above it the
    probe decides, so a small set in a large table still broadcasts."""
    from morphik_core_spark.operators.retrieval import scoped_chunks

    chunks = spark.createDataFrame([(i, i % 10) for i in range(200)], "chunk_id int, document_id int")
    auth = spark.createDataFrame([(i,) for i in range(10)], "document_id int")
    sc = spark.sparkContext

    def plan_and_jobs(bound):
        group = f"row-bound-{bound}"
        sc.setJobGroup(group, group)
        try:
            plan = scoped_chunks(chunks, auth, broadcast_threshold=100, auth_rows_bound=bound)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        executed = plan._jdf.queryExecution().executedPlan().toString()
        return executed, len(sc.statusTracker().getJobIdsForGroup(group))

    executed, jobs = plan_and_jobs(50)
    assert "BroadcastHashJoin" in executed and jobs == 0
    executed, jobs = plan_and_jobs(10_000)
    assert "BroadcastHashJoin" in executed and jobs >= 1  # the probe ran
    big = spark.createDataFrame([(i,) for i in range(150)], "document_id int")
    executed = scoped_chunks(chunks, big, broadcast_threshold=100, auth_rows_bound=10_000)
    assert "BroadcastHashJoin" not in executed._jdf.queryExecution().executedPlan().toString()


# ---------------------------------------------------------- served rows


def test_served_rows_carry_no_vectors(seeded):
    client, _ids = seeded
    rows = _top(client, "spark shuffles data")
    assert rows
    for r in rows:
        assert "embedding" not in r and "embedding_norm" not in r
        assert {"document_id", "chunk_number", "content", "score", "filename", "metadata"} <= set(r)
    docs = client.retrieve_docs("catalyst physical plans", k=2, auth=AUTH)
    assert docs and all("embedding" not in d for d in docs)
    grouped = client.retrieve_chunks_grouped("catalyst physical plans", k=2, padding=1, auth=AUTH)
    assert grouped["groups"] and all("embedding" not in r for r in grouped["chunks"])


# ------------------------------------------------------------ job budget


def test_warm_retrieve_runs_at_most_three_jobs(spark, seeded):
    client, _ids = seeded
    query = dict(k=3, auth=AUTH, filters={"topic": "engine"}, folder_path="/corp", folder_depth=-1)
    client.retrieve_chunks("catalyst optimizes plans", **query)  # warm this shape
    sc = spark.sparkContext
    sc.setJobGroup("warm-retrieve", "warm retrieve")
    try:
        hits = client.retrieve_chunks("catalyst optimizes plans", **query)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert hits
    jobs = sc.statusTracker().getJobIdsForGroup("warm-retrieve")
    assert len(jobs) <= 3, f"warm retrieve ran {len(jobs)} Spark jobs"
