"""The artifact warehouse: derived tables that many queries share
(chunk embeddings, the token index, the co-purchase graph, ANN models,
dedup clusters, ...) are built once per input content and then served
as parquet reads.

Modes (``SPARK_GRAFT_ARTIFACTS``):

- ``warm`` (default): serve each artifact from the durable warehouse,
  building it on first touch.
- ``off``: derive every artifact inline. Nothing is read from or
  written to the warehouse and no content signature is computed; each
  table is ``localCheckpoint(eager=False)``'d where the warm build has
  its write/read boundary, so a run still computes it once.

Both modes compute the same tables. A cold build is a warm run against
an empty warehouse: point ``SPARK_GRAFT_WAREHOUSE`` at a fresh
directory.

Layout: the warehouse root (``$SPARK_GRAFT_WAREHOUSE``, default
``<repo>/spark-warehouse/artifacts``) holds one directory per input
signature: ``corpus-<key>`` (documents), ``graph-<key>`` (lineitem),
``vectors-<key>`` (embeddings) and ``linkage-<key>`` (customer). A key
is the row count plus an order-insensitive xxhash64 sum over the
columns the artifacts consume, so a changed input maps to a new
directory and stale tables are never served. Inside it, an artifact is
a directory with one ``<table>/`` per table plus a ``MANIFEST.json``.
The manifest is written last, in one atomic replace
(plans/manifest.py), so a crashed build stays invisible and its retry
overwrites the staged tables.

Adding an artifact is one `materialize` call: a root (a thunk, so off
mode never resolves it) and ``{table: builder}``, where each builder
receives the tables built before it.
"""

from __future__ import annotations

import functools
import hashlib
import os
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from commercial_rfp_data_pipeline_spark.io import load_table
from commercial_rfp_data_pipeline_spark.plans.index_lifecycle import (
    build_chunks,
    build_embedding_parts,
    build_embeddings,
)
from commercial_rfp_data_pipeline_spark.plans.manifest import (
    commit_manifest,
    read_manifest,
)

Tables = dict[str, DataFrame]

_SIG_CACHE: dict[tuple[str, float], str] = {}


def artifacts_mode() -> str:
    """``SPARK_GRAFT_ARTIFACTS``: ``warm`` (default) or ``off``; see the
    module docstring."""
    m = (
        os.environ.get("SPARK_GRAFT_ARTIFACTS", "warm").strip().lower()
        or "warm"
    )
    if m not in ("warm", "off"):
        raise ValueError(f"SPARK_GRAFT_ARTIFACTS must be warm|off, got {m!r}")
    return m


def materialize(
    spark: SparkSession,
    root: Callable[[], str],
    builders: dict[str, Callable[[Tables], DataFrame]],
    manifest: Callable[[Tables], dict] | None = None,
    stat: str | None = None,
    serve: Callable[[str, dict], tuple[DataFrame, ...]] | None = None,
    partition_by: dict[str, str] | None = None,
) -> tuple[DataFrame, ...] | int:
    """Ensure the artifact at ``root()`` and return its tables, in
    ``builders`` order.

    Builders run in order; each receives the tables built before it.
    Warm mode writes each table to ``root/<table>`` (partitioned by
    ``partition_by[table]`` when given) and reads it back, then
    publishes them all with one manifest commit that also records
    ``manifest(tables)``. An artifact whose manifest is already
    committed is served by reading its tables, or by
    ``serve(root, manifest)`` for a layout the manifest resolves. Off
    mode checkpoints each table lazily and never calls ``root``.

    With ``stat``, return that entry of ``manifest(tables)`` instead:
    the committed literal when there is one, otherwise computed over
    the tables (off mode, or a manifest written before the entry
    existed)."""
    tables: Tables = {}
    if artifacts_mode() == "off":
        for name, build in builders.items():
            tables[name] = build(tables).localCheckpoint(eager=False)
        return manifest(tables)[stat] if stat else tuple(tables.values())
    path = root()
    m = read_manifest(path)
    if m is None:
        for name, build in builders.items():
            writer = build(tables).write.mode("overwrite")
            if partition_by and name in partition_by:
                writer = writer.partitionBy(partition_by[name])
            writer.parquet(os.path.join(path, name))
            tables[name] = spark.read.parquet(os.path.join(path, name))
        m = {"tables": list(builders), **(manifest(tables) if manifest else {})}
        commit_manifest(path, m)
    if stat and stat in m:
        return int(m[stat])
    if serve:
        return serve(path, m)
    tables = tables or {
        name: spark.read.parquet(os.path.join(path, name)) for name in builders
    }
    return manifest(tables)[stat] if stat else tuple(tables.values())


def _table_key(
    spark: SparkSession, sf_dir: str, table: str, cols: list[str]
) -> str:
    """Content signature of the ``cols`` an artifact consumes from
    ``table``: row count + order-insensitive xxhash64 sum. One narrow
    scan on first touch per (path, mtime), cached in-process after."""
    ck = (
        os.path.join(sf_dir, f"__{table}__" + ",".join(cols)),
        _table_mtime(sf_dir, table),
    )
    hit = _SIG_CACHE.get(ck)
    if hit is not None:
        return hit
    # decimal(38,0) accumulation: a long sum of xxhash64 values
    # overflows (a hard error under ANSI mode, silent wrap otherwise)
    sig = (
        load_table(spark, sf_dir, table)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h"),
        )
        .collect()[0]
    )
    key = hashlib.md5(f"{sig['n']}:{sig['h']}".encode()).hexdigest()[:16]
    _SIG_CACHE[ck] = key
    return key


def _table_mtime(sf_dir: str, name: str) -> float:
    p = os.path.join(sf_dir, f"{name}.parquet")
    try:
        return os.path.getmtime(p)
    except OSError:
        return 0.0


def corpus_key(spark: SparkSession, sf_dir: str) -> str:
    """Signature of the documents table (doc_id, text)."""
    return _table_key(spark, sf_dir, "documents", ["doc_id", "text"])


def lineitem_key(spark: SparkSession, sf_dir: str) -> str:
    """Signature of the lineitem columns the graph family consumes."""
    return _table_key(spark, sf_dir, "lineitem", ["l_orderkey", "l_partkey"])


def orders_key(spark: SparkSession, sf_dir: str) -> str:
    """Signature of the orders columns the bipartite artifact consumes:
    the edge list joins orders, so an orders-only change (a custkey
    remap, a partial regeneration) must re-key it even when lineitem is
    unchanged."""
    return _table_key(spark, sf_dir, "orders", ["o_orderkey", "o_custkey"])


def part_nodes_key(spark: SparkSession, sf_dir: str) -> str:
    """Signature of the part column the LPA label artifact takes its
    node set from: a parts-only change must re-key the labels even when
    lineitem, and so the graph warehouse, is unchanged."""
    return _table_key(spark, sf_dir, "part", ["p_partkey"])


def customer_linkage_key(spark: SparkSession, sf_dir: str) -> str:
    """Signature of the customer columns the fuzzy-linkage family
    consumes (key, name, nation block)."""
    return _table_key(
        spark, sf_dir, "customer", ["c_custkey", "c_name", "c_nationkey"]
    )


def embeddings_key(spark: SparkSession, sf_dir: str) -> str:
    """Signature of the embeddings table the ANN-model artifacts
    consume (vec_id + vector + label; label participates because the
    filtered-search artifacts store it in the cell layout)."""
    return _table_key(
        spark, sf_dir, "embeddings", ["vec_id", "embedding", "label"]
    )


def warehouse_root() -> str:
    env = os.environ.get("SPARK_GRAFT_WAREHOUSE")
    if env:
        return env
    repo = os.path.dirname(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    root = os.path.join(repo, "spark-warehouse", "artifacts")
    # registry queries are the first writers of durable artifacts: if
    # the package lives on a read-only checkout, fall back to a
    # per-user tmp warehouse instead of failing every consumer
    try:
        os.makedirs(root, exist_ok=True)
        probe = os.path.join(root, ".write_probe")
        with open(probe, "w") as f:
            f.write("ok")
        os.remove(probe)
        return root
    except OSError:
        import tempfile

        return os.path.join(
            tempfile.gettempdir(), "spark_graft_artifacts"
        )


def corpus_warehouse(spark: SparkSession, sf_dir: str) -> str:
    return os.path.join(
        warehouse_root(), f"corpus-{corpus_key(spark, sf_dir)}"
    )


def graph_warehouse(spark: SparkSession, sf_dir: str) -> str:
    return os.path.join(
        warehouse_root(), f"graph-{lineitem_key(spark, sf_dir)}"
    )


def vector_warehouse(spark: SparkSession, sf_dir: str) -> str:
    return os.path.join(
        warehouse_root(), f"vectors-{embeddings_key(spark, sf_dir)}"
    )


def ensure_chunk_embeddings(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(chunks, parts, embeddings) for the corpus at ``sf_dir``.
    ``parts`` is the pre-normalization (chunk_id, _arr, _norm) form for
    consumers that reshape the vector; ``embeddings`` is the normalized
    (chunk_id, embedding) table the cosine kernels read."""
    return materialize(
        spark,
        lambda: os.path.join(corpus_warehouse(spark, sf_dir), "chunk_emb"),
        {
            "chunks": lambda t: build_chunks(spark, sf_dir),
            "emb_parts": lambda t: build_embedding_parts(t["chunks"]),
            "embeddings": lambda t: build_embeddings(t["chunks"]),
        },
    )


def _token_index(
    spark: SparkSession,
    sf_dir: str,
    k: int,
    emb_dim: int,
    stat: str | None = None,
):
    from commercial_rfp_data_pipeline_spark.operators.textops import (
        shingles,
    )

    def tokemb(t: Tables) -> DataFrame:
        m = F.md5(F.col("tok"))
        emb = F.array(
            *[
                F.conv(F.substring(m, 2 * j + 1, 2), 16, 10).cast("double")
                - F.lit(127.5)
                for j in range(emb_dim)
            ]
        )
        return t["toks"].select("tok").distinct().select("tok", emb.alias("emb"))

    return materialize(
        spark,
        lambda: os.path.join(
            corpus_warehouse(spark, sf_dir), f"token_index_k{k}_d{emb_dim}"
        ),
        {
            "toks": lambda t: shingles(
                load_table(spark, sf_dir, "documents"), k=k
            )
            .select("doc_id", F.col("sh").alias("tok"))
            .distinct(),
            "df": lambda t: t["toks"]
            .groupBy("tok")
            .agg(F.count(F.lit(1)).alias("df")),
            "tokemb": tokemb,
        },
        manifest=lambda t: {
            "n_docs": t["toks"].select("doc_id").distinct().count()
        },
        stat=stat,
    )


def ensure_token_index(
    spark: SparkSession, sf_dir: str, k: int = 3, emb_dim: int = 8
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Token-level retrieval artifacts for the late-interaction family:
    (toks, df, tokemb) where toks = distinct (doc_id, tok) word-k-gram
    postings, df = per-token document frequency, tokemb = one
    deterministic md5-byte embedding per DISTINCT token. These are the
    tables a ColBERT-style serving stack materializes once per corpus
    (the token index + token-vector store); per-query work is then
    candidate joins + MaxSim over candidates only."""
    return _token_index(spark, sf_dir, k, emb_dim)


def token_index_n_docs(
    spark: SparkSession, sf_dir: str, k: int = 3, emb_dim: int = 8
) -> int:
    """Corpus doc count (docs with >= 1 token) from the token-index
    manifest: a literal instead of a per-query countDistinct scan."""
    return _token_index(spark, sf_dir, k, emb_dim, stat="n_docs")


def _wedges(li: DataFrame) -> DataFrame:
    """Symmetric co-purchase edges (src, dst, w, w_dist) of a lineitem
    frame: one self-join on the order key, pre-collapsed through a
    multiplicity aggregate so the join runs on the distinct
    (order, part) table and w = sum(m_a * m_b) is the raw-pair count."""
    lp = li.groupBy("l_orderkey", "l_partkey").agg(
        F.count(F.lit(1)).alias("m")
    )
    a, b = lp.alias("a"), lp.alias("b")
    return (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") != F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("src"),
            F.col("b.l_partkey").alias("dst"),
        )
        .agg(
            F.sum(F.col("a.m") * F.col("b.m")).alias("w"),
            F.count(F.lit(1)).alias("w_dist"),
        )
    )


def _copurchase(
    spark: SparkSession,
    sf_dir: str,
    wedges: Callable[[Tables], DataFrame] | None = None,
    stat: str | None = None,
):
    return materialize(
        spark,
        lambda: os.path.join(graph_warehouse(spark, sf_dir), "copurchase"),
        {
            "wedges": wedges
            or (lambda t: _wedges(load_table(spark, sf_dir, "lineitem"))),
            "degrees": lambda t: t["wedges"]
            .groupBy(F.col("src").alias("id"))
            .agg(F.count(F.lit(1)).alias("d")),
        },
        manifest=lambda t: {"n_edges": t["wedges"].count()},
        stat=stat,
    )


def ensure_copurchase_graph(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """Co-purchase graph for the corpus at ``sf_dir``: (wedges, degrees).

    ``wedges``: the SYMMETRIC weighted edge list (src, dst, w, w_dist)
    where ``w`` = raw co-occurrence multiplicity (every lineitem pair
    sharing an order — the `weighted_pagerank` semantics) and
    ``w_dist`` = number of DISTINCT shared orders (the tie-strength
    `kcore` semantics). Every graph query's edge set derives without
    touching lineitem again:

    - directed distinct edges  = wedges.select(src, dst)
    - undirected (u < v) edges = wedges.filter(src < dst)
    - weighted edges           = wedges.select(src, dst, w)
    - tie-strength >= t edges  = wedges.filter(w_dist >= t)

    ``degrees``: (id, d) distinct-neighbor degree, stored so the
    triangle orientation and link-prediction scoring read it instead
    of recounting."""
    return _copurchase(spark, sf_dir)


def copurchase_n_edges(spark: SparkSession, sf_dir: str) -> int:
    """Directed symmetric edge count from the co-purchase manifest (a
    literal, not a scan). Consumers use it to pick a physical strategy
    (e.g. broadcast vs partitioned closure join in the triangle count)
    without an extra job."""
    return _copurchase(spark, sf_dir, stat="n_edges")


def append_to_copurchase_graph(
    spark: SparkSession,
    base_sf_dir: str,
    delta_li: DataFrame,
    out_sf_dir: str,
) -> tuple[DataFrame, DataFrame]:
    """Incrementally maintain the co-purchase graph: given the PREVIOUS
    corpus snapshot at ``base_sf_dir`` and the ingest batch
    ``delta_li`` of NEW lineitem rows, publish the artifact for the
    UPDATED corpus at ``out_sf_dir`` (= base + delta, as ingest laid it
    down) by merging the delta's edges into the stored edge table. The
    result equals a full rebuild and is registered under the content
    key `ensure_copurchase_graph` computes for ``out_sf_dir``, so every
    graph consumer serves it unchanged.

    Precondition (the dedup index's whole-batch discipline): the delta
    consists of WHOLE orders. Co-purchase pairs share an l_orderkey, so
    when an order's lineitems land in one batch no edge spans base and
    delta and the merge is exact: merged w / w_dist = base ⊎ delta
    summed per (src, dst). An order split across batches would
    undercount its cross-batch pairs; checking disjointness would cost
    the base-table scan this function exists to avoid, so ingest owns
    that invariant.

    Scale: the delta self-join runs on the DELTA only; the merge is one
    full-outer equi-join on (src, dst) over the stored OUTPUT table,
    never the accumulated input.

    Returns the served (wedges, degrees) for ``out_sf_dir``. An
    existing target artifact is served as-is; the base artifact is
    ensured (built if absent) only when the target is built."""

    def merged(t: Tables) -> DataFrame:
        base = ensure_copurchase_graph(spark, base_sf_dir)[0].alias("base")
        d = _wedges(delta_li).alias("d")
        return base.join(d, ["src", "dst"], "full_outer").select(
            "src",
            "dst",
            (
                F.coalesce(F.col("base.w"), F.lit(0))
                + F.coalesce(F.col("d.w"), F.lit(0))
            ).alias("w"),
            (
                F.coalesce(F.col("base.w_dist"), F.lit(0))
                + F.coalesce(F.col("d.w_dist"), F.lit(0))
            ).alias("w_dist"),
        )

    return _copurchase(spark, out_sf_dir, merged)


def ensure_lpa_labels(
    spark: SparkSession, sf_dir: str, n_iters: int = 2
) -> DataFrame:
    """LPA community-label table (id, community) over the co-purchase
    graph — the maintained community assignment a production graph
    stack keeps next to its edge table. `label_propagation_communities`
    and `community_modularity` derive from the identical 2-round
    propagation, so it is built once per (lineitem, part) content
    signature. Oracles still state the full unrolled LPA CTE chain, so
    every green verify proves artifact == inline."""
    from commercial_rfp_data_pipeline_spark.operators.graph import (
        label_propagation,
    )

    return materialize(
        spark,
        lambda: os.path.join(
            graph_warehouse(spark, sf_dir),
            f"lpa{n_iters}-{part_nodes_key(spark, sf_dir)}",
        ),
        {
            "labels": lambda t: label_propagation(
                load_table(spark, sf_dir, "part").select(
                    F.col("p_partkey").alias("id")
                ),
                ensure_copurchase_graph(spark, sf_dir)[0].select("src", "dst"),
                n_iters=n_iters,
                n_edges=copurchase_n_edges(spark, sf_dir),
            )
        },
    )[0]


def _bipartite_edges(orders: DataFrame, li: DataFrame) -> DataFrame:
    """DISTINCT customer->part purchase edges (src, dst) of an orders ⨝
    lineitem pair of frames."""
    return (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(F.col("o_custkey").alias("src"), F.col("l_partkey").alias("dst"))
        .distinct()
    )


def _bipartite(
    spark: SparkSession,
    sf_dir: str,
    edges: Callable[[Tables], DataFrame] | None = None,
    stat: str | None = None,
):
    # keyed by BOTH inputs: the warehouse dir carries the lineitem key
    # and the artifact dir the orders key
    return materialize(
        spark,
        lambda: os.path.join(
            graph_warehouse(spark, sf_dir),
            f"bipartite-{orders_key(spark, sf_dir)}",
        ),
        {
            "edges": edges
            or (
                lambda t: _bipartite_edges(
                    load_table(spark, sf_dir, "orders"),
                    load_table(spark, sf_dir, "lineitem"),
                )
            )
        },
        manifest=lambda t: {"n_edges": t["edges"].count()},
        stat=stat,
    )


def ensure_purchase_bipartite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT customer->part purchase edge list (src, dst), the HITS
    bipartite graph."""
    return _bipartite(spark, sf_dir)[0]


def bipartite_n_edges(spark: SparkSession, sf_dir: str) -> int:
    """Distinct bipartite edge count from the manifest (a literal, not
    a scan). The HITS consumer uses it to pick the driver-side
    small-graph fast path without an extra job."""
    return _bipartite(spark, sf_dir, stat="n_edges")


def append_to_purchase_bipartite(
    spark: SparkSession,
    base_sf_dir: str,
    delta_orders: DataFrame,
    delta_li: DataFrame,
    out_sf_dir: str,
) -> DataFrame:
    """Incremental maintenance for the HITS bipartite artifact (the
    customer→part twin of `append_to_copurchase_graph`): join the
    ingest batch's orders × lineitem (delta-only — bipartite edges join
    through o_orderkey, so whole-order batches never form an edge
    across base and delta), then merge into the stored DISTINCT edge
    list with a union + distinct over the OUTPUT table, and publish
    under the combined corpus's key that `ensure_purchase_bipartite`
    computes. O(|E| + |delta edges|), never the accumulated input."""
    return _bipartite(
        spark,
        out_sf_dir,
        lambda t: ensure_purchase_bipartite(spark, base_sf_dir)
        .unionByName(_bipartite_edges(delta_orders, delta_li))
        .distinct(),
    )[0]


def ensure_fuzzy_customer_pairs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """VERIFIED fuzzy-pair table for the customer corpus at ``sf_dir``:
    (id_a, id_b, name_a, name_b, dist) with id_a < id_b, nation-blocked,
    levenshtein <= 1 — `operators/linkage.py`'s `fuzzy_pairs` output,
    which the all-pairs DuckDB oracle proves exhaustive on every green
    verify. Consumers (`entity_resolution_customers`,
    `fuzzy_name_pairs`) read it and compose their own downstream steps.

    At 100 TB this is the materialized candidate/verified-match table
    every production MDM/linkage stack maintains; re-deriving the
    deletion-neighborhood join per query would re-shuffle the exploded
    (len+1)-fanout key stream each time."""
    from commercial_rfp_data_pipeline_spark.operators.linkage import (
        fuzzy_pairs,
    )

    return materialize(
        spark,
        lambda: os.path.join(
            warehouse_root(), f"linkage-{customer_linkage_key(spark, sf_dir)}"
        ),
        {
            "pairs": lambda t: fuzzy_pairs(
                load_table(spark, sf_dir, "customer"),
                id_col="c_custkey",
                name_col="c_name",
                block_cols=["c_nationkey"],
            )
        },
    )[0]


def ensure_customer_entity_clusters(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """(c_custkey, cluster_id) entity clusters over the verified fuzzy
    pairs. The CC fixpoint over the fuzzy-name chain components runs
    ~28 label-propagation rounds (consecutive customer numbers are all
    lev-1 neighbors, so components are thousands-long chains); a
    production MDM/linkage stack keeps the resolved entity-cluster
    table as state, like the document dedup index.

    Keyed under the same linkage-{customer signature} root as the
    pairs, so any change to the consumed customer columns re-keys
    both. The entity_resolution_customers oracle still states the full
    inline derivation (pairs CTE + recursive reachability), so every
    green verify proves artifact == inline end-to-end."""
    from commercial_rfp_data_pipeline_spark.operators.dedup import (
        dup_clusters,
    )

    return materialize(
        spark,
        lambda: os.path.join(
            warehouse_root(),
            f"linkage-{customer_linkage_key(spark, sf_dir)}",
            "clusters",
        ),
        {
            "labels": lambda t: dup_clusters(
                load_table(spark, sf_dir, "customer").select("c_custkey"),
                ensure_fuzzy_customer_pairs(spark, sf_dir),
                id_col="c_custkey",
                a_col="id_a",
                b_col="id_b",
            )
        },
    )[0]


def ensure_audio_phash(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """(hashes, clusters) for the audio perceptual chain: hashes =
    (doc_id, ahash) from the envelope aHash over real decoded WAV
    bytes; clusters = (doc_id, cluster_id) from distinct-hash-level CC
    at Hamming <= 6. The oracle still restates the full inline
    derivation (closed-form samples -> energies -> bits -> brute-forced
    pairs -> recursive closure), so every green verify proves
    artifact == inline end to end."""
    from commercial_rfp_data_pipeline_spark.operators.multimodal import (
        AHASH_HAM_T,
        ahash_neardup_clusters,
        perceptual_ahash_audio_envelope,
        synth_wav_corpus,
    )

    return materialize(
        spark,
        lambda: os.path.join(corpus_warehouse(spark, sf_dir), "audio_phash_v1"),
        {
            "hashes": lambda t: perceptual_ahash_audio_envelope(
                synth_wav_corpus(load_table(spark, sf_dir, "documents"))
            ),
            "clusters": lambda t: ahash_neardup_clusters(
                t["hashes"], max_hamming=AHASH_HAM_T
            ),
        },
    )


def ensure_image_phash(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """(ahash, dhash, pairs, clusters) for the IMAGE perceptual chain:
    ahash/dhash = (doc_id, <hex>, bits, bands); pairs =
    `phash_agreement_pairs` (doc_a, doc_b, ham_ahash, ham_dhash), every
    pair either method flags at Hamming <= 6; clusters = (doc_id,
    cluster_id) CC over the aHash-flagged pairs with ALL docs as nodes
    (singletons included). The serving queries' oracles still restate
    the full inline derivation (grid -> bits -> brute-forced all-pairs
    -> recursive closure), so every green verify proves artifact ==
    inline end to end."""
    from commercial_rfp_data_pipeline_spark.operators.dedup import (
        dup_clusters,
    )
    from commercial_rfp_data_pipeline_spark.operators.multimodal import (
        AHASH_HAM_T,
        attach_binary,
        perceptual_ahash,
        perceptual_dhash,
        phash_agreement_pairs,
    )

    docs = functools.cache(lambda: load_table(spark, sf_dir, "documents"))
    binary = functools.cache(lambda: attach_binary(docs()))
    return materialize(
        spark,
        lambda: os.path.join(corpus_warehouse(spark, sf_dir), "image_phash_v1"),
        {
            "ahash": lambda t: perceptual_ahash(binary()),
            "dhash": lambda t: perceptual_dhash(binary()),
            "pairs": lambda t: phash_agreement_pairs(
                t["ahash"], t["dhash"], max_hamming=AHASH_HAM_T
            ),
            "clusters": lambda t: dup_clusters(
                docs().select("doc_id"),
                t["pairs"].filter(F.col("ham_ahash") <= AHASH_HAM_T),
            ),
        },
    )


def ensure_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verified word-3-gram Jaccard pair table at the shared registry
    operating point (threshold 1/2, max_doc_freq 100): the PPJoin
    prefix-filter join + exact verify is the dominant cost of both
    `jaccard_prefix_filter_pairs` and `split_leakage_neardup`. Both
    servers' oracles restate the full postings derivation, so every
    green verify proves stored == inline."""
    from commercial_rfp_data_pipeline_spark.operators.textops import (
        jaccard_prefix_filter_pairs,
    )

    def pairs(t: Tables) -> DataFrame:
        toks, dft, _ = ensure_token_index(spark, sf_dir, k=3)
        return jaccard_prefix_filter_pairs(
            None,
            t_num=1,
            t_den=2,
            max_doc_freq=100,
            distinct_sh=toks.select("doc_id", F.col("tok").alias("sh")),
            dft=dft.select(F.col("tok").alias("sh"), "df"),
        )

    return materialize(
        spark,
        lambda: os.path.join(
            corpus_warehouse(spark, sf_dir), "jaccard_pairs_k3_t12_df100"
        ),
        {"pairs": pairs},
    )[0]


def _ann_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The registry-wide ANN input form: embeddings cast float->double
    (exact), labels kept."""
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias(
            "embedding"
        ),
        "label",
    )


def ensure_ivf_models(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """TRAINED coarse quantizer for the IVF family — (cents, asg) where
    cents = the 16 Lloyd centroids (seed "ivf", 2 rounds, 6-dp
    component rounding; columns cent_id, cent_vec, _cn) and asg = the
    full cell layout (vec_id, embedding, _n, cent_id, cent_sim, label),
    the same shape `ensure_ivf_index` materializes for the chunk store.
    `ivf_topk_search`, `ivf_filtered_topk`, `ivfpq_search_topk` and
    `semdedup_prune` share the training. At 100 TB the coarse quantizer
    is the canonical maintained index artifact (train once, serve
    forever; a changed embeddings table re-keys the warehouse). Every
    consumer's oracle still states the full inline Lloyd unroll, so
    green verify proves artifact == inline."""
    from commercial_rfp_data_pipeline_spark.operators.vector import (
        ivf_assign,
        ivf_centroids,
    )

    v = functools.cache(lambda: _ann_vectors(spark, sf_dir))
    return materialize(
        spark,
        lambda: os.path.join(vector_warehouse(spark, sf_dir), "ivf16_v1"),
        {
            "cents": lambda t: ivf_centroids(
                v().select("vec_id", "embedding"), n_centroids=16
            ),
            "asg": lambda t: ivf_assign(
                v().select("vec_id", "embedding"), cents=t["cents"]
            )
            .join(v().select("vec_id", "label"), "vec_id")
            .select("vec_id", "embedding", "_n", "cent_id", "cent_sim", "label"),
        },
    )


def ensure_pq_models(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """PQ codebooks + corpus codes (m_sub=4, k_codes=8, one Lloyd round,
    exact-decimal assignment distances) — the memory-side half of the
    IVF-PQ index, shared by `pq_adc_topk` and `ivfpq_search_topk`.
    books = (m, code_id, code_vec double[16]); codes = (vec_id, m,
    code). Consumers' oracles restate the full training CTE chain."""
    from commercial_rfp_data_pipeline_spark.operators.vector import (
        pq_codebooks,
        pq_encode,
    )

    v = functools.cache(
        lambda: _ann_vectors(spark, sf_dir).select("vec_id", "embedding")
    )
    return materialize(
        spark,
        lambda: os.path.join(vector_warehouse(spark, sf_dir), "pq_m4_k8_v1"),
        {
            "books": lambda t: pq_codebooks(v(), dim=64),
            "codes": lambda t: pq_encode(v(), t["books"], dim=64),
        },
    )


def ensure_knn_graph8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 8-NN base graph (src_id, nbr_id, sim, rnk) — the layer the
    navigable-graph ANN family (`knn_graph_edges`,
    `graph_ann_beam_topk`, `graph_ann_hnsw_topk`,
    `graph_ann_hnsw_deep_topk`) shares: the persisted half of any
    HNSW-style index. The upper-layer graphs stay inline: they are
    built over the ~n/16 (resp. n/8, n/64) promoted subsets, a <1%
    slice of the base-graph cost."""
    from commercial_rfp_data_pipeline_spark.operators.vector import (
        knn_graph,
    )

    return materialize(
        spark,
        lambda: os.path.join(vector_warehouse(spark, sf_dir), "knn_graph_m8_v1"),
        {
            "graph": lambda t: knn_graph(
                _ann_vectors(spark, sf_dir).select("vec_id", "embedding"), m=8
            )
        },
    )[0]


def ensure_nn_descent_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NN-descent approximate 8-NN graph (m=8, 2 rounds, 4-bit x
    6-table LSH init — the registry operating point),
    `nn_descent_graph`'s output state: the approximate build exists so
    billion-vector graphs are built once and then maintained, not
    rebuilt per read."""
    from commercial_rfp_data_pipeline_spark.operators.vector import (
        nn_descent_graph,
    )

    return materialize(
        spark,
        lambda: os.path.join(
            vector_warehouse(spark, sf_dir), "nn_descent_m8_t6_v1"
        ),
        {
            "graph": lambda t: nn_descent_graph(
                _ann_vectors(spark, sf_dir).select("vec_id", "embedding"),
                dim=64,
                m=8,
                rounds=2,
                n_tables=6,
            )
        },
    )[0]


def ensure_minhash_eval(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """(sigs, truth02) for the MinHash banding-evaluation pair
    (`minhash_band_eval`, `lsh_banding_parameter_sweep`): sigs = the
    8-seed MinHash signature table (doc_id, seed, mh) over word-3-gram
    shingles; truth02 = the exact df<=100-capped Jaccard >= 0.2 pair
    table both queries evaluate against, stored with its (common,
    jaccard) columns so `ngram_jaccard_pairs` serves from it too. All
    consumers' oracles restate the full shingle->minhash->band
    derivation."""
    from commercial_rfp_data_pipeline_spark.operators.textops import (
        jaccard_pairs,
        minhash_signatures,
        shingles,
    )

    sh = functools.cache(
        lambda: shingles(
            load_table(spark, sf_dir, "documents"),
            parallelism=spark.sparkContext.defaultParallelism,
        )
    )
    return materialize(
        spark,
        lambda: os.path.join(corpus_warehouse(spark, sf_dir), "minhash_eval_v1"),
        {
            "sigs": lambda t: minhash_signatures(sh()),
            "truth02": lambda t: jaccard_pairs(
                sh(), threshold=0.2, max_doc_freq=100
            ),
        },
    )


def ensure_clean_pool(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """(kept, clean) doc-id tables for the composed training pipelines:
    kept = docs surviving the Gopher repetition/symbol quality gate
    over the % 7 != 0 corpus split; clean = kept minus
    benchmark-contaminated docs (5-gram overlap vs the % 7 == 0 eval
    split). A production curation run writes the cleaned corpus
    between stages exactly once. Both pipelines' oracles restate the
    full quality + contamination CTE chains, so green verify proves
    artifact == inline."""
    from commercial_rfp_data_pipeline_spark.operators.textops import (
        contamination_overlap,
        repetition_features,
    )

    docs = functools.cache(lambda: load_table(spark, sf_dir, "documents"))

    def kept(t: Tables) -> DataFrame:
        corpus = docs().filter(F.col("doc_id") % 7 != 0).select("doc_id", "text")
        return corpus.join(
            repetition_features(corpus).filter("keep").select("doc_id"),
            "doc_id",
        )

    def clean(t: Tables) -> DataFrame:
        contaminated = (
            contamination_overlap(
                t["kept"], docs().filter(F.col("doc_id") % 7 == 0), k=5
            )
            .filter("contaminated")
            .select("doc_id")
        )
        return t["kept"].join(contaminated, "doc_id", "left_anti")

    return materialize(
        spark,
        lambda: os.path.join(corpus_warehouse(spark, sf_dir), "clean_pool_v1"),
        {"kept": kept, "clean": clean},
    )


def dedup_index_for(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """(fingerprints, clusters) of the corpus's dedup-cluster index
    (plans/dedup_index.py), kept in the corpus warehouse."""
    from commercial_rfp_data_pipeline_spark.plans.dedup_index import (
        ensure_dedup_index,
    )

    return ensure_dedup_index(
        spark,
        load_table(spark, sf_dir, "documents"),
        lambda: corpus_warehouse(spark, sf_dir),
    )
