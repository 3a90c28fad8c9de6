"""Round-8 LLM-pipeline additions: classifier-gate threshold economics,
vocabulary coverage, and dedup-cluster-aware reporting/packing served
from the DURABLE dedup index (plans/dedup_index.py).

Every query is oracle-backed; the cluster-based oracles restate the
full SimHash -> recursive-CTE connected-components chain, so a
hash-green result ALSO re-proves the durable index equals the fresh
chain on this corpus (the same receipts dedup_survivors carries)."""

from __future__ import annotations

from pyspark.sql import functions as F

from commercial_rfp_data_pipeline_spark.io import load_table
from commercial_rfp_data_pipeline_spark.queries.text_q import (
    _NORM,
    _PAIRS_SQL,
    _QUALITY_CTE,
    _SIMHASH_CTE,
)
from commercial_rfp_data_pipeline_spark.registry import query

# shared cluster-chain oracle prefix (simhash -> pairs -> CC -> sizes)
_CLUSTER_CTES = f"""
{_SIMHASH_CTE.strip()},
{_PAIRS_SQL.strip()},
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM pairs
),
reach(id, lbl) AS (
  SELECT doc_id AS id, doc_id AS lbl FROM documents
  UNION
  SELECT e.dst AS id, r.lbl FROM reach r JOIN edges e ON e.src = r.id
),
clusters AS (
  SELECT id AS doc_id, min(lbl) AS cluster_id FROM reach GROUP BY id
)
"""


@query(
    "classifier_threshold_sweep",
    f"""
    WITH {_QUALITY_CTE.strip()},
    th AS (SELECT k / 10.0 AS threshold
           FROM unnest(generate_series(1, 9)) t(k)),
    tot AS (SELECT count(*) AS n FROM documents)
    SELECT th.threshold,
           CAST(count(*) AS BIGINT) AS n_kept,
           round(count(*) / CAST(tot.n AS DOUBLE), 6) AS frac_kept,
           round(avg(CAST(q.quality_score AS DECIMAL(18,6))), 6)
             AS mean_quality_kept
    FROM qual q, th, tot
    WHERE q.quality_score >= th.threshold
    GROUP BY th.threshold, tot.n
    """,
)
def q_classifier_threshold_sweep(spark, sf_dir):
    """FineWeb-Edu-style gate calibration: for each candidate quality
    threshold, how much corpus survives and at what mean quality — the
    yield/quality curve a data team reads BEFORE committing a
    classifier cutoff (too high starves the token budget, too low
    admits junk). One quality pass, one broadcast of nine threshold
    rows; the sweep costs one aggregation regardless of corpus size."""
    from commercial_rfp_data_pipeline_spark.operators.textops import (
        quality_features,
    )

    docs = load_table(spark, sf_dir, "documents")
    q = quality_features(docs).select("doc_id", "quality_score")
    th = spark.range(1, 10).select((F.col("id") / 10.0).alias("threshold"))
    tot = q.agg(F.count(F.lit(1)).alias("_n"))
    return (
        q.crossJoin(F.broadcast(th))
        .filter(F.col("quality_score") >= F.col("threshold"))
        .groupBy("threshold")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.round(
                F.avg(F.col("quality_score").cast("decimal(18,6)")), 6
            )
            .cast("double")
            .alias("mean_quality_kept"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "threshold",
            "n_kept",
            F.round(F.col("n_kept") / F.col("_n"), 6).alias("frac_kept"),
            "mean_quality_kept",
        )
    )


@query(
    "vocab_coverage_curve",
    f"""
    WITH toks AS (
      SELECT unnest(string_split({_NORM}, ' ')) AS tok FROM documents
    ),
    counts AS (
      SELECT tok, count(*) AS cnt FROM toks WHERE length(tok) > 0
      GROUP BY tok
    ),
    tot AS (SELECT sum(cnt) AS n FROM counts),
    ranked AS (
      SELECT tok, cnt,
             row_number() OVER (ORDER BY cnt DESC, tok) AS rnk,
             sum(cnt) OVER (ORDER BY cnt DESC, tok
               ROWS UNBOUNDED PRECEDING) AS cum
      FROM counts
    )
    SELECT CAST(rnk AS INTEGER) AS rnk, tok, CAST(cnt AS BIGINT) AS cnt,
           round(cum / CAST(tot.n AS DOUBLE), 6) AS cum_frac
    FROM ranked, tot WHERE rnk <= 30
    """,
)
def q_vocab_coverage_curve(spark, sf_dir):
    """Tokenizer-vocabulary economics: frequency-ranked vocabulary with
    cumulative corpus coverage — the curve that decides how small a
    vocab (or how aggressive a truncation) still covers e.g. 95% of
    token occurrences; its tail is the OOV budget.

    Scale: the oracle states the naive global cumulative window; the
    engine runs the DISTRIBUTED prefix sum (range-exchange +
    per-partition windows + one metadata-sized offset combine), so no
    single reducer ever sorts the vocabulary."""
    from commercial_rfp_data_pipeline_spark.operators.ordered import (
        distributed_prefix_sum,
    )
    from commercial_rfp_data_pipeline_spark.operators.textops import (
        norm_text,
    )

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.split(norm_text("text"), " ")).alias("tok")
    ).filter(F.length("tok") > 0)
    counts = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    tot = counts.agg(F.sum("cnt").alias("_n"))
    pref = distributed_prefix_sum(
        counts,
        {"cum": F.col("cnt"), "ord": F.lit(1)},
        order_by=[F.col("cnt").desc(), F.col("tok")],
    )
    return (
        pref.filter(F.col("ord_incl") <= 30)
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("ord_incl").cast("int").alias("rnk"),
            "tok",
            "cnt",
            F.round(F.col("cum_incl") / F.col("_n"), 6).alias("cum_frac"),
        )
    )


@query(
    "cluster_size_histogram",
    f"""
    WITH RECURSIVE {_CLUSTER_CTES.strip()},
    sizes AS (
      SELECT cluster_id, count(*) AS sz FROM clusters GROUP BY cluster_id
    ),
    tot AS (SELECT count(*) AS n FROM documents)
    SELECT CAST(sz AS INTEGER) AS cluster_size,
           CAST(count(*) AS BIGINT) AS n_clusters,
           CAST(sum(sz) AS BIGINT) AS n_docs,
           round(sum(sz) / CAST(tot.n AS DOUBLE), 6) AS frac_docs
    FROM sizes, tot GROUP BY sz, tot.n
    """,
)
def q_cluster_size_histogram(spark, sf_dir):
    """Dedup diagnostics: the cluster-size distribution (how much of
    the corpus sits in singletons vs small families vs mega-clusters)
    — the first chart a dedup run is judged by, and the early-warning
    signal for threshold misconfiguration (a giant cluster means the
    similarity gate collapsed). Served from the DURABLE dedup index;
    the oracle brute-forces the full chain, re-proving index == fresh
    chain."""
    from commercial_rfp_data_pipeline_spark.plans.artifacts import (
        dedup_index_for,
    )

    _, clusters = dedup_index_for(spark, sf_dir)
    sizes = clusters.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("sz")
    )
    tot = clusters.agg(F.count(F.lit(1)).alias("_n"))
    return (
        sizes.groupBy("sz")
        .agg(
            F.count(F.lit(1)).alias("n_clusters"),
            F.sum("sz").alias("n_docs"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("sz").cast("int").alias("cluster_size"),
            "n_clusters",
            "n_docs",
            F.round(F.col("n_docs") / F.col("_n"), 6).alias("frac_docs"),
        )
    )


@query(
    "dedup_token_savings_by_source",
    f"""
    WITH RECURSIVE {_CLUSTER_CTES.strip()},
    {_QUALITY_CTE.strip()},
    member AS (
      SELECT c.cluster_id, c.doc_id, q.quality_score
      FROM clusters c JOIN qual q USING (doc_id)
    ),
    surv AS (
      SELECT doc_id FROM (
        SELECT doc_id, row_number() OVER (PARTITION BY cluster_id
               ORDER BY quality_score DESC, doc_id) AS rn
        FROM member
      ) WHERE rn = 1
    ),
    tk AS (
      SELECT doc_id, source,
             CASE WHEN length({_NORM}) = 0 THEN 0
                  ELSE len(string_split({_NORM}, ' ')) END AS n_tokens
      FROM documents
    )
    SELECT tk.source,
           CAST(count(*) AS BIGINT) AS docs_total,
           CAST(count(s.doc_id) AS BIGINT) AS docs_surviving,
           CAST(sum(tk.n_tokens) AS BIGINT) AS tokens_total,
           CAST(coalesce(sum(CASE WHEN s.doc_id IS NOT NULL
                THEN tk.n_tokens END), 0) AS BIGINT) AS tokens_surviving,
           round(1.0 - coalesce(sum(CASE WHEN s.doc_id IS NOT NULL
                 THEN tk.n_tokens END), 0)
                 / CAST(sum(tk.n_tokens) AS DOUBLE), 6) AS savings_frac
    FROM tk LEFT JOIN surv s USING (doc_id)
    GROUP BY tk.source
    """,
)
def q_dedup_token_savings(spark, sf_dir):
    """The dedup ROI report: per source, token volume before vs after
    survivor selection — what deduplication actually saves in training
    tokens (and which sources are duplicate-heavy enough to warrant
    upstream fixes). Clusters and survivors come from the durable
    dedup index; token counts are one narrow pass."""
    from commercial_rfp_data_pipeline_spark.operators.textops import (
        token_count,
    )
    from commercial_rfp_data_pipeline_spark.operators.dedup import (
        cluster_survivors,
    )
    from commercial_rfp_data_pipeline_spark.plans.artifacts import (
        dedup_index_for,
    )

    docs = load_table(spark, sf_dir, "documents")
    fp, clusters = dedup_index_for(spark, sf_dir)
    surv = cluster_survivors(
        clusters, fp.select("doc_id", "quality_score")
    ).select("doc_id", F.lit(1).alias("_s"))
    tk = docs.select(
        "doc_id", "source", token_count("text").alias("n_tokens")
    )
    return (
        tk.join(surv, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("docs_total"),
            F.count("_s").alias("docs_surviving"),
            F.sum("n_tokens").alias("tokens_total"),
            F.coalesce(
                F.sum(F.when(F.col("_s").isNotNull(), F.col("n_tokens"))),
                F.lit(0),
            ).alias("tokens_surviving"),
        )
        .select(
            "source",
            "docs_total",
            "docs_surviving",
            "tokens_total",
            "tokens_surviving",
            F.round(
                1.0
                - F.col("tokens_surviving")
                / F.col("tokens_total").cast("double"),
                6,
            ).alias("savings_frac"),
        )
    )


@query(
    "shard_cluster_colocation",
    f"""
    WITH RECURSIVE {_CLUSTER_CTES.strip()},
    {_QUALITY_CTE.strip()},
    member AS (
      SELECT c.cluster_id, c.doc_id, q.quality_score
      FROM clusters c JOIN qual q USING (doc_id)
    ),
    surv AS (
      SELECT cluster_id, doc_id AS surv_doc FROM (
        SELECT cluster_id, doc_id,
               row_number() OVER (PARTITION BY cluster_id
               ORDER BY quality_score DESC, doc_id) AS rn
        FROM member
      ) WHERE rn = 1
    ),
    tk AS (
      SELECT doc_id,
             CASE WHEN length({_NORM}) = 0 THEN 0
                  ELSE len(string_split({_NORM}, ' ')) END AS n_tokens
      FROM documents
    ),
    ctoks AS (
      SELECT c.cluster_id, sum(tk.n_tokens) AS cluster_tokens
      FROM clusters c JOIN tk USING (doc_id) GROUP BY c.cluster_id
    ),
    packed AS (
      SELECT s.cluster_id, s.surv_doc, ct.cluster_tokens,
             coalesce(sum(ct.cluster_tokens) OVER (ORDER BY s.surv_doc
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS tokens_before
      FROM surv s JOIN ctoks ct USING (cluster_id)
    )
    SELECT c.doc_id,
           c.cluster_id,
           CAST(floor(p.tokens_before / 4000.0) AS INTEGER) AS shard_id
    FROM clusters c JOIN packed p USING (cluster_id)
    """,
)
def q_shard_cluster_colocation(spark, sf_dir):
    """Near-dup-AWARE shard packing: whole duplicate clusters are
    assigned to shards (budgeted by the cluster's total tokens, packed
    in survivor-id order), so a near-dup family never straddles a
    shard boundary — the layout that keeps within-shard dedup exact
    and lets shard-local pipelines (tokenize-and-pack, loss masking)
    see every duplicate of a document together.

    Scale: cluster token sums are one groupBy; packing runs over the
    CLUSTER table (already ~corpus/dup-factor) via the distributed
    prefix sum; members inherit their cluster's shard through one
    equi-join. The oracle states the naive global window."""
    from commercial_rfp_data_pipeline_spark.operators.ordered import (
        distributed_prefix_sum,
    )
    from commercial_rfp_data_pipeline_spark.operators.textops import (
        token_count,
    )
    from commercial_rfp_data_pipeline_spark.operators.dedup import (
        cluster_survivors,
    )
    from commercial_rfp_data_pipeline_spark.plans.artifacts import (
        dedup_index_for,
    )

    docs = load_table(spark, sf_dir, "documents")
    fp, clusters = dedup_index_for(spark, sf_dir)
    surv = cluster_survivors(
        clusters, fp.select("doc_id", "quality_score")
    ).select("cluster_id", F.col("doc_id").alias("surv_doc"))
    tk = docs.select("doc_id", token_count("text").alias("n_tokens"))
    ctoks = (
        clusters.join(tk, "doc_id")
        .groupBy("cluster_id")
        .agg(F.sum("n_tokens").alias("cluster_tokens"))
    )
    packed = distributed_prefix_sum(
        surv.join(ctoks, "cluster_id"),
        {"t": F.col("cluster_tokens")},
        order_by=[F.col("surv_doc")],
    ).select(
        "cluster_id",
        F.floor(F.col("t_before") / 4000.0).cast("int").alias("shard_id"),
    )
    return clusters.join(packed, "cluster_id").select(
        "doc_id", "cluster_id", "shard_id"
    )
