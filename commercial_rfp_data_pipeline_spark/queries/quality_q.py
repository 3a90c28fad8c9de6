"""Pretraining data-hygiene queries over ``documents``: Gopher/C4
repetition filters, benchmark decontamination, PII redaction, tf-idf
keyword extraction — the filter/audit stages that run before dedup in
a real training-data pipeline (BASELINE.json extension surface), each
value-checked against a DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from commercial_rfp_data_pipeline_spark.io import load_table
from commercial_rfp_data_pipeline_spark.operators.textops import (
    PII_PATTERNS,
    contamination_overlap,
    redact_pii,
    repetition_features,
    tfidf_top_terms,
)
from commercial_rfp_data_pipeline_spark.registry import query

_NORM = "lower(trim(regexp_replace(CAST(text AS VARCHAR), '\\s+', ' ', 'g')))"


@query(
    "quality_repetition_filter",
    f"""
    WITH wl AS (SELECT doc_id, string_split({_NORM}, ' ') AS w FROM documents),
    g2 AS (
      SELECT doc_id, w[i] || ' ' || w[i+1] AS sh
      FROM (SELECT doc_id, w, unnest(generate_series(1, greatest(len(w) - 1, 0))) AS i
            FROM wl)
    ),
    gc AS (SELECT doc_id, sh, count(*) AS n FROM g2 GROUP BY doc_id, sh),
    gs AS (SELECT doc_id, sum(n) AS total, max(n) AS top, count(*) AS ndist
           FROM gc GROUP BY doc_id),
    nf AS (
      SELECT doc_id, {_NORM} AS t,
             CASE WHEN length({_NORM}) = 0 THEN 0
                  ELSE len(string_split({_NORM}, ' ')) END AS n_tokens
      FROM documents
    )
    SELECT doc_id, n_grams, top_gram_frac, dup_gram_frac, symbol_ratio,
           mean_word_len,
           (top_gram_frac <= 0.2 AND dup_gram_frac <= 0.3
            AND symbol_ratio <= 0.1) AS keep
    FROM (
      SELECT nf.doc_id,
             CAST(coalesce(gs.total, 0) AS BIGINT) AS n_grams,
             round(coalesce(gs.top / CAST(gs.total AS DOUBLE), 0.0), 6) AS top_gram_frac,
             round(coalesce(1 - gs.ndist / CAST(gs.total AS DOUBLE), 0.0), 6) AS dup_gram_frac,
             round(CASE WHEN length(t) > 0
                        THEN len(regexp_extract_all(t, '[^a-z0-9 ]')) / CAST(length(t) AS DOUBLE)
                        ELSE 0.0 END, 6) AS symbol_ratio,
             round(CASE WHEN n_tokens > 0
                        THEN length(replace(t, ' ', '')) / CAST(n_tokens AS DOUBLE)
                        ELSE 0.0 END, 6) AS mean_word_len
      FROM nf LEFT JOIN gs USING (doc_id)
    )
    """,
)
def q_repetition(spark, sf_dir):
    """Gopher-style repetition/symbol quality verdicts: top-2-gram
    fraction, duplicate-2-gram fraction, symbol ratio, mean word
    length, and the keep flag under the module thresholds."""
    docs = load_table(spark, sf_dir, "documents")
    return repetition_features(docs)


_G5 = "w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4]"


@query(
    "benchmark_decontamination",
    f"""
    WITH cw AS (SELECT doc_id, string_split({_NORM}, ' ') AS w
                FROM documents WHERE doc_id % 7 <> 0),
    cg AS (
      SELECT DISTINCT doc_id, {_G5} AS sh
      FROM (SELECT doc_id, w, unnest(generate_series(1, greatest(len(w) - 4, 0))) AS i
            FROM cw)
    ),
    ew AS (SELECT doc_id, string_split({_NORM}, ' ') AS w
           FROM documents WHERE doc_id % 7 = 0),
    eg AS (
      SELECT DISTINCT {_G5} AS sh
      FROM (SELECT doc_id, w, unnest(generate_series(1, greatest(len(w) - 4, 0))) AS i
            FROM ew)
    ),
    tot AS (SELECT doc_id, count(*) AS n_grams FROM cg GROUP BY doc_id),
    shr AS (SELECT cg.doc_id, count(*) AS n_shared
            FROM cg JOIN eg USING (sh) GROUP BY cg.doc_id)
    SELECT doc_id, n_grams, n_shared, contamination_frac,
           contamination_frac >= 0.05 AS contaminated
    FROM (
      SELECT t.doc_id, t.n_grams,
             coalesce(s.n_shared, 0) AS n_shared,
             round(coalesce(s.n_shared, 0) / CAST(t.n_grams AS DOUBLE), 6) AS contamination_frac
      FROM tot t LEFT JOIN shr s USING (doc_id)
    )
    """,
)
def q_decontamination(spark, sf_dir):
    """n-gram benchmark decontamination: every 7th document stands in
    for the held-out eval set; each remaining doc reports the fraction
    of its distinct 5-grams that appear in the eval gram table. The
    probe is one equi-join on the gram value — never doc-vs-doc."""
    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 7 != 0)
    eval_docs = docs.filter(F.col("doc_id") % 7 == 0)
    return contamination_overlap(corpus, eval_docs, k=5)


def _pii_inject_sql() -> str:
    return (
        "CAST(text AS VARCHAR) || ' contact user' || CAST(doc_id AS VARCHAR)"
        " || '@example.com call 555-123-4567 or 123-45-6789 at 10.0.0.'"
        " || CAST(doc_id % 256 AS VARCHAR)"
    )


def _pii_oracle() -> str:
    norm = (
        "lower(trim(regexp_replace(" + _pii_inject_sql() + ", '\\s+', ' ', 'g')))"
    )
    counts = ",\n           ".join(
        f"len(regexp_extract_all(t, '{pat}')) AS n_{name}"
        for name, pat, _ in PII_PATTERNS
    )
    red = "t"
    for _, pat, token in PII_PATTERNS:
        red = f"regexp_replace({red}, '{pat}', '{token}', 'g')"
    return f"""
    WITH t2 AS (SELECT doc_id, {norm} AS t FROM documents)
    SELECT doc_id,
           {counts},
           {red} AS text_redacted
    FROM t2
    """


@query("pii_redaction", _pii_oracle())
def q_pii(spark, sf_dir):
    """PII redaction over documents with deterministic injected PII
    (an email derived from doc_id, a phone, an SSN shape, an IPv4), so
    the operator is exercised on every row and both engines must agree
    on every replacement. Counts are per-type match counts on the
    pre-redaction text; the pattern chain is generated from
    PII_PATTERNS on both sides."""
    docs = load_table(spark, sf_dir, "documents")
    injected = docs.select(
        "doc_id",
        F.concat(
            F.col("text").cast("string"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com call 555-123-4567 or 123-45-6789 at 10.0.0."),
            (F.col("doc_id") % 256).cast("string"),
        ).alias("text"),
    )
    return redact_pii(injected)


def _training_pipeline_oracle(dsir_topk: int | None = None) -> str:
    """The full composed pipeline as one CTE chain: quality keep →
    decontamination → [optional DSIR importance selection, round 10] →
    simhash pairs → CC closure → survivor argmax → shard packing,
    every fragment the same logic its standalone oracle states,
    re-sourced from the running subset instead of raw ``documents``.

    With ``dsir_topk`` set, a DSIR stage (Xie et al. 2023 — the same
    per-feature log-ratio scoring as the standalone
    ``dsir_importance_resample``) runs over the decontaminated pool:
    feature LMs are re-fit on the POOL (raw = clean docs, target =
    the pool's 'en' slice), and only the top-K most target-like docs
    continue into dedup — selection before dedup, the stage order a
    pretraining curator actually runs. Docs with no 3-gram features
    carry no evidence and are never selected (same as standalone)."""
    from commercial_rfp_data_pipeline_spark.queries.text_q import _BIT_TEST

    norm = _NORM
    g5 = _G5
    pool = "clean"
    dsir_ctes = ""
    if dsir_topk is not None:
        pool = "selected"
        dsir_ctes = f"""
    -- stage 2.5: DSIR importance selection over the clean pool
    dw AS (SELECT doc_id, string_split({norm}, ' ') AS w FROM clean),
    dsh AS (
      SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS sh3
      FROM (SELECT doc_id, w, unnest(generate_series(1, greatest(len(w) - 2, 0))) AS i FROM dw)
    ),
    ddf AS (SELECT sh3, count(*) AS cs FROM dsh GROUP BY sh3),
    dtgt AS (
      SELECT s.sh3, count(*) AS ct
      FROM dsh s JOIN documents d USING (doc_id)
      WHERE d.lang = 'en' GROUP BY s.sh3
    ),
    dtot AS (
      SELECT (SELECT count(*) FROM ddf) AS v,
             (SELECT sum(cs) FROM ddf) AS ns,
             (SELECT coalesce(sum(ct), 0) FROM dtgt) AS nt
    ),
    dterms AS (
      SELECT f.sh3,
             CAST(round(ln(
               ((coalesce(t.ct, 0) + 1) / CAST(dtot.nt + dtot.v AS DOUBLE))
               / ((f.cs + 1) / CAST(dtot.ns + dtot.v AS DOUBLE))
             ), 6) AS DECIMAL(12,6)) AS dsw
      FROM ddf f LEFT JOIN dtgt t ON t.sh3 = f.sh3 CROSS JOIN dtot
    ),
    docw AS (SELECT s.doc_id, sum(dsw) AS wsum
             FROM dsh s JOIN dterms USING (sh3) GROUP BY s.doc_id),
    selrnk AS (SELECT doc_id, row_number() OVER (ORDER BY wsum DESC, doc_id) AS srnk
               FROM docw),
    selected AS (
      SELECT c.doc_id, c.text FROM clean c JOIN selrnk USING (doc_id)
      WHERE srnk <= {dsir_topk}
    ),"""
    return f"""
    WITH RECURSIVE corpus AS (SELECT doc_id, text FROM documents WHERE doc_id % 7 <> 0),
    -- stage 1: Gopher repetition/symbol keep
    wl AS (SELECT doc_id, string_split({norm}, ' ') AS w FROM corpus),
    g2 AS (
      SELECT doc_id, w[i] || ' ' || w[i+1] AS sh
      FROM (SELECT doc_id, w, unnest(generate_series(1, greatest(len(w) - 1, 0))) AS i FROM wl)
    ),
    gc AS (SELECT doc_id, sh, count(*) AS n FROM g2 GROUP BY doc_id, sh),
    gs AS (SELECT doc_id, sum(n) AS total, max(n) AS top, count(*) AS ndist FROM gc GROUP BY doc_id),
    nf AS (
      SELECT doc_id, {norm} AS t,
             CASE WHEN length({norm}) = 0 THEN 0
                  ELSE len(string_split({norm}, ' ')) END AS n_tokens
      FROM corpus
    ),
    keepers AS (
      SELECT doc_id FROM (
        SELECT nf.doc_id,
               round(coalesce(gs.top / CAST(gs.total AS DOUBLE), 0.0), 6) AS tf_,
               round(coalesce(1 - gs.ndist / CAST(gs.total AS DOUBLE), 0.0), 6) AS df_,
               round(CASE WHEN length(t) > 0
                          THEN len(regexp_extract_all(t, '[^a-z0-9 ]')) / CAST(length(t) AS DOUBLE)
                          ELSE 0.0 END, 6) AS sr_
        FROM nf LEFT JOIN gs USING (doc_id)
      ) WHERE tf_ <= 0.2 AND df_ <= 0.3 AND sr_ <= 0.1
    ),
    kept AS (SELECT c.doc_id, c.text FROM corpus c JOIN keepers USING (doc_id)),
    -- stage 2: decontamination vs the held-out eval set
    cw AS (SELECT doc_id, string_split({norm}, ' ') AS w FROM kept),
    cg AS (
      SELECT DISTINCT doc_id, {g5} AS sh
      FROM (SELECT doc_id, w, unnest(generate_series(1, greatest(len(w) - 4, 0))) AS i FROM cw)
    ),
    ew AS (SELECT doc_id, string_split({norm}, ' ') AS w
           FROM documents WHERE doc_id % 7 = 0),
    eg AS (
      SELECT DISTINCT {g5} AS sh
      FROM (SELECT doc_id, w, unnest(generate_series(1, greatest(len(w) - 4, 0))) AS i FROM ew)
    ),
    tot AS (SELECT doc_id, count(*) AS n FROM cg GROUP BY doc_id),
    shr AS (SELECT cg.doc_id, count(*) AS ns FROM cg JOIN eg USING (sh) GROUP BY cg.doc_id),
    cont AS (
      SELECT t.doc_id FROM tot t JOIN shr s USING (doc_id)
      WHERE round(s.ns / CAST(t.n AS DOUBLE), 6) >= 0.05
    ),
    clean AS (SELECT k.doc_id, k.text FROM kept k
              WHERE k.doc_id NOT IN (SELECT doc_id FROM cont)),{dsir_ctes}
    -- stage 3: simhash near-dup pairs over the surviving subset
    stoks AS (SELECT DISTINCT doc_id, unnest(string_split({norm}, ' ')) AS w FROM {pool}),
    sbits AS (SELECT doc_id, md5(w) AS h, unnest(generate_series(0, 63)) AS bit FROM stoks),
    svotes AS (
      SELECT doc_id, bit, sum(CASE WHEN {_BIT_TEST.strip()} THEN 1 ELSE -1 END) AS s
      FROM sbits GROUP BY doc_id, bit
    ),
    ssh AS (
      SELECT doc_id, string_agg(CASE WHEN s > 0 THEN '1' ELSE '0' END, '' ORDER BY bit) AS simhash
      FROM svotes GROUP BY doc_id
    ),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM ssh a JOIN ssh b ON a.doc_id < b.doc_id
      WHERE len(list_filter(generate_series(1, 64),
            i -> substr(a.simhash, CAST(i AS INTEGER), 1)
              <> substr(b.simhash, CAST(i AS INTEGER), 1))) <= 3
    ),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION ALL
      SELECT doc_b AS src, doc_a AS dst FROM pairs
    ),
    reach(id, lbl) AS (
      SELECT doc_id AS id, doc_id AS lbl FROM {pool}
      UNION
      SELECT e2.dst AS id, r.lbl FROM reach r JOIN edges e2 ON e2.src = r.id
    ),
    clusters AS (SELECT id AS doc_id, min(lbl) AS cluster_id FROM reach GROUP BY id),
    -- stage 4: quality-argmax survivor per cluster
    qfeat AS (
      SELECT doc_id,
             length({norm}) AS n_chars,
             CASE WHEN length({norm}) = 0 THEN 0
                  ELSE len(string_split({norm}, ' ')) END AS n_tokens,
             len(regexp_extract_all({norm}, '[.,;:!?]')) AS punct,
             len(list_filter(string_split({norm}, ' '),
                 w -> w IN ('the','a','of','to','and','in','is','for','on','it'))) AS stop
      FROM {pool}
    ),
    qual AS (
      SELECT doc_id,
             round(least(n_tokens / 200.0, 1.0) * 0.5
                   + least(CASE WHEN n_tokens > 0 THEN stop / CAST(n_tokens AS DOUBLE) ELSE 0.0 END * 5, 1.0) * 0.3
                   + (1 - least(CASE WHEN n_chars > 0 THEN punct / CAST(n_chars AS DOUBLE) ELSE 0.0 END * 10, 1.0)) * 0.2,
                   6) AS quality_score
      FROM qfeat
    ),
    member AS (
      SELECT c.cluster_id, c.doc_id, q.quality_score
      FROM clusters c JOIN qual q USING (doc_id)
    ),
    sizes AS (SELECT cluster_id, count(*) AS n_members FROM member GROUP BY cluster_id),
    survivors AS (
      SELECT m.cluster_id, m.doc_id, s.n_members
      FROM (SELECT *, row_number() OVER (PARTITION BY cluster_id
              ORDER BY quality_score DESC, doc_id) AS rn FROM member) m
      JOIN sizes s USING (cluster_id)
      WHERE m.rn = 1
    ),
    -- stage 5: token-budget shard packing over the surviving corpus
    st AS (
      SELECT s.doc_id, s.cluster_id, s.n_members,
             CASE WHEN length({norm}) = 0 THEN 0
                  ELSE len(string_split({norm}, ' ')) END AS n_tokens
      FROM survivors s JOIN {pool} USING (doc_id)
    ),
    sc AS (
      SELECT doc_id, cluster_id, n_members, n_tokens,
             coalesce(sum(n_tokens) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS tokens_before
      FROM st
    )
    SELECT doc_id, n_tokens,
           CAST(floor(tokens_before / 2000.0) AS INTEGER) AS shard_id,
           cluster_id, n_members
    FROM sc
    """


@query("training_data_pipeline", _training_pipeline_oracle())
def q_training_pipeline(spark, sf_dir):
    """THE end-to-end pretraining data-prep run as ONE query — what a
    user of this engine actually executes: quality-filter the corpus
    (Gopher repetition/symbol rules) → drop benchmark-contaminated
    docs (5-gram overlap vs the held-out eval split) → near-dup dedup
    (simhash pairs → connected components → quality-argmax survivor
    per cluster) → pack the surviving corpus into fixed-token-budget
    shards. Every stage is individually oracle-checked by its own
    query; this one value-checks the COMPOSITION (stage boundaries,
    subset re-sourcing, ordering) end to end.

    Scale shape: each stage keeps its standalone shape (narrow maps,
    single-shuffle groupBys, the banded pair join, the bounded CC
    loop, the distributed prefix sum); stages hand off (doc_id)-keyed
    tables, so the composition adds joins but no new quadratic or
    driver-resident step."""
    from commercial_rfp_data_pipeline_spark.io import pin_eager
    from commercial_rfp_data_pipeline_spark.operators.dedup import (
        cluster_survivors,
    )
    from commercial_rfp_data_pipeline_spark.operators.textops import (
        assign_token_shards,
    )

    # round 10: the quality + contamination stages are deterministic
    # functions of the documents corpus, so the (kept, clean) stage
    # boundaries serve from the durable corpus-keyed clean-pool
    # artifact — the cleaned corpus a production curation run writes
    # exactly once — instead of re-running both stages per invocation.
    # The oracle still states the full quality + contamination CTE
    # chains, so green verify proves artifact == inline.
    from commercial_rfp_data_pipeline_spark.plans.artifacts import (
        ensure_clean_pool,
    )

    _, clean = ensure_clean_pool(spark, sf_dir)
    # round 8: the dedup stage over the GATED subset is a durable
    # sub-index (clean is deterministic from the corpus, so the
    # corpus-keyed warehouse covers invalidation; the subdir version
    # tag guards against upstream-stage code changes) — warm runs read
    # the committed cluster table instead of re-running simhash -> CC
    import os as _os

    from commercial_rfp_data_pipeline_spark.plans.artifacts import (
        corpus_warehouse,
    )
    from commercial_rfp_data_pipeline_spark.plans.dedup_index import (
        ensure_dedup_index,
    )

    fp, clusters = ensure_dedup_index(
        spark,
        clean,
        lambda: _os.path.join(corpus_warehouse(spark, sf_dir), "tdp_v1"),
    )
    quality = fp.select("doc_id", "quality_score")
    surv = pin_eager(
        cluster_survivors(clusters, quality).select(
            "doc_id", "cluster_id", "n_members"
        )
    )
    surv_docs = clean.join(surv, "doc_id")
    shards = assign_token_shards(surv_docs, shard_tokens=2000)
    return shards.join(surv, "doc_id").select(
        "doc_id", "n_tokens", "shard_id", "cluster_id", "n_members"
    )


_TDP_DSIR_TOPK = 150


@query("training_data_pipeline_dsir", _training_pipeline_oracle(_TDP_DSIR_TOPK))
def q_training_pipeline_dsir(spark, sf_dir):
    """The composed pretraining pipeline WITH the DSIR selection stage
    (VERDICT r9 next-round #6): quality keep → decontaminate → DSIR
    importance-select the top-{_TDP_DSIR_TOPK} most target-domain-like
    docs (select BEFORE dedup — the order a curator runs, so dedup
    spends its shuffles on data that survives selection) → simhash
    near-dup dedup → quality-argmax survivor → token-budget shards.

    DSIR re-fits the feature LMs on the POOL it selects from (raw =
    the decontaminated docs, target = the pool's 'en' slice), unlike
    the standalone `dsir_importance_resample` which scores the whole
    corpus — stage composition changes the distributions, and the
    oracle CTE chain pins that boundary exactly.

    Scale shape: postings come from the durable token-index artifact
    filtered to the pool (one semi-join — shingles of a doc don't
    depend on other docs, so the full-corpus index serves any subset);
    the pool df/target counts are two groupBys over those postings;
    selection is orderBy().limit() -> TakeOrderedAndProject; the dedup
    stage keeps its own durable sub-index keyed to this variant
    (`tdp_dsir_v1`)."""
    import os as _os

    from commercial_rfp_data_pipeline_spark.io import pin_eager
    from commercial_rfp_data_pipeline_spark.operators.dedup import (
        cluster_survivors,
    )
    from commercial_rfp_data_pipeline_spark.operators.textops import (
        assign_token_shards,
    )
    from commercial_rfp_data_pipeline_spark.plans.artifacts import (
        corpus_warehouse,
        ensure_clean_pool,
        ensure_token_index,
    )
    from commercial_rfp_data_pipeline_spark.plans.dedup_index import (
        ensure_dedup_index,
    )

    docs = load_table(spark, sf_dir, "documents")
    # round 10: quality + contamination boundaries serve from the
    # durable clean-pool artifact (see q_training_pipeline)
    _, clean = ensure_clean_pool(spark, sf_dir)

    # stage 2.5: DSIR selection over the clean pool. Postings from the
    # durable token index, filtered to the pool; LMs fit on the pool.
    toks, _, _ = ensure_token_index(spark, sf_dir, k=3)
    pool_toks = toks.join(clean.select("doc_id"), "doc_id")
    dfreq = pool_toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cs"))
    tgt = (
        pool_toks.join(
            docs.filter(F.col("lang") == "en").select("doc_id"), "doc_id"
        )
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("ct"))
    )
    totals = dfreq.agg(
        F.count(F.lit(1)).alias("v"), F.sum("cs").alias("ns")
    ).crossJoin(
        F.broadcast(tgt.agg(F.coalesce(F.sum("ct"), F.lit(0)).alias("nt")))
    )
    terms = (
        dfreq.join(tgt, "tok", "left")
        .crossJoin(F.broadcast(totals))
        .select(
            "tok",
            F.round(
                F.log(
                    (
                        (F.coalesce(F.col("ct"), F.lit(0)) + 1)
                        / (F.col("nt") + F.col("v")).cast("double")
                    )
                    / (
                        (F.col("cs") + 1)
                        / (F.col("ns") + F.col("v")).cast("double")
                    )
                ),
                6,
            )
            .cast("decimal(12,6)")
            .alias("dsw"),
        )
    )
    docw = (
        pool_toks.join(terms, "tok")
        .groupBy("doc_id")
        .agg(F.sum("dsw").alias("wsum"))
    )
    selected = pin_eager(
        clean.join(
            docw.orderBy(F.col("wsum").desc(), "doc_id")
            .limit(_TDP_DSIR_TOPK)
            .select("doc_id"),
            "doc_id",
        )
    )

    fp, clusters = ensure_dedup_index(
        spark,
        selected,
        lambda: _os.path.join(corpus_warehouse(spark, sf_dir), "tdp_dsir_v1"),
    )
    quality = fp.select("doc_id", "quality_score")
    surv = pin_eager(
        cluster_survivors(clusters, quality).select(
            "doc_id", "cluster_id", "n_members"
        )
    )
    surv_docs = selected.join(surv, "doc_id")
    shards = assign_token_shards(surv_docs, shard_tokens=2000)
    return shards.join(surv, "doc_id").select(
        "doc_id", "n_tokens", "shard_id", "cluster_id", "n_members"
    )


@query(
    "tfidf_top_terms",
    f"""
    WITH toks AS (SELECT doc_id, unnest(string_split({_NORM}, ' ')) AS tok
                  FROM documents),
    tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY doc_id, tok),
    dfreq AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
    nd AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.tok,
             round(tf.tf * ln(CAST(n_docs AS DOUBLE) / df), 6) AS score
      FROM tf JOIN dfreq USING (tok) CROSS JOIN nd
    )
    SELECT doc_id, tok, score, CAST(rnk AS INTEGER) AS rnk FROM (
      SELECT *, row_number() OVER (PARTITION BY doc_id
                ORDER BY score DESC, tok) AS rnk
      FROM scored
    ) WHERE rnk <= 3
    """,
)
def q_tfidf(spark, sf_dir):
    """Top-3 characteristic terms per document by tf-idf with a
    deterministic (score DESC, term) tiebreak."""
    docs = load_table(spark, sf_dir, "documents")
    return tfidf_top_terms(docs, k=3)


@query(
    "quality_band_mix",
    f"""
    WITH qfeat2 AS (
      SELECT doc_id,
             length({_NORM}) AS n_chars,
             CASE WHEN length({_NORM}) = 0 THEN 0
                  ELSE len(string_split({_NORM}, ' ')) END AS n_tokens,
             len(regexp_extract_all({_NORM}, '[.,;:!?]')) AS punct,
             len(list_filter(string_split({_NORM}, ' '),
                 w -> w IN ('the','a','of','to','and','in','is','for','on','it'))) AS stop
      FROM documents
    ),
    qual2 AS (
      SELECT doc_id,
             round(least(n_tokens / 200.0, 1.0) * 0.5
                   + least(CASE WHEN n_tokens > 0 THEN stop / CAST(n_tokens AS DOUBLE) ELSE 0.0 END * 5, 1.0) * 0.3
                   + (1 - least(CASE WHEN n_chars > 0 THEN punct / CAST(n_chars AS DOUBLE) ELSE 0.0 END * 10, 1.0)) * 0.2,
                   6) AS quality_score
      FROM qfeat2
    ),
    banded AS (
      SELECT doc_id, quality_score,
             CAST(least(floor(quality_score * 10), 9) AS INTEGER) AS band
      FROM qual2
    )
    SELECT doc_id, band, quality_score FROM (
      SELECT *, row_number() OVER (PARTITION BY band
               ORDER BY md5('mix' || CAST(doc_id AS VARCHAR)), doc_id) AS rn
      FROM banded
    ) WHERE rn <= 10
    """,
)
def q_quality_band_mix(spark, sf_dir):
    """Quality-balanced sampling: documents bucketed into ten
    VALUE-BASED quality bands (floor(score*10), clamped), then a
    deterministic hash-ranked sample per band. Value banding instead
    of ntile deciles is the 100-TB call: ntile is a GLOBAL window —
    one reducer sorts the whole corpus — while the band is a per-row
    expression; the trade is fixed band edges instead of equal-count
    bands, which is what a reproducible data recipe wants anyway."""
    from commercial_rfp_data_pipeline_spark.operators.textops import (
        quality_features,
        stratified_sample,
    )

    docs = load_table(spark, sf_dir, "documents")
    q = quality_features(docs).select("doc_id", "quality_score")
    banded = q.select(
        "doc_id",
        F.least(F.floor(F.col("quality_score") * 10), F.lit(9))
        .cast("int")
        .alias("band"),
        "quality_score",
    )
    return stratified_sample(banded, ["band"], n_per_stratum=10).select(
        "doc_id", "band", "quality_score"
    )


@query("compression_ratio_signal", None)
def q_compression_ratio(spark, sf_dir):
    """zlib compressibility as a quality/repetition signal (highly
    compressible text is template/boilerplate-heavy; the classic cheap
    perplexity proxy). This is the engine's documented Pandas-UDF seam
    used for REAL work: no SQL engine exposes zlib, so the check is
    rows-only and pytest pins values against driver-side zlib."""
    from commercial_rfp_data_pipeline_spark.operators.textops import (
        compression_ratio,
    )

    docs = load_table(spark, sf_dir, "documents")
    return compression_ratio(docs)


@query(
    "unigram_lm_quality",
    f"""
    WITH toks AS (
      SELECT doc_id, tok
      FROM (SELECT doc_id, unnest(string_split({_NORM}, ' ')) AS tok
            FROM documents)
      WHERE length(tok) > 0
    ),
    freqs AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
    nv AS (SELECT sum(c) AS n, count(*) AS v FROM freqs)
    SELECT doc_id,
           count(*) AS n_tokens,
           round(avg(ln(c + 1) - ln(n + v + 1)), 6) AS avg_logprob,
           round(exp(-avg(ln(c + 1) - ln(n + v + 1))), 4) AS ppl
    FROM toks JOIN freqs USING (tok) CROSS JOIN nv
    GROUP BY doc_id
    """,
)
def q_unigram_lm(spark, sf_dir):
    """Unigram LM typicality score (CCNet-style quality signal reduced
    to its distributed skeleton): corpus-trained token frequencies ->
    per-doc mean log-prob + perplexity. Exact arithmetic both sides
    (ln/exp on doubles, rounded) — fully oracle-checkable."""
    from commercial_rfp_data_pipeline_spark.operators.textops import (
        unigram_lm_score,
    )

    docs = load_table(spark, sf_dir, "documents")
    return unigram_lm_score(docs)


@query(
    "bigram_lm_perplexity",
    f"""
    WITH wl AS (
      SELECT doc_id,
             list_filter(string_split({_NORM}, ' '), t -> length(t) > 0) AS w
      FROM documents
    ),
    bg AS (
      SELECT doc_id, w[i] AS w1, w[i + 1] AS w2
      FROM (SELECT doc_id, w,
                   unnest(generate_series(1, greatest(len(w) - 1, 0))) AS i
            FROM wl)
    ),
    big AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY w1, w2),
    ctx AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY w1),
    vocab AS (
      SELECT count(DISTINCT t) AS v
      FROM (SELECT w1 AS t FROM bg UNION ALL SELECT w2 AS t FROM bg)
    ),
    scored AS (
      SELECT bg.doc_id,
             ln(coalesce(ctx.c1, 0) + 0.5 * vocab.v)
               - ln(coalesce(big.c12, 0) + 0.5) AS nll
      FROM bg
      LEFT JOIN big USING (w1, w2)
      LEFT JOIN ctx USING (w1)
      CROSS JOIN vocab
    )
    SELECT doc_id, count(*) AS n_bigrams,
           round(avg(nll), 6) AS avg_nll,
           round(exp(avg(nll)), 4) AS ppl
    FROM scored GROUP BY doc_id
    """,
)
def q_bigram_lm(spark, sf_dir):
    """Bigram LM perplexity — the conditional-probability upgrade of
    unigram_lm_quality and the oracle-exact skeleton of the CCNet/KenLM
    perplexity filter: add-half-smoothed p(w2|w1) trained on the corpus
    itself, per-doc mean negative log-likelihood + perplexity.
    Repetitive-garbage and wrong-language text score high even when
    every individual token is common — the transition signal the
    unigram model can't see. Two training groupBys + two scoring joins
    + one per-doc average; exact arithmetic both sides."""
    from commercial_rfp_data_pipeline_spark.operators.textops import (
        bigram_lm_score,
    )

    docs = load_table(spark, sf_dir, "documents")
    return bigram_lm_score(docs)


def _quality_cte() -> str:
    # shared with text_q's survivor-selection metric — single source
    from commercial_rfp_data_pipeline_spark.queries.text_q import _QUALITY_CTE

    return _QUALITY_CTE.strip()


@query(
    "quality_importance_downsample",
    f"""
    WITH {{QUALITY}}
    SELECT doc_id, p, u_hex FROM (
      SELECT doc_id,
             round(least(greatest(quality_score, 0.05), 1.0), 6) AS p,
             lpad(substring(md5('ds1' || CAST(doc_id AS VARCHAR)), 1, 15), 16, '0') AS u_hex,
             lpad(lower(to_hex(CAST(floor(least(greatest(quality_score, 0.05), 1.0)
                                          * 1152921504606846976.0) AS BIGINT))), 16, '0') AS _thr
      FROM qual
    ) WHERE u_hex < _thr
    """.replace("{QUALITY}", _quality_cte()),
)
def q_importance_downsample(spark, sf_dir):
    """Quality-weighted deterministic Bernoulli downsampling: keep each
    doc with p = clamp(quality_score, 0.05, 1), decided by a md5 coin —
    reproducible under retries/partitioning; the thinning stage between
    scoring and dedup in a training-data mix."""
    from commercial_rfp_data_pipeline_spark.operators.textops import (
        importance_downsample,
        quality_features,
    )

    docs = load_table(spark, sf_dir, "documents")
    scored = quality_features(docs).select("doc_id", "quality_score")
    return importance_downsample(scored, "quality_score")


@query(
    "char_entropy_signal",
    f"""
    WITH chars AS (
      SELECT doc_id, unnest(string_split({_NORM}, '')) AS ch
      FROM documents
      WHERE length({_NORM}) > 0
    ),
    cnt AS (SELECT doc_id, ch, count(*) AS c FROM chars GROUP BY doc_id, ch)
    SELECT doc_id,
           CAST(sum(c) AS BIGINT) AS n_chars,
           round(log2(CAST(sum(c) AS DOUBLE))
                 - sum(c * log2(CAST(c AS DOUBLE))) / sum(c), 6) AS entropy_bits
    FROM cnt GROUP BY doc_id
    """,
)
def q_char_entropy(spark, sf_dir):
    """Shannon char entropy per doc — the randomness quality signal
    (low = boilerplate, high = binary soup); exact arithmetic, fully
    oracle-checked."""
    from commercial_rfp_data_pipeline_spark.operators.textops import char_entropy

    docs = load_table(spark, sf_dir, "documents")
    return char_entropy(docs)


def _split_thresholds() -> tuple[str, str]:
    # same cumulative thresholds the engine embeds (80/10/10)
    return (
        format(int(0.8 * (1 << 60)), "016x"),
        format(int(0.9 * (1 << 60)), "016x"),
    )


_T80, _T90 = _split_thresholds()


@query(
    "dataset_split_80_10_10",
    f"""
    WITH u AS (
      SELECT doc_id, lang,
             lpad(substring(md5('split1' || CAST(doc_id AS VARCHAR)), 1, 15), 16, '0') AS u_hex
      FROM documents
    )
    SELECT doc_id, lang,
           CASE WHEN u_hex < '{_T80}' THEN 'train'
                WHEN u_hex < '{_T90}' THEN 'val'
                ELSE 'test' END AS split
    FROM u
    """,
)
def q_dataset_split(spark, sf_dir):
    """Deterministic 80/10/10 split by md5 coin — id-stable (growing
    the corpus never reassigns an existing doc), content-independent,
    zero-shuffle; thresholds shared between engine and oracle."""
    from commercial_rfp_data_pipeline_spark.operators.textops import dataset_split

    docs = load_table(spark, sf_dir, "documents")
    return dataset_split(docs.select("doc_id", "lang")).select(
        "doc_id", "lang", "split"
    )


@query(
    "epoch_shuffle_positions",
    """
    WITH k AS (
      SELECT doc_id,
             md5('shuffle:1:' || CAST(doc_id AS VARCHAR)) AS k1,
             md5('shuffle:2:' || CAST(doc_id AS VARCHAR)) AS k2
      FROM documents
    )
    SELECT doc_id,
           row_number() OVER (ORDER BY k1, doc_id) - 1 AS pos_epoch1,
           row_number() OVER (ORDER BY k2, doc_id) - 1 AS pos_epoch2
    FROM k
    """,
)
def q_epoch_shuffle(spark, sf_dir):
    """Deterministic per-epoch global shuffle order for training data
    delivery: a fresh md5-keyed permutation each epoch, with the
    global ordinal computed by distributed prefix sum — the oracle
    states the naive single-task row_number the operator explicitly
    avoids. Two epochs side by side show re-permutation without
    reassigning ids."""
    from commercial_rfp_data_pipeline_spark.operators.sampling import epoch_shuffle

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    e1 = epoch_shuffle(docs, epoch=1).select(
        "doc_id", F.col("shuffle_pos").alias("pos_epoch1")
    )
    e2 = epoch_shuffle(docs, epoch=2).select(
        "doc_id", F.col("shuffle_pos").alias("pos_epoch2")
    )
    return e1.join(e2, "doc_id")


_NB_CTES = f"""norm AS (SELECT doc_id, lang, {_NORM} AS t FROM documents),
    train AS (SELECT * FROM norm WHERE doc_id % 5 != 0),
    test AS (SELECT * FROM norm WHERE doc_id % 5 = 0),
    ttok AS (
      SELECT lang AS cls, tok FROM (
        SELECT lang, unnest(string_split(t, ' ')) AS tok FROM train
      ) WHERE tok <> ''
    ),
    cnt AS (SELECT cls, tok, count(*) AS c FROM ttok GROUP BY 1, 2),
    nc AS (SELECT cls, count(*) AS nc FROM ttok GROUP BY 1),
    vocab AS (SELECT DISTINCT tok FROM ttok),
    v AS (SELECT count(*) AS v FROM vocab),
    classes AS (SELECT lang AS cls, count(*) AS ndocs FROM train GROUP BY 1),
    tot AS (SELECT count(*) AS nd FROM train),
    prior AS (
      SELECT cls, CAST(round(ln(CAST(ndocs AS DOUBLE) / nd), 6) AS DECIMAL(20,6)) AS prior
      FROM classes CROSS JOIN tot
    ),
    grid AS (
      SELECT vo.tok, cl.cls,
             round(ln((coalesce(cnt.c, 0) + 1.0) / (nc.nc + v.v)), 6) AS logp
      FROM vocab vo CROSS JOIN classes cl
      JOIN nc ON nc.cls = cl.cls CROSS JOIN v
      LEFT JOIN cnt ON cnt.tok = vo.tok AND cnt.cls = cl.cls
    ),
    unk AS (SELECT cls, round(ln(1.0 / (nc + v)), 6) AS logp_unk FROM nc CROSS JOIN v),
    stok AS (
      SELECT doc_id, tok FROM (
        SELECT doc_id, unnest(string_split(t, ' ')) AS tok FROM test
      ) WHERE tok <> ''
    ),
    contrib AS (
      SELECT s.doc_id, c.cls,
             CAST(coalesce(g.logp, u.logp_unk) AS DECIMAL(20,6)) AS lp
      FROM stok s CROSS JOIN classes c
      LEFT JOIN grid g ON g.tok = s.tok AND g.cls = c.cls
      JOIN unk u ON u.cls = c.cls
    ),
    sums AS (SELECT doc_id, cls, sum(lp) AS s FROM contrib GROUP BY 1, 2),
    scored AS (
      SELECT t.doc_id, t.lang AS actual, c.cls,
             p.prior + coalesce(s.s, CAST(0 AS DECIMAL(20,6))) AS score_dec
      FROM test t CROSS JOIN classes c
      JOIN prior p ON p.cls = c.cls
      LEFT JOIN sums s ON s.doc_id = t.doc_id AND s.cls = c.cls
    ),
    pick AS (
      SELECT *, row_number() OVER (PARTITION BY doc_id
                ORDER BY score_dec DESC, cls) AS rn
      FROM scored
    ),
    preds AS (
      SELECT doc_id, actual, cls AS predicted, score_dec
      FROM pick WHERE rn = 1
    )"""


@query(
    "naive_bayes_lang_classify",
    f"""
    WITH {_NB_CTES}
    SELECT doc_id, actual, predicted,
           CAST(score_dec AS DOUBLE) AS score,
           (predicted = actual) AS correct
    FROM preds
    """,
)
def q_naive_bayes(spark, sf_dir):
    """Multinomial naive Bayes over the document corpus: train token
    counts on the 80% id-split, predict language on the held-out 20%.
    Exact counts + Laplace smoothing + decimal log-prob sums make the
    full train/predict cycle value-hash-checkable; the vocab-keyed
    model table stays distributed (only per-class totals broadcast)."""
    from commercial_rfp_data_pipeline_spark.operators.classify import (
        naive_bayes_predict,
    )

    docs = load_table(spark, sf_dir, "documents")
    train = docs.filter(F.col("doc_id") % 5 != 0)
    test = docs.filter(F.col("doc_id") % 5 == 0)
    return naive_bayes_predict(train, test)


@query(
    "naive_bayes_confusion_matrix",
    f"""
    WITH {_NB_CTES},
    cm AS (
      SELECT actual, predicted, count(*) AS n
      FROM preds GROUP BY actual, predicted
    ),
    per_actual AS (SELECT actual, sum(n) AS n_actual FROM cm GROUP BY actual),
    per_pred AS (SELECT predicted, sum(n) AS n_pred FROM cm GROUP BY predicted)
    SELECT cm.actual, cm.predicted, cm.n,
           round(cm.n / CAST(pa.n_actual AS DOUBLE), 6) AS recall_contrib,
           round(cm.n / CAST(pp.n_pred AS DOUBLE), 6) AS precision_contrib
    FROM cm
    JOIN per_actual pa ON pa.actual = cm.actual
    JOIN per_pred pp ON pp.predicted = cm.predicted
    """,
)
def q_naive_bayes_confusion(spark, sf_dir):
    """Confusion matrix + per-cell precision/recall contributions for
    the naive-Bayes evaluation — the model-quality readout a pipeline
    dashboards after every retrain. Diagonal cells' recall_contrib is
    the class recall; their precision_contrib is the class
    precision."""
    from commercial_rfp_data_pipeline_spark.operators.classify import (
        naive_bayes_predict,
    )

    docs = load_table(spark, sf_dir, "documents")
    preds = naive_bayes_predict(
        docs.filter(F.col("doc_id") % 5 != 0),
        docs.filter(F.col("doc_id") % 5 == 0),
    )
    cm = preds.groupBy("actual", "predicted").agg(F.count(F.lit(1)).alias("n"))
    pa = cm.groupBy("actual").agg(F.sum("n").alias("n_actual"))
    pp = cm.groupBy("predicted").agg(F.sum("n").alias("n_pred"))
    return (
        cm.join(pa, "actual")
        .join(pp, "predicted")
        .select(
            "actual",
            "predicted",
            "n",
            F.round(F.col("n") / F.col("n_actual").cast("double"), 6).alias(
                "recall_contrib"
            ),
            F.round(F.col("n") / F.col("n_pred").cast("double"), 6).alias(
                "precision_contrib"
            ),
        )
    )


@query(
    "weighted_sample_no_replacement",
    """
    WITH h AS (
      SELECT doc_id, n_chars AS w,
             (('0x' || substring(md5('wsamp:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT + 1)
               / 1152921504606846976.0 AS u
      FROM documents
    ),
    keyed AS (SELECT doc_id, w, pow(u, 1.0 / w) AS k FROM h)
    SELECT doc_id, w, round(k, 6) AS sample_key, CAST(rnk AS INTEGER) AS rnk
    FROM (
      SELECT *, row_number() OVER (ORDER BY k DESC, doc_id) AS rnk FROM keyed
    ) WHERE rnk <= 50
    """,
)
def q_weighted_sample(spark, sf_dir):
    """Efraimidis-Spirakis weighted sampling without replacement:
    50 docs drawn with probability proportional to length, one pass,
    reproducible (md5 uniforms) — the top-k compiles to
    TakeOrderedAndProject so only k rows leave the executors."""
    from commercial_rfp_data_pipeline_spark.operators.sampling import (
        weighted_sample,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return weighted_sample(docs, "n_chars", k=50)


@query(
    "readability_flesch",
    f"""
    WITH t AS (SELECT doc_id, {_NORM} AS t FROM documents),
    feat AS (
      SELECT doc_id,
             greatest(len(regexp_extract_all(t, '[.!?]+')), 1) AS n_sentences,
             CASE WHEN length(t) = 0 THEN 0
                  ELSE len(string_split(t, ' ')) END AS n_words,
             len(regexp_extract_all(t, '[aeiouy]+')) AS n_syllables
      FROM t
    )
    SELECT doc_id, n_sentences, n_words, n_syllables,
           round(206.835 - 1.015 * (n_words / CAST(n_sentences AS DOUBLE))
                 - 84.6 * (n_syllables / CAST(greatest(n_words, 1) AS DOUBLE)),
                 4) AS flesch
    FROM feat
    """,
)
def q_readability_flesch(spark, sf_dir):
    """Flesch reading-ease as a corpus quality signal — the
    readability band is a standard training-mix feature (too-simple
    and too-dense text both get downweighted). Syllables approximate
    as vowel-group runs and sentences as terminal-punctuation runs —
    both stated as the SAME regexps in both engines, so the heuristic
    is exactly reproducible even though it is a heuristic. Narrow
    per-row expressions; composes with quality_features and the LM
    perplexities into the quality feature vector."""
    from commercial_rfp_data_pipeline_spark.operators.textops import norm_text

    docs = load_table(spark, sf_dir, "documents")
    t = norm_text("text")
    base = docs.select("doc_id", t.alias("_t"))
    n_sent = F.greatest(
        F.size(F.expr(r"regexp_extract_all(_t, '[.!?]+', 0)")), F.lit(1)
    )
    n_words = F.when(F.length("_t") == 0, F.lit(0)).otherwise(
        F.size(F.split("_t", " "))
    )
    n_syl = F.size(F.expr(r"regexp_extract_all(_t, '[aeiouy]+', 0)"))
    feat = base.select(
        "doc_id",
        n_sent.alias("n_sentences"),
        n_words.alias("n_words"),
        n_syl.alias("n_syllables"),
    )
    return feat.select(
        "doc_id",
        "n_sentences",
        "n_words",
        "n_syllables",
        F.round(
            F.lit(206.835)
            - 1.015 * (F.col("n_words") / F.col("n_sentences").cast("double"))
            - 84.6
            * (
                F.col("n_syllables")
                / F.greatest(F.col("n_words"), F.lit(1)).cast("double")
            ),
            4,
        ).alias("flesch"),
    )


_EN_STOPS_SQL = "('the','a','of','to','and','in','is','for','on','it')"


@query(
    "classifier_roc_auc",
    f"""
    WITH s AS (
      SELECT doc_id, (lang = 'en') AS label,
             round(CASE WHEN len(string_split({_NORM}, ' ')) = 0 THEN 0.0
                  ELSE len(list_filter(string_split({_NORM}, ' '),
                           w -> w IN {_EN_STOPS_SQL}))
                       / CAST(len(string_split({_NORM}, ' ')) AS DOUBLE)
             END, 6) AS score
      FROM documents
    ),
    ranked AS (
      SELECT label, score,
             row_number() OVER (ORDER BY score, label, doc_id) AS rn
      FROM s
    ),
    avg_rn AS (
      SELECT label, avg(rn) OVER (PARTITION BY score) AS ar FROM ranked
    ),
    agg AS (
      SELECT sum(CASE WHEN label THEN ar END) AS pos_rank_sum,
             sum(CASE WHEN label THEN 1 ELSE 0 END) AS n_pos,
             sum(CASE WHEN label THEN 0 ELSE 1 END) AS n_neg
      FROM avg_rn
    )
    SELECT CAST(n_pos AS BIGINT) AS n_pos, CAST(n_neg AS BIGINT) AS n_neg,
           round((pos_rank_sum - n_pos * (n_pos + 1) / 2.0)
                 / (n_pos * CAST(n_neg AS DOUBLE)), 6) AS auc
    FROM agg
    """,
)
def q_classifier_roc_auc(spark, sf_dir):
    """ROC AUC of the English-stopword-ratio score against the lang
    label, computed exactly via the Mann-Whitney rank-sum identity
    (AUC = (R_pos - n_pos(n_pos+1)/2) / (n_pos·n_neg)) with proper
    tied-score handling (average rank per score group) — the
    classifier-eval primitive next to the confusion matrix, with no
    threshold sweep: two windows and one aggregate. On this synthetic
    corpus the lang column is (near-)independent of the text, so the
    true AUC is ~0.53 — the point oracle-checked here is the exact
    rank-sum computation, not a separable fixture.

    Scale: the rank is a distributed_prefix_sum of 1s over the
    (score, label, doc_id) total order — a range-exchange with
    broadcast offsets, NOT a partition-less row_number window that
    would funnel the whole scored corpus through one task — then one
    score-keyed window for tie averaging and one final fold. No
    per-threshold recomputation, no driver-side curve."""
    from commercial_rfp_data_pipeline_spark.operators.ordered import (
        distributed_prefix_sum,
    )
    from commercial_rfp_data_pipeline_spark.operators.textops import (
        STOPWORDS_EN,
        token_count,
        words,
    )
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    n_tok = token_count("text")
    n_stop = F.size(
        F.filter(words("text"), lambda w: w.isin(*STOPWORDS_EN))
    )
    s = docs.select(
        "doc_id",
        (F.col("lang") == "en").alias("label"),
        F.round(
            F.when(n_tok == 0, F.lit(0.0)).otherwise(
                n_stop / n_tok.cast("double")
            ),
            6,
        ).alias("score"),
    )
    ranked = distributed_prefix_sum(
        s,
        {"one": F.lit(1)},
        order_by=[F.col("score"), F.col("label"), F.col("doc_id")],
    ).withColumn("rn", F.col("one_incl").cast("int"))
    avg_rn = ranked.withColumn("ar", F.avg("rn").over(W.partitionBy("score")))
    return avg_rn.agg(
        F.sum(F.when(F.col("label"), 1).otherwise(0))
        .cast("long")
        .alias("n_pos"),
        F.sum(F.when(F.col("label"), 0).otherwise(1))
        .cast("long")
        .alias("n_neg"),
        F.round(
            (
                F.sum(F.when(F.col("label"), F.col("ar")))
                - F.sum(F.when(F.col("label"), 1).otherwise(0))
                * (F.sum(F.when(F.col("label"), 1).otherwise(0)) + 1)
                / 2.0
            )
            / (
                F.sum(F.when(F.col("label"), 1).otherwise(0))
                * F.sum(F.when(F.col("label"), 0).otherwise(1)).cast("double")
            ),
            6,
        ).alias("auc"),
    ).select("n_pos", "n_neg", "auc")


from commercial_rfp_data_pipeline_spark.queries.text_q import _SHINGLES_CTE


@query(
    "split_leakage_neardup",
    f"""
    WITH {_SHINGLES_CTE.strip()},
    freq AS (SELECT sh AS fsh, count(*) AS df FROM sh GROUP BY sh),
    sh2 AS (SELECT doc_id, sh FROM sh JOIN freq ON sh = fsh WHERE df <= 100),
    counts AS (SELECT doc_id, count(*) AS n_sh FROM sh2 GROUP BY doc_id),
    common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
      FROM sh2 a JOIN sh2 b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ),
    pairs AS (
      SELECT doc_a, doc_b,
             round(common / CAST(na.n_sh + nb.n_sh - common AS DOUBLE), 6)
               AS jaccard
      FROM common
      JOIN counts na ON na.doc_id = doc_a
      JOIN counts nb ON nb.doc_id = doc_b
      WHERE common * 2 >= (na.n_sh + nb.n_sh - common) * 1
    ),
    splits AS (
      SELECT doc_id,
             CASE WHEN u_hex < '{{_T80}}' THEN 'train'
                  WHEN u_hex < '{{_T90}}' THEN 'val'
                  ELSE 'test' END AS split
      FROM (
        SELECT doc_id,
               lpad(substring(md5('split1' || CAST(doc_id AS VARCHAR)), 1, 15),
                    16, '0') AS u_hex
        FROM documents
      )
    )
    SELECT CASE WHEN sa.split = 'train' THEN p.doc_a ELSE p.doc_b END
             AS train_doc,
           CASE WHEN sa.split = 'train' THEN p.doc_b ELSE p.doc_a END
             AS eval_doc,
           CASE WHEN sa.split = 'train' THEN sb.split ELSE sa.split END
             AS eval_split,
           p.jaccard
    FROM pairs p
    JOIN splits sa ON sa.doc_id = p.doc_a
    JOIN splits sb ON sb.doc_id = p.doc_b
    WHERE (sa.split = 'train') <> (sb.split = 'train')
    """.replace("{_T80}", _T80).replace("{_T90}", _T90),
)
def q_split_leakage(spark, sf_dir):
    """CROSS-SPLIT LEAKAGE audit — the eval-hygiene check a training
    pipeline runs after splitting: every (train, val/test) document
    pair that is a word-3-gram near-duplicate at Jaccard >= 1/2. A
    val doc with a train near-dup inflates eval scores exactly like
    external benchmark contamination (which benchmark_ngram_overlap
    audits); this closes the INTERNAL half. Composes the deterministic
    md5 split with the postings-list Jaccard pairs (rational-threshold
    integer compare), then keeps pairs crossing the train boundary,
    normalized to (train_doc, eval_doc, eval_split).

    Scale: pair generation is the postings shape (sum(df^2)-bounded,
    never doc x doc); the split table is a zero-shuffle narrow map
    joined twice on the pair ids."""
    from commercial_rfp_data_pipeline_spark.operators.textops import (
        dataset_split,
    )
    from commercial_rfp_data_pipeline_spark.plans.artifacts import (
        ensure_jaccard_pairs,
    )

    docs = load_table(spark, sf_dir, "documents")
    # round 9 (VERDICT r8 #5) served postings + df from the token
    # index; round 10 serves the verified pair table itself
    # (plans/artifacts.py:ensure_jaccard_pairs — shared with
    # jaccard_prefix_filter_pairs, same operating point)
    pairs = ensure_jaccard_pairs(spark, sf_dir).select(
        "doc_a", "doc_b", "jaccard"
    )
    splits = dataset_split(docs.select("doc_id")).select("doc_id", "split")
    sa = splits.select(
        F.col("doc_id").alias("doc_a"), F.col("split").alias("split_a")
    )
    sb = splits.select(
        F.col("doc_id").alias("doc_b"), F.col("split").alias("split_b")
    )
    crossed = (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter((F.col("split_a") == "train") != (F.col("split_b") == "train"))
    )
    return crossed.select(
        F.when(F.col("split_a") == "train", F.col("doc_a"))
        .otherwise(F.col("doc_b"))
        .alias("train_doc"),
        F.when(F.col("split_a") == "train", F.col("doc_b"))
        .otherwise(F.col("doc_a"))
        .alias("eval_doc"),
        F.when(F.col("split_a") == "train", F.col("split_b"))
        .otherwise(F.col("split_a"))
        .alias("eval_split"),
        "jaccard",
    )


# ---- group-aware (leakage-safe) dataset split ------------------------
# dataset_split_80_10_10 splits BY DOCUMENT, so exact near-dups can
# land on both sides of the train boundary — the leakage
# split_leakage_neardup measures after the fact. The group-aware form
# PREVENTS it by construction: the md5 coin is drawn on the content
# FINGERPRINT, so every member of a duplicate group inherits the same
# split. The audit proves it from the data (straddling_groups computed
# by re-grouping, not assumed) and shows the doc-share cost: group
# splitting keeps ~80/10/10 in GROUPS, and the doc shares drift by
# exactly the duplicate-mass skew.


@query(
    "group_aware_split_audit",
    """
    WITH g AS (
      SELECT doc_id,
             md5(substr(lower(trim(regexp_replace(CAST(text AS VARCHAR),
                 '\\s+', ' ', 'g'))), 1, 40)) AS fp
      FROM documents
    ),
    s AS (
      SELECT doc_id, fp,
             CASE WHEN u_hex < '{t80}' THEN 'train'
                  WHEN u_hex < '{t90}' THEN 'val'
                  ELSE 'test' END AS split
      FROM (SELECT doc_id, fp,
                   lpad(substring(md5('gsplit' || fp), 1, 15), 16, '0')
                     AS u_hex
            FROM g)
    ),
    leaked AS (
      SELECT CAST(count(*) AS BIGINT) AS straddling_groups
      FROM (SELECT fp FROM s GROUP BY fp
            HAVING count(DISTINCT split) > 1)
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM s)
    SELECT s.split,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT s.fp) AS BIGINT) AS n_groups,
           round(count(*) / CAST(max(tot.n) AS DOUBLE), 6) AS doc_share,
           CAST(max(leaked.straddling_groups) AS BIGINT)
             AS straddling_groups
    FROM s CROSS JOIN tot CROSS JOIN leaked
    GROUP BY s.split
    """.format(t80=_T80, t90=_T90),
)
def q_group_aware_split(spark, sf_dir):
    """Leakage-safe 80/10/10 split: the split coin is drawn on the
    content fingerprint (40-char normalized prefix — the same grouping
    key as exact_dup_groups_by_fingerprint), so duplicate groups never
    straddle splits. Output per split: docs, groups, realized doc
    share, and the measured straddling-group count (0 by construction
    — but computed from the assignment, which is the audit).

    Scale: one narrow fingerprint map (no shuffle), the split is a
    content-hash coin (no shuffle), and the audit is one groupBy(fp)
    plus a three-row aggregate; the leaked/total singletons broadcast."""
    from commercial_rfp_data_pipeline_spark.operators.textops import (
        dataset_split,
        norm_text,
    )

    docs = load_table(spark, sf_dir, "documents")
    g = docs.select(
        "doc_id", F.md5(F.substring(norm_text("text"), 1, 40)).alias("fp")
    )
    s = dataset_split(g, id_col="fp", seed="gsplit")
    leaked = (
        s.groupBy("fp")
        .agg(F.countDistinct("split").alias("ns"))
        .filter(F.col("ns") > 1)
        .agg(F.count("*").cast("bigint").alias("straddling_groups"))
    )
    tot = s.agg(F.count("*").cast("bigint").alias("n"))
    return (
        s.groupBy("split")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.countDistinct("fp").cast("bigint").alias("n_groups"),
        )
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(leaked))
        .select(
            "split",
            "n_docs",
            "n_groups",
            F.round(F.col("n_docs") / F.col("n").cast("double"), 6).alias(
                "doc_share"
            ),
            "straddling_groups",
        )
    )


# ---- curriculum schedule (difficulty-phased training order) ----------


@query(
    "curriculum_schedule_phases",
    """
    WITH base AS (
      SELECT doc_id,
             lower(trim(regexp_replace(CAST(text AS VARCHAR),
               '\\s+', ' ', 'g'))) AS t
      FROM documents
    ),
    feat AS (
      SELECT doc_id,
             CAST(length(t) AS BIGINT) AS n_chars,
             CAST(CASE WHEN length(t) = 0 THEN 0
                  ELSE len(string_split(t, ' ')) END AS BIGINT) AS n_words
      FROM base
    ),
    diff AS (
      SELECT doc_id, n_words,
             CASE WHEN n_words = 0 THEN 0.0
                  ELSE round(CAST(n_chars AS DOUBLE) / n_words, 6)
             END AS difficulty
      FROM feat
    ),
    ordered AS (
      SELECT doc_id, n_words, difficulty,
             CAST(row_number() OVER (ORDER BY difficulty, doc_id) - 1
               AS BIGINT) AS ordinal,
             CAST(count(*) OVER () AS BIGINT) AS n_total
      FROM diff
    )
    SELECT doc_id, difficulty, ordinal,
           CAST((ordinal * 3) // n_total AS INTEGER) AS phase
    FROM ordered
    """,
)
def q_curriculum_schedule(spark, sf_dir):
    """Curriculum-learning delivery order: documents sorted easy→hard
    by mean word length (chars per whitespace word — the cheap
    difficulty proxy), assigned a global ordinal and one of three
    equal-mass phases by integer arithmetic (ordinal*3 div n). The
    training loader consumes phase 0 first — the schedule Bengio 2009
    curricula and staged pre-training runs use.

    Scale: the oracle states the naive global row_number; the engine
    computes the ordinal with distributed_prefix_sum (range-partitioned
    local sums + broadcast offsets — same discipline as
    epoch_shuffle_positions), so no single-partition window touches the
    data plane; n_total broadcasts from a one-row aggregate."""
    from commercial_rfp_data_pipeline_spark.operators.ordered import (
        distributed_prefix_sum,
    )
    from commercial_rfp_data_pipeline_spark.operators.textops import (
        norm_text,
        token_count,
    )

    docs = load_table(spark, sf_dir, "documents")
    t = norm_text("text")
    feat = docs.select(
        "doc_id",
        F.length(t).cast("bigint").alias("n_chars"),
        token_count("text").cast("bigint").alias("n_words"),
    )
    diff = feat.select(
        "doc_id",
        F.when(F.col("n_words") == 0, F.lit(0.0))
        .otherwise(
            F.round(F.col("n_chars").cast("double") / F.col("n_words"), 6)
        )
        .alias("difficulty"),
    )
    ordered = distributed_prefix_sum(
        diff,
        values={"one": F.lit(1).cast("bigint")},
        order_by=[F.col("difficulty"), F.col("doc_id")],
    ).select(
        "doc_id",
        "difficulty",
        F.col("one_before").cast("bigint").alias("ordinal"),
    )
    n_total = diff.agg(F.count(F.lit(1)).cast("bigint").alias("n_total"))
    return ordered.crossJoin(F.broadcast(n_total)).select(
        "doc_id",
        "difficulty",
        "ordinal",
        # exact integer floor division (`div`), matching the oracle's
        # `//` — double division would drift near 2^53 / half-ulp ties
        F.expr("(ordinal * 3) div n_total").cast("int").alias("phase"),
    )


# ---- calibration + agreement (round 7) -------------------------------
# Two classifier-eval staples next to the ROC AUC and the confusion
# matrix: Expected Calibration Error (is the score a probability?) and
# Cohen's kappa (do two labelers agree beyond chance?) — the metrics a
# data pipeline runs before trusting model-assigned quality labels.


@query(
    "expected_calibration_error",
    f"""
    WITH s AS (
      SELECT doc_id, (lang = 'en') AS label,
             CAST(round(CASE WHEN len(string_split({_NORM}, ' ')) = 0 THEN 0.0
                  ELSE len(list_filter(string_split({_NORM}, ' '),
                           w -> w IN {_EN_STOPS_SQL}))
                       / CAST(len(string_split({_NORM}, ' ')) AS DOUBLE)
             END, 6) AS DECIMAL(9,6)) AS score
      FROM documents
    ),
    binned AS (
      SELECT CAST(least(floor(score * 10), 9) AS INTEGER) AS bin,
             score, CASE WHEN label THEN 1 ELSE 0 END AS y
      FROM s
    )
    SELECT bin,
           CAST(count(*) AS BIGINT) AS n,
           round(CAST(sum(score) AS DOUBLE) / count(*), 6) AS avg_conf,
           round(sum(y) / CAST(count(*) AS DOUBLE), 6) AS frac_pos,
           round(abs(CAST(sum(score) AS DOUBLE) / count(*)
                     - sum(y) / CAST(count(*) AS DOUBLE)), 6) AS abs_gap
    FROM binned GROUP BY bin
    """,
)
def q_expected_calibration_error(spark, sf_dir):
    """Reliability table behind Expected Calibration Error: the
    stopword-ratio 'P(english)' score binned into 10 half-open
    confidence deciles (bin k = [k/10, (k+1)/10), floor on the exact
    6-dp decimal score, top bin closed), each bin reporting
    count, mean confidence, empirical positive rate, and their gap.
    ECE = sum(n/N * abs_gap) is a trivial fold over these rows; the
    per-bin table is the artifact a calibration dashboard plots.

    Exactness: scores are 6-dp DECIMAL before any aggregation, so the
    per-bin sums are exact and order-independent; the two divisions
    happen once per bin on the same exact numbers. Scale: one narrow
    map + a 10-key groupBy with map-side partials."""
    from commercial_rfp_data_pipeline_spark.operators.textops import (
        STOPWORDS_EN,
        token_count,
        words,
    )

    docs = load_table(spark, sf_dir, "documents")
    n_tok = token_count("text")
    n_stop = F.size(
        F.filter(words("text"), lambda w: w.isin(*STOPWORDS_EN))
    )
    score = F.round(
        F.when(n_tok == 0, F.lit(0.0)).otherwise(
            n_stop / n_tok.cast("double")
        ),
        6,
    ).cast("decimal(9,6)")
    s = docs.select(
        (F.col("lang") == "en").cast("int").alias("y"),
        score.alias("score"),
    )
    bin_ = F.least(F.floor(F.col("score") * 10), F.lit(9)).cast("int")
    conf = F.sum("score").cast("double") / F.count(F.lit(1))
    acc = F.sum("y") / F.count(F.lit(1)).cast("double")
    return (
        s.groupBy(bin_.alias("bin"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.round(conf, 6).alias("avg_conf"),
            F.round(acc, 6).alias("frac_pos"),
            F.round(F.abs(conf - acc), 6).alias("abs_gap"),
        )
    )


from commercial_rfp_data_pipeline_spark.queries.text_q import _LANG_CTE


@query(
    "cohens_kappa_agreement",
    f"""
    WITH {_NB_CTES},
    {_LANG_CTE.strip()},
    ab AS (
      SELECT p.doc_id, p.predicted AS rater_a, l.lang_pred AS rater_b
      FROM preds p JOIN langs l USING (doc_id)
    ),
    n AS (SELECT count(*) AS n, sum(CASE WHEN rater_a = rater_b
                                         THEN 1 ELSE 0 END) AS agree
          FROM ab),
    ma AS (SELECT rater_a AS cls, count(*) AS na FROM ab GROUP BY 1),
    mb AS (SELECT rater_b AS cls, count(*) AS nb FROM ab GROUP BY 1),
    chance AS (
      SELECT CAST(coalesce(sum(ma.na * mb.nb), 0) AS BIGINT) AS s
      FROM ma JOIN mb USING (cls)
    )
    SELECT CAST(n.n AS BIGINT) AS n,
           round(n.agree / CAST(n.n AS DOUBLE), 6) AS po,
           round(chance.s / CAST(n.n * n.n AS DOUBLE), 6) AS pe,
           round((n.agree * n.n - chance.s)
                 / CAST(n.n * n.n - chance.s AS DOUBLE), 6) AS kappa
    FROM n CROSS JOIN chance
    """,
)
def q_cohens_kappa(spark, sf_dir):
    """Cohen's kappa between two independent labelers of the SAME test
    docs — the naive-Bayes language classifier (trained on the 80%
    split) and the stopword-vote heuristic — the inter-annotator
    agreement statistic every labeling pipeline reports before
    trusting silver labels. kappa = (po - pe)/(1 - pe) evaluated as
    ONE exact integer ratio (agree*n - S)/(n² - S) where S = sum of
    per-class marginal products, so no intermediate float feeds
    another division.

    Scale: both classifiers are existing bounded operators; agreement
    is one join on doc_id plus class-marginal aggregates (|classes|
    rows)."""
    from commercial_rfp_data_pipeline_spark.operators.classify import (
        naive_bayes_predict,
    )
    from commercial_rfp_data_pipeline_spark.operators.textops import lang_id

    docs = load_table(spark, sf_dir, "documents")
    train = docs.filter(F.col("doc_id") % 5 != 0)
    test = docs.filter(F.col("doc_id") % 5 == 0)
    nb = naive_bayes_predict(train, test).select(
        "doc_id", F.col("predicted").alias("rater_a")
    )
    heur = lang_id(docs).select(
        "doc_id", F.col("lang_pred").alias("rater_b")
    )
    # the (rater_a, rater_b) table feeds FOUR aggregates (n/agree, both
    # marginals, the product sum) — without truncation the NB training
    # chain and the lang-id pass execute once per consumer; one lazy
    # localCheckpoint computes the classifiers once (same compute-once
    # discipline as top_supplier_q15 / hits)
    both = nb.join(heur, "doc_id").localCheckpoint(eager=False)
    n_agree = both.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.when(F.col("rater_a") == F.col("rater_b"), 1).otherwise(0)
        ).alias("agree"),
    )
    ma = both.groupBy(F.col("rater_a").alias("cls")).agg(
        F.count(F.lit(1)).alias("na")
    )
    mb = both.groupBy(F.col("rater_b").alias("cls")).agg(
        F.count(F.lit(1)).alias("nb")
    )
    s = (
        ma.join(mb, "cls")
        .agg(
            F.coalesce(F.sum(F.col("na") * F.col("nb")), F.lit(0))
            .cast("long")
            .alias("s")
        )
    )
    return n_agree.crossJoin(F.broadcast(s)).select(
        F.col("n").cast("long").alias("n"),
        F.round(F.col("agree") / F.col("n").cast("double"), 6).alias("po"),
        F.round(
            F.col("s") / (F.col("n") * F.col("n")).cast("double"), 6
        ).alias("pe"),
        F.round(
            (F.col("agree") * F.col("n") - F.col("s"))
            / (F.col("n") * F.col("n") - F.col("s")).cast("double"),
            6,
        ).alias("kappa"),
    )


# ---- blocklist filtering + recipe drift (round 7, second wave) --------

# deterministic blocklist: the corpus's own vocabulary words whose md5
# starts with '0' stand in for a real unsafe-terms lexicon (the corpus
# is synthetic word salad — what matters is the operator shape: a
# broadcast lexicon join + per-doc hit-rate gate, exactly how real
# blocklist filters run)
_BLOCK_PRED = "substr(md5(w), 1, 1) = '0'"
_BLOCK_MAX_RATE = 0.05


@query(
    "blocklist_term_filter",
    f"""
    WITH d AS (
      SELECT doc_id, string_split({_NORM}, ' ') AS ws FROM documents
      WHERE length({_NORM}) > 0
    ),
    toks AS (SELECT doc_id, unnest(ws) AS w FROM d),
    hits AS (
      SELECT doc_id, count(*) AS n_tokens,
             sum(CASE WHEN {_BLOCK_PRED} THEN 1 ELSE 0 END) AS n_hits
      FROM toks GROUP BY doc_id
    )
    SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(n_hits AS BIGINT) AS n_hits,
           round(n_hits / CAST(n_tokens AS DOUBLE), 6) AS hit_rate,
           (n_hits / CAST(n_tokens AS DOUBLE)) <= {_BLOCK_MAX_RATE}
             AS keep
    FROM hits
    """,
)
def q_blocklist_filter(spark, sf_dir):
    """Blocklist (unsafe-terms lexicon) filtering — the first gate of
    every web-scale text pipeline: per-doc hit count against a term
    lexicon and a max-hit-rate keep decision. The lexicon here is
    md5-derived from the corpus's own vocabulary (synthetic corpus has
    no real unsafe terms); the operator shape is the real one — a
    per-token membership test evaluated as an expression (a real
    lexicon broadcasts and semi-joins the token table identically),
    one per-doc aggregate with map-side partials, zero UDFs."""
    from commercial_rfp_data_pipeline_spark.operators.textops import (
        norm_text,
    )

    docs = load_table(spark, sf_dir, "documents")
    d = docs.select("doc_id", norm_text("text").alias("_t")).filter(
        F.length("_t") > 0
    )
    toks = d.select("doc_id", F.explode(F.split("_t", " ")).alias("w"))
    is_hit = F.substring(F.md5("w"), 1, 1) == "0"
    hits = toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.sum(F.when(is_hit, 1).otherwise(0)).cast("long").alias("n_hits"),
    )
    rate = F.col("n_hits") / F.col("n_tokens").cast("double")
    return hits.select(
        "doc_id",
        "n_tokens",
        "n_hits",
        F.round(rate, 6).alias("hit_rate"),
        (rate <= F.lit(_BLOCK_MAX_RATE)).alias("keep"),
    )


@query(
    "recipe_drift_kl",
    f"""
    WITH toks AS (
      SELECT source,
             CAST(CASE WHEN length({_NORM}) = 0 THEN 0
                  ELSE len(string_split({_NORM}, ' ')) END AS BIGINT)
               AS n_tok
      FROM documents
    ),
    cur AS (SELECT source, sum(n_tok) AS tok FROM toks GROUP BY source),
    tot AS (SELECT sum(tok) AS t FROM cur),
    tgt AS (
      SELECT source, 1 + (CAST(substr(source, 4, 8) AS BIGINT) % 4) AS w
      FROM (SELECT DISTINCT source FROM cur)
    ),
    wtot AS (SELECT sum(w) AS wt FROM tgt)
    SELECT c.source,
           CAST(c.tok AS BIGINT) AS actual_tokens,
           round(c.tok / CAST(t.t AS DOUBLE), 6) AS actual_share,
           round(g.w / CAST(wt.wt AS DOUBLE), 6) AS target_share,
           round((c.tok / CAST(t.t AS DOUBLE))
                 * ln((c.tok * CAST(wt.wt AS DOUBLE)) / (g.w * t.t)), 6)
             AS kl_contrib
    FROM cur c CROSS JOIN tot t
    JOIN tgt g USING (source) CROSS JOIN wtot wt
    """,
)
def q_recipe_drift_kl(spark, sf_dir):
    """Recipe drift monitor: per-source KL(actual token share ||
    target recipe share) contributions — the one-number (after
    summing) alarm a data-mixing service watches to know when the
    incoming stream has drifted from the training recipe
    (data_recipe_rebalance's target weights). KL contribution is
    computed from ONE exact ratio per source — ln((tok*wt)/(w*tot)) —
    so no intermediate float division feeds another.

    Scale: per-source token sums with map-side partials; everything
    after is |sources| rows."""
    from commercial_rfp_data_pipeline_spark.operators.textops import (
        token_count,
    )
    from commercial_rfp_data_pipeline_spark.queries.text_q import (
        _recipe_weight,
    )

    docs = load_table(spark, sf_dir, "documents")
    cur = docs.select(
        "source", token_count("text").cast("long").alias("n_tok")
    ).groupBy("source").agg(F.sum("n_tok").alias("tok"))
    tot = cur.agg(F.sum("tok").alias("t"))
    tgt = cur.select("source").distinct().select(
        "source", _recipe_weight().alias("w")
    )
    wtot = tgt.agg(F.sum("w").alias("wt"))
    j = (
        cur.crossJoin(F.broadcast(tot))
        .join(tgt, "source")
        .crossJoin(F.broadcast(wtot))
    )
    actual = F.col("tok") / F.col("t").cast("double")
    target = F.col("w") / F.col("wt").cast("double")
    ratio = (F.col("tok") * F.col("wt").cast("double")) / (
        F.col("w") * F.col("t")
    )
    return j.select(
        "source",
        F.col("tok").cast("long").alias("actual_tokens"),
        F.round(actual, 6).alias("actual_share"),
        F.round(target, 6).alias("target_share"),
        F.round(actual * F.log(ratio), 6).alias("kl_contrib"),
    )


# ---- Neyman-allocation eval sampling (round 7) -------------------------
_NEYMAN_BUDGET = 100


@query(
    "neyman_allocation_eval_sample",
    f"""
    WITH y AS (
      SELECT source, CAST(n_chars AS BIGINT) AS y FROM documents
    ),
    m AS (
      SELECT source, count(*) AS n_docs,
             sum(y) AS sy, sum(y * y) AS syy
      FROM y GROUP BY source
    ),
    sig AS (
      SELECT source, n_docs,
             -- population sigma from EXACT integer moments:
             -- V = N*Syy - Sy^2; sigma = sqrt(V)/N
             CAST(round(sqrt(CAST(n_docs * syy - sy * sy AS DOUBLE))
                        / n_docs * 1000000) AS BIGINT) AS s_micro
      FROM m
    ),
    w AS (SELECT source, n_docs, s_micro, n_docs * s_micro AS wgt FROM sig),
    tot AS (SELECT sum(wgt) AS tw FROM w),
    base AS (
      SELECT w.source, w.n_docs, w.s_micro, w.wgt,
             ({_NEYMAN_BUDGET} * w.wgt) // tot.tw AS n_base,
             ({_NEYMAN_BUDGET} * w.wgt) % tot.tw AS rem
      FROM w CROSS JOIN tot
    ),
    left_over AS (
      SELECT {_NEYMAN_BUDGET} - sum(n_base) AS lo FROM base
    ),
    ranked AS (
      SELECT *, row_number() OVER (ORDER BY rem DESC, source) AS rnk
      FROM base
    )
    SELECT r.source, CAST(r.n_docs AS BIGINT) AS n_docs,
           round(r.s_micro / 1000000.0, 6) AS sigma,
           CAST(r.n_base + CASE WHEN r.rnk <= l.lo THEN 1 ELSE 0 END
                AS BIGINT) AS alloc
    FROM ranked r CROSS JOIN left_over l
    """,
)
def q_neyman_allocation(spark, sf_dir):
    """Neyman-allocation eval-set design: a 100-doc annotation budget
    split across sources proportional to N_h * sigma_h (stratum size x
    within-stratum std of doc length) — the statistically optimal
    stratified allocation, which oversamples heterogeneous sources
    where a proportional split wastes budget on uniform ones.

    Exactness: sigma comes from exact integer moments (V = N*Syy -
    Sy^2) and is fixed to integer micro-units, so the weights, the
    floor allocation, and the largest-remainder top-up are ALL integer
    arithmetic — the allocation sums to the budget exactly (pytest).
    The remainder ranking rides distributed_prefix_sum (never a global
    window over the per-source frame, which grows with source count).

    Scale: one groupBy(source) moment pass; everything after is
    |sources| rows."""
    from commercial_rfp_data_pipeline_spark.operators.ordered import (
        distributed_prefix_sum,
    )

    docs = load_table(spark, sf_dir, "documents")
    m = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("n_chars").cast("long")).alias("sy"),
        F.sum(F.col("n_chars").cast("long") * F.col("n_chars")).alias("syy"),
    )
    v = F.col("n_docs") * F.col("syy") - F.col("sy") * F.col("sy")
    sig = m.select(
        "source",
        "n_docs",
        F.round(F.sqrt(v.cast("double")) / F.col("n_docs") * 1e6)
        .cast("long")
        .alias("s_micro"),
    )
    w = sig.withColumn("wgt", F.col("n_docs") * F.col("s_micro"))
    tot = w.agg(F.sum("wgt").alias("tw"))
    base = w.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "s_micro",
        F.expr(f"({_NEYMAN_BUDGET} * wgt) div tw").alias("n_base"),
        (F.lit(_NEYMAN_BUDGET) * F.col("wgt") % F.col("tw")).alias("rem"),
    )
    lo = base.agg(
        (F.lit(_NEYMAN_BUDGET) - F.sum("n_base")).alias("lo")
    )
    ranked = distributed_prefix_sum(
        base,
        {"one": F.lit(1)},
        order_by=[F.col("rem").desc(), F.col("source")],
    ).withColumn("rnk", F.col("one_incl"))
    return ranked.crossJoin(F.broadcast(lo)).select(
        "source",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.round(F.col("s_micro") / 1e6, 6).alias("sigma"),
        (
            F.col("n_base")
            + F.when(F.col("rnk") <= F.col("lo"), 1).otherwise(0)
        )
        .cast("long")
        .alias("alloc"),
    )


@query(
    "quantile_normalize_scores",
    """
    WITH y AS (
      SELECT doc_id, source, CAST(n_chars AS BIGINT) AS y FROM documents
    ),
    n AS (SELECT count(*) AS nn FROM y),
    per AS (
      SELECT doc_id, source, y,
             row_number() OVER (PARTITION BY source ORDER BY y, doc_id) AS r,
             count(*) OVER (PARTITION BY source) AS nh
      FROM y
    ),
    pooled AS (
      SELECT y AS y_pool,
             row_number() OVER (ORDER BY y, doc_id) AS ordinal
      FROM y
    )
    SELECT p.doc_id, p.source, p.y,
           CAST(p.r AS BIGINT) AS r,
           CAST((p.r * n.nn + p.nh - 1) // p.nh AS BIGINT) AS pool_pos,
           CAST(pl.y_pool AS BIGINT) AS y_norm
    FROM per p CROSS JOIN n
    JOIN pooled pl ON pl.ordinal = (p.r * n.nn + p.nh - 1) // p.nh
    """,
)
def q_quantile_normalize(spark, sf_dir):
    """Quantile normalization of a per-doc score ACROSS sources (the
    batch-effect correction borrowed from bioinformatics): each doc's
    within-source quantile rank maps onto the pooled score
    distribution, so sources whose annotators/heuristics score
    systematically high or low become comparable — the calibration
    step before any cross-source quality threshold.

    Exactness: within-source ranks are partitioned windows; the pooled
    ordinal is a distributed_prefix_sum rank (the pooled frame grows
    with the corpus — never a global row_number window); the position
    mapping ceil(r*N/n_h) is pure integer arithmetic; the normalized
    value is an equi-join lookup. Everything is exact integers.

    Scale: one source-partitioned window + one range-exchange rank +
    one equi-join on the computed position."""
    from commercial_rfp_data_pipeline_spark.operators.ordered import (
        distributed_prefix_sum,
    )
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    y = docs.select(
        "doc_id", "source", F.col("n_chars").cast("long").alias("y")
    )
    n = y.agg(F.count(F.lit(1)).alias("nn"))
    wsrc = W.partitionBy("source").orderBy("y", "doc_id")
    per = y.withColumn("r", F.row_number().over(wsrc)).withColumn(
        "nh", F.count(F.lit(1)).over(W.partitionBy("source"))
    )
    pooled = distributed_prefix_sum(
        y, {"one": F.lit(1)}, order_by=[F.col("y"), F.col("doc_id")]
    ).select(
        F.col("y").alias("y_pool"), F.col("one_incl").alias("ordinal")
    )
    pos = F.expr("(r * nn + nh - 1) div nh")
    return (
        per.crossJoin(F.broadcast(n))
        .withColumn("pool_pos", pos)
        .join(pooled, F.col("pool_pos") == F.col("ordinal"))
        .select(
            "doc_id",
            "source",
            "y",
            F.col("r").cast("long").alias("r"),
            F.col("pool_pos").cast("long").alias("pool_pos"),
            F.col("y_pool").cast("long").alias("y_norm"),
        )
    )


# ---- quality-signal ensemble + per-source yield (round 7) --------------
# FineWeb/DCLM-style gating: no single heuristic is trusted alone — a
# doc survives when a MAJORITY of independent quality signals agree.
_ENS_QUALITY_T = 0.44
_ENS_ENTROPY_T = 4.1
_ENS_BLOCK_T = 0.05

_ENS_CTES = f"""
nf AS (SELECT doc_id, {_NORM} AS t FROM documents),
qfeat AS (
  SELECT doc_id, length(t) AS n_chars,
         CASE WHEN length(t) = 0 THEN 0
              ELSE len(string_split(t, ' ')) END AS n_tokens,
         len(list_filter(string_split(t, ' '),
             w -> w IN {_EN_STOPS_SQL})) AS stop,
         len(regexp_extract_all(t, '[.,;:!?]')) AS punct
  FROM nf
),
qual AS (
  SELECT doc_id,
         round(least(n_tokens / 200.0, 1.0) * 0.5
               + least(CASE WHEN n_tokens > 0
                            THEN stop / CAST(n_tokens AS DOUBLE) ELSE 0.0
                       END * 5, 1.0) * 0.3
               + (1 - least(CASE WHEN n_chars > 0
                                 THEN punct / CAST(n_chars AS DOUBLE)
                                 ELSE 0.0 END * 10, 1.0)) * 0.2, 6) AS qs
  FROM qfeat
),
echars AS (
  SELECT doc_id, unnest(string_split(t, '')) AS ch FROM nf
  WHERE length(t) > 0
),
ecnt AS (SELECT doc_id, ch, count(*) AS c FROM echars GROUP BY doc_id, ch),
ent AS (
  SELECT doc_id,
         round(log2(CAST(sum(c) AS DOUBLE))
               - sum(c * log2(CAST(c AS DOUBLE))) / sum(c), 6) AS ebits
  FROM ecnt GROUP BY doc_id
),
rg2 AS (
  SELECT doc_id, w[i] || ' ' || w[i+1] AS sh
  FROM (SELECT doc_id, string_split(t, ' ') AS w,
               unnest(generate_series(1,
                 greatest(len(string_split(t, ' ')) - 1, 0))) AS i
        FROM nf)
),
rgc AS (SELECT doc_id, sh, count(*) AS n FROM rg2 GROUP BY doc_id, sh),
rgs AS (SELECT doc_id, sum(n) AS total, max(n) AS top, count(*) AS ndist
        FROM rgc GROUP BY doc_id),
rep AS (
  SELECT nf.doc_id,
         (coalesce(gs.top / CAST(gs.total AS DOUBLE), 0.0) <= 0.2
          AND coalesce(1 - gs.ndist / CAST(gs.total AS DOUBLE), 0.0) <= 0.3
          AND CASE WHEN length(nf.t) > 0
                   THEN len(regexp_extract_all(nf.t, '[^a-z0-9 ]'))
                        / CAST(length(nf.t) AS DOUBLE)
                   ELSE 0.0 END <= 0.1) AS rep_keep
  FROM nf LEFT JOIN rgs gs USING (doc_id)
),
btoks AS (
  SELECT doc_id, count(*) AS n_tok,
         sum(CASE WHEN substr(md5(w), 1, 1) = '0' THEN 1 ELSE 0 END)
           AS n_hit
  FROM (SELECT doc_id, unnest(string_split(t, ' ')) AS w FROM nf
        WHERE length(t) > 0)
  GROUP BY doc_id
),
ens AS (
  SELECT q.doc_id,
         (q.qs >= {_ENS_QUALITY_T}) AS s_quality,
         (coalesce(e.ebits, 0.0) >= {_ENS_ENTROPY_T}) AS s_entropy,
         r.rep_keep AS s_repetition,
         (coalesce(b.n_hit / CAST(b.n_tok AS DOUBLE), 0.0)
          <= {_ENS_BLOCK_T}) AS s_blocklist
  FROM qual q
  JOIN rep r USING (doc_id)
  LEFT JOIN ent e USING (doc_id)
  LEFT JOIN btoks b USING (doc_id)
),
voted AS (
  SELECT doc_id, s_quality, s_entropy, s_repetition, s_blocklist,
         CAST((CASE WHEN s_quality THEN 1 ELSE 0 END)
              + (CASE WHEN s_entropy THEN 1 ELSE 0 END)
              + (CASE WHEN s_repetition THEN 1 ELSE 0 END)
              + (CASE WHEN s_blocklist THEN 1 ELSE 0 END) AS INTEGER)
           AS n_votes
  FROM ens
)
"""


@query(
    "quality_signal_ensemble",
    f"""
    WITH {_ENS_CTES.strip()}
    SELECT doc_id, s_quality, s_entropy, s_repetition, s_blocklist,
           n_votes, (n_votes >= 3) AS keep
    FROM voted
    """,
)
def q_quality_signal_ensemble(spark, sf_dir):
    """FineWeb/DCLM-style ensemble gate: four INDEPENDENT quality
    signals — blended quality score, char entropy, Gopher repetition
    verdict, blocklist hit rate — vote per document, and the doc
    survives on a >= 3/4 majority. Single-heuristic filters
    overfit their own failure mode (the entropy signal can't see
    boilerplate, the repetition signal can't see gibberish); majority
    gating is how production pretraining filters actually ship.

    Scale: each signal is an existing linear operator (narrow maps +
    per-doc aggregates); the ensemble is a doc_id-keyed join of four
    bounded tables. The same operator
    (textops.quality_ensemble_signals) gates the streaming
    curated-ingest sink — this query is its oracle."""
    from commercial_rfp_data_pipeline_spark.operators.textops import (
        quality_ensemble_signals,
    )

    docs = load_table(spark, sf_dir, "documents")
    return quality_ensemble_signals(
        docs,
        quality_t=_ENS_QUALITY_T,
        entropy_t=_ENS_ENTROPY_T,
        block_t=_ENS_BLOCK_T,
    )


@query(
    "pipeline_yield_by_source",
    f"""
    WITH {_ENS_CTES.strip()},
    toks AS (
      SELECT d.doc_id, d.source,
             CAST(CASE WHEN length({_NORM}) = 0 THEN 0
                  ELSE len(string_split({_NORM}, ' ')) END AS BIGINT)
               AS n_tok
      FROM documents d
    )
    SELECT t.source,
           CAST(count(*) AS BIGINT) AS docs_in,
           CAST(sum(CASE WHEN v.s_repetition THEN 1 ELSE 0 END) AS BIGINT)
             AS docs_after_repetition,
           CAST(sum(CASE WHEN v.n_votes >= 3 THEN 1 ELSE 0 END) AS BIGINT)
             AS docs_after_ensemble,
           CAST(sum(t.n_tok) AS BIGINT) AS tokens_in,
           CAST(sum(CASE WHEN v.n_votes >= 3 THEN t.n_tok ELSE 0 END)
                AS BIGINT) AS tokens_kept,
           round(sum(CASE WHEN v.n_votes >= 3 THEN t.n_tok ELSE 0 END)
                 / CAST(sum(t.n_tok) AS DOUBLE), 6) AS token_yield
    FROM toks t JOIN voted v USING (doc_id)
    GROUP BY t.source
    """,
)
def q_pipeline_yield_by_source(spark, sf_dir):
    """Per-source pipeline yield accounting — the funnel report a
    data-curation team publishes with every corpus release: documents
    in, survivors of the repetition gate, survivors of the full
    ensemble gate, and the token-level yield per source. A source
    whose yield collapses is either low-quality or the filters are
    miscalibrated for it — either way, this table is where you see
    it.

    Scale: reuses the ensemble's bounded per-doc tables; the report is
    one groupBy(source) with map-side partials."""
    from commercial_rfp_data_pipeline_spark.operators.textops import (
        token_count,
    )
    from commercial_rfp_data_pipeline_spark.registry import all_queries

    ens = q_quality_signal_ensemble(spark, sf_dir).select(
        "doc_id", "s_repetition", "n_votes"
    )
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", token_count("text").cast("long").alias("n_tok")
    )
    kept_tok = F.when(F.col("n_votes") >= 3, F.col("n_tok")).otherwise(0)
    return (
        docs.join(ens, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("docs_in"),
            F.sum(F.when(F.col("s_repetition"), 1).otherwise(0))
            .cast("long")
            .alias("docs_after_repetition"),
            F.sum(F.when(F.col("n_votes") >= 3, 1).otherwise(0))
            .cast("long")
            .alias("docs_after_ensemble"),
            F.sum("n_tok").cast("long").alias("tokens_in"),
            F.sum(kept_tok).cast("long").alias("tokens_kept"),
            F.round(
                F.sum(kept_tok) / F.sum("n_tok").cast("double"), 6
            ).alias("token_yield"),
        )
    )
