"""The benchmark's workloads. Each has ``setup`` (timed as set-up),
``measure`` (a closed loop with one client: the next call starts when
the previous one returns) and ``check`` (untimed output checks).

- ``rfp_pipeline``: batches of the reference's six stages, each into
  a fresh warehouse, after one cold batch that warms the JVM; then
  content-library questions on the three search paths, served from
  the index the last batch built.
- ``query_suite``: passes over the headline registry queries in a
  seeded order, against warehouse artifacts built in set-up.

Every timed call is one record in ``ops`` (``ok`` is set by the
checks). A pass is a batch of calls timed as a whole (``passes``); a
request is a call a user waits on by itself (``request`` records).
"""

from __future__ import annotations

import os
import sys
import time
import traceback

import pyarrow.parquet as pq
from checks import SearchReference, read_rows
from tracing import cpu_s, steal_s

SOURCE_FILE = "RFP_content_library.xlsx"
PREVIEW = "https://host/preview/"
STAGES = ("ensure_index", "clean", "render", "rebuild", "reconcile")

# headline registry query -> the module (layer) that implements it
HEADLINE = {
    "rfp_clean_flagship": "rfp",
    "pricing_summary_q1": "relational",
    "multi_join_order_lineitem_part": "relational",
    "dedup_exact_deterministic": "dedup_q",
    "topk_orders_per_customer": "relational",
    "window_rank_lag_running": "relational",
    "keep_latest_global_date_literal": "dedup_q",
    "revenue_topn_with_order": "relational",
    "training_data_pipeline": "quality_q",
    "shipping_priority_q3": "tpch_q",
    "pagerank_copurchase": "graph_q",
    "span_dedup_c4": "text_q",
    "semdedup_prune": "vector_q",
}
# its DuckDB oracle takes over 30 s even at 500 documents: a timed run
# checks it pass-to-pass; smoke mode checks it against the oracle
SLOW_ORACLE = "training_data_pipeline"
SEARCH_PATHS = ("exact", "ivf", "bm25")
K, NPROBE = 5, 2
MIN_ROUNDS = 2
BATCHES = 2  # timed batches, after the warm-up batch


def noop(df) -> None:
    """Fully materialize every column of ``df`` and discard the rows."""
    df.write.format("noop").mode("overwrite").save()


def fetch(df) -> tuple[list[str], list[tuple]]:
    """All result rows, moved to Python through Arrow."""
    t = df.toArrow()
    return t.column_names, [tuple(d.values()) for d in t.to_pylist()]


def _count_rows(path: str) -> int:
    return sum(
        pq.read_metadata(os.path.join(path, f)).num_rows
        for f in os.listdir(path)
        if f.endswith(".parquet")
    )


class Workload:
    def __init__(self, ctx):
        self.ctx = ctx
        self.ops: list[dict] = []
        self.passes: list[float] = []  # wall seconds per pass
        self.pass_usage: list[dict] = []  # CPU and stolen seconds per pass

    def timed_pass(self, fn) -> None:
        """Run one pass; record its wall time, the CPU it used and the
        CPU time stolen by other guests meanwhile."""
        c0, s0, t0 = cpu_s(), steal_s(), time.perf_counter()
        fn()
        self.passes.append(time.perf_counter() - t0)
        self.pass_usage.append({"cpu_s": cpu_s() - c0, "steal_s": steal_s() - s0})

    def attempt(self, span: str, build, act=None, timed=True, **tags):
        """One call; an exception fails the call, not the run. Untimed
        calls (set-up, checks) are not counted in ``ops``."""
        try:
            out, rec = self.ctx.tracer.call(span, build, act)
            rec["ok"] = True
        except Exception:
            print(f"perfbench: {span} raised\n{traceback.format_exc()}", file=sys.stderr)
            out, rec = None, {"span": span, "ok": False}
        rec.update(tags)
        if timed:
            self.ops.append(rec)
        return out, rec


class RfpPipeline(Workload):
    name = "rfp_pipeline"

    def __init__(self, ctx):
        super().__init__(ctx)
        self.index = ""  # the warehouse of the latest batch
        self.searches: list[tuple] = []  # (record, path, question or terms, hits)

    def _stages(self, batch_no: int, timed: bool) -> None:
        """The six stages into a fresh warehouse; a timed batch is one
        pass, and its outputs are checked right after it."""
        from pyspark.sql import functions as F

        from commercial_rfp_data_pipeline_spark.operators.documents import (
            docx_name_filter,
            reconcile_listings,
            render_documents,
            write_docx_files,
            write_documents,
        )
        from commercial_rfp_data_pipeline_spark.plans.flagship import flagship
        from commercial_rfp_data_pipeline_spark.plans.index_lifecycle import (
            ensure_index,
            reset_and_rebuild,
        )

        base = os.path.join(self.ctx.work, f"batch{batch_no}")
        spark, sf, wh = self.ctx.spark, self.ctx.data_dir, os.path.join(base, "warehouse")
        lib, docx = (os.path.join(base, d) for d in ("doclib", "docx"))
        self.index = wh
        clean_path = os.path.join(wh, "rfp_clean")

        def render():
            docs = render_documents(spark.read.parquet(clean_path), source_file=SOURCE_FILE)
            write_documents(docs, lib)
            write_docx_files(docs, docx)

        def reconcile():
            ours = docx_name_filter(spark.read.parquet(lib).select(F.col("file_name").alias("name")))
            theirs = docx_name_filter(spark.read.parquet(self.ctx.expect.listing_path))
            to_upload, to_delete = reconcile_listings(ours, theirs)
            to_upload.select(
                F.col("name").alias("file_name"),
                F.concat(F.lit(PREVIEW), F.col("name")).alias("preview_url"),
            ).write.mode("overwrite").parquet(os.path.join(wh, "citation_map"))
            to_delete.write.mode("overwrite").parquet(os.path.join(wh, "to_delete"))

        stages = {
            "ensure_index": lambda: ensure_index(spark, sf, wh),
            "clean": lambda: flagship(spark, sf).write.mode("overwrite").parquet(clean_path),
            "render": render,
            "rebuild": lambda: reset_and_rebuild(spark, sf, wh),
            "reconcile": reconcile,
        }
        recs, pass_no = [], len(self.passes) if timed else None

        def batch():
            for d in (wh, lib, docx):  # stage 1: create the warehouse containers
                os.makedirs(d)
            for stage in STAGES:
                span = f"pipeline.{stage}"
                recs.append(self.attempt(span, stages[stage], timed=timed, **{"pass": pass_no})[1])
                if not recs[-1]["ok"]:
                    break

        if not timed:
            batch()
            return
        self.timed_pass(batch)
        if recs[-1]["ok"] and not self._outputs_ok(wh, docx):
            for rec in recs:
                rec["ok"] = False

    def _outputs_ok(self, wh: str, docx: str) -> bool:
        exp = self.ctx.expect
        cols, rows = read_rows(os.path.join(wh, "rfp_clean"))
        upload = sorted(set(exp.library) - set(exp.remote))
        delete = sorted(set(exp.remote) - set(exp.library))
        checks = {
            "cleaned rows match the rfp_clean_flagship oracle": self.ctx.oracle.same(
                cols, rows, *exp.clean
            ),
            "one .docx per cleaned row": sorted(os.listdir(docx)) == exp.library,
            "chunk and embedding counts": _count_rows(os.path.join(wh, "chunks"))
            == exp.n_chunks
            == _count_rows(os.path.join(wh, "embeddings")),
            "citation map": sorted(
                n for (n,) in read_rows(os.path.join(wh, "citation_map"), columns=["file_name"])[1]
            )
            == upload,
            "to_delete": sorted(n for (n,) in read_rows(os.path.join(wh, "to_delete"))[1])
            == delete,
        }
        for what, good in checks.items():
            if not good:
                print(f"perfbench: rfp_pipeline check failed: {what}", file=sys.stderr)
        return all(checks.values())

    def _search(self, path: str, timed: bool) -> None:
        """One user question on one search path."""
        from commercial_rfp_data_pipeline_spark.plans import index_lifecycle as il

        spark, question = self.ctx.spark, self.ctx.question()
        terms = sorted(set(question.lower().split()))
        build = {
            "exact": lambda: il.search(spark, self.index, [question], k=K),
            "ivf": lambda: il.ivf_search_index(spark, self.index, [question], nprobe=NPROBE, k=K),
            "bm25": lambda: il.bm25_search_index(spark, self.index, terms, k=K),
        }[path]
        # k rows returned to a user: collect() is the natural action
        rows, rec = self.attempt(f"search.{path}", build, lambda df: df.collect(), timed, request=True)
        if rows is not None and timed:
            score = "bm25" if path == "bm25" else "sim"
            hits = sorted(((r["chunk_id"], r[score]) for r in rows), key=lambda h: (-h[1], h[0]))
            rec["hits"] = len(hits)
            self.searches.append((rec, path, terms if path == "bm25" else question, hits))

    def setup(self) -> None:
        with self.ctx.setup_span("setup.warm"):
            # the first batch in a fresh JVM runs about three times
            # slower than the next: class loading, JIT compilation,
            # codegen and Python worker start-up
            self._stages(0, timed=False)

    def measure(self, seconds: float) -> None:
        """``BATCHES`` batches, then rounds of questions (one per search
        path, in seeded order) until ``seconds`` have passed, at least
        ``MIN_ROUNDS`` of them so the median has samples on every path."""
        from commercial_rfp_data_pipeline_spark.io import load_table
        from commercial_rfp_data_pipeline_spark.plans import index_lifecycle as il

        ctx, spark = self.ctx, self.ctx.spark
        for batch_no in range(1, BATCHES + 1):
            self._stages(batch_no, timed=True)
        with ctx.setup_span("setup.index_build"):  # the IVF and BM25 serving indexes
            il.ensure_ivf_index(spark, ctx.data_dir, self.index)
            il.ensure_bm25_index(spark, load_table(spark, ctx.data_dir, "documents"), self.index)
        with ctx.setup_span("setup.warm"):  # the first question on each path
            for path in SEARCH_PATHS:
                self._search(path, timed=False)
        t_end, rounds = time.perf_counter() + seconds, 0
        while rounds < MIN_ROUNDS or time.perf_counter() < t_end:
            for i in ctx.rng.permutation(len(SEARCH_PATHS)):
                self._search(SEARCH_PATHS[i], timed=True)
            rounds += 1

    def check(self) -> None:
        """Stage outputs were checked after the batch; each answer is
        checked against brute force over the index tables."""
        ref = SearchReference(self.index)
        for rec, path, query, hits in self.searches:
            ok = {
                "exact": lambda: ref.exact_ok(hits, query, K),
                "ivf": lambda: ref.ivf_ok(hits, query, K, NPROBE),
                "bm25": lambda: ref.bm25_ok(hits, query, K),
            }[path]()
            if not ok:
                print(f"perfbench: search.{path} wrong for {query!r}: {hits}", file=sys.stderr)
            rec["ok"] = ok


class QuerySuite(Workload):
    name = "query_suite"

    def __init__(self, ctx):
        super().__init__(ctx)
        from commercial_rfp_data_pipeline_spark.registry import all_queries

        self.queries = all_queries()
        self.first: dict[str, tuple | None] = {}  # query -> (cols, rows) of the set-up pass

    def _query(self, name: str, act, pass_no: int | None = None):
        from commercial_rfp_data_pipeline_spark.io import release_pinned

        release_pinned()  # each query pins its own build products
        q = self.queries[name]
        timed = pass_no is not None
        return self.attempt(
            f"queries.{HEADLINE[name]}",
            lambda: q(self.ctx.spark, self.ctx.data_dir),
            act,
            timed,
            query=name,
            request=True,
            **{"pass": pass_no},
        )[0]

    def setup(self) -> None:
        with self.ctx.setup_span("setup.artifact_build"):
            # the first pass builds every warehouse artifact and warms
            # the JVM; its results are fetched here, outside any timed
            # call, for the checks
            for name in HEADLINE:
                self.first[name] = self._query(name, fetch)

    def measure(self, seconds: float) -> None:
        """Passes over every headline query, each in a seeded order and
        fully materialized, until ``seconds`` have passed."""
        names = list(HEADLINE)
        t_end = time.perf_counter() + seconds
        while time.perf_counter() < t_end:
            order, pass_no = self.ctx.rng.permutation(len(names)), len(self.passes)
            self.timed_pass(lambda: [self._query(names[i], noop, pass_no) for i in order])

    def check(self) -> None:
        ctx, good = self.ctx, {}
        for name, result in self.first.items():
            if result is None:
                good[name] = False
            elif name == SLOW_ORACLE and not ctx.smoke:
                again = self._query(name, fetch)
                good[name] = again is not None and ctx.oracle.same(*result, *again)
            else:
                good[name] = ctx.oracle.same(*result, *ctx.oracle.rows(name))
            if not good[name]:
                print(f"perfbench: {name} result does not match its check", file=sys.stderr)
        for rec in self.ops:
            rec["ok"] = rec["ok"] and good[rec["query"]]


WORKLOADS = {w.name: w for w in (RfpPipeline, QuerySuite)}
