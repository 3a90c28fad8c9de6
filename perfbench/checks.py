"""Output checks. Every reference here is computed without Spark: DuckDB
for registry queries (the repo's own oracle SQL and comparator), and
numpy/pyarrow for search results, read straight from the index tables
the engine wrote."""

from __future__ import annotations

import hashlib
import importlib.util
import json
import math
import os

import numpy as np
import pyarrow.parquet as pq

SIM_TOL = 2e-6  # scores are rounded to 6 dp; allow one unit of rounding skew
BM25_TOL = 1e-5


def load_verify_local(root: str):
    """``scripts/verify_local.py`` as a module: its typed multiset
    comparator and Arrow oracle fetch are the repo's correctness gate."""
    spec = importlib.util.spec_from_file_location(
        "verify_local", os.path.join(root, "scripts", "verify_local.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class Oracle:
    """DuckDB over the generated corpus with the registry's oracle SQL."""

    def __init__(self, root: str, data_dir: str):
        import duckdb

        from commercial_rfp_data_pipeline_spark.io import TABLES
        from commercial_rfp_data_pipeline_spark.registry import all_oracles

        self.vl = load_verify_local(root)
        self.sql = all_oracles()
        self.con = duckdb.connect()
        for t in TABLES:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
            )

    def rows(self, name: str) -> tuple[list[str], list[tuple]]:
        return self.vl.fetch_oracle_arrow(self.con, self.sql[name])

    def same(self, cols_a, rows_a, cols_b, rows_b) -> bool:
        return sorted(cols_a) == sorted(cols_b) and self.vl.to_multiset(
            cols_a, rows_a
        ) == self.vl.to_multiset(cols_b, rows_b)


def read_rows(path: str, **kw) -> tuple[list[str], list[tuple]]:
    t = pq.read_table(path, **kw)
    cols = t.column_names
    return cols, [tuple(d[c] for c in cols) for d in t.to_pylist()]


def expected_chunks(data_dir: str, size: int, overlap: int) -> int:
    """Chunk count the chunker must produce: 1 + ceil(max(len - size, 0) / step)."""
    step = size - overlap
    texts = pq.read_table(os.path.join(data_dir, "documents.parquet"), columns=["text"])
    return sum(
        1 + math.ceil(max(len(t) - size, 0) / step)
        for t in texts.column("text").to_pylist()
        if t is not None
    )


def embed(text: str, dim: int = 64) -> np.ndarray:
    """numpy twin of the engine's hashed bag-of-words query embedder."""
    counts = np.zeros(dim)
    for tok in " ".join(text.split()).lower().split(" "):
        counts[int(hashlib.md5(tok.encode()).hexdigest()[:2], 16) % dim] += 1
    return np.round(counts / np.sqrt((counts**2).sum()), 6)


def _cosine(mat: np.ndarray, norms: np.ndarray, q: np.ndarray) -> np.ndarray:
    return np.round(mat @ q / (norms * np.sqrt(q @ q)), 6)


def topk_ok(got: list[tuple[str, float]], scores: dict[str, float], k: int, tol: float) -> bool:
    """``got`` is a correct top-k of ``scores``: right length, no
    duplicates, every score right, non-increasing, and nothing left out
    scores above the lowest returned one."""
    ids = [i for i, _ in got]
    if len(got) != min(k, len(scores)) or len(set(ids)) != len(ids):
        return False
    if any(i not in scores or abs(s - scores[i]) > tol for i, s in got):
        return False
    if any(b[1] > a[1] + tol for a, b in zip(got, got[1:])):
        return False
    floor = min((s for _, s in got), default=math.inf)
    return all(s <= floor + tol for i, s in scores.items() if i not in set(ids))


class SearchReference:
    """Brute-force answers over the index tables the engine wrote."""

    def __init__(self, warehouse: str):
        emb = pq.read_table(os.path.join(warehouse, "embeddings"))
        self.ids = emb.column("chunk_id").to_pylist()
        self.mat = np.array(emb.column("embedding").to_pylist())
        self.norms = np.sqrt((self.mat**2).sum(axis=1))
        cents = pq.read_table(os.path.join(warehouse, "ivf_centroids"))
        self.cent_ids = np.array(cents.column("cent_id").to_pylist())
        self.cents = np.array(cents.column("cent_vec").to_pylist())
        self.cent_norms = np.array(cents.column("_cn").to_pylist())
        cells = pq.read_table(os.path.join(warehouse, "ivf_cells"), partitioning="hive")
        self.cell_of = dict(
            zip(cells.column("chunk_id").to_pylist(), cells.column("cent_id").to_pylist())
        )
        root = os.path.join(warehouse, "bm25")
        with open(os.path.join(root, "MANIFEST.json")) as f:
            man = json.load(f)

        def part(name, keys):
            return pq.read_table([*_files(os.path.join(root, name, k) for k in keys)]).to_pandas()

        self.tf = part("tf", man["batches"])
        self.dl = part("dl", man["batches"])
        self.df = part("df", [man["df"]])
        stats = part("stats", [man["stats"]]).iloc[0]
        self.n_docs, self.avgdl = int(stats.n_docs), stats.sum_dl / stats.n_docs

    def exact_ok(self, got, question: str, k: int) -> bool:
        sims = _cosine(self.mat, self.norms, embed(question))
        return topk_ok(got, dict(zip(self.ids, sims)), k, SIM_TOL)

    def ivf_ok(self, got, question: str, k: int, nprobe: int) -> bool:
        q = embed(question)
        probe = _cosine(self.cents, self.cent_norms, q)
        order = sorted(range(len(probe)), key=lambda i: (-probe[i], self.cent_ids[i]))
        probed = {int(self.cent_ids[i]) for i in order[:nprobe]}
        sims = _cosine(self.mat, self.norms, q)
        scores = {i: s for i, s in zip(self.ids, sims) if int(self.cell_of[i]) in probed}
        return topk_ok(got, scores, k, SIM_TOL)

    def bm25_ok(self, got, terms: list[str], k: int, max_df_frac=0.5, k1=1.2, b=0.75) -> bool:
        df = self.df[self.df.tok.isin(terms) & (self.df.df <= self.n_docs * max_df_frac)]
        cand = self.tf.merge(df, on="tok").merge(self.dl, on="chunk_id")
        idf = np.log(1 + (self.n_docs - cand.df + 0.5) / (cand.df + 0.5))
        cand["c"] = idf * cand.tf * (k1 + 1) / (
            cand.tf + k1 * (1 - b + b * cand.dl / self.avgdl)
        )
        scores = cand.groupby("chunk_id").c.sum().round(6).to_dict()
        return topk_ok(got, scores, k, BM25_TOL)


def _files(dirs):
    for d in dirs:
        for name in sorted(os.listdir(d)):
            if name.endswith(".parquet"):
                yield os.path.join(d, name)
