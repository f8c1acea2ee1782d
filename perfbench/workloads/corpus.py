"""The corpus stage of ``batch_pipeline``: the ``functions`` operators
over a seeded corpus with planted near-duplicates and boilerplate.

One pass runs MinHash-LSH pair search (auto-sized banding),
SemDeDup, heavy-hitter n-grams, the bigram-LM score and exact cosine
top-k.
"""

from __future__ import annotations

import os

import numpy as np

from perfbench import gen
from perfbench.workloads.common import Part, timed_call, write_parquet

SIZES = {
    "full": {
        "docs": 800,
        "vocab": 2_000,
        "min_len": 30,
        "max_len": 70,
        "dup_share": 0.08,
        "boiler_share": 0.05,
        "dim": 32,
        "queries": 16,
    },
    "tiny": {
        "docs": 300,
        "vocab": 500,
        "min_len": 20,
        "max_len": 40,
        "dup_share": 0.1,
        "boiler_share": 0.05,
        "dim": 16,
        "queries": 4,
    },
}

SEMDEDUP_THRESHOLD = 0.95
TOP_K = 10
CALLS = (
    "functions.dedup.minhash_lsh_pairs",
    "functions.clustering.semantic_dedup",
    "functions.heavy_hitters.frequent_ngrams",
    "functions.lm.ngram_lm_score",
    "functions.similarity.cosine_topk_batch",
)


def _shingles(text: str, n: int = 3) -> set[str]:
    toks = [t for t in text.split(" ") if t]
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


def _unit(m: np.ndarray) -> np.ndarray:
    return m / np.linalg.norm(m, axis=1, keepdims=True)


class CorpusDedup(Part):
    def __init__(self, rec, seed: int, sz: dict, run_dir: str):
        super().__init__(rec, seed, sz, run_dir)
        self.data_dir = os.path.join(run_dir, "corpus")

    def generate(self) -> None:
        self.tables = gen.corpus(self.seed, self.sz)
        self.paths = write_parquet(self.tables, self.data_dir)

    def register(self, spark) -> None:
        with self.rec.span("fixture.load_corpus"):
            self.dfs = {
                name: spark.read.parquet(path).cache()
                for name, path in self.paths.items()
            }
            for df in self.dfs.values():
                df.count()

    def _calls(self) -> list:
        from featureform_spark.functions.clustering import semantic_dedup
        from featureform_spark.functions.dedup import minhash_lsh_pairs
        from featureform_spark.functions.heavy_hitters import frequent_ngrams
        from featureform_spark.functions.lm import ngram_lm_score
        from featureform_spark.functions.similarity import cosine_topk_batch
        from featureform_spark.suite_llm import _HH_FRAC

        docs, emb = self.dfs["docs"], self.dfs["embeddings"]
        n = self.sz["docs"]
        # auto-sized banding; below 64k docs it derives the pinned 24x8
        return [
            ("pairs", CALLS[0], lambda: minhash_lsh_pairs(docs, jaccard_threshold=0.5, n_rows=n)),
            ("semdedup", CALLS[1], lambda: semantic_dedup(
                emb, k=None, dim=self.sz["dim"], threshold=SEMDEDUP_THRESHOLD, n_rows=n
            )),
            ("ngrams", CALLS[2], lambda: frequent_ngrams(docs, n=3, min_frac=_HH_FRAC)),
            ("lm", CALLS[3], lambda: ngram_lm_score(docs)),
            ("topk", CALLS[4], lambda: cosine_topk_batch(emb, self.dfs["queries"], k=TOP_K)),
        ]

    def op(self) -> None:
        self.last = {
            key: timed_call(self.rec, span, build)[1] for key, span, build in self._calls()
        }

    def verify(self, checks) -> None:
        import duckdb

        from featureform_spark.suite import all_oracles

        out = self.last
        texts = self.tables["docs"].column("text").to_pylist()
        pairs = out["pairs"]
        sh = [_shingles(t) for t in texts]
        bad = [
            (a, b)
            for a, b, j in pairs[["id_a", "id_b", "jaccard"]].itertuples(index=False)
            if not a < b
            or abs(len(sh[a] & sh[b]) / len(sh[a] | sh[b]) - j) > 1e-9
            or j < 0.5
        ]
        checks.expect("corpus.minhash_pairs_exact_jaccard", not bad, f"{bad[:3]}")
        # planted near-duplicates at Jaccard >= 0.8 must be found. LSH is
        # probabilistic: 8 bands of 3 rows miss a J = 0.8 pair with
        # probability (1 - 0.8**3)**8 = 0.3%, so one miss among the ~20
        # strong pairs is allowed; two happen in well under 1% of runs,
        # and a banding or signature defect misses many.
        found = set(zip(pairs["id_a"], pairs["id_b"]))
        strong = [
            (a, b)
            for a, b in self._planted()
            if len(sh[a] & sh[b]) / max(1, len(sh[a] | sh[b])) >= 0.8
        ]
        missed = [p for p in strong if p not in found]
        checks.expect(
            "corpus.minhash_recall_planted",
            len(missed) <= 1,
            f"missed {len(missed)} of {len(strong)}",
        )
        self._check_semdedup(checks, out["semdedup"])
        # the suite's own DuckDB oracles, over the corpus as their
        # ``documents`` table
        oracles = all_oracles()
        con = duckdb.connect()
        try:
            con.execute(
                f"CREATE VIEW documents AS SELECT * FROM read_parquet('{self.paths['docs']}')"
            )
            for key, name in (("ngrams", "frequent_ngrams"), ("lm", "ngram_lm_score")):
                checks.same(f"corpus.{name}", out[key], con.execute(oracles[name]).df())
        finally:
            con.close()
        self._check_topk(checks, out["topk"])

    def _planted(self) -> list[tuple[int, int]]:
        """(source, copy) pairs of planted near-duplicates: a copy
        shares the source's embedding up to noise, so recover them from
        the generator's embeddings rather than re-deriving its RNG."""
        e = _unit(np.array(self.tables["embeddings"].column("embedding").to_pylist()))
        sims = e @ e.T
        np.fill_diagonal(sims, -1.0)
        a, b = np.nonzero(np.triu(sims, 1) >= 0.999)
        return list(zip(a.tolist(), b.tolist()))

    def _check_semdedup(self, checks, kept) -> None:
        e = _unit(np.array(self.tables["embeddings"].column("embedding").to_pylist()))
        ids = kept["vec_id"].to_numpy()
        clusters = kept["cluster"].to_numpy()
        viol = 0
        for c in np.unique(clusters):
            m = ids[clusters == c]
            s = e[m] @ e[m].T
            np.fill_diagonal(s, -1.0)
            viol += int((s >= SEMDEDUP_THRESHOLD + 1e-9).sum())
        checks.expect("corpus.semdedup_no_kept_duplicates", viol == 0, f"{viol} pairs")
        kept_ids = set(ids.tolist())
        planted = self._planted()
        dropped = sum(1 for _a, b in planted if b not in kept_ids)
        checks.expect(
            "corpus.semdedup_drops_planted",
            dropped >= 0.9 * len(planted),
            f"dropped {dropped} of {len(planted)}",
        )

    def _check_topk(self, checks, got) -> None:
        e = _unit(np.array(self.tables["embeddings"].column("embedding").to_pylist()))
        q = _unit(np.array(self.tables["queries"].column("embedding").to_pylist()))
        s = q @ e.T
        want = {
            (qi, int(vi), r + 1)
            for qi in range(len(q))
            for r, vi in enumerate(np.lexsort((np.arange(e.shape[0]), -s[qi]))[:TOP_K])
        }
        have = set(zip(got["query_id"], got["vec_id"], got["rank"]))
        checks.expect("corpus.cosine_topk_exact", have == want, f"{len(have ^ want)} differ")
