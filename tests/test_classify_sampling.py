"""Round-5 additions: hashed-ngram classifier, bigram LM, per-key caps,
global exact-N sampling."""

import math

import pytest
from pyspark.sql import functions as F

from pandas_plus_spark.operators import classify, ranking, sampling
from pandas_plus_spark.util import release_cached


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the cat sat on the mat", "a"),
        (1, "the cat sat on the mat", "a"),      # exact dup of 0
        (2, "a completely different document here", "a"),
        (3, "", "b"),                             # empty → no features
        (4, "single", "b"),                       # 1 token → no bigrams
        (5, "the dog sat on the mat", "b"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, source string")


POLY_MOD = 1_000_000_007


def _poly(s: str) -> int:
    acc = 0
    for ch in s:
        acc = (acc * 31 + ord(ch)) % POLY_MOD
    return acc


def _buckets(text: str, dim: int) -> list[int]:
    toks = [t for t in text.split(" ") if t]
    hs = [_poly(t) for t in toks]
    # fastText word-hash combine for bigram features
    bi = [((hs[i] * 116049371 + hs[i + 1]) % POLY_MOD) % dim
          for i in range(len(hs) - 1)]
    return [h % dim for h in hs] + bi


class TestClassifier:
    DIM = 64

    def test_affine_weights_match_python(self, docs):
        got = {r["doc_id"]: r for r in classify.classifier_score(
            docs, "text", "doc_id", dim=self.DIM).collect()}
        for doc_id, text in [(0, "the cat sat on the mat"),
                             (2, "a completely different document here")]:
            bk = _buckets(text, self.DIM)
            ws = [((b * classify.WEIGHT_KNUTH) % classify.WEIGHT_PRIME)
                  / classify.WEIGHT_PRIME - 0.5 for b in bk]
            want = 1.0 / (1.0 + math.exp(-(sum(ws) / len(ws))))
            assert got[doc_id]["n_feats"] == len(bk)
            assert got[doc_id]["score"] == pytest.approx(want, rel=1e-12)
            assert got[doc_id]["keep"] == (got[doc_id]["score"] >= 0.5)

    def test_explicit_weights_and_bias(self, docs):
        weights = [0.01 * i - 0.3 for i in range(self.DIM)]
        got = {r["doc_id"]: r for r in classify.classifier_score(
            docs, "text", "doc_id", dim=self.DIM, weights=weights,
            bias=0.25).collect()}
        bk = _buckets("the cat sat on the mat", self.DIM)
        want = 1.0 / (1.0 + math.exp(-(0.25 + sum(weights[b] for b in bk) / len(bk))))
        assert got[0]["score"] == pytest.approx(want, rel=1e-12)
        # identical docs → identical scores
        assert got[0]["score"] == got[1]["score"]

    def test_empty_doc_scores_null(self, docs):
        got = {r["doc_id"]: r for r in classify.classifier_score(
            docs, "text", "doc_id", dim=self.DIM).collect()}
        assert got[3]["n_feats"] == 0
        assert got[3]["score"] is None and got[3]["keep"] is None

    def test_weights_length_validated(self, docs):
        with pytest.raises(ValueError, match="length"):
            classify.classifier_score(docs, "text", "doc_id", dim=8,
                                      weights=[0.0] * 4)


class TestBigramLM:
    def test_values_match_python(self, docs, spark):
        lam = 0.8
        out = ranking.bigram_lm_score(docs, "doc_id", "text", lam=lam)
        got = {r["doc_id"]: r for r in out.collect()}
        release_cached(out)

        corpus = [r["text"] for r in docs.collect()]
        toks = [[t for t in c.split(" ") if t] for c in corpus]
        uni: dict[str, int] = {}
        bi: dict[tuple, int] = {}
        for ts in toks:
            for t in ts:
                uni[t] = uni.get(t, 0) + 1
            for a, b in zip(ts, ts[1:]):
                bi[(a, b)] = bi.get((a, b), 0) + 1
        total = float(sum(uni.values()))
        for doc_id, ts in enumerate(toks):
            pairs = list(zip(ts, ts[1:]))
            if not pairs:
                assert got[doc_id]["n_bigrams"] == 0
                assert got[doc_id]["xent"] is None and got[doc_id]["ppl"] is None
                continue
            lnp = [math.log(lam * (bi[(a, b)] / uni[a])
                            + (1 - lam) * (uni[b] / total)) for a, b in pairs]
            h = -sum(lnp) / len(lnp)
            assert got[doc_id]["n_bigrams"] == len(pairs)
            assert got[doc_id]["xent"] == pytest.approx(h, rel=1e-9)
            assert got[doc_id]["ppl"] == pytest.approx(math.exp(h), rel=1e-9)

    def test_scrambled_doc_scores_higher(self, spark):
        # a doc whose transitions never repeat in the corpus (scrambled
        # word order) must be more perplexing than the fluent docs whose
        # bigrams it shares tokens with
        rows = [(i, "the cat sat on the mat") for i in range(5)]
        rows.append((5, "mat the on cat the sat"))
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = ranking.bigram_lm_score(df, "doc_id", "text")
        got = {r["doc_id"]: r["ppl"] for r in out.collect()}
        release_cached(out)
        assert got[5] > got[0]


class TestCapAndSample:
    def test_cap_per_key_bounds_and_determinism(self, docs):
        capped = sampling.cap_per_key(docs, "source", 2, "doc_id", seed=1)
        counts = {r["source"]: r["n"] for r in capped.groupBy("source")
                  .agg(F.count(F.lit(1)).alias("n")).collect()}
        assert all(n <= 2 for n in counts.values())
        assert counts["a"] == 2 and counts["b"] == 2
        again = sampling.cap_per_key(docs, "source", 2, "doc_id", seed=1)
        assert {r["doc_id"] for r in capped.collect()} == \
               {r["doc_id"] for r in again.collect()}
        # different seed → (possibly) different members, same bound
        other = sampling.cap_per_key(docs, "source", 2, "doc_id", seed=2)
        assert other.count() == 4

    def test_cap_noop_when_under_n(self, docs):
        assert sampling.cap_per_key(docs, "source", 100, "doc_id").count() == 6

    def test_global_sample_exact_n_and_plan(self, spark):
        df = spark.range(10_000).select(F.col("id").alias("k"))
        out = sampling.global_sample_n(df, 37, "k", seed=3)
        rows = out.collect()
        assert len(rows) == 37
        # deterministic across invocations
        again = sampling.global_sample_n(df, 37, "k", seed=3).collect()
        assert {r["k"] for r in rows} == {r["k"] for r in again}
        # TakeOrderedAndProject — no global sort / single-partition exchange
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "TakeOrderedAndProject" in plan
        assert "SinglePartition" not in plan

    def test_global_sample_n_exceeding_count(self, spark):
        df = spark.range(5).select(F.col("id").alias("k"))
        assert sampling.global_sample_n(df, 100, "k").count() == 5


class TestPCA:
    @pytest.fixture(scope="class")
    def vecs(self, spark):
        import numpy as np
        rng = np.random.RandomState(7)
        # anisotropic cloud: variance concentrated in a few directions
        basis = rng.randn(6, 16)
        X = rng.randn(400, 6) * [10, 5, 3, 1, 0.5, 0.1] @ basis
        X = X + rng.randn(400, 16) * 0.01
        rows = [(i, [float(x) for x in X[i]]) for i in range(len(X))]
        return (spark.createDataFrame(rows, "vec_id long, embedding array<double>"),
                X)

    def test_fit_matches_numpy(self, vecs):
        import numpy as np
        from pandas_plus_spark.operators.similarity import pca_fit
        df, X = vecs
        model = pca_fit(df, "embedding", k=4)
        cov = np.cov(X.T, bias=True)
        evals = np.sort(np.linalg.eigvalsh(cov))[::-1]
        assert model.mean == pytest.approx(X.mean(axis=0), abs=1e-9)
        assert model.explained_variance == pytest.approx(evals[:4], rel=1e-8)
        # row-orthonormal components
        assert np.abs(model.components @ model.components.T
                      - np.eye(4)).max() < 1e-9

    def test_project_matches_numpy(self, vecs):
        import numpy as np
        from pandas_plus_spark.operators.similarity import pca_fit, pca_project
        df, X = vecs
        model = pca_fit(df, "embedding", k=3)
        got = {r["vec_id"]: np.array(r["proj"])
               for r in pca_project(df, "embedding", "vec_id", model).collect()}
        want = (X - X.mean(axis=0)) @ model.components.T
        for i in range(0, 400, 97):
            assert got[i] == pytest.approx(want[i], abs=1e-9)

    def test_gate_passes(self, vecs):
        from pandas_plus_spark.operators.similarity import pca_gate
        df, _ = vecs
        row = pca_gate(df, "embedding", "vec_id", k=4,
                       min_explained=0.5).first()
        assert (row["orthonormal_ok"], row["var_capture_ok"],
                row["proj_energy_ok"]) == (True, True, True)
        assert row["k"] == 4 and row["dim"] == 16
