"""Dedup family vs brute-force oracles on a planted-duplicate corpus;
similarity search vs exact numpy cosine on the driver embeddings table."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from erased_cells_spark.operators.dedup import (
    exact_dedup_groups,
    jaccard_pairs_np,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_np,
    simhash_pairs,
)
from erased_cells_spark.operators.similarity import (
    ann_lsh_topk,
    cosine_expr,
    cosine_topk,
    cosine_topk_np,
    cosine_udf,
)
from erased_cells_spark.sources.pages import gen_batch

SF_DIR = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def corpus(spark):
    """200 generated docs + planted exact dups + near-dups (1-2 word edits)."""
    base = gen_batch(np.arange(200), seed=7)[["text"]].copy()
    base["doc_id"] = np.arange(200)
    rows = base.to_dict("records")
    # exact duplicates of docs 0..4 (ids 200..204)
    for i in range(5):
        rows.append({"text": rows[i]["text"], "doc_id": 200 + i})
    # near duplicates of docs 10..19: mutate 2 words (ids 210..219)
    for i in range(10):
        words = rows[10 + i]["text"].split()
        words[0] = "zzz"
        words[len(words) // 2] = "qqq"
        rows.append({"text": " ".join(words), "doc_id": 210 + i})
    pdf = pd.DataFrame(rows)
    return spark.createDataFrame(pdf), pdf


class TestDedup:
    def test_exact(self, spark, corpus):
        df, pdf = corpus
        got = exact_dedup_groups(df).collect()
        assert len(got) == 5
        for r in got:
            assert r.n_docs == 2 and r.keep_id < 200

    def test_ngram_jaccard_matches_oracle(self, spark, corpus):
        df, pdf = corpus
        got = [(r.id_a, r.id_b, r.jaccard) for r in ngram_jaccard_pairs(df, 0.5).collect()]
        want = jaccard_pairs_np(pdf.doc_id.tolist(), pdf.text.tolist(), 0.5)
        assert len(got) == len(want) >= 15  # 5 exact + 10 near pairs at least
        for (ga, gb, gj), (wa, wb, wj) in zip(got, want):
            assert (ga, gb) == (wa, wb)
            assert gj == pytest.approx(wj, abs=1e-12)

    def test_minhash_lsh_equals_exact(self, spark, corpus):
        df, pdf = corpus
        exact = {(r.id_a, r.id_b) for r in ngram_jaccard_pairs(df, 0.5).collect()}
        lsh = {(r.id_a, r.id_b) for r in minhash_lsh_pairs(df, 0.5).collect()}
        assert lsh == exact  # verification keeps precision; bands keep recall

    def test_simhash_matches_bruteforce(self, spark, corpus):
        df, pdf = corpus
        got = {(r.id_a, r.id_b): r.hamming for r in simhash_pairs(df, 3).collect()}

        sigs = {r.doc_id: simhash_np(r.text) for r in pdf.itertuples(index=False)}
        want = {}
        ids = sorted(sigs)
        for i, a in enumerate(ids):
            for b in ids[i + 1 :]:
                h = bin(sigs[a] ^ sigs[b]).count("1")
                if h <= 3:
                    want[(a, b)] = h
        assert got == want
        assert len(want) >= 5  # exact dups have distance 0

    def test_simhash_oversized_doc_fails_loudly(self, spark):
        """ADVICE r2: the packed-lane invariant is ENFORCED, not assumed — a
        doc with ≥ 2^15 word occurrences raises instead of silently aliasing
        counts into the adjacent 16-bit lane. Since the one-shuffle r8 form
        the loud failure can surface either as the n-guard's raise_error
        ("word occurrences") or, for lane sums that cross 2^63 during the
        per-occurrence aggregation, as Spark's ANSI ARITHMETIC_OVERFLOW —
        both abort the job; what is forbidden is a silent wrong signature
        (the guard still rejects every n ≥ 2^15 that reaches it)."""
        from erased_cells_spark.operators.dedup import SIMHASH_MAX_WORDS, simhash_df

        big = " ".join(["w"] * SIMHASH_MAX_WORDS)
        df = spark.createDataFrame(pd.DataFrame({"doc_id": [1], "text": [big]}))
        with pytest.raises(Exception, match="word occurrences|[Oo]verflow"):
            simhash_df(df).collect()

    def test_simhash_boundary_doc_is_exact(self, spark):
        """One under the enforced limit, with a bit-skewed word mix (one hot
        word dominating) — the count-weighted lanes must still be exact."""
        from erased_cells_spark.operators.dedup import SIMHASH_MAX_WORDS, simhash_df

        n = SIMHASH_MAX_WORDS - 1
        text = " ".join(["hot"] * (n - 100) + [f"t{i}" for i in range(100)])
        df = spark.createDataFrame(pd.DataFrame({"doc_id": [7], "text": [text]}))
        assert simhash_df(df).collect()[0].sim == simhash_np(text)


class TestSimilarity:
    @pytest.fixture(scope="class")
    def emb(self, spark):
        return spark.read.parquet(f"{SF_DIR}/embeddings.parquet").cache()

    @pytest.fixture(scope="class")
    def emb_pd(self, emb):
        pdf = emb.toPandas()
        return np.vstack(pdf.embedding.to_numpy()).astype(np.float64), pdf.vec_id.tolist()

    def test_cosine_topk_matches_numpy(self, spark, emb, emb_pd):
        vecs, ids = emb_pd
        queries = emb.limit(8).select(
            F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
        )
        got = [(r.q_id, r.nn_id, r.rank) for r in cosine_topk(emb, queries, k=10).collect()]
        q = queries.toPandas()
        want = [
            (a, b, r)
            for a, b, r, _ in cosine_topk_np(
                vecs, ids, np.vstack(q.q_vec.to_numpy()).astype(np.float64), q.q_id.tolist(), 10
            )
        ]
        assert got == want

    def test_cosine_topk_null_and_ragged_rows_score_null(self, spark):
        """NULL vectors and pairs of different lengths score NULL, as the
        builtin cosine_expr does; valid rows in the same Arrow batch keep
        the fold's exact doubles, whatever their dimension."""
        emb = spark.createDataFrame(
            [
                (1, [1.0, 0.0, 0.0]),
                (2, [0.6, 0.8, 0.0]),
                (3, None),
                (4, [1.0, 0.0]),
                (5, [0.3, 0.1, 0.7]),
            ],
            "vec_id LONG, embedding ARRAY<DOUBLE>",
        ).coalesce(1)  # one batch mixes valid, NULL and ragged rows
        queries = spark.createDataFrame(
            [(0, [0.2, 0.9, 0.4]), (1, [0.0, 1.0])], "q_id LONG, q_vec ARRAY<DOUBLE>"
        )
        got = [tuple(r) for r in cosine_topk(emb, queries, k=5).collect()]
        scored = emb.crossJoin(queries).select(
            "q_id", "vec_id",
            cosine_udf(F.col("embedding"), F.col("q_vec")).alias("udf"),
            cosine_expr(F.col("embedding"), F.col("q_vec")).alias("fold"),
        )
        pairs = {(r.q_id, r.vec_id): (r.udf, r.fold) for r in scored.collect()}
        assert len(pairs) == 10
        for key, (udf, fold) in pairs.items():
            assert udf == fold, key  # NULL == NULL via None, else bit-equal
        assert [k for k, (u, _) in sorted(pairs.items()) if u is None] == [
            (0, 3), (0, 4), (1, 1), (1, 2), (1, 3), (1, 5)
        ]
        # NULL scores rank after every score, ties by id
        assert [(q, nn, rk) for q, nn, rk, _ in got] == [
            (0, 2, 1), (0, 5, 2), (0, 1, 3), (0, 3, 4), (0, 4, 5),
            (1, 4, 1), (1, 1, 2), (1, 2, 3), (1, 3, 4), (1, 5, 5),
        ]

    def test_ann_lsh_recall(self, spark, emb, emb_pd):
        vecs, ids = emb_pd
        queries = emb.limit(16).select(
            F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
        )
        # bucket count must track corpus size: 2^4 buckets for 500 vectors
        approx = ann_lsh_topk(emb, queries, k=10, dim=vecs.shape[1], n_planes=4, probe_depth=2).collect()
        q = queries.toPandas()
        exact = cosine_topk_np(
            vecs, ids, np.vstack(q.q_vec.to_numpy()).astype(np.float64), q.q_id.tolist(), 10
        )
        exact_set = {(a, b) for a, b, _, _ in exact}
        hit = sum(1 for r in approx if (r.q_id, r.nn_id) in exact_set)
        assert hit / len(exact_set) >= 0.5  # multi-probe LSH recall floor
        # rank-1 self-match always found (query ∈ its own bucket)
        r1 = {r.q_id: r.nn_id for r in approx if r.rank == 1}
        assert all(r1[qid] == qid for qid in q.q_id.tolist())

    def test_cosine_dup_pairs_exact_vs_numpy(self, spark, emb, emb_pd):
        from erased_cells_spark.operators.similarity import cosine_dup_pairs

        vecs, ids = emb_pd
        got = {(r.id_a, r.id_b): r.cosine for r in cosine_dup_pairs(emb, 0.4).collect()}
        nv = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
        sims = nv @ nv.T
        want = {}
        for i in range(len(ids)):
            for j in range(i + 1, len(ids)):
                if sims[i, j] >= 0.4:
                    a, b = sorted((ids[i], ids[j]))
                    want[(a, b)] = sims[i, j]
        assert set(got) == set(want)
        for k, c in got.items():
            assert c == pytest.approx(want[k], abs=1e-9)

    def test_cosine_dup_pairs_lsh_planted_recall(self, spark):
        """LSH near-dup must find PLANTED near-identical embeddings (the
        workload it exists for) with exact precision: every emitted pair
        passes the exact threshold."""
        from erased_cells_spark.operators.similarity import (
            cosine_dup_pairs,
            cosine_dup_pairs_lsh,
        )

        rng = np.random.default_rng(3)
        base = rng.standard_normal((60, 64)).astype(np.float32)
        rows = [(i, base[i].tolist()) for i in range(60)]
        # planted dups: tiny perturbations of vectors 0..9 (cosine ≥ 0.99)
        for i in range(10):
            noisy = base[i] + 0.02 * rng.standard_normal(64).astype(np.float32)
            rows.append((100 + i, noisy.tolist()))
        df = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<FLOAT>")
        exact = {(r.id_a, r.id_b) for r in cosine_dup_pairs(df, 0.9).collect()}
        lsh = {(r.id_a, r.id_b) for r in cosine_dup_pairs_lsh(df, 0.9).collect()}
        planted = {(i, 100 + i) for i in range(10)}
        assert planted <= exact  # the plant is real
        assert planted <= lsh  # LSH recalls every planted near-dup
        assert lsh <= exact  # verification keeps precision exact

    def test_ann_self_topk_planted_neighbors(self, spark):
        """Self-kNN join: planted near-identical pairs must rank each other
        first (same-bucket w.h.p. at θ→0), and the plan must stay a hash
        self-join — no NLJ, no broadcast of the vector table."""
        from erased_cells_spark.operators.similarity import ann_lsh_self_topk

        rng = np.random.default_rng(13)
        base = rng.standard_normal((60, 64)).astype(np.float32)
        rows = [(i, base[i].tolist()) for i in range(60)]
        # plants: 100+i ≈ i (tiny perturbation)
        for i in range(8):
            rows.append((100 + i, (base[i] + 0.001 * rng.standard_normal(64)).astype(np.float32).tolist()))
        emb = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<FLOAT>")
        out = ann_lsh_self_topk(emb, k=3)
        top1 = {r.q_id: r.nn_id for r in out.collect() if r.rank == 1}
        for i in range(8):
            assert top1[100 + i] == i and top1[i] == 100 + i
        p = ann_lsh_self_topk(emb, k=3)._jdf.queryExecution().sparkPlan().toString()
        assert "NestedLoop" not in p and "CartesianProduct" not in p

    def test_ivf_training_is_reproducible(self, spark, emb):
        """ADVICE r2: trained-mode centroids must be identical run-to-run
        (the old unordered limit().collect() sample was nondeterministic)."""
        from erased_cells_spark.operators.similarity import train_ivf_centroids

        a = train_ivf_centroids(emb, n_lists=8, seed=11)
        b = train_ivf_centroids(emb, n_lists=8, seed=11)
        assert np.array_equal(a, b)

    def test_ivf_training_is_layout_independent(self, spark, emb, monkeypatch):
        """ADVICE r3: the bounded training sample must be a layout-free hash
        filter, not sample() — the same data under a different partitioning
        (different cluster size) must train identical centroids. The cap is
        lowered so the sampling branch actually runs."""
        from erased_cells_spark.operators import similarity

        monkeypatch.setattr(similarity, "IVF_TRAIN_CAP", 50)
        a = similarity.train_ivf_centroids(emb, n_lists=8, seed=11)
        b = similarity.train_ivf_centroids(emb.repartition(7), n_lists=8, seed=11)
        c = similarity.train_ivf_centroids(emb.coalesce(1), n_lists=8, seed=11)
        assert np.array_equal(a, b) and np.array_equal(a, c)

    def test_pq_training_reproducible_and_layout_free(self, spark, emb, monkeypatch):
        """train_pq_codebooks: identical codebooks run-to-run AND across
        partitionings (same hash-filter sampling contract as IVF), and a
        trained-mode pq_ann_topk run completes with rank-1 self-matches."""
        from erased_cells_spark.operators import similarity

        monkeypatch.setattr(similarity, "IVF_TRAIN_CAP", 50)
        a = similarity.train_pq_codebooks(emb, m_sub=8, n_codes=8, seed=11)
        b = similarity.train_pq_codebooks(emb.repartition(5), m_sub=8, n_codes=8, seed=11)
        assert a.shape == (8, 8, 8) and np.array_equal(a, b)
        q = emb.filter("vec_id < 4").selectExpr("vec_id AS q_id", "embedding AS q_vec")
        out = similarity.pq_ann_topk(emb, q, codebooks=a, k=3).collect()
        assert {r.q_id for r in out} == {0, 1, 2, 3}

    def test_pq_ann_matches_adc_twin(self, spark, emb, emb_pd):
        """PQ/ADC top-k must equal the brute-force asymmetric-distance twin
        exactly (same codebooks, same tie rules) — the approximation is in
        the QUANTIZATION, not in the distributed evaluation."""
        from erased_cells_spark.operators.similarity import pq_ann_np, pq_ann_topk

        vecs, ids = emb_pd
        cb16 = vecs[[ids.index(200 + i) for i in range(16)]]
        codebooks = cb16.reshape(16, 8, 8).transpose(1, 0, 2)
        queries = emb.filter(F.col("vec_id") < 8).select(
            F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
        )
        got = [(r.q_id, r.nn_id, r.rank) for r in pq_ann_topk(emb, queries, codebooks, k=10).collect()]
        q = queries.toPandas()
        want = pq_ann_np(
            vecs, ids, np.vstack(q.q_vec.to_numpy()).astype(np.float64), q.q_id.tolist(),
            codebooks, 10,
        )
        assert got == want

    def test_ivf_ann_recall(self, spark, emb, emb_pd):
        from erased_cells_spark.operators.similarity import ivf_ann_topk

        vecs, ids = emb_pd
        queries = emb.limit(16).select(
            F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
        )
        approx = ivf_ann_topk(emb, queries, k=10, n_lists=16, n_probe=6).collect()
        q = queries.toPandas()
        exact = cosine_topk_np(
            vecs, ids, np.vstack(q.q_vec.to_numpy()).astype(np.float64), q.q_id.tolist(), 10
        )
        exact_set = {(a, b) for a, b, _, _ in exact}
        hit = sum(1 for r in approx if (r.q_id, r.nn_id) in exact_set)
        assert hit / len(exact_set) >= 0.5
        r1 = {r.q_id: r.nn_id for r in approx if r.rank == 1}
        assert all(r1[qid] == qid for qid in q.q_id.tolist())  # self in own list


class TestShingleParity:
    def test_jvm_shingles_match_python_twin_on_random_corpora(self, spark):
        """shingles_expr (JVM transform+xxhash64) must produce sets with the
        same SIZES and same pairwise intersections as the string-level twin —
        on random word soups including <3-word docs, repeated words, empty
        strings, and unicode."""
        import numpy as np

        from erased_cells_spark.operators.dedup import shingle_set, shingles_expr

        rng = np.random.default_rng(11)
        vocab = ["ba", "be", "zz", "q", "長い", "x y"[0:1], "deed", "na"]
        texts = []
        for i in range(120):
            k = int(rng.integers(0, 12))
            texts.append(" ".join(rng.choice(vocab, size=k)) if k else "")
        texts += ["one two", "a b c a b c", "solo", ""]
        import pandas as pd
        from pyspark.sql import functions as F

        df = spark.createDataFrame(pd.DataFrame({"doc_id": range(len(texts)), "text": texts}))
        got = {
            r.doc_id: set(r.shs)
            for r in df.select("doc_id", shingles_expr(F.col("text")).alias("shs")).collect()
        }
        want = {i: shingle_set(t) for i, t in enumerate(texts)}
        # sizes match per doc (hash collisions would shrink a set)
        for i in want:
            assert len(got[i]) == len(want[i]), (i, texts[i])
        # pairwise intersection sizes match (Jaccard equivalence)
        ids = sorted(want)
        for i in ids:
            for j in ids[: min(len(ids), 40)]:
                if i < j:
                    assert len(got[i] & got[j]) == len(want[i] & want[j]), (i, j)
