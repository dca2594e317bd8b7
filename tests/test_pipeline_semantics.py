"""Semantic unit tests for the LLM-pipeline operators: known inputs
with obvious right answers (the oracle gate checks engine parity;
these check the MATH)."""

from __future__ import annotations

import math

import pytest


@pytest.fixture(scope="module")
def docs(spark):
    a = "the quick brown fox jumps over the lazy dog again and again today"
    b = "the quick brown fox jumps over the lazy dog again and again tonight"
    c = "completely different content about spark shuffles and parquet files"
    rows = [
        (1, a, "en", "s1", len(a)),
        (2, a, "en", "s2", len(a)),      # exact duplicate of 1
        (3, b, "en", "s3", len(b)),      # near-duplicate of 1
        (4, c, "en", "s4", len(c)),
    ]
    return spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )


def test_exact_dedup_groups_identical_texts(docs):
    from tgres_spark.pipeline.dedup import dedup_exact

    out = {r["keeper_id"]: r["n_dups"] for r in dedup_exact(docs).collect()}
    assert out[1] == 2  # docs 1 and 2 collapse
    assert out[3] == 1 and out[4] == 1


def test_minhash_identical_docs_have_sim_1(docs):
    from tgres_spark.pipeline.dedup import dedup_minhash_lsh

    pairs = {
        (r["doc_a"], r["doc_b"]): r["est_sim"]
        for r in dedup_minhash_lsh(docs).collect()
    }
    assert pairs[(1, 2)] == 1.0
    if (1, 3) in pairs:  # near-dup likely but not guaranteed by LSH
        assert pairs[(1, 3)] > 0.5
    assert (1, 4) not in pairs and (2, 4) not in pairs


def test_simhash_identical_docs_have_hamming_0(docs):
    from tgres_spark.pipeline.dedup import dedup_simhash

    pairs = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in dedup_simhash(docs).collect()
    }
    assert pairs[(1, 2)] == 0


def test_simhash_pigeonhole_matches_bruteforce(spark):
    """The 4-table blocking must find EXACTLY the pairs a brute-force
    all-pairs hamming scan finds (pigeonhole guarantees recall for
    hamming ≤ 3; the post-filter guarantees precision)."""
    import random

    from tgres_spark.pipeline.dedup import SIMHASH_CHUNKS, dedup_simhash, simhash

    rng = random.Random(7)
    vocab = [f"tok{i}" for i in range(300)]
    rows = []
    for d in range(60):
        rows.append((d, " ".join(rng.choice(vocab) for _ in range(40)), "en", "s", 1))
    # near-dups: same long text, one token changed → few bit flips
    base = " ".join(rng.choice(vocab) for _ in range(200))
    rows.append((100, base, "en", "s", 1))
    rows.append((101, base + " extraword", "en", "s", 1))
    rows.append((102, base, "en", "s", 1))  # exact dup of 100
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    sh = {r["doc_id"]: [r[f"q{j}"] for j in range(SIMHASH_CHUNKS)]
          for r in simhash(docs).collect()}
    ids = sorted(sh)
    brute = {
        (a, b): sum(bin(sh[a][j] ^ sh[b][j]).count("1") for j in range(SIMHASH_CHUNKS))
        for i, a in enumerate(ids) for b in ids[i + 1:]
    }
    expect = {p: h for p, h in brute.items() if h <= 3}
    got = {(r["doc_a"], r["doc_b"]): r["hamming"] for r in dedup_simhash(docs).collect()}
    assert got == expect
    assert got[(100, 102)] == 0  # the exact dup is in there


def test_simhash_candidates_grow_linearly(spark):
    """Scale regression: with N distinct random docs the blocked
    candidate-pair count must stay O(N) (4 tables × 65536 uniform
    buckets → expected 4·N²/2/65536 ≪ N at these sizes), where the old
    256-bucket scheme was already ≈2·N at N=1000."""
    import random

    from tgres_spark.pipeline.dedup import simhash, simhash_candidates

    rng = random.Random(11)
    vocab = [f"w{i}" for i in range(2000)]

    def mk(n):
        rows = [
            (d, " ".join(rng.choice(vocab) for _ in range(30)), "en", "s", 1)
            for d in range(n)
        ]
        return spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string, n_chars long"
        )

    for n in (400, 800):
        cand = simhash_candidates(simhash(mk(n))).count()
        assert cand <= n, f"candidate blowup: {cand} pairs for {n} docs"


def test_ngram_jaccard_df_cap_bounds_stop_grams(spark):
    """A corpus where every doc shares one ubiquitous bigram must not
    explode the candidate join: the df cap drops the stop-gram, so
    unrelated docs form NO pairs while true near-dups (sharing rare
    grams) survive."""
    from tgres_spark.pipeline.dedup import dedup_ngram_jaccard

    rows = []
    for d in range(40):
        # "of the" in every doc + unique filler
        rows.append((d, f"of the unique{d}a unique{d}b unique{d}c", "en", "s", 1))
    rows.append((100, "rare pair alpha beta gamma delta", "en", "s", 1))
    rows.append((101, "rare pair alpha beta gamma delta epsilon", "en", "s", 1))
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    out = {(r["doc_a"], r["doc_b"]): r["jaccard"]
           for r in dedup_ngram_jaccard(docs, threshold=0.1, max_df=10).collect()}
    assert (100, 101) in out          # real near-dup survives
    assert all(a >= 100 for a, _ in out), f"stop-gram pairs leaked: {out}"


def test_jaccard_of_duplicate_is_1(docs):
    from tgres_spark.pipeline.dedup import dedup_ngram_jaccard

    pairs = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup_ngram_jaccard(docs).collect()
    }
    assert pairs[(1, 2)] == 1.0
    assert 0.5 < pairs[(1, 3)] < 1.0
    assert (1, 4) not in pairs


def test_ann_finds_identical_vector_first(spark):
    from tgres_spark.pipeline.similarity import ann_cosine_topk

    dim = 8
    base = [1.0] + [0.0] * (dim - 1)
    other = [0.0, 1.0] + [0.0] * (dim - 2)
    mixed = [0.7, 0.7] + [0.0] * (dim - 2)
    rows = [(0, base, 0), (10, base, 0), (20, mixed, 1), (30, other, 2)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    out = ann_cosine_topk(emb, n_queries=1, k=3).collect()
    ranked = sorted(out, key=lambda r: r["rank"])
    assert ranked[0]["neighbor_id"] == 10  # the identical vector
    assert math.isclose(ranked[0]["cos"], 1.0, abs_tol=1e-9)
    assert ranked[1]["neighbor_id"] == 20  # 45° away
    assert ranked[2]["neighbor_id"] == 30  # orthogonal


def test_langid_detects_clear_languages(spark):
    from tgres_spark.pipeline.textstats import text_langid

    rows = [
        (1, "the cat and the dog sat in the garden of the house", "en", "s", 1),
        (2, "der hund und die katze das ist und der haus und die", "de", "s", 1),
        (3, "le chat et la maison les arbres et des fleurs le jour", "fr", "s", 1),
        (4, "xyzzy plugh qwerty", "zz", "s", 1),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    out = {r["doc_id"]: r["pred_lang"] for r in text_langid(docs).collect()}
    assert out[1] == "en" and out[2] == "de" and out[3] == "fr"
    assert out[4] == "und"


def test_fingerprint_stable_and_chunked(spark):
    from tgres_spark.pipeline.textstats import text_fingerprint

    txt = "z" * 130  # 3 chunks of 64
    docs = spark.createDataFrame(
        [(1, txt, "en", "s", 130), (2, txt, "en", "s", 130)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    out = {r["doc_id"]: (r["n_chunks"], r["fingerprint"]) for r in text_fingerprint(docs).collect()}
    assert out[1][0] == 3
    assert out[1] == out[2]  # identical text → identical fingerprint


def test_embedding_dedup_exact_and_lsh_subset(spark):
    """Exact variant finds every pair at/above threshold; the LSH
    variant returns a SUBSET of those pairs (blocking can only lose
    pairs, never invent them), always including identical vectors
    (same vector → same buckets in every table)."""
    import random

    from tgres_spark.pipeline.similarity import (
        dedup_embedding,
        dedup_embedding_lsh,
    )

    rng = random.Random(3)
    rows = []
    for v in range(40):
        rows.append((v, [rng.gauss(0, 1) for _ in range(64)], 0))
    twin = rows[5][1][:]  # identical to vec 5
    rows.append((100, twin, 0))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    exact = {
        (r["vec_a"], r["vec_b"]): r["cos"]
        for r in dedup_embedding(emb, threshold=0.4).collect()
    }
    lsh = {
        (r["vec_a"], r["vec_b"]): r["cos"]
        for r in dedup_embedding_lsh(emb, threshold=0.4).collect()
    }
    assert (5, 100) in exact and exact[(5, 100)] > 0.999999
    assert (5, 100) in lsh
    assert set(lsh) <= set(exact)
    for p, c in lsh.items():
        assert c == exact[p]


def test_dedup_embedding_refuses_past_row_cap(spark, monkeypatch):
    """dedup_embedding collects at most DEDUP_EMBEDDING_MAX_ROWS + 1
    rows; one more than the cap is a loud error naming the LSH
    variant, and the cap itself still runs."""
    from tgres_spark.pipeline import similarity

    monkeypatch.setattr(similarity, "DEDUP_EMBEDDING_MAX_ROWS", 3)
    rows = [(v, [float(v + 1)] + [0.0] * 63, 0) for v in range(4)]
    schema = "vec_id long, embedding array<float>, label int"
    emb = spark.createDataFrame(rows, schema)
    with pytest.raises(ValueError, match="dedup_embedding_lsh"):
        similarity.dedup_embedding(emb)
    ok = similarity.dedup_embedding(spark.createDataFrame(rows[:3], schema))
    assert ok.count() == 3  # parallel vectors: every pair has cos 1


def test_components_cluster_transitive_dups(spark):
    """A chain a~b, b~c clusters all three to root min(id), even
    though a and c never share a band; unrelated docs stay singletons."""
    from tgres_spark.pipeline.dedup import dedup_components

    base = "the quick brown fox jumps over the lazy dog again and again today"
    rows = [
        (1, base, "en", "s", 1),
        (2, base, "en", "s", 1),                 # exact dup of 1
        (3, base + " tonight", "en", "s", 1),    # near-dup of 1/2
        (9, "completely different content about spark shuffles", "en", "s", 1),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    roots = {r["doc_id"]: r["root_id"] for r in dedup_components(docs).collect()}
    assert roots[1] == 1 and roots[2] == 1
    assert roots[9] == 9
    assert roots[3] in (1, 3)  # joins the cluster iff LSH catches the pair


def test_propagation_matches_union_find_on_random_graphs(spark):
    """Distributed min-label propagation == classic union-find on
    seeded random graphs (chains, stars, forests)."""
    import random

    from tgres_spark.pipeline.dedup import propagate_components

    for seed in (1, 5, 9):
        rng = random.Random(seed)
        n = 60
        edges = [
            (rng.randrange(n), rng.randrange(n)) for _ in range(40)
        ] + [(i, i + 1) for i in range(0, 20, 2)]  # guaranteed chains
        edges = [(a, b) for a, b in edges if a != b]
        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        expect = {v: find(v) for v in range(n)}

        nodes = spark.createDataFrame([(v,) for v in range(n)], "doc_id long")
        pdf = spark.createDataFrame(edges, "doc_a long, doc_b long")
        # both code paths: the size-gated driver union-find (default)
        # and the distributed propagation loop (threshold 0 forces it)
        for thr in (10_000_000, 0):
            got = {
                r["doc_id"]: r["root_id"]
                for r in propagate_components(
                    nodes, pdf, driver_threshold=thr
                ).collect()
            }
            assert got == expect, f"seed {seed} thr {thr}"


def test_ann_lsh_topk_finds_identical_vector(spark):
    """An identical vector lands in every query bucket (same sign
    pattern in all tables), so bucketed top-k always ranks it first
    with cos == the exact baseline's."""
    import random

    from tgres_spark.pipeline.similarity import ann_cosine_topk, ann_lsh_topk

    rng = random.Random(4)
    rows = [(v, [rng.gauss(0, 1) for _ in range(64)], 0) for v in range(1, 30)]
    rows.append((0, rows[10][1][:], 0))  # query 0 == vec 11
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    lsh = sorted(
        ann_lsh_topk(emb, n_queries=1, k=5).collect(), key=lambda r: r["rank"]
    )
    assert lsh[0]["neighbor_id"] == 11
    assert lsh[0]["cos"] > 0.999999
    exact = {
        r["neighbor_id"]: r["cos"]
        for r in ann_cosine_topk(emb, n_queries=1, k=29).collect()
    }
    for r in lsh:  # every bucketed cos equals the exact cosine
        assert r["cos"] == exact[r["neighbor_id"]]


def test_operators_tolerate_empty_input(spark):
    """Empty frames (a filter that matches nothing) must yield empty
    results, not crashes — every family's entry point."""
    docs = spark.createDataFrame(
        [], "doc_id long, text string, lang string, source string, n_chars long"
    )
    emb = spark.createDataFrame([], "vec_id long, embedding array<float>, label int")
    sf = spark.createDataFrame([], "name string, t long, value double")

    from tgres_spark.operators.consolidate import consolidate, consolidate_salted
    from tgres_spark.operators.dsl_combine import sum_series
    from tgres_spark.operators.dsl_special import sort_by
    from tgres_spark.operators.dsl_transform import derivative
    from tgres_spark.pipeline.dedup import (
        dedup_components,
        dedup_exact,
        dedup_minhash_lsh,
        dedup_simhash,
    )
    from tgres_spark.pipeline.similarity import (
        ann_cosine_topk,
        dedup_embedding,
        dedup_embedding_lsh,
    )
    from tgres_spark.pipeline.textstats import corpus_clean, text_langid

    for out in (
        consolidate(sf, 60),
        consolidate_salted(sf, 60),
        sum_series(sf),
        derivative(sf),
        sort_by(sf, "total"),
        dedup_exact(docs),
        dedup_minhash_lsh(docs),
        dedup_simhash(docs),
        dedup_components(docs),
        text_langid(docs),
        corpus_clean(docs),
        dedup_embedding(emb),
        dedup_embedding_lsh(emb),
        ann_cosine_topk(emb),
    ):
        assert out.count() == 0


def test_components_chain_converges_logarithmically(spark):
    """A 200-node chain — worst case for plain min-propagation (needs
    diameter rounds) — must converge well inside max_iter thanks to
    pointer doubling, with every node rooted at 0."""
    from tgres_spark.pipeline.dedup import propagate_components

    n = 200
    nodes = spark.createDataFrame([(v,) for v in range(n)], "doc_id long")
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_a long, doc_b long"
    )
    out = {
        r["doc_id"]: r["root_id"]
        for r in propagate_components(
            nodes, chain, max_iter=20, driver_threshold=0  # force distributed
        ).collect()
    }
    assert out == {v: 0 for v in range(n)}


def test_token_pack_shards_respect_budget(spark):
    """Each shard's tokens stay within budget + one straddling doc,
    shards are contiguous per lang, and the assignment is identical
    across repartitionings (seeded-hash order)."""
    import random

    from tgres_spark.pipeline.prep import token_pack

    rng = random.Random(2)
    rows = [
        (d, " ".join("w" for _ in range(rng.randint(5, 120))), "en", "s", 1)
        for d in range(80)
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    out = token_pack(docs, budget=300).collect()
    by_shard = {}
    for r in out:
        by_shard.setdefault(r["shard"], []).append(r["n_tokens"])
    for shard, toks in by_shard.items():
        # all but the straddling last doc fit inside the budget
        assert sum(toks) - max(toks) < 300, (shard, toks)
    again = token_pack(docs.repartition(7), budget=300).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def test_stratified_sample_is_replay_stable(spark):
    from tgres_spark.pipeline.prep import sample_stratified

    rows = [(d, "x", ["en", "de"][d % 2], "s", 1) for d in range(100)]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    a = sorted(map(tuple, sample_stratified(docs, 10).collect()))
    b = sorted(map(tuple, sample_stratified(docs.repartition(5), 10).collect()))
    assert a == b
    assert len(a) == 20  # 10 per lang


def test_ivf_fit_stable_across_partitionings(spark):
    """The whole IVF pipeline — k-means|| seeding, decimal Lloyd
    updates, probing — must be bit-identical under any partitioning
    of the input (the determinism contract for cluster replays).
    Every distributed step is either per-row (hash selection,
    assignment argmin) or order-free (decimal sums), so repartition
    must not change a single output row."""
    import random

    from tgres_spark.pipeline.similarity import ann_ivf_search

    rng = random.Random(7)
    rows = [
        (v, [rng.gauss(v % 4, 1) for _ in range(16)], 0) for v in range(200)
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )

    def run(df):
        return sorted(
            (r["query_id"], r["neighbor_id"], r["cos"], r["rank"])
            for r in ann_ivf_search(
                df, n_queries=5, k=3, n_cells=8, nprobe=3, n_iter=3
            ).collect()
        )

    a = run(emb.repartition(3))
    b = run(emb.repartition(11, "vec_id"))
    assert a == b
    assert len(a) == 5 * 3


def test_kmeans_parallel_init_deterministic(spark):
    """k-means|| seeding returns exactly k centers, stable across
    partitionings and repeated calls."""
    import random

    from tgres_spark.pipeline.similarity import _kmeans_parallel_init

    rng = random.Random(11)
    rows = [
        (v, [rng.gauss(v % 3, 1) for _ in range(8)], 0) for v in range(150)
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    a = _kmeans_parallel_init(emb.repartition(2), 6, seed=42)
    b = _kmeans_parallel_init(emb.repartition(9, "vec_id"), 6, seed=42)
    assert len(a) == 6
    assert a == b


def test_histogram_quantiles_accuracy_and_merge_invariance(spark):
    """The histogram sketch's estimate must sit within one bin width
    of the exact quantile (its documented accuracy), and the sketch
    must be partitioning-invariant (bucket counts merge with +)."""
    import random

    from tgres_spark.operators.sketch import histogram_quantiles

    rng = random.Random(3)
    rows = [("a", rng.uniform(0, 100)) for _ in range(2000)] + [
        ("b", rng.gauss(50, 10)) for _ in range(2000)
    ]
    df = spark.createDataFrame(rows, "g string, v double")
    out = {
        (r["g"], r["q"]): r["est"]
        for r in histogram_quantiles(df, "g", "v", width=0.5).collect()
    }
    by_g = {"a": sorted(v for g, v in rows if g == "a"),
            "b": sorted(v for g, v in rows if g == "b")}
    for (g, q), est in out.items():
        vs = by_g[g]
        exact = vs[min(len(vs) - 1, int(q * len(vs)))]
        assert abs(est - exact) <= 1.0, (g, q, est, exact)
    out2 = {
        (r["g"], r["q"]): r["est"]
        for r in histogram_quantiles(
            df.repartition(13, "v"), "g", "v", width=0.5
        ).collect()
    }
    assert out == out2


def test_shingles_and_passages_handle_short_docs(spark):
    """Docs shorter than the shingle/passage width must yield empty
    arrays, not phantom indices: Spark's sequence(1, 0) is the
    DESCENDING [1, 0], so a wrong empty-branch drives element_at out
    of bounds under ANSI for every short doc."""
    from tgres_spark.pipeline.contamination import passage_dedup
    from tgres_spark.pipeline.dedup import shingles_of, words
    from pyspark.sql import functions as F

    docs = spark.createDataFrame(
        [(1, "two words", "en", "s", 9), (2, "one", "en", "s", 3)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    sh = docs.select(
        F.size(shingles_of(words(F.col("text")), 3)).alias("n")
    ).collect()
    assert [r["n"] for r in sh] == [0, 0]
    out = {r["doc_id"]: r["n_passages"] for r in passage_dedup(docs).collect()}
    assert out == {1: 0, 2: 0}


def test_unigram_logprob_ranks_common_above_rare(spark):
    """A doc of corpus-frequent words must score higher (less
    negative) than a doc of hapax words, and scores must be exact:
    mean log10 p with p from corpus counts."""
    import math

    from tgres_spark.pipeline.textstats import text_unigram_logprob

    rows = [
        (1, "common common common common", "en", "s", 1),
        (2, "common common rare1 rare2", "en", "s", 1),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    out = {r["doc_id"]: r["avg_logp"] for r in text_unigram_logprob(docs).collect()}
    assert out[1] > out[2]
    # exact check: total 8 tokens, p(common)=6/8, p(rare)=1/8
    lp_c, lp_r = math.log10(6 / 8), math.log10(1 / 8)
    q = lambda x: math.floor(round(x, 9) * 1e6 + 0.5) / 1e6  # noqa: E731
    assert math.isclose(out[1], (4 * q(lp_c)) / 4, abs_tol=1e-9)
    assert math.isclose(out[2], (2 * q(lp_c) + q(lp_r) * 2) / 4, abs_tol=1e-9)


def test_mix_rebalance_hits_per_lang_budget(spark):
    """Every language's selection must reach its token budget (one
    straddling doc allowed over), stop as soon as it does, and be
    identical under any input partitioning."""
    import random

    from tgres_spark.pipeline.prep import mix_rebalance

    rng = random.Random(5)
    rows = []
    did = 0
    for lang in ("en", "de", "fr"):
        for _ in range(60):
            n = rng.randrange(5, 40)
            rows.append((did, " ".join("w" for _ in range(n)), lang, "s", n))
            did += 1
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    total = 900  # 300 tokens per lang
    out = mix_rebalance(docs, total_tokens=total).collect()
    by_lang = {}
    for r in out:
        by_lang.setdefault(r["lang"], []).append(r)
    assert set(by_lang) == {"en", "de", "fr"}
    for lang, rs in by_lang.items():
        got = sum(r["n_tokens"] for r in rs)
        assert got >= 300, (lang, got)           # budget reached
        longest = max(r["n_tokens"] for r in rs)
        assert got - longest < 300, (lang, got)  # no doc beyond straddle
    out2 = mix_rebalance(docs.repartition(7), total_tokens=total).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, out2))


def test_repetition_fractions_hand_computed(spark):
    from tgres_spark.pipeline.textstats import text_repetition

    # "a b a b a": 5 words, 2 distinct → dup 3/5; 'a'×3 → top 3/5;
    # bigrams [a b, b a, a b, b a] → top 2/4
    rows = [
        (1, "a b a b a", "en", "s", 9),
        (2, "x", "en", "s", 1),            # <2 words → dropped
        (3, "all words differ here", "en", "s", 21),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    out = {r["doc_id"]: r for r in text_repetition(docs).collect()}
    assert set(out) == {1, 3}
    r1 = out[1]
    assert r1["n_words"] == 5
    assert r1["dup_word_frac"] == 3 / 5
    assert r1["top_word_frac"] == 3 / 5
    assert r1["top_bigram_frac"] == 2 / 4
    r3 = out[3]
    assert r3["dup_word_frac"] == 0.0
    assert r3["top_word_frac"] == 1 / 4
    assert r3["top_bigram_frac"] == 1 / 3


def test_gopher_filter_flags_repetitive_docs(spark):
    from tgres_spark.pipeline.textstats import GOPHER_RULES, gopher_filter

    good = " ".join(f"word{i} term{i} note{i}" for i in range(10))  # 30 distinct words
    spam = " ".join(["buy now"] * 15)                               # top word frac 0.5
    rows = [
        (1, good, "en", "s", len(good)),
        (2, spam, "en", "s", len(spam)),
        (3, "too short", "en", "s", 9),                             # < min_words
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    out = {r["doc_id"]: r["keep"] for r in gopher_filter(docs).collect()}
    assert out[1] is True
    assert out[2] is False  # repetition caps
    assert out[3] is False  # word-count floor
    assert GOPHER_RULES["min_words"] > 2


def test_ivf_assign_matches_numpy_argmin(spark):
    import numpy as np

    from tgres_spark.pipeline.similarity import _ivf_codebook, ann_ivf_assign

    rng = np.random.default_rng(123)
    vecs = rng.standard_normal((20, 64)).round(3)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(20)],
        "vec_id long, embedding array<double>",
    )
    cents = np.array(_ivf_codebook())
    d2 = ((vecs[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
    want = d2.argmin(axis=1) + 1  # 1-based cells
    got = {r["vec_id"]: r for r in ann_ivf_assign(emb).collect()}
    for i in range(20):
        assert got[i]["cell"] == want[i], i
        assert got[i]["dist"] == pytest.approx(d2[i].min(), rel=1e-9)


def test_mm_decode_stub_features_hand_computed(spark):
    import hashlib

    from tgres_spark.pipeline.multimodal import (
        decode_and_featurize,
        frame_sample,
        synthesize_media,
    )

    docs = spark.createDataFrame(
        [(2, "hello world", "en", "s", 11)],  # doc_id%3==2 → video
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    media = synthesize_media(docs)
    out = decode_and_featurize(media).collect()[0]
    h = (
        hashlib.md5(b"hello world").hexdigest()
        + hashlib.md5(b"dlrow olleh").hexdigest()
    )
    payload = bytes.fromhex(h)
    assert out["kind"] == "video"
    assert out["n_bytes"] == 32
    assert out["mean_byte"] == sum(payload) / 32
    assert out["checksum"] == hashlib.md5(h.encode()).hexdigest()
    # frame sampling explodes JVM-side: doc_id 2 → n_frames 3 → one frame
    frames = frame_sample(media, every_n=30).collect()
    assert [(r["media_id"], r["frame_idx"]) for r in frames] == [(2, 0)]


def test_prep_e2e_invariants(spark):
    """The composed prep output must (a) exclude the benchmark split,
    (b) contain no two identical texts, (c) respect the Gopher gate,
    and (d) pack shards whose pre-straddle token sums stay under
    budget."""
    from tgres_spark.model import load_table
    from tgres_spark.pipeline.prep import prep_e2e
    from tgres_spark.pipeline.textstats import gopher_filter

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents")
    out = prep_e2e(docs, budget=2048).collect()
    assert out, "composite produced no rows"
    ids = [r["doc_id"] for r in out]
    assert len(ids) == len(set(ids))
    by_id = {r["doc_id"]: r for r in docs.select("doc_id", "text", "source").collect()}
    texts = [by_id[i]["text"] for i in ids]
    assert len(texts) == len(set(texts))  # exact dedup held
    assert all(by_id[i]["source"] != "src0" for i in ids)  # bench split dropped
    keep = {
        r["doc_id"] for r in gopher_filter(docs).where("keep").collect()
    }
    assert set(ids) <= keep  # quality gate held
    # shard budget: every doc's pre-sum (shard * 2048 <= cumsum before it
    # + its own tokens straddling) — equivalently shards are contiguous
    # 0..max per lang
    import collections

    per_lang = collections.defaultdict(set)
    for r in out:
        per_lang[r["lang"]].add(r["shard"])
    for lang, shards in per_lang.items():
        assert shards == set(range(max(shards) + 1)), lang


def test_mix_temperature_upweights_low_resource(spark):
    """α=0.5 budgets ∝ sqrt(lang tokens): a language with 4× the
    tokens gets only 2× the budget, and the per-lang running
    selection stops at its budget (+ one straddling doc)."""
    from tgres_spark.pipeline.prep import mix_temperature

    rows = []
    did = 0
    for lang, n_docs in (("en", 40), ("de", 10)):  # en has 4x tokens
        for _ in range(n_docs):
            rows.append((did, "w " * 9 + "w", lang, "s", 19))  # 10 tokens
            did += 1
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    out = mix_temperature(docs, total_tokens=300).collect()
    budgets = {r["lang"]: r["budget"] for r in out}
    # sqrt(400):sqrt(100) = 2:1 → en 200, de 100
    assert budgets == {"en": 200, "de": 100}
    import collections

    sel = collections.Counter(r["lang"] for r in out)
    assert sel == {"en": 20, "de": 10}  # 10-token docs fill exactly
    for r in out:
        assert r["cum_tokens"] - r["n_tokens"] < budgets[r["lang"]]


def test_text_entropy_hand_computed(spark):
    import math

    from tgres_spark.pipeline.textstats import text_entropy

    rows = [
        (1, "aaaa", "en", "s", 4),        # one symbol → 0 bits
        (2, "abab", "en", "s", 4),        # two equiprobable → 1 bit
        (3, "abcd", "en", "s", 4),        # four equiprobable → 2 bits
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    out = {r["doc_id"]: r for r in text_entropy(docs).collect()}
    assert out[1]["entropy"] == 0.0 and out[1]["n_distinct"] == 1
    assert math.isclose(out[2]["entropy"], 1.0, abs_tol=1e-8)
    assert math.isclose(out[3]["entropy"], 2.0, abs_tol=1e-8)


def test_mm_resize_stub_geometry(spark):
    import hashlib

    from tgres_spark.pipeline.multimodal import resize_stub, synthesize_media

    # doc_id 3 → image, width 35, height 35 → square scales to 64x64;
    # doc_id 300 → image, width 332, height 76 → (332*64)//332=64, (76*64)//332=14
    docs = spark.createDataFrame(
        [(3, "abc", "en", "s", 3), (300, "xyz", "en", "s", 3),
         (2, "vid", "en", "s", 3)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    out = {r["media_id"]: r for r in resize_stub(synthesize_media(docs)).collect()}
    assert (out[3]["new_width"], out[3]["new_height"]) == (64, 64)
    assert (out[300]["new_width"], out[300]["new_height"]) == (64, 14)
    assert out[2]["kind"] == "video" and out[2]["new_width"] == 0
    assert out[2]["checksum"] is None
    h = (hashlib.md5(b"abc").hexdigest()
         + hashlib.md5(b"cba").hexdigest())
    assert out[3]["checksum"] == hashlib.md5(f"{h}:64x64".encode()).hexdigest()


def test_c4_clean_rules_hand_checked(spark):
    from pyspark.sql import functions as F  # noqa: F401
    from tgres_spark.pipeline.textstats import c4_clean

    base = "one two three four five six seven eight"
    rows = [(i, base, "en", "s", len(base)) for i in range(4)]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    out = {r["doc_id"]: r for r in c4_clean(docs).collect()}
    # doc 0: one enriched line "<text>." -> kept, but only 1 line -> drop
    assert out[0]["n_lines"] == 1 and out[0]["n_kept"] == 1 and not out[0]["keep"]
    # doc 1: +tiny-no-punct line (dropped) +good sentence -> 2 kept -> keep
    assert out[1]["n_lines"] == 3 and out[1]["n_kept"] == 2 and out[1]["keep"]
    # doc 2: +lorem-ipsum line -> banned -> still 1 kept -> drop
    assert out[2]["n_lines"] == 2 and out[2]["n_kept"] == 1 and not out[2]["keep"]
    # doc 3: +javascript line (banned) +privacy sentence -> 2 kept -> keep
    assert out[3]["n_lines"] == 3 and out[3]["n_kept"] == 2 and out[3]["keep"]


def test_pii_scrub_counts_and_redacts(spark):
    from tgres_spark.pipeline.textstats import pii_scrub

    rows = [
        (0, "hello world", "en", "s", 11),  # %3==0 -> planted email
        (1, "hello world", "en", "s", 11),  # %3==1 -> phone + ip
        (2, "hello world", "en", "s", 11),  # %3==2 -> nothing
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    out = {r["doc_id"]: r for r in pii_scrub(docs).collect()}
    assert (out[0]["n_emails"], out[0]["n_phones"], out[0]["n_ips"]) == (1, 0, 0)
    assert (out[1]["n_emails"], out[1]["n_phones"], out[1]["n_ips"]) == (0, 1, 1)
    assert (out[2]["n_emails"], out[2]["n_phones"], out[2]["n_ips"]) == (0, 0, 0)
    # doc 0 redaction: " Contact user0@example.com for details." ->
    # "user0@example.com" (17 chars) becomes "<EMAIL>" (7): 10 shorter
    assert out[0]["red_len"] == len("hello world Contact user0@example.com for details.") - 10


def test_pq_encode_matches_numpy_argmin(spark):
    import numpy as np

    from tgres_spark.pipeline.similarity import (
        PQ_DSUB,
        PQ_M,
        _pq_codebooks,
        ann_pq_encode,
    )

    rng = np.random.default_rng(3)
    vecs = rng.standard_normal((5, 64)).astype("float32")
    emb = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]], 0) for i in range(5)],
        "vec_id long, embedding array<float>, label int",
    )
    cbs = np.array(_pq_codebooks())
    out = {r["vec_id"]: r for r in ann_pq_encode(emb).collect()}
    for i in range(5):
        v = vecs[i].astype(np.float64)
        for s in range(PQ_M):
            sub = v[s * PQ_DSUB : (s + 1) * PQ_DSUB]
            want = int(((cbs[s] - sub) ** 2).sum(axis=1).argmin()) + 1
            assert out[i][f"c{s}"] == want, (i, s)


def test_ivf_lloyd_centroid_update_math(spark):
    """One Lloyd step on a fixture where the assignment is forced:
    after the update, each vector's cell distance must not increase
    (the defining property of the Lloyd iteration)."""
    import numpy as np

    from tgres_spark.pipeline.similarity import ann_ivf_assign, ann_ivf_lloyd

    rng = np.random.default_rng(9)
    vecs = rng.standard_normal((40, 64)).astype("float32")
    emb = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]], 0) for i in range(40)],
        "vec_id long, embedding array<float>, label int",
    )
    before = {r["vec_id"]: r["dist"] for r in ann_ivf_assign(emb).collect()}
    after = {r["vec_id"]: r["dist"] for r in ann_ivf_lloyd(emb).collect()}
    assert sum(after.values()) <= sum(before.values()) + 1e-9
    # composed second iteration (ann_ivf_lloyd2_fixed's tree): the
    # Lloyd objective keeps descending monotonically
    after2 = {
        r["vec_id"]: r["dist"] for r in ann_ivf_lloyd(emb, iters=2).collect()
    }
    assert sum(after2.values()) <= sum(after.values()) + 1e-9
    # third composed iteration (ann_ivf_lloyd3_fixed's tree, round 9):
    # the objective is still nonincreasing one level deeper
    after3 = {
        r["vec_id"]: r["dist"] for r in ann_ivf_lloyd(emb, iters=3).collect()
    }
    assert sum(after3.values()) <= sum(after2.values()) + 1e-9


def test_bigram_lm_stupid_backoff_math(spark):
    """Hand-computed stupid-backoff scores on a 3-doc corpus, plus the
    ordering property the filter relies on: a doc of corpus-frequent
    bigrams outscores one stitched from never-adjacent tokens (whose
    every bigram backs off)."""
    import math

    from tgres_spark.pipeline.textstats import text_bigram_lm

    # reference split = even doc_ids: d0 'a b a b' + d2 'c a' train.
    # Train unigrams: a=3, b=2, c=1 (T=6, V=3); train bigrams:
    # (a,b)=2, (b,a)=1, (c,a)=1.
    docs = spark.createDataFrame(
        [
            (0, "a b a b", "en", "s", 7),
            (1, "a b", "en", "s", 3),
            (2, "c a", "en", "s", 3),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    out = {r["doc_id"]: r for r in text_bigram_lm(docs).collect()}

    def lp(x):
        return round(math.log10(x), 9)

    def m6(x):
        return math.floor(x * 1e6 + 0.5)

    # d0: bigrams (a,b),(b,a),(a,b) → 2/3, 1/2, 2/3 — all seen
    exp0 = (m6(lp(2 / 3)) + m6(lp(1 / 2)) + m6(lp(2 / 3))) / 1e6 / 3
    assert out[0]["n_bigrams"] == 3
    assert abs(out[0]["avg_logp"] - exp0) < 1e-12
    assert out[0]["backoff_frac"] == 0.0
    # d1 (held out): (a,b) = 2/3 seen
    assert abs(out[1]["avg_logp"] - m6(lp(2 / 3)) / 1e6) < 1e-12
    # d2: (c,a) seen once in its only context → 1/1 → logp 0
    assert out[2]["avg_logp"] == 0.0 and out[2]["backoff_frac"] == 0.0

    # ordering property: a held-out doc of reference-frequent bigrams
    # ≫ one stitched from never-adjacent tokens (every bigram backs
    # off through the Laplace-floored unigram)
    corpus = [(i, "the quick fox " * 3, "en", "s", 40) for i in range(5)]
    corpus.append((101, "quick the fox", "en", "s", 13))  # reversed pairs
    docs2 = spark.createDataFrame(
        corpus,
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    out2 = {r["doc_id"]: r for r in text_bigram_lm(docs2).collect()}
    assert out2[1]["avg_logp"] > out2[101]["avg_logp"]
    assert out2[101]["backoff_frac"] == 1.0
    assert out2[1]["backoff_frac"] == 0.0


def test_ivfadc_residual_beats_raw_pq_on_clustered_data(spark):
    """IVFADC's defining property: when data clusters around the
    coarse centroids, residuals are small and the residual-encoded ADC
    is sharply more accurate than raw-vector PQ (the published
    rationale for encoding x − c_cell instead of x). Fixture: vectors
    = IVF centroid + 0.05·noise, so residual norm ≈ 0.05·√64 while
    raw norm ≈ √64. Also pins the search contract: k ranks per query,
    non-negative ADC."""
    import numpy as np

    from tgres_spark.pipeline.similarity import (
        _ivf_codebook, ann_ivfadc_search, ann_pq_search,
    )

    cents = np.array(_ivf_codebook())
    rng = np.random.default_rng(3)
    n = 60
    vecs = cents[np.arange(n) % 16] + 0.05 * rng.standard_normal((n, 64))
    emb = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]], 0) for i in range(n)],
        "vec_id long, embedding array<float>, label int",
    )
    adc_rows = ann_ivfadc_search(emb).collect()
    pq_rows = ann_pq_search(emb).collect()
    assert adc_rows and pq_rows
    res_err = sum(r["abs_err"] for r in adc_rows) / len(adc_rows)
    raw_err = sum(r["abs_err"] for r in pq_rows) / len(pq_rows)
    assert res_err < raw_err * 0.5, (res_err, raw_err)
    for r in adc_rows:
        assert r["adc"] >= 0.0
    by_q: dict = {}
    for r in adc_rows:
        by_q.setdefault(r["query_id"], []).append(r["rank"])
    for q, ranks in by_q.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1)), q


def test_anomaly_zscore_flags_spike_only(spark):
    """Constant series with one spike: only the spike is anomalous,
    and only once the baseline window is full."""
    from tgres_spark.operators.dsl_calculate import anomaly_zscore

    rows = []
    for i in range(40):
        # gentle alternation so the baseline stddev is nonzero
        v = 10.0 + (0.5 if i % 2 == 0 else -0.5)
        if i == 30:
            v = 100.0
        rows.append(("s", 60 * (i + 1), v))
    df = spark.createDataFrame(rows, "name string, t long, value double")
    out = {r["t"] // 60 - 1: r for r in anomaly_zscore(df, 24, 2.0).collect()}
    flagged = sorted(i for i, r in out.items() if r["is_anomaly"])
    assert 30 in flagged
    # the spike itself never contaminates its own baseline; the points
    # right after it see an inflated stddev and stay unflagged
    assert all(i == 30 or i > 30 for i in flagged) and len(flagged) <= 2
    # no z-scores before the baseline window fills
    assert all(out[i]["zscore"] is None for i in range(24))


def test_covariance_np_bit_equals_declarative(spark):
    """The Arrow fast path and the declarative explode path must agree
    BIT-FOR-BIT (not approximately): both sum the same per-row
    quantized integers, exact sums are associative, and the single
    double cast happens after an exact decimal /1e6 in each."""
    from tgres_spark.model import load_table
    from tgres_spark.pipeline.similarity import emb_covariance, emb_covariance_np

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").repartition(7)
    a = {(r.i, r.j): r.cov for r in emb_covariance(emb).collect()}
    b = {(r.i, r.j): r.cov for r in emb_covariance_np(emb).collect()}
    assert a == b  # exact float equality, any partitioning


def test_cov_full_mu_py_bit_equals_relational(spark):
    """Optimization round 12: _cov_full_mu_py reconstructs the
    covariance AND the per-dimension mean driver-side from ONE collect
    of the partial-sum relation. Both must be bit-equal to the
    relational paths they replaced: cov to emb_covariance_np's joined
    projection (same decimal→double cast, same m_i·m_j subtraction
    order), mu to the dec6 posexplode mean aggregation emb_abtt used
    to run (sum(dec6(x)) as decimal == Σfloor(x·1e6+0.5)/1e6 exactly,
    then the same double(sum)/double(n) division)."""
    from pyspark.sql import functions as F

    from tgres_spark.model import dec6, load_table
    from tgres_spark.pipeline.similarity import (
        _cov_full_mu_py,
        emb_covariance_np,
    )

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").repartition(5)
    full, mu = _cov_full_mu_py(emb)
    rel = {(r.i, r.j): r.cov for r in emb_covariance_np(emb).collect()}
    upper = {(i, j): c for (i, j), c in full.items() if i <= j}
    assert upper == rel  # exact float equality
    vd = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    mu_rel = (
        emb.select(F.posexplode(vd).alias("pos", "x"))
        .groupBy((F.col("pos") + 1).cast("int").alias("i"))
        .agg((F.sum(dec6(F.col("x"))).cast("double") / F.count("*")).alias("m"))
        .orderBy("i")
        .collect()
    )
    assert mu == [r.m for r in mu_rel]  # exact float equality


def test_mix_unimax_water_filling_invariants(spark):
    """The closed form must behave exactly like the greedy UniMax
    loop: low-resource langs are capped at epochs x capacity, the
    rest share the leftover equally at the water level theta, the
    total allocation exhausts the budget, and theta separates capped
    from uncapped capacities."""
    from tgres_spark.pipeline.prep import mix_unimax

    def docs_for(caps):
        rows = []
        did = 0
        for lang, n_tokens in caps.items():
            rows.append((did, " ".join("w" for _ in range(n_tokens)),
                         lang, "s", n_tokens))
            did += 1
        return spark.createDataFrame(
            rows,
            "doc_id long, text string, lang string, source string, n_chars long",
        )

    caps = {"aa": 10, "bb": 50, "cc": 500, "dd": 700}
    out = {r["lang"]: r for r in
           mix_unimax(docs_for(caps), total_tokens=600, epochs=2).collect()}
    # aa (cap 20) and bb (cap 100) are capped; cc/dd split the rest:
    # theta = (600 - 120) / 2 = 240
    assert out["aa"]["capped"] == 1 and out["aa"]["alloc_tokens"] == 20.0
    assert out["bb"]["capped"] == 1 and out["bb"]["alloc_tokens"] == 100.0
    assert out["cc"]["capped"] == 0 and out["cc"]["alloc_tokens"] == 240.0
    assert out["dd"]["capped"] == 0 and out["dd"]["alloc_tokens"] == 240.0
    assert sum(r["alloc_tokens"] for r in out.values()) == 600.0
    theta = out["cc"]["alloc_tokens"]
    for r in out.values():
        if r["capped"]:
            assert r["epoch_cap"] <= theta
        else:
            assert r["epoch_cap"] >= theta

    # budget below every cap: nobody capped, uniform split
    out2 = {r["lang"]: r for r in
            mix_unimax(docs_for(caps), total_tokens=40, epochs=2).collect()}
    assert all(r["capped"] == 0 for r in out2.values())
    assert all(r["alloc_tokens"] == 10.0 for r in out2.values())

    # budget above total capacity: everyone capped at epochs x cap
    out3 = {r["lang"]: r for r in
            mix_unimax(docs_for(caps), total_tokens=10**6, epochs=2).collect()}
    assert all(r["capped"] == 1 for r in out3.values())
    for lang, c in caps.items():
        assert out3[lang]["alloc_tokens"] == float(2 * c)


def test_span_dedup_catches_unaligned_substrings(spark):
    """A 20-word run shared at DIFFERENT offsets: chunk-aligned
    passage hashing misses it, overlapping span windows find exactly
    the 5 possible 16-windows inside it, and the covered-position
    union is exactly the 20 shared words."""
    from tgres_spark.pipeline.contamination import passage_dedup, span_dedup

    shared = " ".join(f"s{i}" for i in range(20))
    a = " ".join(f"a{i}" for i in range(3)) + " " + shared + " " + \
        " ".join(f"x{i}" for i in range(7))
    b = shared + " " + " ".join(f"y{i}" for i in range(10))
    docs = spark.createDataFrame(
        [(1, a, "en", "s", len(a)), (2, b, "en", "s", len(b))],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    spans = {r["doc_id"]: r for r in span_dedup(docs, k=16).collect()}
    # doc 1: shared run at words 4..23 -> dup windows start 4..8
    assert spans[1]["n_words"] == 30 and spans[1]["n_windows"] == 15
    assert spans[1]["n_dup_windows"] == 5
    assert spans[1]["covered_words"] == 20
    assert spans[1]["covered_frac"] == 20 / 30
    # doc 2: shared run at words 1..20 -> dup windows start 1..5
    assert spans[2]["n_dup_windows"] == 5 and spans[2]["covered_words"] == 20
    # the chunk-aligned passage pass sees NOTHING here (different
    # 16-word chunk boundaries on the two sides)
    pas = {r["doc_id"]: r for r in passage_dedup(docs, k=16).collect()}
    assert pas[1]["n_dup_passages"] == 0 and pas[2]["n_dup_passages"] == 0


def test_emb_power_iter_matches_numpy(spark):
    """One power step == numpy's C @ v0 on the biased covariance, the
    iterate is unit-norm, and on an elongated cloud it swings toward
    the dominant axis."""
    import math
    import numpy as np

    from tgres_spark.pipeline.similarity import EMB_DIM, emb_power_iter

    rng = np.random.default_rng(3)
    x = rng.normal(0, 0.01, (40, EMB_DIM))
    x[:, 0] += rng.normal(0, 3.0, 40)  # dominant axis = dim 0
    rows = [(i, [float(v) for v in x[i]], "l") for i in range(len(x))]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label string"
    )
    out = sorted(emb_power_iter(emb).collect(), key=lambda r: r["i"])
    c = np.cov(x, rowvar=False, bias=True)
    v0 = np.full(EMB_DIM, 1.0 / math.sqrt(EMB_DIM))
    w = c @ v0
    got_w = np.array([r["wi"] for r in out])
    assert np.allclose(got_w, w, atol=1e-6)
    v1 = np.array([r["v1"] for r in out])
    assert abs(np.linalg.norm(v1) - 1.0) < 1e-9
    assert abs(v1[0]) > 0.9  # one step already points down the axis
    assert abs(out[0]["rayleigh"] - v0 @ w) < 1e-6  # dec6-quantized cov


def test_emb_power_iter2_composes_and_tightens(spark):
    """Two composed steps == numpy's C @ (C v0 / ||C v0||) with a
    unit-norm second iterate; the Rayleigh quotient after step 2 is a
    TIGHTER (not smaller) eigenvalue estimate than step 1's, and the
    iterate is closer to the dominant axis than v1."""
    import math
    import numpy as np

    from tgres_spark.pipeline.similarity import (
        EMB_DIM,
        emb_power_iter,
        emb_power_iter2,
    )

    rng = np.random.default_rng(3)
    x = rng.normal(0, 0.01, (40, EMB_DIM))
    x[:, 0] += rng.normal(0, 3.0, 40)
    x[:, 1] += rng.normal(0, 1.0, 40)  # second axis so v1 isn't exact
    rows = [(i, [float(v) for v in x[i]], "l") for i in range(len(x))]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label string"
    )
    out1 = sorted(emb_power_iter(emb).collect(), key=lambda r: r["i"])
    out2 = sorted(emb_power_iter2(emb).collect(), key=lambda r: r["i"])
    c = np.cov(x, rowvar=False, bias=True)
    v0 = np.full(EMB_DIM, 1.0 / math.sqrt(EMB_DIM))
    w1 = c @ v0
    v1 = w1 / np.linalg.norm(w1)
    w2 = c @ v1
    got_w2 = np.array([r["wi"] for r in out2])
    assert np.allclose(got_w2, w2, atol=1e-5)
    v2 = np.array([r["v2"] for r in out2])
    assert abs(np.linalg.norm(v2) - 1.0) < 1e-9
    # Rayleigh improves monotonically along power iteration
    assert out2[0]["rayleigh"] >= out1[0]["rayleigh"] - 1e-9
    assert abs(v2[0]) >= abs(np.array([r["v1"] for r in out1])[0]) - 1e-12


def test_text_novelty_order_semantics(spark):
    """First doc fully novel, an exact later duplicate fully seen, a
    half-overlapping doc in between — and appending a new doc never
    changes earlier scores (the incremental-index property)."""
    from tgres_spark.pipeline.textstats import text_novelty

    w = [f"w{i}" for i in range(24)]
    a = " ".join(w[:16])                # doc 1
    b = " ".join(w[8:24])               # doc 2: first half seen in a
    c = a                               # doc 3: exact dup of doc 1
    rows = [(1, a, "en", "s", 1), (2, b, "en", "s", 1), (3, c, "en", "s", 1)]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    out = {r["doc_id"]: r for r in text_novelty(docs, k=8).collect()}
    assert out[1]["novelty"] == 1.0
    assert out[3]["novelty"] == 0.0
    # doc 2 has 9 grams (16 words, k=8); only its FIRST gram
    # (w8..w15) lies fully inside a's word range -> 1 seen of 9
    assert out[2]["n_grams"] == 9 and out[2]["n_seen"] == 1
    # append doc 4: earlier docs' scores must not move
    docs2 = spark.createDataFrame(
        rows + [(4, " ".join(w[4:20]), "en", "s", 1)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    out2 = {r["doc_id"]: r for r in text_novelty(docs2, k=8).collect()}
    for d in (1, 2, 3):
        assert out2[d]["novelty"] == out[d]["novelty"]


def test_audio_chunks_slices_binary_jvm_side(spark):
    """32-byte payloads at chunk_bytes=12 -> chunks of 12/12/8 (the
    trailing chunk is short), checksums match hashlib over the hex
    slices, and non-audio rows never appear."""
    import hashlib

    from tgres_spark.pipeline.multimodal import audio_chunks, synthesize_media

    docs = spark.createDataFrame(
        [(i, f"text {i}", "en", "s", 6) for i in range(6)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    media = synthesize_media(docs)
    audio_ids = {r.media_id for r in media.where("kind = 'audio'").collect()}
    payloads = {
        r.media_id: bytes(r.payload)
        for r in media.where("kind = 'audio'").collect()
    }
    out = audio_chunks(media, chunk_bytes=12).collect()
    assert {r.media_id for r in out} == audio_ids
    by_media = {}
    for r in out:
        by_media.setdefault(r.media_id, []).append(r)
    for mid, rs in by_media.items():
        rs.sort(key=lambda r: r.chunk_idx)
        assert [r.n_bytes for r in rs] == [12, 12, 8]
        hexs = payloads[mid].hex()
        for i, r in enumerate(rs):
            want = hashlib.md5(hexs[i * 24 : i * 24 + 24].encode()).hexdigest()
            assert r.chunk_checksum == want


def test_audio_chunks_empty_payload_yields_no_rows(spark):
    """A zero-byte audio payload must emit ZERO chunk rows — not the
    sequence(0, -1) descending-array pair [0, -1] (the _passages_of
    trap); real media tables have empty/corrupt payloads."""
    from tgres_spark.pipeline.multimodal import audio_chunks

    media = spark.createDataFrame(
        [(1, "audio", bytearray(b"")), (2, "audio", bytearray(b"abcdefgh"))],
        "media_id long, kind string, payload binary",
    )
    out = audio_chunks(media, chunk_bytes=8).collect()
    assert {r.media_id for r in out} == {2}
    assert len(out) == 1 and out[0].n_bytes == 8


def test_asof_backward_semantics(spark):
    """Latest at-or-before match per key: inclusive at equal t, NULL
    when nothing precedes, latest wins among several, and keys never
    cross."""
    from tgres_spark.operators.asof import asof_backward

    left = spark.createDataFrame(
        [("u1", 100, "a"), ("u1", 5, "b"), ("u2", 50, "c"), ("u3", 9, "d"),
         ("u4", 40, "e")],
        "k string, t long, pid string",
    )
    right = spark.createDataFrame(
        [("u1", 10, 1.0), ("u1", 90, 2.0), ("u1", 100, 3.0),
         ("u2", 60, 4.0), ("u3", 9, 5.0),
         # u4's LATEST quote has a NULL attribute: the match must be
         # row-atomic (r_t=30, r_v NULL) — never r_v stitched from the
         # older t=20 row, which is what independent per-column
         # last(ignoreNulls) would produce
         ("u4", 20, 7.0), ("u4", 30, None)],
        "k string, t long, v double",
    )
    out = {r["pid"]: r for r in
           asof_backward(left, right, "k", "t", ["pid"], ["v"]).collect()}
    assert out["a"]["r_t"] == 100 and out["a"]["r_v"] == 3.0  # inclusive tie
    assert out["b"]["r_t"] is None and out["b"]["r_v"] is None  # nothing before
    assert out["c"]["r_t"] is None  # u2's only quote is later
    assert out["d"]["r_v"] == 5.0  # equal-t match on another key
    assert out["e"]["r_t"] == 30 and out["e"]["r_v"] is None  # atomic row


def test_emb_outliers_flags_planted_vector(spark):
    """A vector far outside the cloud in ONE dimension tops the
    diagonal-Mahalanobis ranking, and its score matches the formula
    computed with numpy's biased moments."""
    import numpy as np

    from tgres_spark.pipeline.similarity import EMB_DIM, emb_outliers

    rng = np.random.default_rng(11)
    x = rng.normal(0, 1.0, (50, EMB_DIM))
    x[7, 3] = 40.0  # planted outlier
    rows = [(i, [float(v) for v in x[i]], "l") for i in range(len(x))]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label string"
    )
    out = emb_outliers(emb, topk=5).collect()
    assert out[0]["vec_id"] == 7
    mu = x.mean(axis=0)
    var = x.var(axis=0)
    want = (((x[7] - mu) ** 2) / var).sum()
    assert abs(out[0]["dist2"] - want) / want < 1e-4  # dec6-quantized moments


def test_ann_probe_sweep_recall_monotone(spark):
    """Recall@k never decreases as nprobe grows (probing more cells
    only adds candidates), and probing ALL cells makes the candidate
    set complete so recall reflects pure PQ quantization error."""
    import numpy as np

    from tgres_spark.pipeline.similarity import (
        EMB_DIM, IVF_CODEBOOK_K, ann_ivf_probe_sweep,
    )

    rng = np.random.default_rng(21)
    x = rng.normal(0, 1.0, (60, EMB_DIM))
    rows = [(i, [float(v) for v in x[i]], "l") for i in range(len(x))]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label string"
    )
    out = {r["nprobe"]: r["recall"] for r in
           ann_ivf_probe_sweep(
               emb, n_queries=5, k=5, probes=(1, 4, IVF_CODEBOOK_K)
           ).collect()}
    assert out[1] <= out[4] <= out[IVF_CODEBOOK_K]
    assert out[IVF_CODEBOOK_K] > 0.0


def test_text_novelty_index_is_incrementally_maintainable(spark):
    """The gram→min(doc_id) relation used by text_novelty is a
    min-mergeable index: folding an append-batch's per-gram mins into
    a persisted index gives the SAME first_id relation as recomputing
    over the full corpus — the property the docstring claims."""
    from pyspark.sql import functions as F

    from tgres_spark.pipeline.dedup import shingles_of, words

    def gram_min(docs):
        g = (
            docs.select("doc_id", words(F.col("text")).alias("w"))
            .select("doc_id", F.explode(shingles_of(F.col("w"), 8)).alias("g"))
            .select("doc_id", F.md5("g").alias("h"))
            .distinct()
        )
        return {r["h"]: r["m"] for r in
                g.groupBy("h").agg(F.min("doc_id").alias("m")).collect()}

    w = [f"w{i}" for i in range(30)]
    old_rows = [(1, " ".join(w[:16]), "en", "s", 1),
                (2, " ".join(w[8:24]), "en", "s", 1)]
    new_rows = [(3, " ".join(w[:16]), "en", "s", 1),   # dup of 1
                (4, " ".join(w[14:30]), "en", "s", 1)]
    schema = "doc_id long, text string, lang string, source string, n_chars long"
    full = gram_min(spark.createDataFrame(old_rows + new_rows, schema))
    idx = gram_min(spark.createDataFrame(old_rows, schema))
    for h, m in gram_min(spark.createDataFrame(new_rows, schema)).items():
        idx[h] = min(idx.get(h, m), m)
    assert idx == full


def test_tfidf_prefers_rare_terms(spark):
    """A corpus-wide stopword scores 0 (df == N -> idf 0) and never
    outranks a doc-unique term; per-doc top-1 is the rare word."""
    from tgres_spark.pipeline.textstats import text_tfidf_keywords

    docs = spark.createDataFrame(
        [(1, "the cat the dog the", "en", "s", 1),
         (2, "the bird the", "en", "s", 1),
         (3, "the fish", "en", "s", 1)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    out = text_tfidf_keywords(docs, topn=2).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert by_doc[1][0]["word"] in ("cat", "dog")  # not 'the'
    the = [r for r in out if r["word"] == "the"]
    assert all(r["tfidf"] == 0.0 for r in the)  # df == N


def test_corpus_fingerprint_merges_by_sum(spark):
    """Shard fingerprints fold to the corpus fingerprint: checksums
    and counts add (order-free), so the receipt can be maintained
    incrementally; any reorder/repartition leaves it unchanged."""
    from tgres_spark.pipeline.textstats import corpus_fingerprint

    schema = "doc_id long, text string, lang string, source string, n_chars long"
    rows = [(i, f"doc number {i % 7}", "en", "s", 1) for i in range(40)]
    full = corpus_fingerprint(spark.createDataFrame(rows, schema)).collect()[0]
    a = corpus_fingerprint(spark.createDataFrame(rows[:17], schema)).collect()[0]
    b = corpus_fingerprint(spark.createDataFrame(rows[17:], schema)).collect()[0]
    assert a["n_docs"] + b["n_docs"] == full["n_docs"]
    assert a["checksum"] + b["checksum"] == full["checksum"]
    shuf = corpus_fingerprint(
        spark.createDataFrame(list(reversed(rows)), schema).repartition(7)
    ).collect()[0]
    assert shuf == full


def test_mm_phash_dedup_recall_and_twins(spark):
    """The image near-dup bridge: (a) mm_phash_dedup must find EXACTLY
    the pairs a brute-force all-pairs hamming scan over the phash
    chunks finds (pigeonhole recall, shared engine with simhash),
    (b) every planted twin (media_id % 10 == 0 → +1e9 copy of the
    same payload) appears with hamming 0, and (c) a fingerprint is
    thresholded against ITS OWN mean — a payload of identical nibbles
    has no bit set (strict >)."""
    from tgres_spark.pipeline.dedup import chunk_hamming_pairs
    from tgres_spark.pipeline.multimodal import (
        _TWIN_OFFSET, mm_phash, mm_phash_dedup, synthesize_media,
    )

    rows = [(i, f"document body {i} {'x' * (i % 17)}", "en", "s", 20)
            for i in range(90)]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    got = {(r["media_a"], r["media_b"]): r["hamming"]
           for r in mm_phash_dedup(docs).collect()}

    # brute force over the same signature relation (images + twins)
    from pyspark.sql import functions as F

    media = synthesize_media(docs)
    imgs = media.where(F.col("kind") == "image")
    twins = imgs.where(F.col("media_id") % 10 == 0).withColumn(
        "media_id", F.col("media_id") + _TWIN_OFFSET
    )
    sig = {r["doc_id"]: [r[f"q{j}"] for j in range(4)]
           for r in mm_phash(imgs.unionByName(twins)).collect()}
    ids = sorted(sig)
    expect = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            h = sum(bin(sig[a][j] ^ sig[b][j]).count("1") for j in range(4))
            if h <= 3:
                expect[(a, b)] = h
    assert got == expect
    # image media_ids are doc_id % 3 == 0; twins of those % 10 == 0
    planted = [m for m in sig if m < _TWIN_OFFSET and m % 10 == 0 and m % 3 == 0]
    assert planted, "fixture must contain twinned images"
    for m in planted:
        assert got[(m, m + _TWIN_OFFSET)] == 0

    # (c) constant-nibble payload → all bits 0 (strict > its own mean)
    const = spark.createDataFrame(
        [(1, "image", bytearray(b"\xaa" * 32))],
        "media_id long, kind string, payload binary",
    )
    r = mm_phash(const).collect()[0]
    assert [r[f"q{j}"] for j in range(4)] == [0, 0, 0, 0]


def test_mm_video_keyframes_recall_and_twins(spark):
    """The video near-dup bridge: (a) mm_video_keyframes must equal a
    brute-force all-pairs hamming scan over the per-keyframe phash
    chunks, aggregated to video pairs (pigeonhole recall through the
    frame→video bridge), and (b) every planted twin video
    (media_id % 10 == 0 → +1e9 copy, same payload → identical frame
    hashes) appears with min_hamming 0 and n_frame_matches ≥ its
    keyframe count (≥: stride-aligned frames of OTHER videos could
    collide, none do in this fixture)."""
    from pyspark.sql import functions as F

    from tgres_spark.pipeline.multimodal import (
        _KF_ID_BASE, _TWIN_OFFSET, mm_video_keyframes, phash_from_hex,
        synthesize_media,
    )

    rows = [(i, f"video clip {i} {'y' * (i % 13)}", "en", "s", 20)
            for i in range(120)]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    got = {(r["video_a"], r["video_b"]): (r["n_frame_matches"], r["min_hamming"])
           for r in mm_video_keyframes(docs).collect()}

    # brute force over the same keyframe signature relation
    media = synthesize_media(docs)
    vids = media.where(F.col("kind") == "video")
    twins = vids.where(F.col("media_id") % 10 == 0).withColumn(
        "media_id", F.col("media_id") + _TWIN_OFFSET
    )
    kf = vids.unionByName(twins).select(
        "media_id",
        F.lower(F.hex("payload")).alias("vh"),
        F.explode(
            F.sequence(F.lit(0), F.col("n_frames") - 1, F.lit(30))
        ).alias("frame_idx"),
    )
    hx = F.concat(F.col("vh"), F.lit(":"), F.col("frame_idx").cast("string"))
    sig = {
        r["doc_id"]: [r[f"q{j}"] for j in range(4)]
        for r in phash_from_hex(
            kf.select(
                (F.col("media_id") * _KF_ID_BASE + F.col("frame_idx"))
                .alias("media_id"),
                F.concat(F.md5(hx), F.md5(F.reverse(hx))).alias("h"),
            )
        ).collect()
    }
    ids = sorted(sig)
    expect: dict = {}
    n_kf: dict = {}
    for k in ids:
        n_kf[k // _KF_ID_BASE] = n_kf.get(k // _KF_ID_BASE, 0) + 1
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            h = sum(bin(sig[a][j] ^ sig[b][j]).count("1") for j in range(4))
            va, vb = a // _KF_ID_BASE, b // _KF_ID_BASE
            if h <= 3 and va != vb:
                n, m = expect.get((va, vb), (0, 64))
                expect[(va, vb)] = (n + 1, min(m, h))
    assert got == expect
    # video media_ids are doc_id % 3 == 2; twins of those % 10 == 0
    planted = [m for m in n_kf if m < _TWIN_OFFSET and m % 10 == 0 and m % 3 == 2]
    assert planted, "fixture must contain twinned videos"
    for m in planted:
        n, h = got[(m, m + _TWIN_OFFSET)]
        assert h == 0 and n >= n_kf[m]


def test_bloom_decontaminate_equals_exact_check(spark):
    """The bloom pre-filter must not change any contamination verdict:
    (doc_id, n_grams, n_hit, frac, contaminated) identical to
    contamination_check (no false negatives structurally; false
    positives die in the exact verify), with n_hit <= n_bloom_pass <=
    n_grams and at least one doc where the filter actually pruned."""
    from tgres_spark.pipeline.contamination import (
        bloom_decontaminate, contamination_check,
    )

    bench_txt = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [(0, bench_txt, "en", "src0", 1)]
    for d in range(1, 25):
        if d % 5 == 0:  # contaminated: contains the benchmark text
            rows.append((d, f"intro {d} " + bench_txt + " outro", "en", "s", 1))
        else:
            rows.append(
                (d, " ".join(f"w{d}x{i}" for i in range(20)), "en", "s", 1)
            )
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    exact = {r["doc_id"]: r for r in contamination_check(docs).collect()}
    bl = {r["doc_id"]: r for r in bloom_decontaminate(docs).collect()}
    assert set(exact) == set(bl)
    pruned_somewhere = False
    for d, e in exact.items():
        b = bl[d]
        assert (b["n_grams"], b["n_hit"], b["frac"], b["contaminated"]) == (
            e["n_grams"], e["n_hit"], e["frac"], e["contaminated"]), d
        assert b["n_hit"] <= b["n_bloom_pass"] <= b["n_grams"]
        if b["n_bloom_pass"] < b["n_grams"]:
            pruned_somewhere = True
    assert pruned_somewhere
    contaminated = {d for d, r in bl.items() if r["contaminated"]}
    assert contaminated == {5, 10, 15, 20}


def test_prep_increment_verdicts_each_rejection_reason(spark, tmp_path):
    """One increment exercising every gate: a clean keeper, a
    benchmark-contaminated doc, a near-dup of an INDEXED corpus doc, a
    within-increment dup pair (min-id keeper kept), and a repetitive
    doc the Gopher gate rejects."""
    from pyspark.sql import functions as F

    from tgres_spark.pipeline.contamination import contamination_index
    from tgres_spark.pipeline.dedup import minhash_signatures
    from tgres_spark.pipeline.prep import prep_increment

    bench_txt = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lam mu nu xi omicron pi rho sigma tau upsilon"
    )
    corp_txt = (
        "the existing corpus document talks at length about spark "
        "plans and shuffles and joins and broadcast hash tables today"
    )
    clean = (
        "genuinely fresh crawl document containing plenty varied "
        "useful tokens that easily pass the quality gate because they "
        "cover many different topics including parquet shuffles "
        "broadcast joins adaptive execution planning vectors"
    )
    dup_inc = (
        "an increment internal duplicate paragraph that appears twice "
        "across two distinct crawl records within the same batch run "
        "carrying enough fresh vocabulary to clear every quality rule "
        "comfortably today"
    )
    existing = spark.createDataFrame(
        [(1, corp_txt, "en", "s", 1), (0, bench_txt, "en", "src0", 1)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    inc_rows = [
        (10, clean, "en", "s", 1),
        (20, "intro " + bench_txt + " outro", "en", "s", 1),   # contaminated
        (30, corp_txt + " tail", "en", "s", 1),                 # corpus dup
        (40, dup_inc, "en", "s", 1),                            # keeper of pair
        (50, dup_inc + " extra", "en", "s", 1),                 # increment dup
        (60, "spam spam spam spam spam spam spam spam", "en", "s", 1),  # gopher
    ]
    increment = spark.createDataFrame(
        inc_rows,
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    sig = str(tmp_path / "sig")
    bench = str(tmp_path / "bench")
    minhash_signatures(
        existing.where(F.col("source") != "src0")
    ).write.parquet(sig)
    contamination_index(existing).write.parquet(bench)
    out = {
        r["doc_id"]: r
        for r in prep_increment(spark, sig, bench, increment).collect()
    }
    assert out[10]["keep"] == 1 and all(
        out[10][c] == 0
        for c in ("contaminated", "dup_corpus", "dup_increment")
    )
    assert out[20]["contaminated"] == 1 and out[20]["keep"] == 0
    assert out[30]["dup_corpus"] == 1 and out[30]["keep"] == 0
    assert out[40]["dup_increment"] == 0 and out[40]["keep"] == 1
    assert out[50]["dup_increment"] == 1 and out[50]["keep"] == 0
    assert out[60]["gopher_keep"] == 0 and out[60]["keep"] == 0


def test_contamination_incremental_equals_full_filtered(spark, tmp_path):
    """The incremental decontamination contract: scoring ONLY the
    increment against the persisted benchmark index yields exactly the
    full contamination_check relation filtered to increment docs, and
    the increment plan broadcasts the index (no benchmark-side
    shuffle)."""
    from pyspark.sql import functions as F

    from tgres_spark.pipeline.contamination import (
        contamination_check, contamination_incremental, contamination_index,
    )

    bench_txt = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [(0, bench_txt, "en", "src0", 1)]
    for d in range(1, 25):
        if d % 5 == 0:
            rows.append((d, f"intro {d} " + bench_txt + " outro", "en", "s", 1))
        else:
            rows.append(
                (d, " ".join(f"w{d}x{i}" for i in range(20)), "en", "s", 1)
            )
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    idx = str(tmp_path / "bench_index")
    contamination_index(docs).write.mode("overwrite").parquet(idx)
    increment = docs.where(
        (F.col("source") != "src0") & (F.col("doc_id") % 5 == 0)
    )
    inc = contamination_incremental(spark, idx, increment)
    got = {r["doc_id"]: r for r in inc.collect()}
    full = {
        r["doc_id"]: r
        for r in contamination_check(docs).collect()
        if r["doc_id"] % 5 == 0
    }
    assert set(got) == set(full) == {5, 10, 15, 20}
    for d, e in full.items():
        g = got[d]
        assert (g["n_grams"], g["n_hit"], g["frac"], g["contaminated"]) == (
            e["n_grams"], e["n_hit"], e["frac"], e["contaminated"]), d
        assert g["contaminated"] == 1
    plan = inc._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_perplexity_filter_ccnet_terciles(spark):
    """Value-threshold head/middle/tail semantics: 6 distinctly-scored
    held-out docs split 2/2/2 with monotone score bands, and tied
    scores all take the better bucket (the CCNet frozen-cutoff rule)."""
    from tgres_spark.pipeline.textstats import perplexity_filter

    # Reference split (even ids) fixes bigram frequencies: 'a b' is
    # the dominant bigram, 'b c' rarer, 'c d' rarer still.
    rows = [
        (0, "a b " * 8 + "b c " * 2 + "c d", "en", "s", 1),
        (2, "a b a b b c", "en", "s", 1),
    ]
    # Held-out odd docs, best → worst: pure 'a b' repeats, then
    # mixes, then never-adjacent inversions that back off.
    texts = [
        "a b a b a b",     # all top bigrams
        "a b a b b c",     # mostly top
        "a b b c b c",     # mid
        "b c c d c d",     # rare bigrams
        "b a d c b a",     # all backoff
        "d a c a d b",     # all backoff, rarer unigrams
    ]
    rows += [(2 * i + 1, t, "en", "s", 1) for i, t in enumerate(texts)]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    out = {
        (r["lang"], r["bucket"]): r for r in perplexity_filter(docs).collect()
    }
    assert set(out) == {("en", "head"), ("en", "middle"), ("en", "tail")}
    assert [out[("en", b)]["n_docs"] for b in ("head", "middle", "tail")] == [
        2, 2, 2,
    ]
    # value bands are disjoint and ordered
    assert out[("en", "head")]["logp_lo"] > out[("en", "middle")]["logp_hi"]
    assert out[("en", "middle")]["logp_lo"] > out[("en", "tail")]["logp_hi"]

    # ties: identical held-out docs share one score → all 'head'
    rows2 = [(0, "a b a b", "en", "s", 1)] + [
        (2 * i + 1, "a b a b", "en", "s", 1) for i in range(3)
    ]
    docs2 = spark.createDataFrame(
        rows2, "doc_id long, text string, lang string, source string, n_chars long"
    )
    out2 = perplexity_filter(docs2).collect()
    assert len(out2) == 1
    assert out2[0]["bucket"] == "head" and out2[0]["n_docs"] == 3


def test_emb_int8_quantize_exact_roundtrip(spark):
    """Hand-checked scales/codes/errors on power-of-two values (exact
    in float32): max-abs scaling never clips, a half-step value lands
    exactly between codes (err 0.25·scale² per dim), an all-zero
    corpus dimension yields scale 0 → code 0 without dividing."""
    from tgres_spark.pipeline.similarity import EMB_DIM, emb_int8_quantize

    d = EMB_DIM
    v0 = [0.0] + [127.0] * (d - 1)   # defines scale 1.0 on dims 1..63
    v1 = [0.0] + [63.5] * (d - 1)    # 63.5/1.0 → code 64, err 0.25
    v2 = [0.0] * d                   # zero vector
    emb = spark.createDataFrame(
        [(0, v0, 0), (1, v1, 0), (2, v2, 0)],
        "vec_id long, embedding array<float>, label int",
    )
    out = {r["vec_id"]: r for r in emb_int8_quantize(emb).collect()}
    assert out[0]["l2sq_err"] == 0.0 and out[0]["nnz_codes"] == d - 1
    assert out[1]["l2sq_err"] == 0.25 * (d - 1)
    assert out[1]["max_sq_err"] == 0.25
    assert out[1]["nnz_codes"] == d - 1
    assert out[2]["l2sq_err"] == 0.0 and out[2]["nnz_codes"] == 0


def test_ivf_balance_degenerate_and_invariants(spark):
    """All-identical vectors land in ONE cell: imbalance = k and
    exp_scan_frac = 1.0 exactly (the index is useless and the
    diagnostic says so); a spread corpus satisfies the structural
    invariants."""
    from tgres_spark.pipeline.similarity import (
        EMB_DIM,
        IVF_CODEBOOK_K,
        ann_ivf_balance,
    )

    d, k = EMB_DIM, IVF_CODEBOOK_K
    same = spark.createDataFrame(
        [(i, [1.0] * d, 0) for i in range(10)],
        "vec_id long, embedding array<float>, label int",
    )
    r = ann_ivf_balance(same).collect()[0]
    assert r["n_vecs"] == 10 and r["n_cells"] == k
    assert r["n_empty"] == k - 1
    assert r["max_cell"] == r["min_cell"] == 10
    assert r["imbalance"] == float(k)
    assert r["exp_scan_frac"] == 1.0

    spread = spark.createDataFrame(
        [
            (i, [float((i * 7 + j * 3) % 13 - 6) for j in range(d)], 0)
            for i in range(50)
        ],
        "vec_id long, embedding array<float>, label int",
    )
    r2 = ann_ivf_balance(spread).collect()[0]
    assert r2["n_vecs"] == 50
    assert r2["imbalance"] >= 1.0
    assert 0.0 < r2["exp_scan_frac"] <= 1.0
    assert r2["n_empty"] + (r2["n_vecs"] - 0) >= 0  # structural sanity
    assert r2["min_cell"] >= 1


def test_zipf_fit_exact_power_law(spark):
    """Counts 36/9/4 = 36·rank⁻² are exactly log-log linear: the OLS
    slope recovers -2 to micro6 precision, the intercept log10(36),
    and top1_frac the exact count ratio."""
    import math

    from tgres_spark.pipeline.textstats import corpus_zipf_fit

    text = " ".join(["a"] * 36 + ["b"] * 9 + ["c"] * 4)
    docs = spark.createDataFrame(
        [(0, text, "en", "s", len(text))],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    r = corpus_zipf_fit(docs).collect()[0]
    assert r["n_terms"] == 3
    assert abs(r["slope"] - (-2.0)) < 1e-4
    assert abs(r["intercept"] - math.log10(36)) < 1e-4
    assert r["top1_frac"] == 36 / 49


def test_heaps_curve_hand_computed(spark):
    """10 docs, doc i = 'base w{i}': prefix k covers docs 0..k-1, so
    n_docs = k, n_tokens = 2k, vocab = k+1 exactly; a fully-duplicated
    corpus saturates (vocab flat while tokens grow)."""
    from tgres_spark.pipeline.textstats import corpus_heaps_curve

    docs = spark.createDataFrame(
        [(i, f"base w{i}", "en", "s", 8) for i in range(10)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    out = {r["decile"]: r for r in corpus_heaps_curve(docs).collect()}
    assert len(out) == 10
    for k in range(1, 11):
        assert out[k]["n_docs"] == k
        assert out[k]["n_tokens"] == 2 * k
        assert out[k]["vocab"] == k + 1

    dup = spark.createDataFrame(
        [(i, "same old words", "en", "s", 14) for i in range(10)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    out2 = {r["decile"]: r for r in corpus_heaps_curve(dup).collect()}
    assert all(out2[k]["vocab"] == 3 for k in range(1, 11))
    assert out2[10]["n_tokens"] == 30


def test_dsir_ranks_target_like_docs_first(spark):
    """DSIR's defining property: a crawl doc sharing the target
    split's bigram features outweighs one that shares none, and only
    non-target docs are scored."""
    from tgres_spark.pipeline.textstats import dsir_select

    rows = [
        (100 + i, "red fox red fox red fox", "en", "src0", 1) for i in range(3)
    ] + [
        (1, "red fox red fox", "en", "src1", 1),
        (3, "blue whale blue whale", "en", "src1", 1),
        (5, "red fox blue whale", "en", "src2", 1),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    out = dsir_select(docs).collect()
    ids = [r["doc_id"] for r in out]
    assert set(ids) == {1, 3, 5}          # target docs never selected
    w = {r["doc_id"]: r["weight"] for r in out}
    assert w[1] > w[5] > w[3]             # more shared features = higher
    nf = {r["doc_id"]: r["n_feats"] for r in out}
    assert nf[1] == 3 and nf[3] == 3 and nf[5] == 3


def test_mm_audio_dedup_recall_and_twins(spark):
    """The audio near-dup bridge (last modality-matrix cell): (a)
    mm_audio_dedup must equal a brute-force all-pairs hamming scan
    over the per-chunk fingerprints aggregated to audio pairs, and
    (b) every planted twin audio surfaces with min_hamming 0 and
    n_chunk_matches >= its chunk count."""
    from pyspark.sql import functions as F

    from tgres_spark.pipeline.multimodal import (
        _KF_ID_BASE, _TWIN_OFFSET, mm_audio_dedup, phash_from_hex,
        synthesize_media,
    )

    rows = [(i, f"audio take {i} {'z' * (i % 11)}", "en", "s", 20)
            for i in range(120)]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    got = {(r["audio_a"], r["audio_b"]): (r["n_chunk_matches"], r["min_hamming"])
           for r in mm_audio_dedup(docs).collect()}

    media = synthesize_media(docs)
    auds = media.where(F.col("kind") == "audio")
    twins = auds.where(F.col("media_id") % 10 == 0).withColumn(
        "media_id", F.col("media_id") + _TWIN_OFFSET
    )
    ck = (
        auds.unionByName(twins)
        .select("media_id", F.lower(F.hex("payload")).alias("ah"))
        .select(
            "media_id",
            "ah",
            F.explode(F.sequence(F.lit(0), F.lit(3))).alias("chunk_idx"),
        )
        .select(
            "media_id",
            "chunk_idx",
            F.expr("substring(ah, chunk_idx * 16 + 1, 16)").alias("ch"),
        )
    )
    sig = {
        r["doc_id"]: [r[f"q{j}"] for j in range(4)]
        for r in phash_from_hex(
            ck.select(
                (F.col("media_id") * _KF_ID_BASE + F.col("chunk_idx"))
                .alias("media_id"),
                F.concat(F.md5("ch"), F.md5(F.reverse("ch"))).alias("h"),
            )
        ).collect()
    }
    ids = sorted(sig)
    expect: dict = {}
    n_ck: dict = {}
    for k in ids:
        n_ck[k // _KF_ID_BASE] = n_ck.get(k // _KF_ID_BASE, 0) + 1
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            h = sum(bin(sig[a][j] ^ sig[b][j]).count("1") for j in range(4))
            ua, ub = a // _KF_ID_BASE, b // _KF_ID_BASE
            if h <= 3 and ua != ub:
                n, m = expect.get((ua, ub), (0, 64))
                expect[(ua, ub)] = (n + 1, min(m, h))
    assert got == expect
    planted = [m for m in n_ck if m < _TWIN_OFFSET and m % 10 == 0 and m % 3 == 1]
    assert planted, "fixture must contain twinned audio"
    for m in planted:
        n, h = got[(m, m + _TWIN_OFFSET)]
        assert h == 0 and n >= n_ck[m]


def test_dsir_stream_scoring_matches_batch_and_handles_unseen(spark):
    """(a) Static application of the stream scorer reproduces the
    batch selector's weights on the same corpus (in-row micro6 fold ≡
    shuffled micro6 sum); (b) a genuinely NEW doc whose buckets appear
    in NEITHER split scores exactly n_feats · lr_unseen — the
    fallback path only live deployment (train on corpus A, score
    crawl B) exercises."""
    from pyspark.sql import functions as F

    from tgres_spark.pipeline.textstats import (
        dsir_model_row, dsir_score_stream, dsir_select,
    )

    rows = [
        (100 + i, "red fox red fox red fox", "en", "src0", 1) for i in range(3)
    ] + [
        (1, "red fox red fox", "en", "src1", 1),
        (3, "blue whale blue whale", "en", "src1", 1),
        (5, "red fox blue whale", "en", "src2", 1),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    model = dsir_model_row(docs)
    batch = {r["doc_id"]: r["weight"] for r in dsir_select(docs).collect()}
    crawl = docs.where(F.col("source") != "src0").select("doc_id", "text")
    stream_like = {
        r["doc_id"]: r["weight"]
        for r in dsir_score_stream(crawl, model).collect()
    }
    assert stream_like == batch

    new = spark.createDataFrame(
        [(999, "qqq www eee rrr")], "doc_id long, text string"
    )
    out = dsir_score_stream(new, model).collect()[0]
    lr_unseen = model.collect()[0]["lr_unseen"]
    import math

    exp = math.floor(lr_unseen * 1e6 + 0.5) * out["n_feats"] / 1e6
    assert out["n_feats"] == 3
    assert abs(out["weight"] - exp) < 1e-12


def test_boilerplate_strip_removes_cross_doc_chunks_only(spark):
    """Hand-computable corpus with k=4: a chunk shared by two docs is
    stripped from BOTH; a chunk duplicated only WITHIN one doc stays
    (cross-doc criterion); the <k-word tail is always kept and lands
    after the surviving chunks in original order."""
    from tgres_spark.pipeline.contamination import boilerplate_strip

    boiler = "b1 b2 b3 b4"          # shared by doc 0 and doc 1
    own = "o1 o2 o3 o4"             # only in doc 0 (twice!)
    docs = spark.createDataFrame(
        [
            (0, f"{own} {boiler} {own} t1 t2"),   # own ×2 + boiler + tail
            (1, f"{boiler} u1 u2 u3 u4"),         # boiler + own chunk
            (2, "v1 v2 v3"),                      # shorter than k: tail only
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in boilerplate_strip(docs, k=4).collect()}
    # doc 0: 3 chunks, boiler removed, both own copies kept, tail kept
    assert out[0]["n_chunks"] == 3 and out[0]["kept_chunks"] == 2
    assert abs(out[0]["removed_frac"] - 1.0 / 3.0) < 1e-12
    # doc 1: 2 chunks, boiler removed
    assert out[1]["n_chunks"] == 2 and out[1]["kept_chunks"] == 1
    # doc 2: no full chunk, tail only — nothing to remove
    assert out[2]["n_chunks"] == 0 and out[2]["kept_chunks"] == 0
    assert out[2]["removed_frac"] is None

    import hashlib

    def h(s):
        return hashlib.md5(s.encode()).hexdigest()

    assert out[0]["clean_hash"] == h(f"{own} {own} t1 t2")
    assert out[0]["clean_chars"] == len(f"{own} {own} t1 t2")
    assert out[1]["clean_hash"] == h("u1 u2 u3 u4")
    assert out[2]["clean_hash"] == h("v1 v2 v3")


def test_keep_best_selects_highest_quality_cluster_member(spark):
    """Three exact copies of a high-quality text (one cluster) plus a
    singleton: the cluster's keeper must be the member the quality
    score ranks first (all scores tie on identical text → lowest
    doc_id wins the deterministic tie-break), every member points at
    the same keeper_id, and the singleton keeps itself."""
    from pyspark.sql import functions as F

    from tgres_spark.pipeline.dedup import dedup_keep_best

    good = " ".join(f"the w{i} and" for i in range(20))  # 60 words, stops
    docs = spark.createDataFrame(
        [(7, good), (3, good), (9, good), (1, "zz qq")],
        "doc_id long, text string",
    ).withColumn("source", F.lit("s")).withColumn(
        "n_chars", F.length("text").cast("bigint")
    ).withColumn("lang", F.lit("en"))
    out = {r["doc_id"]: r for r in dedup_keep_best(docs).collect()}
    assert out[3]["keep"] and not out[7]["keep"] and not out[9]["keep"]
    assert {out[k]["keeper_id"] for k in (3, 7, 9)} == {3}
    assert out[3]["cluster_size"] == 3
    assert out[1]["keep"] and out[1]["keeper_id"] == 1
    assert out[1]["cluster_size"] == 1


def test_oov_rate_scores_held_out_split_against_even_vocab(spark):
    """Vocab comes from even doc_ids only (top-V by count, ties by
    word); odd docs are scored. With V=2 the even split's two dominant
    words are in-vocab and everything else in the odd split counts as
    OOV — hand-computable."""
    from pyspark.sql import functions as F

    from tgres_spark.pipeline.textstats import corpus_oov_rate

    rows = [
        (0, "aa aa bb bb cc", "en", "s1"),   # even: vocab counts
        (2, "aa bb", "en", "s1"),            # even
        (1, "aa bb cc dd", "en", "s1"),      # odd: 2 in-vocab, 2 oov
        (3, "dd dd", "en", "s2"),            # odd: all oov
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    ).withColumn("n_chars", F.length("text").cast("bigint"))
    out = {
        (r["lang"], r["source"]): r
        for r in corpus_oov_rate(docs, vocab_size=2).collect()
    }
    r1 = out[("en", "s1")]
    assert (r1["n_docs"], r1["tot_tokens"], r1["tot_oov"]) == (1, 4, 2)
    assert abs(r1["oov_rate"] - 0.5) < 1e-12
    r2 = out[("en", "s2")]
    assert (r2["tot_tokens"], r2["tot_oov"]) == (2, 2)
    assert r2["oov_rate"] == 1.0


def test_int8_recall_is_high_and_bounded(spark):
    """int8 max-abs quantization preserves cosine geometry almost
    exactly on well-scaled vectors: recall@k against the float
    baseline must be high (>= 0.8 mean on a random cloud) and every
    per-query recall in [0, 1]; a singleton query set with an exact
    duplicate must retrieve it at rank 1 in int8 space too."""
    import numpy as np

    from tgres_spark.pipeline.similarity import EMB_DIM, emb_quantize_recall

    rng = np.random.default_rng(11)
    x = rng.normal(0, 1.0, (60, EMB_DIM))
    x[13] = x[0]  # exact duplicate of query 0
    rows = [(i, [float(v) for v in x[i]], "l") for i in range(len(x))]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label string"
    )
    out = emb_quantize_recall(emb, n_queries=5, k=8).collect()
    assert len(out) == 5
    assert all(0.0 <= r["recall"] <= 1.0 for r in out)
    mean = sum(r["recall"] for r in out) / len(out)
    assert mean >= 0.8, mean


def test_prep_full_quality_gates_on_cleaned_text(spark):
    """The round-8 prep path judges quality AFTER boilerplate removal:
    two docs that FAIL the Gopher top-word-fraction rule on their raw
    text (a shared 16-'spam' boilerplate chunk dominates) must pass
    once the cross-doc chunk is stripped, and both survive to the
    training set with exactly their 40 unique tokens; gopher_filter on
    the RAW text rejects them (the prep_e2e ordering)."""
    from pyspark.sql import functions as F

    from tgres_spark.pipeline.prep import prep_full
    from tgres_spark.pipeline.textstats import gopher_filter

    boiler = " ".join(["spam"] * 16)
    body_a = " ".join(f"alpha{i:02d}" for i in range(40))
    body_b = " ".join(f"bravo{i:02d}" for i in range(40))
    rows = [
        (1, f"{boiler} {body_a}", "en", "s"),
        (2, f"{boiler} {body_b}", "en", "s"),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    ).withColumn("n_chars", F.length("text").cast("bigint"))
    raw_keep = {
        r["doc_id"]: r["keep"] for r in gopher_filter(docs).collect()
    }
    assert raw_keep == {1: False, 2: False}  # 16/56 spam > 0.14
    out = {r["doc_id"]: r for r in prep_full(docs).collect()}
    assert set(out) == {1, 2}
    assert all(out[k]["n_tokens"] == 40 for k in out)
    assert out[1]["root_id"] != out[2]["root_id"]  # not near-dups


def test_corpus_diversity_hand_computed(spark):
    """Exact checks on a two-source corpus: a uniform source (maximum
    diversity: simpson = 0 for all-distinct words) vs a degenerate
    one-word source (simpson = 1, shannon = 0)."""
    import math

    from pyspark.sql import functions as F

    from tgres_spark.pipeline.textstats import corpus_diversity

    rows = [
        (1, "aa bb cc dd", "en", "uni"),
        (2, "zz zz zz zz", "en", "mono"),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    ).withColumn("n_chars", F.length("text").cast("bigint"))
    out = {r["source"]: r for r in corpus_diversity(docs).collect()}
    u = out["uni"]
    assert (u["n_tokens"], u["n_types"]) == (4, 4) and u["ttr"] == 1.0
    assert u["simpson"] == 0.0
    assert abs(u["shannon"] - 2.0) < 1e-5  # 4 equiprobable words
    m = out["mono"]
    assert (m["n_tokens"], m["n_types"]) == (4, 1)
    assert m["simpson"] == 1.0 and m["shannon"] == 0.0
    assert math.isclose(m["ttr"], 0.25)


def test_mix_after_dedup_budgets_ignore_duplicate_tokens(spark):
    """A language inflated by exact duplicates must NOT buy budget
    with them: 'fr' has 3 identical docs (one keeper) while 'de' has 3
    distinct docs of the same size — after dedup both languages have
    equal keeper tokens, so their budgets must be EQUAL, where raw
    mix_temperature would give fr a larger one."""
    from pyspark.sql import functions as F

    from tgres_spark.pipeline.prep import mix_after_dedup

    fr = " ".join(f"lefr{i}" for i in range(30))
    rows = [(i, fr, "fr", "s") for i in range(3)] + [
        (10 + i, " ".join(f"dede{i}x{j}" for j in range(30)), "de", "s")
        for i in range(3)
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    ).withColumn("n_chars", F.length("text").cast("bigint"))
    out = mix_after_dedup(docs, total_tokens=60).collect()
    by_lang = {}
    for r in out:
        by_lang.setdefault(r["lang"], set()).add(r["budget"])
    assert len(by_lang["fr"]) == 1 and len(by_lang["de"]) == 1
    # fr keeper tokens = 30, de keeper tokens = 90 → de budget larger
    assert by_lang["de"].pop() > by_lang["fr"].pop()
    # only ONE fr doc (the keeper) can ever be selected
    fr_docs = {r["doc_id"] for r in out if r["lang"] == "fr"}
    assert len(fr_docs) <= 1


def test_band_sweep_nesting_and_duplicate_recall(spark):
    """Candidate sets must be nested (2x8 ⊆ 4x4 ⊆ 8x2 ⊆ 16x1 by band
    alignment), every layout must find an exact duplicate pair
    (J = 1.0 matches every band), and recall must be monotone
    non-decreasing with band count."""
    from pyspark.sql import functions as F

    from tgres_spark.pipeline.dedup import dedup_minhash_band_sweep

    base = " ".join(f"tok{i}" for i in range(40))
    rows = [
        (1, base, "en", "s"),
        (2, base, "en", "s"),                       # exact dup of 1
        (3, base.replace("tok3", "zzz"), "en", "s"),  # near dup
        (4, " ".join(f"other{i}" for i in range(40)), "en", "s"),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    ).withColumn("n_chars", F.length("text").cast("bigint"))
    out = {r["cfg"]: r for r in dedup_minhash_band_sweep(docs).collect()}
    assert set(out) == {"2x8", "4x4", "8x2", "16x1"}
    order = ["2x8", "4x4", "8x2", "16x1"]
    cands = [out[c]["n_candidates"] for c in order]
    assert cands == sorted(cands)  # nesting → monotone volume
    recalls = [out[c]["recall"] for c in order]
    assert all(r is not None for r in recalls)
    assert recalls == sorted(recalls)  # more bands, never less recall
    assert all(out[c]["n_hits"] >= 1 for c in order)  # the exact dup
    assert out["16x1"]["n_true_pairs"] >= 1


def test_trigram_lm_backoff_levels_hand_computed(spark):
    """Three-level scoring on a handcrafted split: a scored trigram
    seen verbatim in the reference uses the trigram branch (backoff
    fractions 0), one with only its (w2,w3) bigram known uses the
    bigram branch, and wholly novel vocabulary hits the double-backoff
    Laplace floor — fractions and finiteness pinned."""
    import math

    from pyspark.sql import functions as F

    from tgres_spark.pipeline.textstats import text_trigram_lm

    rows = [
        (0, "a b c d", "en", "s"),          # reference split
        (1, "a b c", "en", "s"),            # trigram (a,b,c) seen
        (3, "x b c", "en", "s"),            # only (b,c) bigram seen
        (5, "q r s", "en", "s"),            # nothing seen
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    ).withColumn("n_chars", F.length("text").cast("bigint"))
    out = {r["doc_id"]: r for r in text_trigram_lm(docs).collect()}
    assert out[1]["n_trigrams"] == 1
    assert out[1]["bi_backoff_frac"] == 0.0
    assert out[1]["uni_backoff_frac"] == 0.0
    assert abs(out[1]["avg_logp"] - 0.0) < 1e-9  # c(abc)=1 / c(ab)=1
    assert out[3]["bi_backoff_frac"] == 1.0
    # 0.4 * c(bc)/c(b) = 0.4 * 1/1
    assert abs(out[3]["avg_logp"] - math.log10(0.4)) < 1e-5
    assert out[5]["uni_backoff_frac"] == 1.0
    # 0.16 * (0+1)/(tot=4 + vocab=4)
    assert abs(out[5]["avg_logp"] - math.log10(0.16 / 8.0)) < 1e-5
    assert all(math.isfinite(r["avg_logp"]) for r in out.values())


def test_dedup_incremental_matches_full_rerun(spark, tmp_path):
    """incremental ∪ index ≡ full-corpus rerun: deduping a new-crawl
    increment against the persisted signature index of the existing
    corpus must produce exactly the pairs a full dedup_minhash_lsh
    rerun would report for those docs — same pairs, same est_sim —
    with cross_corpus flagging which partner sat in the index."""
    from pyspark.sql import functions as F

    from tgres_spark.pipeline.dedup import (
        dedup_incremental,
        dedup_minhash_lsh,
        minhash_signatures,
    )

    a = "the quick brown fox jumps over the lazy dog again and again today"
    b = "the quick brown fox jumps over the lazy dog again and again tonight"
    c = "completely different content about spark shuffles and parquet files"
    rows = [
        (1, a, "en"), (2, a, "en"), (3, b, "en"), (4, c, "en"),
        (10, a, "en"), (11, c + " plus a tail", "en"),  # the increment
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    inc_ids = {10, 11}
    existing = docs.where(~F.col("doc_id").isin(*inc_ids))
    increment = docs.where(F.col("doc_id").isin(*inc_ids))

    idx = tmp_path / "index"
    minhash_signatures(existing).write.parquet(str(idx))
    got = {
        (r["doc_a"], r["doc_b"]): (r["est_sim"], r["cross_corpus"])
        for r in dedup_incremental(spark, str(idx), increment).collect()
    }
    want = {
        (r["doc_a"], r["doc_b"]): (
            r["est_sim"],
            (r["doc_a"] in inc_ids) != (r["doc_b"] in inc_ids),
        )
        for r in dedup_minhash_lsh(docs).collect()
        if r["doc_a"] in inc_ids or r["doc_b"] in inc_ids
    }
    assert got == want
    # doc 10 is an exact dup of indexed 1 and 2 — the case the
    # operator exists for must actually occur in the fixture
    assert got[(1, 10)] == (1.0, True) and got[(2, 10)] == (1.0, True)


def test_bpe_merge2_matches_reference_algorithm(spark):
    """corpus_bpe_merge2 == two steps of the published BPE trainer,
    computed independently here in plain Python: round-1 argmax by
    (weight desc, pair asc), greedy left-to-right apply over each
    vocab word, round-2 adjacent-pair recount. The merged token must
    appear inside round-2 pairs (the whole point of composing)."""
    from collections import Counter

    from pyspark.sql import functions as F

    from tgres_spark.pipeline.textstats import corpus_bpe_merge2

    text = "lower lowest low low lower newer new"
    docs = spark.createDataFrame(
        [(1, text, "en", "s", len(text))],
        "doc_id long, text string, lang string, source string, n_chars long",
    )

    vocab = Counter(text.split())
    def pairs_of(syms):
        return [f"{syms[i]} {syms[i+1]}" for i in range(len(syms) - 1)]

    state = {w: list(w) + ["</w>"] for w in vocab}
    w1 = Counter()
    for w, c in vocab.items():
        for p in pairs_of(state[w]):
            w1[p] += c
    top = min(w1.items(), key=lambda kv: (-kv[1], kv[0]))[0]
    a, b = top.split(" ")
    for w in state:
        out, i = [], 0
        s = state[w]
        while i < len(s):
            if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(s[i])
                i += 1
        state[w] = out
    w2, nw2 = Counter(), Counter()
    for w, c in vocab.items():
        ps = pairs_of(state[w])
        for p in ps:
            w2[p] += c
        for p in set(ps):
            nw2[p] += 1
    want = sorted(
        ((p, nw2[p], c) for p, c in w2.items()),
        key=lambda r: (-r[2], r[0]),
    )[:50]

    got = corpus_bpe_merge2(docs).collect()
    assert all(r["merged_pair"] == top for r in got)
    assert [(r["pair"], r["n_words"], r["weight"]) for r in got] == want
    # the merged token participates in round-2 pairs
    merged_tok = a + b
    assert any(merged_tok in r["pair"].split(" ") for r in got)


def test_bpe_merge3_matches_reference_algorithm(spark):
    """corpus_bpe_merge3 == THREE steps of the published BPE trainer
    run independently in plain Python (argmax -> greedy apply, twice,
    then a third recount); both winners must condition the output and
    the round-2 token participates in round-3 pairs."""
    from collections import Counter

    from tgres_spark.pipeline.textstats import corpus_bpe_merge3

    text = "lower lowest low low lower newer new newest widest wide"
    docs = spark.createDataFrame(
        [(1, text, "en", "s", len(text))],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    vocab = Counter(text.split())

    def pairs_of(syms):
        return [f"{syms[i]} {syms[i+1]}" for i in range(len(syms) - 1)]

    def apply_merge(state, top):
        a, b = top.split(" ")
        for w in state:
            out, i, s = [], 0, state[w]
            while i < len(s):
                if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            state[w] = out

    def top_pair(state):
        c = Counter()
        for w, n in vocab.items():
            for p in pairs_of(state[w]):
                c[p] += n
        return min(c.items(), key=lambda kv: (-kv[1], kv[0]))[0]

    state = {w: list(w) + ["</w>"] for w in vocab}
    top1 = top_pair(state)
    apply_merge(state, top1)
    top2 = top_pair(state)
    apply_merge(state, top2)
    w3, nw3 = Counter(), Counter()
    for w, n in vocab.items():
        ps = pairs_of(state[w])
        for p in ps:
            w3[p] += n
        for p in set(ps):
            nw3[p] += 1
    want = sorted(
        ((p, nw3[p], c) for p, c in w3.items()), key=lambda r: (-r[2], r[0])
    )[:50]

    got = corpus_bpe_merge3(docs).collect()
    assert all(r["merged_pair"] == top1 for r in got)
    assert all(r["merged_pair2"] == top2 for r in got)
    assert [(r["pair"], r["n_words"], r["weight"]) for r in got] == want
    tok2 = top2.replace(" ", "")
    assert any(tok2 in r["pair"].split(" ") for r in got)


def test_mm_text_image_pairs_retrieves_planted_twin(spark):
    """Cross-modal retrieval sanity: a text-tower vector identical to
    an image-tower vector must retrieve it at rank 1 with cos ~1 and
    agree with the exact baseline; recall is the per-text fraction of
    bucketed top-k pairs confirmed by the exact top-k."""
    import numpy as np
    from tgres_spark.pipeline.similarity import mm_text_image_pairs

    rng = np.random.default_rng(7)
    rows = []
    base = rng.standard_normal(64).round(6)
    for vid in range(40):
        if vid == 1:  # text twin of image 0
            v = base
        elif vid == 0:
            v = base
        else:
            v = rng.standard_normal(64).round(6)
        rows.append((vid, [float(x) for x in v]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = mm_text_image_pairs(emb, n_queries=5, k=3).collect()
    assert all(r["text_id"] % 2 == 1 and r["image_id"] % 2 == 0 for r in out)
    top1 = {r["text_id"]: r for r in out if r["rank"] == 1}
    assert top1[1]["image_id"] == 0
    assert abs(top1[1]["cos"] - 1.0) < 1e-9
    assert top1[1]["in_exact"]
    # recall column is consistent with the in_exact flags per text
    from collections import defaultdict

    hits = defaultdict(int)
    for r in out:
        hits[r["text_id"]] += bool(r["in_exact"])
    for r in out:
        assert abs(r["recall"] - hits[r["text_id"]] / 3.0) < 1e-12


def test_kenlm_proxy_ranks_agree_with_trigram_lm(spark):
    """The hashed 5-gram proxy must rank fixture docs in the same
    order as the exact trigram LM: a verbatim repeat of reference
    text scores highest (all levels seen, avg_logp near 0), a
    part-novel doc sits between, pure gibberish scores lowest via the
    Laplace floor (bo1_frac = 1)."""
    from pyspark.sql import functions as F

    from tgres_spark.pipeline.textstats import text_kenlm_proxy, text_trigram_lm

    ref = "the quick brown fox jumps over the lazy dog near the old river bank"
    rows = [
        (0, ref, "en", "s"),                       # reference split
        (1, ref, "en", "s"),                       # verbatim repeat
        (3, "the quick brown fox jumps over zorp glak trul vex min", "en", "s"),
        (5, "zzq wvx jkl pqm rty uio asd fgh bnm cvz", "en", "s"),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    ).withColumn("n_chars", F.length("text").cast("bigint"))

    kp = {r["doc_id"]: r for r in text_kenlm_proxy(docs).collect()}
    tg = {r["doc_id"]: r for r in text_trigram_lm(docs).collect()}

    order_kp = sorted((1, 3, 5), key=lambda d: -kp[d]["avg_logp"])
    order_tg = sorted((1, 3, 5), key=lambda d: -tg[d]["avg_logp"])
    assert order_kp == order_tg == [1, 3, 5]
    # the verbatim repeat never backs off; gibberish always hits the
    # Laplace floor
    assert kp[1]["bo4_frac"] == kp[1]["bo3_frac"] == kp[1]["bo1_frac"] == 0.0
    assert abs(kp[1]["avg_logp"]) < 0.5  # ratios of its own counts
    assert kp[5]["bo1_frac"] == 1.0


def test_containment_catches_subdocument_jaccard_misses(spark):
    """The asymmetric case containment dedup exists for: a short doc
    quoted whole inside a much larger page has LOW Jaccard (below any
    symmetric dedup threshold) but containment ~1.0 — and the 16x1
    single-component candidate pass must surface the pair."""
    from pyspark.sql import functions as F

    from tgres_spark.pipeline.dedup import dedup_containment

    short = "alpha beta gamma delta epsilon zeta eta theta"
    filler = " ".join(f"word{i} token{i} item{i}" for i in range(30))
    rows = [
        (1, short, "en", "s", len(short)),
        (2, short + " " + filler, "en", "s", 10),  # contains doc 1
        (3, "entirely different content " + filler[::-1], "en", "s", 10),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    out = {(r["doc_a"], r["doc_b"]): r for r in dedup_containment(docs).collect()}
    assert (1, 2) in out
    r = out[(1, 2)]
    assert r["cont_a"] == 1.0          # every shingle of 1 is in 2
    assert r["jaccard"] < 0.5          # symmetric dedup would keep both
    assert r["max_cont"] == 1.0
    assert (1, 3) not in out and (2, 3) not in out


def test_ivf_refresh_consistent_with_assignment(spark):
    """ann_ivf_refresh must be exactly the per-cell fold of
    ann_ivf_assign split on the increment rule: counts match, means
    are the micro6-quantized per-cell means, drift their difference."""
    import numpy as np

    from tgres_spark.pipeline.similarity import ann_ivf_assign, ann_ivf_refresh

    rng = np.random.default_rng(11)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in rng.standard_normal(64).round(6)])
         for i in range(60)],
        "vec_id long, embedding array<double>",
    )
    asg = ann_ivf_assign(emb).collect()
    ref = {r["cell"]: r for r in ann_ivf_refresh(emb).collect()}

    from collections import defaultdict

    agg = defaultdict(lambda: [0, 0, 0, 0])  # n_old, n_new, d_old6, d_new6
    for r in asg:
        q6 = int(np.floor(r["dist"] * 1e6 + 0.5))
        if r["vec_id"] % 5 == 0:
            agg[r["cell"]][1] += 1
            agg[r["cell"]][3] += q6
        else:
            agg[r["cell"]][0] += 1
            agg[r["cell"]][2] += q6
    assert set(agg) == set(ref)
    for cell, (no, nn, d6o, d6n) in agg.items():
        r = ref[cell]
        assert (r["n_old"], r["n_new"]) == (no, nn)
        mo = d6o / 1e6 / no if no else None
        mn = d6n / 1e6 / nn if nn else None
        if mo is not None:
            assert abs(r["mean_dist_old"] - mo) < 1e-12
        if mn is not None:
            assert abs(r["mean_dist_new"] - mn) < 1e-12
        if mo is not None and mn is not None:
            assert abs(r["drift"] - (mn - mo)) < 1e-12


def test_incremental_components_traverse_old_edges(spark, tmp_path):
    """The case the assignment-as-edges equivalence exists for: a NEW
    doc whose only direct pair is a NON-ROOT member of an existing
    component must still land on that component's root — reachable
    only through the persisted (member → root) edge, since the old
    pair relation is never recomputed. Also pins got ≡ full rerun."""
    from pyspark.sql import functions as F

    from tgres_spark.pipeline.dedup import (
        dedup_components,
        dedup_incremental_components,
        dedup_minhash_lsh,
        minhash_signatures,
        propagate_components,
    )

    a = "the quick brown fox jumps over the lazy dog again and again today"
    a2 = a.replace("today", "tonight")
    b = "completely different content about spark shuffles and parquet files"
    rows = [(1, a), (2, a2), (3, b), (10, "x " + a2)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    existing = docs.where(F.col("doc_id") < 10)
    increment = docs.where(F.col("doc_id") >= 10)
    # measured on this fixture: (1,2) est 0.875 and (2,10) est 0.875
    # band-collide; (1,10) collides on NO band — so the increment's
    # only direct pair is (2, 10) and root 1 is reachable only
    # through the persisted 2 -> 1 assignment edge
    thr = 0.5

    minhash_signatures(existing).write.parquet(str(tmp_path / "idx"))
    dedup_components(existing, threshold=thr).write.parquet(
        str(tmp_path / "roots")
    )
    direct = {
        (r["doc_a"], r["doc_b"])
        for r in dedup_minhash_lsh(docs)
        .where(F.col("est_sim") >= thr)
        .collect()
        if 10 in (r["doc_a"], r["doc_b"])
    }
    assert direct == {(2, 10)}, direct

    got = {
        r["doc_id"]: r["root_id"]
        for r in dedup_incremental_components(
            spark, str(tmp_path / "idx"), str(tmp_path / "roots"), increment,
            threshold=thr,
        ).collect()
    }
    # 10 reaches root 1 ONLY via the persisted 2 -> 1 edge
    assert got[10] == 1 and got[2] == 1 and got[3] == 3

    full_pairs = dedup_minhash_lsh(docs).where(F.col("est_sim") >= thr)
    want = {
        r["doc_id"]: r["root_id"]
        for r in propagate_components(
            docs.select("doc_id"), full_pairs.select("doc_a", "doc_b")
        ).collect()
    }
    assert got == want


def test_snapshot_diff_statuses_hand_computed(spark):
    """added/removed/changed/unchanged and the char delta on a
    four-doc fixture with one of each status."""
    from tgres_spark.pipeline.textstats import corpus_snapshot_diff

    old = spark.createDataFrame(
        [(1, "keep me", "s"), (2, "edit me", "s"), (3, "drop me", "s")],
        "doc_id long, text string, source string",
    )
    new = spark.createDataFrame(
        [(1, "keep me", "s"), (2, "edit me now", "s"), (4, "new doc!", "s")],
        "doc_id long, text string, source string",
    )
    r = corpus_snapshot_diff(old, new).collect()
    assert len(r) == 1
    row = r[0]
    assert (row["n_added"], row["n_removed"], row["n_changed"],
            row["n_unchanged"]) == (1, 1, 1, 1)
    # delta: +len('new doc!')=8 -len('drop me')=7 +(11-7)=4 → +5
    assert row["chars_delta"] == 5


def test_prep_funnel_monotone_and_consistent_with_prep_full(spark):
    """The funnel's doc counts are non-increasing stage to stage, raw
    counts match the corpus, and the final stage equals prep_full's
    surviving set (same machinery, same composition)."""
    from tgres_spark.pipeline.prep import prep_full, prep_funnel

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    )
    f = {r["stage"]: r for r in prep_funnel(docs).collect()}
    assert list(sorted(f)) == ["0_raw", "1_cleaned", "2_gopher", "3_dedup"]
    assert f["0_raw"]["n_docs"] == docs.count()
    assert (
        f["0_raw"]["n_docs"]
        >= f["1_cleaned"]["n_docs"]
        >= f["2_gopher"]["n_docs"]
        >= f["3_dedup"]["n_docs"]
        > 0
    )
    # cleaning only removes text, never adds
    assert f["1_cleaned"]["n_tokens"] <= f["0_raw"]["n_tokens"]
    # the final stage is exactly prep_full's survivor set
    assert f["3_dedup"]["n_docs"] == prep_full(docs).count()


def test_attribution_models_hand_computed(spark, tmp_path):
    """Three attribution models on a hand-traced event stream: user 1
    has touches view(t1), click(t2) before purchase(t3) — first=view,
    last=click, linear ½ each; user 2's only touch is outside the
    lookback (no credit); a touch AFTER the last purchase credits
    nothing."""
    import tgres_spark.tpch as T

    rows = [
        # user 1: view -> click -> purchase
        (1, "2024-01-01 10:00:00", 1, "view", 1.0, "{}"),
        (2, "2024-01-01 11:00:00", 1, "click", 1.0, "{}"),
        (3, "2024-01-01 12:00:00", 1, "purchase", 9.0, "{}"),
        # user 2: touch 5 days before purchase (outside 3d lookback)
        (4, "2024-01-01 00:00:00", 2, "view", 1.0, "{}"),
        (5, "2024-01-06 00:00:00", 2, "purchase", 9.0, "{}"),
        # user 3: touch after their only purchase -> no conversion ahead
        (6, "2024-01-02 00:00:00", 3, "purchase", 9.0, "{}"),
        (7, "2024-01-03 00:00:00", 3, "click", 1.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts string, user_id long, event_type string, "
        "value double, props string",
    )
    from pyspark.sql import functions as F

    df = df.withColumn("ts", F.to_timestamp("ts"))
    p = str(tmp_path / "events.parquet")
    df.write.parquet(p)
    out = {
        r["channel"]: r
        for r in T.events_attribution(spark, str(tmp_path)).collect()
    }
    assert set(out) == {"view", "click"}
    assert (out["view"]["n_first"], out["view"]["n_last"]) == (1, 0)
    assert (out["click"]["n_first"], out["click"]["n_last"]) == (0, 1)
    assert abs(out["view"]["linear_credit"] - 0.5) < 1e-9
    assert abs(out["click"]["linear_credit"] - 0.5) < 1e-9


def test_pca_projection_matches_numpy(spark):
    """pc1 = (x − μ)·v₂ with v₂ the Spark-computed two-step power
    iterate: cross-check every projection against numpy, and pin the
    centering property (mean of projections ≈ 0)."""
    import numpy as np

    from tgres_spark.pipeline.similarity import emb_pca_project, emb_power_iter2

    rng = np.random.default_rng(3)
    X = rng.standard_normal((40, 64)).round(6)
    X[:, 0] *= 5.0  # a dominant direction so v2 is well-defined
    emb = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(40)],
        "vec_id long, embedding array<double>",
    )
    v2 = np.array(
        [r["v2"] for r in sorted(emb_power_iter2(emb).collect(),
                                 key=lambda r: r["i"])]
    )
    mu = X.mean(axis=0)
    want = (X - mu) @ v2
    got = {r["vec_id"]: r["pc1"] for r in emb_pca_project(emb).collect()}
    for i in range(40):
        assert abs(got[i] - want[i]) < 1e-6, (i, got[i], want[i])
    assert abs(sum(got.values())) < 1e-6 * 40
    # the dominant axis should carry most of the direction
    assert abs(v2[0]) > 0.9


def test_simhash_sweep_radius_curve(spark, docs):
    """Identical docs sit at radius 0 with exact Jaccard 1.0 and the
    unrelated doc never appears; on the shared fixture the cumulative
    counts are monotone in the radius (it's a CDF of hamming)."""
    from tgres_spark.pipeline.dedup import dedup_simhash_sweep

    a = "the quick brown fox jumps over the lazy dog again and again today"
    c = "completely different content about spark shuffles and parquet files"
    twins = spark.createDataFrame(
        [(1, a, "en", "s", 1), (2, a, "en", "s", 1), (3, c, "en", "s", 1)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    out = {r["radius"]: r for r in dedup_simhash_sweep(twins).collect()}
    assert sorted(out) == [0, 1, 2, 3]
    assert out[0]["n_pairs"] == 1 and out[0]["n_docs"] == 2
    assert out[0]["mean_jaccard"] == 1.0
    assert out[3]["n_pairs"] == 1  # the unrelated doc stays outside r=3
    sweep = sorted(
        dedup_simhash_sweep(docs).collect(), key=lambda r: r["radius"]
    )
    for prev, cur in zip(sweep, sweep[1:]):
        assert cur["n_pairs"] >= prev["n_pairs"]
        assert cur["n_docs"] >= prev["n_docs"]


def test_url_canonical_dedup_clusters_recrawls(spark):
    """Hand-computed canonicalization: case noise, :443, trailing
    slash, fragments and utm_* params all normalize away; surviving
    params sort; recrawls of the same page (same source, doc_id % 97,
    doc_id % 3) collapse to one keeper."""
    from tgres_spark.pipeline.dedup import dedup_url_canonical

    ids = [0, 582, 1164, 3, 97]  # 0/582/1164 share (s, 0 mod 97, 0 mod 3)
    rows = [(i, "t", "en", "s", 1) for i in ids]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    out = {r["doc_id"]: r for r in dedup_url_canonical(docs).collect()}
    # doc 0: HTTPS://S.example.com:443/p/0/?utm_source=rss&page=0#s0
    assert out[0]["canon_url"] == "https://s.example.com/p/0?page=0"
    assert out[0]["keeper_id"] == 0 and out[0]["is_dup"] == 0
    for d in (582, 1164):
        assert out[d]["canon_url"] == out[0]["canon_url"]
        assert out[d]["keeper_id"] == 0 and out[d]["is_dup"] == 1
    # doc 3: odd, %3==0 -> case noise but distinct page path (3 mod 97)
    assert out[3]["canon_url"] == "https://s.example.com/p/3?page=0"
    assert out[3]["is_dup"] == 0
    # doc 97: same path bucket as 0 but page param differs (97 % 3 = 1)
    assert out[97]["canon_url"] == "https://s.example.com/p/0?page=1"
    assert out[97]["is_dup"] == 0


def test_quality_psi_zero_on_identical_and_positive_on_shift(spark):
    """PSI of a snapshot against itself is exactly 0 in every bin;
    replacing half the corpus with junk text moves psi_total > 0, and
    the per-bin Laplace shares always sum to 1 (densified bins)."""
    from tgres_spark.pipeline.textstats import corpus_quality_psi

    good = (
        "the quick brown fox jumps over the lazy dog and then the dog "
        "sleeps in the sun while the fox runs to the river and back"
    )
    junk = "@@@ ### $$$ %%% ^^^ &&& *** !!! ??? ;;; ::: ~~~"
    rows = [(i, good, "en", "s", 1) for i in range(20)]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    same = corpus_quality_psi(docs, docs).collect()
    assert len(same) == 10
    for r in same:
        assert r["psi_term"] == 0.0 and r["psi_total"] == 0.0
    assert abs(sum(r["p_old"] for r in same) - 1.0) < 1e-12
    shifted_rows = rows[:10] + [(i, junk, "en", "s", 1) for i in range(10, 20)]
    shifted = spark.createDataFrame(
        shifted_rows,
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    drift = corpus_quality_psi(docs, shifted).collect()
    assert drift[0]["psi_total"] > 0.1  # half the corpus changed decile
    assert all(r["psi_total"] == drift[0]["psi_total"] for r in drift)


def test_quality_sweep_survival_curve(spark):
    """The sweep is a survival CDF: doc/token shares are monotone
    nonincreasing in the cutoff, cutoff 0.1 keeps everything on a
    clean corpus, and the relation folds the same per-doc (prob, ntok)
    signals quality_model/text_tokens expose."""
    from tgres_spark.pipeline.textstats import (
        pipeline_quality_sweep, quality_model,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    rows = sorted(
        pipeline_quality_sweep(docs).collect(), key=lambda r: r["cutoff"]
    )
    assert [r["cutoff"] for r in rows] == [0.1, 0.3, 0.5, 0.7, 0.9]
    for prev, cur in zip(rows, rows[1:]):
        assert cur["n_kept"] <= prev["n_kept"]
        assert cur["tokens_kept"] <= prev["tokens_kept"]
    probs = [r["prob"] for r in quality_model(docs).collect()]
    assert rows[0]["n_kept"] == sum(p >= 0.1 for p in probs)
    assert rows[2]["n_kept"] == sum(p >= 0.5 for p in probs)
    assert rows[0]["doc_share"] <= 1.0 and rows[0]["token_share"] <= 1.0


def test_mix_excess_loss_upweights_hard_domain(spark):
    """DoReMi's defining property: with equal token budgets, the
    domain scoring WORSE under the reference LM takes the larger
    weight; weights normalize to 1 and a zero-excess domain keeps
    weight proportional to its base share."""
    from tgres_spark.pipeline.prep import mix_excess_loss

    easy = "a b a b a b a b a b a b"
    hard = "q9 z8 k7 j6 x5 v4 w3 m2 n1 p0 r9 t8"
    rows = []
    for i in range(6):  # even ids train the reference LM
        rows.append((i * 2, easy, "en", "easy", 1))
    for i in range(6):  # odd ids are scored; 3 per source
        rows.append((i * 2 + 1, easy if i < 3 else hard, "en",
                     "easy" if i < 3 else "hard", 1))
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    out = {r["source"]: r for r in mix_excess_loss(docs).collect()}
    assert abs(sum(r["weight"] for r in out.values()) - 1.0) < 1e-9
    assert out["hard"]["excess"] > 0.0
    assert out["hard"]["weight"] > out["hard"]["base_share"]
    assert out["easy"]["weight"] < out["easy"]["base_share"]


def test_readability_hand_computed_flesch(spark):
    """'the cat. ran far!' = 4 words, 2 sentences, 4 vowel groups ->
    flesch 206.835 - 1.015*2 - 84.6*1 = 120.205; a no-punctuation
    polysyllabic doc floors sentences at 1 and counts vowel GROUPS
    (\"education\" = e|u|a|io = 4)."""
    from tgres_spark.pipeline.textstats import text_readability

    rows = [
        (1, "the cat. ran far!", "en", "s", 1),
        (2, "education", "en", "s", 1),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    out = {r["doc_id"]: r for r in text_readability(docs).collect()}
    r1 = out[1]
    assert (r1["n_words"], r1["n_sentences"], r1["n_syllables"]) == (4, 2, 4)
    assert abs(r1["flesch"] - 120.205) < 1e-9
    r2 = out[2]
    assert (r2["n_words"], r2["n_sentences"], r2["n_syllables"]) == (1, 1, 4)


def test_source_overlap_catches_mirror_and_subset(spark):
    """A full mirror pairs at jaccard 1.0; a source whose only doc is
    copied inside a larger source's doc shows the asymmetric
    containment signal (cont small-side ~1, jaccard well below)."""
    from tgres_spark.pipeline.textstats import corpus_source_overlap

    base = " ".join(f"w{i}" for i in range(30))
    big = base + " " + " ".join(f"extra{i}" for i in range(40))
    rows = [
        (1, base, "en", "mirror_a", 1),
        (2, base, "en", "mirror_b", 1),      # exact mirror of mirror_a
        (3, big, "en", "host", 1),           # contains base wholly
        (4, " ".join(f"z{i}" for i in range(30)), "en", "lonely", 1),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    out = {
        (r["src_a"], r["src_b"]): r
        for r in corpus_source_overlap(docs).collect()
    }
    m = out[("mirror_a", "mirror_b")]
    assert m["jaccard"] == 1.0 and m["cont_a"] == 1.0 and m["cont_b"] == 1.0
    h = out[("host", "mirror_a")]
    assert h["cont_b"] == 1.0          # mirror_a lives wholly inside host
    assert h["jaccard"] < 0.5          # but symmetric overlap is small
    assert not any("lonely" in k for k in out)  # no shared grams at all


def test_lang_confusion_matrix_counts_and_shares(spark):
    """Hand-built corpus: 2 English docs classified en, 1 German doc
    classified de, 1 doc DECLARED de but written in English (the
    mislabeled-metadata case the matrix exists to catch), 1 markerless
    doc -> und."""
    from tgres_spark.pipeline.textstats import corpus_lang_confusion

    en = "the cat and the dog of the house went to sleep in the barn"
    de = "der hund und die katze das haus ist gross und der baum ist alt"
    rows = [
        (1, en, "en", "s", 1),
        (2, en + " again", "en", "s", 1),
        (3, de, "de", "s", 1),
        (4, en, "de", "s", 1),            # mislabeled
        (5, "zz yy xx ww vv uu", "en", "s", 1),  # no markers -> und
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    got = {
        (r["lang"], r["pred_lang"]): (r["n"], r["share"])
        for r in corpus_lang_confusion(docs).collect()
    }
    assert got[("en", "en")] == (2, 2 / 3)
    assert got[("en", "und")] == (1, 1 / 3)
    assert got[("de", "de")] == (1, 0.5)
    assert got[("de", "en")] == (1, 0.5)
    assert len(got) == 4


def test_token_gini_known_distributions(spark):
    """Sorted-rank Gini identity on hand-computed distributions: an
    all-equal source scores exactly 0; token counts [1,2,3,4,10]
    score (2*80 - 6*20)/(5*20) = 0.4."""
    from tgres_spark.pipeline.textstats import corpus_token_gini

    def doc(i, src, k):
        return (i, " ".join(f"w{j}" for j in range(k)), "en", src, k)

    rows = [doc(0, "eq", 3), doc(1, "eq", 3), doc(2, "eq", 3)]
    for i, k in enumerate([1, 2, 3, 4, 10]):
        rows.append(doc(10 + i, "skew", k))
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    out = {r["source"]: r for r in corpus_token_gini(docs).collect()}
    assert out["eq"]["gini"] == 0.0
    assert out["eq"]["total_tokens"] == 9 and out["eq"]["n_docs"] == 3
    assert abs(out["skew"]["gini"] - 0.4) < 1e-12
    assert out["skew"]["total_tokens"] == 20


def test_triplet_mining_batch_hard_rule(spark):
    """Hand-built geometry: the hardest positive is the LEAST similar
    same-label vector, the hardest negative the MOST similar
    other-label vector, and semi_hard flags exactly the
    cos_neg < cos_pos < cos_neg + alpha band."""
    import math

    from tgres_spark.pipeline.similarity import emb_triplet_mining

    def vec(theta):
        return [math.cos(theta), math.sin(theta)] + [0.0] * 62

    rows = [
        # anchor 0 at angle 0, label 0
        (0, vec(0.0), 0),
        # positives: cos 0.9-ish and cos 0.5-ish -> hardest = id 2
        (1, vec(0.2), 0),
        (2, vec(1.0), 0),
        # negatives: cos(0.4) > cos(-0.9) -> hardest = id 3 (and id 4
        # stays far from anchor 5 so it never outbids id 7 there)
        (3, vec(0.4), 1),
        (4, vec(-0.9), 1),
        # anchor 5 at angle pi/2, label 2: one positive barely closer
        # than the best negative -> semi-hard triplet
        (5, vec(math.pi / 2), 2),
        (6, vec(math.pi / 2 + 0.30), 2),     # cos_pos = cos(0.30)
        (7, vec(math.pi / 2 + 0.32), 3),     # cos_neg = cos(0.32)
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    out = {
        r["anchor_id"]: r
        for r in emb_triplet_mining(emb, n_anchors=6, alpha=0.05).collect()
    }
    a0 = out[0]
    assert (a0["pos_id"], a0["neg_id"]) == (2, 3)
    assert abs(a0["cos_pos"] - math.cos(1.0)) < 1e-9
    assert abs(a0["cos_neg"] - math.cos(0.4)) < 1e-9
    assert a0["semi_hard"] == 0  # negative is closer than the positive
    a5 = out[5]
    assert (a5["pos_id"], a5["neg_id"]) == (6, 7)
    assert a5["cos_pos"] > a5["cos_neg"]
    assert a5["margin"] < 0.05 and a5["semi_hard"] == 1
    # anchors 1-4 mine too (labels 0/1 both have >= 2 members)
    assert set(out) == {0, 1, 2, 3, 4, 5}


def test_minhash_k_sweep_error_shrinks_with_k(spark, docs):
    """Estimator variance is J(1-J)/k: on the same candidate pairs,
    k=16 must not be less accurate than k=4 (rmse nonincreasing in k
    up to quantization), identical pairs estimate 1.0 at every k, and
    the exact-Jaccard column is k-invariant."""
    from tgres_spark.pipeline.dedup import dedup_minhash_k_sweep

    rows = {r["k"]: r for r in dedup_minhash_k_sweep(docs).collect()}
    assert sorted(rows) == [4, 8, 16]
    n = {r["n_pairs"] for r in rows.values()}
    assert len(n) == 1  # same candidate domain at every k
    j = {round(r["mean_jaccard"], 9) for r in rows.values()}
    assert len(j) == 1  # exact Jaccard doesn't depend on k
    assert rows[16]["rmse"] <= rows[4]["rmse"] + 1e-9
    # docs fixture: 1 and 2 are identical -> their pair estimates 1.0
    # at every k, so mean_est >= mean of a distribution containing 1.0
    for r in rows.values():
        assert 0.0 <= r["mean_abs_err"] <= 1.0


def test_scene_cuts_fire_exactly_at_scene_boundaries(spark):
    """With 30-frame keyframe stride and 60-frame synthesized scenes,
    every within-scene consecutive pair is hamming 0 / no cut and
    every cross-boundary pair is a cut; boundaries are exactly the
    frame indices that are multiples of 60."""
    from tgres_spark.pipeline.multimodal import mm_scene_cuts

    # doc_id % 3 == 2 -> video; n_frames = doc_id % 300 + 1
    # doc 152 -> 153 frames -> keyframes 0,30,...,150 -> scenes 0..2
    docs = spark.createDataFrame(
        [(152, "some video content here", "en", "s", 1)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    rows = sorted(mm_scene_cuts(docs).collect(), key=lambda r: r["frame_idx"])
    assert [r["frame_idx"] for r in rows] == [30, 60, 90, 120, 150]
    for r in rows:
        boundary = (r["frame_idx"] % 60) == 0
        assert bool(r["is_cut"]) == boundary, r
        if not boundary:
            assert r["hamming"] == 0
        else:
            assert r["hamming"] > 3


def test_ivf_margin_flags_boundary_vectors(spark):
    """Planted geometry against the seeded codebook: a vector AT a
    centroid has d1 = 0 and is never tight; the exact midpoint of two
    centroids has d1 = d2 and is maximally tight."""
    from tgres_spark.pipeline.similarity import _ivf_codebook, ann_ivf_margin

    cents = _ivf_codebook()
    mid = [(a + b) / 2.0 for a, b in zip(cents[0], cents[1])]
    emb = spark.createDataFrame(
        [(0, [float(x) for x in cents[0]]), (1, [float(x) for x in mid])],
        "vec_id long, embedding array<double>",
    )
    out = {r["cell"]: r for r in ann_ivf_margin(emb).collect()}
    on_centroid = out[1]  # cells are 1-based argmin positions
    assert on_centroid["n"] == 2  # the midpoint also argmins to cell 1 (tie->first)
    assert on_centroid["n_tight"] == 1 and on_centroid["tight_frac"] == 0.5


def test_pca2_deflate_matches_numpy(spark):
    """The deflated second iterate replayed in numpy: two normalized
    power steps on C give (v, lambda1); two steps on C - lambda1*v*vT
    give pc2/lambda2; ortho is the measured v.pc2 (deflation off a
    2-step iterate is NOT exactly orthogonal — that's why it's a
    column, not an assumption)."""
    import math

    import numpy as np

    from tgres_spark.pipeline.similarity import emb_pca2_deflate

    rng = np.random.default_rng(5)
    X = rng.standard_normal((40, 64)).round(6)
    X[:, 0] *= 5.0
    X[:, 1] *= 3.0  # two dominant directions
    emb = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(40)],
        "vec_id long, embedding array<double>",
    )
    C = (X.T @ X) / len(X) - np.outer(X.mean(0), X.mean(0))

    def two_steps(M):
        v0 = np.full(64, 1.0 / math.sqrt(64))
        w1 = M @ v0
        v1 = w1 / np.linalg.norm(w1)
        w2 = M @ v1
        return w2 / np.linalg.norm(w2), float(v1 @ w2)

    v, lam1 = two_steps(C)
    u, lam2 = two_steps(C - lam1 * np.outer(v, v))
    got = sorted(emb_pca2_deflate(emb).collect(), key=lambda r: r["i"])
    for r in got:
        assert abs(r["pc1"] - v[r["i"] - 1]) < 1e-6
        assert abs(r["pc2"] - u[r["i"] - 1]) < 1e-6
        assert abs(r["lambda1"] - lam1) < 1e-6
        assert abs(r["lambda2"] - lam2) < 1e-6
        assert abs(r["ortho"] - float(v @ u)) < 1e-5
    # axis 0 dominates pc1; among the remaining axes, axis 1 dominates
    # pc2 (a 2-step iterate deflates imperfectly, so pc2 keeps some
    # axis-0 residue — the ortho column measures exactly that)
    assert abs(v[0]) > 0.9
    assert abs(u[1]) > 0.4 and int(np.argmax(np.abs(u[1:]))) == 0


def test_quality_calibration_folds_model_and_gate(spark):
    """Calibration bins must equal the direct fold of quality_model
    probs × gopher_filter keeps computed independently per doc."""
    from collections import defaultdict

    import numpy as np

    from tgres_spark.pipeline.textstats import (
        gopher_filter,
        quality_calibration,
        quality_model,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    probs = {r["doc_id"]: r["prob"] for r in quality_model(docs).collect()}
    keeps = {r["doc_id"]: r["keep"] for r in gopher_filter(docs).collect()}
    agg = defaultdict(lambda: [0, 0, 0])  # n, sum_prob_m6, n_keep
    for d, k in keeps.items():
        p = probs[d]
        b = min(int(p * 10), 9)
        agg[b][0] += 1
        agg[b][1] += int(np.floor(p * 1e6 + 0.5))
        agg[b][2] += bool(k)
    got = {r["bin"]: r for r in quality_calibration(docs).collect()}
    assert set(got) == set(agg)
    for b, (n, pm6, nk) in agg.items():
        assert got[b]["n_docs"] == n
        assert abs(got[b]["mean_prob"] - pm6 / 1e6 / n) < 1e-12
        assert abs(got[b]["gopher_keep_rate"] - nk / n) < 1e-12


def test_threshold_sweep_monotone_and_exact(spark, docs):
    """Pair/doc counts are non-increasing in the threshold, the 1.0
    cutoff counts exactly the identical-signature pairs, and counts
    match a direct fold of the LSH pair relation."""
    from collections import defaultdict

    from tgres_spark.pipeline.dedup import (
        _THRESHOLD_SWEEP,
        dedup_minhash_lsh,
        dedup_threshold_sweep,
    )

    pairs = dedup_minhash_lsh(docs).collect()
    want_pairs, want_docs = defaultdict(int), defaultdict(set)
    for t in _THRESHOLD_SWEEP:
        for r in pairs:
            if r["est_sim"] >= t:
                want_pairs[t] += 1
                want_docs[t] |= {r["doc_a"], r["doc_b"]}
    got = {r["threshold"]: r for r in dedup_threshold_sweep(docs).collect()}
    assert set(got) == set(_THRESHOLD_SWEEP)
    prev = None
    for t in _THRESHOLD_SWEEP:
        assert got[t]["n_pairs"] == want_pairs[t]
        assert got[t]["n_docs"] == len(want_docs[t])
        assert abs(got[t]["frac_docs"] - len(want_docs[t]) / docs.count()) < 1e-12
        if prev is not None:
            assert got[t]["n_pairs"] <= prev
        prev = got[t]["n_pairs"]
    # docs fixture: 1 and 2 are identical -> est 1.0 pair survives
    assert got[1.0]["n_pairs"] >= 1


def test_dedup_index_lifecycle_writeback_compact(spark, tmp_path):
    """The write-back half of the incremental lifecycle
    (dedup_index_update / read_signature_index / dedup_index_compact):
    (1) post-update re-read == full-corpus minhash_signatures rerun;
    (2) replaying a generation is a no-op (idempotence); (3) a crash
    between the data write and the manifest publish leaves the
    generation unobservable, and the replay completes it; (4) a
    re-crawled doc_id's NEWEST signature wins; (5) compaction folds
    without changing the relation and grace-retires the previous
    cycle's sources; (6) dedup_incremental consulted against the
    UPDATED index equals the full rerun."""
    from pyspark.sql import functions as F

    from tgres_spark.pipeline.dedup import (
        _idx_manifested,
        dedup_incremental,
        dedup_index_compact,
        dedup_index_update,
        dedup_minhash_lsh,
        minhash_signatures,
        read_signature_index,
    )

    a = "the quick brown fox jumps over the lazy dog again and again today"
    b = "the quick brown fox jumps over the lazy dog again and again tonight"
    c = "completely different content about spark shuffles and parquet files"
    rows0 = [(1, a, "en"), (2, a, "en"), (3, b, "en"), (4, c, "en")]
    rows1 = [(10, a, "en"), (11, c + " plus a tail", "en")]
    rows2 = [(3, c, "en"), (20, b, "en")]  # 3 is RE-CRAWLED with new text
    sch = "doc_id long, text string, lang string"
    d0, d1, d2 = (spark.createDataFrame(r, sch) for r in (rows0, rows1, rows2))
    idx = str(tmp_path / "index")

    def snap():
        return {
            r["doc_id"]: (r["gen"], tuple(r["sig"]))
            for r in read_signature_index(spark, idx).collect()
        }

    # (1) init + one write-back == full rerun of both waves
    dedup_index_update(spark, idx, d0, generation=0)
    dedup_index_update(spark, idx, d1, generation=1)
    got = snap()
    want = {
        r["doc_id"]: tuple(r["sig"])
        for r in minhash_signatures(d0.unionByName(d1)).collect()
    }
    assert {k: s for k, (g, s) in got.items()} == want
    assert {k: g for k, (g, _) in got.items()} == {
        1: 0, 2: 0, 3: 0, 4: 0, 10: 1, 11: 1
    }

    # (2) replaying generation 1 changes nothing
    dedup_index_update(spark, idx, d1, generation=1)
    assert snap() == got

    # (3) crash between data write and pointer: write g2's data only
    minhash_signatures(d2).select(
        "doc_id", F.lit(2).alias("gen"), "sig"
    ).write.mode("overwrite").parquet(f"{idx}/delta/g000002")
    assert snap() == got  # unobservable without its manifest
    # the replay completes it — and doc 3's NEW signature now wins (4)
    dedup_index_update(spark, idx, d2, generation=2)
    got2 = snap()
    sig3_new = {
        r["doc_id"]: tuple(r["sig"]) for r in minhash_signatures(d2).collect()
    }
    assert got2[3] == (2, sig3_new[3]) and got2[20] == (2, sig3_new[20])
    assert got2[1] == got[1] and got2[10] == got[10]  # untouched docs carried

    # (5) compaction: same relation, folded into one manifested base;
    # a second compact with nothing new is a no-op
    dedup_index_compact(spark, idx)
    assert snap() == got2
    assert _idx_manifested(spark, idx, "b") == [2]
    dedup_index_compact(spark, idx)
    assert _idx_manifested(spark, idx, "b") == [2]
    # grace: the folded deltas survive THIS cycle, retire on the next
    assert _idx_manifested(spark, idx, "g") == [0, 1, 2]
    dedup_index_update(spark, idx, d1.select(
        (F.col("doc_id") + 100).alias("doc_id"), "text", "lang"
    ), generation=3, compact_threshold=2)  # forces the next compaction
    # base 2 keeps ITS one-cycle grace (newest-but-one base); the
    # deltas it folded are past theirs and retire now
    assert _idx_manifested(spark, idx, "b") == [2, 3]
    assert _idx_manifested(spark, idx, "g") == [3]  # 0,1,2 retired

    # (6) the consult half against the UPDATED index == full rerun
    inc = spark.createDataFrame([(30, a, "en")], sch)
    live = read_signature_index(spark, idx)
    got_pairs = {
        (r["doc_a"], r["doc_b"]): r["est_sim"]
        for r in dedup_incremental(spark, live, inc).collect()
    }
    full = d0.unionByName(d1).unionByName(
        d1.select((F.col("doc_id") + 100).alias("doc_id"), "text", "lang")
    ).unionByName(spark.createDataFrame(rows2[1:], sch)).unionByName(
        spark.createDataFrame([(3, c, "en")], sch)
    ).unionByName(inc)
    want_pairs = {
        (r["doc_a"], r["doc_b"]): r["est_sim"]
        for r in dedup_minhash_lsh(full).collect()
        if 30 in (r["doc_a"], r["doc_b"])
    }
    assert got_pairs == want_pairs and (1, 30) in got_pairs


def test_bpe_encode_applies_learned_merges(spark):
    """The serving path: corpus_bpe_encode tokenizes every doc with
    the 3 trained merges. Checked against an independent plain-Python
    BPE (train 3 rounds, greedy-apply in training order): (a) all
    three winners appear FUSED in the encoded vocab; (b) per-doc
    n_tokens == sum of the Python tokenization's word token counts;
    (c) the fertility rollup reproduces the same totals by lang."""
    from collections import Counter

    from tgres_spark.pipeline.textstats import (
        bpe_vocab_encoded,
        corpus_bpe_encode,
        corpus_bpe_fertility,
    )

    t1 = "lower lowest low low lower newer new"
    t2 = "low lower newest newest newer"
    docs = spark.createDataFrame(
        [(1, t1, "en", "s", len(t1)), (2, t2, "de", "s", len(t2))],
        "doc_id long, text string, lang string, source string, n_chars long",
    )

    vocab = Counter((t1 + " " + t2).split())
    state = {w: list(w) + ["</w>"] for w in vocab}
    winners = []
    for _ in range(3):
        wts = Counter()
        for w, c in vocab.items():
            s = state[w]
            for i in range(len(s) - 1):
                wts[f"{s[i]} {s[i+1]}"] += c
        top = min(wts.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        winners.append(top)
        a, b = top.split(" ")
        for w in state:
            out, i, s = [], 0, state[w]
            while i < len(s):
                if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            state[w] = out

    vdf = spark.createDataFrame(
        [(w, c) for w, c in vocab.items()], "w string, n long"
    )
    enc = {r["w"]: list(r["toks"]) for r in bpe_vocab_encoded(vdf).collect()}
    assert enc == state  # identical tokenization, word by word
    fused = {a + b for a, b in (x.split(" ") for x in winners)}
    flat = {t for toks in enc.values() for t in toks}
    assert fused <= flat  # (a) every winner appears fused

    got = {r["doc_id"]: r for r in corpus_bpe_encode(docs).collect()}
    for doc_id, text in ((1, t1), (2, t2)):
        words = text.split()
        n_tok = sum(len(state[w]) for w in words)
        assert got[doc_id]["n_words"] == len(words)
        assert got[doc_id]["n_tokens"] == n_tok  # (b)
        assert got[doc_id]["tokens_per_word"] == n_tok / len(words)

    fert = {r["lang"]: r for r in corpus_bpe_fertility(docs).collect()}
    assert fert["en"]["n_tokens"] == got[1]["n_tokens"]  # (c)
    assert fert["de"]["n_words"] == len(t2.split())


def test_pagerank2_hand_computed_four_nodes(spark):
    """pagerank2 on a hand-solved 4-node graph: 1->{2,3}, 2->3, 3->1,
    node 4 dangling. With d=0.85 and uniform start both iterations are
    worked by hand (fractions): pr1 = (.303125, .196875, .409375,
    .090625), pr2 = (.4047265625, .1855859375, .3529296875,
    .0567578125) — each iteration sums to exactly 1 (the dangling
    correction conserves mass)."""
    import pytest as _pt

    from tgres_spark.pipeline.graph import pagerank2

    nodes = spark.createDataFrame([(1,), (2,), (3,), (4,)], "host_id long")
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (3, 1)], "src long, dst long"
    )
    got = {r["host_id"]: r for r in pagerank2(nodes, edges).collect()}
    assert {h: r["out_deg"] for h, r in got.items()} == {1: 2, 2: 1, 3: 1, 4: 0}
    want1 = {1: 0.303125, 2: 0.196875, 3: 0.409375, 4: 0.090625}
    want2 = {
        1: 0.4047265625, 2: 0.1855859375, 3: 0.3529296875, 4: 0.0567578125,
    }
    for h in (1, 2, 3, 4):
        assert got[h]["pr1"] == _pt.approx(want1[h], rel=1e-9)
        assert got[h]["pr2"] == _pt.approx(want2[h], rel=1e-9)
    assert sum(r["pr1"] for r in got.values()) == _pt.approx(1.0, abs=1e-9)
    assert sum(r["pr2"] for r in got.values()) == _pt.approx(1.0, abs=1e-9)


def test_span_dedup2_separates_paragraph_from_boilerplate(spark):
    """The two-granularity reconciliation: doc A and doc B each share
    a verbatim 70-word PARAGRAPH; doc C shares only a scattered
    16-word boilerplate phrase with doc D. The single-granularity
    16-word metric reads both kinds of doc as 'covered' — it
    under-reports the paragraph-scale structure (frac_long is what
    distinguishes them): A/B show frac_long > 0 with long_share = 1
    (all coverage is paragraph-scale), C/D show frac_short > 0 but
    frac_long = 0 and long_share = 0. Structural invariant
    covered_long <= covered_short pinned on every row."""
    from tgres_spark.pipeline.contamination import span_dedup2

    para = " ".join(f"para{i}" for i in range(70))  # 70 shared words
    phrase = " ".join(f"bp{i}" for i in range(16))  # exactly one window
    rows = [
        (1, para + " " + " ".join(f"ua{i}" for i in range(20)), "en", "s", 1),
        (2, " ".join(f"ub{i}" for i in range(10)) + " " + para, "en", "s", 1),
        (3, " ".join(f"uc{i}" for i in range(30)) + " " + phrase, "en", "s", 1),
        (4, phrase + " " + " ".join(f"ud{i}" for i in range(30)), "en", "s", 1),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    got = {r["doc_id"]: r for r in span_dedup2(docs).collect()}
    for d in (1, 2):
        assert got[d]["covered_long"] == 70  # the whole paragraph
        assert got[d]["covered_short"] == 70
        assert got[d]["frac_long"] > 0 and got[d]["long_share"] == 1.0
    for d in (3, 4):
        assert got[d]["covered_short"] == 16  # the phrase, any alignment
        assert got[d]["covered_long"] == 0 and got[d]["frac_long"] == 0.0
        assert got[d]["long_share"] == 0.0 and got[d]["frac_short"] > 0
    assert all(
        r["covered_long"] <= r["covered_short"] for r in got.values()
    )


def test_hits2_hand_computed_three_nodes(spark):
    """hits2 on a hand-solved 3-node graph: 1->{2,3}, 3->2, L1
    normalization each half-step. By hand (exact fractions):
    a1 = (0, 2/3, 1/3); h1 = (3/5, 0, 2/5); a2 = (0, 5/8, 3/8);
    h2 = (8/13, 0, 5/13). Node 1 is the pure hub, node 2 the pure
    authority, node 3 both-ish — the separation PageRank's single
    score cannot express."""
    import pytest as _pt

    from tgres_spark.pipeline.graph import hits2

    nodes = spark.createDataFrame([(1,), (2,), (3,)], "host_id long")
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (3, 2)], "src long, dst long"
    )
    got = {r["host_id"]: r for r in hits2(nodes, edges).collect()}
    assert {h: (r["in_deg"], r["out_deg"]) for h, r in got.items()} == {
        1: (0, 2), 2: (2, 0), 3: (1, 1)
    }
    want_auth = {1: 0.0, 2: 5 / 8, 3: 3 / 8}
    want_hub = {1: 8 / 13, 2: 0.0, 3: 5 / 13}
    for h in (1, 2, 3):
        assert got[h]["auth"] == _pt.approx(want_auth[h], abs=1e-9)
        assert got[h]["hub"] == _pt.approx(want_hub[h], abs=1e-9)


def test_matryoshka_eval_detects_truncation_loss(spark):
    """Planted truncation failure: candidate A matches the query
    PERFECTLY in the first 8 dims but carries a huge orthogonal tail
    (full cosine 0.17); candidate B is a slightly-rotated true
    neighbor (cosine 0.99 at every prefix). dims=8 retrieval picks A
    (recall@1 = 0), full-dim picks B (recall@1 = 1) — exactly the
    regret the operator prices."""
    from tgres_spark.pipeline.similarity import emb_matryoshka_eval

    def vec(pairs):
        v = [0.0] * 64
        for i, x in pairs:
            v[i] = x
        return v

    rows = [
        (0, 0, vec([(0, 1.0)])),                                   # query
        (1, 0, vec([(0, 1.0)] + [(i, 1.0) for i in range(32, 64)])),  # A
        (2, 0, vec([(0, 0.9), (1, 0.1)])),                         # B
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, label long, embedding array<double>"
    )
    got = {
        r["dims"]: r
        for r in emb_matryoshka_eval(
            emb, dims=(8, 64), n_queries=1, k=2
        ).collect()
    }
    assert got[8]["recall_at1"] == 0.0   # picked the prefix impostor
    assert got[64]["recall_at1"] == 1.0
    assert got[8]["mean_overlap_at_k"] == 1.0  # both candidates in top-2


def test_unicode_anomalies_counts_planted_codepoints(spark):
    """Planted invisibles: 2 zero-width + 1 bidi override + 1
    replacement char + 1 C0 control, against a clean doc."""
    from tgres_spark.pipeline.textstats import text_unicode_anomalies

    dirty = "ab​cd‍efg‮hi�jk\x07z"
    rows = [
        (1, dirty, "en", "s", len(dirty)),
        (2, "perfectly clean ascii text", "en", "s", 26),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    got = {r["doc_id"]: r for r in text_unicode_anomalies(docs).collect()}
    assert got[1]["n_zero_width"] == 2
    assert got[1]["n_bidi_ctrl"] == 1
    assert got[1]["n_replacement"] == 1
    assert got[1]["n_c0_ctrl"] == 1
    assert got[1]["suspicious"] == 1
    assert got[2]["suspicious"] == 0 and got[2]["anomaly_frac"] == 0.0


def test_streaming_index_update_accumulates_generations(spark, tmp_path):
    """Two doc micro-batches write back as generations 0/1 with
    compact_threshold=2 forcing the fold; the resolved index equals
    minhash_signatures over both batches."""
    from tgres_spark.pipeline.dedup import (
        _idx_manifested,
        minhash_signatures,
        read_signature_index,
    )
    from tgres_spark.streaming.incdedup import run_index_update_stream

    sch = "doc_id long, text string, lang string"
    b1 = [(1, "the quick brown fox jumps over the lazy dog today", "en")]
    b2 = [(2, "completely different content about spark and parquet", "en")]
    in_dir = str(tmp_path / "in")
    for b in (b1, b2):
        spark.createDataFrame(b, sch).coalesce(1).write.mode(
            "append"
        ).parquet(in_dir)
    idx = str(tmp_path / "index")
    run_index_update_stream(
        spark, in_dir, idx, str(tmp_path / "ck"),
        spark.createDataFrame(b1, sch).schema, compact_threshold=2,
    )
    got = {
        r["doc_id"]: tuple(r["sig"])
        for r in read_signature_index(spark, idx).collect()
    }
    want = {
        r["doc_id"]: tuple(r["sig"])
        for r in minhash_signatures(
            spark.createDataFrame(b1 + b2, sch)
        ).collect()
    }
    assert got == want
    assert _idx_manifested(spark, idx, "b")  # a compaction fold happened


def test_prep_weights_combines_all_gates(spark):
    """The capstone weight table: a clean doc on a host gets
    weight = centrality; a doc failing the unicode gate gets 0
    regardless of quality; a doc that is one whole duplicated
    paragraph is discounted by its frac_long."""
    from tgres_spark.pipeline.graph import pipeline_prep_weights

    base = " ".join(f"w{i % 37}x{i % 11}" for i in range(80))
    dirty = " ".join(f"d{i % 31}y{i % 13}" for i in range(80))
    para = " ".join(f"p{i}" for i in range(70))
    rows = [
        (1, base, "en", "s", 1),                      # clean, unique
        (2, dirty + " ​", "en", "s", 1),         # zero-width -> gated
        (3, para + " " + " ".join(f"a{i}" for i in range(30)), "en", "s", 1),
        (4, " ".join(f"b{i}" for i in range(20)) + " " + para, "en", "s", 1),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    got = {r["doc_id"]: r for r in pipeline_prep_weights(docs).collect()}
    assert got[2]["clean_unicode"] == 0 and got[2]["weight"] == 0.0
    if got[1]["keep_quality"]:
        assert got[1]["weight"] == got[1]["centrality"]  # frac_long 0
    # docs 3/4 share the 70-word paragraph: discount strictly applied
    for d in (3, 4):
        assert got[d]["frac_long"] > 0
        if got[d]["keep_quality"]:
            assert got[d]["weight"] == got[d]["centrality"] * (
                1.0 - got[d]["frac_long"]
            )


def test_bpe_sweep_monotone_compression(spark):
    """The training curve: stage 0 = chars+1 per word occurrence;
    each merge strictly reduces corpus tokens while the fixture has
    repeated pairs to merge; vocab_size (distinct words) constant."""
    from tgres_spark.pipeline.textstats import corpus_bpe_sweep

    text = "lower lowest low low lower newer new"
    docs = spark.createDataFrame(
        [(1, text, "en", "s", len(text))],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    got = {r["n_merges"]: r for r in corpus_bpe_sweep(docs).collect()}
    words = text.split()
    assert got[0]["n_tokens"] == sum(len(w) + 1 for w in words)
    assert got[0]["n_words"] == len(words)
    toks = [got[r]["n_tokens"] for r in range(4)]
    assert all(a > b for a, b in zip(toks, toks[1:]))  # strict descent
    assert len({got[r]["vocab_size"] for r in range(4)}) == 1


def test_span_scrub_removes_later_occurrence_keeps_first(spark):
    """The REMOVAL transform's keep-first-occurrence rule: docs 1 and
    2 share a verbatim 20-word run at DIFFERENT offsets; doc 1
    (corpus-min doc_id) keeps its text verbatim, doc 2 has exactly the
    20 shared words excised (interval union of its 5 duplicated
    16-windows); doc 3 is a byte-identical copy of doc 1 and is
    scrubbed to EMPTY. clean_hash is pinned against md5 of the
    hand-built expected cleaned strings — the same contract
    boilerplate_strip hash-checks."""
    import hashlib

    from tgres_spark.pipeline.contamination import span_scrub

    shared = " ".join(f"s{i}" for i in range(20))
    a = " ".join(f"a{i}" for i in range(3)) + " " + shared + " " + \
        " ".join(f"x{i}" for i in range(7))
    b = shared + " " + " ".join(f"y{i}" for i in range(10))
    docs = spark.createDataFrame(
        [(1, a, "en", "s", 1), (2, b, "en", "s", 1), (3, a, "en", "s", 1)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    got = {r["doc_id"]: r for r in span_scrub(docs, k=16).collect()}

    def h(s):
        return hashlib.md5(s.encode()).hexdigest()

    # doc 1: authority for every shared window -> untouched
    assert got[1]["removed_words"] == 0 and got[1]["removed_frac"] == 0.0
    assert got[1]["clean_hash"] == h(a) and got[1]["clean_chars"] == len(a)
    # doc 2: the 20 shared words cut, tail survives in order
    b_clean = " ".join(f"y{i}" for i in range(10))
    assert got[2]["removed_words"] == 20
    assert got[2]["removed_frac"] == 20 / 30
    assert got[2]["clean_hash"] == h(b_clean)
    assert got[2]["clean_chars"] == len(b_clean)
    # doc 3: every window duplicated with min_doc=1 -> fully scrubbed
    assert got[3]["removed_words"] == 30 and got[3]["clean_hash"] == h("")
    assert got[3]["clean_chars"] == 0


def test_ann_ivf_compact_lifecycle(spark, tmp_path):
    """The IVF compaction execute step's three pins: (a) compaction
    rewrites ONLY needs-compact cells — every other cell's parquet
    files are byte-for-byte untouched (same paths, same mtimes); (b)
    a second run is a no-op (returns [], NO file anywhere changes);
    (c) consult-after-compact: the live view re-read from the
    compacted index equals the tombstone-filtered source embeddings
    exactly."""
    import os

    from tgres_spark.pipeline.similarity import (
        EMB_DIM,
        ann_ivf_compact_cells,
        ann_ivf_index_live,
        ann_ivf_index_write,
    )

    rng = __import__("numpy").random.default_rng(11)
    rows = [
        (int(i), [float(x) for x in rng.normal(size=EMB_DIM)])
        for i in range(120)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    work = str(tmp_path / "ivf")
    ann_ivf_index_write(spark, work, emb)

    def snapshot():
        out = {}
        for root, _, files in os.walk(work):
            for f in files:
                p = os.path.join(root, f)
                out[p] = os.stat(p).st_mtime_ns
        return out

    before = snapshot()
    compacted = ann_ivf_compact_cells(spark, work, mod=7, compact_frac=0.1)
    assert compacted, "fixture must trigger at least one compaction"
    after = snapshot()
    # (a) untouched cells: identical paths + mtimes
    touched_dirs = {f"cell={c}" for c in compacted}
    for p, m in before.items():
        if not any(t in p for t in touched_dirs):
            assert p in after and after[p] == m, f"untouched file changed: {p}"
    # compacted cells really were rewritten
    assert any(
        p not in before or before.get(p) != m
        for p, m in after.items()
        if any(t in p for t in touched_dirs)
    )
    # (b) idempotence: second run selects nothing, changes nothing
    assert ann_ivf_compact_cells(spark, work, mod=7, compact_frac=0.1) == []
    assert snapshot() == after
    # (c) consult-after-compact equals tombstone-filtered source
    live = {
        r["vec_id"] for r in ann_ivf_index_live(spark, work, mod=7).collect()
    }
    assert live == {i for i in range(120) if i % 7 != 0}


def test_ann_ivf_refit_warm_objective_descends(spark):
    """Lloyd's monotonicity through the warm re-fit: the corpus-total
    mean squared assignment distance AFTER the 2-step warm re-fit is
    <= the objective under the original codebook; the re-fit's
    per-cell (n_after, obj_after) agrees exactly with an independent
    ann_ivf_lloyd(iters=2) run's assignment relation; and at least
    one centroid genuinely moved."""
    import numpy as np
    import pytest as _pt

    from tgres_spark.pipeline.similarity import (
        EMB_DIM,
        ann_ivf_assign,
        ann_ivf_lloyd,
        ann_ivf_refit_warm,
    )

    rng = np.random.default_rng(23)
    rows = [
        (int(i), [float(x) for x in rng.normal(size=EMB_DIM)])
        for i in range(200)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = ann_ivf_refit_warm(emb).collect()
    assert out and all(r["moved_dist"] >= 0 for r in out)
    assert any(r["moved_dist"] > 0 for r in out)
    # total objective descends (weighted by member counts)
    before = {r["vec_id"]: r["dist"] for r in ann_ivf_assign(emb).collect()}
    after = {
        (r["vec_id"]): r["dist"]
        for r in ann_ivf_lloyd(emb, iters=2).collect()
    }
    assert sum(after.values()) <= sum(before.values()) + 1e-6
    # per-cell after-state equals the independent lloyd2 run
    a2 = ann_ivf_lloyd(emb, iters=2).collect()
    want_n, want_s = {}, {}
    for r in a2:
        want_n[r["cell"]] = want_n.get(r["cell"], 0) + 1
        want_s[r["cell"]] = want_s.get(r["cell"], 0) + int(
            np.floor(r["dist"] * 1e6 + 0.5)
        )
    for r in out:
        if r["n_after"] > 0:
            assert r["n_after"] == want_n[r["cell"]]
            assert r["obj_after"] == _pt.approx(
                want_s[r["cell"]] / 1e6 / want_n[r["cell"]], abs=1e-12
            )


def test_pagerank2_weighted_edge_beats_unweighted_tie(spark):
    """Edge multiplicity matters: node 1 links node 2 three times and
    node 3 once. The unweighted kernel reads both as one edge (pr2
    ties exactly); the weighted kernel splits node 1's mass 3:1, so
    node 2 outranks node 3. Personalization is held flat (equal
    keeps) to isolate the weight effect; hand-check pins the 3:1
    contribution split on iteration 1."""
    import pytest as _pt

    from tgres_spark.pipeline.graph import pagerank2, pagerank2_weighted

    nodes = spark.createDataFrame([(1,), (2,), (3,)], "host_id long")
    flat = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1)], "host_id long, keeps long"
    )
    ew = spark.createDataFrame(
        [(1, 2, 3), (1, 3, 1)], "src long, dst long, w long"
    )
    got = {
        r["host_id"]: r
        for r in pagerank2_weighted(nodes, ew, flat).collect()
    }
    assert got[2]["pr2"] > got[3]["pr2"]
    # iteration-1 contribution split is exactly 3/4 vs 1/4 of node 1's
    # start mass p=1/3 (all p equal): contrib(2) = d*(1/3)*(3/4) ...
    p = 1 / 3
    d = 0.85
    # dangling mass from nodes 2,3 (no out-edges) = 2p, redistributed by p
    want2 = (1 - d) * p + d * (p * 3 / 4 + 2 * p * p)
    want3 = (1 - d) * p + d * (p * 1 / 4 + 2 * p * p)
    assert got[2]["pr1"] == _pt.approx(want2, abs=1e-9)
    assert got[3]["pr1"] == _pt.approx(want3, abs=1e-9)
    # the unweighted kernel on the deduped edge set ties 2 and 3
    e1 = spark.createDataFrame([(1, 2), (1, 3)], "src long, dst long")
    un = {r["host_id"]: r for r in pagerank2(nodes, e1).collect()}
    assert un[2]["pr2"] == un[3]["pr2"]


def test_pagerank2_weighted_personalization_shifts_rank(spark):
    """Topic-sensitive teleport: a structurally symmetric 2-cycle
    (1<->2, equal weights) ranks equal under a flat prior, but a
    Gopher prior favoring host 1 (keeps 5 vs 0) shifts both the
    teleport and the dangling redistribution toward it — pr2(1) >
    pr2(2), and p is the exact Laplace ratio (6/7 vs 1/7 of the
    smoothed mass)."""
    import pytest as _pt

    from tgres_spark.pipeline.graph import pagerank2_weighted

    nodes = spark.createDataFrame([(1,), (2,)], "host_id long")
    edges = spark.createDataFrame(
        [(1, 2, 1), (2, 1, 1)], "src long, dst long, w long"
    )
    flat = spark.createDataFrame([(1, 1), (2, 1)], "host_id long, keeps long")
    eq = {r["host_id"]: r for r in pagerank2_weighted(nodes, edges, flat).collect()}
    assert eq[1]["pr2"] == eq[2]["pr2"]
    skew = spark.createDataFrame([(1, 5), (2, 0)], "host_id long, keeps long")
    got = {r["host_id"]: r for r in pagerank2_weighted(nodes, edges, skew).collect()}
    assert got[1]["p"] == _pt.approx(6 / 7, abs=1e-12)
    assert got[2]["p"] == _pt.approx(1 / 7, abs=1e-12)
    assert got[1]["pr2"] > got[2]["pr2"]


def test_sample_by_weight_multiplicity_rules(spark):
    """The weight-proportional sampler's contract: zero-weight docs
    draw 0 copies structurally; a doc whose expected multiplicity is
    an exact integer draws exactly it (floor(k + u) = k for u < 1);
    fractional expectations draw floor or ceil; and over many docs
    the stochastic rounding is unbiased — total copies tracks total
    expected within a few percent."""
    from tgres_spark.pipeline.prep import sample_by_weight

    rows = [(int(i), [0.0, 1.0, 2.0, 5.0][i % 4]) for i in range(400)]
    w = spark.createDataFrame(rows, "doc_id long, weight double")
    got = {r["doc_id"]: r for r in sample_by_weight(w).collect()}
    mean = sum(x[1] for x in rows) / len(rows)  # = 2.0 exactly
    assert mean == 2.0
    total = 0
    for i, wt in rows:
        r = got[i]
        exp = wt / mean
        total += r["n_copies"]
        if wt == 0.0:
            assert r["n_copies"] == 0
        elif exp == int(exp):
            assert r["n_copies"] == int(exp), (i, wt, r["n_copies"])
        else:
            assert r["n_copies"] in (int(exp), int(exp) + 1)
    want_total = sum(x[1] / mean for x in rows)  # = 400
    assert abs(total - want_total) / want_total < 0.05


def test_ann_ivf_split_descends_and_partitions(spark):
    """Bisecting-split invariants: only cells above the factor x
    even-share threshold appear; n_a + n_b = n_before on every row;
    and the per-cell mean squared distance NEVER increases (each
    parity group's mean minimizes its own SSE; re-assignment only
    moves members to a closer center), with strict descent somewhere
    on a non-degenerate corpus."""
    import numpy as np

    from tgres_spark.pipeline.similarity import (
        EMB_DIM,
        ann_ivf_assign,
        ann_ivf_split,
    )

    rng = np.random.default_rng(31)
    rows = [
        (int(i), [float(x) for x in rng.normal(size=EMB_DIM)])
        for i in range(300)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = ann_ivf_split(emb, factor=1.2).collect()
    assert out, "fixture must produce at least one hot cell"
    counts = {}
    for r in ann_ivf_assign(emb).collect():
        counts[r["cell"]] = counts.get(r["cell"], 0) + 1
    thresh = 1.2 * 300 / 16
    hot = {c for c, n in counts.items() if n > thresh}
    assert {r["cell"] for r in out} == hot
    for r in out:
        assert r["n_a"] + r["n_b"] == r["n_before"] == counts[r["cell"]]
        assert r["obj_after"] <= r["obj_before"] + 1e-9
    assert any(r["obj_after"] < r["obj_before"] - 1e-9 for r in out)


def test_ann_ivf_merge_retires_cold_cells(spark):
    """Cold-cell merge invariants: exactly the below-frac-share cells
    appear; obj_after >= obj_before on every row (removing a center
    can only move members farther); every retired member's
    destination is a SURVIVING cell (checked by re-deriving the cold
    set); and the survivors' own members are untouched by
    construction (the merge only re-assigns cold members)."""
    import numpy as np

    from tgres_spark.pipeline.similarity import (
        EMB_DIM,
        ann_ivf_assign,
        ann_ivf_merge,
    )

    rng = np.random.default_rng(37)
    rows = [
        (int(i), [float(x) for x in rng.normal(size=EMB_DIM)])
        for i in range(200)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = ann_ivf_merge(emb, frac=0.8).collect()
    assert out, "fixture must produce at least one cold cell"
    counts = {}
    for r in ann_ivf_assign(emb).collect():
        counts[r["cell"]] = counts.get(r["cell"], 0) + 1
    cold = {c for c, n in counts.items() if n < 0.8 * 200 / 16}
    assert {r["cell"] for r in out} == cold
    for r in out:
        assert r["n_members"] == counts[r["cell"]]
        assert r["obj_after"] >= r["obj_before"] - 1e-9
        assert 1 <= r["n_dest_cells"] <= 16 - len(cold)


def test_host_components_flags_islands(spark):
    """Island detection on a hand graph: a 5-host chain (giant
    component) plus a 2-host mutual-link island. The island hosts get
    is_island=1 with component_size 2 and root = their min id; the
    chain hosts get the chain's min root and is_island=0 (size 5 >
    ISLAND_MAX=3). PageRank alone cannot separate these — the
    island's teleport mass keeps it ranked — which is why the
    structural signal exists."""
    from tgres_spark.pipeline.graph import host_components

    nodes = spark.createDataFrame(
        [(h,) for h in (1, 2, 3, 4, 5, 90, 91)], "host_id long"
    )
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (90, 91), (91, 90)],
        "src long, dst long",
    )
    got = {r["host_id"]: r for r in host_components(nodes, edges).collect()}
    for h in (1, 2, 3, 4, 5):
        assert got[h]["root_id"] == 1
        assert got[h]["component_size"] == 5 and got[h]["is_island"] == 0
    for h in (90, 91):
        assert got[h]["root_id"] == 90
        assert got[h]["component_size"] == 2 and got[h]["is_island"] == 1


def test_events_markov_chain_hand_computed(spark, tmp_path):
    """Hand-solved 2-user journey: user 1 walks A,B,A,B and user 2
    walks A,C. Direct transitions: A->B twice, B->A once, A->C once,
    so p1(A,B)=2/3, p1(A,C)=1/3, p1(B,A)=1. Two-step: p2(A,A) =
    p1(A,B)*p1(B,A) = 2/3 (micro6-quantized), p2(B,B) =
    p1(B,A)*p1(A,B) = 2/3; C absorbs (no outgoing -> its whole p1/p2
    row is zeros on the explicit grid)."""
    import datetime as dt

    import pytest as _pt

    rows = [
        (1, dt.datetime(2024, 1, 1, 0, 0, i), 1, t, 0.0, "")
        for i, t in enumerate(["A", "B", "A", "B"])
    ] + [
        (10 + i, dt.datetime(2024, 1, 1, 1, 0, i), 2, t, 0.0, "")
        for i, t in enumerate(["A", "C"])
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp_ntz, user_id long, event_type string,"
        " value double, props string",
    )
    ev.write.parquet(str(tmp_path / "events.parquet"))
    from tgres_spark.tpch import events_markov_chain

    got = {
        (r["src_type"], r["dst_type"]): r
        for r in events_markov_chain(spark, str(tmp_path)).collect()
    }
    assert len(got) == 9  # full 3x3 grid
    q6 = lambda x: __import__("math").floor(x * 1e6 + 0.5) / 1e6
    assert got[("A", "B")]["n"] == 2
    assert got[("A", "B")]["p1"] == _pt.approx(2 / 3)
    assert got[("A", "C")]["p1"] == _pt.approx(1 / 3)
    assert got[("B", "A")]["p1"] == 1.0
    assert got[("A", "A")]["p2"] == _pt.approx(q6(q6((2 / 3) * 1.0)))
    assert got[("B", "B")]["p2"] == _pt.approx(q6((2 / 3)))
    for d in ("A", "B", "C"):
        assert got[("C", d)]["n"] == 0 and got[("C", d)]["p1"] == 0.0
        assert got[("C", d)]["p2"] == 0.0


def test_pack_weighted_explodes_multiplicities_into_shards(spark):
    """The shard builder's contract on a hand corpus routed through
    the REAL prep_weights scoring: every emitted (doc_id, copy_id)
    matches the sampler's n_copies exactly (copy_ids are 1..n, docs
    with 0 copies absent); per-lang shard ids are a contiguous
    0..max prefix partition under the token-budget rule (each
    shard's token load stays under budget + the straddling doc);
    and copies of the same doc are allowed to land in different
    shards (hash scatter)."""
    from tgres_spark.pipeline.graph import pipeline_prep_weights
    from tgres_spark.pipeline.prep import pack_weighted, sample_by_weight

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    got = pack_weighted(docs, budget=512).collect()
    assert got
    want = {
        r["doc_id"]: r["n_copies"]
        for r in sample_by_weight(pipeline_prep_weights(docs)).collect()
    }
    seen: dict = {}
    for r in got:
        seen.setdefault(r["doc_id"], []).append(r["copy_id"])
    for d, copies in seen.items():
        assert sorted(copies) == list(range(1, want[d] + 1))
    assert all(want.get(d, 0) == 0 for d in want if d not in seen)
    # shards are contiguous per lang and respect the budget rule:
    # every shard except possibly the last has cumulative tokens
    # crossing its boundary only via the straddling doc
    from collections import defaultdict

    per_lang = defaultdict(list)
    for r in got:
        per_lang[r["lang"]].append(r)
    for lang, rows in per_lang.items():
        shards = sorted({r["shard"] for r in rows})
        assert shards == list(range(len(shards)))
        load = defaultdict(int)
        for r in rows:
            load[r["shard"]] += r["n_tokens"]
        # a shard opens before the budget boundary, so its load is
        # < budget + its largest (straddling) doc
        for s in shards:
            biggest = max(r["n_tokens"] for r in rows if r["shard"] == s)
            assert load[s] < 512 + biggest


def test_ann_ivf_search_maintained_end_to_end(spark, tmp_path):
    """The consult path through the FULL maintained lifecycle: build
    index + codebook, compact, split, merge (all three must fire on
    the clustered fixture), then (a) the live view still equals the
    tombstone-filtered source; (b) physical cells and codebook agree
    exactly; (c) an exhaustive-probe search (nprobe >= |codebook|)
    through the maintained artifact equals brute-force exact top-k
    over the surviving vectors computed independently on the driver —
    maintenance reshaped the routing, never the answers."""
    import numpy as np

    from tgres_spark.pipeline.similarity import (
        EMB_DIM,
        ann_ivf_compact_cells,
        ann_ivf_index_live,
        ann_ivf_index_write_full,
        ann_ivf_merge_cells,
        ann_ivf_search_index,
        ann_ivf_split_cells,
        _ivf_codebook_rows,
    )

    rng = np.random.default_rng(5)
    # three tight clusters -> a few very hot cells (split fires) and
    # many empty codebook slots (merge fires)
    centers = rng.normal(size=(3, EMB_DIM)) * 3.0
    rows = [
        (int(i), [float(x) for x in centers[i % 3] + rng.normal(size=EMB_DIM) * 0.2])
        for i in range(160)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    work = str(tmp_path / "ivfm")
    ann_ivf_index_write_full(spark, work, emb)
    compacted = ann_ivf_compact_cells(spark, work, mod=7, compact_frac=0.1)
    split = ann_ivf_split_cells(spark, work, mod=7)
    merged = ann_ivf_merge_cells(spark, work, mod=7)
    assert compacted and split and merged, (compacted, split, merged)

    # (a) survivors: the live view equals the tombstone-filtered source
    live = {
        r["vec_id"] for r in ann_ivf_index_live(spark, work, mod=7).collect()
    }
    assert live == {i for i in range(160) if i % 7 != 0}
    # (b) physical cells and codebook agree (no orphan dirs, no dead
    # routing slots)
    cb_cells = {c for c, _ in _ivf_codebook_rows(spark, work)}
    phys_cells = {
        int(r["cell"])
        for r in spark.read.parquet(f"{work}/cells").select("cell").distinct().collect()
    }
    assert phys_cells == cb_cells
    # new split ids present, merged ids gone
    assert any(n in cb_cells for _, n in split)
    assert all(c not in cb_cells for c in merged)

    # (c) exhaustive probe == brute force over survivors. Brute force
    # uses a plain left-fold accumulation (same IEEE op order as
    # Spark's aggregate) so distances are bit-identical.
    vecs = {i: v for i, v in rows if i in live}

    def d2(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + (x - y) * (x - y)
        return acc

    got = ann_ivf_search_index(
        spark, work, n_queries=10, k=10, nprobe=len(cb_cells), mod=7
    ).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append(
            (r["rank"], r["neighbor_id"], r["dist"])
        )
    assert set(by_q) == {i for i in range(10) if i % 7 != 0}
    for qid, hits in by_q.items():
        want = sorted(
            ((d2(vecs[qid], v), nid) for nid, v in vecs.items() if nid != qid)
        )[:10]
        got_sorted = [(d, n) for _, n, d in sorted(hits)]
        assert got_sorted == [(d, n) for d, n in want], f"query {qid}"


def test_dedup_semdedup_keeps_the_outlier(spark):
    """SemDeDup's keep rule on a hand-built cluster: three near-
    duplicate vectors in one cell where v2 sits FARTHEST from the
    cluster centroid -> v2 is the keeper, the two centroid-closer
    copies drop; an unrelated singleton in another cell keeps itself;
    and near-identical vectors in DIFFERENT cells are never grouped
    (candidate generation is cell-local by construction)."""
    import numpy as np

    from tgres_spark.pipeline.similarity import (
        EMB_DIM,
        IVF_CODEBOOK_K,
        _ivf_codebook,
        dedup_semdedup,
    )

    cents = np.array(_ivf_codebook(IVF_CODEBOOK_K, seed=7))
    c0, c1 = cents[0], cents[1]
    # w: unit vector orthogonal to c0 (Gram-Schmidt from c1) — tilting
    # along w lowers the cosine to the centroid without leaving the
    # cell; v2 tilts hardest so it is the farthest-from-centroid copy
    w = c1 - (c1 @ c0) / (c0 @ c0) * c0
    w = w / np.linalg.norm(w) * np.linalg.norm(c0)
    rows = [
        (1, [float(x) for x in c0 + 0.02 * w]),
        (2, [float(x) for x in c0 + 0.40 * w]),
        (3, [float(x) for x in c0 + 0.03 * w]),
        (9, [float(x) for x in c1 * 1.1]),  # singleton, other cell
    ]
    # fixture sanity: all pairwise cosines among 1,2,3 clear 0.9
    vs = {i: np.array(v) for i, v in rows[:3]}
    for i in (1, 2, 3):
        for j in (1, 2, 3):
            if i < j:
                cos = vs[i] @ vs[j] / (
                    np.linalg.norm(vs[i]) * np.linalg.norm(vs[j])
                )
                assert cos >= 0.9, (i, j, cos)
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {r["vec_id"]: r for r in dedup_semdedup(emb, threshold=0.9).collect()}
    assert len(got) == 4
    # 1,2,3 share a cell and a component
    cells = {got[i]["cell"] for i in (1, 2, 3)}
    assert len(cells) == 1 and got[9]["cell"] not in cells
    roots = {got[i]["root_id"] for i in (1, 2, 3)}
    assert roots == {1}
    # keeper = lowest cosine to centroid
    sims = {i: got[i]["cent_sim"] for i in (1, 2, 3)}
    outlier = min(sims, key=lambda i: (sims[i], i))
    for i in (1, 2, 3):
        assert got[i]["is_keeper"] == (i == outlier)
    assert got[9]["is_keeper"] and got[9]["root_id"] == 9


def test_dedup_semdedup_cell_locality(spark):
    """Two nearly-identical vectors straddling a cell boundary do NOT
    group (the paper's deliberate trade: recall is bounded by the
    cluster granularity) — pinning that the pair join is genuinely
    cell-bucketed, not all-pairs."""
    import numpy as np

    from tgres_spark.pipeline.similarity import (
        IVF_CODEBOOK_K,
        _ivf_codebook,
        ann_ivf_assign,
        dedup_semdedup,
    )

    cents = np.array(_ivf_codebook(IVF_CODEBOOK_K, seed=7))
    mid = (cents[0] + cents[1]) / 2.0
    d = cents[1] - cents[0]
    eps = d / np.linalg.norm(d) * 1e-3
    rows = [
        (1, [float(x) for x in mid - eps]),
        (2, [float(x) for x in mid + eps]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    asg = {r["vec_id"]: r["cell"] for r in ann_ivf_assign(emb).collect()}
    assert asg[1] != asg[2], "fixture must straddle the boundary"
    got = {r["vec_id"]: r for r in dedup_semdedup(emb, threshold=0.5).collect()}
    assert got[1]["root_id"] == 1 and got[2]["root_id"] == 2
    assert got[1]["is_keeper"] and got[2]["is_keeper"]


def test_dedup_semdedup_hot_cell_subbuckets(spark):
    """The within-cell pair join sub-buckets each cell by a hash salt
    (round-13 skew fix): the pair SET must be unchanged by the salt —
    a dense hot cell of mutually-near-duplicate vectors still
    collapses to ONE component with the min-id root and the farthest-
    from-centroid keeper, even though its members scatter across
    several salt buckets and every near-dup pair must be recovered
    across bucket boundaries."""
    import numpy as np

    from pyspark.sql import functions as F

    from tgres_spark.pipeline.similarity import (
        IVF_CODEBOOK_K,
        SEMDEDUP_SUBBUCKETS,
        _ivf_codebook,
        dedup_semdedup,
    )

    cents = np.array(_ivf_codebook(IVF_CODEBOOK_K, seed=7))
    c0, c1 = cents[0], cents[1]
    w = c1 - (c1 @ c0) / (c0 @ c0) * c0
    w = w / np.linalg.norm(w) * np.linalg.norm(c0)
    n = 24
    rows = [
        (i, [float(x) for x in c0 + (0.001 * i) * w]) for i in range(1, n + 1)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    # fixture sanity: the members land in >= 2 distinct salt buckets,
    # so the test genuinely exercises cross-bucket pair recovery
    salts = {
        r[0]
        for r in emb.select(
            F.pmod(F.xxhash64("vec_id"), F.lit(SEMDEDUP_SUBBUCKETS))
        ).collect()
    }
    assert len(salts) >= 2, salts
    got = {r["vec_id"]: r for r in dedup_semdedup(emb, threshold=0.9).collect()}
    assert len(got) == n
    assert {r["cell"] for r in got.values()} == {got[1]["cell"]}
    assert {r["root_id"] for r in got.values()} == {1}
    sims = {i: got[i]["cent_sim"] for i in got}
    outlier = min(sims, key=lambda i: (sims[i], i))
    assert [i for i in sorted(got) if got[i]["is_keeper"]] == [outlier]


def test_emb_abtt_removes_the_dominant_direction(spark):
    """All-But-The-Top's two pins: (a) Pythagoras — pc1 is unit, so
    norm_before^2 = proj1^2 + norm_after^2 for every vector (up to
    fold rounding); (b) on a corpus whose variance is one planted
    direction plus tiny noise, removal collapses the norms: every
    corrected vector keeps < 15% of its centered norm."""
    import numpy as np

    from tgres_spark.pipeline.similarity import EMB_DIM, emb_abtt

    rng = np.random.default_rng(3)
    mu = rng.normal(size=EMB_DIM)
    d = rng.normal(size=EMB_DIM)
    d /= np.linalg.norm(d)
    rows = [
        (
            int(i),
            [
                float(x)
                for x in mu + (i - 30) * 0.5 * d
                + rng.normal(size=EMB_DIM) * 0.01
            ],
        )
        for i in range(60)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = emb_abtt(emb).collect()
    assert len(got) == 60
    for r in got:
        nb, na, p = r["norm_before"], r["norm_after"], r["proj1"]
        assert abs(nb * nb - (na * na + p * p)) < 1e-6, r
    # exclude the vectors near the centroid (tiny centered norm)
    big = [r for r in got if r["norm_before"] > 1.0]
    assert len(big) >= 40
    for r in big:
        assert r["norm_after"] < 0.15 * r["norm_before"], r


def test_community_labelprop_two_cliques(spark):
    """Hand-checked LPA: two 4-cliques bridged by ONE edge stay two
    communities (the bridge is outvoted 3-to-1 in every round), each
    labeled by its minimum member; an isolated node keeps itself.
    host_components would merge the bridged cliques into one — the
    structure LPA sees and connectivity cannot."""
    from tgres_spark.pipeline.graph import (
        community_labelprop,
        host_components,
    )

    cliq1 = [1, 2, 3, 4]
    cliq2 = [10, 11, 12, 13]
    edges = [
        (a, b) for c in (cliq1, cliq2) for a in c for b in c if a < b
    ] + [(4, 10)]  # the bridge
    nodes = spark.createDataFrame(
        [(i,) for i in cliq1 + cliq2 + [99]], "host_id long"
    )
    e = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r["host_id"]: (r["label"], r["comm_size"])
        for r in community_labelprop(nodes, e).collect()
    }
    for i in cliq1:
        assert got[i] == (1, 4), (i, got[i])
    for i in cliq2:
        assert got[i] == (10, 4), (i, got[i])
    assert got[99] == (99, 1)
    # connectivity merges the bridged cliques — LPA's added structure
    comp = {
        r["host_id"]: r["root_id"]
        for r in host_components(nodes, e).collect()
    }
    assert comp[1] == comp[10]


def test_emb_isotropy_flags_anisotropy(spark):
    """One dominant direction -> top_share near 1; isotropic noise ->
    top_share near 1/d (both within loose bounds — the audit is a
    dial, the pins are the regimes)."""
    import numpy as np

    from tgres_spark.pipeline.similarity import EMB_DIM, emb_isotropy

    rng = np.random.default_rng(2)
    d = rng.normal(size=EMB_DIM)
    d /= np.linalg.norm(d)
    aniso = spark.createDataFrame(
        [
            (int(i), [float(x) for x in (i - 40) * d + rng.normal(size=EMB_DIM) * 0.01])
            for i in range(80)
        ],
        "vec_id long, embedding array<double>",
    )
    r1 = emb_isotropy(aniso).collect()[0]
    assert r1["top_share"] > 0.95, r1
    iso = spark.createDataFrame(
        [
            (int(i), [float(x) for x in rng.normal(size=EMB_DIM)])
            for i in range(400)
        ],
        "vec_id long, embedding array<double>",
    )
    r2 = emb_isotropy(iso).collect()[0]
    assert r2["top_share"] < 0.1, r2


def test_nb_quality_learns_separable_vocab(spark):
    """The classifier bootstrap on a perfectly separable fixture:
    good docs draw from a 'clean' vocabulary and pass Gopher; bad
    docs are one junk word repeated (fails max_top_word_frac) with a
    junk-only vocabulary. The NB model trained on the even-id half
    must classify every odd-id doc correctly (accuracy 1.0), with
    positive scores exactly on the good docs."""
    from tgres_spark.pipeline.textstats import nb_quality

    good_words = [f"word{i:02d}ish" for i in range(30)]
    rows = []
    for i in range(40):
        if i % 4 < 2:  # good docs (even split of each parity)
            text = " ".join(
                good_words[(i + j) % 30] for j in range(30)
            )
        else:  # junk: one word repeated 30x -> top_word_frac = 1;
            # vocabulary keyed on i//4 so every junk word seen at test
            # time was also seen (with label 0) at train time
            text = " ".join(f"junk{(i // 4) % 3}spam" for _ in range(30))
        rows.append((i, text))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in nb_quality(docs).collect()}
    # only odd ids are scored (the held-out split)
    assert set(got) == {i for i in range(40) if i % 2 == 1}
    for i, r in got.items():
        want = 1 if i % 4 < 2 else 0
        assert r["label"] == want, (i, r)
        assert r["predicted"] == want, (i, r)
        assert r["correct"] == 1, (i, r)
        assert (r["score"] >= 0) == (want == 1)


def test_sized_shingle_arrays_matches_inline_explode(spark):
    """The round-13 shared shingle fence (_sized_shingle_arrays +
    _shd_sizes) must reproduce the inline explode+groupBy it replaced
    EXACTLY — including the edge the groupBy created implicitly: a doc
    with fewer than k words has an empty shingle array, so it appears
    in neither shd nor sizes (the old count-by-doc only saw docs with
    >= 1 exploded row)."""
    from tgres_spark.pipeline.dedup import (
        _shd_sizes,
        _sized_shingle_arrays,
        shingles_of,
        words,
    )
    from pyspark.sql import functions as F

    rows = [
        (1, "alpha beta gamma delta alpha beta gamma"),  # dup shingle
        (2, "one two"),                                   # < k words: NO shingles
        (3, "x1 x2 x3"),                                  # exactly one shingle
        (4, ""),                                          # empty text
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sha = _sized_shingle_arrays(docs)
    try:
        shd, sizes = _shd_sizes(sha)
        got_shd = {(r["doc_id"], r["sh"]) for r in shd.collect()}
        got_sizes = {(r["doc_id"], r["nsh"]) for r in sizes.collect()}
        ref = docs.select(
            "doc_id", words(F.col("text")).alias("w")
        ).select(
            "doc_id",
            F.explode(F.array_distinct(shingles_of(F.col("w")))).alias("sh"),
        )
        want_shd = {(r["doc_id"], r["sh"]) for r in ref.collect()}
        want_sizes = {
            (r["doc_id"], r["nsh"])
            for r in ref.groupBy("doc_id")
            .agg(F.count("*").alias("nsh"))
            .collect()
        }
        assert got_shd == want_shd
        assert got_sizes == want_sizes
        assert {d for d, _ in got_sizes} == {1, 3}  # 2 and 4 excluded
        assert dict(got_sizes)[1] == 4  # 4 DISTINCT of 5 shingles (one dup)
        assert sizes.schema["nsh"].dataType.typeName() == "long"
    finally:
        sha.unpersist()
