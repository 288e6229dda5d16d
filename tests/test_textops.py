"""Training-data operators vs single-node numpy/python oracles."""

from __future__ import annotations

import numpy as np
import pytest

from gmx.textops import cosine_topk, exact_dup_groups, ngram_jaccard_pairs, token_counts
from gmx.textops.similarity import QUANT


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    d.cache().count()
    return d


def test_token_counts(docs):
    rows = {r.doc_id: r.text for r in docs.collect()}
    got = {r.doc_id: r.n_tokens for r in token_counts(docs).collect()}
    assert got == {i: len(t.split(" ")) for i, t in rows.items()}


def test_token_counts_regex_matches_python_re(docs):
    """The BPE-ish pre-tokenizer counts equal python re on every doc, and
    pieces upper-bound whitespace tokens on alnum text."""
    import re

    from gmx.textops import token_counts_regex

    got = {r.doc_id: (r.n_word_pieces, r.n_number_pieces, r.n_punct_pieces, r.n_pieces)
           for r in token_counts_regex(docs).collect()}
    for r in docs.select("doc_id", "text").collect():
        w = len(re.findall(r"[A-Za-z]+", r.text))
        n = len(re.findall(r"[0-9]+", r.text))
        p = len(re.findall(r"[^A-Za-z0-9 ]", r.text))
        assert got[r.doc_id] == (w, n, p, w + n + p), r.doc_id


def test_exact_dup_groups_cover_all_docs(docs):
    total = docs.count()
    groups = exact_dup_groups(docs).collect()
    assert sum(g.n_docs for g in groups) == total


def test_ngram_jaccard_matches_python_oracle(docs):
    texts = {r.doc_id: r.text.split(" ") for r in docs.collect()}
    sh = {
        i: set(" ".join(w[j:j + 3]) for j in range(len(w) - 2)) if len(w) >= 3 else {" ".join(w)}
        for i, w in texts.items()
    }
    ids = sorted(sh)
    want = set()
    for ai in range(len(ids)):
        for bi in range(ai + 1, len(ids)):
            a, b = ids[ai], ids[bi]
            inter = len(sh[a] & sh[b])
            if not inter:
                continue
            jac = inter * 1000 // (len(sh[a]) + len(sh[b]) - inter)
            if jac >= 100:
                want.add((a, b, jac))
    got = {(r.a_id, r.b_id, r.jaccard_per_mille)
           for r in ngram_jaccard_pairs(docs, threshold=0.1).collect()}
    assert got == want


def test_ngram_jaccard_stop_shingle_cap(spark):
    """A corpus-hot shingle is pruned from candidate generation (bounding its
    shuffle-key fan-out) without corrupting scores: pairs sharing any non-hot
    shingle keep their EXACT Jaccard (hot shingles still count in the
    intersection/union); pairs whose entire intersection is hot are the
    documented miss, and reappear when the cap is lifted."""

    hot_docs = [(i, f"c1 c2 c3 u{i}a") for i in range(50)]  # all pairs share only "c1 c2 c3"
    near = [(100, "x1 x2 x3 x4 x5 x6"), (101, "x1 x2 x3 x4 x5 x7")]
    docs = spark.createDataFrame(hot_docs + near, "doc_id long, text string")

    capped = {(r.a_id, r.b_id, r.jaccard_per_mille)
              for r in ngram_jaccard_pairs(docs, threshold=0.1, df_cap=10).collect()}
    # shingles: a={x1x2x3,x2x3x4,x3x4x5,x4x5x6} b={...,x4x5x7}: inter 3 / union 5
    assert capped == {(100, 101, 600)}

    uncapped = {(r.a_id, r.b_id) for r in
                ngram_jaccard_pairs(docs, threshold=0.1, df_cap=10_000).collect()}
    assert (100, 101) in uncapped
    # hot-only pairs: 1 shared / 3 union = 333 permille, found without the cap
    assert (0, 1) in uncapped and len(uncapped) == 50 * 49 // 2 + 1


def test_minhash_pairs_verify_matches_ngram_jaccard(docs):
    """The production (xxhash64) MinHash path emits pairs, and every pair
    carries the exact Jaccard the uncapped n-gram operator computes for it:
    both end in the same exact verify, so LSH can only miss pairs, never
    mis-score one."""
    from gmx.textops import minhash_pairs

    mh = {(r.a_id, r.b_id, r.jaccard_per_mille)
          for r in minhash_pairs(docs, threshold=0.1).collect()}
    exact = {(r.a_id, r.b_id, r.jaccard_per_mille)
             for r in ngram_jaccard_pairs(docs, threshold=0.1, df_cap=10**9).collect()}
    assert mh and mh <= exact


def test_cosine_topk_matches_numpy(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    rows = emb.collect()
    vecs = {r.vec_id: np.floor(np.asarray(r.embedding, dtype=np.float64) * QUANT + 0.5)
            for r in rows}
    want = set()
    for qid, qv in vecs.items():
        if qid % 100 != 0:
            continue
        scored = sorted(
            (
                (-float(qv @ nv) / np.sqrt(float(qv @ qv) * float(nv @ nv)), nid)
                for nid, nv in vecs.items()
                if nid != qid
            ),
        )[:5]
        want.update((qid, r + 1, nid) for r, (_, nid) in enumerate(scored))
    got = {(r.query_id, r.rank, r.neighbor_id) for r in cosine_topk(emb).collect()}
    assert got == want


def test_embedding_near_dup_matches_numpy(spark, sf_dir):
    from gmx.textops.similarity import embedding_near_dup

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    rows = emb.collect()
    vecs = {r.vec_id: np.floor(np.asarray(r.embedding, dtype=np.float64) * QUANT + 0.5)
            for r in rows}
    ids = sorted(vecs)
    want = set()
    for i, a in enumerate(ids):
        va, na = vecs[a], float(vecs[a] @ vecs[a])
        for b in ids[i + 1:]:
            dot = float(va @ vecs[b])
            if dot > 0 and 10000 * dot * dot >= 1225 * na * float(vecs[b] @ vecs[b]):
                want.add((a, b))
    got = {(r.a_id, r.b_id) for r in embedding_near_dup(emb).collect()}
    assert got == want
    assert want  # threshold chosen so the result is non-trivial


def test_ann_lsh_recall_vs_exact(spark, sf_dir):
    from gmx.textops.similarity import ann_lsh_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    exact = {(r.query_id, r.neighbor_id) for r in cosine_topk(emb).collect()}
    approx = {(r.query_id, r.neighbor_id)
              for r in ann_lsh_topk(emb, bands=24, band_bits=4).collect()}
    recall = len(exact & approx) / len(exact)
    # OR-amplification: 24 bands of 4 bits; even for this corpus' weak
    # neighbors (cos ~0.35-0.5, per-plane agreement ~0.61) the union of band
    # matches recovers >=0.9 of the exact top-k (deterministic planes)
    assert recall >= 0.9, recall


def test_embedding_near_dup_lsh_equals_exact(spark):
    """On true near-duplicates (planted jittered copies, cos >= ~0.98) the
    multi-band LSH blocking finds EXACTLY the grid-exact pair set — no false
    positives (exact verify) and no misses at the default band sizing."""
    import pandas as pd
    from gmx.textops.similarity import embedding_near_dup, embedding_near_dup_lsh

    rng = np.random.default_rng(7)
    base_vecs = rng.normal(size=(60, 32)).astype(np.float64)
    base_vecs /= np.linalg.norm(base_vecs, axis=1, keepdims=True)
    rows = [(i, base_vecs[i].astype(np.float32).tolist()) for i in range(60)]
    # plant 20 near-dups: jittered copies of the first 20 vectors
    for i in range(20):
        v = base_vecs[i] + rng.normal(scale=0.02, size=32)
        v /= np.linalg.norm(v)
        rows.append((100 + i, v.astype(np.float32).tolist()))
    emb = spark.createDataFrame(
        pd.DataFrame(rows, columns=["vec_id", "embedding"])
    )
    exact = {(r.a_id, r.b_id)
             for r in embedding_near_dup(emb, threshold_hundredths=90).collect()}
    lsh = {(r.a_id, r.b_id)
           for r in embedding_near_dup_lsh(emb, threshold_hundredths=90).collect()}
    assert len(exact) >= 20  # the planted pairs qualify
    assert lsh == exact


def test_embedding_near_dup_plan_has_no_cartesian(spark, sf_dir):
    """The gated exact path must be a grid-blocked equi-join, not a
    cartesian/broadcast-nested-loop over a_id < b_id."""
    from gmx.textops.similarity import embedding_near_dup

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    plan = embedding_near_dup(emb)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ann_ivf_recall_vs_exact(spark, sf_dir):
    from gmx.textops.similarity import ann_ivf_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    exact = {(r.query_id, r.neighbor_id) for r in cosine_topk(emb).collect()}
    approx_rows = ann_ivf_topk(emb, lists=8, nprobe=4).collect()
    approx = {(r.query_id, r.neighbor_id) for r in approx_rows}
    recall = len(exact & approx) / len(exact)
    # probing half of 8 lists must recover a solid share of true neighbors;
    # stride-sampled centroids are deterministic, so this is a fixed number
    assert recall >= 0.4, recall
    # each query returns exactly k ranked rows (corpus fan-out is 1 per list,
    # so probing can only shrink the candidate set, never duplicate it)
    from collections import Counter
    per_q = Counter(r.query_id for r in approx_rows)
    assert all(c <= 5 for c in per_q.values())


def test_ann_ivf_trained_centroids_improve_recall(spark, sf_dir):
    """A few distributed Lloyd iterations refine the stride-sampled coarse
    quantizer: recall vs exact must be >= the untrained baseline."""
    from gmx.textops.similarity import ann_ivf_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").cache()
    exact = {(r.query_id, r.neighbor_id) for r in cosine_topk(emb).collect()}

    def recall(**kw):
        got = {(r.query_id, r.neighbor_id)
               for r in ann_ivf_topk(emb, lists=8, nprobe=2, **kw).collect()}
        return len(exact & got) / len(exact)

    base = recall()
    trained = recall(train_iters=3)
    assert trained >= base, (trained, base)
    emb.unpersist()


def test_simhash_pairs_complete_vs_bruteforce(spark, docs):
    """The 4x16-bit band join finds EVERY pair within hamming <= 3
    (pigeonhole guarantee, not a probabilistic bound): compare against a
    brute-force popcount over all simhash pairs — planted duplicate and
    near-duplicate texts guarantee hits exist."""
    from itertools import combinations

    from pyspark.sql import functions as F

    from gmx.textops import simhash_buckets, simhash_pairs

    planted = spark.createDataFrame(
        [
            (9_000_001, "alpha beta gamma delta epsilon zeta"),
            (9_000_002, "alpha beta gamma delta epsilon zeta"),  # hamming 0
            (9_000_003, "alpha beta gamma delta epsilon eta"),   # near
        ],
        "doc_id long, text string",
    )
    d = docs.select("doc_id", "text").unionByName(planted)

    sims = {r.doc_id: r.simhash for r in simhash_buckets(d).collect()}
    want = {
        (min(a, b), max(a, b), bin((sims[a] ^ sims[b]) & (2**64 - 1)).count("1"))
        for a, b in combinations(sims, 2)
        if bin((sims[a] ^ sims[b]) & (2**64 - 1)).count("1") <= 3
    }
    assert (9_000_001, 9_000_002, 0) in want  # planted hit really exists
    got = {(r.a_id, r.b_id, r.hamming)
           for r in simhash_pairs(d).collect()}
    assert got == want


def test_dup_clusters_connected_components(spark):
    """Min-label propagation finds exact components, including a long chain
    (forces multiple propagation rounds) and separate components."""
    from gmx.textops.dedup import dup_clusters

    # chain 1-2-3-4-5-6-7 (diameter 6 -> several rounds) + pair 10-11
    pairs = [(i, i + 1) for i in range(1, 7)] + [(10, 11)]
    pdf = spark.createDataFrame(pairs, "a_id long, b_id long")
    got = {(r.doc_id, r.cluster_rep) for r in dup_clusters(pdf).collect()}
    want = {(i, 1) for i in range(1, 8)} | {(10, 10), (11, 10)}
    assert got == want
    # the star loop body computes the identical assignment
    star = {(r.doc_id, r.cluster_rep) for r in dup_clusters(pdf, mode="star").collect()}
    assert star == want


def test_dup_clusters_star_handles_adversarial_chain(spark):
    """A chain of 200 near-dups (min-hop radius 199 — the chained-boilerplate
    shape routine in crawl data): the star body converges in O(log^2 n)
    rounds and assigns one cluster, and a round budget too small for it
    fails LOUDLY, never splitting the component."""
    import pytest

    from gmx.textops.dedup import dup_clusters

    n = 200
    pairs = [(i, i + 1) for i in range(1, n)]
    pdf = spark.createDataFrame(pairs, "a_id long, b_id long")

    with pytest.raises(RuntimeError, match="did not converge"):
        dup_clusters(pdf, max_iters=2, mode="star").collect()

    from gmx.textops import dedup as dedup_mod

    got = {(r.doc_id, r.cluster_rep) for r in dup_clusters(pdf, mode="star", max_iters=12).collect()}
    assert got == {(i, 1) for i in range(1, n + 1)}
    scratch_rounds = dedup_mod._LAST_STAR_ROUNDS
    assert scratch_rounds > 1

    # default auto mode: label budget exhausts, star fallback completes —
    # WARM-STARTED on the label-contracted graph (every path ~12x shorter),
    # so it converges in strictly fewer star rounds than scratch (r4 #4)
    auto = {(r.doc_id, r.cluster_rep) for r in dup_clusters(pdf, max_iters=12).collect()}
    assert auto == got
    assert dedup_mod._LAST_STAR_ROUNDS < scratch_rounds, (
        dedup_mod._LAST_STAR_ROUNDS, scratch_rounds)


def test_dup_clusters_modes_agree_on_random_graph(spark):
    """Both loop bodies produce the same components on a messy graph (cliques,
    stars, chains, shared nodes, reversed/duplicate edges)."""
    from gmx.textops.dedup import dup_clusters

    pairs = (
        [(i, j) for i in range(1, 5) for j in range(i + 1, 5)]  # clique 1-4
        + [(20, 21), (21, 20), (20, 22), (20, 23)]              # star + dup/reversed
        + [(30, 31), (31, 32), (32, 33), (33, 34)]              # chain
        + [(4, 30)]                                             # bridge clique<->chain
    )
    pdf = spark.createDataFrame(pairs, "a_id long, b_id long")
    label = {(r.doc_id, r.cluster_rep) for r in dup_clusters(pdf).collect()}
    star = {(r.doc_id, r.cluster_rep) for r in dup_clusters(pdf, mode="star").collect()}
    assert label == star
    assert {(i, 1) for i in (1, 2, 3, 4, 30, 31, 32, 33, 34)} <= label
    assert {(20, 20), (21, 20), (22, 20), (23, 20)} <= label


def test_stratified_sample_deterministic_and_stratified(spark, sf_dir):
    from gmx.textops.quality import stratified_sample

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    a = {(r.doc_id, r.lang_guess, r.sample_bucket)
         for r in stratified_sample(docs).collect()}
    b = {(r.doc_id, r.lang_guess, r.sample_bucket)
         for r in stratified_sample(docs).collect()}
    assert a == b and len(a) > 0  # pure function of doc_id: reproducible
    # rate monotonicity: a lower default rate yields a subset
    low = {r.doc_id for r in
           stratified_sample(docs, default_per_mille=50).collect()}
    assert low <= {x[0] for x in a}
    # per-stratum override really applies per stratum
    en_only = {r.doc_id for r in
               stratified_sample(docs, rates_per_mille={"en": 1000},
                                 default_per_mille=0).collect()}
    langs = {r.doc_id: r.lang_guess
             for r in stratified_sample(docs, rates_per_mille={}, default_per_mille=1000).collect()}
    assert en_only == {d for d, lg in langs.items() if lg == "en"}


def test_ann_ivf_matches_twin(spark, sf_dir):
    """ann_ivf_topk equals its DuckDB twin untrained and after three Lloyd
    iterations (the contract gate checks one): the batched assignment and
    the integer centroid updates are the twin's arithmetic."""
    import duckdb

    from gmx.oracles import _ivf_twin_sql
    from gmx.textops.similarity import ann_ivf_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    con = duckdb.connect()
    con.sql(f"CREATE VIEW embeddings AS SELECT * FROM '{sf_dir}/embeddings.parquet'")
    for t in (0, 3):
        got = {tuple(r) for r in ann_ivf_topk(emb, train_iters=t).collect()}
        want = set(con.sql(_ivf_twin_sql(train_iters=t)).fetchall())
        assert got == want and len(got) > 0, t


def test_ann_ivf_degenerate_corpora(spark, sf_dir):
    """IVF must survive corpora the stride sample misses, and empty input."""
    from gmx.textops.similarity import ann_ivf_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    small = emb.filter("vec_id >= 1 and vec_id <= 20")
    assert ann_ivf_topk(small, k=3, query_mod=5).count() > 0
    assert ann_ivf_topk(emb.filter("vec_id < 0")).count() == 0


def test_repetition_scores_match_python_oracle(docs):
    """The shuffle-free sorted-run-length pass equals a per-bigram Counter
    recomputation on every corpus doc, plus planted degenerate shapes:
    a fully repetitive doc, an all-distinct doc, a one-token doc (no
    bigrams), and an empty string."""
    import collections

    from gmx.textops import repetition_scores

    spark = docs.sparkSession
    planted = spark.createDataFrame(
        [
            (100001, "spam spam spam spam spam spam"),
            (100002, "a b c d e f g"),
            (100003, "solo"),
            (100004, ""),
        ],
        "doc_id long, text string",
    )
    data = docs.select("doc_id", "text").unionByName(planted)
    got = {
        r.doc_id: (r.n_bigrams, r.top_bigram_per_mille, r.dup_bigram_per_mille)
        for r in repetition_scores(data).collect()
    }
    for r in data.collect():
        t = r.text.split(" ")
        bgs = [t[i] + " " + t[i + 1] for i in range(len(t) - 1)]
        if not bgs:
            assert got[r.doc_id] == (0, 0, 0), r.doc_id
            continue
        c = collections.Counter(bgs)
        n = len(bgs)
        want = (
            n,
            max(c.values()) * 1000 // n,
            sum(v for v in c.values() if v > 1) * 1000 // n,
        )
        assert got[r.doc_id] == want, r.doc_id
    # the planted extremes discriminate: pure repetition -> 1000/1000,
    # all distinct -> floor(1000/n)/0
    assert got[100001] == (5, 1000, 1000)
    assert got[100002] == (6, 166, 0)


def test_repetition_scores_plan_has_no_shuffle(docs):
    """The operator's scale claim, asserted: one Project over the scan —
    no Exchange anywhere in the physical plan."""
    from gmx.textops import repetition_scores

    plan = repetition_scores(docs)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_decontaminate_matches_python_oracle(docs):
    """decontaminate_ngrams equals a set-intersection recomputation, both
    classes (contaminated / clean) appear, and a planted eval copy is
    caught through the external eval_docs path."""
    from gmx.textops import decontaminate_ngrams

    spark = docs.sparkSession
    texts = {r.doc_id: r.text for r in docs.collect()}

    def sh(t):
        w = t.split(" ")
        if len(w) >= 3:
            return set(" ".join(w[i:i + 3]) for i in range(len(w) - 2))
        return {" ".join(w)}

    ev = set().union(*(sh(t) for d, t in texts.items() if d % 20 == 0))
    want = {
        d: len(sh(t) & ev)
        for d, t in texts.items()
        if d % 20 != 0
    }
    got = {r.doc_id: (r.n_hits, r.contaminated)
           for r in decontaminate_ngrams(docs).collect()}
    assert set(got) == set(want)
    for d, n in want.items():
        assert got[d] == (n, int(n > 0)), d
    flags = {v[1] for v in got.values()}
    assert flags == {0, 1}, "gate corpus must carry both classes"

    # external benchmark table: a training doc that copies an eval doc
    # verbatim must flag; unrelated text must not
    some_id = next(iter(texts))
    eval_tbl = spark.createDataFrame(
        [(900001, texts[some_id])], "doc_id long, text string"
    )
    out = {r.doc_id: r.contaminated
           for r in decontaminate_ngrams(docs, eval_docs=eval_tbl).collect()}
    assert out[some_id] == 1
    # broadcast_hits=False takes the shuffle join-back; identical rows
    a = sorted(map(tuple, decontaminate_ngrams(docs).collect()))
    b = sorted(map(tuple, decontaminate_ngrams(docs, broadcast_hits=False).collect()))
    assert a == b


def test_decontaminate_plan_broadcasts_small_sides(docs):
    """Scale claim asserted: both the eval shingle set and the hit counts
    enter their joins as broadcasts — the training side is never the
    shuffled side of a SortMergeJoin."""
    from gmx.textops import decontaminate_ngrams

    plan = decontaminate_ngrams(docs)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
