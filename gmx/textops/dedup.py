"""Deduplication operators: exact, MinHash-LSH, SimHash, n-gram Jaccard.

Scale shapes:
- exact: hash-groupBy on md5 (one shuffle, map-side partial agg)
- MinHash+LSH: shingles -> K minhashes -> B bands -> explode(band keys) ->
  self-join on band key -> candidate pairs -> exact Jaccard verify.  At
  100 TB the band join replaces the quadratic all-pairs comparison; band
  buckets are the shuffle keys (salt-able if a bucket explodes).
- SimHash: 64-bit sign-aggregated token hashes; near-dups share prefix
  buckets.
All hashing is the built-in JVM xxhash64, so results are deterministic and
reproducible without Python in the loop; the DuckDB twins in gmx.oracles
compute the same xxhash64 and gate the whole banding/bucketing/verify
dataflow.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

# fixed odd multipliers for the K minhash permutations (h_i(x) = (a_i*x+b_i) mod M).
# Shingle hashes are first reduced into a 31-bit field so a_i*x never
# overflows int64 under ANSI mode.
MINHASH_PRIME = (1 << 31) - 1

# diagnostics: rounds the most recent _dup_clusters_star call took to
# converge (tests assert the warm-started auto fallback beats scratch)
_LAST_STAR_ROUNDS = 0

def exact_dup_groups(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact duplicate groups: (text_md5, n_docs, min_doc_id)."""

    return (
        docs.groupBy(F.md5(F.col(text_col)).alias("text_md5"))
        .agg(F.count("*").cast("long").alias("n_docs"), F.min("doc_id").alias("min_doc_id"))
    )


def decontaminate_ngrams(
    docs: DataFrame,
    eval_docs: DataFrame | None = None,
    eval_mod: int = 20,
    n: int = 3,
    text_col: str = "text",
    broadcast_hits: bool = True,
) -> DataFrame:
    """Benchmark decontamination (the GPT-3 appendix-C / Pile recipe): flag
    TRAINING documents that share any word ``n``-gram shingle with a
    held-out EVAL set.  Returns (doc_id, n_hits, contaminated) for every
    training doc, where ``n_hits`` counts the doc's DISTINCT shingles that
    appear anywhere in the eval set and ``contaminated`` is the 0/1 drop
    flag a mixing pipeline filters on.

    ``eval_docs``: the benchmark table.  When None, a deterministic corpus
    slice (``doc_id % eval_mod == 0``) stands in as the eval set — the
    remaining docs are the training side — so the driver gate is
    reproducible without external data.

    Scale story: eval sets are tiny next to the training corpus (~1e5
    benchmark docs vs 10^12 training docs), so the DISTINCT eval shingle
    set BROADCASTS; the training side is one explode feeding a map-side
    broadcast hash join, and the per-doc hit counts — non-empty only for
    the rare contaminated docs — broadcast back onto the training ids.
    The 10^12-doc side is never shuffled.  Shares :func:`_shingles` with
    the dedup family so decontamination and dedup can never disagree on
    tokenization.

    ``broadcast_hits``: the join-back of per-doc hit counts assumes
    contamination is RARE (the production case).  On an adversarial corpus
    where most docs overlap the eval set (universal boilerplate), set
    False to route the join-back through an ordinary shuffle equi-join on
    doc_id instead of a driver-sized broadcast — same rows either way."""

    if eval_docs is None:
        eval_docs = docs.filter(F.col("doc_id") % eval_mod == 0)
        train = docs.filter(F.col("doc_id") % eval_mod != 0)
    else:
        train = docs
    ev = eval_docs.select(F.explode(_shingles(text_col, n)).alias("g")).distinct()
    tr = train.select("doc_id", F.explode(_shingles(text_col, n)).alias("g"))
    hits = (
        tr.join(F.broadcast(ev), "g")
        .groupBy("doc_id")
        .agg(F.count("*").cast("long").alias("n_hits"))
    )
    zero = F.lit(0).cast("long")
    if broadcast_hits:
        hits = F.broadcast(hits)
    return (
        train.select("doc_id")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_hits"), zero).alias("n_hits"),
            (F.coalesce(F.col("n_hits"), zero) > 0).cast("long").alias("contaminated"),
        )
    )


def _ngrams(text_col: str, n: int):
    """Ordered word n-gram INSTANCES (duplicates kept, document order);
    empty when the doc has fewer than ``n`` tokens.  The single n-gram
    assembly shared by the dedup/decontamination shingles and the
    repetition filters — tokenization changes happen in exactly one
    place."""

    toks = F.split(F.col(text_col), " ")
    k = F.greatest(F.size(toks) - F.lit(n - 1), F.lit(0))
    return F.transform(
        F.slice(toks, 1, k),
        lambda _t, i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
    )


def _shingles(text_col: str, n: int = 3):
    """Word n-gram shingle array (distinct), built with JVM expressions;
    docs shorter than ``n`` tokens contribute their whole text as the one
    shingle (so every doc has a non-empty shingle set)."""

    toks = F.split(F.col(text_col), " ")
    return F.array_distinct(
        F.when(F.size(toks) >= n, _ngrams(text_col, n)).otherwise(
            F.array(F.concat_ws(" ", toks))
        )
    )


def minhash_pairs(
    docs: DataFrame,
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    shingle: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """LSH candidate generation + exact Jaccard verification.

    bands x rows layout: docs sharing any band's row-hash tuple become
    candidates; candidates are verified with exact shingle Jaccard via an
    array intersection.  Returns (a_id, b_id, jaccard_per_mille).

    The band join moves keys only, (doc_id, band key) ~16 B/doc/band;
    deduped candidate PAIRS then join the shingle arrays back by doc id
    (:func:`_jaccard_pairs`), so document bytes move once per candidate
    side, not once per band.  Carrying the arrays through the band shuffle
    instead would ship ~10 PB at 10^12 docs (PLANS §11).
    """

    rows = num_hashes // bands
    # materialize shingles then hashes in separate projections so the hash
    # array is computed once and reused by all K permutations (CSE-friendly)
    d = (
        docs.select("doc_id", _shingles(text_col, shingle).alias("shingles"))
        .withColumn(
            "hashes",
            F.transform(
                "shingles", lambda s: F.pmod(F.xxhash64(s), F.lit(MINHASH_PRIME).cast("long"))
            ),
        )
        .withColumn(
            "sig",
            F.array(*[
                F.array_min(
                    F.transform(
                        F.col("hashes"),
                        lambda h: F.pmod(
                            h * F.lit(2 * i + 1).cast("long") + F.lit(7 * i + 3).cast("long"),
                            F.lit(MINHASH_PRIME).cast("long"),
                        ),
                    )
                )
                for i in range(num_hashes)
            ]),
        )
    )

    band_keys = F.array(*[
        F.xxhash64(F.lit(b), *[F.element_at("sig", b * rows + r + 1) for r in range(rows)])
        for b in range(bands)
    ])
    keys = d.select("doc_id", F.explode(band_keys).alias("key"))
    return _jaccard_pairs(keys, d, threshold)


def ngram_jaccard_pairs(
    docs: DataFrame,
    text_col: str = "text",
    shingle: int = 3,
    threshold: float = 0.5,
    df_cap: int = 10_000,
) -> DataFrame:
    """N-gram Jaccard near-dup pairs via a df-pruned shingle inverted index.

    Candidate generation: explode shingles -> drop *stop shingles* (document
    frequency > ``df_cap``) -> self-join on shingle.  The df prune bounds the
    fan-out of any single shuffle key at ``df_cap`` rows, so one
    corpus-frequent shingle can no longer make a key quadratic (standard
    inverted-index pruning).  The hot-shingle set has at most
    total_occurrences/df_cap entries — tiny — and rides a broadcast anti-join.

    Verification is EXACT: the full (unpruned) shingle arrays are joined
    back onto the candidate pairs, and each pair's Jaccard is computed with
    array_intersect over them — pruning can never produce a false positive or
    a wrong score.  The only approximation is a missed pair whose *entire*
    intersection is stop shingles; with Jaccard >= t a pair shares at least
    t/(1+t)*(|A|+|B|) shingles, so this needs that many corpus-hot n-grams in
    one document — document + cap choice make it negligible, and the planted
    hot-shingle test pins the behavior.

    The inverted index carries KEYS ONLY, (doc_id, shingle), as in
    :func:`minhash_pairs`: each document's array moves once per candidate
    side instead of once per shingle.  Carrying the arrays through the
    explode would ship S copies of a doc's S-element array into the
    self-join — O(S²) bytes per doc."""

    sh = _shingles(text_col, shingle)
    base = docs.select("doc_id", sh.alias("shingles"))
    # df from a lean (shingle-only) projection so the count shuffle carries
    # no arrays; distinct-per-doc shingles make count(*) the document freq
    hot = (
        base.select(F.explode("shingles").alias("key"))
        .groupBy("key")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") > df_cap)
        .select("key")
    )
    keys = (
        base.select("doc_id", F.explode("shingles").alias("key"))
        .join(F.broadcast(hot), "key", "left_anti")
    )
    return _jaccard_pairs(keys, base, threshold)


def _jaccard_pairs(keys: DataFrame, shingles: DataFrame, threshold: float) -> DataFrame:
    """The shared verify of the band-join dedup operators: a keys-only
    self-join of (doc_id, key) on key with a.doc_id < b.doc_id, deduped to
    candidate pairs, then each side's (doc_id, shingles) array joined back
    by id and the exact Jaccard kept at ``threshold``.  Returns (a_id,
    b_id, jaccard_per_mille)."""

    a, b = keys.alias("a"), keys.alias("b")
    pairs = (
        a.join(b, (F.col("a.key") == F.col("b.key")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id"))
        .dropDuplicates(["a_id", "b_id"])
    )
    cand = (
        pairs.join(shingles.select(F.col("doc_id").alias("a_id"), F.col("shingles").alias("sa")), "a_id")
        .join(shingles.select(F.col("doc_id").alias("b_id"), F.col("shingles").alias("sb")), "b_id")
    )
    inter = F.size(F.array_intersect("sa", "sb"))
    union = F.size("sa") + F.size("sb") - inter
    jac = (inter.cast("long") * 1000 / union).cast("long")
    return (
        cand.select("a_id", "b_id", jac.alias("jaccard_per_mille"))
        .filter(F.col("jaccard_per_mille") >= int(threshold * 1000))
    )


def dup_clusters(pairs: DataFrame, max_iters: int = 20, mode: str = "auto") -> DataFrame:
    """Connected components over near-duplicate pairs: (doc_id, cluster_rep)
    with cluster_rep = the smallest doc id in the component (by the id
    column's natural ordering).  A dedup PIPELINE needs cluster assignment, not just pairs —
    keep-one-per-cluster is a filter on ``doc_id != cluster_rep``.

    Two loop bodies, identical results (pytest-pinned equal):

    - ``mode='auto'`` (default): label propagation — each round every node
      takes the minimum of its own label and its neighbors' labels (one
      equi-join + map-side-combined min agg per round), terminating when a
      round changes nothing (cheap ``limit(1).isEmpty`` probe).  Rounds
      needed = graph diameter; near-dup clusters are shallow (most are
      cliques or stars from one shared band), so this converges in 2-4
      rounds.  If the round budget exhausts (a deep component), it FALLS
      BACK to the star body instead of aborting: the common case stays
      cheap and the adversarial case stays correct.  The fallback is
      WARM-STARTED: each (node, partial-label) pair is a max_iters-hop
      shortcut edge unioned into the star input, so the star rounds see an
      effective depth ~max_iters times smaller — label-propagation work is
      reused, not discarded.  Correct because a label is always a node of
      the same component (labels only travel along edges), so shortcuts
      change no component; the star body's own O(log^2 n) convergence then
      yields the identical minima (round count asserted strictly below
      scratch in tests).
    - ``mode='star'``: large-star/small-star alternation (Kiveris et al.,
      "Connected Components in MapReduce and Beyond", SoCC'14) —
      O(log^2 n) rounds regardless of diameter, the right body for
      adversarial long chains (chained boilerplate near-dups in crawl
      data), where label propagation needs diameter rounds.  Each
      half-round is one groupBy-min + one equi-join over the (shrinking)
      edge set.  It raises loudly (RuntimeError) if ``max_iters`` rounds
      do not converge — never a silently split component.

    Only documents that appear in some pair are emitted (singletons are
    their own cluster by definition — emitting 10^12 identity rows would
    dwarf the real output)."""

    if mode == "star":
        return _dup_clusters_star(pairs, max_iters)
    sym = pairs.select(F.col("a_id").alias("src"), F.col("b_id").alias("dst"))
    edges = sym.unionByName(
        sym.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).persist()
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("lbl", F.col("node"))
        .persist()
    )
    seed_labels = labels  # the only persist()-backed generation (see below)
    converged = False
    for _ in range(max_iters):
        nbr_min = (
            edges.join(
                labels.select(F.col("node").alias("dst"), "lbl"), "dst"
            )
            .groupBy("src")
            .agg(F.min("lbl").alias("nbr_lbl"))
            .select(F.col("src").alias("node"), "nbr_lbl")
        )
        # localCheckpoint (not persist): each round's plan references the
        # previous round's twice, so without lineage truncation the logical
        # plan grows 2^rounds and Catalyst OOMs planning round ~15 — the
        # standard iterative-algorithm pattern (GraphFrames does the same).
        # Production note: localCheckpoint stores partitions on executors
        # (re-run the job on executor loss); a reliable checkpoint dir is
        # the durable alternative.
        new_labels = (
            labels.join(nbr_min, "node", "left")
            .select(
                "node",
                F.least(F.col("lbl"), F.coalesce("nbr_lbl", F.col("lbl"))).alias("lbl"),
            )
            .localCheckpoint()
        )
        converged = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.lbl") != F.col("o.lbl"))
            .limit(1)
            .isEmpty()
        )
        # no unpersist on the outgoing generation here: every post-seed
        # labels is localCheckpoint-backed, and a Dataset unpersist() does
        # NOT free a checkpointed RDD (it isn't in the cache manager) —
        # dropping the Python reference lets ContextCleaner GC release the
        # executor blocks, which is the supported path (ADVICE r4)
        labels = new_labels
        if converged:
            break
    seed_labels.unpersist()
    if converged:
        out = labels.select(F.col("node").alias("doc_id"), F.col("lbl").alias("cluster_rep"))
    else:
        # exiting via range exhaustion means labels are still moving: some
        # component's min-hop radius exceeds max_iters.  The diameter-proof
        # star body takes over, WARM-STARTED: every (node, partial-label)
        # pair is a max_iters-hop SHORTCUT edge (the label is a node of the
        # same component — labels only travel along edges), so unioning
        # them into the star input cuts the effective depth by ~max_iters
        # and the star rounds with it (round-count asserted < scratch in
        # tests).  Components are unchanged (shortcuts connect
        # already-connected nodes), so the result is identical to scratch.
        shortcuts = labels.filter(F.col("node") != F.col("lbl")).select(
            F.col("node").alias("a_id"), F.col("lbl").alias("b_id")
        )
        warm = pairs.select("a_id", "b_id").unionByName(shortcuts)
        # the star body persists + counts its input eagerly at entry, so
        # the label checkpoint is read exactly once more
        out = _dup_clusters_star(warm, max_iters)
    edges.unpersist()
    return out


def _dup_clusters_star(pairs: DataFrame, max_iters: int = 20) -> DataFrame:
    """Large-star/small-star alternation (Kiveris et al., SoCC'14).

    Invariant: the edge set is kept in child>parent orientation
    (``u`` > ``v``), deduped.  One round =

    - large-star: for every node, hang all strictly-LARGER neighbors onto
      m = min(neighborhood ∪ self) — one symmetrized groupBy-min + join;
    - small-star: for every node, hang itself and all smaller neighbors
      onto m = min(smaller-neighborhood ∪ self) — one groupBy-min + join
      on the already-oriented edges.

    Both steps strictly preserve connectivity and monotonically lower
    parents, converging to stars (every node points directly at its
    component min) in O(log^2 n) rounds.  Convergence is detected by exact
    edge-set equality (count + exceptAll probe — sound, never heuristic);
    exhaustion of ``max_iters`` raises rather than emitting split
    components."""

    global _LAST_STAR_ROUNDS
    edges = (
        pairs.select(
            F.greatest("a_id", "b_id").alias("u"), F.least("a_id", "b_id").alias("v")
        )
        .filter(F.col("u") != F.col("v"))
        .dropDuplicates(["u", "v"])
        .persist()
    )
    seed_edges = edges  # the only persist()-backed generation (see loop note)
    n_edges = edges.count()

    def large_star(e: DataFrame) -> DataFrame:
        nbr = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        m = nbr.groupBy("u").agg(F.min("v").alias("mn"))
        m = m.select("u", F.least("u", "mn").alias("m"))
        # emitted (dst > u >= m): orientation child>parent holds by design
        return (
            nbr.join(m, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .dropDuplicates(["u", "v"])
        )

    def small_star(e: DataFrame) -> DataFrame:
        # e is (u > v): v ranges over the not-larger neighborhood already
        m = e.groupBy("u").agg(F.min("v").alias("m"))  # m < u always
        hang_nbrs = (
            e.join(m, "u")
            .filter(F.col("v") != F.col("m"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        hang_self = m.select("u", F.col("m").alias("v"))
        return hang_nbrs.unionByName(hang_self).dropDuplicates(["u", "v"])

    converged = False
    rounds = 0
    for _ in range(max_iters):
        # localCheckpoint truncates lineage: one round references the prior
        # edge set ~6x, so composed plans would grow 6^rounds (see the
        # label-propagation comment; same GraphFrames-style pattern)
        new_edges = small_star(large_star(edges)).localCheckpoint()
        rounds += 1
        n_new = new_edges.count()
        converged = (
            n_new == n_edges
            and new_edges.exceptAll(edges).limit(1).isEmpty()
        )
        # post-seed generations are localCheckpoint-backed: Dataset
        # unpersist() would be a no-op on them (not in the cache manager);
        # dropping the reference lets ContextCleaner release the blocks
        # (ADVICE r4) — only the persisted seed needs an explicit free
        edges, n_edges = new_edges, n_new
        if converged:
            break
    seed_edges.unpersist()
    _LAST_STAR_ROUNDS = rounds
    if not converged:
        raise RuntimeError(
            f"dup_clusters(mode='star') did not converge within "
            f"max_iters={max_iters} rounds"
        )
    # fixpoint edges are stars: u -> component min; roots label themselves
    out = (
        edges.select(F.col("u").alias("doc_id"), F.col("v").alias("lbl"))
        .unionByName(edges.select(F.col("v").alias("doc_id"), F.col("v").alias("lbl")))
        .groupBy("doc_id")
        .agg(F.min("lbl").alias("cluster_rep"))
    )
    return out


def simhash_pairs(
    docs: DataFrame,
    text_col: str = "text",
    max_hamming: int = 3,
) -> DataFrame:
    """SimHash near-duplicate PAIRS: (a_id, b_id, hamming) with
    popcount(simhash_a XOR simhash_b) <= ``max_hamming``.

    Candidate generation blocks on the four disjoint 16-bit bands of the
    64-bit simhash (band-tagged keys -> explode -> equi-join): by
    pigeonhole, a pair differing in at most 3 bits agrees on at least one
    band, so recall is EXACTLY 1.0 for ``max_hamming`` <= 3 — not a
    probabilistic LSH bound (asserted against brute force in tests).
    Above 3 the same join runs but recall is no longer guaranteed.
    Verification is the exact popcount on the pair — one bit_count(xor),
    all JVM expressions; the 8-byte simhash rides the band explode
    (join-back would move more bytes than it saves here)."""

    sh = simhash_buckets(docs, text_col).select("doc_id", "simhash")
    bands = F.array(*[
        F.lit(b << 16).cast("long")
        + F.shiftrightunsigned("simhash", 16 * b).bitwiseAND(F.lit(0xFFFF).cast("long"))
        for b in range(4)
    ])
    keys = sh.select("doc_id", "simhash", F.explode(bands).alias("key"))
    a, b = keys.alias("a"), keys.alias("b")
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).cast("long")
    return (
        a.join(b, (F.col("a.key") == F.col("b.key")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(
            F.col("a.doc_id").alias("a_id"),
            F.col("b.doc_id").alias("b_id"),
            ham.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["a_id", "b_id"])
    )


def simhash_buckets(
    docs: DataFrame, text_col: str = "text", prefix_bits: int = 16
) -> DataFrame:
    """64-bit SimHash per doc + a prefix bucket for near-dup blocking.

    Bit b of the simhash is the sign of sum over tokens of (+1/-1) depending
    on bit b of xxhash64(token) — computed with aggregate() over the token
    array, entirely JVM-side.  Returns (doc_id, simhash, bucket)."""

    th = F.transform(F.split(F.col(text_col), " "), lambda t: F.xxhash64(t))

    def bit_sum(b: int):
        return F.aggregate(
            th,
            F.lit(0).cast("long"),
            lambda acc, h: acc
            + F.when(F.shiftright(h, b).bitwiseAND(F.lit(1).cast("long")) == 1, F.lit(1)).otherwise(F.lit(-1)),
        )

    sim = F.lit(0).cast("long")
    for b in range(64):
        sim = sim + F.when(bit_sum(b) > 0, F.lit(1).cast("long") * (1 << b) if b < 63 else F.lit(-(1 << 63)).cast("long")).otherwise(F.lit(0).cast("long"))
    bucket = F.shiftrightunsigned(sim, 64 - prefix_bits)
    return docs.select("doc_id", sim.alias("simhash"), bucket.alias("bucket"))
