"""Text-analysis operators for training-data pipelines over ``documents``.

All hot-path logic is built-in column expressions (JVM, whole-stage codegen);
nothing here drops to Python.  Deterministic integer/string outputs so results
hash identically across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

# tiny per-language marker lexicons for the n-gram/stopword language heuristic
LANG_MARKERS = {
    "en": ("the", "and", "of", "to", "in"),
    "es": ("el", "la", "de", "que", "los"),
    "de": ("der", "und", "die", "das", "nicht"),
    "fr": ("le", "la", "et", "les", "des"),
}


def token_counts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, n_tokens): whitespace tokenization via split — stays in
    codegen; identical semantics to the oracle's string_split."""

    return docs.select(
        "doc_id", F.size(F.split(F.col(text_col), " ")).cast("long").alias("n_tokens")
    )


def token_counts_regex(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """BPE-ish pre-tokenizer counts: the GPT-2-style pre-tokenization
    classes — letter runs, digit runs, and individual punctuation marks —
    counted with ``regexp_count`` (leftmost non-overlapping, identical
    semantics in Java regex and DuckDB's RE2, so the query is fully
    hash-gated).  This is the subword-budget estimator a training pipeline
    runs BEFORE paying for a real BPE encode: piece counts lower-bound the
    BPE token count (every pre-token piece encodes to >= 1 BPE token, and
    BPE only merges within pieces — a long letter run is several).  Explicit
    space class (not \\s) so both engines agree on the corpus alphabet.
    Returns (doc_id, n_word_pieces, n_number_pieces, n_punct_pieces,
    n_pieces)."""

    words = F.regexp_count(F.col(text_col), F.lit("[A-Za-z]+")).cast("long")
    nums = F.regexp_count(F.col(text_col), F.lit("[0-9]+")).cast("long")
    punct = F.regexp_count(F.col(text_col), F.lit("[^A-Za-z0-9 ]")).cast("long")
    return docs.select(
        "doc_id",
        words.alias("n_word_pieces"),
        nums.alias("n_number_pieces"),
        punct.alias("n_punct_pieces"),
        (words + nums + punct).alias("n_pieces"),
    )


def quality_scores(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic quality features: length, token count, distinct-token ratio
    (per-mille, integer so cross-engine exact)."""

    toks = F.split(F.col(text_col), " ")
    return docs.select(
        "doc_id",
        F.length(text_col).cast("long").alias("n_chars"),
        F.size(toks).cast("long").alias("n_tokens"),
        (F.size(F.array_distinct(toks)).cast("long") * F.lit(1000) / F.size(toks))
        .cast("long")
        .alias("distinct_per_mille"),
    )


def lang_id(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Stopword-vote language heuristic: count marker-token hits per language
    over the token array, argmax (ties by language code order).  Pure
    aggregate expressions — no UDF."""

    toks = F.split(F.col(text_col), " ")
    scored = docs.select(
        "doc_id",
        *[
            F.size(F.filter(toks, lambda t: t.isin(*markers))).alias(f"score_{lang}")
            for lang, markers in LANG_MARKERS.items()
        ],
    )
    langs = list(LANG_MARKERS)
    best = F.greatest(*[F.col(f"score_{lang}") for lang in langs])
    guess = F.lit("und")
    # reversed so earlier languages win ties
    for lang in reversed(langs):
        guess = F.when(F.col(f"score_{lang}") == best, F.lit(lang)).otherwise(guess)
    guess = F.when(best == 0, F.lit("und")).otherwise(guess)
    return scored.select("doc_id", guess.alias("lang_guess"))


def _poly_hash(col, mod: int, base: int = 1000003):
    """fold(codepoints): (acc*base + cp) mod ``mod`` — exact twin of the
    DuckDB list_reduce in gmx.oracles; mod must keep acc*base within int64."""

    return F.aggregate(
        F.split(col, ""),
        F.lit(0).cast("long"),
        lambda acc, c: F.pmod(
            acc * F.lit(base).cast("long") + F.coalesce(F.ascii(c).cast("long"), F.lit(0)),
            F.lit(mod).cast("long"),
        ),
    )


def stratified_sample(
    docs: DataFrame,
    rates_per_mille: dict[str, int] | None = None,
    default_per_mille: int = 100,
    text_col: str = "text",
) -> DataFrame:
    """Deterministic per-stratum sampling for training-data mixes: stratum =
    language guess (``lang_id``), a document is kept when
    ``poly_hash(doc_id) % 1000 < rate(stratum)``.

    Hash-based (not ``df.sample``): the decision is a pure function of
    doc_id, so the sample is reproducible across runs/cluster sizes, stable
    under re-partitioning, and joinable (the same doc is always in or always
    out).  Per-stratum rates are how real pipelines rebalance a corpus (e.g.
    upweight low-resource languages).  Everything is codegen'd expressions;
    the codepoint-polynomial hash is the one :func:`rolling_fingerprint`
    uses.  Returns (doc_id, lang_guess, sample_bucket)."""

    rates = {"en": 500} if rates_per_mille is None else rates_per_mille
    lang = lang_id(docs, text_col)
    bucket = F.pmod(
        _poly_hash(F.col("doc_id").cast("string"), (1 << 31) - 1),
        F.lit(1000).cast("long"),
    )
    rate = F.lit(default_per_mille).cast("long")
    for lg, r in sorted(rates.items()):
        rate = F.when(F.col("lang_guess") == lg, F.lit(r).cast("long")).otherwise(rate)
    return (
        lang.withColumn("sample_bucket", bucket)
        .filter(F.col("sample_bucket") < rate)
        .select("doc_id", "lang_guess", "sample_bucket")
    )


def repetition_scores(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style repetition quality filters over token bigrams: the
    fraction of bigram instances taken by the single most frequent bigram
    (``top_bigram_per_mille`` — boilerplate/template detector) and the
    fraction of bigram instances whose bigram occurs more than once
    (``dup_bigram_per_mille`` — loop/spam detector).  Integer per-mille
    (floor) so results hash identically across engines.

    Scale story: per-document only, so the whole operator is ONE
    shuffle-free Project over the scan — bigrams are built with
    transform/slice, sorted per row, and both statistics come from a single
    run-length pass over the sorted array (F.aggregate): max run = top
    bigram count, and runs longer than 1 sum to the duplicated-instance
    count.  No explode, no groupBy — at 10^12 docs this is a map stage,
    unlike the naive (doc_id, bigram) groupBy which shuffles every token.
    The DuckDB oracle recomputes the same numbers the naive way (GROUP BY
    per bigram), so the gate cross-checks algorithm against algorithm, not
    code against itself.  Returns (doc_id, n_bigrams, top_bigram_per_mille,
    dup_bigram_per_mille)."""

    from gmx.textops.dedup import _ngrams

    # same n-gram assembly as the dedup/decontamination shingles (instances,
    # not distinct) so the whole text-ops family tokenizes identically
    bigrams = _ngrams(text_col, 2)
    acc0 = F.struct(
        # "" can never equal a real bigram (every bigram contains the
        # joining space), so it is a safe first-element sentinel
        F.lit("").alias("prev"),
        F.lit(0).cast("long").alias("run"),
        F.lit(0).cast("long").alias("dup"),
        F.lit(0).cast("long").alias("mx"),
    )

    def step(acc, x):
        same = acc["prev"] == x
        run2 = F.when(same, acc["run"] + 1).otherwise(F.lit(1).cast("long"))
        # second occurrence retro-counts the first instance too (+2), later
        # occurrences add themselves (+1)
        dup2 = (
            F.when(same & (acc["run"] == 1), acc["dup"] + 2)
            .when(same, acc["dup"] + 1)
            .otherwise(acc["dup"])
        )
        return F.struct(
            x.alias("prev"),
            run2.alias("run"),
            dup2.alias("dup"),
            F.greatest(acc["mx"], run2).alias("mx"),
        )

    staged = docs.select(
        "doc_id",
        F.size(bigrams).cast("long").alias("n_bigrams"),
        F.aggregate(F.array_sort(bigrams), acc0, step).alias("rl"),
    )
    nb = F.col("n_bigrams")
    # FLOOR on both engines: DuckDB's CAST(double AS BIGINT) rounds to
    # nearest while Spark's truncates, so the oracle floors explicitly too
    return staged.select(
        "doc_id",
        "n_bigrams",
        F.when(nb > 0, F.floor(F.col("rl.mx") * 1000 / nb))
        .otherwise(F.lit(0).cast("long"))
        .alias("top_bigram_per_mille"),
        F.when(nb > 0, F.floor(F.col("rl.dup") * 1000 / nb))
        .otherwise(F.lit(0).cast("long"))
        .alias("dup_bigram_per_mille"),
    )


def rolling_fingerprint(docs: DataFrame, text_col: str = "text", mod: int = 1 << 40) -> DataFrame:
    """Order-sensitive document fingerprint: polynomial rolling hash over the
    text's unicode codepoints (fp = sum cp_i * B^(n-i) mod 2^40), folded with
    aggregate() — a deterministic cheap content id (distinct from md5:
    stable under our own definition, shardable).  Codepoint arithmetic (not
    crc32/xxhash64) so the DuckDB oracle reproduces it exactly and this is a
    fully hash-gated query.  ``mod`` is capped so acc*base + cp never
    overflows int64 (ANSI mode)."""

    fp = F.when(F.length(text_col) == 0, F.lit(0).cast("long")).otherwise(
        _poly_hash(F.col(text_col), mod)
    )
    return docs.select("doc_id", fp.alias("fingerprint"))
