"""Text-analysis operators for training-data pipelines: language ID,
quality scoring, token counting, document fingerprinting. All JVM-side
built-ins (oracle-checkable); no Python on the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.arrays import bind_array
from ..functions.hashing import seeded_hash

STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "is", "in", "it", "that", "was"],
    "es": ["el", "la", "de", "y", "que", "en", "un", "una", "los", "es"],
    "fr": ["le", "la", "de", "et", "que", "en", "un", "une", "les", "est"],
}


def _stop_hits(words: Column, lang: str) -> Column:
    return F.size(F.filter(words, lambda x: x.isin(*STOPWORDS[lang])))


def lang_id(text_lc: Column) -> Column:
    """n-gram-free stopword-vote language ID: argmax of per-language stopword
    hit counts; 'unknown' when no language scores at all. Deterministic
    tie-break: fixed language order (en, es, fr)."""
    words = F.split(text_lc, " ", -1)
    en, es, fr = (_stop_hits(words, lg) for lg in ("en", "es", "fr"))
    best = F.greatest(en, es, fr)
    return (
        F.when(best <= 0, "unknown")
        .when(en == best, "en")
        .when(es == best, "es")
        .otherwise("fr")
    )


def quality_metrics(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Length / punctuation / stopword quality signals + a composite score
    in [0,1] (heuristic gate for training-data filtering)."""
    lc = F.lower(F.col(text_col))
    words = F.split(lc, " ", -1)
    n_chars = F.length(lc)
    n_words = F.size(words)
    stop_ratio = _stop_hits(words, "en") / n_words
    punct_ratio = F.size(F.regexp_extract_all(lc, F.lit("[^a-z0-9 ]"), 0)) / F.greatest(n_chars, F.lit(1))
    mean_word_len = (n_chars - (n_words - 1)) / n_words
    length_ok = (n_words >= 5) & (n_words <= 5000)
    wordlen_ok = (mean_word_len >= 2.0) & (mean_word_len <= 12.0)
    punct_ok = punct_ratio <= 0.3
    score = (
        length_ok.cast("int") + wordlen_ok.cast("int") + punct_ok.cast("int")
    ) / 3.0
    return df.withColumns(
        {
            "n_chars": n_chars.cast("long"),
            "n_words": n_words.cast("long"),
            "stopword_ratio": F.round(stop_ratio, 4),
            "punct_ratio": F.round(punct_ratio, 4),
            "mean_word_len": F.round(mean_word_len, 2),
            "quality_score": F.round(score, 4),
        }
    )


def token_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Whitespace tokens + BPE-ish regex tokens (letters / digits / other)."""
    lc = F.lower(F.col(text_col))
    return df.withColumns(
        {
            "ws_tokens": F.size(F.split(lc, " ", -1)).cast("long"),
            "re_tokens": F.size(
                F.regexp_extract_all(lc, F.lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), 0)
            ).cast("long"),
        }
    )


def fingerprint(df: DataFrame, text_col: str = "text", window: int = 4) -> DataFrame:
    """Winnowing-style fingerprint: min shingle-hash per window of k-gram
    hashes, reduced to a compact set (robust to small edits — equal
    fingerprint sets => near-identical docs)."""
    lc = F.lower(F.col(text_col))
    words = F.filter(F.split(lc, " ", -1), lambda x: x != "")
    grams = bind_array(
        words,
        lambda w: F.transform(
            F.sequence(F.lit(1), F.greatest(F.size(w) - 2, F.lit(1))),
            lambda i: seeded_hash(F.array_join(F.slice(w, i, 3), " "), "fp:"),
        ),
    )
    mins = bind_array(
        grams,
        lambda g: F.transform(
            F.sequence(F.lit(1), F.greatest(F.size(g) - window + 1, F.lit(1))),
            lambda i: F.array_min(F.slice(g, i, window)),
        ),
    )
    return df.withColumn("fingerprints", F.array_distinct(mins)).withColumn(
        "fingerprint", seeded_hash(F.array_join(F.sort_array("fingerprints").cast("array<string>"), ","), "doc:")
    )


def ngram_list(words: Column, k: int) -> Column:
    """Contiguous word k-grams WITH duplicates (repetition metrics need the
    multiset; dedup's ``word_shingles`` distincts). Docs under k words fall
    back to one whole-text gram, so the list is never empty. ``words`` is
    bound once (bind_array) — slicing it per position inside the transform
    lambda would otherwise re-evaluate the split per gram, O(n^2)/row."""
    return bind_array(
        words,
        lambda w: F.when(
            F.size(w) >= k,
            F.transform(
                F.sequence(F.lit(1), F.size(w) - k + 1),
                lambda i: F.array_join(F.slice(w, i, k), " "),
            ),
        ).otherwise(F.array(F.array_join(w, " "))),
    )


def dup_frac_of(grams: Column) -> Column:
    """Fraction of k-grams that are repeats of an earlier one — the
    duplicate-n-gram share from the published Gopher-style repetition
    filters (Rae et al. 2021; public heuristic). Pure projection."""
    return F.round(F.lit(1.0) - F.size(F.array_distinct(grams)) / F.size(grams), 4)


def top_frac_of(grams: Column) -> Column:
    """Frequency mass of the single most common k-gram (top-n-gram share,
    same published filter family). Computed as the longest run in the
    SORTED gram array via one ``F.aggregate`` fold — O(n log n) per doc
    entirely inside the JVM: no explode, no (doc, gram) shuffle, so the
    100-TB cost stays one scan. NB exact lambda arities (see CLAUDE.md):
    the merge lambda must take exactly (acc, x)."""
    g = F.sort_array(grams)

    def _merge(acc: Column, x: Column) -> Column:
        run = F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
        return F.struct(
            x.alias("prev"),
            run.alias("run"),
            F.greatest(acc["best"], run).alias("best"),
        )

    zero = F.struct(
        F.lit("").alias("prev"),
        F.lit(0).alias("run"),
        F.lit(0).alias("best"),
    )
    best = F.aggregate(g, zero, _merge, lambda acc: acc["best"])
    return F.round(best / F.size(grams), 4)


def repetition_metrics(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style repetition quality signals per doc: ``top_2gram_frac``,
    ``dup_2gram_frac``, ``dup_3gram_frac``. High values mark boilerplate /
    degenerate repetition for training-data filtering.

    The gram arrays are MATERIALIZED in their own projection (withColumns)
    before the metrics reference them: HOF gram construction is non-cheap
    and multiply-referenced, so Catalyst's CollapseProject keeps the two
    Projects separate and each array is built once per row, not once per
    metric (measured 1.5x at sf0.1: 4.65s -> 3.1s for all three columns)."""
    words = F.split(F.lower(F.col(text_col)), " ", -1)
    return (
        df.withColumns(
            {"_gl2": ngram_list(words, 2), "_gl3": ngram_list(words, 3)}
        )
        .withColumns(
            {
                "top_2gram_frac": top_frac_of(F.col("_gl2")),
                "dup_2gram_frac": dup_frac_of(F.col("_gl2")),
                "dup_3gram_frac": dup_frac_of(F.col("_gl3")),
            }
        )
        .drop("_gl2", "_gl3")
    )


def tfidf_doc_scores(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    broadcast_idf: bool = True,
) -> DataFrame:
    """Per-doc TF-IDF aggregates (``tfidf_mean``, ``tfidf_max``,
    ``n_unique_terms``) with the sklearn-style smooth IDF
    ``ln((N+1)/(df_t+1)) + 1`` (public formula) and length-normalized TF.
    Docs with zero non-empty terms are absent (callers left-join).

    Distributed shape — the corpus-statistics round-trip, r07 form: the
    doc length rides the term explode as a per-event column (it is just
    ``size`` of the token array), so the (doc, term) counts carry ``_len``
    for free and the former doc-keyed length aggregation + join — a third
    full corpus explode in the executed plan — disappears. Document
    frequency comes from a SECOND, smaller explode of the per-doc DISTINCT
    term set straight into a term-keyed map-side-combined count (one row
    per (doc, term), never one per token, and no (doc, term) exchange on
    that branch). Two corpus passes, three exchanges total ((doc,term),
    term, doc). A 1-row broadcast for N, then the IDF table joins BACK
    onto the counts. ``broadcast_idf`` fits when the vocabulary obeys
    Heaps' law at the corpus size; at web scale with an unpruned
    vocabulary, pass False and let the term join shuffle (or pre-prune
    with a min-df filter)."""
    words = F.filter(F.split(F.lower(F.col(text_col)), " ", -1), lambda x: x != "")
    tc = (
        # token array materialized in its own Project before the Generate:
        # a sibling size(words) next to explode(words) in one select makes
        # the Generate re-derive the split per output row (measured 8x:
        # 1.66s -> 0.22s on the sf0.1 event explode)
        df.withColumn("_fw", words)
        .select(
            F.col(id_col),
            F.explode(F.col("_fw")).alias("term"),
            F.size(F.col("_fw")).alias("_len"),
        )
        .groupBy(id_col, "term")
        .agg(F.count("*").alias("cnt"), F.first("_len").alias("_len"))
    )
    n_docs = df.select(F.count("*").alias("_n"))
    idf = (
        df.select(F.explode(F.array_distinct(words)).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("_dft"))
        .crossJoin(F.broadcast(n_docs))
        .select(
            "term",
            (F.log((F.col("_n") + 1) / (F.col("_dft") + 1)) + 1).alias("_idf"),
        )
    )
    idf = F.broadcast(idf) if broadcast_idf else idf
    w = (F.col("cnt") / F.col("_len")) * F.col("_idf")
    return (
        tc.join(idf, "term")
        .groupBy(id_col)
        .agg(
            F.round(F.avg(w), 4).alias("tfidf_mean"),
            F.round(F.max(w), 4).alias("tfidf_max"),
            F.count("*").alias("n_unique_terms"),
        )
    )


def _bigram_events(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, prev, cur) bigram events with a BOS context: position 1 pairs
    ``<s>`` with the first token, position i pairs token i-1 with token i.
    Tokens are the literal-space split with empties dropped (the corpus
    tokenization every other text operator here uses). Zero-token docs emit
    no events (callers left-join). Pure projection + one posexplode — no
    shuffle until the caller aggregates; the token array is bound once
    (bind_array) so per-position indexing does not re-split the text."""
    words = F.filter(F.split(F.lower(F.col(text_col)), " ", -1), lambda x: x != "")
    pairs = bind_array(
        words,
        lambda w: F.transform(
            F.sequence(F.lit(1), F.size(w)),
            lambda i: F.struct(
                F.when(i == 1, F.lit("<s>"))
                .otherwise(F.element_at(w, (i - 1).cast("int")))
                .alias("prev"),
                F.element_at(w, i.cast("int")).alias("cur"),
            ),
        ),
    )
    return (
        df.where(F.size(words) >= 1)
        .select(F.col(id_col), F.explode(pairs).alias("_bg"))
        .select(id_col, F.col("_bg.prev").alias("prev"), F.col("_bg.cur").alias("cur"))
    )


def ngram_lm_perplexity(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    train_df: DataFrame | None = None,
    k: float = 0.1,
    broadcast_lm: bool = True,
    cache_registry: list | None = None,
) -> DataFrame:
    """Per-doc perplexity under an add-k-smoothed bigram LM trained on
    ``train_df`` (default: the scored corpus itself) — the CCNet-style
    LM-quality filter for training data (Wenzek et al. 2020: score web text
    with a reference LM, keep/bucket by perplexity; public method. The
    reference engine has no LM tier — this is graft-side training-data
    surface, like the rest of this module).

    Model: P(cur|prev) = (c(prev,cur) + k) / (c(prev) + k*(V+1)) with V =
    distinct training vocabulary (the +1 reserves one smoothing slot for
    unseen words); an unseen context backs off to the uniform 1/(V+1).
    Deterministic — counts and logs only, no sampling.

    Output: (id_col, lm_tokens, lm_logprob, lm_ppl) where lm_logprob =
    sum ln P over the doc's bigram events (BOS-anchored, so every token is
    scored) and lm_ppl = exp(-lm_logprob / lm_tokens). Zero-token docs are
    absent (callers left-join, same convention as tfidf_doc_scores).

    Distributed shape: training is ONE (prev,cur)-keyed shuffle (map-side
    combined count) into a PERSISTED LM table — the train-once/apply-once
    cache every "fit a model, then score with it" pipeline needs, because
    the context totals and the vocab scalar both derive from the bigram
    table and would otherwise each re-execute the whole count subtree
    (i.e. a full extra corpus pass per consumer; Spark only dedupes
    identical subtrees through a cache). The LM is bounded by the
    distinct-bigram count, not the corpus — the same Heaps'-law argument
    that lets ``broadcast_lm`` default True — and persist() is
    MEMORY_AND_DISK, so an unusually fat vocabulary spills instead of
    OOMing. Scoring explodes the scored docs once and joins the LM back:
    2 corpus passes total (count + score). At web scale with an unpruned
    vocabulary pass ``broadcast_lm=False`` and let the (prev,cur) join
    shuffle — the doc-grain agg stays one shuffle either way. The cached
    LM lives until the SparkSession drops it (LRU) — callers scoring many
    corpora against one reference LM amortize it by construction."""
    events = _bigram_events(df, text_col, id_col)
    train_events = (
        events if train_df is None else _bigram_events(train_df, text_col, id_col)
    )
    bigrams = train_events.groupBy("prev", "cur").agg(
        F.count("*").alias("_cpc")
    ).persist()
    if cache_registry is not None:
        # explicit release handle: a long-lived session scoring many corpora
        # accumulates one persisted LM per call until LRU pressure evicts —
        # callers that care pass a list and unpersist() when done scoring
        cache_registry.append(bigrams)
    contexts = bigrams.groupBy("prev").agg(F.sum("_cpc").alias("_cp"))
    # vocab size as a scalar subquery off the persisted (vocab-bounded,
    # never corpus-bounded) LM table: evaluated once at execution, so
    # building the frame runs no Spark job, and unlike a crossJoin of a
    # 1-row frame it puts no BroadcastNestedLoopJoin on the corpus-sized
    # scoring side. A global aggregate always yields one non-null row.
    v = bigrams.agg(F.countDistinct("cur")).scalar()
    logp = F.log(
        (F.coalesce(F.col("_cpc"), F.lit(0)) + k)
        / (F.coalesce(F.col("_cp"), F.lit(0)) + k * (v + 1))
    )
    if train_df is None:
        # SELF-train: every scored bigram event exists in the LM table by
        # construction (same corpus), so the (prev, cur) lookup and the
        # context-total lookup fuse into ONE broadcast join — the contexts
        # attach to the vocab-bounded LM table (tiny x tiny join off the
        # persisted frame), not to the corpus-sized event stream. The
        # coalesces above then never fire but keep the expression
        # identical to the reference-train path.
        lm = bigrams.join(contexts, ["prev"])
        if broadcast_lm:
            lm = F.broadcast(lm)
        scored = events.join(lm, ["prev", "cur"], "left")
    else:
        if broadcast_lm:
            bigrams, contexts = F.broadcast(bigrams), F.broadcast(contexts)
        scored = events.join(bigrams, ["prev", "cur"], "left").join(
            contexts, ["prev"], "left"
        )
    return (
        scored.groupBy(id_col)
        .agg(
            F.count("*").alias("lm_tokens"),
            F.round(F.sum(logp), 4).alias("lm_logprob"),
            F.round(F.exp(-F.sum(logp) / F.count("*")), 4).alias("lm_ppl"),
        )
    )


def with_text_analysis(df: DataFrame, text_col: str = "text") -> DataFrame:
    out = quality_metrics(df, text_col)
    out = token_counts(out, text_col)
    out = repetition_metrics(out, text_col)
    return out.withColumn("lang_pred", lang_id(F.lower(F.col(text_col))))
