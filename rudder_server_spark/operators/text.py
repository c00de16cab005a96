"""Text-analysis operators for a training-data pipeline.

All hot-path expressions are built-in `pyspark.sql.functions` (JVM-side,
whole-stage-codegen) — no Python UDFs. Each transform is a narrow map over
the documents table, so it scales embarrassingly at 100 TB: no shuffle at
all until an aggregation is requested.

These go beyond the reference's surface (rudder-server has no document
processing) per the project charter; the heuristics are standard public
ones (stopword-ratio language ID, length/punctuation quality scores,
whitespace+regex tokenization, content fingerprinting).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

# Tiny per-language stopword marker sets (public, frequency-based).
LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "is"],
    "de": ["der", "die", "und", "ist", "das"],
    "fr": ["le", "la", "et", "les", "des"],
    "es": ["el", "la", "que", "los", "una"],
}

# BPE-ish token splitter: words, numbers, or single non-space symbols.
TOKEN_REGEX = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def marker_hits(text: Column, lang: str) -> Column:
    """Count of marker-word occurrences for one language.

    Defined as exact-equality hits over whitespace-split lowercase tokens —
    the same definition is SQL-expressible in the DuckDB oracle
    (len(list_filter(string_split_regex(...), ...))). Implemented as ONE
    codegen'd regex per language — a token equals a marker word iff the
    word appears bounded by whitespace/string edges — instead of
    per-word interpreted `F.filter` folds over the token array (the HOF
    lesson, SCALE.md round 3: 20 interpreted lambdas per row across the
    four languages on the corpus-wide lang-id path).
    """
    words = "|".join(LANG_MARKERS[lang])
    pat = r"(?:^|(?<=\s))(?:" + words + r")(?=\s|$)"
    return F.size(F.regexp_extract_all(F.lower(text), F.lit(pat), 0))


def lang_id(text: Column) -> Column:
    """N-gram/stopword heuristic language ID: argmax of marker hits, 'und' if none."""
    scores = [(lang, marker_hits(text, lang)) for lang in sorted(LANG_MARKERS)]
    best = F.greatest(*[s for _, s in scores])
    out = F.lit("und")
    # reversed so that on ties the alphabetically-first language wins
    for lang, s in reversed(scores):
        out = F.when((best > 0) & (s == best), F.lit(lang)).otherwise(out)
    return out


def token_count(text: Column) -> Column:
    """Whitespace+regex token count (BPE-ish word/number/symbol split)."""
    return F.size(F.regexp_extract_all(text, F.lit(TOKEN_REGEX), 0))


def fingerprint(text: Column) -> Column:
    """Deterministic document fingerprint: md5 of the normalized text.

    (Rolling-hash shingle fingerprints live in operators/dedup.py; md5 is the
    portable whole-document fingerprint both engines share.)
    """
    return F.md5(F.lower(F.regexp_replace(text, "[^A-Za-z0-9 ]", "")))


def repetition_features(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", keep_cols: tuple = ("lang",)
) -> DataFrame:
    """Gopher-style within-document repetition features (Rae et al. 2021,
    "Scaling Language Models: Methods, Analysis & Insights from Training
    Gopher", repetition filters C.1): per document, the fraction of word
    2-grams occupied by the single most frequent 2-gram, and the
    distinct-token ratio. Heavily repetitive documents (boilerplate, keyword
    stuffing, generation loops) score high top-bigram fraction / low
    distinct ratio and get filtered before training.

    Shape at scale: one explode of non-distinct bigrams + two partial-agg
    shuffles keyed by doc id — no corpus-wide state, embarrassingly
    parallel. All expressions are codegen'd built-ins.
    """
    norm = F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " ")
    toks = F.split(norm, " ")
    # non-distinct bigram occurrences via zero-width lookahead (same trick
    # as dedup.shingles, but keeping duplicates — counts matter here)
    bigrams = F.regexp_extract_all(norm, F.lit(r"(?=\b([^ ]+ [^ ]+))"), 1)
    base = df.select(
        F.col(id_col).alias("sid"),
        *[F.col(c) for c in keep_cols],
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct_tokens"),
        F.explode(bigrams).alias("g"),
    )
    per_gram = base.groupBy("sid", "g").agg(
        F.count("*").alias("c"),
        *[F.first(c).alias(c) for c in keep_cols],
        F.first("n_tokens").alias("n_tokens"),
        F.first("n_distinct_tokens").alias("n_distinct_tokens"),
    )
    return per_gram.groupBy("sid").agg(
        *[F.first(c).alias(c) for c in keep_cols],
        F.first("n_tokens").alias("n_tokens"),
        F.first("n_distinct_tokens").alias("n_distinct_tokens"),
        F.max("c").alias("top_bigram_cnt"),
        F.sum("c").alias("bigram_cnt"),
    )


def quality_filter(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Composite document-quality verdicts (Gopher/C4-style rule battery,
    Rae et al. 2021 C.1 / Raffel et al. 2020 §2.2, thresholds adapted to the
    short synthetic fixture docs): one boolean per rule plus the overall
    verdict —

      pass_len      10 ≤ regex-token count ≤ 100000
      pass_wordlen  2 ≤ chars per token ≤ 15  (mean-word-length proxy)
      pass_alpha    alphabetic-char ratio ≥ 0.6
      pass_stop     ≥ 1 stopword-marker hit in ANY of the 4 marker sets
                    (language-neutral form of Gopher's ≥2-stopwords rule)
      pass_rep      top-bigram occupancy ≤ 0.2 (repetition_features); docs
                    with < 2 whitespace tokens have no bigrams → vacuous pass

    The per-rule columns (not just the conjunction) are the point: a
    curation pipeline tracks WHICH rule kills a document (filter-reason
    attribution). All rules are narrow codegen'd maps except pass_rep's
    doc-keyed bigram aggs; the join back is id-keyed — linear at 100 TB.
    """
    t = F.col(text_col)
    n_chars = F.length(t)
    n_alpha = F.length(F.regexp_replace(t, "[^A-Za-z]", ""))
    n_tokens = token_count(t)
    stop_any = F.greatest(*[marker_hits(t, lang) for lang in sorted(LANG_MARKERS)])
    mean_len = n_chars.cast("double") / F.greatest(n_tokens, F.lit(1))
    base = df.select(
        "*",
        ((n_tokens >= 10) & (n_tokens <= 100000)).alias("pass_len"),
        ((mean_len >= 2.0) & (mean_len <= 15.0)).alias("pass_wordlen"),
        (n_alpha.cast("double") / F.greatest(n_chars, F.lit(1)) >= 0.6).alias("pass_alpha"),
        (stop_any >= 1).alias("pass_stop"),
    )
    rep = repetition_features(df, id_col=id_col, text_col=text_col, keep_cols=()).select(
        F.col("sid").alias(id_col),
        (F.col("top_bigram_cnt").cast("double") / F.col("bigram_cnt") <= 0.2).alias("_pr"),
    )
    return (
        base.join(rep, id_col, "left")
        .withColumn("pass_rep", F.coalesce(F.col("_pr"), F.lit(True)))
        .drop("_pr")
        .withColumn(
            "pass_all",
            F.col("pass_len") & F.col("pass_wordlen") & F.col("pass_alpha")
            & F.col("pass_stop") & F.col("pass_rep"),
        )
    )


# Public email pattern (same RE2/Java-compatible subset in both engines).
EMAIL_REGEX = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"


def pii_email_features(df: DataFrame, text_col: str = "payload") -> DataFrame:
    """PII scrub features: per row, the number of email addresses found in
    ``text_col`` and the redacted text with every address replaced by
    ``[EMAIL]`` (the standard pre-training PII pass). Narrow codegen'd map —
    free at 100 TB; the counts aggregate map-side.
    """
    t = F.col(text_col)
    return df.select(
        "*",
        F.regexp_count(t, F.lit(EMAIL_REGEX)).alias("pii_email_cnt"),
        F.regexp_replace(t, EMAIL_REGEX, "[EMAIL]").alias("pii_redacted"),
    )


def hash_split(
    df: DataFrame,
    key_col: str = "doc_id",
    splits: dict | None = None,
) -> DataFrame:
    """Deterministic train/val/test assignment by content-independent hash.

    A training-data curation primitive with no reference counterpart: each
    row lands in a named split according to its md5(key) bucket out of 16
    (first hex nibble), so the assignment is stable across runs, engines,
    partitionings, and cluster sizes — resharding or re-ingesting the corpus
    never moves a document between train and eval (leakage safety). Pure
    codegen'd expressions; at 100 TB this is a free narrow map.

    ``splits`` maps name → number of 16ths (must sum to ≤16; remainder goes
    to the FIRST split). Default: {"train": 14, "val": 1, "test": 1}.
    """
    splits = splits or {"train": 14, "val": 1, "test": 1}
    nibble = F.conv(F.substring(F.md5(F.col(key_col).cast("string")), 1, 1), 16, 10).cast("int")
    bounds = []
    lo = 0
    for name, width in splits.items():
        bounds.append((name, lo, lo + width))
        lo += width
    expr = F.lit(next(iter(splits)))
    for name, a, b in bounds[1:]:
        expr = F.when((nibble >= a) & (nibble < b), F.lit(name)).otherwise(expr)
    return df.withColumn("split", expr)


def token_table(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(id, token) rows — the lowercase BPE-ish token explode t13/t29 build
    on (one codegen'd regexp + explode, no shuffle)."""
    return df.select(
        F.col(id_col),
        F.explode(
            F.regexp_extract_all(
                F.lower(F.col(text_col)), F.lit(r"[a-z]+|[0-9]+|[^a-z0-9 \t\n\r]"), 0
            )
        ).alias("token"),
    )


def vocab_coverage(
    df: DataFrame,
    vocab: DataFrame | None = None,
    vocab_size: int = 100,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document vocabulary coverage: token count, OOV count, OOV rate
    against a vocabulary (default: the corpus top-``vocab_size`` tokens —
    the t13 vocabulary-building primitive).

    The check a training pipeline runs before committing to a tokenizer:
    what fraction of each document falls outside the vocabulary. The
    vocabulary is bounded (V rows) and BROADCAST, so the coverage pass is
    one explode + map-side join + one groupBy(id) shuffle. At 100 TB the
    vocab is a precomputed artifact (like t24's fingerprint index) passed
    in via ``vocab``, not re-derived per run — deriving it here costs a
    second pass over the token explode.
    """
    toks = token_table(df, id_col, text_col)
    if vocab is None:
        vocab = (
            toks.groupBy("token")
            .agg(F.count("*").alias("_c"))
            .orderBy(F.desc("_c"), "token")
            .limit(vocab_size)
            .select("token")
        )
    hit = toks.join(
        F.broadcast(vocab.withColumn("_in", F.lit(1))), "token", "left"
    )
    oov = F.sum(F.when(F.col("_in").isNull(), 1).otherwise(0))
    return hit.groupBy(id_col).agg(
        F.count("*").alias("n_tok"),
        oov.alias("n_oov"),
        F.round(oov.cast("double") / F.count("*"), 6).cast("double").alias("oov_rate"),
    )


def tfidf_keywords(
    df: DataFrame,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    score_round: int = 6,
) -> DataFrame:
    """Top-k TF-IDF keywords per document — the classic salience ranking
    (Sparck Jones 1972) behind keyword extraction, topic labeling, and
    lightweight feature weighting in curation pipelines.

    tf = term count in the doc; idf = ln(N / df) over exact document
    frequency; score = tf * idf rounded to ``score_round`` (ln/multiply
    agree across engines at this grain). Ties break by term ascending, so
    the top-k is fully deterministic.

    Scale shape: one (doc, term) count aggregate (map-side combined),
    ONE reuse of that frame for document frequency (tf rows are already
    distinct per doc-term, so df is a plain count — never a
    count-distinct Expand over the token stream), a broadcast join of
    the bounded term dictionary back onto tf, and a per-doc top-k window.
    The token explode is linear; nothing is quadratic, nothing collects.
    N comes from one bounded count.
    """
    from pyspark.sql import Window

    n_docs = df.count()
    toks = df.select(
        F.col(id_col),
        F.explode(
            F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(r"[a-z]+"), 0)
        ).alias("term"),
    )
    tf = toks.groupBy(id_col, "term").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    scored = tf.join(F.broadcast(dfreq), "term").select(
        id_col,
        "term",
        F.round(
            F.col("tf").cast("double")
            * F.log(F.lit(float(n_docs)) / F.col("df").cast("double")),
            score_round,
        ).alias("score"),
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select(id_col, "rank", "term", "score")
        .orderBy(id_col, "rank")
    )


def chunk_documents(
    df: DataFrame,
    chunk_tokens: int = 64,
    overlap: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Sliding-window document chunking — the RAG/pretraining segmentation
    step: whitespace-token windows of ``chunk_tokens`` advancing by
    ``chunk_tokens - overlap``, each rejoined to text. Returns
    (id_col, chunk_idx, n_tokens, chunk_text); the final window may be
    short (standard tail behavior), empty docs produce no chunks.

    All codegen'd array ops on the pre-split token array (one split per
    doc, windows via sequence+posexplode+slice — no self-join, no UDF);
    the explode multiplies rows by ~n_tokens/stride, which is the
    output's own size, so the operator is output-linear. No shuffle at
    all: chunking is a narrow map-side generate, and downstream writers
    can partition chunks however the sink needs.
    """
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be < chunk_tokens")
    step = chunk_tokens - overlap
    toks = F.when(
        F.length(F.trim(F.col(text_col))) == 0, F.array().cast("array<string>")
    ).otherwise(F.split(F.trim(F.col(text_col)), r"\s+"))
    base = df.select(F.col(id_col), toks.alias("_toks")).withColumn(
        "_n", F.size("_toks")
    )
    starts = F.sequence(F.lit(0), F.greatest(F.col("_n") - 1, F.lit(0)), F.lit(step))
    return (
        base.where(F.col("_n") > 0)
        .select(id_col, "_toks", "_n", F.explode(starts).alias("_s"))
        .where(F.col("_s") < F.col("_n"))
        .select(
            F.col(id_col),
            (F.col("_s") / step).cast("long").alias("chunk_idx"),
            F.least(F.lit(chunk_tokens), F.col("_n") - F.col("_s"))
            .cast("long")
            .alias("n_tokens"),
            F.array_join(
                F.slice(F.col("_toks"), F.col("_s") + 1, F.lit(chunk_tokens)), " "
            ).alias("chunk_text"),
        )
        .orderBy(id_col, "chunk_idx")
    )
