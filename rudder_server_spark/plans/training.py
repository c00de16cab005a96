"""Training-data pipeline declared queries (beyond the reference's surface,
per the project charter): dedup tiers, similarity search, text analysis,
multimodal plumbing. Each runs on the documents / embeddings fixtures with a
DuckDB oracle where the semantics are SQL-expressible; approximate operators
(MinHash recall, LSH probing) that cannot be replicated exactly in SQL are
registered with oracle=None → the driver records a rows-only check.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from rudder_server_spark.operators import dedup as D
from rudder_server_spark.operators import similarity as S
from rudder_server_spark.operators import text as X
from rudder_server_spark.operators.multimodal import decode_media
from rudder_server_spark.functions.localframe import local_frame
from rudder_server_spark.plans.registry import register, topk_shape_invariant
from rudder_server_spark.sources.fixtures import fan_out, load_table


def _docs(spark, sf):
    """documents, fanned to cluster width when the file's row-group count
    under-parallelizes the scan (fan_out's footer gate). The driver's
    fixture is a SINGLE row group at every SF, so the heavy per-row text
    stages fused into the scan (shingle/token regex, normalization,
    hashing) otherwise run as ONE task while the other cores idle —
    measured: t2's shingle pass 0.29 s single-task vs ~0.05 s fanned;
    whole-query t2 1.20→1.03 s warm. On a multi-row-group corpus (any
    real deployment; the engine's own rudder_events fixture) this is a
    no-op. Use ONLY for text-heavy builders — for cheap scans the extra
    exchange costs more than single-task saves (measured +0.47 s on a
    lineitem plain aggregate)."""
    import os

    return fan_out(
        load_table(spark, sf, "documents"), spark,
        paths=[os.path.join(sf, "documents.parquet")],
    )


def _emb(spark, sf):
    """embeddings, plain scan. r11 fanned this to cluster width like
    :func:`_docs`; REVERTED in r12 per the driver's ground truth (VERDICT
    r11 "what's wrong" #3): the r11 driver bench read t56 0.66x, and the
    r12 adjacent-pair interleaved A/B (77849b4:bench/compare_ab_r12.json) caught
    the fanned shape in a catastrophic bimodal mode — occasional 7-17 s
    runs (median pair ratio 0.17) that the plain scan never hits. The
    2000-row corpus split 32 ways starves the Arrow kNN scorer's batches;
    the win the fan was meant to buy is below this noise floor."""
    return load_table(spark, sf, "embeddings")

# ---- shared DuckDB SQL fragments (built programmatically so the oracle and
# the Spark implementation share one definition of the heuristics) ----------

_TOKENS = r"string_split_regex(lower(text), '\s+')"


def _hits_sql(lang: str) -> str:
    return " + ".join(
        f"len(list_filter({_TOKENS}, x -> x = '{w}'))" for w in X.LANG_MARKERS[lang]
    )


_LANG_CASE = f"""
    CASE WHEN greatest(h_de, h_en, h_es, h_fr) = 0 THEN 'und'
         WHEN h_de >= h_en AND h_de >= h_es AND h_de >= h_fr THEN 'de'
         WHEN h_en >= h_es AND h_en >= h_fr THEN 'en'
         WHEN h_es >= h_fr THEN 'es'
         ELSE 'fr' END
"""

_JACCARD_CTES = """
    toks AS (
      SELECT doc_id, string_split_regex(lower(text), '\\s+') AS t FROM documents
    ),
    sh AS (
      SELECT DISTINCT doc_id AS sid,
             unnest(list_transform(range(1, greatest(len(t) - 2, 0) + 1),
                    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS sh
      FROM toks
    ),
    sizes AS (SELECT sid, count(*) AS sz FROM sh GROUP BY sid),
    inter AS (
      SELECT x.sid AS a, y.sid AS b, count(*) AS i
      FROM sh x JOIN sh y ON x.sh = y.sh AND x.sid < y.sid
      GROUP BY 1, 2
    ),
    jac AS (
      SELECT a, b, CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) AS jaccard
      FROM inter
      JOIN sizes sa ON sa.sid = a
      JOIN sizes sb ON sb.sid = b
      WHERE CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) >= 0.8
    )
"""

_JACCARD_SQL = f"WITH {_JACCARD_CTES} SELECT a, b, jaccard FROM jac ORDER BY a, b"


# --------------------------------------------------------------------------
@register(
    "t1_dedup_exact",
    """
    SELECT min(doc_id) AS doc_id
    FROM documents
    GROUP BY lower(regexp_replace(text, '[^a-z0-9 ]', '', 'g'))
    ORDER BY doc_id
    """,
    doc="Exact dedup: surviving doc_ids (min per normalized-text group).",
    tags=("training", "dedup"),
)
def t1(spark, sf):
    d = _docs(spark, sf)
    return D.exact_dedup(d).select("doc_id").orderBy("doc_id")


@register(
    "t2_ngram_jaccard",
    _JACCARD_SQL,
    doc="Exact 3-gram-shingle Jaccard pairs ≥ 0.8 (the near-dup oracle tier).",
    tags=("training", "dedup"),
)
def t2(spark, sf):
    d = _docs(spark, sf)
    return D.ngram_jaccard_pairs(d, threshold=0.8).orderBy("a", "b")


@register(
    "t3_minhash_lsh",
    _JACCARD_SQL,
    doc=(
        "MinHash(64)+LSH(16 bands) candidates verified by exact Jaccard ≥ 0.8. "
        "Oracle = exact pairs; identical docs always collide, J≥0.8 pairs missed "
        "with prob ≤ (1-0.8^4)^16 ≈ 2e-4."
    ),
    tags=("training", "dedup"),
)
def t3(spark, sf):
    d = _docs(spark, sf)
    return D.minhash_lsh_pairs(d, threshold=0.8).orderBy("a", "b")


@register(
    "t4_simhash",
    None,  # approximate banding: not SQL-replicable → rows-only check
    doc="SimHash(63-bit) hamming ≤ 3 near-dup pairs (banded candidates).",
    tags=("training", "dedup"),
)
def t4(spark, sf):
    d = _docs(spark, sf)
    return D.simhash_pairs(d, max_hamming=3).orderBy("a", "b")


@register(
    "t5_embedding_neardup",
    """
    SELECT a.vec_id AS a, b.vec_id AS b,
           ROUND(
             list_sum(list_transform(range(1, len(a.embedding)+1),
               i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
             / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
                * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))),
           6) AS cos_sim
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE list_sum(list_transform(range(1, len(a.embedding)+1),
            i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
          / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
             * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))))
          >= 0.95
    ORDER BY a, b
    """,
    doc=(
        "Embedding-cosine near-dup pairs ≥ 0.95 (exact pairwise at test SF; "
        "the 100 TB path pre-buckets with operators/similarity.lsh_bucket)."
    ),
    tags=("training", "dedup"),
)
def t5(spark, sf):
    import os

    e = load_table(spark, sf, "embeddings")
    # fan the NESTED-LOOP STREAM side: each stream row pays ~N cosine
    # verifies (~12 ms/row at sf0.1 — the most per-row-expensive stage in
    # the engine), and the single-row-group fixture otherwise runs the
    # whole N^2/2 verify as ONE task. Same footer gate as _docs: no-op on
    # any multi-row-group corpus. Interleaved A/B at sf0.1: plain
    # 22.8-61.7 s vs fanned 2.3-3.0 s. The broadcast (build) side stays
    # the plain scan. The folded-dot verify (see similarity.dot_cols_fold)
    # was A/B'd here too and TIES once fanned (mono won 3 of 4 pairs) —
    # the monolithic cosine stays.
    a_src = fan_out(e, spark, paths=[os.path.join(sf, "embeddings.parquet")])
    a = a_src.select(F.col("vec_id").alias("a"), F.col("embedding").alias("ea"))
    b = e.select(F.col("vec_id").alias("b"), F.col("embedding").alias("eb"))
    sim = S.cosine_cols("ea", "eb", S.vector_dim(e))
    return (
        a.join(b, F.col("a") < F.col("b"))
        .withColumn("_sim", sim)
        .where(F.col("_sim") >= 0.95)
        .select("a", "b", F.round(F.col("_sim"), 6).alias("cos_sim"))
        .orderBy("a", "b")
    )


@register(
    "t6_lang_id",
    f"""
    SELECT doc_id, {_LANG_CASE} AS lang_pred FROM (
      SELECT doc_id, {_hits_sql('de')} AS h_de, {_hits_sql('en')} AS h_en,
             {_hits_sql('es')} AS h_es, {_hits_sql('fr')} AS h_fr
      FROM documents
    ) ORDER BY doc_id
    """,
    doc="Stopword-marker language ID heuristic per document.",
    tags=("training", "text"),
)
def t6(spark, sf):
    d = _docs(spark, sf)
    return d.select("doc_id", X.lang_id(F.col("text")).alias("lang_pred")).orderBy("doc_id")


@register(
    "t7_quality",
    f"""
    SELECT doc_id,
           CAST(length(text) AS INTEGER) AS q_n_chars,
           CAST(len(regexp_extract_all(text, '{X.TOKEN_REGEX}')) AS INTEGER) AS q_n_tokens,
           CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
             / greatest(length(text), 1) AS q_alpha_ratio,
           CAST(length(regexp_replace(text, '[^.,;:!?'']', '', 'g')) AS DOUBLE)
             / greatest(length(text), 1) AS q_punct_ratio,
           CAST({_hits_sql('en')} AS DOUBLE)
             / greatest(len(regexp_extract_all(text, '{X.TOKEN_REGEX}')), 1) AS q_stopword_ratio
    FROM documents ORDER BY doc_id
    """,
    doc="Quality features: length / punctuation / stopword ratios.",
    tags=("training", "text"),
)
def t7(spark, sf):
    d = _docs(spark, sf)
    t = F.col("text")
    n_chars = F.length(t)
    n_tokens = X.token_count(t)
    return d.select(
        "doc_id",
        n_chars.alias("q_n_chars"),
        n_tokens.alias("q_n_tokens"),
        (
            F.length(F.regexp_replace(t, "[^A-Za-z]", "")).cast("double")
            / F.greatest(n_chars, F.lit(1))
        ).alias("q_alpha_ratio"),
        (
            F.length(F.regexp_replace(t, "[^.,;:!?']", "")).cast("double")
            / F.greatest(n_chars, F.lit(1))
        ).alias("q_punct_ratio"),
        (
            X.marker_hits(t, "en").cast("double")
            / F.greatest(n_tokens, F.lit(1)).cast("double")
        ).alias("q_stopword_ratio"),
    ).orderBy("doc_id")


@register(
    "t8_token_stats",
    f"""
    SELECT source, count(*) AS cnt,
           CAST(SUM(len(regexp_extract_all(text, '{X.TOKEN_REGEX}'))) AS BIGINT) AS total_tokens,
           CAST(ROUND(CAST(SUM(len(regexp_extract_all(text, '{X.TOKEN_REGEX}'))) AS DOUBLE) / count(*), 3) AS DOUBLE) AS avg_tokens
    FROM documents GROUP BY source ORDER BY source
    """,
    doc="Token counting rollup per source.",
    tags=("training", "text"),
)
def t8(spark, sf):
    d = _docs(spark, sf)
    tc = X.token_count(F.col("text"))
    return (
        d.select("source", tc.alias("_tc"))
        .groupBy("source")
        .agg(
            F.count("*").alias("cnt"),
            F.sum("_tc").alias("total_tokens"),
            F.round(F.sum("_tc").cast("double") / F.count("*"), 3)
            .cast("double")
            .alias("avg_tokens"),
        )
        .orderBy("source")
    )


@register(
    "t9_fingerprint",
    """
    SELECT doc_id, md5(lower(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g'))) AS fp
    FROM documents ORDER BY doc_id
    """,
    doc="Whole-document content fingerprint (md5 of normalized text).",
    tags=("training", "text"),
)
def t9(spark, sf):
    d = _docs(spark, sf)
    return d.select("doc_id", X.fingerprint(F.col("text")).alias("fp")).orderBy("doc_id")


@register(
    "t10_multimodal_stub",
    """
    SELECT doc_id AS item_id,
           octet_length(encode(text)) AS n_bytes,
           CASE WHEN length(text) > 0 THEN unicode(substr(text, 1, 1)) ELSE -1 END AS first_byte
    FROM documents ORDER BY item_id
    """,
    doc=(
        "Multimodal plumbing: text bytes as stand-in binary payload through the "
        "Arrow mapInPandas fake decoder (operators/multimodal.py); the oracle "
        "checks n_bytes/first_byte (docs are ASCII so byte == codepoint)."
    ),
    tags=("training", "multimodal"),
)
def t10(spark, sf):
    d = load_table(spark, sf, "documents")
    binarized = d.select(
        F.col("doc_id").alias("item_id"), F.encode(F.col("text"), "utf-8").alias("payload")
    )
    return (
        decode_media(binarized, fake=True)
        .select("item_id", "n_bytes", "first_byte")
        .orderBy("item_id")
    )


@register(
    "t11_ann_lsh",
    None,  # approximate probing (recall < 1) → rows-only check; unit test
    # compares recall against q27's exact top-k.
    doc="ANN top-10 via random-hyperplane LSH bucket probe (scale path for Q27).",
    tags=("training", "similarity"),
    invariant=topk_shape_invariant(10),
)
def t11(spark, sf):
    e = load_table(spark, sf, "embeddings")
    qvec = e.where(F.col("vec_id") == 0).select("embedding").head()[0]
    planes = _fixed_planes(dim=len(qvec), bits=4)
    return S.lsh_topk(e.where(F.col("vec_id") != 0), [float(v) for v in qvec], planes, k=10)


def _fixed_planes(dim: int, bits: int) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (LCG, no RNG dependency)."""
    planes = []
    state = 42
    for _ in range(bits):
        p = []
        for _ in range(dim):
            state = (state * 6364136223846793005 + 1442695040888963407) % (2**64)
            p.append(((state >> 33) / float(2**31)) - 1.0)
        planes.append(p)
    return planes


@register(
    "t12_hll_tracked_users",
    None,  # sketch estimates are algorithm-specific → rows-only check
    doc=(
        "A3 tracked-users HLL: mergeable DataSketches HLL per event_type, "
        "union-merged to an ALL row (users_reporter.go:108-185 shape). "
        "Exactness is pinned by q12 (exact COUNT DISTINCT oracle)."
    ),
    tags=("training", "sketches"),
)
def t12(spark, sf):
    from rudder_server_spark.operators.sketches import (
        merge_tracked_users,
        tracked_users_sketches,
    )

    e = load_table(spark, sf, "events").select(
        F.lit("w1").alias("workspace_id"),
        F.col("event_type").alias("source_id"),
        "user_id",
        (F.col("user_id") % 500).cast("string").alias("anonymous_id"),
    )
    sk = tracked_users_sketches(e)
    per_source = merge_tracked_users(sk, group_cols=("workspace_id", "source_id"))
    alls = merge_tracked_users(sk, group_cols=("workspace_id",)).withColumn(
        "source_id", F.lit("ALL")
    )
    return per_source.unionByName(alls).orderBy("source_id")


@register(
    "t13_token_topk",
    r"""
    SELECT token, count(*) AS cnt FROM (
      SELECT unnest(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 \t\n\r]'))
             AS token
      FROM documents)
    GROUP BY token ORDER BY cnt DESC, token LIMIT 20
    """,
    doc="Corpus token top-k: explode(regexp tokens) → count → top-20 (the "
        "distributed vocabulary-building primitive).",
    tags=("training", "text"),
)
def t13(spark, sf):
    # plain scan, NOT _docs: t13's regex tokenize + explode is too cheap to
    # amortize the fan_out exchange (r12 adjacent-pair A/B: prior/plain
    # consistently faster, median pair ratio 0.72 with the fan; VERDICT r11
    # confirm-or-revert item). The heavy shingle/hash builders keep _docs.
    d = load_table(spark, sf, "documents")
    toks = d.select(
        F.explode(
            F.regexp_extract_all(
                F.lower("text"), F.lit(r"[a-z]+|[0-9]+|[^a-z0-9 \t\n\r]"), 0
            )
        ).alias("token")
    )
    return (
        toks.groupBy("token")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), "token")
        .limit(20)
    )


@register(
    "t14_ann_ivf",
    None,  # approximate probing (recall < 1) → rows-only; recall pinned in unit test
    doc=(
        "ANN top-10 via IVF coarse quantizer (k-means cells, nprobe=4 of 8): "
        "the partition-pruned scale path; recall vs q27's exact top-k is "
        "unit-tested ≥ 0.8."
    ),
    tags=("training", "similarity"),
    invariant=topk_shape_invariant(10),
)
def t14(spark, sf):
    e = load_table(spark, sf, "embeddings")
    qvec = [float(v) for v in e.where(F.col("vec_id") == 0).select("embedding").head()[0]]
    cents = S.ivf_train(e, k=8)
    assigned = S.ivf_assign(e.where(F.col("vec_id") != 0), cents)
    return S.ivf_topk(assigned, cents, qvec, k=10, nprobe=4)


@register(
    "t15_hash_split",
    """
    SELECT split, count(*) AS n,
           CAST(ROUND(SUM(CAST(n_chars AS DECIMAL(18,6))) / count(*), 3) AS DOUBLE)
             AS avg_chars
    FROM (
      SELECT n_chars,
             CASE
               WHEN nib >= 14 AND nib < 15 THEN 'val'
               WHEN nib >= 15 AND nib < 16 THEN 'test'
               ELSE 'train'
             END AS split
      FROM (
        SELECT n_chars,
               CASE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
                 WHEN 'a' THEN 10 WHEN 'b' THEN 11 WHEN 'c' THEN 12
                 WHEN 'd' THEN 13 WHEN 'e' THEN 14 WHEN 'f' THEN 15
                 ELSE CAST(substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS INT)
               END AS nib
        FROM documents)
    ) GROUP BY split ORDER BY split
    """,
    doc="Deterministic md5-bucket train/val/test split (14/1/1 sixteenths) "
        "with per-split doc counts and mean length — the leakage-safe "
        "split assignment a training pipeline pins to content ids.",
    tags=("training", "text"),
)
def t15(spark, sf):
    d = load_table(spark, sf, "documents")
    split = X.hash_split(d, key_col="doc_id")
    return (
        split.groupBy("split")
        .agg(
            F.count("*").alias("n"),
            F.round(
                F.sum(F.col("n_chars").cast("decimal(18,6)")) / F.count("*"), 3
            ).cast("double").alias("avg_chars"),
        )
        .orderBy("split")
    )


_SPLIT_CASE = """
      CASE
        WHEN nib >= 14 AND nib < 15 THEN 'val'
        WHEN nib >= 15 AND nib < 16 THEN 'test'
        ELSE 'train'
      END
"""

_NIB = """
      CASE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
        WHEN 'a' THEN 10 WHEN 'b' THEN 11 WHEN 'c' THEN 12
        WHEN 'd' THEN 13 WHEN 'e' THEN 14 WHEN 'f' THEN 15
        ELSE CAST(substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS INT)
      END
"""


@register(
    "t16_training_prep",
    f"""
    WITH scored AS (
      SELECT doc_id, text, {_hits_sql('de')} AS h_de, {_hits_sql('en')} AS h_en,
             {_hits_sql('es')} AS h_es, {_hits_sql('fr')} AS h_fr
      FROM documents
    ),
    en AS (
      SELECT doc_id, text FROM scored WHERE {_LANG_CASE} = 'en'
    ),
    ded AS (
      SELECT min(doc_id) AS doc_id
      FROM en GROUP BY lower(regexp_replace(text, '[^a-z0-9 ]', '', 'g'))
    ),
    assigned AS (
      SELECT {_SPLIT_CASE} AS split,
             len(regexp_extract_all(e.text, '{X.TOKEN_REGEX}')) AS ntok
      FROM (SELECT doc_id, {_NIB} AS nib FROM ded) d
      JOIN en e USING (doc_id)
    )
    SELECT split, count(*) AS n_docs, CAST(SUM(ntok) AS BIGINT) AS total_tokens,
           CAST(ROUND(CAST(SUM(ntok) AS DOUBLE) / count(*), 3) AS DOUBLE) AS avg_tokens
    FROM assigned GROUP BY split ORDER BY split
    """,
    doc=(
        "End-to-end training-data prep: language filter (en) -> exact dedup "
        "-> leakage-safe md5 split -> per-split doc/token stats. The composed "
        "curation pipeline every stage feeds: lang_id + exact_dedup + "
        "hash_split + token_count in ONE narrow-map + two-shuffle plan."
    ),
    tags=("training", "pipeline"),
)
def t16(spark, sf):
    d = load_table(spark, sf, "documents")
    en = d.where(X.lang_id(F.col("text")) == "en")
    ded = D.exact_dedup(en)
    assigned = X.hash_split(ded, key_col="doc_id")
    return (
        assigned.select("split", X.token_count(F.col("text")).alias("ntok"))
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("ntok").alias("total_tokens"),
            F.round(F.sum("ntok").cast("double") / F.count("*"), 3)
            .cast("double")
            .alias("avg_tokens"),
        )
        .orderBy("split")
    )


@register(
    "t17_neardup_clusters",
    f"""
    WITH RECURSIVE {_JACCARD_CTES},
    edges AS (SELECT a, b FROM jac UNION SELECT b, a FROM jac),
    walk(n, m) AS (
      SELECT DISTINCT a, a FROM edges
      UNION
      SELECT w.n, e.b FROM walk w JOIN edges e ON w.m = e.a
    )
    SELECT n AS doc_id, min(m) AS canonical FROM walk GROUP BY n ORDER BY doc_id
    """,
    doc=(
        "Near-dup CLUSTERS: connected components over the exact Jaccard >= 0.8 "
        "pair graph (transitive near-duplicates collapse to one canonical doc "
        "per component — pairwise dedup alone under-drops chains A~B~C). "
        "Reuses the identity-graph component engine (J4) on document ids."
    ),
    tags=("training", "dedup"),
)
def t17(spark, sf):
    from rudder_server_spark.operators.identity import connected_components

    d = _docs(spark, sf)
    pairs = D.ngram_jaccard_pairs(d, threshold=0.8)
    # component labels are lexicographic mins; zero-pad ids so lexical order
    # equals numeric order, then cast back
    pad = lambda c: F.lpad(F.col(c).cast("string"), 12, "0")  # noqa: E731
    cc = connected_components(pairs.select(pad("a").alias("src"), pad("b").alias("dst")))
    return cc.select(
        F.col("identifier").cast("bigint").alias("doc_id"),
        F.col("component").cast("bigint").alias("canonical"),
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# t18 — Gopher-style repetition filter features (Rae et al. 2021, app. C.1)
@register(
    "t18_repetition_stats",
    """
    WITH toks AS (
      SELECT doc_id, lang, string_split_regex(lower(text), '\\s+') AS t
      FROM documents
    ),
    bg AS (
      SELECT doc_id, lang,
             unnest(list_transform(range(1, greatest(len(t) - 1, 0) + 1),
                    i -> t[i] || ' ' || t[i+1])) AS g
      FROM toks
    ),
    per AS (SELECT doc_id, lang, g, count(*) AS c FROM bg GROUP BY 1, 2, 3),
    agg AS (SELECT doc_id, lang, max(c) AS top, sum(c) AS tot FROM per GROUP BY 1, 2),
    tokstats AS (
      SELECT doc_id, len(t) AS ntok, len(list_distinct(t)) AS ndist FROM toks
    )
    SELECT lang, count(*) AS docs,
      CAST(ROUND(SUM(CAST(ROUND(CAST(top AS DOUBLE) / tot, 6) AS DECIMAL(18,6)))
                 / count(*), 4) AS DOUBLE) AS avg_top_bigram_frac,
      count(*) FILTER (CAST(top AS DOUBLE) / tot > 0.1) AS repetitive_docs,
      CAST(ROUND(SUM(CAST(ROUND(CAST(ndist AS DOUBLE) / ntok, 6) AS DECIMAL(18,6)))
                 / count(*), 4) AS DOUBLE) AS avg_distinct_ratio
    FROM agg JOIN tokstats USING (doc_id)
    GROUP BY lang ORDER BY lang
    """,
    doc=(
        "Within-document repetition features per language (Gopher repetition "
        "filters): top-bigram occupancy fraction, count of repetitive docs "
        "(top fraction > 0.1), distinct-token ratio. One explode + doc-keyed "
        "partial aggs — no corpus-wide state at 100 TB."
    ),
    tags=("training", "text"),
)
def t18(spark, sf):
    d = _docs(spark, sf)
    feats = X.repetition_features(d)
    r = (F.col("top_bigram_cnt").cast("double") / F.col("bigram_cnt")).alias("r")
    dr = (F.col("n_distinct_tokens").cast("double") / F.col("n_tokens")).alias("dr")
    dec = lambda c: F.round(c, 6).cast("decimal(18,6)")  # noqa: E731
    return (
        feats.select("lang", r, dr)
        .groupBy("lang")
        .agg(
            F.count("*").alias("docs"),
            F.round(F.sum(dec(F.col("r"))) / F.count("*"), 4)
            .cast("double")
            .alias("avg_top_bigram_frac"),
            F.count_if(F.col("r") > 0.1).alias("repetitive_docs"),
            F.round(F.sum(dec(F.col("dr"))) / F.count("*"), 4)
            .cast("double")
            .alias("avg_distinct_ratio"),
        )
        .orderBy("lang")
    )


# --------------------------------------------------------------------------
# t19 — benchmark-contamination detection (GPT-3 app. C / PaLM app. D style)
@register(
    "t19_contamination",
    f"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(lower(text), '\\s+') AS t FROM documents
    ),
    sh AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(range(1, greatest(len(t) - 4, 0) + 1),
                    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' ||
                         t[i+3] || ' ' || t[i+4])) AS g
      FROM toks
    ),
    nib AS (SELECT doc_id, {_NIB} AS nib FROM documents),
    tr AS (SELECT s.doc_id, g FROM sh s JOIN nib USING (doc_id) WHERE nib < 14),
    te AS (SELECT s.doc_id, g FROM sh s JOIN nib USING (doc_id) WHERE nib = 15)
    SELECT tr.doc_id AS train_doc,
           count(DISTINCT tr.g) AS shared_ngrams,
           count(DISTINCT te.doc_id) AS eval_docs_hit
    FROM tr JOIN te ON tr.g = te.g
    GROUP BY 1 ORDER BY train_doc
    """,
    doc=(
        "Train/eval contamination: training docs (md5 buckets 0-13) sharing "
        "any distinct 5-gram with a test-bucket (15) doc, with shared-gram "
        "and hit-doc counts. The n-gram-collision decontamination pass run "
        "before every big pretraining job; eval side broadcasts at scale."
    ),
    tags=("training", "dedup"),
)
def t19(spark, sf):
    d = _docs(spark, sf)
    nib = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1), 16, 10
    ).cast("int")
    marked = d.withColumn("nib", nib)
    return (
        D.contamination_counts(marked.where("nib < 14"), marked.where("nib = 15"))
        .orderBy("train_doc")
    )


# --------------------------------------------------------------------------
# t20 — PII scrub over event payloads (pre-training privacy pass; pairs with
# the reference's GDPR suppression F2)
# the oracle runs at sf0.01 — same pattern as plans/rudder.py (the fixture
# is generated/cached on first import)
from rudder_server_spark.sources.rudder_events import rudder_events_path as _re_path

_RE_ORACLE = _re_path("/root/testdata/sf0.01")
_EMAIL_SQL = X.EMAIL_REGEX


@register(
    "t20_pii_scrub",
    f"""
    SELECT event_type,
      count(*) AS n_events,
      count(*) FILTER (len(regexp_extract_all(payload, '{_EMAIL_SQL}')) > 0)
        AS events_with_email,
      CAST(SUM(len(regexp_extract_all(payload, '{_EMAIL_SQL}'))) AS BIGINT) AS emails_found,
      CAST(SUM(length(payload)
          - length(regexp_replace(payload, '{_EMAIL_SQL}', '[EMAIL]', 'g'))
          + 7 * len(regexp_extract_all(payload, '{_EMAIL_SQL}'))) AS BIGINT)
        AS chars_redacted
    FROM read_parquet('{_RE_ORACLE}')
    GROUP BY event_type ORDER BY event_type
    """,
    doc=(
        "PII email scrub over rudder event payloads: per event type, events "
        "containing an email, total addresses found, characters redacted by "
        "the [EMAIL] replacement. Narrow codegen'd map + map-side agg."
    ),
    tags=("training", "text"),
)
def t20(spark, sf):
    from rudder_server_spark.sources.rudder_events import rudder_events_path

    df = spark.read.parquet(rudder_events_path(sf))
    feats = X.pii_email_features(df, "payload")
    redacted_chars = (
        F.length("payload") - F.length("pii_redacted") + 7 * F.col("pii_email_cnt")
    )
    return (
        feats.select("event_type", "pii_email_cnt", redacted_chars.alias("rc"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.count_if(F.col("pii_email_cnt") > 0).alias("events_with_email"),
            F.sum("pii_email_cnt").alias("emails_found"),
            F.sum("rc").alias("chars_redacted"),
        )
        .orderBy("event_type")
    )




# --------------------------------------------------------------------------
# t21 — exact length percentiles per language (corpus profiling)
@register(
    "t21_length_percentiles",
    """
    SELECT lang, count(*) AS docs,
      CAST(ROUND(quantile_cont(n_chars, 0.5), 3) AS DOUBLE) AS p50_chars,
      CAST(ROUND(quantile_cont(n_chars, 0.95), 3) AS DOUBLE) AS p95_chars
    FROM documents GROUP BY lang ORDER BY lang
    """,
    doc=(
        "Exact interpolated length percentiles per language — corpus "
        "profiling before filter-threshold selection. Spark `percentile` "
        "and DuckDB `quantile_cont` share the linear-interpolation "
        "definition; at 100 TB swap in approx_percentile (t12-style "
        "sketch tier) with this as the oracle."
    ),
    tags=("training", "text"),
)
def t21(spark, sf):
    d = load_table(spark, sf, "documents")
    return (
        d.groupBy("lang")
        .agg(
            F.count("*").alias("docs"),
            F.round(F.percentile("n_chars", F.lit(0.5)), 3)
            .cast("double")
            .alias("p50_chars"),
            F.round(F.percentile("n_chars", F.lit(0.95)), 3)
            .cast("double")
            .alias("p95_chars"),
        )
        .orderBy("lang")
    )


# --------------------------------------------------------------------------
# t22 — sequence packing index (concat-and-chunk, GPT-style)
@register(
    "t22_sequence_packing",
    f"""
    WITH tok AS (
      SELECT doc_id, len(regexp_extract_all(text, '{X.TOKEN_REGEX}')) AS ntok
      FROM documents
    ),
    cum AS (
      SELECT doc_id, ntok,
             SUM(ntok) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cend
      FROM tok WHERE ntok > 0
    )
    SELECT doc_id, ntok, CAST(cend - ntok AS BIGINT) AS start_tok,
           CAST(FLOOR((cend - ntok) / 512.0) AS BIGINT) AS seq_first,
           CAST(FLOOR((cend - 1) / 512.0) AS BIGINT) AS seq_last,
           CAST(FLOOR((cend - 1) / 512.0)
                - FLOOR((cend - ntok) / 512.0) + 1 AS BIGINT) AS n_seqs
    FROM cum ORDER BY doc_id
    """,
    doc=(
        "Sequence-packing index: docs concatenated in doc_id order, token "
        "stream cut every 512 tokens; per doc its global offset and spanned "
        "sequence ids — what a training loader shards by. The global prefix "
        "sum runs as range-partition + per-partition window + one-row-per-"
        "partition offsets (operators/packing.py), never a one-task window."
    ),
    tags=("training", "packing"),
)
def t22(spark, sf):
    from rudder_server_spark.operators.packing import pack_sequences

    d = load_table(spark, sf, "documents")
    return pack_sequences(
        d, seq_len=512, token_col=X.token_count(F.col("text")), id_col="doc_id"
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# t23 — deterministic dataset-mixture sampling
_MIX_RATES = {"src0": 0.25, "src1": 0.5, "src2": 0.75}
_MIX_DEFAULT = 1.0
_MIX_BUCKET = "CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS INTEGER)"
_MIX_RATE = (
    "CASE source "
    + " ".join(f"WHEN '{s}' THEN {r}" for s, r in sorted(_MIX_RATES.items()))
    + f" ELSE {_MIX_DEFAULT} END"
)


# --------------------------------------------------------------------------
# t28 — composite quality-filter verdicts with per-rule attribution
@register(
    "t28_quality_filter",
    f"""
    WITH toks AS (
      SELECT doc_id, lang, text, string_split_regex(lower(text), '\\s+') AS t
      FROM documents
    ),
    bg AS (
      SELECT doc_id,
             unnest(list_transform(range(1, greatest(len(t) - 1, 0) + 1),
                    i -> t[i] || ' ' || t[i+1])) AS g
      FROM toks
    ),
    per AS (SELECT doc_id, g, count(*) AS c FROM bg GROUP BY 1, 2),
    rep AS (SELECT doc_id, CAST(max(c) AS DOUBLE) / sum(c) <= 0.2 AS pass_rep
            FROM per GROUP BY 1),
    scored AS (
      SELECT doc_id, lang,
             len(regexp_extract_all(text, '{X.TOKEN_REGEX}')) AS ntok,
             len(text) AS nchars,
             len(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS nalpha,
             greatest({_hits_sql('de')}, {_hits_sql('en')},
                      {_hits_sql('es')}, {_hits_sql('fr')}) AS stop_any
      FROM toks
    ),
    verdicts AS (
      SELECT s.lang,
             ntok BETWEEN 10 AND 100000 AS pass_len,
             CAST(nchars AS DOUBLE) / greatest(ntok, 1) BETWEEN 2.0 AND 15.0 AS pass_wordlen,
             CAST(nalpha AS DOUBLE) / greatest(nchars, 1) >= 0.6 AS pass_alpha,
             stop_any >= 1 AS pass_stop,
             coalesce(r.pass_rep, true) AS pass_rep
      FROM scored s LEFT JOIN rep r USING (doc_id)
    )
    SELECT lang, count(*) AS docs,
           count(*) FILTER (pass_len AND pass_wordlen AND pass_alpha
                            AND pass_stop AND pass_rep) AS n_pass,
           count(*) FILTER (NOT pass_len) AS fail_len,
           count(*) FILTER (NOT pass_wordlen) AS fail_wordlen,
           count(*) FILTER (NOT pass_alpha) AS fail_alpha,
           count(*) FILTER (NOT pass_stop) AS fail_stop,
           count(*) FILTER (NOT pass_rep) AS fail_rep
    FROM verdicts GROUP BY lang ORDER BY lang
    """,
    doc=(
        "Composite Gopher/C4-style quality-rule battery with per-rule "
        "filter-reason attribution, rolled up per language: which rule "
        "kills how many documents. Narrow maps + doc-keyed bigram aggs; "
        "the rollup is the only corpus-wide shuffle."
    ),
    tags=("training", "text"),
)
def t28(spark, sf):
    d = _docs(spark, sf)
    v = X.quality_filter(d)
    nfail = lambda c: F.count_if(~F.col(c)).alias(c.replace("pass_", "fail_"))  # noqa: E731
    return (
        v.groupBy("lang")
        .agg(
            F.count("*").alias("docs"),
            F.count_if(F.col("pass_all")).alias("n_pass"),
            nfail("pass_len"),
            nfail("pass_wordlen"),
            nfail("pass_alpha"),
            nfail("pass_stop"),
            nfail("pass_rep"),
        )
        .orderBy("lang")
    )


# --------------------------------------------------------------------------
# t31 — duplicated-span detection (exact-substring-dedup statistic)
@register(
    "t31_dup_spans",
    """
    WITH toks AS (
      SELECT doc_id, string_split_regex(lower(text), '\\s+') AS t FROM documents
    ),
    sh AS (
      SELECT DISTINCT doc_id AS sid,
             unnest(list_transform(range(1, greatest(len(t) - 4, 0) + 1),
                    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' '
                         || t[i+3] || ' ' || t[i+4])) AS s
      FROM toks
    ),
    dfreq AS (SELECT s, count(*) AS d FROM sh GROUP BY s)
    SELECT sid AS doc_id, count(*) AS n_grams,
           count(*) FILTER (d >= 2) AS n_dup,
           CAST(ROUND(CAST(count(*) FILTER (d >= 2) AS DOUBLE) / count(*), 6)
                AS DOUBLE) AS dup_frac
    FROM sh JOIN dfreq USING (s)
    GROUP BY sid ORDER BY doc_id
    """,
    doc=(
        "Duplicated-span detection: per document, how many of its distinct "
        "5-gram spans appear in ANY other document (doc-frequency >= 2) — "
        "the per-doc statistic behind exact-substring dedup (Lee et al. "
        "2021 'Deduplicating Training Data Makes Language Models Better': "
        "spans repeated across the corpus are the cut candidates; a full "
        "suffix array refines WHERE, this measures HOW MUCH). One explode + "
        "two gram-keyed shuffles; hash grams to 8 bytes at 100 TB exactly "
        "as ngram_jaccard_pairs does."
    ),
    tags=("training", "dedup"),
)
def t31(spark, sf):
    d = _docs(spark, sf)
    sh = D.shingle_table(d, n=5).localCheckpoint(eager=False)
    dfreq = sh.groupBy("sh").agg(F.count("*").alias("d"))
    return (
        sh.join(dfreq, "sh")
        .groupBy(F.col("sid").alias("doc_id"))
        .agg(
            F.count("*").alias("n_grams"),
            F.count_if(F.col("d") >= 2).alias("n_dup"),
            F.round(
                F.count_if(F.col("d") >= 2).cast("double") / F.count("*"), 6
            ).cast("double").alias("dup_frac"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# t30 — per-source quota cap (domain balancing)
@register(
    "t30_source_quota",
    """
    WITH ranked AS (
      SELECT source, n_chars,
             row_number() OVER (
               PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
             ) AS rk
      FROM documents
    )
    SELECT source, count(*) AS n_kept, CAST(SUM(n_chars) AS BIGINT) AS chars_kept
    FROM ranked WHERE rk <= 50
    GROUP BY source ORDER BY source
    """,
    doc=(
        "Per-source quota cap (domain balancing): each source keeps at most "
        "50 documents, chosen by deterministic md5 rank — the absolute-quota "
        "twin of t23's rate-based mixture sampling. One shuffle on the "
        "group key + per-group sort; pre-thin hot groups with "
        "mixture_sample at 100 TB."
    ),
    tags=("training", "packing"),
)
def t30(spark, sf):
    from rudder_server_spark.operators.packing import quota_sample

    d = load_table(spark, sf, "documents")
    return (
        quota_sample(d, 50)
        .groupBy("source")
        .agg(F.count("*").alias("n_kept"), F.sum("n_chars").alias("chars_kept"))
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# t29 — unigram log-frequency scoring (perplexity-proxy quality filter)
@register(
    "t29_logfreq_score",
    """
    WITH tok AS (
      SELECT doc_id, lang, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
      FROM documents
    ),
    vocab AS (SELECT w, count(*) AS c FROM tok GROUP BY w),
    tot AS (SELECT CAST(sum(c) AS DOUBLE) AS t FROM vocab),
    perdoc AS (
      SELECT doc_id, lang,
             CAST(ROUND(CAST(SUM(CAST(ROUND(ln(CAST(c AS DOUBLE) / t), 6)
                                       AS DECIMAL(18,6))) AS DOUBLE)
                        / count(*), 6) AS DECIMAL(18,6)) AS score
      FROM tok JOIN vocab USING (w) CROSS JOIN tot
      GROUP BY doc_id, lang
    )
    SELECT lang, count(*) AS docs,
           CAST(ROUND(CAST(SUM(score) AS DOUBLE) / count(*), 4) AS DOUBLE)
             AS avg_logfreq,
           count(*) FILTER (score < -6.5) AS n_low
    FROM perdoc GROUP BY lang ORDER BY lang
    """,
    doc=(
        "Perplexity-proxy quality scoring: corpus unigram LM, each document "
        "scored by its mean token log-probability (the cheap stand-in for "
        "KenLM/CCNet perplexity filtering); per-language doc counts, mean "
        "score, and low-scorer counts. Shape at 100 TB: one vocab agg "
        "(map-side combined), one token->count join — the Zipf-truncated "
        "vocabulary broadcasts; per-token log-probs round to 6dp before the "
        "decimal sum so both engines agree bit-for-bit."
    ),
    tags=("training", "text"),
)
def t29(spark, sf):
    d = _docs(spark, sf)
    # lazy checkpoint: the exploded token table feeds BOTH the vocab agg and
    # the rescore join — without it the corpus text is scanned and re-split
    # twice (the dominant cost at 100 TB)
    tok = d.select(
        "doc_id",
        "lang",
        F.explode(F.regexp_extract_all(F.lower(F.col("text")), F.lit("[a-z0-9]+"), 0)).alias("w"),
    ).localCheckpoint(eager=False)
    vocab = tok.groupBy("w").agg(F.count("*").alias("c"))
    tot = vocab.agg(F.sum("c").cast("double").alias("t"))
    lp = F.round(F.log(F.col("c").cast("double") / F.col("t")), 6).cast("decimal(18,6)")
    perdoc = (
        tok.join(vocab, "w")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id", "lang")
        .agg(
            F.round(F.sum(lp).cast("double") / F.count("*"), 6)
            .cast("decimal(18,6)")
            .alias("score")
        )
    )
    return (
        perdoc.groupBy("lang")
        .agg(
            F.count("*").alias("docs"),
            F.round(F.sum("score").cast("double") / F.count("*"), 4)
            .cast("double")
            .alias("avg_logfreq"),
            F.count_if(F.col("score") < -6.5).alias("n_low"),
        )
        .orderBy("lang")
    )


# --------------------------------------------------------------------------
# t27 — SemDeDup: k-means-clustered embedding near-dedup (Abbas et al. 2023)
@register(
    "t27_semdedup",
    None,  # k-means clustering is not SQL-expressible; golden + soundness test
    doc=(
        "Semantic dedup (SemDeDup): seeded k-means clusters the embedding "
        "corpus, an exact cosine pass INSIDE each cluster drops every vector "
        "with a >= 0.95 neighbor of lower id. Per-vector (vec_id, dropped) "
        "verdicts — the raw cluster LABEL is excluded from the output "
        "because k-means labels permute across sessions (float-jitter in "
        "the parallel aggregation); the drop verdicts are label-invariant. "
        "Work is sum(|cell|^2), not N^2 — pick k ~ N/target_cell_size and "
        "the pass stays linear at 100 TB."
    ),
    tags=("training", "dedup", "embeddings"),
)
def t27(spark, sf):
    e = load_table(spark, sf, "embeddings")
    cents = S.ivf_train(e, k=8)
    return S.semdedup(e, cents, threshold=0.95).select("vec_id", "dropped").orderBy("vec_id")


# --------------------------------------------------------------------------
# t24 — incremental (cross-snapshot) dedup: new batch vs existing corpus
@register(
    "t24_incremental_dedup",
    f"""
    WITH keyed AS (
      SELECT doc_id,
             md5(lower(regexp_replace(text, '[^a-z0-9 ]', '', 'g'))) AS k,
             {_NIB} AS nib
      FROM documents
    ),
    corpus AS (SELECT DISTINCT k FROM keyed WHERE nib < 12),
    batch AS (SELECT doc_id, k FROM keyed WHERE nib >= 12)
    SELECT min(b.doc_id) AS doc_id
    FROM batch b ANTI JOIN corpus c ON b.k = c.k
    GROUP BY b.k ORDER BY doc_id
    """,
    doc=(
        "Incremental dedup: the newest ingest batch (md5-nibble >= 12, i.e. "
        "a deterministic 4/16 slice standing in for 'this week's crawl') "
        "deduped against the already-kept corpus (the other 12/16) and then "
        "within itself — the cross-snapshot pass every recurring crawl "
        "pipeline runs. Corpus side collapses to a 16-byte fingerprint "
        "index; batch-side min-id dedup + one anti-join."
    ),
    tags=("training", "dedup"),
)
def t24(spark, sf):
    d = load_table(spark, sf, "documents")
    nib = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1), 16, 10).cast("int")
    corpus = d.where(nib < 12)
    batch = d.where(nib >= 12)
    return D.incremental_dedup(batch, corpus).select("doc_id").orderBy("doc_id")


# --------------------------------------------------------------------------
# t25 — deterministic corpus shuffle + sharding (training loader layout)
@register(
    "t25_shard_pack",
    f"""
    WITH assigned AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 2)) AS INTEGER) % 8 AS shard,
             len(regexp_extract_all(text, '{X.TOKEN_REGEX}')) AS ntok,
             row_number() OVER (
               PARTITION BY CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 2)) AS INTEGER) % 8
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
             ) - 1 AS pos
      FROM documents
    )
    SELECT shard, count(*) AS n_docs, CAST(SUM(ntok) AS BIGINT) AS total_tokens,
           CAST(SUM(pos * doc_id) AS BIGINT) AS order_check
    FROM assigned GROUP BY shard ORDER BY shard
    """,
    doc=(
        "Deterministic global shuffle into 8 training shards: shard and "
        "in-shard position are pure functions of md5(doc_id), so the corpus "
        "layout a loader reads is reproducible across runs, engines, and "
        "partitionings. order_check = SUM(pos*doc_id) pins the PERMUTATION, "
        "not just membership — any reordering changes it. One hash exchange "
        "on shard + per-shard sort (the shuffle a shard writer needs anyway)."
    ),
    tags=("training", "packing"),
)
def t25(spark, sf):
    from rudder_server_spark.operators.packing import shard_assign

    d = load_table(spark, sf, "documents")
    a = shard_assign(d, n_shards=8)
    return (
        a.groupBy("shard")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(X.token_count(F.col("text"))).alias("total_tokens"),
            F.sum(F.col("pos") * F.col("doc_id")).alias("order_check"),
        )
        .orderBy("shard")
    )


# --------------------------------------------------------------------------
# t26 — per-source duplication-rate monitoring
@register(
    "t26_dup_rate_by_source",
    """
    SELECT source, count(*) AS n_docs,
           count(DISTINCT md5(lower(regexp_replace(text, '[^a-z0-9 ]', '', 'g')))) AS n_distinct,
           CAST(ROUND(1 - CAST(count(DISTINCT md5(lower(regexp_replace(text, '[^a-z0-9 ]', '', 'g')))) AS DOUBLE)
                          / count(*), 6) AS DOUBLE) AS dup_rate
    FROM documents GROUP BY source ORDER BY source
    """,
    doc=(
        "Duplication-rate monitoring per source: docs, distinct content "
        "fingerprints, and dup_rate — the per-domain health metric a "
        "curation pipeline tracks batch over batch (a source whose dup_rate "
        "jumps is re-crawling itself). Two-phase distinct agg on "
        "(source, fingerprint): partial map-side, no full-corpus collect."
    ),
    tags=("training", "text"),
)
def t26(spark, sf):
    d = load_table(spark, sf, "documents")
    k = F.md5(D.normalize_text(F.col("text")))
    return (
        d.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.count_distinct(k).alias("n_distinct"),
            F.round(
                F.lit(1) - F.count_distinct(k).cast("double") / F.count("*"), 6
            ).cast("double").alias("dup_rate"),
        )
        .orderBy("source")
    )


@register(
    "t23_mixture_sample",
    f"""
    SELECT source, count(*) AS n_kept,
           CAST(SUM(len(regexp_extract_all(text, '{X.TOKEN_REGEX}'))) AS BIGINT) AS tokens_kept
    FROM documents
    WHERE {_MIX_BUCKET} < {_MIX_RATE} * 65536
    GROUP BY source ORDER BY source
    """,
    doc=(
        "Dataset-mixture sampling: each source thinned to its configured "
        "rate by content-independent md5 bucket (stable across runs/"
        "engines/partitionings — hash_split's leakage-safety argument); "
        "kept docs+tokens per source. Narrow codegen'd map, free at 100 TB."
    ),
    tags=("training", "packing"),
)
def t23(spark, sf):
    from rudder_server_spark.operators.packing import mixture_sample

    d = load_table(spark, sf, "documents")
    return (
        mixture_sample(d, _MIX_RATES, default_rate=_MIX_DEFAULT)
        .groupBy("source")
        .agg(
            F.count("*").alias("n_kept"),
            F.sum(X.token_count(F.col("text"))).alias("tokens_kept"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# t32 — canonical selection within duplicate groups (keep-best, not keep-min)
@register(
    "t32_canonical_select",
    """
    SELECT doc_id, source, n_chars, group_size FROM (
      SELECT doc_id, source, n_chars,
             row_number() OVER (
               PARTITION BY lower(regexp_replace(text, '[^a-z0-9 ]', '', 'g'))
               ORDER BY length(text) DESC, doc_id
             ) AS rn,
             count(*) OVER (
               PARTITION BY lower(regexp_replace(text, '[^a-z0-9 ]', '', 'g'))
             ) AS group_size
      FROM documents
    ) WHERE rn = 1 ORDER BY doc_id
    """,
    doc=(
        "Canonical selection: within each exact-duplicate group (normalized "
        "content) keep the LONGEST copy (tie: min id) and report the group "
        "size — the keep-best policy curation pipelines use instead of "
        "keep-min-id, since near-identical crawls truncate the same page "
        "differently. One shuffle on the content hash; the winner rank and "
        "group size share one window partitioning."
    ),
    tags=("training", "dedup"),
)
def t32(spark, sf):
    d = load_table(spark, sf, "documents")
    return (
        D.canonical_dedup(d)
        .select("doc_id", "source", "n_chars", "group_size")
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# t33 — vocabulary coverage / OOV rate against the corpus top-k vocab
@register(
    "t33_vocab_coverage",
    r"""
    WITH toks AS (
      SELECT doc_id,
             unnest(regexp_extract_all(lower(text),
                    '[a-z]+|[0-9]+|[^a-z0-9 \t\n\r]')) AS token
      FROM documents
    ),
    vocab AS (
      SELECT token FROM (
        SELECT token, count(*) AS c FROM toks
        GROUP BY token ORDER BY c DESC, token LIMIT 100)
    )
    SELECT doc_id, count(*) AS n_tok,
           CAST(SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
           CAST(ROUND(CAST(SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END)
                           AS DOUBLE) / count(*), 6) AS DOUBLE) AS oov_rate
    FROM toks LEFT JOIN vocab v USING (token)
    GROUP BY doc_id ORDER BY doc_id
    """,
    doc=(
        "Per-document vocabulary coverage: OOV token fraction against the "
        "corpus top-100 vocab (t13's primitive) — the tokenizer-fit check "
        "run before training. Vocab is bounded and broadcast; coverage is "
        "one explode + map-side join + one groupBy(doc) shuffle."
    ),
    tags=("training", "text"),
)
def t33(spark, sf):
    d = _docs(spark, sf)
    return X.vocab_coverage(d, vocab_size=100).orderBy("doc_id")


# --------------------------------------------------------------------------
# t34 — approx-percentile sketch tier of t21 (mergeable corpus profiling)
@register(
    "t34_approx_percentiles",
    None,  # sketch output is accuracy-bounded, not bit-reproducible in SQL
    doc=(
        "Approximate length percentiles per language via Spark's "
        "approx_percentile (Greenwald-Khanna sketch): the MERGEABLE tier "
        "of t21's exact quantile_cont — at 100 TB the sketch combines "
        "map-side and across partitions/days without holding values, "
        "exactly like t12's HLL vs q12's exact distinct. accuracy=10000 "
        "bounds rank error at N/10000; closeness to t21 is unit-pinned "
        "(tests/test_misc_operators.py) and the driver records rows-only."
    ),
    tags=("training", "text"),
)
def t34(spark, sf):
    d = load_table(spark, sf, "documents")
    return (
        d.groupBy("lang")
        .agg(
            F.count("*").alias("docs"),
            F.approx_percentile("n_chars", F.lit(0.5), F.lit(10000))
            .cast("double")
            .alias("p50_chars"),
            F.approx_percentile("n_chars", F.lit(0.95), F.lit(10000))
            .cast("double")
            .alias("p95_chars"),
        )
        .orderBy("lang")
    )


# --------------------------------------------------------------------------
# t35 — asymmetric containment near-dup (quoted/subset duplication)
@register(
    "t35_containment_pairs",
    """
    WITH toks AS (
      SELECT doc_id, string_split_regex(lower(text), '\\s+') AS t FROM documents
    ),
    sh AS (
      SELECT DISTINCT doc_id AS sid,
             unnest(list_transform(range(1, greatest(len(t) - 2, 0) + 1),
                    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS sh
      FROM toks
    ),
    sizes AS (SELECT sid, count(*) AS sz FROM sh GROUP BY sid),
    inter AS (
      SELECT x.sid AS a, y.sid AS b, count(*) AS i
      FROM sh x JOIN sh y ON x.sh = y.sh AND x.sid <> y.sid
      GROUP BY 1, 2
    )
    SELECT a, b, ROUND(CAST(i AS DOUBLE) / sa.sz, 6) AS containment
    FROM inter JOIN sizes sa ON sa.sid = a
    WHERE ROUND(CAST(i AS DOUBLE) / sa.sz, 6) >= 0.8
    ORDER BY a, b
    """,
    doc=(
        "Directed containment pairs C(a→b) = |A∩B|/|A| ≥ 0.8: the "
        "asymmetric near-dup relation Jaccard misses — a short document "
        "quoted inside a long one scores ~1 from the short side. Same "
        "shingle-join skeleton as t2, normalized by the source side only."
    ),
    tags=("training", "dedup"),
)
def t35(spark, sf):
    d = _docs(spark, sf)
    return D.ngram_containment_pairs(d, threshold=0.8).orderBy("a", "b")


# --------------------------------------------------------------------------
# t36 — dedup-tier QA: LSH candidate recall/precision vs the exact tier
@register(
    "t36_lsh_recall",
    None,  # compares two Spark tiers; the exact tier is itself t2's oracle
    doc=(
        "Candidate-generator QA: MinHash-LSH pair set (t3's tier) scored "
        "against the exact Jaccard pair set (t2's tier) — recall = "
        "|LSH∩exact|/|exact|, precision = |LSH∩exact|/|LSH| on the "
        "verified output. The monitoring query a production dedup "
        "pipeline runs on a sample to catch banding-parameter drift; "
        "full-join of two bounded pair sets, trivially parallel. "
        "Recall = 1.0 at the fixtures is unit-pinned."
    ),
    tags=("training", "dedup"),
    invariant=lambda rows: (
        None
        if len(rows) == 1 and rows[0]["recall"] == 1.0 and rows[0]["precision"] == 1.0
        else f"LSH banding drifted off the exact tier: {rows}"
    ),
)
def t36(spark, sf):
    d = _docs(spark, sf)
    # lazy-checkpoint both pair tiers (the t65 house pattern): the three
    # audit actions (intersect + the two counts) otherwise re-execute the
    # full shingle/Jaccard and MinHash-LSH pipelines ~2x each — the pair
    # sets are bounded, so single-materialization is pure win (interleaved
    # A/B at sf0.1, 3 adjacent pairs: plain 3.16-11.87 s vs
    # checkpointed 2.29-3.22 s — checkpoint won every pair)
    exact = (
        D.ngram_jaccard_pairs(d, threshold=0.8)
        .select("a", "b").localCheckpoint(eager=False)
    )
    lsh = (
        D.minhash_lsh_pairs(d, threshold=0.8)
        .select("a", "b").localCheckpoint(eager=False)
    )
    both = exact.intersect(lsh).count()
    ne, nl = exact.count(), lsh.count()
    return local_frame(spark,
        [(ne, nl, both,
          round(both / ne, 6) if ne else 1.0,
          round(both / nl, 6) if nl else 1.0)],
        "exact_pairs long, lsh_pairs long, agree long, recall double, precision double",
    )


# --------------------------------------------------------------------------
# t37 — stratified deterministic sample: exactly k docs per language, keyed
# on content-stable md5 tickets (reshard/rerun-invariant). The Spark plan is
# the two-phase cutoff design (operators/sampling.py): per-stratum counts →
# broadcast → narrow ticket prefilter → exact rank over ~2k survivors per
# stratum; the oracle ranks every row, which is the semantics being
# implemented and exactly what the prefilter provably preserves.
@register(
    "t37_stratified_sample",
    """
    SELECT lang, doc_id FROM (
      SELECT lang, doc_id,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY substring(md5(CAST(doc_id AS VARCHAR)), 1, 14), doc_id
             ) AS rn
      FROM documents
    ) WHERE rn <= 50
    ORDER BY lang, doc_id
    """,
    doc=(
        "Exactly 50 docs per language stratum, the 50 smallest md5 tickets "
        "— reproducible subsampling for eval carve-outs / pilot corpora. "
        "Two-phase at scale: broadcast per-stratum counts, codegen'd "
        "ticket-cutoff prefilter (keeps ~2k rows/stratum), exact rank on "
        "the survivors — never a full per-stratum sort."
    ),
    tags=("training", "sampling"),
)
def t37(spark, sf):
    from rudder_server_spark.operators.sampling import stratified_sample

    d = load_table(spark, sf, "documents")
    return (
        stratified_sample(d, "lang", k=50, id_col="doc_id")
        .select("lang", "doc_id")
        .orderBy("lang", "doc_id")
    )


# --------------------------------------------------------------------------
# t38 — source-mix rebalancing (flatten-toward-uniform upsampling): the data
# mixing step before training (GPT-3 §2.2 / The Pile §1 upsample rare
# high-quality components by small factors). Factors = mean-stratum-size/n,
# floored at 1 (never downsample here), capped at 4; fractional parts round
# stochastically on each doc's md5 ticket — unbiased per stratum,
# deterministic per doc, and expressed as pure codegen'd hex-string
# compares on BOTH engines (no hex parsing anywhere).
@register(
    "t38_rebalance_mix",
    """
    WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
    m AS (SELECT sum(n) * 1.0 / count(*) AS mean_n FROM c),
    f AS (
      SELECT lang, n, least(4.0, greatest(1.0, mean_n / n)) AS factor
      FROM c, m
    ),
    d AS (
      SELECT d.lang, factor, n,
             CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 14) <
                       lpad(lower(to_hex(CAST(floor((factor - floor(factor)) * power(2, 56)) AS BIGINT))), 14, '0')
                  THEN CAST(floor(factor) AS BIGINT) + 1
                  ELSE CAST(floor(factor) AS BIGINT) END AS repeats
      FROM documents d JOIN f USING (lang)
    )
    SELECT lang, min(n) AS n_docs,
           CAST(ROUND(min(factor), 6) AS DOUBLE) AS factor,
           CAST(SUM(repeats) AS BIGINT) AS total_repeats
    FROM d GROUP BY lang ORDER BY lang
    """,
    doc=(
        "Per-language rebalancing audit: factor = mean-size/n in [1, 4], "
        "total post-rebalance row count with ticket-based stochastic "
        "rounding. One narrow pass + two tiny broadcast aggregates."
    ),
    tags=("training", "sampling"),
)
def t38(spark, sf):
    from rudder_server_spark.operators.sampling import rebalance_repeats

    d = load_table(spark, sf, "documents")
    r = rebalance_repeats(d, source_col="lang", id_col="doc_id", max_repeat=4.0)
    counts = r.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("repeats").alias("total_repeats"),
    )
    # recompute the factor exactly as the operator does (bounded agg — the
    # per-doc repeats column is not the factor)
    c = d.groupBy("lang").agg(F.count("*").alias("_n"))
    mean_n = c.agg((F.sum("_n") / F.count("*")).alias("_mean_n"))
    f = c.crossJoin(F.broadcast(mean_n)).select(
        "lang",
        F.round(
            F.least(F.lit(4.0), F.greatest(F.lit(1.0), F.col("_mean_n") / F.col("_n"))),
            6,
        ).cast("double").alias("factor"),
    )
    return (
        counts.join(f, "lang")
        .select("lang", "n_docs", "factor", "total_repeats")
        .orderBy("lang")
    )


# --------------------------------------------------------------------------
# t39 — length-curriculum buckets: equal-population deciles over a total
# (n_chars, doc_id) order — the curriculum-learning pre-step (short/easy
# docs first) and the length-bucketing batching uses. NOTE the declared
# query is the exact-ntile ORACLE tier: a global ntile is a single ordered
# partition, fine at fixture scale, wrong at 100 TB — the production path
# computes approximate decile cutpoints (approx_percentile, one narrow
# pass) and range-buckets by value, trading exact equal counts for a
# fully-parallel narrow map (t21/t34 hold the percentile machinery).
@register(
    "t39_curriculum_buckets",
    """
    SELECT bucket, count(*) AS n_docs,
           min(n_chars) AS min_chars, max(n_chars) AS max_chars
    FROM (
      SELECT ntile(10) OVER (ORDER BY n_chars, doc_id) AS bucket, n_chars
      FROM documents
    )
    GROUP BY bucket ORDER BY bucket
    """,
    doc=(
        "Equal-population length deciles (ntile 10 over a total order) "
        "with per-bucket size and char-length range — curriculum / "
        "length-batching audit. Exact tier for the oracle; see docstring "
        "for the scale path."
    ),
    tags=("training", "sampling"),
)
def t39(spark, sf):
    from pyspark.sql import Window as W

    d = load_table(spark, sf, "documents")
    w = W.orderBy("n_chars", "doc_id")
    return (
        d.select(F.ntile(10).over(w).cast("long").alias("bucket"), "n_chars")
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
        .orderBy("bucket")
    )


# --------------------------------------------------------------------------
# t40 — int8 embedding quantization audit: per vector, the quantization
# scale and integer code checksums, hash-matched against a DuckDB oracle
# that re-derives the same codes in SQL. The quantizer itself is a numpy
# mapInPandas narrow map (operators/quantize.py — the FAISS SQ8 storage
# shape); the checksum aggregation explodes the 64-dim code JVM-side.
@register(
    "t40_embedding_quantize",
    """
    WITH q AS (
      SELECT vec_id,
             127.0 / list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS scale,
             embedding
      FROM embeddings
    )
    SELECT vec_id,
           CAST(floor(scale * 1e6) AS BIGINT) AS scale_micro,
           CAST(list_sum(list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * scale + 0.5) AS BIGINT))) AS BIGINT) AS q_sum,
           list_max(list_transform(embedding, x -> abs(CAST(floor(CAST(x AS DOUBLE) * scale + 0.5) AS BIGINT)))) AS q_max
    FROM q ORDER BY vec_id
    """,
    doc=(
        "Symmetric int8 quantization (scale = 127/max|x|, floor(x*s+0.5)) "
        "— 4x storage cut for vector columns; scale and code checksums "
        "per vector, bit-matched across engines via floor-based rounding."
    ),
    tags=("training", "embeddings"),
)
def t40(spark, sf):
    from rudder_server_spark.operators.quantize import quantize_embeddings

    e = load_table(spark, sf, "embeddings")
    q = quantize_embeddings(e)
    return (
        q.select(
            "vec_id",
            F.floor(F.col("scale") * 1e6).cast("bigint").alias("scale_micro"),
            F.explode("q").alias("x"),
        )
        .groupBy("vec_id", "scale_micro")
        .agg(
            F.sum("x").alias("q_sum"),
            F.max(F.abs(F.col("x").cast("bigint"))).alias("q_max"),
        )
        .select("vec_id", "scale_micro", "q_sum", "q_max")
        .orderBy("vec_id")
    )


# --------------------------------------------------------------------------
# t41 — SQ8 quantized ANN with exact rescoring: coarse-rank on the int8
# codes (the 4x-smaller column is all the corpus scan touches), exact
# float rescore of 4k candidates, final top-k. Approximate coarse tier →
# rows-only; the unit test pins recall against q27's exact top-k and the
# golden pins the output.
@register(
    "t41_ann_quantized",
    None,  # coarse tier is approximate → rows-only; recall unit-pinned
    doc=(
        "Two-stage SQ8 ANN (FAISS SQ8 + refine shape): int8-code integer "
        "dot product for candidate ranking, float cosine rescoring of "
        "rescore_factor*k survivors. The corpus scan reads only the "
        "quantized column."
    ),
    tags=("training", "similarity", "embeddings"),
    invariant=topk_shape_invariant(10, exact=True),
)
def t41(spark, sf):
    from rudder_server_spark.operators.quantize import quantized_topk

    e = load_table(spark, sf, "embeddings")
    qvec = e.where(F.col("vec_id") == 0).select("embedding").head()[0]
    return quantized_topk(
        e.where(F.col("vec_id") != 0), [float(v) for v in qvec], k=10
    )


# --------------------------------------------------------------------------
# t42 — contamination-aware split: the composition a real pipeline ships —
# t15's leakage-safe hash split, then t19's n-gram contamination pass
# quarantines training docs that share ≥3 distinct 5-grams with any
# val/test doc (the GPT-3 appendix-C decontamination step applied to the
# split itself). Eval side is bounded (2/16ths) → Catalyst broadcasts the
# gram join; everything else is the narrow split map.
@register(
    "t42_decontaminated_split",
    """
    WITH s AS (
      SELECT doc_id, text,
             CASE
               WHEN nib >= 14 AND nib < 15 THEN 'val'
               WHEN nib >= 15 AND nib < 16 THEN 'test'
               ELSE 'train'
             END AS split
      FROM (
        SELECT doc_id, text,
               CASE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
                 WHEN 'a' THEN 10 WHEN 'b' THEN 11 WHEN 'c' THEN 12
                 WHEN 'd' THEN 13 WHEN 'e' THEN 14 WHEN 'f' THEN 15
                 ELSE CAST(substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS INT)
               END AS nib
        FROM documents)
    ),
    toks AS (
      SELECT doc_id, string_split_regex(lower(text), '\\s+') AS t FROM s
    ),
    g AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(range(1, greatest(len(t) - 4, 0) + 1),
                    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4])) AS gram
      FROM toks
    ),
    cont AS (
      SELECT tg.doc_id
      FROM g tg
      JOIN (SELECT doc_id FROM s WHERE split = 'train') tr USING (doc_id)
      JOIN (SELECT DISTINCT gram FROM g
            JOIN (SELECT doc_id FROM s WHERE split IN ('val','test')) ev USING (doc_id)) eg
        ON tg.gram = eg.gram
      GROUP BY tg.doc_id HAVING count(DISTINCT tg.gram) >= 3
    )
    SELECT CASE WHEN split = 'train' AND doc_id IN (SELECT doc_id FROM cont)
                THEN 'quarantined' ELSE split END AS split,
           count(*) AS n
    FROM s GROUP BY 1 ORDER BY 1
    """,
    doc=(
        "Leakage-safe hash split + 5-gram decontamination: training docs "
        "sharing ≥3 distinct 5-grams with any val/test doc move to "
        "'quarantined'. Per-split doc counts."
    ),
    tags=("training", "dedup", "sampling"),
)
def t42(spark, sf):
    d = _docs(spark, sf)
    sp = X.hash_split(d, key_col="doc_id")
    train = sp.where(F.col("split") == "train")
    evals = sp.where(F.col("split").isin("val", "test"))
    cont = (
        D.contamination_counts(train, evals, n=5)
        .where(F.col("shared_ngrams") >= 3)
        .select(F.col("train_doc").alias("doc_id"), F.lit(True).alias("_q"))
    )
    return (
        sp.join(cont, "doc_id", "left")
        .withColumn(
            "split",
            F.when(F.col("_q") & (F.col("split") == "train"), "quarantined").otherwise(
                F.col("split")
            ),
        )
        .groupBy("split")
        .agg(F.count("*").alias("n"))
        .orderBy("split")
    )


# --------------------------------------------------------------------------
# t43 per-group embedding centroid + diversity — the curation statistic
# behind cluster balancing and outlier triage: per label, the mean
# vector and how tightly members hug it. Columnar dim-wise AVG (no
# explode), centroid broadcast back, codegen'd cosine fold; rounding at
# the centroid and per-row cosine pins cross-engine determinism (see
# operators/similarity.py::group_centroid_diversity).
@register(
    "t43_centroid_diversity",
    """
    WITH ex AS (
      SELECT label, CAST(unnest(embedding) AS DOUBLE) AS v,
             generate_subscripts(embedding, 1) AS d
      FROM embeddings
    ),
    cent AS (
      SELECT label, list(cv ORDER BY d) AS c FROM (
        SELECT label, d, round(avg(v), 6) AS cv FROM ex GROUP BY label, d
      ) GROUP BY label
    ),
    cos AS (
      SELECT e.label,
             round(
               list_dot_product(list_transform(e.embedding, x -> CAST(x AS DOUBLE)), c)
               / (sqrt(list_dot_product(list_transform(e.embedding, x -> CAST(x AS DOUBLE)),
                                        list_transform(e.embedding, x -> CAST(x AS DOUBLE))))
                  * sqrt(list_dot_product(c, c))),
               7) AS cs
      FROM embeddings e JOIN cent USING (label)
    )
    SELECT label, count(*) AS n_vectors,
           CAST(round(avg(cs), 5) AS DOUBLE) AS avg_cos,
           CAST(round(min(cs), 5) AS DOUBLE) AS min_cos
    FROM cos GROUP BY label ORDER BY label
    """,
    doc=(
        "Per-label embedding centroid diversity: member count, avg and "
        "min cosine-to-centroid. Dim-wise columnar AVG + broadcast "
        "centroid join; deterministic via fixed-point rounding."
    ),
    tags=("training", "similarity"),
)
def t43(spark, sf):
    e = load_table(spark, sf, "embeddings")
    return S.group_centroid_diversity(e, group_col="label", vec_col="embedding")


# --------------------------------------------------------------------------
# t44 token-budget corpus selection — "train on the best 40k tokens":
# docs ranked by a quality score (distinct-token ratio), selected in
# rank order until the token budget, one-extra crossing semantics
# (q58's pickup rule). The global ranking runs as packing's two-pass
# range-partitioned prefix sum — no single-task window. Per-source
# rollup of what survived.
@register(
    "t44_budget_select",
    f"""
    WITH scored AS (
      SELECT doc_id, source,
             len(regexp_extract_all(text, '{X.TOKEN_REGEX}')) AS ntok,
             CAST(round(
               CAST(len(list_distinct(regexp_extract_all(text, '{X.TOKEN_REGEX}'))) AS DOUBLE)
               / greatest(len(regexp_extract_all(text, '{X.TOKEN_REGEX}')), 1), 6) AS DOUBLE) AS score
      FROM documents
    ),
    sel AS (
      SELECT *, SUM(ntok) OVER (ORDER BY score DESC, doc_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM scored
    )
    SELECT source, count(*) AS n_docs, CAST(SUM(ntok) AS BIGINT) AS sel_tokens,
           CAST(round(avg(score), 6) AS DOUBLE) AS avg_score
    FROM sel WHERE cum - ntok < 40000 GROUP BY source ORDER BY source
    """,
    doc=(
        "Token-budget corpus selection: highest-scoring docs (distinct-"
        "token ratio) kept until 40k tokens, crossing doc included; "
        "per-source doc/token/score rollup of the selection."
    ),
    tags=("training", "sampling"),
)
def t44(spark, sf):
    from rudder_server_spark.operators.packing import budget_select

    d = _docs(spark, sf)
    toks = F.regexp_extract_all(F.col("text"), F.lit(X.TOKEN_REGEX), 0)
    ntok = F.size(toks)
    score = F.round(
        F.size(F.array_distinct(toks)).cast("double")
        / F.greatest(ntok, F.lit(1)).cast("double"),
        6,
    )
    scored = d.select("doc_id", "source", ntok.alias("ntok"), score.alias("score"))
    return (
        budget_select(scored, budget=40000)
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("ntok").alias("sel_tokens"),
            F.round(F.avg("score"), 6).cast("double").alias("avg_score"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# t45 pair-similarity histogram — the threshold-sweep the dedup operator
# needs tuning: how many near-dup pairs appear at each Jaccard band
# (0.2-wide buckets), computed in ONE pass over the same shingle
# self-join t2 runs — pick the threshold, then run the dedup. The
# bucket index comes from integer intersection/union counts (5*i/u),
# so banding is float-safe across engines.
@register(
    "t45_jaccard_histogram",
    f"""
    WITH {_JACCARD_CTES.replace(">= 0.8", ">= 0.2")}
    SELECT least(CAST(floor(jaccard * 5) AS INT), 4) AS bucket,
           count(*) AS n_pairs
    FROM jac GROUP BY bucket ORDER BY bucket
    """,
    doc=(
        "Near-dup pair histogram by Jaccard band (width 0.2, pairs >= "
        "0.2): the dedup-threshold tuning sweep, one shingle self-join "
        "pass."
    ),
    tags=("training", "dedup"),
)
def t45(spark, sf):
    d = _docs(spark, sf)
    pairs = D.ngram_jaccard_pairs(d, threshold=0.2)
    return (
        pairs.select(
            F.least(F.floor(F.col("jaccard") * 5), F.lit(4)).cast("long").alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count("*").alias("n_pairs"))
        .orderBy("bucket")
    )


# --------------------------------------------------------------------------
# t46 BPE merge-candidate pair counts — the first iteration of BPE
# vocabulary training: corpus-wide counts of ADJACENT token pairs, top
# candidates to merge (t13 counts unigrams; the pair statistic is what
# the merge loop actually ranks). Pairs come from zipping the token
# array against its own shift (two codegen'd slices — no posexplode
# self-join); explode → map-side partial count → top-k via per-
# partition heaps. One shuffle of (pair, partial count) at any scale.
@register(
    "t46_bpe_pairs",
    r"""
    WITH toks AS (
      SELECT regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 \t\n\r]') AS t
      FROM documents
    ),
    p AS (
      SELECT unnest(list_transform(range(1, len(t)), i -> t[i])) AS a,
             unnest(list_transform(range(1, len(t)), i -> t[i+1])) AS b
      FROM toks WHERE len(t) >= 2
    )
    SELECT a, b, count(*) AS n FROM p GROUP BY a, b ORDER BY n DESC, a, b LIMIT 32
    """,
    doc=(
        "BPE merge candidates: top-32 adjacent token pairs by corpus "
        "frequency. Shifted-slice zip, no self-join; one partial-agg "
        "shuffle."
    ),
    tags=("training", "text"),
)
def t46(spark, sf):
    d = _docs(spark, sf)
    t = F.regexp_extract_all(
        F.lower("text"), F.lit(r"[a-z]+|[0-9]+|[^a-z0-9 \t\n\r]"), 0
    )
    toks = d.select(t.alias("t")).where(F.size("t") >= 2)
    zipped = toks.select(
        F.explode(
            F.arrays_zip(
                F.slice("t", 1, F.size("t") - 1).alias("a"),
                F.slice("t", 2, F.size("t") - 1).alias("b"),
            )
        ).alias("p")
    )
    return (
        zipped.select(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "a", "b")
        .limit(32)
    )


# --------------------------------------------------------------------------
# t47 dataset card — the one-glance corpus summary a training run is
# signed off against: size, token volume, language/source breadth,
# exact-duplicate rate, length center. Long (metric, value) format.
# Every DISTINCT is pre-reduced to its bounded grain (grouped frame →
# count) so no Expand ever touches the corpus (house rule, SCALE.md);
# the dup-rate statistic folds distinct-count and total-count out of
# ONE md5-grouped aggregate (1 − groups/Σcount), its only shuffle.
@register(
    "t47_dataset_card",
    f"""
    SELECT 'avg_chars' AS metric, CAST(round(avg(n_chars), 3) AS DOUBLE) AS value FROM documents
    UNION ALL SELECT 'exact_dup_rate', CAST(round(
      1 - count(DISTINCT md5(lower(regexp_replace(text, '[^a-z0-9 ]', '', 'g')))) * 1.0
        / count(*), 6) AS DOUBLE) FROM documents
    UNION ALL SELECT 'n_docs', CAST(count(*) AS DOUBLE) FROM documents
    UNION ALL SELECT 'n_langs', CAST(count(DISTINCT lang) AS DOUBLE) FROM documents
    UNION ALL SELECT 'n_sources', CAST(count(DISTINCT source) AS DOUBLE) FROM documents
    UNION ALL SELECT 'p50_chars', CAST(round(quantile_cont(n_chars, 0.5), 3) AS DOUBLE) FROM documents
    UNION ALL SELECT 'total_tokens', CAST(SUM(len(regexp_extract_all(text, '{X.TOKEN_REGEX}'))) AS DOUBLE) FROM documents
    ORDER BY metric
    """,
    doc=(
        "Dataset card: docs/tokens/langs/sources/dup-rate/length summary "
        "in one long-format frame; distincts pre-reduced, no Expand."
    ),
    tags=("training", "aggregation"),
)
def t47(spark, sf):
    d = load_table(spark, sf, "documents")
    row = lambda name, df: df.select(F.lit(name).alias("metric"), F.col("value").cast("double"))
    norm_md5 = F.md5(F.lower(F.regexp_replace("text", "[^a-z0-9 ]", "")))
    dup = (
        d.select(norm_md5.alias("_h"))
        .groupBy("_h")
        .agg(F.count("*").alias("c"))
        .agg(F.round(1 - F.count("*") / F.sum("c"), 6).alias("value"))
    )
    parts = [
        row("avg_chars", d.agg(F.round(F.avg("n_chars"), 3).alias("value"))),
        row("exact_dup_rate", dup),
        row("n_docs", d.agg(F.count("*").alias("value"))),
        row("n_langs", d.groupBy("lang").count().agg(F.count("*").alias("value"))),
        row("n_sources", d.groupBy("source").count().agg(F.count("*").alias("value"))),
        row("p50_chars", d.agg(F.round(F.percentile("n_chars", F.lit(0.5)), 3).alias("value"))),
        row("total_tokens", d.agg(F.sum(X.token_count(F.col("text"))).alias("value"))),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out.orderBy("metric")


# --------------------------------------------------------------------------
# t48 packing-efficiency audit — the statistic that justifies sequence
# packing: for each candidate seq_len, tokens wasted by pad-per-document
# (every doc padded up to a seq_len multiple — the no-packing loader)
# vs concat-and-chunk (waste = only the final partial chunk, computed
# from the corpus total). One narrow pass computes per-doc ceil-padding
# for all three lengths; the per-length rollup is three sums over one
# bounded pre-aggregate. Savings = the fraction of padded batch slots
# packing reclaims.
@register(
    "t48_packing_efficiency",
    f"""
    WITH d AS (
      SELECT len(regexp_extract_all(text, '{X.TOKEN_REGEX}')) AS ntok FROM documents
      WHERE len(regexp_extract_all(text, '{X.TOKEN_REGEX}')) > 0
    ),
    l(seq_len) AS (VALUES (128), (512), (2048)),
    per AS (
      SELECT seq_len, CAST(SUM(ntok) AS BIGINT) AS total_tokens,
             SUM(CAST(ceil(ntok * 1.0 / seq_len) AS BIGINT) * seq_len) AS padded_slots
      FROM d CROSS JOIN l GROUP BY seq_len
    )
    SELECT seq_len, total_tokens,
           CAST(padded_slots - total_tokens AS BIGINT) AS padded_waste,
           CAST(CAST(ceil(total_tokens * 1.0 / seq_len) AS BIGINT) * seq_len - total_tokens AS BIGINT) AS packed_waste,
           CAST(round(1 - (CAST(ceil(total_tokens * 1.0 / seq_len) AS BIGINT) * seq_len * 1.0)
                          / padded_slots, 6) AS DOUBLE) AS packing_savings
    FROM per ORDER BY seq_len
    """,
    doc=(
        "Packing efficiency by seq_len (128/512/2048): padded-per-doc "
        "waste vs concat-and-chunk waste and the batch-slot savings "
        "fraction. One narrow pass, bounded rollup."
    ),
    tags=("training", "aggregation"),
)
def t48(spark, sf):
    d = load_table(spark, sf, "documents")
    ntok = X.token_count(F.col("text"))
    base = d.select(ntok.alias("ntok")).where(F.col("ntok") > 0)
    lens = local_frame(spark, [(128,), (512,), (2048,)], "seq_len int")
    per = (
        base.crossJoin(F.broadcast(lens))
        .groupBy("seq_len")
        .agg(
            F.sum("ntok").alias("total_tokens"),
            F.sum(
                F.ceil(F.col("ntok") * 1.0 / F.col("seq_len")).cast("long")
                * F.col("seq_len")
            ).alias("padded_slots"),
        )
    )
    packed_slots = F.ceil(F.col("total_tokens") * 1.0 / F.col("seq_len")).cast("long") * F.col("seq_len")
    return per.select(
        "seq_len",
        "total_tokens",
        (F.col("padded_slots") - F.col("total_tokens")).alias("padded_waste"),
        (packed_slots - F.col("total_tokens")).alias("packed_waste"),
        F.round(1 - packed_slots * 1.0 / F.col("padded_slots"), 6)
        .cast("double")
        .alias("packing_savings"),
    ).orderBy("seq_len")


# --------------------------------------------------------------------------
# t49 duplication attribution — near-dup pairs split by whether both
# sides come from the same source: a high cross-source rate means
# syndicated/mirrored content (dedup globally), a high within-source
# rate means a crawler re-fetching itself (fix the source). Reuses the
# exact Jaccard pair tier; the source labels join onto the (small)
# pair frame — AQE broadcasts the pair side against the corpus, so the
# corpus is never reshuffled for the lookup.
@register(
    "t49_dup_attribution",
    f"""
    WITH {_JACCARD_CTES},
    lab AS (
      SELECT CASE WHEN da.source = db.source THEN 'within_source'
                  ELSE 'cross_source' END AS scope
      FROM jac j
      JOIN documents da ON da.doc_id = j.a
      JOIN documents db ON db.doc_id = j.b
    )
    SELECT scope, count(*) AS n_pairs FROM lab
    GROUP BY scope ORDER BY scope
    """,
    doc=(
        "Near-dup pair attribution: within-source vs cross-source pair "
        "counts at Jaccard >= 0.8 — the syndication-vs-recrawl "
        "diagnostic."
    ),
    tags=("training", "dedup"),
)
def t49(spark, sf):
    d = load_table(spark, sf, "documents")
    pairs = D.ngram_jaccard_pairs(d, threshold=0.8)
    src = d.select("doc_id", "source")
    lab = (
        pairs.join(src.withColumnRenamed("doc_id", "a").withColumnRenamed("source", "sa"), "a")
        .join(src.withColumnRenamed("doc_id", "b").withColumnRenamed("source", "sb"), "b")
        .select(
            F.when(F.col("sa") == F.col("sb"), "within_source")
            .otherwise("cross_source")
            .alias("scope")
        )
    )
    return lab.groupBy("scope").agg(F.count("*").alias("n_pairs")).orderBy("scope")


# --------------------------------------------------------------------------
# t50 duplicate-family histogram — how MANY copies exact-dup families
# have (family size 1 = unique, 2, 3, ...): the multiplicity profile
# that decides between keep-one dedup (long tail of pairs) and
# upstream-source fixes (a few huge families). Two bounded aggregates
# after the one corpus-keyed shuffle on the normalized-text hash.
@register(
    "t50_dup_family_histogram",
    """
    SELECT family_size, count(*) AS n_families FROM (
      SELECT count(*) AS family_size
      FROM documents
      GROUP BY md5(lower(regexp_replace(text, '[^a-z0-9 ]', '', 'g')))
    ) GROUP BY family_size ORDER BY family_size
    """,
    doc=(
        "Exact-dup family-size histogram over the normalized-text hash: "
        "one corpus shuffle, two bounded rollups."
    ),
    tags=("training", "dedup"),
)
def t50(spark, sf):
    d = load_table(spark, sf, "documents")
    norm_md5 = F.md5(F.lower(F.regexp_replace("text", "[^a-z0-9 ]", "")))
    return (
        d.groupBy(norm_md5.alias("_h"))
        .agg(F.count("*").alias("family_size"))
        .groupBy("family_size")
        .agg(F.count("*").alias("n_families"))
        .orderBy("family_size")
    )


# --------------------------------------------------------------------------
# t51 — exact repeated-passage mining (Lee et al. 2021, arXiv:2107.06499):
# the substring-level dedup tier below document-level t1/t2 — per doc, how
# many of its 8-token spans occur verbatim in other documents. The Spark
# side hashes spans to 8-byte keys for the frequency shuffle; the oracle
# counts on raw span strings — counts are key-representation invariant.
_T51_N = 8
_T51_SPAN = " || ' ' || ".join(f"t[i+{j}]" for j in range(_T51_N))
@register(
    "t51_repeated_passages",
    f"""
    WITH toks AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS t
      FROM documents
    ),
    b AS (
      SELECT doc_id, t,
             list_distinct(list_transform(
               range(1, greatest(len(t) - {_T51_N - 1}, 0) + 1),
               i -> {_T51_SPAN})) AS shs
      FROM toks
    ),
    e AS (SELECT doc_id, unnest(shs) AS sh FROM b),
    f AS (SELECT sh FROM e GROUP BY sh HAVING count(*) >= 2),
    r AS (SELECT doc_id, count(*) AS n_repeated FROM e JOIN f USING (sh) GROUP BY doc_id)
    SELECT b.doc_id,
           CAST(greatest(len(t) - {_T51_N - 1}, 0) AS BIGINT) AS n_windows,
           CAST(len(shs) AS BIGINT) AS n_distinct,
           CAST(COALESCE(r.n_repeated, 0) AS BIGINT) AS n_repeated
    FROM b LEFT JOIN r USING (doc_id) ORDER BY doc_id
    """,
    doc=(
        "Per-doc exact repeated-passage stats (8-token spans shared by >= 2 "
        "docs): span extraction is the codegen'd lookahead regex, spans "
        "dedup per doc before the explode, frequencies shuffle 8-byte "
        "hashes. Two linear shuffles, no pairwise tier."
    ),
    tags=("training", "dedup"),
)
def t51(spark, sf):
    d = _docs(spark, sf)
    return D.repeated_passages(d, n=_T51_N, min_docs=2)


# --------------------------------------------------------------------------
# t52 — per-document top-k TF-IDF keywords (Sparck Jones 1972): exact
# document frequency, ln(N/df) idf, deterministic (score desc, term asc)
# tie-break. One token-count aggregate reused for df (no count-distinct
# Expand), broadcast term dictionary, per-doc top-3 window.
@register(
    "t52_tfidf_keywords",
    """
    WITH toks AS (
      SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS term
      FROM documents
    ),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
    dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term,
             round(CAST(tf.tf AS DOUBLE) * ln(CAST(n.n_docs AS DOUBLE) / CAST(dfreq.df AS DOUBLE)), 6) AS score
      FROM tf JOIN dfreq USING (term) CROSS JOIN n
    ),
    ranked AS (
      SELECT doc_id, term, score,
             row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rank
      FROM scored
    )
    SELECT doc_id, rank, term, score FROM ranked WHERE rank <= 3
    ORDER BY doc_id, rank
    """,
    doc=(
        "Top-3 TF-IDF keywords per doc: exact df from the reused (doc, "
        "term) count frame, ln(N/df) idf, broadcast dictionary join, "
        "deterministic tie-break. Linear explode + two bounded aggregates."
    ),
    tags=("training", "text"),
)
def t52(spark, sf):
    d = _docs(spark, sf)
    return X.tfidf_keywords(d, k=3)


# --------------------------------------------------------------------------
# t53 — Z-order (Morton) key computation under the oracle gate: the same
# bit interleave sources/layout.py::write_zordered sorts by, audited per
# event type over the events table. The layout's pruning effect is pinned
# separately (test_sources_load zorder test); this checks the KEY math is
# deterministic and engine-portable.
@register(
    "t53_zorder_key",
    """
    WITH d AS (
      SELECT event_type,
             user_id & 255 AS u,
             CAST(floor(greatest(value, 0)) AS BIGINT) & 255 AS v
      FROM events
    ),
    k AS (
      SELECT event_type,
             ("""
    + " | ".join(
        f"(((u >> {i}) & 1) << {2 * i + 1}) | (((v >> {i}) & 1) << {2 * i})"
        for i in range(8)
    )
    + """) AS zkey
      FROM d
    )
    SELECT event_type,
           CAST(SUM(zkey) AS BIGINT) AS sum_zkey,
           CAST(min(zkey) AS BIGINT) AS min_zkey,
           CAST(max(zkey) AS BIGINT) AS max_zkey
    FROM k GROUP BY event_type ORDER BY event_type
    """,
    doc=(
        "Morton/Z-order key audit per event type (8-bit dims user_id, "
        "clamped floor(value)): one codegen'd bit-interleave projection + "
        "a grouped aggregate — the key write_zordered clusters parquet by "
        "for multi-dimensional row-group pruning."
    ),
    tags=("training", "layout"),
)
def t53(spark, sf):
    from rudder_server_spark.sources.fixtures import load_table
    from rudder_server_spark.sources.layout import zorder_key

    e = load_table(spark, sf, "events")
    d = e.select(
        "event_type",
        F.expr("user_id & 255").alias("u"),
        F.expr("CAST(floor(greatest(value, 0)) AS BIGINT) & 255").alias("v"),
    )
    k = d.select("event_type", zorder_key(["u", "v"], bits=8).alias("zkey"))
    return (
        k.groupBy("event_type")
        .agg(
            F.sum("zkey").cast("long").alias("sum_zkey"),
            F.min("zkey").alias("min_zkey"),
            F.max("zkey").alias("max_zkey"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# t54 — heavy hitters with a Count-Min sketch bound audit: the exact
# top-10 corpus tokens (one bounded-vocabulary partial-agg shuffle)
# plus, per token, whether the mergeable CMS summary respects its
# guarantee (estimate in [exact, exact + eps*N]) — the property that
# makes per-shard sketches safe to roll up at 100 TB. The oracle pins
# the exact tier and the invariant (literal TRUE: a violated bound is a
# hash mismatch, i.e. a driver-visible failure).
@register(
    "t54_heavy_hitters",
    f"""
    WITH toks AS (
      SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS tok
      FROM documents
    )
    SELECT tok, count(*) AS cnt, TRUE AS cms_ok
    FROM toks GROUP BY tok ORDER BY cnt DESC, tok LIMIT 10
    """,
    doc=(
        "Exact top-10 tokens + CMS bound audit (estimate never below the "
        "true count, above by at most eps*N): exact tier is one partial-agg "
        "shuffle; the sketch aggregates map-side and deserializes driver-"
        "side as a bounded binary."
    ),
    tags=("training", "sketch"),
)
def t54(spark, sf):
    from rudder_server_spark.operators.sketches import heavy_hitters_cms

    d = load_table(spark, sf, "documents")
    toks = d.select(
        F.explode(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit(r"[a-z]+"), 0)
        ).alias("tok")
    )
    eps = 0.001
    top, cms = heavy_hitters_cms(toks, "tok", k=10, eps=eps)
    n = cms.total
    rows = top.collect()  # bounded: exactly k rows
    checked = [
        (r["tok"], r["cnt"], r["cnt"] <= cms.estimate(r["tok"]) <= r["cnt"] + eps * n)
        for r in rows
    ]
    return local_frame(spark, checked, "tok string, cnt long, cms_ok boolean")


_T55_SQL = f"""
    WITH RECURSIVE {_JACCARD_CTES},
    edges AS (
      SELECT a AS u, b AS v FROM jac UNION SELECT b AS u, a AS v FROM jac
    ),
    walk(node, comp) AS (
      SELECT DISTINCT u, u FROM edges
      UNION
      SELECT e.u, w.comp FROM edges e JOIN walk w ON e.v = w.node
    ),
    cc AS (SELECT node AS did, min(comp) AS cluster_id FROM walk GROUP BY node),
    sized AS (
      SELECT cc.did, cc.cluster_id, d.n_chars,
             count(*) OVER (PARTITION BY cc.cluster_id) AS csz,
             row_number() OVER (
               PARTITION BY cc.cluster_id
               ORDER BY d.n_chars DESC, cc.did) AS rn
      FROM cc JOIN documents d ON d.doc_id = cc.did
    )
    SELECT did AS doc_id, cluster_id,
           CAST(csz AS BIGINT) AS cluster_size, rn = 1 AS is_canonical
    FROM sized ORDER BY cluster_id, doc_id
"""


@register(
    "t55_dup_clusters",
    _T55_SQL,
    doc=(
        "Duplicate-family resolution: exact-Jaccard pairs (≥0.8) → "
        "connected components → canonical election (longest doc, tie → "
        "min id). Oracle = recursive-CTE reachability over the same pair "
        "set; the Spark side is pointer-jumping min-label CC (identity "
        "graph machinery reused on the dup-pair graph)."
    ),
    tags=("training", "dedup"),
)
def t55(spark, sf):
    d = _docs(spark, sf)
    return D.dup_clusters(d, threshold=0.8)


_COS = """
      ROUND(
        list_sum(list_transform(range(1, len(qe)+1),
          i -> CAST(qe[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE)))
        / (sqrt(list_sum(list_transform(qe, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
           * sqrt(list_sum(list_transform(ce, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))),
      6)
"""


@register(
    "t56_knn_classify",
    f"""
    WITH q AS (
      SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id % 10 = 0
    ),
    c AS (
      SELECT vec_id AS nid, embedding AS ce, label FROM embeddings
      WHERE vec_id % 10 <> 0
    ),
    pairs AS (SELECT qid, nid, label, {_COS} AS sim FROM q, c),
    ranked AS (
      SELECT qid, nid, label,
             row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rn
      FROM pairs
    ),
    votes AS (
      SELECT qid, label, count(*) AS cnt FROM ranked WHERE rn <= 5 GROUP BY 1, 2
    ),
    pred AS (
      SELECT qid, label, cnt,
             row_number() OVER (PARTITION BY qid ORDER BY cnt DESC, label) AS pr
      FROM votes
    )
    SELECT qid AS vec_id, label AS pred_label, CAST(cnt AS BIGINT) AS votes
    FROM pred WHERE pr = 1 ORDER BY vec_id
    """,
    doc=(
        "kNN(5) majority-vote labeling of the held-out tenth of the "
        "embedding corpus against the labeled rest — the seed-classifier "
        "shape. Broadcast query side over one corpus scan, per-index "
        "generated-SQL cosine (rounded to 1e-6 pre-rank so rank "
        "boundaries are deterministic cross-engine), bounded vote tail."
    ),
    tags=("training", "similarity"),
)
def t56(spark, sf):
    from rudder_server_spark.operators.similarity import knn_classify

    e = _emb(spark, sf)
    q = e.where(F.col("vec_id") % 10 == 0)
    c = e.where(F.col("vec_id") % 10 != 0)
    return knn_classify(q, c, k=5)


def _t57_invariant(rows):
    """Semantic floor so the sweep fails t57 on MEANING, not just
    exceptions (VERDICT r3 #7): exactly one summary row, the exact tier
    fully populated (k=5 neighbors per query), and IVF recall at
    nprobe=4/16 comfortably above the ~0.25 random-cell-read baseline
    (measured 0.61-0.69 on the unstructured fixtures across SFs)."""
    if len(rows) != 1:
        return f"expected 1 summary row, got {len(rows)}"
    r = rows[0]
    if r["n_queries"] <= 0 or r["n_exact"] != 5 * r["n_queries"]:
        return f"exact tier incomplete: {r}"
    if not 0 <= r["n_hit"] <= r["n_exact"]:
        return f"hit count out of range: {r}"
    if r["recall"] < 0.5:
        return f"IVF recall collapsed below floor 0.5: {r}"
    return None


@register(
    "t57_ann_knn_recall",
    None,  # approximate (k-means cells) -> rows-only; recall pinned in unit test
    doc=(
        "Batch-ANN QA: recall@5 of the IVF cell-pruned kNN join "
        "(nprobe=4 of 16 cells ~ 1/4 of the corpus read per query) "
        "against the exact Arrow-batched kNN join on the same held-out "
        "query block. One summary row: (n_queries, n_exact, n_hit, "
        "recall)."
    ),
    tags=("training", "similarity"),
    invariant=_t57_invariant,
)
def t57(spark, sf):
    from rudder_server_spark.operators.similarity import (
        ivf_train,
        knn_join,
        knn_join_ivf,
    )

    e = _emb(spark, sf)
    q = e.where(F.col("vec_id") % 10 == 0)
    c = e.where(F.col("vec_id") % 10 != 0)
    # materialize both candidate sets (bounded: nq x k rows each) so the
    # audit joins run on tiny checkpointed frames instead of one mega-plan
    # fusing kmeans + the generated argmin + two Arrow stages — the fused
    # plan's codegen compilation OOMs a default-heap (1g) driver session
    exact = knn_join(q, c, k=5).select("q_id", "n_id").localCheckpoint()
    cents = ivf_train(c, k=16)
    approx = (
        knn_join_ivf(q, c, cents, k=5, nprobe=4)
        .select("q_id", F.col("n_id").alias("n_id_a"))
        .localCheckpoint()
    )
    hit = exact.join(
        approx, (exact.q_id == approx.q_id) & (exact.n_id == approx.n_id_a), "left_semi"
    )
    return (
        exact.agg(
            F.countDistinct("q_id").cast("long").alias("n_queries"),
            F.count("*").cast("long").alias("n_exact"),
        )
        .crossJoin(hit.agg(F.count("*").cast("long").alias("n_hit")))
        .select(
            "n_queries",
            "n_exact",
            "n_hit",
            F.round(F.col("n_hit") / F.col("n_exact"), 4).alias("recall"),
        )
    )


_T58_SQL = f"""
    WITH RECURSIVE {_JACCARD_CTES},
    edges AS (
      SELECT a AS u, b AS v FROM jac UNION SELECT b AS u, a AS v FROM jac
    ),
    walk(node, comp) AS (
      SELECT DISTINCT u, u FROM edges
      UNION
      SELECT e.u, w.comp FROM edges e JOIN walk w ON e.v = w.node
    ),
    cc AS (SELECT node AS did, min(comp) AS cluster_id FROM walk GROUP BY node),
    keyed AS (
      SELECT d.doc_id, CAST(COALESCE(cc.cluster_id, d.doc_id) AS BIGINT) AS split_key
      FROM documents d LEFT JOIN cc ON cc.did = d.doc_id
    ),
    nibs AS (
      SELECT doc_id, split_key,
             CASE substr(md5(CAST(split_key AS VARCHAR)), 1, 1)
               WHEN 'a' THEN 10 WHEN 'b' THEN 11 WHEN 'c' THEN 12
               WHEN 'd' THEN 13 WHEN 'e' THEN 14 WHEN 'f' THEN 15
               ELSE CAST(substr(md5(CAST(split_key AS VARCHAR)), 1, 1) AS INT)
             END AS nib
      FROM keyed
    )
    SELECT doc_id, split_key,
           CASE WHEN nib >= 14 AND nib < 15 THEN 'val'
                WHEN nib >= 15 AND nib < 16 THEN 'test'
                ELSE 'train' END AS split
    FROM nibs ORDER BY doc_id
"""


@register(
    "t58_cluster_safe_split",
    _T58_SQL,
    doc=(
        "Leakage-safe split: near-dup families (t55's connected "
        "components) share one md5-bucket assignment keyed on the family "
        "id, so a near-copy can never straddle train/test; singletons "
        "keep t15's family-blind assignment bit-for-bit."
    ),
    tags=("training", "dedup", "text"),
)
def t58(spark, sf):
    d = _docs(spark, sf)
    return D.cluster_safe_split(d, threshold=0.8)


def _t59_invariant(rows):
    """MMR output shape floor: exactly m=20 picks, contiguous ranks,
    distinct ids, and the rank-1 pick is the relevance argmax (the greedy's
    first step has no diversity term yet)."""
    if len(rows) != 20:
        return f"expected 20 MMR picks, got {len(rows)}"
    by_rank = sorted(rows, key=lambda r: r["rank"])
    if [r["rank"] for r in by_rank] != list(range(1, 21)):
        return f"ranks not 1..20: {[r['rank'] for r in by_rank]}"
    ids = [r["vec_id"] for r in rows]
    if len(set(ids)) != 20:
        return f"duplicate picks: {ids}"
    if by_rank[0]["rel"] < max(r["rel"] for r in rows) - 1e-9:
        return f"rank-1 pick is not the relevance argmax: {by_rank[0]}"
    return None


@register(
    "t59_mmr_select",
    None,  # sequential greedy -> not SQL-expressible; rows-only + unit-pinned
    doc=(
        "MMR diversity selection: top-20 of the embedding corpus for a "
        "fixed query, lambda=0.7 — distributed relevance pool (generated-"
        "SQL cosine top-500), exact greedy on the bounded pool."
    ),
    tags=("training", "similarity"),
    invariant=_t59_invariant,
)
def t59(spark, sf):
    from rudder_server_spark.operators.similarity import mmr_select, vector_dim

    e = load_table(spark, sf, "embeddings")
    dim = vector_dim(e)
    qv = [1.0 if i % 2 == 0 else -1.0 for i in range(dim)]
    return mmr_select(e, qv, m=20, lam=0.7, pool_size=500)


@register(
    "t60_chunking",
    """
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
      FROM documents WHERE length(trim(text)) > 0
    ),
    starts AS (
      SELECT doc_id, t, len(t) AS n, unnest(range(0, len(t), 48)) AS s FROM toks
    )
    SELECT doc_id,
           CAST(s / 48 AS BIGINT) AS chunk_idx,
           CAST(least(64, n - s) AS BIGINT) AS n_tokens,
           array_to_string(t[s+1 : s+64], ' ') AS chunk_text
    FROM starts
    ORDER BY doc_id, chunk_idx
    """,
    doc=(
        "Sliding-window RAG/pretraining chunking: 64-token windows, "
        "16-token overlap (stride 48), rejoined to text — one codegen'd "
        "split + sequence/posexplode/slice per doc, output-linear, no "
        "shuffle."
    ),
    tags=("training", "text"),
)
def t60(spark, sf):
    d = _docs(spark, sf)
    return X.chunk_documents(d, chunk_tokens=64, overlap=16)


@register(
    "t61_ann_pq",
    None,  # approximate (PQ distortion) → rows-only; recall pinned in unit test
    doc=(
        "ANN top-10 via product quantization + ADC (Jégou et al. 2011): "
        "8 subspaces × 16 codes (64-dim float32 → 8 bytes, 32×), coarse "
        "rank = m literal-table lookups in whole-stage codegen over the "
        "code column only, exact-cosine rescore of the top 4k. Recall vs "
        "q27's exact top-k unit-tested; operators/pq.py."
    ),
    tags=("training", "similarity"),
    invariant=topk_shape_invariant(10),
)
def t61(spark, sf):
    from rudder_server_spark.operators import pq as PQ

    e = load_table(spark, sf, "embeddings")
    qvec = [float(v) for v in e.where(F.col("vec_id") == 0).select("embedding").head()[0]]
    books = PQ.pq_train(e, m=8, k=16)
    return PQ.pq_topk(e.where(F.col("vec_id") != 0), books, qvec, k=10)


def _t62_invariant(rows):
    """Top-subword profile sanity: bounded rows, descending counts, and
    the vocabulary actually contains merged (multi-char) subwords."""
    if not rows or len(rows) > 30:
        return f"expected 1..30 rows, got {len(rows)}"
    counts = [r["n"] for r in rows]
    if counts != sorted(counts, reverse=True):
        return "subword counts not descending"
    if any((not r["token"]) for r in rows):
        return "empty subword token"
    from rudder_server_spark.operators.bpe import END

    if not any(len(r["token"].replace(END, "x")) > 1 for r in rows):
        return "no merged multi-character subword in the top profile"
    return None


@register(
    "t62_bpe_vocab",
    None,  # merge learning is iterative/driver-bounded → rows-only + invariant
    doc=(
        "BPE vocabulary training (Sennrich et al. 2016) over the documents "
        "corpus: ONE distributed word-count reduce (Heaps'-law-bounded, "
        "capped with raise), classic merge loop on the bounded word-freq "
        "table driver-side (zero corpus scans per merge), broadcast "
        "tokenizer as an Arrow pass with per-word memo, then the subword "
        "frequency profile (top 30). Golden merge sequence + reconstruction "
        "property unit-pinned; operators/bpe.py."
    ),
    tags=("training", "text"),
    invariant=_t62_invariant,
)
def t62(spark, sf):
    from rudder_server_spark.operators import bpe as B

    d = _docs(spark, sf)
    merges = B.bpe_train(d, num_merges=100)
    toks = B.bpe_tokenize(d, merges)
    return (
        B.subword_stats(toks)
        .orderBy(F.desc("n"), "token")
        .limit(30)
    )


def _t63_invariant(rows):
    """DSIR selection shape: exactly k rows, distinct ids, selection key
    descending (Gumbel top-k output contract)."""
    if len(rows) != 50:
        return f"expected exactly 50 selected docs, got {len(rows)}"
    ids = [r["doc_id"] for r in rows]
    if len(set(ids)) != len(ids):
        return "duplicate doc_id in selection"
    keys = [r["sel_key"] for r in rows]
    if any(b > a for a, b in zip(keys, keys[1:])):
        return "selection keys not descending"
    return None


@register(
    "t63_dsir_select",
    None,  # float log-ratio weights → rows-only + invariant; math unit-pinned
    doc=(
        "DSIR importance resampling (Xie et al. 2023): hashed word-bigram "
        "bucket features (codegen lookahead regex + F.hash, one shuffle), "
        "add-one-smoothed target/raw log-ratio table (two B-row aggs, "
        "broadcast back), per-doc log importance weight, seeded Gumbel "
        "top-k selection. Target domain = every 10th doc, standing in for "
        "the curated sample. operators/dsir.py"
    ),
    tags=("training", "sampling"),
    invariant=_t63_invariant,
)
def t63(spark, sf):
    from rudder_server_spark.operators.dsir import dsir_select

    d = load_table(spark, sf, "documents")
    target = d.where(F.col("doc_id") % 10 == 0)
    raw = d.where(F.col("doc_id") % 10 != 0)
    return dsir_select(raw, target, k=50, n_buckets=4096, temperature=1.0, seed=7)


# --------------------------------------------------------------------------
# t64 n-gram novelty — per-source marginal-content audit: how much of each
# source's shingle mass first appears THERE (vs boilerplate already seen in
# lower doc_ids). The attribution twin of t51's repeated passages: t51
# finds the copies, this scores what each doc adds. Sum-of-ints ratio per
# source (not an avg of per-doc doubles) keeps the fold engine-portable.
@register(
    "t64_ngram_novelty",
    """
    WITH toks AS (
      SELECT doc_id, string_split_regex(lower(text), '\\s+') AS t FROM documents
    ),
    sh AS (
      SELECT DISTINCT doc_id AS sid,
             unnest(list_transform(range(1, greatest(len(t) - 2, 0) + 1),
                    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS sh
      FROM toks
    ),
    first AS (SELECT sh, min(sid) AS first_sid FROM sh GROUP BY sh),
    per_doc AS (
      SELECT s.sid, count(*) AS n_shingles,
             CAST(SUM(CASE WHEN s.sid = f.first_sid THEN 1 ELSE 0 END) AS BIGINT)
               AS n_novel
      FROM sh s JOIN first f ON s.sh = f.sh
      GROUP BY s.sid
    )
    SELECT d.source,
           count(*) AS n_docs,
           CAST(SUM(p.n_shingles) AS BIGINT) AS total_shingles,
           CAST(SUM(p.n_novel) AS BIGINT) AS novel_shingles,
           CAST(ROUND(CAST(SUM(p.n_novel) AS DOUBLE) / SUM(p.n_shingles), 6)
                AS DOUBLE) AS novelty,
           CAST(SUM(CASE WHEN p.n_novel = p.n_shingles THEN 1 ELSE 0 END) AS BIGINT)
             AS fully_novel_docs
    FROM per_doc p JOIN documents d ON d.doc_id = p.sid
    GROUP BY d.source ORDER BY d.source
    """,
    doc=(
        "N-gram novelty: fraction of each source's distinct-shingle mass "
        "first observed in that document (min-doc_id attribution). Two "
        "linear keyed shuffles (min per shingle + same-key join back), "
        "per-doc rollup, bounded per-source output; ratio of integer sums "
        "for an engine-portable fold."
    ),
    tags=("training", "dedup"),
)
def t64(spark, sf):
    from rudder_server_spark.operators.dedup import ngram_novelty

    d = _docs(spark, sf)
    per_doc = ngram_novelty(d)
    return (
        per_doc.join(d.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_shingles").alias("total_shingles"),
            F.sum("n_novel").alias("novel_shingles"),
            F.round(
                F.sum("n_novel").cast("double") / F.sum("n_shingles"), 6
            ).alias("novelty"),
            F.count_if(F.col("n_novel") == F.col("n_shingles")).alias(
                "fully_novel_docs"
            ),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# T65 strip repeated passages — the REMOVAL half of Lee et al. 2021
# (arXiv:2107.06499 §4) completing t51's mining stats: every 8-token span
# occurring in >= 2 distinct documents is excised by covered token
# position (overlapping spans merge), returning the cleaned normalized
# text. Two linear shuffles (span-frequency on 8-byte hashes, per-doc
# coverage); the rebuild is JVM-side array surgery — no doc pairs, no
# Python, no quadratic tier.
@register(
    "t65_strip_passages",
    r"""
    WITH t AS (
      SELECT doc_id,
             CASE WHEN trim(regexp_replace(lower(text), '\s+', ' ', 'g')) = ''
                  THEN []::VARCHAR[]
                  ELSE string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')
             END AS tk
      FROM documents
    ),
    w AS (
      SELECT doc_id, s, array_to_string(tk[s+1:s+8], ' ') AS span
      FROM t, UNNEST(CASE WHEN len(tk) >= 8 THEN generate_series(0, len(tk)-8)
                          ELSE []::BIGINT[] END) AS g(s)
    ),
    rep AS (SELECT span FROM w GROUP BY span HAVING count(DISTINCT doc_id) >= 2),
    cov AS (
      SELECT doc_id, list_sort(list_distinct(flatten(list(gs)))) AS covered
      FROM (SELECT w.doc_id, generate_series(w.s, w.s+7) AS gs
            FROM w JOIN rep USING (span))
      GROUP BY doc_id
    )
    SELECT t.doc_id,
           COALESCE(array_to_string(
             list_transform(
               list_filter(CASE WHEN len(tk) = 0 THEN []::BIGINT[]
                                ELSE generate_series(0, len(tk)-1) END,
                           i -> NOT list_contains(COALESCE(cov.covered, []::BIGINT[]), i)),
               i -> tk[i+1]),
             ' '), '') AS clean_text,
           CAST(len(tk) AS BIGINT) AS n_tokens,
           CAST(COALESCE(len(cov.covered), 0) AS BIGINT) AS n_removed
    FROM t LEFT JOIN cov USING (doc_id)
    ORDER BY doc_id
    """,
    doc=(
        "Repeated-passage removal (Lee et al. 2021 strip pass): excise "
        "every 8-token span shared by >=2 docs, by covered token position "
        "(overlaps merge). Linear span-hash shuffle + bounded coverage "
        "join-back; completes t51's mining with the cleaning operator."
    ),
    tags=("training", "dedup"),
)
def t65(spark, sf):
    from rudder_server_spark.operators.dedup import strip_repeated_passages

    d = _docs(spark, sf)
    return strip_repeated_passages(d, n=8, min_docs=2)


# --------------------------------------------------------------------------
# T66 span-level decontamination — excise every 8-token span a training
# document shares with the benchmark corpus (benchmark = every 10th
# fixture doc), the surgical sibling of t19/t42's drop-the-document
# detection. Benchmark side reduces to distinct span hashes (bounded);
# train side is one linear positioned-span join + the t65 rebuild.
@register(
    "t66_strip_contamination",
    r"""
    WITH norm AS (
      SELECT doc_id,
             CASE WHEN trim(regexp_replace(lower(text), '\s+', ' ', 'g')) = ''
                  THEN []::VARCHAR[]
                  ELSE string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')
             END AS tk
      FROM documents
    ),
    bench AS (
      SELECT DISTINCT array_to_string(tk[s+1:s+8], ' ') AS span
      FROM norm, UNNEST(CASE WHEN len(tk) >= 8 THEN generate_series(0, len(tk)-8)
                             ELSE []::BIGINT[] END) AS g(s)
      WHERE doc_id % 10 = 0
    ),
    train AS (SELECT * FROM norm WHERE doc_id % 10 <> 0),
    w AS (
      SELECT doc_id, s, array_to_string(tk[s+1:s+8], ' ') AS span
      FROM train, UNNEST(CASE WHEN len(tk) >= 8 THEN generate_series(0, len(tk)-8)
                              ELSE []::BIGINT[] END) AS g(s)
    ),
    cov AS (
      SELECT doc_id, list_sort(list_distinct(flatten(list(gs)))) AS covered
      FROM (SELECT w.doc_id, generate_series(w.s, w.s+7) AS gs
            FROM w JOIN bench USING (span))
      GROUP BY doc_id
    )
    SELECT train.doc_id,
           COALESCE(array_to_string(
             list_transform(
               list_filter(CASE WHEN len(tk) = 0 THEN []::BIGINT[]
                                ELSE generate_series(0, len(tk)-1) END,
                           i -> NOT list_contains(COALESCE(cov.covered, []::BIGINT[]), i)),
               i -> tk[i+1]),
             ' '), '') AS clean_text,
           CAST(len(tk) AS BIGINT) AS n_tokens,
           CAST(COALESCE(len(cov.covered), 0) AS BIGINT) AS n_removed
    FROM train LEFT JOIN cov USING (doc_id)
    ORDER BY doc_id
    """,
    doc=(
        "Span-level decontamination: strip every 8-token span shared with "
        "the benchmark corpus from training docs (GPT-3 appx C / PaLM "
        "§6.1 n-gram overlap, at span grain). Benchmark reduces to "
        "distinct span hashes; one linear train-side join + positioned "
        "rebuild."
    ),
    tags=("training", "dedup"),
)
def t66(spark, sf):
    from rudder_server_spark.operators.dedup import strip_contaminated_spans

    d = _docs(spark, sf)
    bench = d.where(F.col("doc_id") % 10 == 0)
    train = d.where(F.col("doc_id") % 10 != 0)
    return strip_contaminated_spans(train, bench, n=8)


@register(
    "t67_jpeg_roundtrip",
    None,  # binary-media decode has no SQL oracle; strict invariant below
    doc=(
        "Distributed baseline-JPEG round trip: synthesize one 16x16 gray "
        "JPEG per document worker-side (all-ones quant → bit-exact "
        "decode), run the pure-Python Huffman+IDCT decoder "
        "(operators/multimodal.py::decode_jpeg) through mapInPandas, and "
        "roll up exactness — the end-to-end proof the JPEG path runs "
        "DISTRIBUTED over a binary column, not just in unit tests. The "
        "invariant requires zero decode errors and every image's mean to "
        "match its encoded blocks exactly."
    ),
    tags=("training", "multimodal"),
    invariant=lambda rows: (
        None
        if len(rows) == 1
        and rows[0]["n_images"] > 0
        and rows[0]["n_errors"] == 0
        and rows[0]["n_exact"] == rows[0]["n_images"]
        and rows[0]["n_dims_ok"] == rows[0]["n_images"]
        else f"JPEG round trip drifted: {rows}"
    ),
)
def t67(spark, sf):
    from rudder_server_spark.operators.multimodal import (
        decode_jpeg,
        synthesize_jpeg_corpus,
    )

    d = load_table(spark, sf, "documents").select(
        F.col("doc_id").alias("item_id")
    )
    corpus = synthesize_jpeg_corpus(d)
    decoded = decode_jpeg(corpus)
    # expected mean recomputed from item_id JVM-side (the synthesizer's
    # block formula) — no join back to the corpus, no second synth pass
    expected = F.expr(
        "aggregate(sequence(0, 3), 0L, "
        "(acc, c) -> acc + pmod(item_id * 37 + 11 * c + 7, 256)) / 4.0"
    )
    joined = decoded.withColumn("expected_mean", expected)
    return joined.agg(
        F.count("*").alias("n_images"),
        F.sum(F.when(F.col("error").isNotNull(), 1).otherwise(0)).alias(
            "n_errors"
        ),
        F.sum(
            F.when(
                F.col("error").isNull()
                & (F.abs(F.element_at("feature", 1) - F.col("expected_mean")) < 1e-9),
                1,
            ).otherwise(0)
        ).alias("n_exact"),
        F.sum(
            F.when(
                (F.col("width") == 16) & (F.col("height") == 16)
                & (F.col("channels") == 1),
                1,
            ).otherwise(0)
        ).alias("n_dims_ok"),
    )


@register(
    "t68_gif_roundtrip",
    None,  # binary-media decode has no SQL oracle; strict invariant below
    doc=(
        "Distributed animated-GIF round trip: synthesize one 4-frame 8x8 "
        "GIF89a per document worker-side (lossless palette codec → exact "
        "decode), run the pure-Python LZW decoder + frame sampler "
        "(operators/multimodal.py::gif_frame_sample) through the "
        "one-to-many mapInPandas shape, and roll up exactness. The "
        "invariant requires one row per (document, frame), zero decode "
        "errors, every frame's mean matching its palette formula exactly, "
        "8x8x3 dims, and the per-frame GCE delays surviving the trip."
    ),
    tags=("training", "multimodal"),
    invariant=lambda rows: (
        None
        if len(rows) == 1
        and rows[0]["n_rows"] > 0
        and rows[0]["n_rows"] == 4 * rows[0]["n_docs"]
        and rows[0]["n_errors"] == 0
        and rows[0]["n_exact"] == rows[0]["n_rows"]
        and rows[0]["n_dims_ok"] == rows[0]["n_rows"]
        and rows[0]["n_delay_ok"] == rows[0]["n_rows"]
        else f"GIF round trip drifted: {rows}"
    ),
)
def t68(spark, sf):
    from rudder_server_spark.operators.multimodal import (
        gif_frame_sample,
        synthesize_gif_corpus,
    )

    d = load_table(spark, sf, "documents").select(
        F.col("doc_id").alias("item_id")
    )
    corpus = synthesize_gif_corpus(d, n_frames=4)
    decoded = gif_frame_sample(corpus, every_n=1, max_frames=None)
    # expected per-frame mean recomputed JVM-side from (item_id, frame_idx)
    # — the synthesizer's palette formula; indices are uniform over the 4
    # palette entries so the mean is the plain average
    expected = F.expr(
        "aggregate(sequence(0, 3), 0L, (acc, c) -> "
        "acc + pmod(item_id * 37 + 11 * c + 19 * frame_idx + 7, 256)) / 4.0"
    )
    joined = decoded.withColumn("expected_mean", expected)
    return joined.agg(
        F.count("*").alias("n_rows"),
        F.count_distinct("item_id").alias("n_docs"),
        F.sum(F.when(F.col("error").isNotNull(), 1).otherwise(0)).alias(
            "n_errors"
        ),
        F.sum(
            F.when(
                F.col("error").isNull()
                & (F.abs(F.element_at("feature", 1) - F.col("expected_mean")) < 1e-9),
                1,
            ).otherwise(0)
        ).alias("n_exact"),
        F.sum(
            F.when(
                (F.col("width") == 8) & (F.col("height") == 8)
                & (F.col("channels") == 3),
                1,
            ).otherwise(0)
        ).alias("n_dims_ok"),
        F.sum(
            F.when(
                F.col("delay_ms") == (F.lit(10) + F.col("frame_idx")) * 10, 1
            ).otherwise(0)
        ).alias("n_delay_ok"),
    )
