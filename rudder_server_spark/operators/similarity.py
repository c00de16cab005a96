"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k is the exact baseline (the query vector inlined
as literals, a narrow map computing the dot product JVM-side, then a
top-k). The LSH-bucketed variant is the 100 TB scale path: random-
hyperplane signatures bucket vectors so each query probes only its bucket
(and optionally neighboring buckets), turning O(N) scans into
O(N / 2^bits) with recall controlled by the number of hash tables.

No Python in the hot path — and no interpreted higher-order functions
on ROW-grain shapes: `zip_with`/`aggregate`/`transform` lambdas evaluate
OUTSIDE whole-stage codegen (measured 3.5-10x slower on the dedup shapes,
4x on the centroid-cosine shape — see group_centroid_diversity), so dot
products / norms against a LITERAL query (≤64 terms) are generated as
explicit per-index arithmetic in ONE SQL string (`F.expr`), which parses
once and stays fully codegen'd. That rule INVERTS past the JIT bytecode
cliff: a two-column pair-grain cosine expands to ~600 array accesses,
which janino compiles but HotSpot never JIT-compiles (the 8000-byte
huge-method limit), so it runs bytecode-interpreted at ~50 µs/row — there
the folded `dot_cols_fold` + per-side norm columns is 4.6-10x faster
(r12 measurement; see cosine_cols / dot_cols_fold docstrings).
Embedding dims are known and fixed per corpus (64 in the fixtures), so
the expansion is always available where it wins.

Determinism: generated sums are left-associated ((x0+x1)+x2)..., the same
order as DuckDB's list_sum fold, so rounded comparisons are exact across
engines.
"""

from __future__ import annotations

import math

try:  # pandas is only needed by the Arrow (mapInPandas / pandas_udf)
    import pandas as pd  # paths; pure-codegen users can run without it
except ImportError:  # pragma: no cover
    pd = None

from pyspark.sql import Column, DataFrame, functions as F
from rudder_server_spark.functions.localframe import local_frame


def _flit(v: float) -> str:
    """A float literal that round-trips exactly into Spark SQL."""
    return repr(float(v))


def _el(vec_col: str, i: int) -> str:
    return f"CAST({vec_col}[{i}] AS DOUBLE)"


def dot_query_sql(vec_col: str, query: list[float]) -> str:
    """SQL for ``vec · query`` with the query inlined as literals."""
    return "(" + " + ".join(
        f"{_el(vec_col, i)} * {_flit(v)}" for i, v in enumerate(query)
    ) + ")"


def dot_cols_sql(a_col: str, b_col: str, dim: int) -> str:
    """SQL for the dot product of two vector columns of known ``dim``."""
    return "(" + " + ".join(
        f"{_el(a_col, i)} * {_el(b_col, i)}" for i in range(dim)
    ) + ")"


def norm_sq_sql(vec_col: str, dim: int) -> str:
    """SQL for ``vec · vec`` (squared L2 norm)."""
    return dot_cols_sql(vec_col, vec_col, dim)


def cosine_query(vec_col: str, query: list[float]) -> Column:
    """Cosine of a vector column against a literal query vector.

    The query norm is folded driver-side in the same left-to-right order
    (bit-identical to an engine-side sequential fold).
    """
    qn = math.sqrt(sum(float(v) * float(v) for v in query))
    return F.expr(
        f"{dot_query_sql(vec_col, query)}"
        f" / (sqrt({norm_sq_sql(vec_col, len(query))}) * {_flit(qn)})"
    )


def cosine_cols(a_col: str, b_col: str, dim: int) -> Column:
    """Cosine between two vector columns of known ``dim``.

    NOTE (r12): prefer ``dot_cols_fold`` + per-side ``norm_sq_sql`` columns
    on PAIR-grain relations — this single expression expands to ~600 array
    accesses, which exceeds HotSpot's 8000-byte method bytecode budget
    (``DontCompileHugeMethods``): janino compiles it, but the JVM never
    JIT-compiles the method, so it runs bytecode-INTERPRETED at ~50 µs/row
    (measured: 14.2 s for a 250 k-pair verify vs 1.33 s restructured).
    Kept for ROW-grain use where the per-row count is corpus-bounded."""
    return F.expr(
        f"{dot_cols_sql(a_col, b_col, dim)}"
        f" / (sqrt({norm_sq_sql(a_col, dim)}) * sqrt({norm_sq_sql(b_col, dim)}))"
    )


def dot_cols_fold(a_col: str, b_col: str) -> Column:
    """Dot product of two vector columns as a folded loop instead of the
    unrolled per-index expansion — BITWISE-identical values (same
    cast-to-double multiplies, same left-associated addition order; the
    0D seed is exact under IEEE addition) but JIT-compilable: the
    dim-64 two-column expansion is ~192 accesses ≈ 8 KB of bytecode,
    over HotSpot's huge-method limit, so it evaluates bytecode-interpreted
    (the module-docstring HOF rule measured shapes BELOW that cliff; a
    pair-verify expression sits above it — measured 10.7x: 14.2 -> 1.33 s
    on 250 k pairs single-task). Folds the FULL arrays: callers guarantee
    the fixed-dim corpus contract (same as the expanded form's ``dim``)."""
    return F.expr(
        f"aggregate(zip_with({a_col}, {b_col}, "
        "(x, y) -> cast(x AS double) * cast(y AS double)), "
        "0D, (acc, v) -> acc + v)"
    )


def vector_dim(df: DataFrame, vec_col: str = "embedding") -> int:
    """Dim of the vector column from one bounded metadata row."""
    row = df.select(F.size(vec_col).alias("s")).first()
    return int(row["s"]) if row and row["s"] is not None else 0


def brute_force_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine similarity against a literal query vector."""
    sim = cosine_query(vec_col, query_vec)
    return (
        df.select(F.col(id_col), F.round(sim, 6).alias("sim"))
        .orderBy(F.desc("sim"), id_col)
        .limit(k)
    )


def lsh_bucket(vec_col: str, planes: list[list[float]]) -> Column:
    """Random-hyperplane signature: bit i = sign(vec · plane_i).

    Planes are fixed literals (seeded off-line) so bucketing is
    deterministic. At scale: ``df.withColumn("bucket", lsh_bucket(...))``
    then repartition by bucket; queries hash the same way and probe one
    partition. One generated SQL expression — each plane's dot product is
    a codegen'd per-index sum.
    """
    bits = [
        f"(CASE WHEN {dot_query_sql(vec_col, p)} >= 0 THEN 1 ELSE 0 END)"
        for p in planes
    ]
    acc = "0"
    for b in bits:
        acc = f"({acc} * 2 + {b})"
    return F.expr(acc)


def lsh_probe_buckets(
    query_vec: list[float], planes: list[list[float]], nprobe: int = 1
) -> list[int]:
    """Multiprobe sequence (Lv et al. 2007, "Multi-Probe LSH"): the query's
    own bucket first, then neighbors in order of how close the query sits
    to the flipped hyperplane — the buckets most likely to hide true
    neighbors. Driver-side over 2^bits literals; bounded and tiny."""
    margins = [
        sum(float(a) * float(b) for a, b in zip(query_vec, p)) for p in planes
    ]
    q_bucket = 0
    for s in margins:
        q_bucket = q_bucket * 2 + (1 if s >= 0 else 0)
    # single-bit flips ranked by |margin| (closest plane first), then
    # two-bit flips by summed margin — enough probes for any practical
    # nprobe at these signature widths
    order = sorted(range(len(planes)), key=lambda i: (abs(margins[i]), i))
    probes = [q_bucket]
    for i in order:
        probes.append(q_bucket ^ (1 << (len(planes) - 1 - i)))
    for x in range(len(order)):
        for y in range(x + 1, len(order)):
            i, j = order[x], order[y]
            probes.append(
                q_bucket ^ (1 << (len(planes) - 1 - i)) ^ (1 << (len(planes) - 1 - j))
            )
    out: list[int] = []
    for b in probes:
        if b not in out:
            out.append(b)
        if len(out) == nprobe:
            break
    return out


def lsh_topk(
    df: DataFrame,
    query_vec: list[float],
    planes: list[list[float]],
    k: int = 10,
    nprobe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: probe the query's LSH bucket (+ the nprobe-1
    next-likeliest neighbor buckets, multiprobe).

    Recall < 1 by construction — raise nprobe (or add hash tables) for
    higher recall; with the corpus physically partitioned by bucket each
    probe is a partition-pruned scan, so cost is nprobe/2^bits of the
    data, not a full pass.
    """
    probes = lsh_probe_buckets(query_vec, planes, nprobe)
    bucketed = df.withColumn("_bucket", lsh_bucket(vec_col, planes))
    cand = bucketed.where(F.col("_bucket").isin(probes))
    return brute_force_topk(cand, query_vec, k=k, id_col=id_col, vec_col=vec_col)


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — the coarse-quantizer scale path: k-means
# centroids partition the corpus; a query probes only the nprobe nearest
# cells. At 100 TB: train on a sample, broadcast the (k × dim) centroid
# matrix, assign via a narrow map, and physically partition/bucket the
# corpus by cell so each probe is a partition-pruned scan.


def ivf_train(
    df: DataFrame,
    k: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    sample_fraction: float | None = None,
) -> list[list[float]]:
    """Train the coarse quantizer (Spark ML k-means, seeded/deterministic).

    Returns the centroid list (small: k × dim floats, broadcastable).
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    train = df if sample_fraction is None else df.sample(sample_fraction, seed=seed)
    feats = train.select(
        array_to_vector(F.col(vec_col).cast("array<double>")).alias("features")
    )
    model = KMeans(k=k, seed=seed, maxIter=20).fit(feats)
    return [list(map(float, c)) for c in model.clusterCenters()]


# Above this many k×dim multiply terms the unrolled argmin stops being a
# codegen win and becomes a codegen hazard: janino's per-method analysis
# (buildLocalVariableMap is superlinear in locals) exhausted a default 1g
# driver heap COMPILING the k=16 × dim=64 = 1024-term expansion — the r3
# t57 vanilla-session OOM; smaller expansions instead trip janino's 64 KB
# method limit because the consumer duplicates the whole expression into
# the pushed-down cell filter (ERROR + interpreted fallback — slower than
# Arrow). Round-6 boundary probe (1g driver, the t14 assign+isin plan,
# janino markers grepped from the subprocess log):
#   288 terms: COMPILES at every split probed — (k,dim) = (3,96) (4,72)
#              (6,48) (9,32) (12,24) (18,16) (36,8)
#   320 terms: mixed — (5,64) compiles, (10,32) (20,16) (40,8) all trip
#              the 64 KB limit (code size grows with k at fixed terms:
#              each centroid adds struct/array plumbing beyond its dots)
#   384+ terms: fails at every split tried
# So ≤288 is the proven all-shape codegen envelope; t14's k=8 × dim=64 =
# 512 legitimately runs the Arrow path. Real IVF wants k ~ sqrt(N) cells
# (thousands at corpus scale), which no expression tree survives; past
# the threshold the assignment is an Arrow-batched numpy matrix product.
IVF_CODEGEN_MAX_TERMS = 288


def ivf_assign(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    cell_col: str = "ivf_cell",
) -> DataFrame:
    """Assign each vector to its nearest centroid (argmin of squared L2).

    Size-adaptive engine, picked by k × dim (the generated term count):

    Small (≤ ``IVF_CODEGEN_MAX_TERMS``): one generated SQL expression —
    stays inside whole-stage codegen, no Python crossing:

    - distances use the expanded form d_j = ||x||² − 2·x·c_j + ||c_j||²;
      ||x||² is row-constant so the argmin ranks by −2·x·c_j + ||c_j||²
      — ONE multiply per (dim, centroid) term instead of two casts + a
      subtraction + a square;
    - the argmin is ``array_min(array(struct(key_j, j))).i`` — struct
      comparison is lexicographic, so equal keys pick the lowest cell
      index, and every distance expression appears exactly ONCE in the
      tree (array_position would reference the array a second time).

    Large: a vectorized Arrow ``pandas_udf`` computing the same
    −2·X·Cᵀ + ||c||² key as one (batch × k) matrix product and taking
    ``argmin`` per row (ties → lowest index, same as the struct-min).
    This is the 100 TB shape — code size is O(1) in k × dim, and the
    per-row cost is a BLAS product instead of k·dim interpreted ops.
    Tie-order aside, float64 summation order differs from the generated
    left-fold, so near-tie rows can legally land in the adjacent cell —
    cell geometry is a recall knob, not a correctness surface (the
    nprobe=n_cells exactness contract is unaffected: all cells probed).
    """
    k = len(centroids)
    dim = len(centroids[0]) if k else 0
    if k * dim <= IVF_CODEGEN_MAX_TERMS:
        entries = []
        for j, c in enumerate(centroids):
            dot = " + ".join(
                f"{_el(vec_col, i)} * {_flit(v)}" for i, v in enumerate(c)
            )
            c2 = sum(float(v) * float(v) for v in c)
            entries.append(f"struct({_flit(c2)} - 2.0 * ({dot}) AS d, {j} AS i)")
        cell = f"array_min(array({', '.join(entries)})).i"
        return df.withColumn(cell_col, F.expr(cell).cast("int"))

    if pd is None:  # pragma: no cover
        raise ImportError("pandas is required for the Arrow ivf_assign path")
    from pyspark.sql.functions import pandas_udf

    cents = [[float(v) for v in c] for c in centroids]

    @pandas_udf("int")
    def _assign(v: pd.Series) -> pd.Series:
        # self-contained closure: workers may not have the repo on sys.path
        import numpy as np
        import pandas as pd

        C = np.asarray(cents, dtype=np.float64)
        c2 = (C * C).sum(axis=1)
        # strictly positional null handling (no pandas label alignment):
        # compute into a numpy buffer under a numpy mask, then wrap with
        # the mask as a nullable Int32 extension array
        mask = v.notna().to_numpy()
        vals = np.zeros(len(v), dtype="int32")
        if mask.any():
            X = np.array([np.asarray(x, dtype=np.float64) for x in v[mask]])
            key = c2[None, :] - 2.0 * (X @ C.T)
            vals[mask] = np.argmin(key, axis=1).astype("int32")
        return pd.Series(pd.arrays.IntegerArray(vals, mask=~mask))

    # nondeterministic pin (value IS deterministic): filters derived from
    # the cell column (the self-join's isnotnull, ivf_topk's cell probe)
    # otherwise get pushed BELOW the UDF while the projection above
    # re-evaluates it — semdedup's plan paid the corpus-wide BLAS assign
    # 4x (2x per self-join side) instead of 2x (guide §4.4)
    return df.withColumn(cell_col, _assign.asNondeterministic()(F.col(vec_col)))


def semdedup(
    df: DataFrame,
    centroids: list[list[float]],
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "ivf_cell",
) -> DataFrame:
    """Semantic dedup over embeddings (SemDeDup, Abbas et al. 2023,
    arXiv:2303.09540): k-means-cluster the corpus, then drop every vector
    whose cosine to a LOWER-id vector in the SAME cluster is ≥ threshold —
    near-identical meanings collapse to their min-id representative.

    Returns one row per input vector: (id_col, cell_col, dropped).

    The cluster restriction is the whole scale story: the exact pairwise
    pass runs per cell, so work is Σ|cell|² instead of N². Choosing
    k ∝ N / target_cell_size bounds each cell (SemDeDup uses ~50k clusters
    for LAION); the self-join keys on the cell id, so both sides
    co-partition on one shuffle and a cell never spans executors. Same
    keep-min-id convention as exact_dedup / t5. Deterministic given the
    (seeded) centroids.
    """
    dim = len(centroids[0]) if centroids else vector_dim(df, vec_col)
    a = ivf_assign(df, centroids, vec_col, cell_col)
    # norms are computed ONCE PER ROW on each join side, not per pair: the
    # value is bitwise-identical (same expansion over the same floats) and
    # it shrinks the per-pair expression from ~600 array accesses (which
    # runs bytecode-interpreted — see cosine_cols) to the folded dot +
    # two multiplies; with the folded dot the verify is JIT-compiled
    # (measured 10.7x on the sf0.1 cell-pair verify)
    norm = F.expr(norm_sq_sql(vec_col, dim))
    l = a.select(
        F.col(cell_col), F.col(id_col).alias("a"),
        F.col(vec_col).alias("_va"), norm.alias("_na"),
    )
    r = a.select(
        F.col(cell_col), F.col(id_col).alias("b"),
        F.col(vec_col).alias("_vb"), norm.alias("_nb"),
    )
    cos = dot_cols_fold("_va", "_vb") / (F.sqrt("_na") * F.sqrt("_nb"))
    dropped = (
        l.join(r, cell_col)
        .where(F.col("a") < F.col("b"))
        .where(cos >= threshold)
        .select(F.col("b").alias(id_col))
        .distinct()
        .withColumn("_d", F.lit(True))
    )
    return a.join(dropped, id_col, "left").select(
        id_col, cell_col, F.coalesce("_d", F.lit(False)).alias("dropped")
    )


def ivf_topk(
    df_assigned: DataFrame,
    centroids: list[list[float]],
    query_vec: list[float],
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "ivf_cell",
) -> DataFrame:
    """Probe the nprobe nearest cells, exact cosine inside them.

    With the corpus partitioned by cell this reads nprobe/k of the data;
    recall grows with nprobe (nprobe=k is exact search).
    """
    d2 = [
        sum((float(a) - float(b)) ** 2 for a, b in zip(query_vec, c)) for c in centroids
    ]
    probe = sorted(range(len(centroids)), key=lambda i: (d2[i], i))[:nprobe]
    cand = df_assigned.where(F.col(cell_col).isin(probe))
    return brute_force_topk(cand, query_vec, k=k, id_col=id_col, vec_col=vec_col)


def group_centroid_diversity(
    df: DataFrame,
    group_col: str = "label",
    vec_col: str = "embedding",
    centroid_round: int = 6,
    cos_round: int = 7,
) -> DataFrame:
    """Per-group embedding centroid + intra-group diversity profile.

    The data-curation statistic behind cluster-balance / domain-diversity
    decisions (and SemDeDup's cell quality check): for each group, the
    mean vector and how tightly members hug it (avg / min cosine to the
    centroid — low avg = diverse group, low min = outliers present).

    Scale shape: the centroid is computed as `dim` columnar AVG aggregates
    (one shuffle with map-side combine, NO posexplode — exploding would
    multiply the corpus x dim before the shuffle). The per-group centroid
    frame is one row per group → broadcast back; the cosine is explicit
    per-index arithmetic (dim is known), fully whole-stage-codegen — the
    interpreted zip_with/aggregate fold measured 4x slower on this shape.
    Determinism across engines: the centroid and the per-row cosine are
    rounded (summation-order noise ~1e-13 vs rounding grain 1e-6/1e-7) so
    the oracle comparison is exact.

    Built as ONE generated SQL statement (a single JVM-side parse): the
    4x-dim-wide expression tree assembled Column-by-Column costs ~10s of
    driver-side Py4J round-trips per call — the q16 DataFrame-construction
    lesson; execution itself is fast either way.

    `dim` comes from one bounded metadata row (first vector's length).
    An empty input short-circuits to an empty result (the generated SQL
    would otherwise be unparseable at dim=0), and the temp view is
    per-call unique and dropped after spark.sql's eager analysis.
    """
    import uuid

    dim = vector_dim(df, vec_col)
    spark = df.sparkSession
    if dim == 0:
        from pyspark.sql.types import (
            DoubleType, LongType, StructField, StructType,
        )

        gf = df.schema[group_col]
        return local_frame(
            spark,
            [],
            StructType(
                [
                    StructField(group_col, gf.dataType),
                    StructField("n_vectors", LongType()),
                    StructField("avg_cos", DoubleType()),
                    StructField("min_cos", DoubleType()),
                ]
            ),
        )
    view = f"_gcd_input_{uuid.uuid4().hex}"
    df.createOrReplaceTempView(view)
    try:
        cent_cols = ", ".join(
            f"round(avg(CAST({vec_col}[{i}] AS DOUBLE)), {centroid_round}) AS _c{i}"
            for i in range(dim)
        )
        ev = lambda i: f"CAST(e.{vec_col}[{i}] AS DOUBLE)"
        dot_vc = " + ".join(f"{ev(i)} * c._c{i}" for i in range(dim))
        nv = " + ".join(f"{ev(i)} * {ev(i)}" for i in range(dim))
        nc = " + ".join(f"c._c{i} * c._c{i}" for i in range(dim))
        return spark.sql(
            f"""
            WITH cent AS (
              SELECT {group_col}, {cent_cols} FROM {view} GROUP BY {group_col}
            ),
            cos AS (
              SELECT /*+ BROADCAST(c) */ e.{group_col} AS {group_col},
                     round(({dot_vc}) / (sqrt({nv}) * sqrt({nc})), {cos_round}) AS _cs
              FROM {view} e JOIN cent c ON e.{group_col} = c.{group_col}
            )
            SELECT {group_col}, count(*) AS n_vectors,
                   CAST(round(avg(_cs), 5) AS DOUBLE) AS avg_cos,
                   CAST(round(min(_cs), 5) AS DOUBLE) AS min_cos
            FROM cos GROUP BY {group_col} ORDER BY {group_col}
            """
        )
    finally:
        # spark.sql analyzes eagerly, so the plan no longer needs the view
        spark.catalog.dropTempView(view)


def knn_join(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    max_queries: int = 100_000,
) -> DataFrame:
    """Exact set-to-set kNN join: for every query row, the k most-similar
    corpus rows by cosine. Returns (q_id, n_id, sim, rank), rank 1..k,
    ties broken by n_id on the 1e-6-rounded similarity.

    Engine: the bounded query block (eval/labeling sets — capped by
    ``max_queries``, raise it consciously) is collected once and closed
    over an Arrow-batched ``mapInPandas`` stage; each corpus partition
    scores ALL queries against its batch as one vectorized
    (n_queries x batch) matrix product and emits only its per-(batch,
    query) top-k — so the cluster-wide shuffle is bounded by
    n_queries * k * n_batches candidate triples, never the full pair
    grid. Dense linear algebra is the one shape the built-in expression
    path genuinely can't express efficiently: the equivalent generated
    per-index SQL paid ~6 us/pair in NLJ row materialization — two
    orders of magnitude over the batched product.

    Cross-engine determinism (what makes the DuckDB oracle exact): the
    dot/norm accumulate DIM-BY-DIM in float64 — the same left-to-right
    fold as list_sum — and rounding is half-away-from-zero, so every
    similarity is bit-identical to the oracle's (validated exhaustively
    on the fixture grid); local top-k prunes on the ROUNDED (sim, n_id)
    key, the same key the global rank uses, which is what makes the
    per-batch pruning lossless. For corpus-scale query sets, cut the
    pair space FIRST with ivf_assign cells or lsh_bucket equi-joins and
    rank the candidate pairs instead.
    """
    dim = dim or vector_dim(corpus, vec_col)
    from pyspark.sql import Window

    qrows = queries.select(id_col, vec_col).limit(max_queries + 1).collect()
    if len(qrows) > max_queries:
        raise ValueError(
            f"knn_join query side exceeds max_queries={max_queries}; "
            "pre-bucket with ivf_assign/lsh_bucket instead"
        )
    if not qrows:
        # np.array([]) is shape (0,) so the score closure's A.shape[1]
        # would IndexError on the first non-empty corpus batch
        return local_frame(
            queries.sparkSession, [], "q_id long, n_id long, sim double, rank long"
        )
    q_ids = [r[0] for r in qrows]
    q_vecs = [list(map(float, r[1])) for r in qrows]
    kk = int(k)

    def score(batches):
        # self-contained closure: workers may not have the repo on sys.path
        import numpy as np
        import pandas as pd

        qm = np.array(q_vecs, dtype=np.float32)
        qid_arr = np.array(q_ids, dtype=np.int64)

        def seq_dot(A, B):
            acc = np.zeros((A.shape[0], B.shape[0]), dtype=np.float64)
            for i in range(A.shape[1]):
                acc += A[:, i].astype(np.float64)[:, None] * B[:, i].astype(np.float64)[None, :]
            return acc

        def seq_norm(A):
            acc = np.zeros(A.shape[0], dtype=np.float64)
            for i in range(A.shape[1]):
                x = A[:, i].astype(np.float64)
                acc += x * x
            return np.sqrt(acc)

        qn = seq_norm(qm)
        for pdf in batches:
            if not len(pdf):
                continue
            nid = pdf.iloc[:, 0].to_numpy(dtype=np.int64)
            cm = np.array([np.asarray(v, dtype=np.float32) for v in pdf.iloc[:, 1]])
            sim = seq_dot(qm, cm) / (qn[:, None] * seq_norm(cm)[None, :])
            sim = np.sign(sim) * np.floor(np.abs(sim) * 1e6 + 0.5) / 1e6
            take = min(kk, sim.shape[1])
            # per-query local top-k on the SAME (rounded sim desc, n_id asc)
            # key the global rank uses -> pruning is lossless
            order = np.lexsort((nid[None, :].repeat(sim.shape[0], 0), -sim), axis=1)
            sel = order[:, :take]
            yield pd.DataFrame(
                {
                    "q_id": np.repeat(qid_arr, take),
                    "n_id": nid[sel].ravel(),
                    "sim": np.take_along_axis(sim, sel, axis=1).ravel(),
                }
            )

    cand = corpus.select(
        F.col(id_col).cast("long").alias("n_id"), F.col(vec_col).alias("_cv")
    ).mapInPandas(score, "q_id long, n_id long, sim double")
    w = Window.partitionBy("q_id").orderBy(F.desc("sim"), F.col("n_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= kk)
        .select("q_id", "n_id", "sim", F.col("rank").cast("long").alias("rank"))
    )


def knn_classify(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    dim: int | None = None,
) -> DataFrame:
    """kNN majority-vote labeling: predict each query's label from its k
    nearest corpus neighbors (ties → most votes, then smallest label).
    The classic quality/domain classifier over an embedded corpus when
    only a seed set is labeled. Returns (id_col, pred_label, votes).

    One broadcast label lookup on top of knn_join's rank tail, then a
    bounded (≤ k rows per query) vote aggregate — the corpus is scanned
    once, labels travel with the neighbor ids, nothing widens.
    """
    from pyspark.sql import Window

    nn = knn_join(queries, corpus, k=k, id_col=id_col, vec_col=vec_col, dim=dim)
    labels = corpus.select(F.col(id_col).alias("n_id"), F.col(label_col).alias("_lbl"))
    votes = (
        nn.join(labels, "n_id")
        .groupBy("q_id", "_lbl")
        .agg(F.count("*").cast("long").alias("votes"))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("votes"), F.col("_lbl"))
    return (
        votes.withColumn("_r", F.row_number().over(w))
        .where(F.col("_r") == 1)
        .select(
            F.col("q_id").alias(id_col),
            F.col("_lbl").alias("pred_label"),
            "votes",
        )
        .orderBy(id_col)
    )


def knn_join_ivf(
    queries: DataFrame,
    corpus: DataFrame,
    centroids: list[list[float]],
    k: int = 5,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "ivf_cell",
    max_queries: int = 100_000,
) -> DataFrame:
    """Cell-pruned approximate kNN join — knn_join's 100 TB shape. Each
    query probes its ``nprobe`` nearest coarse cells (driver-side: the
    centroid table is tiny); the candidate pair space is the broadcast
    (q_id, cell) probe table equi-joined onto the cell-assigned corpus —
    reading ~nprobe/n_cells of the data per query instead of all of it,
    and with the corpus WRITTEN partitioned by cell the join becomes
    partition pruning. Scoring and pruning then run in the same
    Arrow-batched stage as knn_join (row-gathered sequential-fold dot,
    identical bit behavior), so exact and approximate results are
    directly comparable. Returns (q_id, n_id, sim, rank).

    Recall grows with nprobe (nprobe = n_cells is exact search); the QA
    pairing with exact knn_join is t57's recall audit.
    """
    qrows = queries.select(id_col, vec_col).limit(max_queries + 1).collect()
    if len(qrows) > max_queries:
        raise ValueError("knn_join_ivf query side exceeds max_queries")
    if not qrows:
        # same empty-query guard as knn_join — the closure's qm would be
        # shape (0,) and every batch lookup would fail
        return local_frame(
            queries.sparkSession, [], "q_id long, n_id long, sim double, rank long"
        )
    q_ids = [int(r[0]) for r in qrows]
    q_vecs = [list(map(float, r[1])) for r in qrows]
    kk = int(k)

    # driver-side probe table: nq x nprobe rows, broadcast
    def _d2(v, c):
        return sum((float(a) - float(b)) ** 2 for a, b in zip(v, c))

    probe_rows = []
    for qid, qv in zip(q_ids, q_vecs):
        d2 = [( _d2(qv, c), j) for j, c in enumerate(centroids)]
        for _, j in sorted(d2)[: int(nprobe)]:
            probe_rows.append((qid, j))
    spark = queries.sparkSession
    probes = local_frame(spark, probe_rows, "q_id long, _cell int")

    # The cell repartition IS the IVF storage statement (cells co-located,
    # the probe join prunes whole partitions); it also gives the generated
    # argmin its own stage — fused into the join stage, the combined
    # method overflows janino's 64 KB limit and drops the whole stage out
    # of codegen.
    ca = (
        ivf_assign(corpus, centroids, vec_col=vec_col, cell_col=cell_col)
        .select(
            F.col(id_col).cast("long").alias("n_id"),
            F.col(vec_col).alias("_cv"),
            F.col(cell_col),
        )
        .repartition(F.col(cell_col))
    )
    cand_rows = ca.join(F.broadcast(probes), ca[cell_col] == probes["_cell"]).select(
        "q_id", "n_id", "_cv"
    )

    def score(batches):
        # self-contained: workers may not have the repo on sys.path
        import numpy as np
        import pandas as pd

        qm = np.array(q_vecs, dtype=np.float32)
        id2row = {qid: i for i, qid in enumerate(q_ids)}

        def seq_norm(A):
            acc = np.zeros(A.shape[0], dtype=np.float64)
            for i in range(A.shape[1]):
                x = A[:, i].astype(np.float64)
                acc += x * x
            return np.sqrt(acc)

        qn = seq_norm(qm)
        for pdf in batches:
            if not len(pdf):
                continue
            qidx = pdf["q_id"].map(id2row).to_numpy(dtype=np.int64)
            nid = pdf["n_id"].to_numpy(dtype=np.int64)
            cm = np.array([np.asarray(v, dtype=np.float32) for v in pdf["_cv"]])
            A = qm[qidx]
            acc = np.zeros(len(pdf), dtype=np.float64)
            for i in range(cm.shape[1]):
                acc += A[:, i].astype(np.float64) * cm[:, i].astype(np.float64)
            sim = acc / (qn[qidx] * seq_norm(cm))
            sim = np.sign(sim) * np.floor(np.abs(sim) * 1e6 + 0.5) / 1e6
            out = pd.DataFrame({"q_id": pdf["q_id"].to_numpy(), "n_id": nid, "sim": sim})
            out = (
                out.sort_values(["q_id", "sim", "n_id"], ascending=[True, False, True])
                .groupby("q_id", sort=False)
                .head(kk)
            )
            yield out

    from pyspark.sql import Window

    cand = cand_rows.mapInPandas(score, "q_id long, n_id long, sim double")
    w = Window.partitionBy("q_id").orderBy(F.desc("sim"), F.col("n_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= kk)
        .select("q_id", "n_id", "sim", F.col("rank").cast("long").alias("rank"))
    )


def mmr_select(
    df: DataFrame,
    query_vec: list[float],
    m: int = 10,
    lam: float = 0.7,
    pool_size: int = 1000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal-Marginal-Relevance selection (Carbonell & Goldstein 1998):
    greedily pick ``m`` items maximizing
    ``lam * rel(x) - (1 - lam) * max_sim(x, selected)`` — the diversity-
    aware retrieval/curation step (dedup-at-selection-time for RAG
    contexts, eval-set picking, demo sampling).

    Scale shape — two-stage, the only honest one for a sequential greedy:
    stage 1 is a DISTRIBUTED relevance top-``pool_size`` (per-row
    generated-SQL cosine, the q27 path — one scan + one bounded top-k);
    stage 2 collects the bounded pool and runs the exact greedy on the
    driver (m x pool_size vectorized steps). The greedy is provably
    confined to the pool: items outside a relevance top-m' pool can enter
    an MMR solution only when lam is small AND the pool under-covers the
    diversity spectrum, so size the pool >> m (documented contract, not a
    silent cap). Returns (rank, id_col, rel, mmr_score) in pick order.
    """
    import numpy as np

    rel_col = cosine_query(vec_col, query_vec)
    pool = (
        df.select(F.col(id_col), F.col(vec_col), F.round(rel_col, 6).alias("rel"))
        .orderBy(F.desc("rel"), id_col)
        .limit(int(pool_size))
        .collect()
    )
    if not pool:
        return local_frame(
            df.sparkSession, [], f"rank long, {id_col} long, rel double, mmr_score double"
        )
    ids = [r[0] for r in pool]
    mat = np.array([list(map(float, r[1])) for r in pool], dtype=np.float64)
    rel = np.array([float(r[2]) for r in pool])
    norm = np.sqrt((mat * mat).sum(axis=1))
    norm[norm == 0.0] = 1.0
    unit = mat / norm[:, None]

    selected: list[int] = []
    max_sim = np.zeros(len(pool))
    out_rows = []
    take = min(int(m), len(pool))
    for rank in range(1, take + 1):
        score = lam * rel - (1.0 - lam) * max_sim
        if selected:
            score[np.array(selected)] = -np.inf
        # deterministic: best score, ties to the pool's (rel desc, id) order
        best = int(np.argmax(score))
        out_rows.append((rank, int(ids[best]), float(rel[best]), round(float(score[best]), 6)))
        selected.append(best)
        max_sim = np.maximum(max_sim, unit @ unit[best])
    return local_frame(
        df.sparkSession, out_rows,
        f"rank long, {id_col} long, rel double, mmr_score double"
    )
