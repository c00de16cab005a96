"""Identity-graph connected components.

The reference resolves identities incrementally: merge rules
`(prop1_type, prop1_value, prop2_type, prop2_value)` union the components of
the two identifiers and every member is rewritten to one `rudder_id`
(warehouse/identity/identity.go:79-207; rule extraction from merge/alias
events at processor/.../embedded/warehouse/idresolution.go:15-122).

Spark-first strategy: batch connected components via alternating
min-label propagation ("large-star/small-star" style, Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC'14). Each iteration is
two shuffles (groupBy min + join); convergence in O(log n) iterations for
real identity graphs (shallow, star-shaped). We checkpoint (localCheckpoint)
every iteration to cut the lineage — without it the plan doubles each round
and the driver OOMs long before 100 TB.

At cluster scale the same loop runs unchanged: edges are shuffled by node id,
skew (celebrity identifiers) is handled by AQE skew-join splitting.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from rudder_server_spark.functions.localframe import local_frame

# Introspection for probes/tests: connected_components records which path
# the last call took and how many propagation rounds the distributed loop
# ran (the scale-probe's "iterations vs graph size" evidence). Not part of
# the operator contract; single-threaded probe use only.
LAST_RUN: dict = {"path": None, "iterations": 0}

# propagation rounds before the distributed loop stops
_MAX_ITER = 50
# estimated driver bytes of the deduped edge set at or under which the
# labels are computed on the driver
_BROADCAST_BYTES = 256 * 2**20


def _union_find(rows) -> list:
    """Driver-side union-find over collected (a, b) edge rows → list of
    (identifier, min-identifier-of-component) pairs — the shared kernel
    of the driver fast path and the local-labels helper."""
    parent: dict = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in rows:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    comp_min: dict = {}
    for v in parent:
        r = find(v)
        if comp_min.get(r) is None or v < comp_min[r]:
            comp_min[r] = v
    return [(v, comp_min[find(v)]) for v in parent]


def connected_components(
    edges: DataFrame,
    broadcast_threshold: int = 1_000_000,
) -> DataFrame:
    """Compute connected components over an undirected graph whose node ids
    are any orderable Spark type (string identifiers, long doc ids, ...),
    given as an ``edges`` frame with ``src`` and ``dst`` columns.

    Returns (identifier, component) — typed like the input ids — where
    component is the smallest identifier in the node's component under the
    id type's natural ordering.

    Like AQE switching a shuffle join to broadcast when a side turns out
    small, the DEDUPED edge set's size picks the strategy at runtime:
    at or below ``broadcast_threshold`` distinct edges AND an estimated
    driver footprint below ``_BROADCAST_BYTES`` (row counts alone don't bound
    memory — long identifier strings could blow the driver), the component
    labels are computed with a driver-side union-find in one pass (the
    iterative shuffle loop costs ~8 scheduled jobs — pure overhead for a
    graph that fits in MBs); otherwise, distributed min-label propagation
    with pointer jumping runs unchanged at any scale. Both paths produce
    byte-identical labels (unit-tested); set ``broadcast_threshold=0`` to
    force the distributed path.
    """
    # Undirected: symmetrize, drop self-loops/nulls, dedup.
    e = (
        edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
        .where(F.col("a").isNotNull() & F.col("b").isNotNull() & (F.col("a") != F.col("b")))
    )
    # materialize once — every loop iteration joins against the edges, and
    # without this the upstream scan (parquet + JSON parse) re-runs per
    # round. Lazy: the stats/first-labels job below persists the blocks —
    # eager=True would spend an extra scheduled job on materialization.
    sym = (
        e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .distinct()
        .localCheckpoint(eager=False)
    )

    id_type = sym.schema["a"].dataType.simpleString()
    fits_driver = False
    if broadcast_threshold:
        if id_type == "string":
            # variable-width ids: byte-gate BEFORE collecting — edge count
            # alone doesn't bound driver memory when identifiers are long
            # strings, so this path pays a stats job first.
            payload = F.sum(F.length("a") + F.length("b"))
            stats = sym.agg(F.count("*").alias("n"), payload.alias("chars")).head()
            # ~120B of CPython object/dict overhead per edge on top of chars
            est_bytes = (stats["chars"] or 0) + 120 * (stats["n"] or 0)
            fits_driver = (
                stats["n"] <= 2 * broadcast_threshold and est_bytes <= _BROADCAST_BYTES
            )
            if fits_driver:
                rows = sym.collect()
        else:
            # fixed-width ids (long doc ids etc.): 16 B/edge of value payload
            # + ~120 B of CPython overhead means a ROW cap alone bounds the
            # driver footprint — so gate and fetch in ONE job: collect up to
            # cap+1 rows and decide from the returned length (the separate
            # stats job exists only for the unbounded-string case). Worst-
            # case driver bytes equal the old gated collect's.
            cap = min(2 * broadcast_threshold, _BROADCAST_BYTES // 136)
            rows = sym.limit(cap + 1).collect()
            fits_driver = len(rows) <= cap

    LAST_RUN["path"] = "driver" if fits_driver else "distributed"
    LAST_RUN["iterations"] = 0
    if fits_driver:
        spark = edges.sparkSession
        return local_frame(
            spark, _union_find(rows), f"identifier {id_type}, component {id_type}"
        )

    # label(node) starts as min(node, min neighbor)
    labels = (
        sym.groupBy("a")
        .agg(F.least(F.first("a"), F.min("b")).alias("lbl"))
        .select(F.col("a").alias("node"), "lbl")
    ).localCheckpoint(eager=False)

    for _ in range(_MAX_ITER):
        # propagate: candidate label for node = min over neighbors' labels ∪ own
        nbr = (
            sym.join(labels.withColumnRenamed("node", "b2"), sym.b == F.col("b2"))
            .select(F.col("a").alias("node"), F.col("lbl"))
        )
        cand = labels.unionByName(nbr).groupBy("node").agg(F.min("lbl").alias("lbl"))
        # pointer jump: L'(n) = min(L(n), L(L(n))) — halves the effective
        # diameter every iteration, so convergence is O(log d) instead of O(d)
        lk = cand.select(F.col("node").alias("_ln"), F.col("lbl").alias("_ll"))
        new_labels = (
            cand.join(lk, cand.lbl == F.col("_ln"), "left")
            .select("node", F.least("lbl", F.coalesce("_ll", "lbl")).alias("lbl"))
        ).localCheckpoint(eager=False)  # the `changed` job materializes it
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .where(F.col("n.lbl") != F.col("o.lbl"))
            .limit(1)
            .count()
        )
        labels = new_labels
        LAST_RUN["iterations"] += 1
        if changed == 0:
            break
    return labels.select(F.col("node").alias("identifier"), F.col("lbl").alias("component"))


def apply_merge_rules(
    mappings: DataFrame | None,
    rules: DataFrame,
    src: str = "merge_property_1_value",
    dst: str = "merge_property_2_value",
) -> DataFrame:
    """Incremental identity resolution (identity.go:79-207): fold a NEW
    batch of merge rules into the EXISTING mappings table.

    The existing (identifier → rudder_id) assignments are themselves edges —
    unioning them with the new rule edges and re-running components yields
    exactly the state a from-scratch run over all rules ever seen would
    produce (min-identifier labels are stable: an old component's rudder_id
    is its min member, which stays the min unless a new rule merges it with
    a smaller component — the same rewrite the reference performs when a
    rule unions two components).

    At scale the work is proportional to the ACTIVE subgraph: existing
    components enter as star edges (depth 1), so label propagation
    converges in O(log) rounds over |new rules| + |touched mappings|.
    """
    edges = rules.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    if mappings is not None:
        edges = edges.unionByName(
            mappings.select(
                F.col("identifier").alias("src"), F.col("component").alias("dst")
            )
        )
    return connected_components(edges)


def fuzzy_identifier_pairs(
    df: DataFrame,
    id_col: str,
    max_dist: int = 1,
    block_prefix: int = 2,
) -> DataFrame:
    """Entity-resolution candidate pairs: distinct identifiers whose edit
    distance ≤ ``max_dist``, found via BLOCKING — pairs are only compared
    inside a (length-bucket, prefix) block, which bounds the quadratic
    all-pairs to per-block sizes (the standard ER blocking scheme; the
    reference's identity graph joins exact identifiers — this is the fuzzy
    pre-pass that feeds typo'd emails into the same merge-rule machinery).

    Length bucket = len/2 (strings within distance 1 can differ by one
    char, so they share a ±1 length window — bucketing len/2 plus
    comparing adjacent buckets would be fully general; with equal-prefix
    blocking the common case collapses to same-bucket). One shuffle on the
    block key; per-block |b|² comparisons stay codegen'd (levenshtein is a
    built-in). Returns (a, b, dist) with a < b.
    """
    ids = df.select(F.col(id_col).alias("ident")).where(
        F.col("ident").isNotNull()
    ).distinct()
    blocked = ids.select(
        "ident",
        F.substring("ident", 1, block_prefix).alias("_pfx"),
        F.floor(F.length("ident") / 2).cast("int").alias("_lb"),
    )
    a = blocked.select(
        F.col("ident").alias("a"), F.col("_pfx").alias("pa"), F.col("_lb").alias("la")
    )
    b = blocked.select(
        F.col("ident").alias("b"), F.col("_pfx").alias("pb"), F.col("_lb").alias("lb")
    )
    return (
        a.join(b, (F.col("pa") == F.col("pb")) & (F.col("la") == F.col("lb")))
        .where(F.col("a") < F.col("b"))
        .withColumn("dist", F.levenshtein("a", "b"))
        .where(F.col("dist") <= max_dist)
        .select("a", "b", "dist")
    )
