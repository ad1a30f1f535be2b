"""Session-lifetime materialized base views shared across registry queries.

Roughly a third of the registry derives the same two intermediates from the
events table — the hourly-bucketed series (decimal-exact mean per (series,
hour)) and the prepared series (regularized grid, gap-filled). A resident
engine materializes hot derived views once instead of re-bucketing the fact
table per query; these memos are that, with the same single-entry eviction
discipline as the ML embedding memo (plans/queries_ml._embedded): inserting
a new sf_dir unpersists the previous one, so a session holds at most one
scale factor's working set.

Correctness is untouched — both views are deterministic column programs, so
every oracle compares against identical values whether or not the cache is
warm. Spark's CacheManager would not dedupe these on its own because each
query builds its chain from a fresh load_table scan (equal analyzed plans
are only reused through an explicitly persisted DataFrame).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators import timeseries as TSO
from ..sources.readers import load_table

_HOURLY_MEMO: dict[str, DataFrame] = {}
_PREPARED_MEMO: dict[str, DataFrame] = {}


def view_persist(df: DataFrame) -> DataFrame:
    """Session-view storage policy (r16, per the r15 verdict's §5 demand):
    every session-lifetime pinned view persists through THIS hook, at the
    level named by ``SPARK_GRAFT_VIEW_STORAGE`` (default
    ``MEMORY_AND_DISK_DESER`` — pyspark's own DataFrame.persist default, so
    local behavior is unchanged).

    Worst-case footprint argument (measured: tools/storage_probe.py — all
    22 pinned frames total 275.5 MB at sf0.1 against a 4.6 GB storage
    pool): every pinned view is either (a) AGGREGATE-BOUNDED — series×hours
    grids, node/degree tables, band keys, candidate/CC pair sets capped by
    the sorted-neighborhood bound, codebooks — i.e. orders of magnitude
    below the fact tables they derive from; or (b) stored MEMORY_AND_DISK,
    where Spark's unified memory manager EVICTS storage blocks to disk
    under execution pressure — a pinned view can therefore slow a 100 TB
    session down (eviction thrash), but can never OOM it; no view is
    MEMORY_ONLY and none is required to be resident for correctness. A
    deployment that measures eviction thrash sets
    ``SPARK_GRAFT_VIEW_STORAGE=DISK_ONLY`` (or any pyspark StorageLevel
    name) and every memo follows."""
    import os

    from pyspark import StorageLevel

    name = os.environ.get("SPARK_GRAFT_VIEW_STORAGE", "MEMORY_AND_DISK_DESER")
    levels = sorted(k for k, v in vars(StorageLevel).items() if isinstance(v, StorageLevel))
    if name not in levels:
        raise ValueError(
            f"SPARK_GRAFT_VIEW_STORAGE={name!r} is not a StorageLevel; "
            f"allowed: {', '.join(levels)}"
        )
    df.persist(getattr(StorageLevel, name))
    return df


def events_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "events")


def hourly_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted hourly-bucketed series per sf_dir (~rows = series × hours,
    ≪ the event count — cheap to pin)."""
    if sf_dir not in _HOURLY_MEMO:
        for k in list(_HOURLY_MEMO):
            _HOURLY_MEMO.pop(k).unpersist(False)
        h = TSO.hourly_series(events_df(spark, sf_dir))
        view_persist(h)
        _HOURLY_MEMO[sf_dir] = h
    return _HOURLY_MEMO[sf_dir]


def prepared_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted prepared (regularized + gap-filled) series per sf_dir,
    built on the hourly memo so the bucketing pass is shared too."""
    from ..operators import anomaly as AN

    if sf_dir not in _PREPARED_MEMO:
        for k in list(_PREPARED_MEMO):
            _PREPARED_MEMO.pop(k).unpersist(False)
        p = AN.prepared_series(None, hourly=hourly_df(spark, sf_dir))
        view_persist(p)
        _PREPARED_MEMO[sf_dir] = p
    return _PREPARED_MEMO[sf_dir]


_CLEANED_MEMO: dict[str, DataFrame] = {}


def cleaned_points_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted cleaned-series point frame — the full inject → detect →
    impute chain over the prepared grid (deterministic seeded-RNG column
    program, so the memo changes nothing any oracle compares).

    r15: `pipeline_anomaly_e2e` and `forecast_ab_neural` each re-ran the
    whole chain (three window passes over the prepared view) per query; the
    cleaned corpus is a property of the data, not of either query — the
    hourly/prepared memo doctrine one level up. Row count equals the
    prepared grid's, so the pin is as cheap as `prepared_df`'s."""
    from ..operators import anomaly as AN

    if sf_dir not in _CLEANED_MEMO:
        for k in list(_CLEANED_MEMO):
            _CLEANED_MEMO.pop(k).unpersist(False)
        c = AN.cleaned_series(None, prepared=prepared_df(spark, sf_dir))
        view_persist(c)
        _CLEANED_MEMO[sf_dir] = c
    return _CLEANED_MEMO[sf_dir]


_SHINGLES_MEMO: dict[str, DataFrame] = {}


def shingles_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted hashed-shingle inverted index (doc_id, shingle) for the
    documents table — the natural session-lifetime view of the dedup family
    (the index is a property of the corpus, not of any one query). Without
    it every exact-Jaccard/containment/stats consumer recomputes the
    tokenize→hash→lead-window→distinct chain several times per plan
    (Catalyst does not reuse the exchange across self-join aliases)."""
    from ..operators import dedup as DD
    from ..sources.readers import load_table as _lt

    if sf_dir not in _SHINGLES_MEMO:
        for k in list(_SHINGLES_MEMO):
            _SHINGLES_MEMO.pop(k).unpersist(False)
        sh = DD.shingle_hashes(_lt(spark, sf_dir, "documents"))
        view_persist(sh)
        _SHINGLES_MEMO[sf_dir] = sh
    return _SHINGLES_MEMO[sf_dir]


_SPAN_ISLANDS_MEMO: dict[str, DataFrame] = {}


def span_islands_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checkpointed duplicate-span island frame over the raw documents
    corpus — (d1, d2, delta, p1s, n_matches), one row per maximal shared
    char run. r15: `d_dup_spans` (detection rollup) and
    `d_dup_span_removal` (text surgery) both started from
    dup_span_islands(documents) and re-ran the whole rolling-hash +
    candidate-join + verify chain (~5 s each at sf0.1); the island frame
    is a property of the corpus (the shingles_df doctrine), pair-count
    tiny, and serves both. pipeline_span_clean gates the corpus FIRST, so
    its island frame is a different input and deliberately not shared."""
    from ..operators import dedup as DD
    from ..operators.dedup import ckpt_coalesced
    from ..sources.readers import load_table as _lt

    if sf_dir not in _SPAN_ISLANDS_MEMO:
        for k in list(_SPAN_ISLANDS_MEMO):
            _SPAN_ISLANDS_MEMO.pop(k).unpersist(False)
        isl = DD.dup_span_islands(_lt(spark, sf_dir, "documents"))
        _SPAN_ISLANDS_MEMO[sf_dir] = ckpt_coalesced(isl)
    return _SPAN_ISLANDS_MEMO[sf_dir]


_COPURCHASE_MEMO: dict[str, DataFrame] = {}
_BIPARTITE_MEMO: dict[str, DataFrame] = {}


def copurchase_edges_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted canonical co-purchase edge set: distinct (u < v) part pairs
    sharing an order. The lineitem self-join + dedup shuffle is the dominant
    cost of the triangle query and a natural session-lifetime view — the
    graph is a property of the data, not of any one query."""
    from pyspark.sql import functions as F

    if sf_dir not in _COPURCHASE_MEMO:
        for k in list(_COPURCHASE_MEMO):
            _COPURCHASE_MEMO.pop(k).unpersist(False)
        li = load_table(spark, sf_dir, "lineitem").select(
            F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")
        )
        e = (
            li.alias("a")
            .join(li.alias("b"), "ok")
            .filter(F.col("a.pk") < F.col("b.pk"))
            .select(F.col("a.pk").alias("u"), F.col("b.pk").alias("v"))
            .distinct()
        )
        view_persist(e)
        _COPURCHASE_MEMO[sf_dir] = e
    return _COPURCHASE_MEMO[sf_dir]


_COPURCHASE_DEG_MEMO: dict[str, DataFrame] = {}

# One degree cap for every bounded-wedge consumer (g_node_jaccard,
# g_local_clustering, g_resource_alloc) — the queries alias it so their
# oracle texts stay unchanged. A single constant is what makes the wedge
# frame below shareable at all.
WEDGE_CENTER_CAP = 64


def copurchase_deg_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checkpointed degree table (node, deg) of the co-purchase graph.

    r15: six queries (g_node_jaccard, g_assortativity, g_local_clustering,
    g_resource_alloc, g_triangles, g_degree_hist) each re-ran the identical
    2|E|-row union + groupBy from the cached edge view — the degree table is
    a property of the graph, not of any one query (the hourly/shingles memo
    doctrine). persist(), NOT localCheckpoint: an InMemoryRelation carries
    accurate size stats so consumers still auto-broadcast the node-count-
    skinny table where they did before (a checkpointed ExistingRDD has
    unknown stats — measured flipping g_triangles' oriented self-join from
    BroadcastHashJoin to SortMergeJoin, 3.8 s → 8.3 s)."""
    from pyspark.sql import functions as F

    if sf_dir not in _COPURCHASE_DEG_MEMO:
        for k in list(_COPURCHASE_DEG_MEMO):
            _COPURCHASE_DEG_MEMO.pop(k).unpersist(False)
        und = copurchase_edges_df(spark, sf_dir)
        deg = (
            und.select(F.col("u").alias("node"))
            .unionAll(und.select(F.col("v").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("deg"))
        )
        view_persist(deg)
        _COPURCHASE_DEG_MEMO[sf_dir] = deg
    return _COPURCHASE_DEG_MEMO[sf_dir]


_COPURCHASE_WEDGES_MEMO: dict[str, DataFrame] = {}


def build_wedges(und: DataFrame, deg: DataFrame, lo: int, cap: int) -> DataFrame:
    """Pure capped-center wedge construction over an undirected (u, v) edge
    frame and its (node, deg) table: one row (c, cdeg, d1, d2) per unordered
    neighbor pair (d1 < d2) around each center with lo <= deg <= cap.

    Factored out of :func:`copurchase_wedges_df` (r16, per the r15 advisor)
    so the degree-1-centers-emit-zero-wedges identity test in
    tests/test_plans.py exercises THIS builder — a drift in the center
    filter or the d1 < d2 / cdeg-carry invariants now fails the test rather
    than only a hand-rolled copy of it."""
    from pyspark.sql import functions as F

    ctr = deg.filter((F.col("deg") >= lo) & (F.col("deg") <= cap))
    adj = (
        und.join(ctr.withColumnRenamed("node", "u"), "u")
        .select(F.col("u").alias("c"), F.col("deg").alias("cdeg"), F.col("v").alias("n"))
        .unionAll(
            und.join(ctr.withColumnRenamed("node", "v"), "v")
            .select(F.col("v").alias("c"), F.col("deg").alias("cdeg"), F.col("u").alias("n"))
        )
    )
    a, b = adj.alias("a"), adj.alias("b")
    return a.join(
        b, (F.col("a.c") == F.col("b.c")) & (F.col("a.n") < F.col("b.n"))
    ).select(
        F.col("a.c").alias("c"),
        F.col("a.cdeg").alias("cdeg"),
        F.col("a.n").alias("d1"),
        F.col("b.n").alias("d2"),
    )


def copurchase_wedges_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checkpointed capped-center wedge frame (c, cdeg, d1, d2) — one row per
    unordered neighbor pair (d1 < d2) around each center of degree
    2..WEDGE_CENTER_CAP.

    r15: g_node_jaccard, g_local_clustering and g_resource_alloc each built
    this exact frame per query (two semi-joins + the adjacency self-join —
    the dominant shuffle of all three). Their center sets differ only by
    degree-1 nodes (g_node_jaccard admits them), which emit ZERO wedges (one
    adjacent row cannot form a d1 < d2 pair), so the three wedge multisets
    are identical and one materialization serves all. Carrying the center
    degree costs one long per row and saves g_resource_alloc's join back to
    the center table. Volume is bounded by cap·|E| regardless of hub skew —
    the same bound each query already relied on. persist(), not checkpoint,
    for the same stats-preservation reason as copurchase_deg_df."""
    if sf_dir not in _COPURCHASE_WEDGES_MEMO:
        for k in list(_COPURCHASE_WEDGES_MEMO):
            _COPURCHASE_WEDGES_MEMO.pop(k).unpersist(False)
        wedges = build_wedges(
            copurchase_edges_df(spark, sf_dir),
            copurchase_deg_df(spark, sf_dir),
            lo=2,
            cap=WEDGE_CENTER_CAP,
        )
        view_persist(wedges)
        _COPURCHASE_WEDGES_MEMO[sf_dir] = wedges
    return _COPURCHASE_WEDGES_MEMO[sf_dir]


_TRADING_PAIRS_MEMO: dict[str, DataFrame] = {}


def trading_pairs_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checkpointed distinct customer→supplier trading pairs ('c…', 's…'
    prefixed keys) — the orders⋈lineitem distinct that BOTH the symmetric
    bipartite view (PageRank/BFS) and the directed HITS graph start from.
    r15: previously g_hits re-ran the fact join + distinct per query while
    bipartite_edges_df ran the identical derivation for its own memo; one
    shared checkpoint serves both (the pair set is a property of the data,
    not of either query — the hourly/shingles memo doctrine)."""
    from pyspark.sql import functions as F

    from ..operators.dedup import ckpt_coalesced

    if sf_dir not in _TRADING_PAIRS_MEMO:
        for k in list(_TRADING_PAIRS_MEMO):
            _TRADING_PAIRS_MEMO.pop(k).unpersist(False)
        o = load_table(spark, sf_dir, "orders")
        li = load_table(spark, sf_dir, "lineitem")
        # r15: groupBy+count instead of distinct — identical (c, s) row set
        # for the same one-shuffle cost (both are a hash aggregation on the
        # pair key), and the line-item count lets g_communities' repeat-
        # business sparsification (pairs with >= 3 line items) filter this
        # view instead of re-running the whole fact join per query.
        pairs = (
            o.join(li, F.col("o_orderkey") == F.col("l_orderkey"))
            .groupBy(
                F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("c"),
                F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("s"),
            )
            .agg(F.count(F.lit(1)).alias("n_li"))
        )
        _TRADING_PAIRS_MEMO[sf_dir] = ckpt_coalesced(pairs)
    return _TRADING_PAIRS_MEMO[sf_dir]


def bipartite_edges_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted symmetric customer–supplier bipartite edge list (both
    directions of each distinct (custkey, suppkey) trading pair) — the
    orders⋈lineitem join + distinct that PageRank iterates over."""
    from pyspark.sql import functions as F

    if sf_dir not in _BIPARTITE_MEMO:
        for k in list(_BIPARTITE_MEMO):
            _BIPARTITE_MEMO.pop(k).unpersist(False)
        pairs = trading_pairs_df(spark, sf_dir)
        e = pairs.select(F.col("c").alias("src"), F.col("s").alias("dst")).union(
            pairs.select(F.col("s").alias("src"), F.col("c").alias("dst"))
        )
        # r15: eager checkpoint + scale-adaptive coalesce instead of a bare
        # persist. The persisted union kept 64 near-empty partitions at
        # small SF, and every graph consumer's setup (degree join, node
        # distinct) paid 64-128 scan tasks per job; the consumers are all
        # linear per-round (pagerank/BFS — no wedge explosion), so sizing
        # partitions by edge count is safe. See dedup.ckpt_coalesced.
        from ..operators.dedup import ckpt_coalesced

        _BIPARTITE_MEMO[sf_dir] = ckpt_coalesced(e)
    return _BIPARTITE_MEMO[sf_dir]
