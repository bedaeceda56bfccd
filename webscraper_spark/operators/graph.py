"""Link-graph PageRank for crawl prioritization.

A frontier scheduler at 10^10-URL scale wants a global page-importance
signal, not just per-host FIFO + depth (operators/schedule.py): PageRank
over the outlink graph is the classic one (Page et al., 1999 — the
original use case WAS crawl ordering). The reference app crawls two fixed
sites and needs no graph signal; this is part of the beyond-reference
crawl-scheduling family (SURVEY 2.10).

Fixed-point integer arithmetic: the textbook formulation
    r' = (1-d)/n + d * sum_{src->dst} r(src)/deg(src)
accumulates floating-point sums whose value depends on addition order —
unverifiable by an independent engine (the correctness gate hash-compares
values). This implementation keeps ranks as integers at a fixed scale
(default 10^12): per-node share = rank // deg, damped sum =
(d_num * sum) // d_den, base = ((d_den - d_num) * scale // d_den) // n.
Every operation is integer +,*,// on positive values — associative,
commutative, and bit-identical in any engine — so an 8-iteration power
iteration is replayable as 8 chained SQL CTEs. Rank mass lost to floor
division and to dangling nodes (no outlinks) is NOT redistributed — the
standard simplification; ranks are a priority signal, not a probability
distribution.

Scale design (10^10-node graph):
- Each iteration is one join (edges x ranks, keyed on src — edges can be
  pre-bucketed by src to make every iteration shuffle-free on that side)
  plus one map-side-combinable sum keyed on dst.
- Out-degrees are computed once; the per-iteration rank relation is
  node-cardinality (thin). Each iteration's result is persisted and the
  previous unpersisted, so the plan doesn't re-run the whole chain per
  action; at cluster scale, checkpoint every ~5 iterations to truncate
  lineage (`checkpoint_every`).
- High in-degree skew (a page linked from 10^7 others) is absorbed by the
  partial aggregate: each map task emits one partial sum per dst.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from webscraper_spark.functions.canon import h60


def pagerank_fixed_point(
    edges: DataFrame,
    n_iter: int = 8,
    damping_num: int = 85,
    damping_den: int = 100,
    scale: int = 10**12,
    checkpoint_every: int = 0,
) -> DataFrame:
    """PageRank over (src, dst) long-id edges; returns (node, rank) with
    integer ranks at `scale` (rank/scale ~ the PageRank score).

    Self-loops and duplicate edges are kept as-is (deterministic; callers
    dedup first if they want simple-graph semantics). Nodes appearing only
    as dst (dangling) receive rank but contribute none.
    """
    from pyspark import StorageLevel

    e = edges.select(F.col("src").cast("long"), F.col("dst").cast("long"))
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    deg = e.groupBy("src").agg(F.count("*").alias("deg"))
    n_nodes = nodes.count()  # driver scalar (node-cardinality agg, like tfidf's N)
    base = ((damping_den - damping_num) * scale // damping_den) // n_nodes
    init = scale // n_nodes

    ranks = nodes.select("node", F.lit(init).cast("long").alias("rank"))
    for i in range(n_iter):
        shares = (
            e.join(ranks.withColumnRenamed("node", "src"), "src")
            .join(deg, "src")
            .select("dst", F.expr("rank div deg").alias("share"))
            .groupBy("dst")
            .agg(F.sum("share").alias("c"))
        )
        ranks = nodes.join(shares.withColumnRenamed("dst", "node"), "node", "left").select(
            "node",
            (
                F.lit(base)
                + F.expr(f"({damping_num} * coalesce(c, 0L)) div {damping_den}")
            ).cast("long").alias("rank"),
        )
        # The rank chain is linear (each iteration consumed exactly once),
        # so intermediates are NOT persisted — only lineage depth matters,
        # handled by periodic checkpointing for large n_iter.
        if checkpoint_every and (i + 1) % checkpoint_every == 0 and i + 1 < n_iter:
            ranks = ranks.localCheckpoint(eager=True)
    out = ranks.persist(StorageLevel.MEMORY_AND_DISK)  # multi-action callers
    out._rank_cache = out  # explicit unpersist handle (tfidf _tf_cache contract)
    out._nodes_cache = nodes
    return out


def hits_fixed_point(
    edges: DataFrame,
    n_iter: int = 8,
    scale: int = 10**6,
) -> DataFrame:
    """HITS hubs & authorities (Kleinberg 1999) in fixed-point integers.

    Complements PageRank for crawl prioritization: authorities are the
    pages worth fetching, hubs the listing/sitemap-like pages worth
    re-crawling for link discovery — exactly the reference's two page
    classes (search-result pages vs ad pages,
    `/root/reference/app/controllers/cars_controller.rb:137-142`).

    The textbook power iteration L2-normalizes with a sqrt — a float
    whose value is engine-dependent. This implementation normalizes each
    vector by its MAX using integer division (`x * scale div max`):
    power iteration converges to the principal eigenvector under any
    normalization, values stay in [0, scale], and every op is integer
    +,*,div — bit-identical in any engine, so the oracle replays the
    whole run as chained CTEs. Documented deviation: max-norm scores,
    same ranking (and the gate checks the integer values exactly).

    Overflow headroom: a node's raw sum is <= n*scale, normalized as
    sum*scale — needs n*scale^2 < 2^63, i.e. n < 9.2e6 at the default
    scale 10^6; drop scale to 10^4 for larger graphs (or DECIMAL(38)).

    Scale notes: per iteration, two (edge join thin-vector + map-side
    combinable sum) rounds — same shape as pagerank_fixed_point, edges
    bucketable on src/dst for shuffle-free joins. Two deliberate
    differences from pagerank's laziness, both measured in this repo:
    (a) the normalization max is a 1-VALUE driver collect per iteration
    (config-sized), NOT a broadcast crossJoin — the crossJoin embeds the
    raw-sum subtree twice per iteration, doubling the logical plan each
    round (2^16-node tree by iteration 8; Catalyst analysis stalls for
    minutes before any task runs); (b) each normalized vector is
    localCheckpoint'ed, because even the linear HITS chain (two
    left-joins + two aggregates per iteration) exhibits superlinear
    Catalyst analysis growth (~6x per added iteration by depth 6). The
    vectors are node-cardinality thin, so materializing them is exactly
    the pagerank `checkpoint_every` tradeoff made unconditional.
    Returns (node, hub, auth) with an `_hits_caches` unpersist handle
    (tfidf _tf_cache contract).
    """
    from pyspark import StorageLevel

    e = edges.select(F.col("src").cast("long"), F.col("dst").cast("long"))
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    caches = [nodes]

    def _normalize(raw: DataFrame, val: str, out: str) -> DataFrame:
        raw = raw.persist(StorageLevel.MEMORY_AND_DISK)
        caches.append(raw)
        m = raw.agg(F.greatest(F.max(val), F.lit(1)).cast("long")).collect()[0][0]
        vec = nodes.join(raw, "node", "left").select(
            "node",
            F.expr(f"(coalesce({val}, 0L) * {scale}) div {m}").cast("long").alias(out),
        )
        return vec.localCheckpoint(eager=False)

    hub = nodes.select("node", F.lit(scale).cast("long").alias("hub"))
    auth = None
    for _ in range(n_iter):
        auth_raw = (
            e.join(hub.withColumnRenamed("node", "src"), "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("hub").alias("a"))
        )
        auth = _normalize(auth_raw, "a", "auth")
        hub_raw = (
            e.join(auth.withColumnRenamed("node", "dst"), "dst")
            .groupBy(F.col("src").alias("node"))
            .agg(F.sum("auth").alias("h"))
        )
        hub = _normalize(hub_raw, "h", "hub")
    out = hub.join(auth, "node").persist(StorageLevel.MEMORY_AND_DISK)
    caches.append(out)
    out._hits_caches = caches
    return out


def cap_degree(edges: DataFrame, k: int, by: str = "dst", salt: str = "degcap") -> DataFrame:
    """Deterministic in-degree (or out-degree) cap: keep at most `k`
    edges per `by`-node, selected by hash rank — the super-node guard.

    A 10^10-edge web graph has nodes with 10^7+ inlinks (home pages,
    frameworks' "powered-by" footers). Downstream per-node joins and
    windows (anchor_profile's distinct-anchor window, HITS' edge joins)
    pay that skew in one reducer; the standard fix is capping per-node
    degree with an UNBIASED deterministic sample — hash-rank, not
    "first k seen" (arrival order is partition-layout-dependent and so
    not parallelism-invariant; a h60 rank over (src,dst) is the same in
    any engine and any layout).

    Scale notes: one window, and Spark rewrites the rank<=k filter to
    WindowGroupLimit — each map task keeps its local top-k per node
    before the shuffle, so the super-node's 10^7 edges collapse to
    tasks*k rows in flight. No driver state, no sampling RNG.
    """
    from pyspark.sql import Window

    rk = h60(
        F.concat(
            F.lit(salt + ":"),
            F.col("src").cast("string"),
            F.lit(">"),
            F.col("dst").cast("string"),
        )
    )
    w = Window.partitionBy(by).orderBy(rk.asc(), F.col("src").asc(), F.col("dst").asc())
    return (
        edges.withColumn("_rnk", F.row_number().over(w))
        .filter(F.col("_rnk") <= k)
        .drop("_rnk")
    )


def anchor_profile(edges: DataFrame, k: int = 3) -> DataFrame:
    """Inbound anchor-text aggregation per target URL (L32, SURVEY §2.10).

    Search engines and LLM-corpus builders treat the anchor text of a
    page's inbound links as an independent description of the page
    (Brin & Page 1998 §2.2 store anchors WITH the target, not the
    source; the "anchor document" is a standard web-IR artifact). The
    reference harvests hrefs but drops their text
    (`/root/reference/app/controllers/cars_controller.rb:142` maps
    `a['href']` only); at corpus scale the aggregation is the engine's
    job.

    Input: one row per link — (src, dst, anchor). Output: one row per
    dst — total inbound links, distinct anchor strings, and the top-k
    anchors by frequency (count desc, anchor asc tiebreak) joined as
    `top_anchors` ("a|b|c").

    Scale notes: two map-side-combinable hash aggregations keyed on
    (dst, anchor) then dst — both partial-agg friendly, so a dst with
    10^7 inlinks ("home"-page skew) collapses per map task before the
    shuffle. The top-k window runs over the already-collapsed
    (dst, anchor) relation (distinct anchors per dst, small), and Spark
    rewrites rank-filter windows to WindowGroupLimit (per-partition
    top-k before the shuffle). No Python, no explode of the heavy side.
    """
    from pyspark.sql import Window

    counts = edges.groupBy("dst", "anchor").agg(F.count("*").alias("cnt"))
    w = Window.partitionBy("dst").orderBy(F.desc("cnt"), F.asc("anchor"))
    ranked = counts.withColumn("rnk", F.row_number().over(w))
    top = (
        ranked.filter(F.col("rnk") <= k)
        .groupBy("dst")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("rnk", "anchor"))),
                    lambda s: s.anchor,
                ),
                "|",
            ).alias("top_anchors")
        )
    )
    totals = counts.groupBy("dst").agg(
        F.sum("cnt").alias("inlinks"), F.count("*").alias("n_anchors")
    )
    return totals.join(top, "dst")


def host_spam_score(
    edges: DataFrame,
    min_out: int = 5,
    recip_num: int = 3,
    recip_den: int = 4,
) -> DataFrame:
    """Link-farm detection over the host graph (src, dst host strings).

    Link farms — rings of sites exchanging links to inflate importance
    (Gyongyi & Garcia-Molina, "Web Spam Taxonomy", 2005) — show up as
    hosts whose OUT-links are overwhelmingly reciprocated. Per host:
    out_deg / in_deg over the deduplicated cross-host edge set, plus
    recip_out = how many of its out-links have the reverse edge. Flag
    is_farm when out_deg >= `min_out` and recip_out/out_deg >=
    recip_num/recip_den — compared by integer cross-multiplication
    (recip_out * recip_den >= out_deg * recip_num), no floats, so any
    engine replays the verdict exactly.

    Scale shape: edges dedup to host-pair cardinality (millions, not the
    10^10 page-pair edges — callers aggregate page links to host links
    first); the reciprocity check is one self-equi-join on the swapped
    key pair, and the three per-host aggregates are map-side
    combinable. A PageRank-style importance signal (pagerank_fixed_point)
    says who is IMPORTANT; this says who is COLLUDING — TrustRank-ish
    demotion feeds the frontier scheduler's priority the same way.
    """
    e = (
        edges.select(F.col("src").cast("string"), F.col("dst").cast("string"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    rev = e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    recip = e.join(rev, ["src", "dst"])  # out-links whose reverse exists
    outd = e.groupBy(F.col("src").alias("host")).agg(F.count("*").alias("out_deg"))
    ind = e.groupBy(F.col("dst").alias("host")).agg(F.count("*").alias("in_deg"))
    rc = recip.groupBy(F.col("src").alias("host")).agg(F.count("*").alias("recip_out"))
    hosts = outd.select("host").unionByName(ind.select("host")).distinct()
    z = F.lit(0).cast("long")
    out = (
        hosts.join(outd, "host", "left")
        .join(ind, "host", "left")
        .join(rc, "host", "left")
        .select(
            "host",
            F.coalesce("out_deg", z).alias("out_deg"),
            F.coalesce("in_deg", z).alias("in_deg"),
            F.coalesce("recip_out", z).alias("recip_out"),
        )
    )
    return out.withColumn(
        "is_farm",
        (F.col("out_deg") >= min_out)
        & (F.col("recip_out") * recip_den >= F.col("out_deg") * recip_num),
    )


def trustrank_fixed_point(
    edges: DataFrame,
    seeds: DataFrame,
    n_iter: int = 8,
    damping_num: int = 85,
    damping_den: int = 100,
    scale: int = 10**12,
    checkpoint_every: int = 0,
) -> DataFrame:
    """TrustRank (Gyongyi, Garcia-Molina & Pedersen, VLDB 2004): the
    pagerank_fixed_point power iteration with teleport restricted to a
    trusted seed set — trust flows OUT from hand-vetted pages, so spam
    hosts that farm in-links from junk accumulate little of it (the
    demotion signal host_spam_score approximates locally, computed
    globally). Returns (node, rank) with integer ranks at `scale`;
    rank/scale ~ the trust score, comparable across nodes, NOT summing
    to 1 (floor-division and dangling mass lost, like pagerank's).

    seeds: one long `node` column; duplicated/non-graph seed ids are
    deduped/added as isolated nodes. Same fixed-point integer contract
    as pagerank (every op associative/commutative integer arithmetic),
    so the n_iter iterations replay as chained SQL CTEs bit-for-bit.
    Scale shape is identical to pagerank: one src-keyed join + one
    map-side-combinable dst sum per iteration; the seed flag is a
    node-cardinality column carried on the persisted node table.
    """
    from pyspark import StorageLevel

    e = edges.select(F.col("src").cast("long"), F.col("dst").cast("long"))
    s = seeds.select(F.col("node").cast("long")).distinct()
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .unionByName(s.select("node"))
        .distinct()
        .join(s.withColumn("_seed", F.lit(1)), "node", "left")
        .select("node", F.coalesce("_seed", F.lit(0)).alias("_seed"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    deg = e.groupBy("src").agg(F.count("*").alias("deg"))
    n_seeds = s.count()  # driver scalar, config-sized (the vetted list)
    if n_seeds == 0:
        raise ValueError("trustrank_fixed_point: empty seed set")
    base_seed = ((damping_den - damping_num) * scale // damping_den) // n_seeds
    init = scale // n_seeds

    ranks = nodes.select(
        "node", (F.col("_seed") * F.lit(init)).cast("long").alias("rank")
    )
    for i in range(n_iter):
        shares = (
            e.join(ranks.withColumnRenamed("node", "src"), "src")
            .join(deg, "src")
            .select("dst", F.expr("rank div deg").alias("share"))
            .groupBy("dst")
            .agg(F.sum("share").alias("c"))
        )
        ranks = nodes.join(shares.withColumnRenamed("dst", "node"), "node", "left").select(
            "node",
            (
                F.col("_seed") * F.lit(base_seed)
                + F.expr(f"({damping_num} * coalesce(c, 0L)) div {damping_den}")
            ).cast("long").alias("rank"),
        )
        if checkpoint_every and (i + 1) % checkpoint_every == 0 and i + 1 < n_iter:
            ranks = ranks.localCheckpoint(eager=True)
    out = ranks.persist(StorageLevel.MEMORY_AND_DISK)
    out._rank_cache = out
    out._nodes_cache = nodes
    return out
