"""Graph analytics over relational edges.

PageRank here runs on the supplier *co-supply* graph (suppliers linked
when they ship the same part — the entity-resolution / influence graph a
catalog pipeline builds from lineitem). Connected components lives in
``llm_ops.dedup.connected_components`` (shared by shingle- and
embedding-space dedup clustering).

Reference parity: the reference has no graph tier (SURVEY.md §2.4 "no
joins"); this is part of the 100 TB LLM-pipeline extension surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .registry import register, spark_dsum, spark_dsum_rounded
from .session import driver_side_listing
from .sources import read_parquet_table

PR_ITERS = 3
PR_DAMP = 0.85


def _fanout_repartition(df: DataFrame, key: str) -> DataFrame:
    """Re-spread a collect_set aggregate before a quadratic pair explode.

    The set-list a ``groupBy(key).agg(collect_set(...))`` emits is tiny
    (O(|keys|) rows), so AQE coalesces it to 1-2 partitions — but the
    NEXT stage explodes C(|set|, 2) pairs per row, a fan-out AQE sizes
    by the *input* bytes and therefore underestimates quadratically,
    leaving all but a couple of cores idle through the most expensive
    stage of every graph query here (measured 2.4x on sf0.1 pagerank
    edge-gen: 8.7M exploded pairs on 2 of 32 cores).  An explicit
    hash repartition of the small set-list costs a trivial shuffle and
    restores fan-out parallelism.  Hash on the group key, NOT round-
    robin: ``repartition(n)`` inserts a full local sort of every row
    (arrays included) for rerun determinism (SPARK-23207), which
    measured 3x slower than the explode it unblocks.

    Partition count: cores/2.  Two effects pull in opposite directions
    — more partitions parallelize the explode CPU, fewer partitions
    make the downstream distinct/count's map-side dedup see more
    repeats (cross-part duplicate pairs only collapse pre-shuffle when
    they land in the same map task), so the shuffle volume grows with
    the partition count.  The interleaved sweep measured the optimum at
    8 for sf0.1 and 16-32 at x10 data; cores/2 is within noise of best
    at both scales and, on a real cluster where parallelism tracks
    cluster (and therefore data) size, scales the fan-out stage with
    the job.  (A data-proportional count from the source's scan split
    count was tried and rejected: split count proved too
    file-layout-dependent to be a reliable proxy for data volume.)
    """
    cores = df.sparkSession.sparkContext.defaultParallelism
    n = max(8, cores // 2)
    return df.repartition(n, F.col(key))


def _pr_iter_sql(prev: str, out: str) -> str:
    return f"""
  {out} AS (
    SELECT n.id,
           0.15 + {PR_DAMP} * coalesce(
             CAST(SUM(CAST(r.pr / d.outdeg AS DECIMAL(30,6))) AS DOUBLE),
             0.0) AS pr
    FROM __nodes n
    LEFT JOIN __edges e ON e.dst = n.id
    LEFT JOIN {prev} r ON r.id = e.src
    LEFT JOIN __deg d ON d.src = e.src
    GROUP BY n.id
  )"""


#: full 3-iteration rebuild on the whole lineitem table — the oracle for
#: BOTH q_pagerank and q_incremental_pagerank (the incremental path's
#: gate is literally "maintenance ≡ rebuild", the r11 pattern from
#: q_incremental_minhash / q_lsh_index_upsert)
PAGERANK_SQL = f"""
  WITH __edges AS (
    SELECT DISTINCT a.l_suppkey AS src, b.l_suppkey AS dst
    FROM lineitem a JOIN lineitem b
      ON a.l_partkey = b.l_partkey AND a.l_suppkey <> b.l_suppkey
  ),
  __nodes AS (SELECT DISTINCT l_suppkey AS id FROM lineitem),
  __deg AS (
    SELECT src, CAST(count(*) AS DOUBLE) AS outdeg
    FROM __edges GROUP BY src
  ),
  __r0 AS (SELECT id, CAST(1.0 AS DOUBLE) AS pr FROM __nodes),
  {_pr_iter_sql("__r0", "__r1")},
  {_pr_iter_sql("__r1", "__r2")},
  {_pr_iter_sql("__r2", "__r3")}
  SELECT id AS supp_id, round(pr, 6) AS pagerank FROM __r3
"""


@register(
    "q_pagerank",
    PAGERANK_SQL,
    doc=f"PageRank ({PR_ITERS} synchronous iterations, damping {PR_DAMP}) "
    "over the supplier co-supply graph. Spark runs the classic "
    "message-passing loop — contributions pr/outdeg shuffled on dst, one "
    "hash-agg per iteration — with the edge list (self-join + distinct, "
    "the expensive part) localCheckpointed ONCE and reused by every "
    "iteration; per-message decimal-quantized sums keep each iteration "
    "bit-identical to the oracle's unrolled-CTE evaluation. Iterations "
    "shuffle only partial-aggregated per-dst message sums (the rank "
    "vector broadcasts, the edges never re-shuffle); the src-"
    "partitioned shuffle-join alternative for rank vectors too large "
    "to broadcast is exposed as pagerank(broadcast_ranks=False) and "
    "measured within noise of the broadcast form at ×10 for both 3 "
    "and 10 iterations (tools/ab_pr_forms.py, round 7).",
)
def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_parquet_table(spark, sf_dir, "lineitem")
    return pagerank(li)


def _co_supply_half(li: DataFrame) -> DataFrame:
    """Checkpointed HALF edge list (src < dst) of the supplier co-supply
    graph.  Dedup (l_partkey, l_suppkey) FIRST — the 2-column projection
    shuffles once and shrinks ~3x (repeat lineitems per part+supplier
    collapse) — then an equi-join on l_partkey emits each ordered pair
    inside the join stage (measured faster than collect_set + array
    explode at this ~30-supplier fan-out; tools/ab_pagerank.py, round
    4).  Checkpointing the HALF list keeps the materialized footprint 4x
    smaller than the annotated directed list: both directions and the
    outdeg annotation derive from it with a union + broadcast join.
    Pairs dedup on ONE packed long (src << 32 | dst) instead of a
    two-long struct: ~40% less shuffle payload through the dedup
    exchange (valid while supplier keys < 2^31, which holds at any
    TPC-H scale factor; partkey-sized graphs keep the struct form).

    The deduped (part, supplier) table is re-spread to a PINNED width
    before the self-join (r15): the distinct output is ~10 MB at sf0.1,
    so AQE's byte-based coalescing ran the C(suppliers-per-part, 2)
    pair-explosion join on ~10 of 32 cores — the _fanout_repartition
    pathology in join form.  An explicit REPARTITION_BY_NUM on the join
    key costs one exchange of the small deduped table and restores full
    fan-out parallelism; keeping ``.distinct()`` (not a repartition-
    keyed dropDuplicates) preserves its map-side partial dedup, which
    the ×10 A/B showed matters more than saving that exchange
    (interleaved min-of-3: pinned+distinct 7.4 s vs 9.4 s current vs
    9.2 s single-exchange form; sf0.1 2.2 s vs 2.9 s).

    Because BOTH self-join aliases read this one repartitioned ``ps``,
    the broadcast-regime plan (small scales) carries a second
    REPARTITION_BY_NUM exchange inside the BroadcastExchange on the
    build side — deliberate (ADVICE r15 #2 A/B'd the alternative):
    pinning only the probe side saves that small exchange at sf0.1
    (2.43 vs 2.72 s interleaved min-of-4) but LOSES 1.7× at ×10
    (9.53 vs 5.52 s), where the join leaves the broadcast regime and
    the shared pinned exchange is what lets both sort/hash sides reuse
    ONE shuffle at full width.  The small-scale build-side exchange is
    the price of the at-scale shape."""
    n = li.sparkSession.sparkContext.defaultParallelism
    ps = (
        li.select("l_partkey", "l_suppkey")
        .distinct()
        .repartition(n, "l_partkey")
    )
    return (
        ps.alias("a")
        .join(
            ps.alias("b"),
            (F.col("a.l_partkey") == F.col("b.l_partkey"))
            & (F.col("a.l_suppkey") < F.col("b.l_suppkey")),
        )
        .select(
            F.expr("a.l_suppkey * 4294967296 + b.l_suppkey").alias("e")
        )
        .distinct()
        .select(
            F.expr("e DIV 4294967296").alias("src"),
            F.expr("e % 4294967296").alias("dst"),
        )
        .localCheckpoint()
    )


def pagerank(
    li: DataFrame,
    *,
    iters: int = PR_ITERS,
    broadcast_ranks: bool = True,
    rounded_msg_sum: bool = True,
) -> DataFrame:
    """Supplier co-supply PageRank with both scale strategies exposed.

    ``broadcast_ranks=True`` (default): the O(|V|) rank vector broadcasts
    onto the checkpointed edge list each iteration — iterations shuffle
    only partial-aggregated per-dst message sums.  Right while the rank
    vector fits executor memory (hundreds of millions of nodes at 16 B
    each) and iteration counts are small.

    ``broadcast_ranks=False``: the annotated edge list is hash-
    partitioned on src and checkpointed ONCE; each iteration shuffle-
    joins the O(|V|) rank vector on src (edges never move — their
    checkpointed HashPartitioning satisfies the join's distribution
    requirement) and shuffles per-dst sums as before.  The scale path
    when |V| outgrows a broadcast or iterations ≫ 3 amortize the
    upfront edge repartition.  Measured (tools/ab_pr_forms.py,
    interleaved min-of-4 in one process, ×10 data ≈6M lineitem rows):
    the two forms are WITHIN NOISE of each other at both iteration
    counts — iters=3: broadcast 14.89 s vs join 13.35 s; iters=10:
    22.63 s vs 24.11 s — so the default stays broadcast (no upfront
    repartition+materialize, simpler plan); flip it when the rank
    vector outgrows executor memory, not for speed.  (This supersedes
    the round-4 "77 s vs 12 s" note, which measured a DST-partitioned
    annotated list rebuilt per iteration, a strictly worse layout than
    the src-partitioned checkpoint used here.)

    ``rounded_msg_sum`` selects the per-iteration message-sum kernel:
    True = ``spark_dsum_rounded`` (primitive-long accumulator), False =
    ``spark_dsum`` (BigDecimal buffer).  Both are bit-identical to the
    oracle; the round-7 A/B (tools/ab_pr_forms.py, same methodology)
    measured them within noise on the full query — rounded 4.94 s vs
    plain 5.07 s at sf0.1, 20.70 s vs 21.28 s at ×10 — the per-row
    ``cast(decimal(30,6))`` dominates either accumulator at this
    per-group cardinality (~30 messages/node).  The round-6 batch-bench
    regression suspicion against the rounded form (VERDICT r6 #1) did
    NOT reproduce under interleaved measurement; the rounded form stays
    (never slower, and it wins outright on wide groups —
    registry.py micro-bench).
    """
    # edge generation factored as _co_supply_half (shared with the
    # incremental path): join-kernel form measured against the round-3
    # collect_set + nested-array-explode form with tools/ab_pagerank.py
    # (FULL-query interleaved A/B, min of 4 alternating runs in one
    # process): 3.76 s vs 4.05 s at sf0.1, 11.5 s vs 18.7 s at ×10
    # (0.61×) — the join kernel beats per-row array allocation at the
    # ~30-supplier-per-part fan-out this table has, and the gap WIDENS
    # with scale (the per-ORDER co-order graph below keeps the
    # collect_set form: its sets are ~4 elements, below the crossover).
    # This is also literally the oracle's formulation.
    msg_sum = spark_dsum_rounded if rounded_msg_sum else spark_dsum
    half = _co_supply_half(li)
    edges = half.unionAll(
        half.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    nodes = li.select(F.col("l_suppkey").alias("id")).distinct()
    # outdeg is O(|V|): aggregate it small and broadcast it back — a
    # src-partitioned window would shuffle AND sort the whole edge list
    # just to annotate it
    outdeg = edges.groupBy("src").agg(
        F.count(F.lit(1)).cast("double").alias("outdeg")
    )
    # NOT pre-partitioned by dst: measured at the ×10 probe, an upfront
    # repartition("dst") + checkpoint of the annotated edge list costs
    # more than the per-iteration partial-agg savings it buys (77 s vs
    # 12 s wall at ×10) — the checkpointed HALF edge list plus a cheap
    # union/broadcast-join per iteration wins.  For iterations >> 3 or
    # rank vectors too big to broadcast, ``broadcast_ranks=False``
    # pre-partitions the annotated list on SRC (see docstring A/B).
    contrib = edges.join(F.broadcast(outdeg), "src")
    if not broadcast_ranks:
        # hash-partition + sort on the join key, checkpointed: the
        # LogicalRDD keeps outputPartitioning AND outputOrdering, so
        # every per-iteration sort-merge join re-reads the edges in
        # place — only the O(|V|) rank vector shuffles
        contrib = (
            contrib.repartition(F.col("src"))
            .sortWithinPartitions("src")
            .localCheckpoint()
        )
    # the graph is undirected, so a node sends iff it receives: inside
    # the loop the rank vector only needs message-RECEIVING nodes (every
    # contrib.src is one), and the O(|V|) nodes ⟕ msgs completion —
    # where isolated nodes take the closed-form 0.15 — happens ONCE at
    # the end instead of per iteration.  Iteration 1 needs no rank
    # distribution at all (uniform prior is a literal).
    pr = None
    for _ in range(iters):
        if pr is None:
            sender = contrib.withColumn("pr", F.lit(1.0))
        else:
            ranks = pr.withColumnRenamed("id", "src")
            # pr is O(|V|): broadcast it (default) so iterations shuffle
            # only partial-aggregated per-dst message sums; the shuffle-
            # join form moves the rank vector instead — never the edges
            sender = contrib.join(
                F.broadcast(ranks) if broadcast_ranks else ranks, "src"
            )
        msgs = sender.groupBy("dst").agg(
            # pr/outdeg is off-grid → rounded variant: same per-term
            # decimal(30,6) HALF_UP as the oracle, primitive-long
            # accumulation instead of BigDecimal buffers (this agg runs
            # over the full directed edge list every iteration — the
            # data-sized stage of the loop); A/B'd vs the BigDecimal
            # form on the full query (docstring), within noise here
            msg_sum(F.col("pr") / F.col("outdeg")).alias("m")
        )
        pr = msgs.select(
            F.col("dst").alias("id"),
            (0.15 + PR_DAMP * F.col("m")).alias("pr"),
        )
    return nodes.join(pr, "id", "left").select(
        F.col("id").alias("supp_id"),
        F.round(F.coalesce("pr", F.lit(0.15)), 6).alias("pagerank"),
    )


def _directed_half(half: DataFrame) -> DataFrame:
    """Both orientations of a half edge list."""
    return half.unionAll(
        half.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )


def _out_degrees(edges: DataFrame) -> DataFrame:
    return edges.groupBy("src").agg(
        F.count(F.lit(1)).cast("double").alias("outdeg")
    )


#: partition-dir count for PRUNABLE stored state (adjacency segments,
#: pair-weight segments, part rosters).  Frontier/delta joins collect
#: their bucket set (≤ this many ints) and scan only those partitions —
#: the pruning only bites while |touched keys| < buckets, so the count
#: sits well above the sparse-probe's smallest frontiers (~200 nodes)
#: while keeping per-segment file counts bounded on local disk.  At
#: warehouse scale this is the bucket count of the stored edge table.
ADJ_BUCKETS = 512


def _adj_bucket(c: "F.Column") -> "F.Column":
    return F.pmod(F.xxhash64(c), F.lit(ADJ_BUCKETS))


def _pair_bucket(s: "F.Column", d: "F.Column") -> "F.Column":
    return F.pmod(F.xxhash64(s, d), F.lit(ADJ_BUCKETS))


def write_adj_segment(half: DataFrame, path: str) -> None:
    """Persist a (src < dst) half edge list as a stored-adjacency
    SEGMENT: both orientations, partitioned by the src hash bucket, so
    frontier joins prune to touched buckets (VERDICT r13 task #1 — the
    r13 patch kernels joined the FULL stored edge list every level).
    At 100 TB this is the bucketed edge table an ingest tier appends
    one delta-sized segment to per batch; the graphs these kernels
    serve are symmetric, so the src-keyed layout answers both
    out-edge (expansion) and in-edge (gather, read reversed) probes.

    The pre-write repartition ON THE BUCKET is load-bearing: a
    partitionBy from N input partitions opens up to N files per
    bucket directory (measured 3,683 files / 229 s for a 71k-row
    segment from 64 partitions), and every later pruned read pays one
    task per file.  Hashing rows to their bucket first writes exactly
    one file per non-empty bucket."""
    n = half.sparkSession.sparkContext.defaultParallelism
    (
        _directed_half(half)
        .withColumn("__bkt", _adj_bucket(F.col("src")))
        .repartition(n, F.col("__bkt"))
        .write.mode("overwrite")
        .partitionBy("__bkt")
        .parquet(path)
    )


#: frontier sizes at or below this BROADCAST in the pruned stored-state
#: reads (~32 MB of longs); above it the id semi-join falls back to a
#: plain shuffle join.  The patch kernels' frontiers are delta-blast-
#: radius bounded so the broadcast is the normal path, but a large-
#: delta ingest's 2/3-hop frontier on a 100 TB graph can exceed any
#: driver's broadcast budget — the gate makes that regime degrade to a
#: shuffle instead of OOMing the driver (VERDICT r14 What's wrong #4).
#: Costs nothing extra to enforce: the frontier count rides the same
#: one-row-per-bucket action the partition pruning already collects.
FRONTIER_BCAST_MAX = 4_000_000


def _read_adj_pruned(
    spark: SparkSession,
    dirs: list,
    ids: DataFrame,
    extra_half: DataFrame | None = None,
) -> DataFrame:
    """Stored-adjacency rows whose src is in ``ids`` (one-column
    frame): collect the ids' bucket set (≤ ADJ_BUCKETS ints — one tiny
    driver action per level, the CC convergence-scalar discipline),
    scan ONLY those partitions of each segment (plan shows
    PartitionFilters), then broadcast-semi-join the ids.  Scan cost
    tracks the frontier's buckets, never E.  ``extra_half`` unions
    this batch's not-yet-committed new edges (both orientations) into
    the probe, so patch kernels see the merged graph before the
    segment is published.  ``dirs`` and ``extra_half`` must be
    edge-DISJOINT (stored segments never already contain the batch
    edges) — passing the same edges through both yields every row
    twice (ADVICE r14; exactness survives for min/mode kernels but
    message SUMS double).  The id semi-join broadcasts only while the
    frontier is at most :data:`FRONTIER_BCAST_MAX` ids; above that it
    degrades to a shuffle join instead of OOMing the driver."""
    idc = ids.columns[0]
    # one tiny driver action serves both the partition pruning (bucket
    # set, ≤ ADJ_BUCKETS rows) and the broadcast size gate (frontier
    # count): ids frames are distinct by construction at every caller
    per_bkt = (
        ids.select(_adj_bucket(F.col(idc)).alias("b"))
        .groupBy("b")
        .count()
        .collect()
    )
    bkts = [r["b"] for r in per_bkt]
    n_ids = sum(r["count"] for r in per_bkt)
    with driver_side_listing(spark):
        scan = None
        for d in dirs:
            seg = spark.read.parquet(d).select("src", "dst", "__bkt")
            scan = seg if scan is None else scan.unionByName(seg)
    if scan is not None:
        scan = scan.filter(F.col("__bkt").isin(bkts)).select("src", "dst")
    if extra_half is not None:
        ex = _directed_half(extra_half)
        scan = ex if scan is None else scan.unionByName(ex)
    if scan is None:
        # no stored segments and no batch edges: the degenerate-seed
        # corner a future caller hits first (ADVICE r14) — mirror
        # _read_weights_pruned's empty frame instead of raising
        return spark.createDataFrame([], "src long, dst long")
    ids_as_src = ids.select(F.col(idc).alias("src"))
    if n_ids <= FRONTIER_BCAST_MAX:
        ids_as_src = F.broadcast(ids_as_src)
    return (
        scan.join(ids_as_src, "src", "left_semi")
        # USING-joins move the key column first; pin the order back
        .select("src", "dst")
    )


def co_supply_new_edges(
    spark: SparkSession,
    adj_dirs: list,
    roster_scoped: DataFrame,
    batch_ps: DataFrame,
) -> tuple:
    """NEW co-supply edges induced by a batch of (l_partkey, l_suppkey)
    pairs, DELTA-sized end to end: ``roster_scoped`` is the stored
    pair roster already pruned to the batch's parts (a new edge must
    share a part with a new pair), candidate supplier pairs come from
    new-pair × scoped-roster join, and the already-stored check reads
    only the candidates' buckets of the stored adjacency.  Returns
    (new_ps, new_half), both checkpointed."""
    new_ps = batch_ps.join(
        roster_scoped, ["l_partkey", "l_suppkey"], "left_anti"
    ).localCheckpoint()
    side = roster_scoped.unionByName(new_ps)
    cand = (
        new_ps.alias("a")
        .join(
            side.alias("b"),
            (F.col("a.l_partkey") == F.col("b.l_partkey"))
            & (F.col("a.l_suppkey") != F.col("b.l_suppkey")),
        )
        .select(
            F.least("a.l_suppkey", "b.l_suppkey").alias("src"),
            F.greatest("a.l_suppkey", "b.l_suppkey").alias("dst"),
        )
        .distinct()
    )
    stored = _read_adj_pruned(spark, adj_dirs, cand.select("src").distinct())
    new_half = cand.join(
        stored, ["src", "dst"], "left_anti"
    ).select("src", "dst").localCheckpoint()
    return new_ps, new_half


def pagerank_patch_levels(
    spark: SparkSession,
    adj_dirs: list,
    outdeg_base: DataFrame,
    base_levels: list,
    new_half: DataFrame,
    *,
    iters: int = PR_ITERS,
    obs: dict | None = None,
) -> tuple:
    """The incremental-PageRank PATCH kernel over PRUNABLE stored
    adjacency — given the STORED pre-ingest state (``adj_dirs``
    segment list, ``outdeg_base`` degree table, per-iteration rank
    vectors ``base_levels``) and the ingest's ``new_half`` edges,
    re-rank only the new edges' k-hop blast radius, keep stored
    doubles everywhere else.

    r14 scale fix (VERDICT r13 task #1 / What's wrong #1): the r13
    form joined the FULL merged edge list every level of every
    iteration and recomputed out-degrees from it per patch, so the
    sparse-pr probe's wall sat flat (~32.5 s) while the patched-node
    count dropped 17,950 → 210.  Now every frontier expansion and
    in-edge gather is a partition-PRUNED scan of the frontier's
    buckets (:func:`_read_adj_pruned` — in-edges are the reversed
    out-rows, exact because both orientations are stored), and the
    degree table is MAINTAINED (one O(V) merge with the new edges'
    counts) instead of recomputed from E.  Per-ingest cost: O(blast-
    radius buckets) scans + O(V) vector merges, never an O(E) pass.

    Exactness argument on :func:`incremental_pagerank`; composes
    across repeated ingests by induction.  With EMPTY stored state
    (``adj_dirs=[]``, empty degree/level frames) and ``new_half`` =
    the whole graph this degenerates to the plain full computation
    (how the streaming twin seeds).  ``new_half`` must be checkpointed
    by the caller (it feeds the degree merge, the seed frontier, and
    every level's probe union).  Returns (patched_levels,
    outdeg_merged); each level is a LAZY union over checkpointed
    pieces only (stored level, frontier, patched delta) — safe to
    publish or join after the adjacency dirs are gone, without paying
    an O(V) materialization per level."""
    msg_sum = spark_dsum_rounded
    new_deg = _out_degrees(_directed_half(new_half))
    outdeg = (
        outdeg_base.withColumnRenamed("outdeg", "d0")
        .join(new_deg.withColumnRenamed("outdeg", "d1"), "src", "full")
        .select(
            "src",
            (
                F.coalesce("d0", F.lit(0.0)) + F.coalesce("d1", F.lit(0.0))
            ).alias("outdeg"),
        )
        .localCheckpoint()
    )
    frontier = (
        new_half.select(F.col("src").alias("id"))
        .unionAll(new_half.select(F.col("dst").alias("id")))
        .distinct()
        .localCheckpoint()
    )
    levels = []
    r_prev_full = None
    # out-edges of the seed set; each level's out-rows serve BOTH that
    # level's in-edge gather (reversed — the graph is symmetric) and
    # the NEXT level's frontier expansion, so the loop pays ONE pruned
    # read per level.  The checkpoint is blast-radius-sized (it only
    # reaches E when the frontier saturates, where any gather is
    # E-sized anyway).
    out_rows = _read_adj_pruned(spark, adj_dirs, frontier, new_half)
    for k in range(iters):
        # S_k = S_{k-1} ∪ N(S_{k-1}): level-k ranks change only there.
        # Checkpointed: the frontier feeds four consumers per level
        # (bucket collect, probe semi-join, base anti-join, next
        # union) — a lazy union-distinct re-ran for each and measured
        # SLOWER than the one blast-radius-sized checkpoint job
        frontier = (
            frontier.unionAll(out_rows.select(F.col("dst").alias("id")))
            .distinct()
            .localCheckpoint()
        )
        out_rows = _read_adj_pruned(
            spark, adj_dirs, frontier, new_half
        ).localCheckpoint()
        # in-edges of S_k = reversed out-rows of S_k's buckets
        in_e = out_rows.select(
            F.col("dst").alias("src"), F.col("src").alias("dst")
        )
        sender = (
            in_e.withColumn("pr", F.lit(1.0))
            if r_prev_full is None
            else in_e.join(
                F.broadcast(r_prev_full.withColumnRenamed("id", "src")),
                "src",
            )
        )
        patched = (
            sender.join(F.broadcast(outdeg), "src")
            .groupBy("dst")
            .agg(msg_sum(F.col("pr") / F.col("outdeg")).alias("m"))
            .select(
                F.col("dst").alias("id"),
                (0.15 + PR_DAMP * F.col("m")).alias("pr"),
            )
            .localCheckpoint()  # blast-radius-sized
        )
        # level-k vector = stored base values outside the blast radius,
        # patched values inside it.  Kept LAZY over checkpointed pieces
        # (base level, frontier, patched): materializing the full O(V)
        # vector per level was a fixed cost the delta never amortized.
        r_prev_full = (
            base_levels[k]
            .join(frontier, "id", "left_anti")
            .unionAll(patched)
        )
        levels.append(r_prev_full)
    if obs is not None:
        # blast-radius gauges for the delta-scaling probe: how many
        # nodes were actually re-ranked vs kept from stored state
        obs["n_new_edges"] = new_half.count()
        obs["n_patched"] = frontier.count()
    return levels, outdeg


def incremental_pagerank(
    li: DataFrame, delta_cond, *, iters: int = PR_ITERS
) -> DataFrame:
    """Delta-edge PageRank maintenance: re-rank only the ingest's blast
    radius, reuse stored per-iteration ranks everywhere else — EXACTLY
    equal to a full rebuild on the merged graph (the oracle gate).

    The exactness argument (why a bounded restart is not an
    approximation for a fixed-iteration rank): after k synchronous
    iterations a node's rank is a function of its k-hop in-
    neighborhood's degrees and the uniform prior.  An ingest only ADDS
    edges, and r_k(n) can change only if n is within k hops of a node
    whose degree changed — i.e. of a new edge's endpoints (the seed
    set).  So patching S_k = expand^k(seeds) with messages drawn from
    the PREVIOUS level's patched-or-stored values reproduces the full
    rebuild bit-for-bit: unaffected nodes keep stored doubles that the
    rebuild would recompute from identical inputs through the same
    decimal-quantized message kernel, and patched nodes aggregate over
    ALL their in-edges with that same kernel.

    100 TB shape (r14): the ingest tier stores the directed edge list
    as src-bucketed parquet segments, the (l_partkey, l_suppkey)
    roster bucketed by part, the O(V) degree table, and ``iters`` O(V)
    rank vectors.  Per-ingest work is now delta-sized END TO END: new
    edges derive from batch-pairs × the roster pruned to batch parts
    (:func:`co_supply_new_edges` — never a merged-graph diff), degrees
    merge incrementally, and every frontier join is a partition-pruned
    scan (:func:`pagerank_patch_levels`).  On this deliberately dense
    test graph (~60 co-suppliers per node) a 3-hop ball saturates,
    which the SCALING.md probe cell reports honestly — the bound is
    structural, |delta blast radius|, not corpus size.
    """
    import shutil
    import tempfile

    spark = li.sparkSession
    msg_sum = spark_dsum_rounded
    base_li = li.filter(~delta_cond)
    root = tempfile.mkdtemp(prefix="spark_graft_incpr_")
    try:
        # --- STORED pre-ingest state (in production read back from
        # storage, not recomputed): bucketed adjacency segment, pair
        # roster, degree table, per-ITERATION unrounded rank vectors.
        base_half = _co_supply_half(base_li)
        adj0 = f"{root}/adj/seg0"
        write_adj_segment(base_half, adj0)
        outdeg0 = _out_degrees(_directed_half(base_half)).localCheckpoint()
        base_ps = (
            base_li.select("l_partkey", "l_suppkey")
            .distinct()
            .localCheckpoint()
        )
        contrib = _directed_half(base_half).join(F.broadcast(outdeg0), "src")
        base_levels: list[DataFrame] = []
        pr = None
        for _ in range(iters):
            sender = (
                contrib.withColumn("pr", F.lit(1.0))
                if pr is None
                else contrib.join(
                    F.broadcast(pr.withColumnRenamed("id", "src")), "src"
                )
            )
            pr = (
                sender.groupBy("dst")
                .agg(msg_sum(F.col("pr") / F.col("outdeg")).alias("m"))
                .select(
                    F.col("dst").alias("id"),
                    (0.15 + PR_DAMP * F.col("m")).alias("pr"),
                )
                .localCheckpoint()
            )
            base_levels.append(pr)

        # --- the ingest: delta-scoped new-edge derivation + the
        # pruned-adjacency patch kernel (shared with the streaming twin)
        delta_ps = (
            li.filter(delta_cond)
            .select("l_partkey", "l_suppkey")
            .distinct()
        )
        roster_sc = base_ps.join(
            delta_ps.select("l_partkey").distinct(), "l_partkey", "left_semi"
        )
        _new_ps, new_half = co_supply_new_edges(
            spark, [adj0], roster_sc, delta_ps
        )
        levels, _outdeg = pagerank_patch_levels(
            spark, [adj0], outdeg0, base_levels, new_half, iters=iters
        )

        nodes = li.select(F.col("l_suppkey").alias("id")).distinct()
        # levels are lazy unions over checkpointed pieces only — the
        # returned plan never re-reads the tmpdir the finally removes
        return nodes.join(levels[-1], "id", "left").select(
            F.col("id").alias("supp_id"),
            F.round(F.coalesce("pr", F.lit(0.15)), 6).alias("pagerank"),
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register(
    "q_incremental_pagerank",
    PAGERANK_SQL,
    doc="Incremental PageRank maintenance: a simulated ingest delta "
    "(l_orderkey % 10 = 7, ~10% of lineitem) adds co-supply edges; "
    "only the delta's 3-hop blast radius is re-ranked, every other "
    "node keeps its stored per-iteration rank — and the ORACLE is the "
    "full 3-iteration rebuild on the merged graph, so the gate itself "
    "proves maintenance ≡ rebuild (bit-for-bit, via the same "
    "decimal-quantized message kernel). Extends the r11 "
    "incremental-ingest pattern (q_incremental_minhash, "
    "q_lsh_index_upsert, q_incremental_tfidf) to the costliest query "
    "family in the suite. Exactness + 100 TB analysis on "
    "incremental_pagerank.",
)
def q_incremental_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_parquet_table(spark, sf_dir, "lineitem")
    return incremental_pagerank(li, F.col("l_orderkey") % 10 == 7)


# part co-order graph: parts are linked when they appear together in >= 2
# distinct orders (the weight floor keeps the graph sparse — the raw
# co-order graph has ~30x more edges, almost all weight-1 noise)
_CO_ORDER_HALF_SQL = """
  __half AS (
    SELECT src, dst FROM (
      SELECT DISTINCT a.l_orderkey, a.l_partkey AS src, b.l_partkey AS dst
      FROM lineitem a
      JOIN lineitem b ON a.l_orderkey = b.l_orderkey
                     AND a.l_partkey < b.l_partkey)
    GROUP BY src, dst
    HAVING count(*) >= 2
  )"""


def ordered_pairs(
    sets: DataFrame, set_col: str, a: str, b: str
) -> DataFrame:
    """Explode every C(set, 2) ordered pair (x earlier than y in the
    sorted array) INSIDE the scan stage — the quadratic pair kernel
    every co-occurrence graph builder here shares.  q_pagerank keeps
    its own packed-long variant of this expression (one BIGINT per pair
    instead of a two-long struct, ~40% less dedup-shuffle payload,
    valid only while keys < 2^31).
    """
    return sets.select(
        F.explode(
            F.expr(
                f"flatten(transform({set_col}, (x, i) -> "
                f"transform(slice({set_col}, i + 2, size({set_col})), "
                f"y -> struct(x AS {a}, y AS {b}))))"
            )
        ).alias("__p")
    ).select(f"__p.{a}", f"__p.{b}")


def _co_order_pair_counts(li: DataFrame) -> DataFrame:
    """UNFLOORED distinct-order co-occurrence counts (src < dst, n_co)
    — the additive weight increment a disjoint set of orders
    contributes, and therefore the payload of the stored pair-weight
    table's append-only segments (:func:`co_order_new_edges`): counts
    from disjoint order sets sum to the merged count, so an ingest
    appends its own counts and never rewrites history.

    One shuffle on l_orderkey with a map-side-combined collect_set
    (orders hold ~4 lines, so per-order sets are tiny), pairs exploded
    inside the stage, then one (src, dst) counting shuffle.  Never
    materializes per-pair rows before the count."""
    sets = _fanout_repartition(
        li.groupBy("l_orderkey").agg(
            F.sort_array(F.collect_set("l_partkey")).alias("ps")
        ),
        "l_orderkey",
    )
    return (
        ordered_pairs(sets, "ps", "src", "dst")
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("n_co"))
    )


def _co_order_half_edges(li: DataFrame, weighted: bool = False) -> DataFrame:
    """(src < dst) part pairs co-ordered in >= 2 distinct orders;
    ``weighted`` adds w = 1 / co-order-count (the SSSP edge weight).
    The support floor filters on the COUNT (n_co >= 2), matching the
    oracle's HAVING — never on a derived float; weight-1 noise (the
    ~30x raw pair tail) never materializes per-pair rows."""
    agg = _co_order_pair_counts(li).filter(F.col("n_co") >= 2)
    if weighted:
        return agg.select(
            "src", "dst", (F.lit(1.0) / F.col("n_co")).alias("w")
        )
    return agg.select("src", "dst")


def write_weight_segment(counts: DataFrame, path: str) -> None:
    """Persist (src, dst, n_co) pair-count increments as a stored
    pair-weight SEGMENT, partitioned by the pair hash bucket.  The
    stored weight table is the union of all segments with counts
    summed per pair — append-only because co-order counts from
    disjoint order sets are additive — and floor-crossing checks read
    only the delta's buckets.  Bucket-repartitioned before the write
    for the same one-file-per-bucket reason as
    :func:`write_adj_segment`."""
    n = counts.sparkSession.sparkContext.defaultParallelism
    (
        counts.withColumn(
            "__bkt", _pair_bucket(F.col("src"), F.col("dst"))
        )
        .repartition(n, F.col("__bkt"))
        .write.mode("overwrite")
        .partitionBy("__bkt")
        .parquet(path)
    )


def _read_weights_pruned(
    spark: SparkSession, dirs: list, pairs: DataFrame
) -> DataFrame:
    """Stored pair-count rows for exactly the given (src, dst) pairs:
    bucket-set collect → partition-pruned scan of every segment →
    broadcast semi-join on the pair."""
    bkts = [
        r[0]
        for r in pairs.select(
            _pair_bucket(F.col("src"), F.col("dst")).alias("b")
        )
        .distinct()
        .collect()
    ]
    with driver_side_listing(spark):
        scan = None
        for d in dirs:
            seg = spark.read.parquet(d).select(
                "src", "dst", "n_co", "__bkt"
            )
            scan = seg if scan is None else scan.unionByName(seg)
    if scan is None:
        return spark.createDataFrame([], "src long, dst long, n_co long")
    return (
        scan.filter(F.col("__bkt").isin(bkts))
        .join(
            F.broadcast(pairs.select("src", "dst")),
            ["src", "dst"],
            "left_semi",
        )
        .select("src", "dst", "n_co")
    )


def read_keyed_segments(
    spark: SparkSession,
    dirs: list,
    keys: DataFrame,
    key_cols: list,
    schema: str,
) -> DataFrame:
    """Rows of a bucket-partitioned segment table matching ``keys`` (a
    frame carrying exactly ``key_cols``): collect the keys' bucket set
    (segments carry ``__bkt = pmod(xxhash64(*key_cols), ADJ_BUCKETS)``),
    scan only those partitions of each segment, broadcast-semi-join the
    keys, and pin the column order back (USING-joins reorder).
    ``schema`` is the payload shape, also used when no segments exist.
    The generic pruned reader behind the roster/op lookups the
    streaming graph twins make per batch."""
    cols = [c.strip().split()[0] for c in schema.split(",")]
    if not dirs:
        return spark.createDataFrame([], schema)
    bucket = F.pmod(
        F.xxhash64(*[F.col(k) for k in key_cols]), F.lit(ADJ_BUCKETS)
    )
    bkts = [
        r[0] for r in keys.select(bucket.alias("b")).distinct().collect()
    ]
    with driver_side_listing(spark):
        scan = None
        for d in dirs:
            seg = spark.read.parquet(d).select(*cols, "__bkt")
            scan = seg if scan is None else scan.unionByName(seg)
    return (
        scan.filter(F.col("__bkt").isin(bkts))
        .join(F.broadcast(keys.select(*key_cols)), key_cols, "left_semi")
        .select(*cols)
    )


def co_order_new_edges(
    spark: SparkSession, weight_dirs: list, dw: DataFrame
) -> DataFrame:
    """NEW weight-floor co-order edges an ingest creates, DELTA-sized:
    ``dw`` is the ingest's own (src, dst, n_co) count increments
    (checkpointed); the stored totals for exactly those pairs come
    from a partition-pruned read of the weight segments, and a pair is
    a new edge iff its total crosses the >= 2 floor THIS ingest
    (monotone under ingest: counts only grow).  Never recounts the
    corpus and never scans untouched weight buckets.  Returns the
    checkpointed (src, dst) half list."""
    stored = _read_weights_pruned(spark, weight_dirs, dw)
    base_tot = stored.groupBy("src", "dst").agg(
        F.sum("n_co").alias("n_base")
    )
    return (
        dw.join(base_tot, ["src", "dst"], "left")
        .select(
            "src",
            "dst",
            "n_co",
            F.coalesce("n_base", F.lit(0)).alias("n_base"),
        )
        .filter(
            (F.col("n_base") < 2) & (F.col("n_base") + F.col("n_co") >= 2)
        )
        .select("src", "dst")
        .localCheckpoint()
    )


def orient_by_degree(half: DataFrame) -> DataFrame:
    """Re-orient an undirected (src, dst) edge list from the
    (degree, id)-smaller endpoint to the larger one.

    Any total node order enumerates each triangle exactly once through
    the wedge join; degree order additionally bounds per-source wedge
    fan-out under hub skew (compact-forward, O(E^1.5) total wedges).
    Degree table is O(|V|) and broadcasts onto both endpoints.
    """
    deg = (
        half.select(F.col("src").alias("node"))
        .unionAll(half.select(F.col("dst").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    ds = F.broadcast(
        deg.select(F.col("node").alias("src"), F.col("deg").alias("dsrc"))
    )
    dd = F.broadcast(
        deg.select(F.col("node").alias("dst"), F.col("deg").alias("ddst"))
    )
    swap = (F.col("ddst") < F.col("dsrc")) | (
        (F.col("ddst") == F.col("dsrc")) & (F.col("dst") < F.col("src"))
    )
    return (
        half.join(ds, "src")
        .join(dd, "dst")
        .select(
            F.when(swap, F.col("dst")).otherwise(F.col("src")).alias("src"),
            F.when(swap, F.col("src")).otherwise(F.col("dst")).alias("dst"),
        )
    )


@register(
    "q_triangle_count",
    f"""
  WITH {_CO_ORDER_HALF_SQL},
  tri AS (
    SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
    FROM __half e1
    JOIN __half e2 ON e2.src = e1.dst
    JOIN __half e3 ON e3.src = e1.src AND e3.dst = e2.dst
  )
  SELECT node AS part_id, count(*) AS n_triangles
  FROM (
    SELECT a AS node FROM tri
    UNION ALL SELECT b AS node FROM tri
    UNION ALL SELECT c AS node FROM tri)
  GROUP BY node
""",
    doc="Per-node triangle counting on the part co-order graph: edges "
    "DEGREE-ordered (orient low-(deg,id) -> high) so each triangle is "
    "enumerated exactly once by the wedge join (e1.dst = e2.src) closed "
    "against the edge set, and per-source wedge fan-out is bounded "
    "under any skew — total wedge work O(E^1.5) (the compact-forward "
    "algorithm). The oracle keeps the id orientation: the triangle set "
    "is orientation-invariant, so matching outputs PROVE the "
    "equivalence. Edge list is broadcast on both probe sides — one "
    "shuffle total (the count).",
)
def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_parquet_table(spark, sf_dir, "lineitem")
    half0 = _co_order_half_edges(li)
    # DEGREE-ordered orientation (not id order): orient every edge from
    # the (degree, id)-smaller endpoint to the larger one.  Any total
    # order enumerates each triangle exactly once through the wedge
    # join, but degree order bounds per-source wedge fan-out by
    # sqrt(|E|)-ish, making wedge count O(E^1.5) REGARDLESS of skew —
    # an id ordering lets one hub node generate O(deg^2) wedges.  The
    # triangle set (and so every per-node count) is orientation-
    # invariant, which the unchanged id-oriented DuckDB oracle proves.
    half = orient_by_degree(half0).localCheckpoint()
    e1 = half.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    e2 = half.select(F.col("src").alias("b2"), F.col("dst").alias("c"))
    e3 = half.select(F.col("src").alias("a3"), F.col("dst").alias("c3"))
    tri = (
        e1.join(F.broadcast(e2), F.col("b") == F.col("b2"))
        .join(
            F.broadcast(e3),
            (F.col("a") == F.col("a3")) & (F.col("c") == F.col("c3")),
            "left_semi",
        )
        .select("a", "b", "c")
    )
    corners = (
        tri.select(F.col("a").alias("node"))
        .unionAll(tri.select(F.col("b").alias("node")))
        .unionAll(tri.select(F.col("c").alias("node")))
    )
    return corners.groupBy(F.col("node").alias("part_id")).agg(
        F.count(F.lit(1)).alias("n_triangles")
    )


_LPA_ITERS = 2


def _lpa_iter_sql(prev: str, out: str) -> str:
    return f"""
  {out}_n AS (
    SELECT e.dst AS id, l.label, count(*) AS cnt
    FROM __full e JOIN {prev} l ON l.id = e.src
    GROUP BY e.dst, l.label
  ),
  {out}_w AS (
    SELECT id, label, row_number() OVER (
      PARTITION BY id ORDER BY cnt DESC, label) AS rn
    FROM {out}_n
  ),
  {out} AS (
    SELECT n.id, coalesce(w.label, n.id) AS label
    FROM __nodes n
    LEFT JOIN {out}_w w ON w.id = n.id AND w.rn = 1
  )"""


#: full 2-iteration rebuild on the whole lineitem table — the oracle for
#: BOTH q_label_propagation and q_incremental_label_propagation (the
#: incremental gate is "maintenance ≡ rebuild", as for PageRank)
LABEL_PROPAGATION_SQL = f"""
  WITH {_CO_ORDER_HALF_SQL},
  __full AS (
    SELECT src, dst FROM __half
    UNION ALL SELECT dst AS src, src AS dst FROM __half
  ),
  __nodes AS (SELECT DISTINCT l_partkey AS id FROM lineitem),
  __l0 AS (SELECT id, id AS label FROM __nodes),
  {_lpa_iter_sql("__l0", "__l1")},
  {_lpa_iter_sql("__l1", "__l2")}
  SELECT id AS part_id, label AS community FROM __l2
"""


@register(
    "q_label_propagation",
    LABEL_PROPAGATION_SQL,
    doc=f"Label propagation community detection ({_LPA_ITERS} synchronous "
    "iterations) on the part co-order graph: each node adopts its "
    "neighbors' modal label with a deterministic (count desc, label "
    "asc) tiebreak, isolated nodes keep their own id. Per iteration: "
    "one shuffle on dst for the label histogram and a partial-agg "
    "max_by for the winner (no per-node sort window); the O(|V|) label "
    "vector broadcasts back over the checkpointed edge list, so "
    "iterations never reshuffle the O(|E|) edges. Iteration 1 is the "
    "closed-form min-neighbor (initial labels all distinct) and the "
    "isolated-node completion happens once at the end — undirected "
    "graph, so every sender also receives.",
)
def q_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_parquet_table(spark, sf_dir, "lineitem")
    # checkpoint the HALF list and derive both directions per pass
    # (r15, the q_pagerank layout): materializing the doubled list
    # stored 2× the rows for zero per-iteration saving — each pass
    # scans the same row count either way, and the checkpoint write
    # itself halves
    half = _co_order_half_edges(li).localCheckpoint()
    edges = half.unionAll(
        half.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    nodes = li.select(F.col("l_partkey").alias("id")).distinct()
    # undirected graph ⇒ every label-sender also receives, so the loop
    # carries labels for edge-touching nodes only; isolated nodes keep
    # their own id via ONE final left join instead of per-iteration
    # nodes ⟕ winner completions (their labels never reach anyone).
    labels = None
    for it in range(_LPA_ITERS):
        if labels is None:
            # iteration 1 closed form: initial labels are the node ids,
            # so every neighbor label is distinct (cnt = 1 on the deduped
            # edge list) and the modal-with-(count desc, label asc)
            # winner is simply the minimum neighbor id — one partial-agg
            # min, no broadcast, no histogram
            labels = edges.groupBy(F.col("dst").alias("id")).agg(
                F.min("src").alias("label")
            )
            continue
        hist = (
            edges.join(
                F.broadcast(labels.withColumnRenamed("id", "src")), "src"
            )
            .groupBy(F.col("dst").alias("id"), "label")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        # modal label via max_by on (cnt, -label): same deterministic
        # (count desc, label asc) winner as a rank window, but as a
        # partial-aggregable hash agg — no per-node sort, and the second
        # shuffle moves one candidate per (map partition, node) instead
        # of the full histogram
        labels = hist.groupBy("id").agg(
            F.max_by(
                "label", F.struct(F.col("cnt"), -F.col("label"))
            ).alias("label")
        )
    return nodes.join(labels, "id", "left").select(
        F.col("id").alias("part_id"),
        F.coalesce("label", "id").alias("community"),
    )


def incremental_label_propagation(li: DataFrame, delta_cond) -> DataFrame:
    """Delta-edge LPA maintenance — the integer twin of
    :func:`incremental_pagerank`, one level cheaper because labels carry
    no degree coupling.

    An ingest only ADDS co-order edges (pair weights only grow, so the
    ≥2 floor is monotone: a pair crossing the threshold via a delta
    order shows up as a new edge).  Level-1 labels (min neighbor id)
    change ONLY at new-edge endpoints — S1 = seeds, no expansion — and
    level-2 modal labels only at S1 ∪ N(S1).  Every patched node
    re-aggregates over ALL its in-edges with the same partial-agg
    max_by kernel, unaffected nodes keep stored labels the rebuild
    would recompute from identical integer inputs, so the oracle (full
    2-iteration rebuild) matches exactly.

    100 TB shape (r14): stored state is the RAW pair-weight table as
    append-only bucketed segments (counts from disjoint order sets are
    additive), the directed edge list as src-bucketed segments, and
    both O(V) label vectors.  Per-ingest work is delta-sized end to
    end: the delta's own pair counts (:func:`_co_order_pair_counts`
    over delta orders only), a floor-crossing check that reads ONLY
    the delta pairs' weight buckets (:func:`co_order_new_edges` —
    never a merged-graph recount), and blast-radius re-votes through
    partition-pruned adjacency scans (:func:`lpa_patch_levels`)."""
    import shutil
    import tempfile

    spark = li.sparkSession
    base_li = li.filter(~delta_cond)
    root = tempfile.mkdtemp(prefix="spark_graft_inclpa_")
    try:
        # --- STORED pre-ingest state (read back from storage in
        # production): pair-weight segment, adjacency segment, and both
        # per-iteration label vectors (seeded through the patch kernel
        # itself — empty state degenerates to the full computation)
        w0 = _co_order_pair_counts(base_li).localCheckpoint()
        wdir0 = f"{root}/w/seg0"
        write_weight_segment(w0, wdir0)
        base_half = w0.filter(F.col("n_co") >= 2).select("src", "dst")
        adj0 = f"{root}/adj/seg0"
        write_adj_segment(base_half, adj0)
        empty_lbl = spark.createDataFrame([], "id long, label long")
        # seed through the DOCUMENTED degenerate mode — adj_dirs=[] with
        # new_half = the whole graph: the kernel's pruned reads require
        # dirs and new_half edge-disjoint, and the segment written above
        # already contains base_half (ADVICE r14: passing it through
        # both sides doubled every edge; LPA stayed exact only because
        # uniform doubling preserves min/mode under the tiebreak)
        l1_base, l2_base = lpa_patch_levels(
            spark, [], empty_lbl, empty_lbl,
            base_half.localCheckpoint(),
        )
        l2_base = l2_base.localCheckpoint()

        # --- the ingest: delta pair counts → pruned floor-crossing
        # check → pruned-adjacency patch (shared with the streaming twin)
        dw = _co_order_pair_counts(li.filter(delta_cond)).localCheckpoint()
        new_half = co_order_new_edges(spark, [wdir0], dw)
        l1f, l2f = lpa_patch_levels(
            spark, [adj0], l1_base, l2_base, new_half
        )
        # l2f is lazy over checkpointed pieces only — never re-reads
        # the tmpdir the finally removes, and the final plan keeps the
        # partial_max_by re-vote visible for the PLANS.md gate
        nodes = li.select(F.col("l_partkey").alias("id")).distinct()
        return nodes.join(l2f, "id", "left").select(
            F.col("id").alias("part_id"),
            F.coalesce("label", "id").alias("community"),
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


def lpa_patch_levels(
    spark: SparkSession,
    adj_dirs: list,
    l1_base: DataFrame,
    l2_base: DataFrame,
    new_half: DataFrame,
    obs: dict | None = None,
) -> tuple:
    """The incremental-LPA PATCH kernel over PRUNABLE stored adjacency
    — given stored (adjacency segments, level-1, level-2 label
    vectors) and the ingest's ``new_half`` edges, new-edge endpoints
    re-take their min-neighbor label and their 1-hop ball re-votes the
    mode; composes across repeated ingests by induction.

    r14 scale fix (VERDICT r13 task #1): same pruned layout as
    :func:`pagerank_patch_levels` — in-edge gathers are reversed
    out-rows of the blast radius' buckets, never a full edge-list
    join; the one pruned read of S1's buckets serves both the level-1
    re-vote (reversed) and the S2 expansion (its dst column).  With
    EMPTY stored vectors and ``new_half`` = the whole graph it
    degenerates to the plain full computation (how the twins and the
    batch seed).  ``new_half`` must be checkpointed by the caller.
    Returns (l1_full, l2_full); l1_full is checkpointed, l2_full is a
    lazy union over checkpointed pieces only (its gather rows are
    checkpointed inside), so it is safe to publish after the adjacency
    dirs are gone AND the final plan keeps the partial_max_by re-vote
    visible for the plan gate."""
    s1 = (
        new_half.select(F.col("src").alias("id"))
        .unionAll(new_half.select(F.col("dst").alias("id")))
        .distinct()
        .localCheckpoint()
    )
    # one pruned read of S1's buckets: reversed rows are S1's in-edges
    # (level-1 re-vote), dst column is N(S1) (the S2 expansion)
    out1 = _read_adj_pruned(spark, adj_dirs, s1, new_half).localCheckpoint()
    p1 = (
        out1.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        .groupBy(F.col("dst").alias("id"))
        .agg(F.min("src").alias("label"))
    )
    l1_full = (
        l1_base.join(s1, "id", "left_anti").unionAll(p1).localCheckpoint()
    )
    # level 2: modal label over the 1-hop blast radius S2 = S1 ∪ N(S1)
    s2 = (
        s1.unionAll(out1.select(F.col("dst").alias("id")))
        .distinct()
        .localCheckpoint()
    )
    in2 = (
        _read_adj_pruned(spark, adj_dirs, s2, new_half)
        .localCheckpoint()  # blast-radius-sized; frees l2_full (and
        # the final plan's max_by) from any adjacency-dir reference
        .select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    p2 = (
        in2.join(F.broadcast(l1_full.withColumnRenamed("id", "src")), "src")
        .groupBy(F.col("dst").alias("id"), "label")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy("id")
        .agg(
            F.max_by(
                "label", F.struct(F.col("cnt"), -F.col("label"))
            ).alias("label")
        )
    )
    l2_full = l2_base.join(s2, "id", "left_anti").unionAll(p2)
    if obs is not None:
        obs["n_new_edges"] = new_half.count()
        obs["n_patched"] = s2.count()
    return l1_full, l2_full




@register(
    "q_incremental_label_propagation",
    LABEL_PROPAGATION_SQL,
    doc="Incremental label-propagation maintenance: a simulated ingest "
    "delta (l_orderkey % 10 = 7) adds co-order edges (including pairs "
    "the delta pushes over the ≥2 weight floor); only new-edge "
    "endpoints re-take their min-neighbor label and only their 1-hop "
    "ball re-votes the modal label — every other node keeps its stored "
    "per-iteration label. The ORACLE is the full 2-iteration rebuild "
    "on the merged graph, so the gate proves maintenance ≡ rebuild "
    "(exact, pure integer ops). Completes the incremental-ingest "
    "pattern across the graph family with q_incremental_pagerank; "
    "blast-radius analysis on incremental_label_propagation.",
)
def q_incremental_label_propagation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    li = read_parquet_table(spark, sf_dir, "lineitem")
    return incremental_label_propagation(li, F.col("l_orderkey") % 10 == 7)


_BFS_HOPS = 3


@register(
    "q_bfs_hops",
    f"""
  WITH {_CO_ORDER_HALF_SQL},
  __full AS (
    SELECT src, dst FROM __half
    UNION ALL SELECT dst AS src, src AS dst FROM __half
  ),
  __seed AS (SELECT min(l_partkey) AS id FROM lineitem),
  __d1 AS (
    SELECT DISTINCT f.dst AS id FROM __full f JOIN __seed s ON f.src = s.id),
  __d2 AS (
    SELECT DISTINCT f.dst AS id FROM __full f JOIN __d1 d ON f.src = d.id),
  __d3 AS (
    SELECT DISTINCT f.dst AS id FROM __full f JOIN __d2 d ON f.src = d.id)
  SELECT id AS part_id, min(h) AS hops FROM (
    SELECT id, 0 AS h FROM __seed
    UNION ALL SELECT id, 1 AS h FROM __d1
    UNION ALL SELECT id, 2 AS h FROM __d2
    UNION ALL SELECT id, 3 AS h FROM __d3)
  GROUP BY id
""",
    doc=f"Breadth-first hop distance (<= {_BFS_HOPS} hops) from the "
    "lowest part id over the part co-order graph: per level, the "
    "frontier broadcasts against the checkpointed edge list (frontier "
    "is O(|V|), edges never move), reached nodes accumulate as (id, "
    "level) and the final min-aggregate resolves multi-path visits. "
    "The unrolled-level form is exactly what an iterative distributed "
    "BFS computes level-synchronously at scale.",
)
def q_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_parquet_table(spark, sf_dir, "lineitem")
    half = _co_order_half_edges(li)
    edges = half.unionAll(
        half.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint()
    seed = li.agg(F.min("l_partkey").alias("id"))
    levels = [seed.withColumn("h", F.lit(0))]
    frontier = seed
    for lvl in range(1, _BFS_HOPS + 1):
        frontier = (
            edges.join(
                F.broadcast(frontier.withColumnRenamed("id", "src")).select(
                    "src"
                ),
                "src",
            )
            .select(F.col("dst").alias("id"))
            .distinct()
        )
        levels.append(frontier.withColumn("h", F.lit(lvl)))
    reached = levels[0]
    for lv in levels[1:]:
        reached = reached.unionAll(lv.select("id", "h"))
    return reached.groupBy(F.col("id").alias("part_id")).agg(
        F.min("h").alias("hops")
    )


_COSINE_TOPK = 100
#: pair generation is C(|basket|, 2) per order — unbounded baskets make a
#: single pathological row explode O(b²) pairs, so baskets are capped at
#: the 64 smallest part keys (deterministic).  TPC-H-shaped orders hold
#: ≤7 lines, so the cap never fires on real-distribution data — it is a
#: robustness bound, not a sampling approximation.  Per-item counts stay
#: uncapped (the cosine denominator is the true vector norm).
_BASKET_CAP = 64


@register(
    "q_item_cosine",
    f"""
  WITH __oi AS (
    SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
  ),
  __oc AS (
    SELECT l_orderkey, l_partkey FROM (
      SELECT l_orderkey, l_partkey,
             row_number() OVER (PARTITION BY l_orderkey
                                ORDER BY l_partkey) AS rn
      FROM __oi)
    WHERE rn <= {_BASKET_CAP}
  ),
  __ni AS (
    SELECT l_partkey, count(*) AS n FROM __oi GROUP BY 1
  ),
  __pairs AS (
    SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, count(*) AS n_co
    FROM __oc a JOIN __oc b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY 1, 2
    HAVING count(*) >= 2
  )
  SELECT part_a, part_b, n_co,
         round(n_co / sqrt(na.n * nb.n), 6) AS cosine
  FROM __pairs
  JOIN __ni na ON na.l_partkey = part_a
  JOIN __ni nb ON nb.l_partkey = part_b
  ORDER BY round(n_co / sqrt(na.n * nb.n), 6) DESC, part_a, part_b
  LIMIT {_COSINE_TOPK}
""",
    doc=f"Item-item collaborative-filtering scores: cosine similarity "
    "over co-purchase vectors, cos(i,j) = n_ij / √(n_i·n_j), top-"
    f"{_COSINE_TOPK} with a total-order tiebreak. Co-occurrence pairs "
    "come from the per-order collect_set explode (never a row-level "
    f"self-join) with baskets capped at the {_BASKET_CAP} smallest part "
    "keys — pair fan-out per order is bounded O(cap²) even under "
    "pathological baskets — the per-item order counts broadcast back "
    "over the ≥2-support pairs, and the top-k is TakeOrderedAndProject "
    "— no global sort. ×10 probe ~3× is healthy linear pair volume "
    "(disjoint-key replicas keep basket sizes constant) saturating the "
    "fan-out stage, not superlinear growth. The classic 'customers "
    "also bought' precompute at catalog scale.",
)
def q_item_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_parquet_table(spark, sf_dir, "lineitem")
    oi = li.select("l_orderkey", "l_partkey").distinct()
    ni = oi.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("n"))
    sets = _fanout_repartition(
        oi.groupBy("l_orderkey").agg(
            # sort_array ascending + slice = the row_number()<=cap
            # smallest part keys, matching the oracle's deterministic cap
            F.slice(
                F.sort_array(F.collect_set("l_partkey")), 1, _BASKET_CAP
            ).alias("ps")
        ),
        "l_orderkey",
    )
    pairs = (
        ordered_pairs(sets, "ps", "part_a", "part_b")
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_co"))
        .filter(F.col("n_co") >= 2)
    )
    na = F.broadcast(ni.select(F.col("l_partkey").alias("part_a"), F.col("n").alias("na")))
    nb = F.broadcast(ni.select(F.col("l_partkey").alias("part_b"), F.col("n").alias("nb")))
    scored = (
        pairs.join(na, "part_a")
        .join(nb, "part_b")
        .select(
            "part_a",
            "part_b",
            "n_co",
            F.round(
                F.col("n_co") / F.sqrt(F.col("na") * F.col("nb")), 6
            ).alias("cosine"),
        )
    )
    return scored.orderBy(
        F.desc("cosine"), "part_a", "part_b"
    ).limit(_COSINE_TOPK)


_SSSP_ROUNDS = 3

#: weighted co-order edges: weight 1/n_co (stronger co-occurrence = closer)
_WEIGHTED_EDGES_SQL = """
  __whalf AS (
    SELECT src, dst, 1.0 / count(*) AS w FROM (
      SELECT DISTINCT a.l_orderkey, a.l_partkey AS src, b.l_partkey AS dst
      FROM lineitem a
      JOIN lineitem b ON a.l_orderkey = b.l_orderkey
                     AND a.l_partkey < b.l_partkey)
    GROUP BY src, dst
    HAVING count(*) >= 2
  ),
  __wfull AS (
    SELECT src, dst, w FROM __whalf
    UNION ALL SELECT dst AS src, src AS dst, w FROM __whalf
  )"""


def _sssp_iter_sql(prev: str, out: str) -> str:
    return f"""
  {out} AS (
    SELECT id, min(d) AS d FROM (
      SELECT id, d FROM {prev}
      UNION ALL
      SELECT e.dst AS id, p.d + e.w AS d
      FROM {prev} p JOIN __wfull e ON e.src = p.id)
    GROUP BY id
  )"""


@register(
    "q_shortest_path",
    f"""
  WITH {_WEIGHTED_EDGES_SQL},
  __seed AS (SELECT min(l_partkey) AS id, 0.0 AS d FROM lineitem),
  {_sssp_iter_sql("__seed", "__d1")},
  {_sssp_iter_sql("__d1", "__d2")},
  {_sssp_iter_sql("__d2", "__d3")}
  SELECT id AS part_id, round(d, 6) AS dist FROM __d3
""",
    doc=f"Weighted single-source shortest path ({_SSSP_ROUNDS} Bellman-"
    "Ford relaxation rounds, min-plus semiring) from the lowest part id "
    "over the co-order graph, edge weight 1/co-order-count. Per round: "
    "the O(|reached|) distance vector broadcasts over the checkpointed "
    "edge list, relaxed candidates union with current distances, one "
    "min-aggregate shuffle. Identical structure to the level-"
    "synchronous BFS but on a semiring — the template for any "
    "fixed-round iterative graph metric at 100 TB (edges never move; "
    "only the frontier vector does).",
)
def q_shortest_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_parquet_table(spark, sf_dir, "lineitem")
    half = _co_order_half_edges(li, weighted=True)
    edges = half.unionAll(
        half.select(
            F.col("dst").alias("src"), F.col("src").alias("dst"), "w"
        )
    ).localCheckpoint()
    dist = li.agg(F.min("l_partkey").alias("id")).withColumn(
        "d", F.lit(0.0)
    )
    for _ in range(_SSSP_ROUNDS):
        relaxed = (
            edges.join(
                F.broadcast(dist.withColumnRenamed("id", "src")), "src"
            )
            .select(F.col("dst").alias("id"), (F.col("d") + F.col("w")).alias("d"))
        )
        dist = (
            dist.select("id", "d")
            .unionAll(relaxed)
            .groupBy("id")
            .agg(F.min("d").alias("d"))
        )
    return dist.select(
        F.col("id").alias("part_id"), F.round("d", 6).alias("dist")
    )


@register(
    "q_degree_distribution",
    f"""
  WITH {_CO_ORDER_HALF_SQL},
  __deg AS (
    SELECT node, count(*) AS deg FROM (
      SELECT src AS node FROM __half
      UNION ALL SELECT dst AS node FROM __half)
    GROUP BY node
  )
  SELECT CAST(floor(ln(CAST(deg AS DOUBLE)) / ln(2.0)) AS BIGINT)
           AS log2_bucket,
         count(*) AS n_nodes,
         CAST(min(deg) AS BIGINT) AS min_deg,
         CAST(max(deg) AS BIGINT) AS max_deg
  FROM __deg GROUP BY 1
""",
    doc="Log2-binned degree distribution of the part co-order graph — "
    "the skew diagnostic run before any iterative graph job: a heavy "
    "tail here predicts hot reducers in message-passing (mitigation: "
    "high-degree-vertex mirroring / degree-ordered orientation). Degree "
    "per node is one count shuffle over the edge list; the histogram "
    "aggregates the O(|V|) degree table.",
)
def q_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_parquet_table(spark, sf_dir, "lineitem")
    half = _co_order_half_edges(li)
    deg = (
        half.select(F.col("src").alias("node"))
        .unionAll(half.select(F.col("dst").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    bucket = F.floor(
        F.log(F.col("deg").cast("double")) / F.log(F.lit(2.0))
    ).cast("bigint")
    return deg.groupBy(bucket.alias("log2_bucket")).agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.min("deg").alias("min_deg"),
        F.max("deg").alias("max_deg"),
    )
