"""Graph traversal and incremental-state operators (SURVEY §2.C/§2.G
deepening): the four shapes a 100 TB pipeline leans on once the
relational surface is in place —

- bounded multi-hop BFS over a derived co-occurrence graph (entity
  resolution / related-items expansion),
- incremental aggregate maintenance by merging persisted partial-agg
  state with a delta (never rescanning the base corpus),
- CDC apply-changes with out-of-order sequence numbers and delete
  tombstones (the ingest half of a continuously-scored table,
  generalizing the reference's producer write-back at explicit
  timestamps, impl/KijiFreshProducerContext.java:90-131),
- mergeable sketch shard stores (HLL, exact bitmaps, DDSketch,
  Misra-Gries, bottom-K, theta) persisted once and merged later, so
  their state, like the partial aggs, survives across ingest batches.
  Each sketch's build, merge and read is defined once in
  operators/sketches.py, shared with the streaming folds in
  queries_ml.py; this module owns the source derivations, the shard
  stores, the exact references and the oracles.

Parity conventions follow the registry rules (queries.py header): exact
DECIMAL sums cast to DOUBLE at the end, identical aliases both sides,
deterministic ORDER BY.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators import sketches as sk
from .operators.graph import bfs_hops, triangle_count
from .operators.maintenance import apply_changes, checksum_diff
from .queries import query
from .sources import load_table
from .state import derived


@query(
    "graph_bfs_copurchase_hops",
    """
    WITH qual AS (
      SELECT l_orderkey, l_partkey FROM lineitem WHERE l_quantity >= 40
    ),
    edges AS (
      SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      FROM qual a JOIN qual b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
    ),
    seeds AS (
      SELECT p_partkey AS pk FROM part WHERE p_partkey % 500 = 0
    ),
    reach AS (
      WITH RECURSIVE walk(pk, hop) AS (
        SELECT pk, 0 FROM seeds
        UNION ALL
        SELECT e.dst, walk.hop + 1
        FROM walk JOIN edges e ON e.src = walk.pk
        WHERE walk.hop < 3
      )
      SELECT pk, MIN(hop) AS hops FROM walk GROUP BY pk
    )
    SELECT pk AS partkey, CAST(hops AS INTEGER) AS hops
    FROM reach ORDER BY partkey
    """,
    "graph", "iterative",
)
def graph_bfs_copurchase_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded multi-hop BFS: which parts are reachable within 3 hops of
    the seed parts over the high-quantity co-purchase graph (two parts
    are adjacent iff some order contains both with l_quantity >= 40)?

    Spark shape — frontier-iterative BFS, the scale-safe translation of
    the oracle's recursive CTE:

    - Edges are built per-order from `collect_set` + a double explode.
      Orders have a bounded line count (<= 7 in TPC-H), so the in-bucket
      expansion is O(49) worst-case per order — no hot-bucket risk, and
      no O(|lineitem|^2) self-join.
    - The edge list is hash-partitioned on `src` once and persisted; all
      three BFS levels probe the SAME partitioning, so each level is one
      broadcast-join + distinct, never a re-shuffle of the edges.
    - The frontier is broadcast (it is at most the vertex set of one
      level, orders of magnitude smaller than the edges). At 100 TB the
      hint stays valid while the frontier fits the broadcast threshold;
      for a frontier that outgrows it, drop the hint and the same code
      degrades to a co-partitioned shuffle join on `src`.
    - Each level is `localCheckpoint`-ed: the lineage is cut so level k+1
      plans against materialized level-k output instead of replaying the
      whole prefix (same pattern as the connected-components loop in
      operators/dedup.py).

    Exact-by-construction: hop counts are integers and MIN(hop) is
    order-independent, so the frontier BFS (which visits each vertex at
    its minimal hop exactly once, by anti-joining the visited set) and
    the oracle's enumerate-all-paths-then-MIN agree bit-for-bit.
    """
    li = load_table(spark, sf_dir, "lineitem")
    qual = li.filter(F.col("l_quantity") >= 40).select("l_orderkey", "l_partkey")
    baskets = qual.groupBy("l_orderkey").agg(F.collect_set("l_partkey").alias("pks"))
    edges = (
        baskets.select(F.explode("pks").alias("src"), "pks")
        .select("src", F.explode("pks").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    seeds = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_partkey") % 500 == 0)
        .select(F.col("p_partkey").alias("pk"))
    )
    reached = bfs_hops(edges, seeds, max_hops=3)
    return reached.select(
        F.col("pk").alias("partkey"), F.col("hops").cast("int").alias("hops")
    ).orderBy("partkey")


@query(
    "incremental_agg_partial_merge",
    """
    SELECT o_orderpriority AS pri,
      CAST(EXTRACT(MONTH FROM o_orderdate) AS INTEGER) AS mth,
      COUNT(*) AS cnt,
      CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
      CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
        AS avg_price
    FROM orders
    GROUP BY pri, mth
    ORDER BY pri, mth
    """,
    "agg", "incremental", "sink",
)
def incremental_agg_partial_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance: the per-(priority, month) order
    stats are kept as persisted PARTIAL aggregates (count + exact DECIMAL
    sum); when a delta batch arrives, only the delta is scanned and its
    partials are merged with the stored state — the base corpus is never
    re-read. The oracle recomputes from scratch over everything; matching
    hashes prove partial-merge == full recompute.

    This is the algebraic-aggregate contract (count/sum/min/max are
    mergeable; avg is derived at read time from sum/count, never stored)
    that makes 100 TB rollups affordable: per-batch cost is O(delta), and
    the merge is a groupBy over |groups| rows, not |rows|. Exactness:
    sums are DECIMAL(18,2) so merge order cannot change the value; the
    DOUBLE cast and the avg division happen once, after the final merge,
    on both engines' identical IEEE path.

    Base/delta split is deterministic (o_orderkey % 10): 80% of orders
    form the "already ingested" state, 20% the delta.
    """
    o = load_table(spark, sf_dir, "orders")

    def partials(df: DataFrame) -> DataFrame:
        return df.groupBy(
            F.col("o_orderpriority").alias("pri"),
            F.month("o_orderdate").alias("mth"),
        ).agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("total_dec"),
        )

    path = derived(
        sf_dir,
        "orders_agg_state.parquet",
        partials(o.filter(F.col("o_orderkey") % 10 < 8)).write.parquet,
    )
    state = spark.read.parquet(path)
    delta = partials(o.filter(F.col("o_orderkey") % 10 >= 8))

    merged = (
        state.unionByName(delta)
        .groupBy("pri", "mth")
        .agg(F.sum("cnt").alias("cnt"), F.sum("total_dec").alias("total_dec"))
    )
    return merged.select(
        "pri",
        "mth",
        F.col("cnt").cast("long").alias("cnt"),
        F.col("total_dec").cast("double").alias("total"),
        (F.col("total_dec").cast("double") / F.col("cnt")).alias("avg_price"),
    ).orderBy("pri", "mth")


@query(
    "cdc_apply_changes_ordered",
    """
    WITH ch AS (
      SELECT user_id, event_id AS seq,
        CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
        value
      FROM events
    ),
    ranked AS (
      SELECT *,
        ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY seq DESC) AS rn,
        COUNT(*) OVER (PARTITION BY user_id) AS n_changes
      FROM ch
    )
    SELECT user_id, value AS last_value, seq AS last_seq, n_changes
    FROM ranked WHERE rn = 1 AND op = 'U'
    ORDER BY user_id
    """,
    "cdc", "window",
)
def cdc_apply_changes_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC apply-changes: collapse a changelog (key, monotone sequence
    number, upsert/delete op, payload) into the current table state —
    the ingest half of a continuously-scored table, and the batch
    generalization of the reference's write-at-timestamp producer
    contract (impl/KijiFreshProducerContext.java:90-131: newest write
    wins per cell). Events stand in as the changelog: user_id is the
    key, event_id the sequence, event_type='error' a delete tombstone.

    Out-of-order safety: the input has NO useful physical order (and at
    100 TB a changelog never does); correctness comes only from the
    per-key ROW_NUMBER over seq DESC. Keys whose LATEST change is a
    tombstone vanish from the output — filtering op='U' strictly after
    rank-1 selection is what makes a delete followed by nothing final;
    filtering before ranking would wrongly resurrect the previous
    upsert.

    Scale: one shuffle on user_id serves both window functions (rank and
    per-key change count share the partition spec); high-cardinality key
    → no skew; AQE splits any hot key.
    """
    ev = load_table(spark, sf_dir, "events")
    ch = ev.select(
        "user_id", F.col("event_id").alias("seq"), "event_type", "value"
    )
    applied = apply_changes(
        ch,
        keys=["user_id"],
        seq="seq",
        is_delete=F.col("event_type") == "error",
        payload=["value"],
    )
    return applied.select(
        "user_id",
        F.col("value").alias("last_value"),
        "last_seq",
        "n_changes",
    ).orderBy("user_id")


@query(
    "sketch_hll_shard_union",
    """
    SELECT COUNT(DISTINCT event_type) AS n_shards,
      COUNT(DISTINCT user_id) AS exact_users,
      TRUE AS estimate_ok
    FROM events
    """,
    "sketch", "incremental", "agg",
)
def sketch_hll_shard_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable distinct-count sketches: build one HLL sketch of
    user_id PER SHARD (event_type), persist the sketches as binary
    parquet, then answer the global question by unioning the stored
    sketches — the corpus itself is scanned once ever, and each future
    batch only adds its own sketch to the store.

    This is the 100 TB distinct-counting shape: HLL registers merge by
    max, so the union is associative, commutative, and idempotent —
    partition order, shard order, and re-merges cannot change the
    estimate, which is why the estimate is DETERMINISTIC and safe to
    gate. A fixed-size sketch (lgConfigK=12 default, ~2.5 KB) per shard
    replaces a 100 TB-wide exact distinct.

    Oracle contract: DuckDB cannot reproduce Spark's sketch bytes, so
    the query emits the exact distinct count (computed both sides) plus
    `estimate_ok` — |estimate - exact| <= 5% of exact, far looser than
    the sketch's ~1.6% rsd at lgConfigK=12 — which the oracle states as
    a constant TRUE. The estimate's exact value and its determinism are
    pinned by tests/test_graph.py.
    """
    ev = load_table(spark, sf_dir, "events")
    path = derived(
        sf_dir,
        "hll_user_shards.parquet",
        sk.hll_build(ev.select("event_type", "user_id"), "user_id").write.parquet,
    )
    shards = spark.read.parquet(path)

    n_shards = shards.agg(F.count(F.lit(1)).alias("n_shards"))
    exact = ev.agg(F.countDistinct("user_id").alias("exact_users"))
    out = n_shards.crossJoin(F.broadcast(sk.hll_merge(shards))).crossJoin(exact)
    return out.select(
        "n_shards", "exact_users", sk.hll_ok("exact_users").alias("estimate_ok")
    )


@query(
    "graph_triangle_count_copurchase",
    """
    WITH qual AS (
      SELECT l_orderkey, l_partkey FROM lineitem WHERE l_quantity >= 40
    ),
    ce AS (
      SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      FROM qual a JOIN qual b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    )
    SELECT
      (SELECT COUNT(*) FROM ce) AS n_edges,
      (SELECT COUNT(*) FROM ce e1
         JOIN ce e2 ON e2.src = e1.dst
         JOIN ce e3 ON e3.src = e1.src AND e3.dst = e2.dst) AS n_triangles
    """,
    "graph",
)
def graph_triangle_count_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed triangle counting over the high-quantity co-purchase
    graph, via DEGREE-ORDERED ORIENTATION — the trick that makes the
    join tractable on power-law graphs: orient every edge from the
    lower-(degree, id) endpoint to the higher one, enumerate wedges only
    from each vertex's OUT-neighbors, and close them against the
    canonical edge set. Every triangle then has exactly one pivot (its
    minimum-rank vertex) and is counted exactly once.

    Why this survives 100 TB where the oracle's naive 3-way self-join
    does not: a degree-d hub contributes O(d^2) wedges naively, but
    after orientation every vertex's out-degree is bounded by O(sqrt(m))
    on any graph (a vertex with out-degree k has k neighbors of degree
    >= its own, so k^2 <= 2m) — the wedge relation is O(m^1.5) worst
    case instead of sum-of-d^2, and no single hub key explodes one
    shuffle partition. The count is an exact integer, so both plans
    agree bit-for-bit.
    """
    li = load_table(spark, sf_dir, "lineitem")
    qual = li.filter(F.col("l_quantity") >= 40).select("l_orderkey", "l_partkey")
    baskets = qual.groupBy("l_orderkey").agg(F.collect_set("l_partkey").alias("pks"))
    ce = (
        baskets.select(F.explode("pks").alias("src"), "pks")
        .select("src", F.explode("pks").alias("dst"))
        .filter(F.col("src") < F.col("dst"))
        .distinct()
    )
    n_edges = ce.agg(F.count(F.lit(1)).alias("n_edges"))
    return n_edges.crossJoin(triangle_count(ce))


@query(
    "bitmap_exact_distinct_shards",
    """
    SELECT event_type, COUNT(DISTINCT user_id) AS n_users
    FROM events GROUP BY event_type
    UNION ALL
    SELECT 'ALL' AS event_type, COUNT(DISTINCT user_id) AS n_users
    FROM events
    ORDER BY event_type
    """,
    "sketch", "incremental", "agg",
)
def bitmap_exact_distinct_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT mergeable distinct counting via bitmap shards — the
    companion to the HLL query when the answer must be exact: user ids
    are mapped to (bucket, bit-position) with Spark's bitmap functions,
    one RoaringBitmap-style bitmap per (event_type, bucket) is built
    map-side and persisted as binary parquet, and every later question
    is answered from the stored bitmaps — per-type counts by summing
    per-bucket `bitmap_count`s (buckets partition the id space, so they
    are disjoint), the global count by `bitmap_or_agg` across types
    first. OR is associative/commutative/idempotent, so shard merge
    order and re-merges cannot change the result, and re-ingesting a
    batch is harmless — the dedup-free exactly-once property exact
    streaming counters need.

    Scale: state is O(distinct/8) bytes spread over (type, bucket) keys
    — for 10^10 users ~1.25 GB total, sharded; no shuffle ever touches
    the raw events again after the one build pass.
    """
    ev = load_table(spark, sf_dir, "events")
    bitmaps = ev.select(
        "event_type",
        F.bitmap_bucket_number("user_id").alias("bkt"),
        F.bitmap_bit_position("user_id").alias("pos"),
    ).groupBy("event_type", "bkt").agg(F.bitmap_construct_agg("pos").alias("bm"))
    path = derived(sf_dir, "bitmap_user_shards.parquet", bitmaps.write.parquet)
    shards = spark.read.parquet(path)

    per_type = shards.groupBy("event_type").agg(
        F.sum(F.bitmap_count("bm")).alias("n_users")
    )
    global_row = (
        shards.groupBy("bkt")
        .agg(F.bitmap_or_agg("bm").alias("bm"))
        # coalesce: over an EMPTY shard store the global aggregate still
        # emits one row, and it must say 0 distinct users, not NULL —
        # matching COUNT(DISTINCT) on the empty table
        .agg(F.coalesce(F.sum(F.bitmap_count("bm")), F.lit(0)).alias("n_users"))
        .select(F.lit("ALL").alias("event_type"), "n_users")
    )
    return per_type.unionByName(global_row).orderBy("event_type")


@query(
    "sketch_quantile_shard_merge",
    """
    -- quantiles are defined over the NON-NULL values (and ranking a
    -- nullable column is engine-dependent: Spark sorts NULLS FIRST,
    -- DuckDB NULLS LAST — the registry's standing rule is filter, not
    -- pin); the sketch build applies the same predicate
    WITH vals AS (
      SELECT o_totalprice, o_orderpriority FROM orders
      WHERE o_totalprice IS NOT NULL
    ),
    n AS (SELECT COUNT(*) AS n_rows FROM vals),
    ranks AS (
      SELECT
        CAST(CEIL(0.5  * n_rows) AS BIGINT) AS r50,
        CAST(CEIL(0.9  * n_rows) AS BIGINT) AS r90,
        CAST(CEIL(0.99 * n_rows) AS BIGINT) AS r99
      FROM n
    ),
    ordered AS (
      SELECT o_totalprice AS v,
        ROW_NUMBER() OVER (ORDER BY o_totalprice) AS rn
      FROM vals
    )
    -- global aggregate, no GROUP BY: exactly ONE row even over an EMPTY
    -- table (n_rows 0, NULL percentiles, trivially-TRUE contract) —
    -- matching the Spark side's one-row global agg
    SELECT
      (SELECT COUNT(DISTINCT o_orderpriority) FROM vals) AS n_shards,
      (SELECT n_rows FROM n) AS n_rows,
      MAX(CASE WHEN rn = (SELECT r50 FROM ranks) THEN v END) AS p50_exact,
      MAX(CASE WHEN rn = (SELECT r90 FROM ranks) THEN v END) AS p90_exact,
      MAX(CASE WHEN rn = (SELECT r99 FROM ranks) THEN v END) AS p99_exact,
      TRUE AS p50_ok, TRUE AS p90_ok, TRUE AS p99_ok
    FROM ordered
    """,
    "sketch", "incremental", "stats", "agg",
)
def sketch_quantile_shard_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable approximate-QUANTILE sketch shards — the third member of
    the mergeable-summary set beside the HLL and bitmap shards above: one
    DDSketch-style log-bucket histogram of o_totalprice PER SHARD
    (o_orderpriority) is persisted as plain (shard, bucket, count)
    parquet, and global percentiles are answered from the stored shards
    — the corpus is scanned once ever; each future ingest batch only
    adds its own shard rows.

    Why THIS sketch for 100 TB: the state is integer bucket counts keyed
    by ceil(log_gamma v), so shards merge by summing counts — a plain
    groupBy-sum that is associative, commutative, and DETERMINISTIC
    (unlike t-digest, whose centroids depend on merge order), and the
    whole pipeline is built-in codegen expressions (log/ceil/sum/window)
    with no UDF. State size is O(buckets) ~ log(max/min)/log(gamma) per
    shard (~310 buckets for this column at alpha=1%), independent of row
    count. The estimate's guarantee: the merged cumulative walk lands in
    EXACTLY the bucket holding the rank-q element (counts are exact
    integers), and the bucket representative 2*gamma^b/(gamma+1) is
    within alpha of every value in the bucket — relative error <= 1%,
    by construction, at any scale.

    Oracle contract (the sketch_hll_shard_union pattern): DuckDB states
    the exact side — row count, shard count, and the PINNED-RANK exact
    percentiles (the element at ROW_NUMBER ceil(q*n), a stored double,
    so it hash-matches bit-for-bit with no float arithmetic) — plus
    constant-TRUE `*_ok` flags; Spark computes the same exact references
    AND the sketch estimates, asserting |est - exact| <= 2.5% * exact
    (2.5x the 1% guarantee, headroom for the representative sitting at
    a bucket edge). Determinism and merge-associativity are pinned by
    tests/test_sketch_quantile.py.
    """
    from pyspark.sql import Window

    # non-null values only, BEFORE the sketch build — the quantile's
    # domain (NULL has no bucket) and the oracle's `vals` predicate
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice").isNotNull()
    )
    path = derived(
        sf_dir,
        "ddsketch_totalprice_shards.parquet",
        sk.dd_build(
            orders.select("o_orderpriority", "o_totalprice"), "o_totalprice"
        ).write.parquet,
    )
    shards = spark.read.parquet(path)

    totals = shards.agg(
        F.count_distinct("o_orderpriority").alias("n_shards"),
        # coalesce: over an EMPTY shard store the global agg still emits
        # one row, and it must say 0 rows, not NULL (same contract as
        # bitmap_exact_distinct_shards' empty-store row)
        F.coalesce(F.sum("cnt"), F.lit(0).cast("long")).alias("n_rows"),
    ).select("n_shards", "n_rows", *sk.quantile_ranks())
    est = sk.dd_quantiles(sk.dd_merge(shards), totals)

    # exact reference: the element at global rank ceil(q*n) ascending — a
    # stored double picked by position, no arithmetic, so it is the same
    # bits in both engines. (Global row_number is the REFERENCE side's
    # cost, same as the weighted/moving-median oracles; the sketch above
    # is the scale path.)
    ranked = orders.select(F.col("o_totalprice").alias("v")).withColumn(
        "rn", F.row_number().over(Window.orderBy("v"))
    )
    exact = ranked.crossJoin(F.broadcast(totals)).agg(
        F.max(F.when(F.col("rn") == F.col("r50"), F.col("v"))).alias("p50_exact"),
        F.max(F.when(F.col("rn") == F.col("r90"), F.col("v"))).alias("p90_exact"),
        F.max(F.when(F.col("rn") == F.col("r99"), F.col("v"))).alias("p99_exact"),
    )

    out = totals.select("n_shards", "n_rows").crossJoin(exact).crossJoin(est)
    return out.select(
        "n_shards",
        "n_rows",
        "p50_exact",
        "p90_exact",
        "p99_exact",
        *sk.dd_ok(),
    )


#: ingest shards of the Misra-Gries item stream
_MG_SHARDS = 8


def _mg_item(li: DataFrame) -> DataFrame:
    """Deterministic Zipf-ish item stream over lineitem: ~25% of rows on
    5 hot items, ~20% on 200 warm items, the rest on a long tail whose
    cardinality grows with the data — the frequency shape frequent-items
    sketches exist for (the base tables are uniform by construction, so
    the skew is derived, the table_diff_checksum_buckets pattern). All
    arithmetic is modulo-bounded first so no regime's extreme keys can
    overflow BIGINT under ANSI, and rows with NULL in any input key are
    excluded up front (an item built from NULL has no count)."""
    li = li.filter(
        F.col("l_orderkey").isNotNull()
        & F.col("l_partkey").isNotNull()
        & F.col("l_linenumber").isNotNull()
    )
    sel = F.pmod(
        F.pmod(F.col("l_orderkey"), F.lit(1000000))
        + F.pmod(F.col("l_linenumber"), F.lit(20)),
        F.lit(20),
    )
    item = (
        F.when(sel < 5, F.pmod(F.col("l_orderkey"), F.lit(5)))
        .when(sel < 9, F.lit(10) + F.pmod(F.col("l_orderkey"), F.lit(200)))
        .otherwise(
            F.lit(1000)
            + F.pmod(F.col("l_partkey"), F.lit(500000)) * 13
            + F.pmod(F.col("l_linenumber"), F.lit(13))
        )
    )
    return li.select(
        item.cast("long").alias("item"),
        F.pmod(F.col("l_orderkey"), F.lit(_MG_SHARDS)).alias("shard"),
    )


@query(
    "sketch_topk_shard_merge",
    """
    -- the same deterministic Zipf-ish item map as the Spark side; every
    -- key component is modulo-bounded BEFORE any arithmetic (no BIGINT
    -- overflow on extreme keys) and the ((x % m) + m) % m idiom matches
    -- Spark's pmod on negatives
    WITH base AS (
      SELECT
        ((l_orderkey % 1000000) + 1000000) % 1000000 AS ok1m,
        ((l_linenumber % 20) + 20) % 20 AS ln20,
        l_orderkey, l_partkey, l_linenumber
      FROM lineitem
      WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL
        AND l_linenumber IS NOT NULL
    ),
    src AS (
      SELECT CAST(CASE
        WHEN (ok1m + ln20) % 20 < 5 THEN ((l_orderkey % 5) + 5) % 5
        WHEN (ok1m + ln20) % 20 < 9
          THEN 10 + ((l_orderkey % 200) + 200) % 200
        ELSE 1000 + (((l_partkey % 500000) + 500000) % 500000) * 13
                  + ((l_linenumber % 13) + 13) % 13
      END AS BIGINT) AS item,
      ((l_orderkey % 8) + 8) % 8 AS shard
      FROM base
    ),
    cnts AS (SELECT item, COUNT(*) AS cnt FROM src GROUP BY item),
    n AS (SELECT COUNT(*) AS n_rows FROM src),
    ranked AS (
      SELECT item, cnt,
        ROW_NUMBER() OVER (ORDER BY cnt DESC, item) AS rn
      FROM cnts
    )
    -- global aggregate, no GROUP BY: exactly ONE row even over an EMPTY
    -- table (0 counts, NULL top items, trivially-TRUE contract) —
    -- matching the Spark side's one-row global agg
    SELECT
      (SELECT n_rows FROM n) AS n_rows,
      (SELECT COUNT(DISTINCT shard) FROM src) AS n_shards,
      (SELECT COUNT(*) FROM cnts) AS n_distinct_items,
      (SELECT COUNT(*) FROM cnts, n
        WHERE cnt > 2.0 * n_rows / 65.0) AS n_heavy,
      MAX(CASE WHEN rn = 1 THEN item END) AS top1_item,
      MAX(CASE WHEN rn = 1 THEN cnt END) AS top1_cnt,
      MAX(CASE WHEN rn = 2 THEN item END) AS top2_item,
      MAX(CASE WHEN rn = 2 THEN cnt END) AS top2_cnt,
      MAX(CASE WHEN rn = 3 THEN item END) AS top3_item,
      MAX(CASE WHEN rn = 3 THEN cnt END) AS top3_cnt,
      TRUE AS no_overestimate,
      TRUE AS recovered_all_heavy,
      TRUE AS heavy_within_band,
      TRUE AS summary_within_k
    FROM ranked
    """,
    "sketch", "incremental", "stats", "agg",
)
def sketch_topk_shard_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable FREQUENT-ITEMS sketch shards (Misra-Gries) — the fourth
    member of the mergeable-summary set beside the HLL, exact-bitmap,
    and DDSketch-quantile shards above: one K=64-counter Misra-Gries
    summary of the derived item stream PER SHARD (ingest partition =
    l_orderkey mod 8) is persisted as plain (shard, item, weight)
    parquet, and the global heavy hitters are answered from the stored
    shards — the corpus is scanned once ever; each future ingest batch
    only adds its own shard rows.

    Why THIS sketch for 100 TB: the per-shard summary is built from the
    shard's exact in-batch counts (one groupBy) and pruned to ≤K rows by
    subtracting the (K+1)-th largest count — the static-batch equivalent
    of streaming Misra-Gries, with the same guarantee (every kept weight
    underestimates by ≤ n_shard/(K+1)) but DETERMINISTIC (weights depend
    only on counts, not arrival order). Summaries merge by groupBy-SUM
    of weights plus one re-prune — associative and commutative (Agarwal
    et al., PODS 2012) — so the persisted state is O(K) rows per shard
    forever, the merge is O(shards·K) rows regardless of corpus size,
    and every item whose true frequency exceeds 2n/(K+1) is GUARANTEED
    to survive into the merged summary with weight within 2n/(K+1) of
    its exact count. The whole pipeline is built-in codegen expressions
    (pmod/when/window/sum) — no UDF anywhere.

    Oracle contract (the sketch_quantile_shard_merge pattern): DuckDB
    states the exact side — row/shard/distinct/heavy counts and the top-3
    exact items under the total (cnt DESC, item ASC) order — plus
    constant-TRUE contract flags; Spark computes the same exact
    references AND the sketch, asserting (a) no merged weight exceeds its
    exact count, (b) every heavy item (cnt > 2n/(K+1)) is present, (c)
    each heavy item's weight is within the 2n/(K+1) band, (d) the merged
    summary stays ≤ K items. Shard-invariance, merge-vs-exact error, and
    determinism are pinned by tests/test_sketch_topk.py.

    The exact global top-3 is the REFERENCE side's cost: TakeOrdered
    top-k (no full sort); the sketch path above never ranks the full
    item space. Reference parity: kiji-scoring keeps no sketch state —
    this extends the same persisted-metatable machinery its freshness
    manager uses for durable records (KijiFreshnessManager.java:235-239,
    mMetaTable.putValue) into mergeable per-shard summaries."""
    from pyspark.sql import Window

    src = _mg_item(load_table(spark, sf_dir, "lineitem"))

    path = derived(sf_dir, "mg_topk_lineitem_shards.parquet", sk.mg_build(src).write.parquet)
    summary = sk.mg_merge(spark.read.parquet(path))

    # exact reference side: global counts (one groupBy), totals, top-3 by
    # TakeOrdered (never a full global sort)
    exact = src.groupBy("item").agg(F.count(F.lit(1)).alias("cnt"))
    totals = src.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count_distinct("shard").alias("n_shards"),
    )
    distinct_row = exact.agg(F.count(F.lit(1)).alias("n_distinct_items"))
    top3 = (
        exact.orderBy(F.col("cnt").desc(), F.col("item").asc())
        .limit(3)
        .withColumn(
            "rn",
            F.row_number().over(
                Window.orderBy(F.col("cnt").desc(), F.col("item").asc())
            ),
        )
        .agg(
            F.max(F.when(F.col("rn") == 1, F.col("item"))).alias("top1_item"),
            F.max(F.when(F.col("rn") == 1, F.col("cnt"))).alias("top1_cnt"),
            F.max(F.when(F.col("rn") == 2, F.col("item"))).alias("top2_item"),
            F.max(F.when(F.col("rn") == 2, F.col("cnt"))).alias("top2_cnt"),
            F.max(F.when(F.col("rn") == 3, F.col("item"))).alias("top3_item"),
            F.max(F.when(F.col("rn") == 3, F.col("cnt"))).alias("top3_cnt"),
        )
    )
    flags = sk.mg_contract(exact, summary, totals)

    return (
        totals.crossJoin(distinct_row)
        .crossJoin(top3)
        .crossJoin(flags)
        .select(
            "n_rows",
            "n_shards",
            "n_distinct_items",
            "n_heavy",
            "top1_item",
            "top1_cnt",
            "top2_item",
            "top2_cnt",
            "top3_item",
            "top3_cnt",
            "no_overestimate",
            "recovered_all_heavy",
            "heavy_within_band",
            "summary_within_k",
        )
    )


@query(
    "sketch_bottomk_sample_shards",
    """
    -- KMV is DETERMINISTIC given the hash, so unlike the HLL/DDSketch/
    -- Misra-Gries entries this oracle states EVERY output column exactly
    -- — no contract flags: both engines produce identical md5 hex
    -- (lowercase), identical lexicographic bottom-K (hex order = numeric
    -- order), and an identical IEEE estimate (one exact-constant
    -- multiply + one divide on the same 60-bit integer)
    WITH src AS (
      SELECT l_partkey AS key, ((l_orderkey % 8) + 8) % 8 AS shard
      FROM lineitem
      WHERE l_partkey IS NOT NULL AND l_orderkey IS NOT NULL
    ),
    hashed AS (
      SELECT key, md5(CAST(key AS VARCHAR)) AS h
      FROM (SELECT DISTINCT key FROM src)
    ),
    ranked AS (
      SELECT key, h, ROW_NUMBER() OVER (ORDER BY h) AS rn FROM hashed
    ),
    merged AS (SELECT key, h, rn FROM ranked WHERE rn <= 64)
    SELECT
      (SELECT COUNT(*) FROM src) AS n_rows,
      (SELECT COUNT(DISTINCT shard) FROM src) AS n_shards,
      (SELECT COUNT(*) FROM hashed) AS n_distinct_exact,
      (SELECT COUNT(*) FROM merged) AS sample_size,
      MIN(h) AS min_hash,
      MAX(CASE WHEN rn = 1 THEN key END) AS min_key,
      MAX(CASE WHEN rn = 64 THEN h END) AS kth_hash,
      CASE WHEN (SELECT COUNT(*) FROM merged) < 64
           THEN CAST((SELECT COUNT(*) FROM hashed) AS DOUBLE)
           ELSE 63.0 * 1152921504606846976.0
                / CAST(CAST(('0x' ||
                    substr(MAX(CASE WHEN rn = 64 THEN h END), 1, 15))
                    AS BIGINT) AS DOUBLE)
      END AS est_distinct
    FROM merged
    """,
    "sketch", "incremental", "stats", "sample",
)
def sketch_bottomk_sample_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable BOTTOM-K (KMV) distinct sample shards — the fifth member
    of the mergeable-summary set, and the only one whose entire output sits
    under the exact hash gate with NO contract flags: one bottom-K=64
    sample of md5(l_partkey) per ingest shard (l_orderkey mod 8) is
    persisted as plain (shard, key, hash) parquet; the merged sample is
    the bottom-K of the union of shard samples — provably equal to the
    bottom-K of the raw key space, because a hash in the global bottom-K
    is necessarily in its own shard's bottom-K. The query answers the
    K-th minimum, the sampled keys, and the KMV distinct-count estimate
    (K-1)/h_K from the stored shards alone.

    Why THIS sketch for 100 TB: state is ≤K (hash, key) pairs per shard
    forever; merge is a distinct-union + TakeOrdered over ≤ shards·K
    rows; and because the hash is a fixed public function (md5 hex, both
    engines byte-identical), every artifact — sample membership, K-th
    minimum, even the floating-point estimate (exact-constant multiply +
    one IEEE divide of the same 60-bit integer) — is deterministic and
    independently recomputable by any engine, which is what lets the
    DuckDB oracle state the estimate itself rather than a tolerance
    band. The sample doubles as a uniform distinct-key sample for
    downstream estimation (the KMV property), unlike HLL whose state
    answers only cardinality.

    Reference parity: extends the same persisted-snapshot machinery as
    the HLL/bitmap/DDSketch/Misra-Gries shards (the reference persists
    its durable state to the HBase-backed metatable —
    KijiFreshnessManager.java:235-239, mMetaTable.putValue); the
    mergeable-summary set now covers cardinality (HLL ~2%, bitmap exact,
    KMV sampled-exact), quantiles, and frequent items."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_partkey").isNotNull() & F.col("l_orderkey").isNotNull()
    )
    src = li.select(
        F.col("l_partkey").alias("key"),
        F.pmod(F.col("l_orderkey"), F.lit(8)).alias("shard"),
    )

    path = derived(sf_dir, "kmv_partkey_shards.parquet", sk.kmv_build(src).write.parquet)
    sample = sk.kmv_summary(sk.kmv_merge(spark.read.parquet(path)))

    totals = src.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count_distinct("shard").alias("n_shards"),
    )
    # exact reference side (the oracle's cost): one distinct over the key
    # space; the sketch path above never touches it after the state build
    exact = src.agg(F.count_distinct("key").alias("n_distinct_exact"))

    out = totals.crossJoin(F.broadcast(exact)).crossJoin(F.broadcast(sample))
    return out.select(
        "n_rows",
        "n_shards",
        "n_distinct_exact",
        "sample_size",
        "min_hash",
        "min_key",
        "kth_hash",
        "est_distinct",
    )


@query(
    "sketch_theta_set_ops",
    """
    -- Theta-sketch set operations over deterministic bottom-K samples:
    -- θ = min over populations of (K-th hash if the sample is full,
    -- else 1 = exact mode, spelled NULL); every sample entry below θ is
    -- a uniform sample of its population below θ, so |A∩B| and |A∪B|
    -- estimate as n_below/θ. md5 makes every artifact — samples, θ,
    -- below-θ counts, even the IEEE estimates (exact power-of-two
    -- multiply + one divide) — exactly stateable by both engines.
    WITH src AS (
      SELECT o_custkey AS key,
        CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS in_a,
        CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END AS in_b
      FROM orders WHERE o_custkey IS NOT NULL
    ),
    pops AS (
      SELECT key, MAX(in_a) AS in_a, MAX(in_b) AS in_b FROM src GROUP BY key
    ),
    hashed AS (
      SELECT key, in_a, in_b, md5(CAST(key AS VARCHAR)) AS h FROM pops
    ),
    sampa AS (
      SELECT key, h FROM (
        SELECT key, h, ROW_NUMBER() OVER (ORDER BY h) AS rn
        FROM hashed WHERE in_a = 1) t WHERE rn <= 64
    ),
    sampb AS (
      SELECT key, h FROM (
        SELECT key, h, ROW_NUMBER() OVER (ORDER BY h) AS rn
        FROM hashed WHERE in_b = 1) t WHERE rn <= 64
    ),
    stats AS (
      SELECT
        (SELECT COUNT(*) FROM hashed WHERE in_a = 1) AS n_a_exact,
        (SELECT COUNT(*) FROM hashed WHERE in_b = 1) AS n_b_exact,
        (SELECT COUNT(*) FROM hashed WHERE in_a = 1 AND in_b = 1)
          AS n_inter_exact,
        (SELECT COUNT(*) FROM hashed WHERE in_a = 1 OR in_b = 1)
          AS n_union_exact,
        (SELECT COUNT(*) FROM sampa) AS sample_a,
        (SELECT COUNT(*) FROM sampb) AS sample_b,
        (SELECT MAX(h) FROM sampa) AS kth_a,
        (SELECT MAX(h) FROM sampb) AS kth_b
    ),
    theta AS (
      SELECT *,
        CASE WHEN sample_a >= 64 AND sample_b >= 64 THEN least(kth_a, kth_b)
             WHEN sample_a >= 64 THEN kth_a
             WHEN sample_b >= 64 THEN kth_b
             ELSE NULL END AS theta_hex
      FROM stats
    ),
    interb AS (
      SELECT COUNT(*) AS n_inter_below
      FROM sampa a JOIN sampb b ON a.key = b.key
      CROSS JOIN theta t
      WHERE t.theta_hex IS NULL OR a.h < t.theta_hex
    ),
    unionb AS (
      SELECT COUNT(DISTINCT u.key) AS n_union_below
      FROM (SELECT key, h FROM sampa UNION ALL SELECT key, h FROM sampb) u
      CROSS JOIN theta t
      WHERE t.theta_hex IS NULL OR u.h < t.theta_hex
    )
    SELECT t.n_a_exact, t.n_b_exact, t.n_inter_exact, t.n_union_exact,
      t.sample_a, t.sample_b, t.theta_hex,
      i.n_inter_below, u.n_union_below,
      CASE WHEN t.theta_hex IS NULL THEN CAST(i.n_inter_below AS DOUBLE)
           ELSE CAST(i.n_inter_below AS DOUBLE) * 1152921504606846976.0
                / CAST(CAST(('0x' || substr(t.theta_hex, 1, 15)) AS BIGINT)
                       AS DOUBLE)
      END AS est_intersection,
      CASE WHEN t.theta_hex IS NULL THEN CAST(u.n_union_below AS DOUBLE)
           ELSE CAST(u.n_union_below AS DOUBLE) * 1152921504606846976.0
                / CAST(CAST(('0x' || substr(t.theta_hex, 1, 15)) AS BIGINT)
                       AS DOUBLE)
      END AS est_union
    FROM theta t, interb i, unionb u
    """,
    "sketch", "stats", "sample", "setops",
)
def sketch_theta_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch SET OPERATIONS (Datasketches' generalization of KMV):
    intersection and union cardinalities of two key populations —
    customers who placed a 1-URGENT order vs customers who placed a
    5-LOW one (~75% overlap) — estimated from their persisted bottom-K=64
    samples ALONE, never from a join of the raw populations. θ is the
    smaller K-th minimum of the two full samples (1 ≡ NULL exact mode
    when a population fits inside K); every sample hash below θ is a
    uniform sample of its population below θ, a key of A∩B below θ is
    necessarily in BOTH samples, so |A∩B| ≈ n_inter_below/θ and
    |A∪B| ≈ n_union_below/θ. Because the hash is the fixed public md5,
    both engines state every artifact exactly — samples, θ, below-θ
    counts, and the IEEE estimates (a power-of-two multiply, exponent
    arithmetic only, then one divide of the same 60-bit prefix) — the
    sketch_bottomk_sample_shards contract extended from one population
    to the set algebra.

    Why this matters at 100 TB: audience overlap, cross-corpus
    contamination, dedup-rate-between-snapshots — all "how big is the
    intersection" questions — answer in O(K) from per-corpus samples
    that were built independently, with no join (or even co-location)
    of the raw key spaces. The exact side here is the oracle's cost and
    the estimate's quality witness, not the serving path.

    Reference parity: extends the persisted-metatable pattern
    (KijiFreshnessManager.java:235-239, mMetaTable.putValue) like the
    rest of the mergeable-summary family; set-op estimation is the
    capability HBase-era kiji delegated to offline MapReduce joins."""
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_custkey").isNotNull()
    )
    src = o.select(
        F.col("o_custkey").alias("key"),
        F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0).alias("in_a"),
        F.when(F.col("o_orderpriority") == "5-LOW", 1).otherwise(0).alias("in_b"),
    )

    path = derived(
        sf_dir, "theta_custkey_samples.parquet", sk.theta_build(src).write.parquet
    )
    samples = spark.read.parquet(path)
    sampa = samples.filter(F.col("pop") == "a").select("key", "h")
    sampb = samples.filter(F.col("pop") == "b").select("key", "h")

    # exact reference side (the oracle's cost): one distinct pass over
    # the key space; the sketch path never touches it after state build
    pops = src.groupBy("key").agg(
        F.max("in_a").alias("in_a"), F.max("in_b").alias("in_b")
    )
    # COUNT-style semantics: SUM over zero rows is NULL in Spark but the
    # oracle's COUNT(*) is 0 — coalesce so the empty regime agrees
    exact = pops.agg(
        F.coalesce(F.sum("in_a"), F.lit(0)).cast("long").alias("n_a_exact"),
        F.coalesce(F.sum("in_b"), F.lit(0)).cast("long").alias("n_b_exact"),
        F.coalesce(
            F.sum(
                F.when(
                    (F.col("in_a") == 1) & (F.col("in_b") == 1), 1
                ).otherwise(0)
            ),
            F.lit(0),
        ).cast("long").alias("n_inter_exact"),
        F.coalesce(
            F.sum(
                F.when(
                    (F.col("in_a") == 1) | (F.col("in_b") == 1), 1
                ).otherwise(0)
            ),
            F.lit(0),
        ).cast("long").alias("n_union_exact"),
    )

    theta = sk.theta_stats(sampa, sampb)
    interb = sk.theta_below(
        sampa.join(F.broadcast(sampb.select("key")), "key"), theta
    ).agg(F.count(F.lit(1)).alias("n_inter_below"))
    unionb = sk.theta_below(sampa.unionByName(sampb), theta).agg(
        F.count_distinct("key").alias("n_union_below")
    )

    out = (
        exact.crossJoin(F.broadcast(theta))
        .crossJoin(F.broadcast(interb))
        .crossJoin(F.broadcast(unionb))
    )
    return out.select(
        "n_a_exact",
        "n_b_exact",
        "n_inter_exact",
        "n_union_exact",
        "sample_a",
        "sample_b",
        "theta_hex",
        "n_inter_below",
        "n_union_below",
        sk.theta_estimate("n_inter_below").alias("est_intersection"),
        sk.theta_estimate("n_union_below").alias("est_union"),
    )


@query(
    "table_diff_checksum_buckets",
    """
    WITH base AS (
      SELECT o_orderkey,
        CAST(ROUND(o_totalprice * 100) AS BIGINT) AS total_c
      FROM orders
    ),
    newt AS (
      SELECT o_orderkey,
        total_c + CASE WHEN o_orderkey % 97 = 0 THEN 100 ELSE 0 END AS total_c
      FROM base WHERE o_orderkey % 89 <> 0
    )
    SELECT b.o_orderkey,
      CASE WHEN n.o_orderkey IS NULL THEN 'D' ELSE 'U' END AS change,
      b.total_c AS old_cents,
      n.total_c AS new_cents
    FROM base b LEFT JOIN newt n ON b.o_orderkey = n.o_orderkey
    WHERE n.o_orderkey IS NULL OR n.total_c <> b.total_c
    ORDER BY b.o_orderkey
    """,
    "warehouse", "diff",
)
def table_diff_checksum_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-entropy table diff: reconcile two versions of a table
    WITHOUT a full row-level comparison. Protocol (the replicated-table
    repair shape): (1) each side computes one (count, 48-bit-md5-sum)
    checksum per key bucket — map-side, order-independent, one tiny
    shuffle on 256 bucket ids; (2) buckets whose checksums agree are
    PROVEN identical and never row-compared; (3) only the disagreeing
    buckets are row-diffed, via a broadcast semi-join on the (<=256-row)
    changed-bucket set — so the expensive full-outer key join touches
    |changed buckets| of data, not the table. At 100 TB with localized
    drift this is the difference between rescanning everything and
    reading a few partitions.

    The "new" version is derived deterministically (keys % 89 deleted,
    keys % 97 price-bumped one dollar); the oracle diffs the two
    versions directly with a plain join — matching hashes prove the
    checksum shortcut loses nothing. Money is compared in integer cents
    (the checksum canon serializes cents too, same portability rule as
    table_checksum_by_nation).
    """
    o = load_table(spark, sf_dir, "orders")
    base = o.select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("total_c"),
    )
    newt = base.filter(F.col("o_orderkey") % 89 != 0).select(
        "o_orderkey",
        (
            F.col("total_c")
            + F.when(F.col("o_orderkey") % 97 == 0, F.lit(100)).otherwise(F.lit(0))
        ).alias("total_c"),
    )

    d = checksum_diff(base, newt, key="o_orderkey", canon_cols=["total_c"])
    return d.select(
        "o_orderkey",
        "change",
        F.col("old_total_c").alias("old_cents"),
        F.col("new_total_c").alias("new_cents"),
    ).orderBy("o_orderkey")


@query(
    "snapshot_time_travel_orders",
    """
    SELECT 1 AS version, COUNT(*) AS n_rows,
      CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders WHERE o_orderkey % 10 < 8
    UNION ALL
    SELECT 2 AS version, COUNT(*) AS n_rows,
      CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders
    ORDER BY version
    """,
    "sink", "snapshot", "incremental",
)
def snapshot_time_travel_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Versioned-table time travel: 80% of orders are committed as
    snapshot v1, the remaining 20% APPENDED as v2, and the query reads
    BOTH versions — v1 through the older manifest, proving an append
    never disturbs published history (the table-level analog of the
    reference's versioned cells: a new cell write at a newer timestamp
    leaves time-range reads of older versions intact, §1.1).

    Mechanics under test (operators/snapshots.py): append composes the
    parent's immutable file-set with one new data dir — no rewrite of
    existing data; the manifest rename publishes atomically; readers
    scan the closed file-set named by the manifest, never a directory
    listing, so concurrent half-written commits are invisible. The
    oracle recomputes both versions from the raw table via the same
    deterministic 80/20 key split.
    """
    from .operators.snapshots import commit_snapshot, read_snapshot

    o = load_table(spark, sf_dir, "orders")

    def build(path: str) -> None:
        commit_snapshot(o.filter(F.col("o_orderkey") % 10 < 8), path, mode="overwrite")
        commit_snapshot(o.filter(F.col("o_orderkey") % 10 >= 8), path, mode="append")

    path = derived(sf_dir, "orders_snapshots", build, versions=2)

    def stats(version: int) -> DataFrame:
        return read_snapshot(spark, path, version).agg(
            F.lit(version).alias("version"),
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("total"),
        )

    return stats(1).unionByName(stats(2)).orderBy("version")


@query(
    "snapshot_compaction_roundtrip",
    """
    SELECT l_returnflag, COUNT(*) AS n_rows,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    "sink", "snapshot",
)
def snapshot_compaction_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction as a snapshot commit: a lineitem slice is
    committed as v1 deliberately fragmented (16 files — the shape every
    incremental/streaming writer produces over time), then compacted
    into 2 files as v2 WITHOUT blocking readers of v1; the query reads
    the compacted latest version and must aggregate to exactly what the
    oracle computes from the raw table — compaction is a physical-layout
    change with zero logical effect. File counts and v1 immutability
    are pinned by tests/test_snapshots.py; at 100 TB this maintenance
    pass is what keeps scan-side file-open/footer costs bounded."""
    from .operators.snapshots import commit_snapshot, compact_snapshot, read_snapshot

    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") >= F.lit("1998-01-01 00:00:00").cast("timestamp_ntz")
    )

    def build(path: str) -> None:
        commit_snapshot(
            li.select("l_returnflag", "l_extendedprice").repartition(16),
            path,
            mode="overwrite",
        )
        compact_snapshot(spark, path, target_files=2)

    path = derived(sf_dir, "lineitem_snapshots", build, versions=2)
    back = read_snapshot(spark, path)  # latest = compacted v2
    return (
        back.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_price"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "snapshot_cdc_upsert_history",
    """
    WITH ch AS (
      SELECT user_id, event_id AS seq,
        event_type = 'error' AS is_del, value
      FROM events
    ),
    v1 AS (
      SELECT user_id, value, seq AS last_seq FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY seq DESC) AS rn
        FROM ch WHERE seq % 3 <> 0
      ) t WHERE rn = 1 AND NOT is_del
    ),
    v2 AS (
      SELECT user_id, value, seq AS last_seq FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY seq DESC) AS rn
        FROM ch
      ) t WHERE rn = 1 AND NOT is_del
    )
    SELECT COALESCE(a.user_id, b.user_id) AS user_id,
      CASE WHEN b.user_id IS NULL THEN 'D'
           WHEN a.user_id IS NULL THEN 'I'
           ELSE 'U' END AS change,
      a.value AS old_value, b.value AS new_value,
      a.last_seq AS old_seq, b.last_seq AS new_seq
    FROM v1 a FULL JOIN v2 b ON a.user_id = b.user_id
    WHERE a.user_id IS NULL OR b.user_id IS NULL
       OR a.value <> b.value OR a.last_seq <> b.last_seq
    ORDER BY user_id
    """,
    "cdc", "snapshot", "diff", "incremental",
)
def snapshot_cdc_upsert_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The incremental-state machinery composed end-to-end, the way a
    continuously-scored 100 TB table actually runs: (1) changelog batch
    1 (event ids with seq % 3 != 0) is collapsed into state v1 WITH
    TOMBSTONES KEPT and committed as snapshot version 1; (2) batch 2 is
    folded INCREMENTALLY into v1's persisted state — the raw batch-1
    changelog is never re-read — and committed as version 2; (3) the
    two published versions are compared with the checksum-bucketed diff
    to report exactly what batch 2 changed (inserts, updates, deletes
    all occur).

    Tombstones are the correctness crux of step 2: a persisted state
    that dropped batch-1 deletes would let a LOWER-seq batch-2 upsert
    resurrect a deleted key. With them, fold(fold(b1), b2) ==
    fold(b1 ∪ b2) (winner-of-winners under the total seq order), which
    is why the oracle can state v2 as one-shot window SQL over the full
    changelog while the engine computes it incrementally.

    Diff semantics: the CURRENT VIEWS (tombstones filtered) are
    compared on (value, last_seq), so a same-value re-upsert at a newer
    seq still reports as 'U' — lineage-faithful, matching the oracle's
    predicate exactly.
    """
    from .operators.snapshots import commit_snapshot, read_snapshot

    ev = load_table(spark, sf_dir, "events")
    ch = ev.select(
        "user_id",
        F.col("event_id").alias("seq"),
        (F.col("event_type") == "error").alias("is_del"),
        "value",
    )

    def fold(changes: DataFrame) -> DataFrame:
        return apply_changes(
            changes,
            keys=["user_id"],
            seq="seq",
            is_delete=F.col("is_del"),
            payload=["value"],
            keep_tombstones=True,
        ).select("user_id", F.col("last_seq").alias("seq"), "is_deleted", "value")

    def build(path: str) -> None:
        commit_snapshot(fold(ch.filter(F.col("seq") % 3 != 0)), path, mode="overwrite")
        # incremental fold: persisted v1 state re-enters as a changelog
        # alongside batch 2 — batch 1's raw changelog is never re-read
        prior = read_snapshot(spark, path, 1).select(
            "user_id",
            "seq",
            F.col("is_deleted").alias("is_del"),
            "value",
        )
        commit_snapshot(
            fold(prior.unionByName(ch.filter(F.col("seq") % 3 == 0))),
            path,
            mode="overwrite",
        )

    path = derived(sf_dir, "cdc_state_snapshots", build, versions=2)

    def view(version: int) -> DataFrame:
        return (
            read_snapshot(spark, path, version)
            .filter(~F.col("is_deleted"))
            .select("user_id", "value", F.col("seq").alias("last_seq"))
        )

    d = checksum_diff(
        view(1), view(2), key="user_id", canon_cols=["value", "last_seq"]
    )
    return d.select(
        "user_id",
        "change",
        "old_value",
        "new_value",
        F.col("old_last_seq").alias("old_seq"),
        F.col("new_last_seq").alias("new_seq"),
    ).orderBy("user_id")


@query(
    "bitmap_rolling_distinct_users",
    """
    WITH days AS (
      SELECT DISTINCT date_trunc('day', ts) AS day FROM events
    )
    SELECT d.day, COUNT(DISTINCT e.user_id) AS n_users_7d
    FROM days d JOIN events e
      ON date_trunc('day', e.ts)
         BETWEEN d.day - INTERVAL 6 DAY AND d.day
    GROUP BY d.day
    ORDER BY d.day
    """,
    "sketch", "window", "timeseries",
)
def bitmap_rolling_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day distinct active users per day — the DAU/WAU
    metric that is genuinely hard at scale because per-day distinct
    counts DO NOT merge (users overlap across days). The mergeable-
    bitmap solution: one exact bitmap per (day, id-bucket) built
    map-side, then a RANGE-framed `bitmap_or_agg` window ORs each
    bucket's trailing 7 calendar days (RANGE over a day number, so
    gaps in a bucket's days are handled by the frame, not by row
    position), `bitmap_count` the union, and sum the disjoint buckets
    per day.

    Work is O(days x buckets) bitmap ORs on fixed-size state — never a
    re-scan of raw events per window — where the oracle's formulation
    (and any exact non-sketch plan) re-joins each day against a 7-day
    window of RAW events: at 100 TB that is 7x read amplification vs
    one pass here. The per-bucket day spine is densified against the
    global observed-day spine first, so a bucket quiet TODAY still
    contributes its users from the trailing window (the subtle
    undercount a naive ROWS frame over present-days-only would hit).
    """
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.select(
            F.date_trunc("day", F.col("ts")).alias("day"),
            F.bitmap_bucket_number("user_id").alias("bkt"),
            F.bitmap_bit_position("user_id").alias("pos"),
        )
        .groupBy("day", "bkt")
        .agg(F.bitmap_construct_agg("pos").alias("bm"))
    )
    spine = ev.select(F.date_trunc("day", F.col("ts")).alias("day")).distinct()
    buckets = daily.select("bkt").distinct()
    grid = spine.crossJoin(F.broadcast(buckets))
    dense = grid.join(daily, ["day", "bkt"], "left").withColumn(
        "day_num", F.datediff(F.col("day"), F.lit("2020-01-01").cast("date"))
    )

    from pyspark.sql import Window

    w = (
        Window.partitionBy("bkt")
        .orderBy("day_num")
        .rangeBetween(-6, Window.currentRow)
    )
    rolled = dense.withColumn("bm7", F.bitmap_or_agg("bm").over(w))
    return (
        rolled.groupBy("day")
        .agg(F.sum(F.bitmap_count("bm7")).alias("n_users_7d"))
        .orderBy("day")
    )


@query(
    "snapshot_schema_evolution",
    """
    SELECT CASE WHEN o_orderkey % 10 < 8 THEN 'NONE'
                ELSE o_orderpriority END AS pri,
      COUNT(*) AS n_rows,
      CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders
    GROUP BY pri
    ORDER BY pri
    """,
    "sink", "snapshot", "schema",
)
def snapshot_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive schema evolution across snapshot commits: v1 lands 80%
    of orders WITHOUT the priority column; a later append commits the
    remaining 20% WITH it. Reading the latest version merges the two
    file schemas (union of columns), and pre-evolution rows surface
    NULL for the new column — history is never rewritten, exactly the
    Delta/Iceberg additive contract. The aggregate folds the NULL group
    to 'NONE' so the oracle can state the same split from the raw
    table.

    Scale note: schema merge is a footer-only operation at planning
    time (no data read); the per-file projection adapts at scan, so old
    files pay nothing for columns they predate. Additive-only is the
    safe subset plain parquet honors — renames/drops need a real table
    format's column-id mapping, which operators/snapshots.py documents
    as out of scope."""
    from .operators.snapshots import commit_snapshot, read_snapshot

    o = load_table(spark, sf_dir, "orders")

    def build(path: str) -> None:
        commit_snapshot(
            o.filter(F.col("o_orderkey") % 10 < 8).select("o_orderkey", "o_totalprice"),
            path,
            mode="overwrite",
        )
        commit_snapshot(
            o.filter(F.col("o_orderkey") % 10 >= 8).select(
                "o_orderkey", "o_totalprice", "o_orderpriority"
            ),
            path,
            mode="append",
        )

    back = read_snapshot(
        spark, derived(sf_dir, "orders_evolving_snapshots", build, versions=2)
    )
    return (
        back.groupBy(F.coalesce(F.col("o_orderpriority"), F.lit("NONE")).alias("pri"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("total"),
        )
        .orderBy("pri")
    )


@query(
    "graph_pagerank_fixed_point",
    """
    WITH qual AS (
      SELECT l_orderkey, l_partkey FROM lineitem WHERE l_quantity >= 40
    ),
    ce AS (
      SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      FROM qual a JOIN qual b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
    ),
    nodes AS (SELECT DISTINCT src AS node FROM ce),
    n AS (SELECT COUNT(*) AS n FROM nodes),
    deg AS (SELECT src AS node, COUNT(*) AS d FROM ce GROUP BY src),
    r0 AS (
      SELECT node, CAST(1000000000 // n.n AS BIGINT) AS r FROM nodes, n
    ),
    r1 AS (
      SELECT ce.dst AS node,
        CAST((15::BIGINT * 1000000000) // (100 * n.n)
             + SUM((85 * r0.r) // (100 * deg.d)) AS BIGINT) AS r
      FROM ce JOIN r0 ON r0.node = ce.src
              JOIN deg ON deg.node = ce.src, n
      GROUP BY ce.dst, n.n
    ),
    r2 AS (
      SELECT ce.dst AS node,
        CAST((15::BIGINT * 1000000000) // (100 * n.n)
             + SUM((85 * r1.r) // (100 * deg.d)) AS BIGINT) AS r
      FROM ce JOIN r1 ON r1.node = ce.src
              JOIN deg ON deg.node = ce.src, n
      GROUP BY ce.dst, n.n
    ),
    r_last AS (
      SELECT ce.dst AS node,
        CAST((15::BIGINT * 1000000000) // (100 * n.n)
             + SUM((85 * r2.r) // (100 * deg.d)) AS BIGINT) AS r
      FROM ce JOIN r2 ON r2.node = ce.src
              JOIN deg ON deg.node = ce.src, n
      GROUP BY ce.dst, n.n
    )
    SELECT node, r AS rank_fp FROM r_last
    ORDER BY rank_fp DESC, node
    LIMIT 20
    """,
    "graph", "iterative",
)
def graph_pagerank_fixed_point(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank, EXACT and oracle-checked — normally an iterative
    float algorithm is rows-only (partial-sum order perturbs doubles),
    but defining the iteration in FIXED-POINT INTEGER arithmetic makes
    it bit-reproducible on any engine and any partitioning: ranks live
    in 1e-9 units (BIGINT), each contribution is (85 * r) // (100 * d)
    with integer division, and integer addition is order-independent —
    so three Spark iterations must match three chained SQL CTE
    iterations exactly, and they do. (Truncating division IS the spec
    here, not an approximation of float PageRank; both engines
    implement the same spec. Overflow headroom: contributions sum to
    <= N * 1e9 ~ 2e12, far inside BIGINT.)

    Spark shape: the co-purchase edge list (both directions, so no
    dangling mass) is lazily localCheckpoint-ed and reused across
    iterations; each iteration is one join + one groupBy(dst) shuffle
    on the SAME key, and `localCheckpoint` cuts lineage so iteration
    k+1 plans against materialized ranks. Isolated vertices never
    appear (every node has degree >= 1 by construction), matching the
    oracle's in-edge-driven recurrence row-for-row."""
    li = load_table(spark, sf_dir, "lineitem")
    qual = li.filter(F.col("l_quantity") >= 40).select("l_orderkey", "l_partkey")
    baskets = qual.groupBy("l_orderkey").agg(F.collect_set("l_partkey").alias("pks"))
    ce = (
        baskets.select(F.explode("pks").alias("src"), "pks")
        .select("src", F.explode("pks").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    # deg and the one-row n are referenced by EVERY iteration's plan;
    # lazy localCheckpoint executes each once instead of re-shuffling
    # the degree aggregation per iteration
    deg = ce.groupBy("src").agg(F.count(F.lit(1)).alias("d")).localCheckpoint(
        eager=False
    )
    nodes = ce.select(F.col("src").alias("node")).distinct()
    n = nodes.agg(F.count(F.lit(1)).alias("n")).localCheckpoint(eager=False)

    SCALE = 1_000_000_000
    ranks = nodes.crossJoin(n).select(
        "node", F.expr(f"{SCALE} div n").cast("long").alias("r")
    )
    for _ in range(3):
        contrib = (
            ce.join(ranks.withColumnRenamed("node", "src"), "src")
            .join(deg, "src")
            .select("dst", F.expr("(85 * r) div (100 * d)").alias("c"))
        )
        ranks = (
            contrib.groupBy("dst")
            .agg(F.sum("c").alias("s"))
            .crossJoin(n)
            .select(
                F.col("dst").alias("node"),
                (F.expr(f"(15L * {SCALE}L) div (100L * n)") + F.col("s"))
                .cast("long")
                .alias("r"),
            )
            .localCheckpoint()
        )
    return (
        ranks.select("node", F.col("r").alias("rank_fp"))
        .orderBy(F.desc("rank_fp"), "node")
        .limit(20)
    )


@query(
    "snapshot_partitioned_prune",
    """
    SELECT CAST(EXTRACT(MONTH FROM ts) AS INTEGER) AS mth,
      COUNT(*) AS n_events,
      CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events
    WHERE event_type = 'purchase'
    GROUP BY mth
    ORDER BY mth
    """,
    "sink", "snapshot", "dpp",
)
def snapshot_partitioned_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition pruning THROUGH the snapshot format: both commits (an
    80/20 split of events) are laid out hive-partitioned by event_type,
    so a reader filtering one type scans only that type's directories
    in BOTH data dirs composing the version — at 100 TB the difference
    between reading one partition lineage and the whole table. The
    pruning is gated mechanically in tests/test_snapshots.py (the
    executed plan's scan must carry the partition filter and read only
    purchase partitions); the oracle recomputes from the raw table,
    proving the partitioned write→append→filtered-read cycle loses
    nothing."""
    from .operators.snapshots import commit_snapshot, read_snapshot

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )

    def build(path: str) -> None:
        commit_snapshot(
            ev.filter(F.col("event_id") % 10 < 8),
            path,
            mode="overwrite",
            partition_by=["event_type"],
        )
        commit_snapshot(
            ev.filter(F.col("event_id") % 10 >= 8),
            path,
            mode="append",
            partition_by=["event_type"],
        )

    path = derived(sf_dir, "events_parted_snapshots", build, versions=2)
    back = read_snapshot(spark, path).filter(F.col("event_type") == "purchase")
    return (
        back.groupBy(F.month("ts").alias("mth"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_value"),
        )
        .orderBy("mth")
    )
