"""Product quantization (PQ) and its inverted-file composition (IVF-PQ),
defined once.

Every embedding index in the engine is built from the pieces here: the
quantized corpus, the codebook, the coarse-cell seeds, the encode, the
persisted codes tables, the probe, the ADC rank with its exact join-back,
and the drift distance the ``EmbeddingDrift`` freshness policy measures
against stored codes. The batch index builds and the streaming ingest call
the same ``encode``, so an index folded batch by batch equals the one-shot
index row for row.

Every stage is integer-exact: vectors quantize to q = round(x * 100)
BIGINT, and every distance is a BIGINT sum of squared differences. The
codebook and the seeds are chosen by deterministic rules, not trained, so
a SQL oracle can state every value bit for bit.

Wide expressions (a 64-term distance, a 64-column projection) are built
as one parsed SQL string: F.expr and selectExpr cost one py4j call, while
the equivalent Column tree costs one per node, about a second of driver
time for the drift sum. Both give the same analyzed plan.

A leaf module: it imports only pyspark and ``state``, so query modules can
use its constants and DuckDB oracle fragments while their ``@query``
decorators run, whatever order the package imports them in.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..state import derived

#: embedding width of the corpus (64 at every scale of the test data)
EMBED_DIM = 64
#: PQ subspaces, and dims per subspace
SUB = 8
SUBDIM = EMBED_DIM // SUB

#: IVF coarse cells: the 32 corpus vectors with the SMALLEST md5(vec_id).
#: A fixed count keeps the inverted lists O(N / 32) rows and the layout at
#: 32 hive dirs at any corpus size. md5 order spreads the seeds uniformly
#: over the id space: the replicated scale tiers remap vec_id to
#: base * 1000 + copy, so a "lowest ids" rule would pick copies of one or
#: two base embeddings and one cell would swallow half the corpus.
NCELLS = 32

#: a persisted IVF-PQ codes table: one code per subspace, plus the cell
#: (the hive partition column, read back as LONG through this schema)
CODES_SCHEMA = (
    "vec_id long, " + ", ".join(f"c{s} long" for s in range(SUB)) + ", cell long"
)
_PQ_CODES_SCHEMA = "vec_id long, " + ", ".join(f"c{s} long" for s in range(SUB))

# ---------------------------------------------------------------------------
# DuckDB oracle fragments: the same algorithm as the Spark builders below,
# stated in SQL. All arithmetic is BIGINT, so both engines agree at any
# magnitude. An oracle composes ``with_sql`` and adds its own tail.
# ---------------------------------------------------------------------------

#: squared distance between two quantized lists ``{l}`` and ``{r}``
FULLDIST_SQL = (
    "CAST(list_sum(list_transform(range(1, 65), i -> "
    "({l}[i] - {r}[i]) * ({l}[i] - {r}[i]))) AS BIGINT)"
)


def subdist_sql(left: str, right: str) -> str:
    """Squared distance over subspace ``sub.ss`` (elements ss*8+1 ..
    ss*8+8) of two quantized lists."""
    return (
        "CAST(list_sum(list_transform(range(1, 9), i -> "
        f"({left}[sub.ss*8 + i] - {right}[sub.ss*8 + i]) * "
        f"({left}[sub.ss*8 + i] - {right}[sub.ss*8 + i]))) AS BIGINT)"
    )


#: the oracle CTE bodies, one per stage of the Spark build: ``src`` is
#: ``corpus`` (q = round(x * 100) of each ``embedding``), ``cb``
#: ``codebook``, ``seeds`` ``cell_seeds``, ``probe`` ``probe_row``,
#: ``sub`` the subspace ids, ``asg`` the IVF cell of every vector,
#: ``pcells`` the probe's 2 routed cells, ``codes`` the PQ encode (one
#: row per vector and subspace), ``lut`` the probe's per-subspace partial
#: distances. ``adc`` (built in ``with_sql``) is ``rank`` before its
#: top-10.
_CTE_SQL = {
    "src": """
      SELECT vec_id, list_transform(range(1, 65), i ->
        CAST(ROUND(CAST(embedding[i] AS DOUBLE) * 100) AS BIGINT)) AS q
      FROM embeddings
      WHERE vec_id IS NOT NULL AND embedding IS NOT NULL
        AND len(embedding) = 64
    """,
    "cb": """
      SELECT vec_id AS cb_id, q FROM src
      WHERE vec_id % 31 = 0 AND vec_id < 496
    """,
    "seeds": f"""
      SELECT vec_id AS seed_id, q AS sq FROM (
        SELECT vec_id, q FROM src
        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {NCELLS}
      )
    """,
    "probe": """
      SELECT vec_id AS probe_id, q AS pq FROM src
      WHERE NOT (vec_id % 31 = 0 AND vec_id < 496)
      ORDER BY vec_id LIMIT 1
    """,
    "sub": "SELECT unnest(range(0, 8)) AS ss",
    "asg": f"""
      SELECT vec_id, cell FROM (
        SELECT s.vec_id, d.seed_id AS cell,
          ROW_NUMBER() OVER (PARTITION BY s.vec_id
            ORDER BY {FULLDIST_SQL.format(l="s.q", r="d.sq")}, d.seed_id
          ) AS rn
        FROM src s CROSS JOIN seeds d
      ) t WHERE rn = 1
    """,
    "pcells": f"""
      SELECT cell FROM (
        SELECT d.seed_id AS cell,
          ROW_NUMBER() OVER (
            ORDER BY {FULLDIST_SQL.format(l="p.pq", r="d.sq")}, d.seed_id
          ) AS rn
        FROM seeds d CROSS JOIN probe p
      ) t WHERE rn <= 2
    """,
    "codes": f"""
      SELECT vec_id, ss, cb_id FROM (
        SELECT s.vec_id, sub.ss, c.cb_id,
          ROW_NUMBER() OVER (PARTITION BY s.vec_id, sub.ss
            ORDER BY {subdist_sql("s.q", "c.q")}, c.cb_id) AS rn
        FROM src s CROSS JOIN cb c CROSS JOIN sub
      ) t WHERE rn = 1
    """,
    "lut": f"""
      SELECT c.cb_id, sub.ss,
        {subdist_sql("c.q", "p.pq")} AS pd
      FROM cb c CROSS JOIN probe p CROSS JOIN sub
    """,
}

#: every CTE the cell-routed (``ivf``) ``adc`` reads, in dependency order
IVFPQ_CTES = (
    "src", "cb", "seeds", "probe", "sub", "asg", "pcells", "codes", "lut", "adc"
)


def with_sql(*ctes: str, ivf: bool = False) -> str:
    """The ``WITH`` clause defining the named oracle CTEs, in the order
    given; a caller appends its own CTEs after a comma.

    ``adc`` is (neighbor_id, adc_dist): every vector but the probe with
    its ADC distance, the sum of its codes' ``lut`` entries. With ``ivf``
    it is the IVF-PQ form: it ranges only over the vectors whose ``asg``
    cell is in ``pcells``, and carries that ``cell``."""
    cell = ", a.cell" if ivf else ""
    route = (
        "JOIN asg a ON a.vec_id = codes.vec_id\n"
        "      JOIN pcells pc ON pc.cell = a.cell\n      "
        if ivf
        else ""
    )
    adc = f"""
      SELECT codes.vec_id AS neighbor_id{cell},
        CAST(SUM(lut.pd) AS BIGINT) AS adc_dist
      FROM codes
      {route}JOIN lut ON codes.ss = lut.ss AND codes.cb_id = lut.cb_id
      CROSS JOIN probe
      WHERE codes.vec_id <> probe.probe_id
      GROUP BY codes.vec_id{cell}
    """
    bodies = {**_CTE_SQL, "adc": adc}
    return "WITH " + ",\n    ".join(f"{name} AS ({bodies[name]})" for name in ctes)


#: the exact join-back, ``attach_exact``: a ranked winner ``t`` (with its
#: ``neighbor_id``) bound to its corpus row ``s`` and to the probe ``p``
JOIN_BACK_SQL = "JOIN src s ON s.vec_id = t.neighbor_id CROSS JOIN probe p"

#: the winner's exact quantized distance to the probe, over JOIN_BACK_SQL
EXACT_DIST_SQL = FULLDIST_SQL.format(l="s.q", r="p.pq") + " AS exact_dist"


# ---------------------------------------------------------------------------
# Expressions
# ---------------------------------------------------------------------------


def sqdist(left: str, right: str, lo: int = 0, hi: int = EMBED_DIM) -> Column:
    """Exact BIGINT Σ (left_i - right_i)² for i in [lo, hi). ``left`` and
    ``right`` are column-name templates such as ``"q{}"`` that expand to
    plain identifiers."""
    return F.expr(
        " + ".join(
            f"({left.format(i)} - {right.format(i)})"
            f" * ({left.format(i)} - {right.format(i)})"
            for i in range(lo, hi)
        )
    )


def _subdist(left: str, right: str, ss: int) -> Column:
    """``sqdist`` over the columns of PQ subspace ``ss``."""
    return sqdist(left, right, ss * SUBDIM, (ss + 1) * SUBDIM)


def vector(prefix: str, width: int = EMBED_DIM) -> Column:
    """array(<prefix>0, ..., <prefix><width-1>): packs unpacked columns
    back into one array column."""
    return F.expr("array(" + ",".join(f"{prefix}{i}" for i in range(width)) + ")")


def _quote(name: str) -> str:
    """``name`` as a Spark SQL identifier. Backticks make hyphens, spaces,
    dots and reserved words parse as part of the name; a backtick inside
    the name is doubled."""
    return "`" + name.replace("`", "``") + "`"


def drift(emb: str, codes: str, cbm: str, versioned: bool = False) -> Column:
    """Exact PQ reconstruction distance between a current quantized
    embedding and the codes it was encoded to: for each subspace, the
    squared distance between the embedding's subvector and the codebook
    entry the stored code names, summed over all 64 dims.

    The arguments are column names, quoted here: ``emb`` an
    array<long>(64), ``codes`` an array<long>(8) of code ids, ``cbm`` a
    map<long, array<long>(64)> from code id to that entry's quantized
    vector (see ``codebook_lut``). With ``versioned``, ``codes`` is a
    versioned cell (``model`` encoding) and its newest value is read.

    NULL anywhere (no codes, an unknown code id) gives NULL; the caller
    picks the null policy. The sum is 64 static terms, not a lambda, so
    nothing is interpreted per element and Catalyst can share the 8 map
    lookups."""
    e, c, m = _quote(emb), _quote(codes), _quote(cbm)
    if versioned:
        c = f"try_element_at({c}, 1).value"
    terms = []
    for s in range(SUB):
        cq = f"try_element_at({m}, try_element_at({c}, {s + 1}))"
        for i in range(s * SUBDIM + 1, (s + 1) * SUBDIM + 1):
            d = f"(try_element_at({e}, {i}) - try_element_at({cq}, {i}))"
            terms.append(f"{d} * {d}")
    return F.expr(" + ".join(terms))


# ---------------------------------------------------------------------------
# Index build
# ---------------------------------------------------------------------------


def corpus(embeddings: DataFrame) -> DataFrame:
    """(vec_id, q0..q63): the rows of an embeddings table with an id and a
    full-width vector, quantized to q = round(x * 100) BIGINT."""
    return embeddings.filter(
        F.col("vec_id").isNotNull()
        & F.col("embedding").isNotNull()
        & (F.size("embedding") == EMBED_DIM)
    ).selectExpr(
        "vec_id",
        *[
            f"CAST(ROUND(CAST(embedding[{i}] AS DOUBLE) * 100) AS BIGINT)"
            f" AS q{i}"
            for i in range(EMBED_DIM)
        ],
    )


def _is_codebook() -> Column:
    # a function, not a module constant: Column construction needs an
    # active SparkContext, which import time does not guarantee
    return (F.col("vec_id") % 31 == 0) & (F.col("vec_id") < 496)


def codebook(q: DataFrame) -> DataFrame:
    """(cb_id, cq0..cq63): the 16-entry codebook, the corpus vectors with
    vec_id % 31 = 0 below 496 — chosen by rule, not trained, so the
    oracle can state it."""
    return q.filter(_is_codebook()).selectExpr(
        "vec_id AS cb_id", *[f"q{i} AS cq{i}" for i in range(EMBED_DIM)]
    )


def cell_seeds(q: DataFrame) -> DataFrame:
    """(seed_id, sq0..sq63): the <= NCELLS coarse-cell seeds, picked by a
    TakeOrdered on md5(vec_id), never a global sort."""
    return (
        q.withColumn("sh", F.md5(F.col("vec_id").cast("string")))
        .orderBy("sh", "vec_id")
        .limit(NCELLS)
        .selectExpr("vec_id AS seed_id", *[f"q{i} AS sq{i}" for i in range(EMBED_DIM)])
    )


def _code_args(rid: str, ref: str, only=lambda e: e) -> list[Column]:
    """Per-subspace arg-min of the squared distance to reference rows
    ``ref``0.. (ties to the smaller ``rid``), aliased c0..c7."""
    return [
        F.min_by(
            rid, F.struct(only(_subdist("q{}", ref, s)), only(F.col(rid)))
        ).alias(f"c{s}")
        for s in range(SUB)
    ]


def encode(q: DataFrame, cb: DataFrame, seeds: DataFrame | None = None) -> DataFrame:
    """(vec_id, c0..c7): per-subspace arg-min codes against the codebook,
    one broadcast crossJoin and one map-side-partial aggregation. With
    ``seeds`` it is the IVF-PQ encode and adds ``cell``, the full-vector
    arg-min against the seeds.

    The IVF-PQ form does both arg-mins in the same pass: codebook and
    seed rows ride one <= 48-row broadcast, tagged, and each arg-min's
    key sends the other tag's rows to +inf, so a codebook row never wins
    the cell and a seed row never wins a code. That saves the second
    shuffle and join a two-pass encode pays on every micro-batch."""
    if seeds is None:
        return (
            q.crossJoin(F.broadcast(cb))
            .groupBy("vec_id")
            .agg(*_code_args("cb_id", "cq{}"))
        )
    big = F.lit(1 << 62).cast("long")
    both = cb.selectExpr(
        "TRUE AS is_cb", "cb_id AS rid", *[f"cq{i} AS r{i}" for i in range(EMBED_DIM)]
    ).unionByName(
        seeds.selectExpr(
            "FALSE AS is_cb",
            "seed_id AS rid",
            *[f"sq{i} AS r{i}" for i in range(EMBED_DIM)],
        )
    )

    def only(tag_is_cb: bool):
        cond = F.col("is_cb") if tag_is_cb else ~F.col("is_cb")
        return lambda e: F.when(cond, e).otherwise(big)

    not_cb = only(False)
    return (
        q.crossJoin(F.broadcast(both))
        .groupBy("vec_id")
        .agg(
            *_code_args("rid", "r{}", only(True)),
            F.min_by(
                "rid", F.struct(not_cb(sqdist("q{}", "r{}")), not_cb(F.col("rid")))
            ).alias("cell"),
        )
    )


def codes_table(
    spark: SparkSession,
    sf_dir: str,
    q: DataFrame,
    cb: DataFrame,
    seeds: DataFrame | None = None,
) -> DataFrame:
    """The persisted codes table of the dataset at ``sf_dir``, encoded on
    first use. Encode is deterministic, so every caller sees the same
    table whichever built it. Without ``seeds`` it is the PQ table
    ``pq_codes_embeddings.parquet``; with them, the IVF-PQ table
    ``ivfpq_codes_embeddings.parquet``, PARTITIONED BY cell so the
    inverted lists are hive partitions and a probe's routing join can
    prune to the cells it reads.

    The explicit read schema keeps the partition column LONG (not the
    INT inferred from path strings), and reads an empty corpus's table,
    a partitioned dir with no data files, as an empty scan."""
    ivf = seeds is not None
    name = "ivfpq_codes_embeddings.parquet" if ivf else "pq_codes_embeddings.parquet"

    def build(path: str) -> None:
        writer = encode(q, cb, seeds).write
        (writer.partitionBy("cell") if ivf else writer).parquet(path)

    path = derived(sf_dir, name, build)
    return spark.read.schema(CODES_SCHEMA if ivf else _PQ_CODES_SCHEMA).parquet(path)


def codebook_lut(cb: DataFrame) -> DataFrame:
    """One row, ``cb_map``: code id → that codebook entry's quantized
    vector, the lookup ``drift`` reads."""
    entries = F.collect_list(F.struct(F.col("cb_id"), vector("cq")))
    return cb.groupBy().agg(F.map_from_entries(entries).alias("cb_map"))


# ---------------------------------------------------------------------------
# Query phase
# ---------------------------------------------------------------------------


def probe_row(q: DataFrame) -> DataFrame:
    """(probe_id, pq0..pq63): the query vector, the first non-codebook
    vec_id. Lazily checkpointed: it feeds the routing, the LUT and the
    exact join-back, and a checkpoint runs its corpus TakeOrdered once
    for all of them (persist/unpersist around a lazy plan caches
    nothing)."""
    return (
        q.filter(~_is_codebook())
        .orderBy("vec_id")
        .limit(1)
        .selectExpr("vec_id AS probe_id", *[f"q{i} AS pq{i}" for i in range(EMBED_DIM)])
    ).localCheckpoint(eager=False)


def _route(seeds: DataFrame, probe: DataFrame) -> DataFrame:
    """(cell): the probe's 2 nearest cells (ties to the smaller seed id)."""
    return (
        seeds.crossJoin(F.broadcast(probe))
        .select(F.col("seed_id").alias("cell"), sqdist("sq{}", "pq{}").alias("sd"))
        .orderBy("sd", "cell")
        .limit(2)
        .select("cell")
    )


def rank(
    codes: DataFrame, cb: DataFrame, probe: DataFrame, seeds: DataFrame | None = None
) -> DataFrame:
    """ADC top-10 of a codes table against the probe: (neighbor_id,
    [cell,] adc_dist, rn). Codes-table columns other than vec_id and the
    codes (the IVF cell) ride along.

    With ``seeds`` only the probe's 2 routed cells are ranked; the
    routing join keys on the partition column, so dynamic partition
    pruning reads only those cells' directories. The per-subspace LUT
    collapses into ONE broadcast row of maps (code id → partial
    distance), so the scan does pure map lookups and never joins the
    corpus. Every code came from this codebook, so the lookup never
    misses; try_element_at is the engine's ANSI convention."""
    if seeds is not None:
        codes = codes.join(F.broadcast(_route(seeds, probe)), "cell")
    lut = cb.crossJoin(F.broadcast(probe)).select(
        "cb_id",
        "probe_id",
        *[_subdist("cq{}", "pq{}", s).alias(f"pd{s}") for s in range(SUB)],
    )
    lut_row = lut.groupBy().agg(
        F.first("probe_id").alias("probe_id"),
        *[
            F.map_from_entries(F.collect_list(F.struct("cb_id", f"pd{s}"))).alias(
                f"m{s}"
            )
            for s in range(SUB)
        ],
    )
    adc_dist = F.expr(" + ".join(f"try_element_at(m{s}, c{s})" for s in range(SUB)))
    code_cols = {"vec_id", *(f"c{s}" for s in range(SUB))}
    carried = [c for c in codes.columns if c not in code_cols]
    return (
        codes.crossJoin(F.broadcast(lut_row))
        .filter(F.col("vec_id") != F.col("probe_id"))
        .select(
            F.col("vec_id").alias("neighbor_id"), *carried, adc_dist.alias("adc_dist")
        )
        .orderBy("adc_dist", "neighbor_id")
        .limit(10)
        .withColumn(
            "rn", F.row_number().over(Window.orderBy("adc_dist", "neighbor_id"))
        )
    )


def attach_exact(q: DataFrame, probe: DataFrame, tops: DataFrame) -> DataFrame:
    """``tops`` (any union of ``rank`` outputs, tagged with leading
    columns) with each winner's exact quantized distance to the probe
    inserted before ``rn``: one broadcast join-back against the corpus,
    one scan of ``q`` however many ranks were unioned. adc_dist vs
    exact_dist per winner is the PQ reconstruction error."""
    return (
        F.broadcast(tops)
        .join(q, F.col("vec_id") == F.col("neighbor_id"))
        .crossJoin(F.broadcast(probe.drop("probe_id")))
        .select(
            *[c for c in tops.columns if c != "rn"],
            sqdist("q{}", "pq{}").alias("exact_dist"),
            "rn",
        )
        .orderBy("rn")
    )


def search(
    q: DataFrame, cb: DataFrame, codes: DataFrame, seeds: DataFrame | None = None
) -> DataFrame:
    """``rank`` one codes table and ``attach_exact``. Callers that rank
    several versions of an index call ``rank`` per version with one
    shared ``probe_row`` instead, and attach once."""
    probe = probe_row(q)
    return attach_exact(q, probe, rank(codes, cb, probe, seeds))
