"""Training-corpus preparation operators (SURVEY §2.G tail): benchmark-
contamination detection, repetition-based quality flags, concat-and-chunk
sequence packing, and contiguous ID assignment without a global sort.

These are the corpus-hygiene steps a 100 TB pretraining pipeline runs
between raw ingestion and tokenization. Every query follows the registry
parity rules: engine-portable md5 hashing, integer arithmetic for
threshold flags (no float comparisons at decision boundaries), and
deterministic orderings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .operators import dedup as dd
from .operators import sketches as sk
from .operators.dedup import _shingles_of_words
from .queries import query
from .queries_pipeline import _minhash_oracle_sql
from .sources import load_table
from .state import derived

#: DuckDB mirror of operators.dedup shingling (3-word shingles)
_SHINGLE_SQL = (
    "list_distinct(list_transform(generate_series(1, len(w)-2), "
    "i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))"
)


@query(
    "contamination_ngram_overlap",
    f"""
    WITH sh AS (
      SELECT doc_id, {_SHINGLE_SQL} AS sh
      FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
    ), eval_sh AS (
      SELECT DISTINCT unnest(sh) AS s FROM sh WHERE doc_id < 25
    ), train AS (
      SELECT doc_id, sh FROM sh WHERE doc_id >= 25 AND len(sh) > 0
    ), hits AS (
      SELECT t.doc_id, count(*) AS n_shared
      FROM (SELECT doc_id, unnest(sh) AS s FROM train) t
      JOIN eval_sh e ON t.s = e.s
      GROUP BY t.doc_id
    )
    SELECT tr.doc_id,
      len(tr.sh) AS n_shingles,
      COALESCE(h.n_shared, 0) AS n_shared,
      CAST(COALESCE(h.n_shared, 0) AS DOUBLE) / len(tr.sh) AS overlap_ratio,
      COALESCE(h.n_shared, 0) * 5 >= len(tr.sh) AS contaminated
    FROM train tr LEFT JOIN hits h USING (doc_id)
    ORDER BY doc_id
    """,
    "pipeline", "dedup", "contamination",
)
def contamination_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination check: for every training document, the
    fraction of its distinct 3-word shingles that also occur in the
    held-out evaluation set (here: doc_id < 25 stands in for a benchmark
    corpus). Docs sharing >= 20% of their shingles are flagged — the
    n-gram-overlap decontamination step every serious pretraining corpus
    runs against its eval benchmarks.

    Scale: SINGLE PASS over the training corpus — the eval side is
    benchmark-sized (thousands of docs vs billions), so its
    distinct-shingle set BROADCASTS into a LEFT join against the
    exploded training shingles; n_shared is the count of non-null probe
    hits and n_shingles the per-doc row count (the shingle array is
    distinct, so exploded cardinality IS the total), which means
    zero-overlap docs survive with no second scan and no totals re-join
    — the obvious inner-join + join-back shape re-executes the whole
    shingle pipeline twice, which is what kills a 100 TB scan (locally
    the double-scan is ~20% faster because everything is page-cached;
    that trade inverts when the corpus doesn't fit in memory). One
    groupBy(doc_id) shuffle total, partial-aggregated map-side. The
    contamination flag is integer arithmetic (n_shared*5 >= n_shingles)
    — engines cannot disagree on a float threshold."""
    d = load_table(spark, sf_dir, "documents")
    sh = d.select(
        "doc_id", F.split(F.col("text"), " ").alias("w")
    ).select(
        "doc_id",
        F.array_distinct(_shingles_of_words(F.col("w"), 3)).alias("sh"),
    )
    eval_sh = (
        sh.filter(F.col("doc_id") < 25)
        .select(F.explode("sh").alias("s"))
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    train = sh.filter((F.col("doc_id") >= 25) & (F.size("sh") > 0))
    return (
        train.select("doc_id", F.explode("sh").alias("s"))
        .join(F.broadcast(eval_sh), "s", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.count("hit").alias("n_shared"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_shared",
            (F.col("n_shared").cast("double") / F.col("n_shingles")).alias(
                "overlap_ratio"
            ),
            (F.col("n_shared") * 5 >= F.col("n_shingles")).alias("contaminated"),
        )
        .orderBy("doc_id")
    )


@query(
    "quality_repetition_flags",
    """
    WITH wc AS (
      SELECT doc_id, w, count(*) AS cnt
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
      GROUP BY doc_id, w
    )
    SELECT doc_id,
      CAST(SUM(cnt) AS BIGINT) AS n_tokens,
      COUNT(*) AS n_distinct,
      MAX(cnt) AS top_word_count,
      CAST(MAX(cnt) AS DOUBLE) / CAST(SUM(cnt) AS BIGINT) AS top_word_ratio,
      CAST(COUNT(*) AS DOUBLE) / CAST(SUM(cnt) AS BIGINT) AS distinct_ratio,
      MAX(cnt) * 10 >= SUM(cnt) OR COUNT(*) * 3 < SUM(cnt) AS repetitive
    FROM wc GROUP BY doc_id ORDER BY doc_id
    """,
    "pipeline", "text", "quality",
)
def quality_repetition_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals: per-document token count,
    distinct-token count, most-frequent-token share, and a repetitive
    flag (top token >= 10% of all tokens, or fewer than 1 distinct token
    per 3 tokens). Repetition filters are the highest-yield quality rule
    in published corpus-cleaning recipes (Gopher/MassiveText, RefinedWeb).

    Scale: ONE exchange, moving one compact row per document — the
    repartition(doc_id) runs BEFORE the explode (Generate preserves its
    child's partitioning), so the shuffle carries document rows, not a
    row per token; HashPartitioning(doc_id) then satisfies both the
    (doc_id, word) rollup's clustering (subset rule) and the outer
    groupBy(doc_id). Letting the first groupBy pick its own two-key
    partitioning instead costs a second shuffle (verified 2 → 1).
    Flags use integer cross-multiplication, never float thresholds."""
    d = load_table(spark, sf_dir, "documents")
    wc = (
        d.select("doc_id", "text")
        .repartition("doc_id")
        .select("doc_id", F.explode(F.split("text", " ")).alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return (
        wc.groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_tokens"),
            F.count(F.lit(1)).alias("n_distinct"),
            F.max("cnt").alias("top_word_count"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_distinct",
            "top_word_count",
            (F.col("top_word_count").cast("double") / F.col("n_tokens")).alias(
                "top_word_ratio"
            ),
            (F.col("n_distinct").cast("double") / F.col("n_tokens")).alias(
                "distinct_ratio"
            ),
            (
                (F.col("top_word_count") * 10 >= F.col("n_tokens"))
                | (F.col("n_distinct") * 3 < F.col("n_tokens"))
            ).alias("repetitive"),
        )
        .orderBy("doc_id")
    )


@query(
    "pack_sequences_token_budget",
    """
    WITH t AS (
      SELECT doc_id, source, len(string_split(text, ' ')) AS n_tokens
      FROM documents
    ), placed AS (
      SELECT doc_id, source, n_tokens,
        CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                                 ROWS UNBOUNDED PRECEDING) - n_tokens
             AS BIGINT) AS token_start
      FROM t
    )
    SELECT doc_id, source, n_tokens, token_start,
      CAST(floor(token_start / 256.0) AS BIGINT) AS seq_id
    FROM placed ORDER BY source, doc_id
    """,
    "pipeline", "window", "packing",
)
def pack_sequences_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing: documents are laid out as one
    contiguous token stream per source (running token offset via a window
    cumsum), and each doc is assigned the 256-token training sequence its
    first token lands in — the packing layout used when pretraining
    batches are built by concatenation + fixed-length chunking.

    Scale: one shuffle on the stream key (source) and a linear
    running-sum window — state is a single long per stream, no buffering
    of rows. At 100 TB the stream key would be (source, shard) to bound
    any one window's length; the offset arithmetic is unchanged because
    the cumsum is per-stream either way. All-integer math."""
    d = load_table(spark, sf_dir, "documents")
    t = d.select(
        "doc_id", "source", F.size(F.split("text", " ")).alias("n_tokens")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        t.withColumn("token_start", F.sum("n_tokens").over(w) - F.col("n_tokens"))
        .withColumn(
            "seq_id", F.floor(F.col("token_start") / F.lit(256.0)).cast("bigint")
        )
        .orderBy("source", "doc_id")
    )


@query(
    "ids_contiguous_no_global_sort",
    """
    SELECT doc_id, n_chars,
      ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) - 1 AS global_id
    FROM documents ORDER BY global_id
    """,
    "pipeline", "window", "ids",
)
def ids_contiguous_no_global_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contiguous 0-based IDs in (n_chars, doc_id) order WITHOUT a global
    single-partition sort — the standard two-pass trick for assigning
    example IDs to a 100 TB corpus:

    1. rows are bucketed by static ranges of the leading sort key
       (``n_chars // 16`` — data-independent, no sampling pass);
    2. per-bucket counts (a tiny aggregate) become cumulative offsets via
       a window over the bucket table, which BROADCASTS back;
    3. each row's id = bucket offset + (row_number within its bucket) - 1.

    The oracle is the naive ``ROW_NUMBER() OVER (ORDER BY ...)``, which
    plans as a 1-partition sort in any engine — correct but the exact
    thing that cannot run at scale. Here the only data-sized movement is
    one shuffle on the bucket key; within-bucket sorting is distributed.
    Skewed buckets (many equal-length docs) are the documented trade-off
    — at scale, widen the bucket key with more sort-key prefix bytes."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    b = d.withColumn("bucket", F.floor(F.col("n_chars") / F.lit(16)))
    counts = b.groupBy("bucket").agg(F.count(F.lit(1)).alias("n"))
    offsets = counts.select(
        "bucket",
        (
            F.sum("n").over(
                Window.orderBy("bucket").rowsBetween(
                    Window.unboundedPreceding, Window.currentRow
                )
            )
            - F.col("n")
        ).alias("offset"),
    )
    rn = F.row_number().over(
        Window.partitionBy("bucket").orderBy("n_chars", "doc_id")
    )
    return (
        b.join(F.broadcast(offsets), "bucket")
        .select(
            "doc_id",
            "n_chars",
            (F.col("offset") + rn - 1).alias("global_id"),
        )
        .orderBy("global_id")
    )


@query(
    "split_train_valid_test_hash",
    """
    WITH d AS (
      SELECT *,
        ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS b
      FROM documents
    )
    SELECT
      CASE WHEN b < 90 THEN 'train' WHEN b < 95 THEN 'valid' ELSE 'test' END
        AS split,
      source,
      count(*) AS n_docs,
      CAST(SUM(n_chars) AS BIGINT) AS chars
    FROM d GROUP BY split, source ORDER BY split, source
    """,
    "pipeline", "sample", "split",
)
def split_train_valid_test_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 90/5/5 train/valid/test split by content-stable hash
    bucketing — the split every training corpus needs before anything
    touches an optimizer. The same doc lands in the same split on every
    engine, run, and scale (unlike randomSplit, whose assignment depends
    on partition layout and seed plumbing).

    Scale: the split label is a narrow map fused into the scan — zero
    shuffle until the tiny (split, source) aggregate. Re-splitting a
    grown corpus never moves an existing doc between splits, which is
    the property that keeps eval sets uncontaminated across refreshes."""
    d = load_table(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        % 100
    )
    split = (
        F.when(bucket < 90, "train").when(bucket < 95, "valid").otherwise("test")
    )
    return (
        d.withColumn("split", split)
        .groupBy("split", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("chars"),
        )
        .orderBy("split", "source")
    )


def _keep_best_oracle() -> str:
    return f"""
    WITH RECURSIVE base AS ({_minhash_oracle_sql().replace("ORDER BY doc_a, doc_b", "")}
    ), edges AS (
      SELECT doc_a AS u, doc_b AS v FROM base
      UNION ALL
      SELECT doc_b, doc_a FROM base
    ), cc(node, label) AS (
      SELECT u, u FROM (SELECT DISTINCT u FROM edges)
      UNION
      SELECT e.v, cc.label FROM cc JOIN edges e ON e.u = cc.node
    ), comp AS (
      SELECT node AS doc_id, min(label) AS component FROM cc GROUP BY node
    ), clustered AS (
      SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS cluster_id, d.n_chars
      FROM documents d LEFT JOIN comp c USING (doc_id)
    )
    SELECT doc_id, cluster_id,
      FIRST_VALUE(doc_id) OVER (
        PARTITION BY cluster_id ORDER BY n_chars DESC, doc_id
      ) AS keep_doc_id,
      doc_id = FIRST_VALUE(doc_id) OVER (
        PARTITION BY cluster_id ORDER BY n_chars DESC, doc_id
      ) AS is_kept
    FROM clustered ORDER BY doc_id
    """


@query(
    "dedup_keep_best_per_cluster",
    _keep_best_oracle(),
    "dedup", "pipeline", "lsh",
)
def dedup_keep_best_per_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full dedup resolution (§2.G end-game): MinHash candidate pairs →
    connected components → every document mapped to its duplicate
    cluster, keeping the HIGHEST-QUALITY member (longest text, doc_id
    tiebreak) rather than the arbitrary min-id — the policy real corpus
    dedup uses (keep the best copy, drop the rest). Singleton docs form
    their own cluster and keep themselves.

    Scale: components run on the candidate-pair graph only (tiny vs the
    corpus); mapping back is one left join on doc_id; the keep choice is
    FIRST_VALUE over a window keyed by cluster_id — one shuffle of
    narrow (doc_id, cluster_id, n_chars) rows, no join-back of a ranked
    subquery (which would re-execute the whole LSH pipeline a second
    time)."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    docs = load_table(spark, sf_dir, "documents")
    # clusters form over non-null-text docs only (null body = no shingles;
    # see split_leakage_safe_by_cluster) — every doc still gets a cluster
    sig = dd.minhash_signature_df(
        docs.filter(F.col("text").isNotNull()), "doc_id", "text"
    )
    bands = dd.minhash_band_keys(sig, "doc_id")
    pairs = dd.band_pairs(bands, "doc_id")
    comp = dd.connected_components(pairs, "doc_a", "doc_b")
    clustered = (
        d.join(comp, d["doc_id"] == comp["node"], "left")
        .select(
            "doc_id",
            F.coalesce("component", "doc_id").alias("cluster_id"),
            "n_chars",
        )
    )
    w = Window.partitionBy("cluster_id").orderBy(F.desc("n_chars"), "doc_id")
    keep = F.first("doc_id").over(w)
    return (
        clustered.select(
            "doc_id",
            "cluster_id",
            keep.alias("keep_doc_id"),
            (F.col("doc_id") == keep).alias("is_kept"),
        )
        .orderBy("doc_id")
    )


@query(
    "binaryfile_scan_doc_lengths",
    """
    SELECT doc_id, CAST(octet_length(encode(text)) + 1 AS BIGINT) AS n_bytes
    FROM documents WHERE doc_id < 100 AND text IS NOT NULL ORDER BY doc_id
    """,
    "source", "multimodal", "pipeline",
)
def binaryfile_scan_doc_lengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-per-object ingestion (§2.B / §2.G multimodal): documents are
    materialized once as one text file per doc (Spark's partitioned text
    writer — no driver-side loop), then scanned back with the
    ``binaryFile`` source, which is how raw image/audio/document blobs
    enter a multimodal corpus. The partition directory yields the doc_id;
    the payload byte length must equal the text's UTF-8 byte length + the
    writer's trailing newline, proving the bytes survived the round trip
    (byte length, not char count — multi-byte text tells them apart).

    Scale: binaryFile scans parallelize per file and never split one blob
    across tasks; partition discovery prunes on doc_id like any
    partitioned source. Bounded here to 100 files so the one-time
    materialization cost is constant across scale factors."""
    d = load_table(spark, sf_dir, "documents")
    docs = d.filter((F.col("doc_id") < 100) & F.col("text").isNotNull()).select(
        "doc_id", "text"
    )
    path = derived(sf_dir, "docs_txt", docs.write.partitionBy("doc_id").text)
    back = spark.read.format("binaryFile").load(path)
    if "doc_id" not in back.columns:
        # an EMPTY corpus wrote no partition dirs, so partition discovery
        # finds no doc_id column — the honest answer is zero files
        return spark.createDataFrame([], "doc_id bigint, n_bytes bigint")
    return (
        back.select(
            F.col("doc_id").cast("bigint").alias("doc_id"),
            F.octet_length("content").cast("bigint").alias("n_bytes"),
        )
        .orderBy("doc_id")
    )


@query(
    "corpus_prep_end_to_end",
    f"""
    WITH base AS (
      SELECT doc_id, lang, text, string_split(text, ' ') AS w
      FROM documents
    ), wc AS (
      SELECT doc_id, wrd, count(*) AS cnt
      FROM (SELECT doc_id, unnest(w) AS wrd FROM base WHERE doc_id >= 25)
      GROUP BY doc_id, wrd
    ), rep AS (
      SELECT doc_id, COUNT(*) AS n_distinct, MAX(cnt) AS top_cnt
      FROM wc GROUP BY doc_id
    ), sh AS (
      SELECT doc_id, {_SHINGLE_SQL} AS sh FROM base
    ), eval_sh AS (
      SELECT DISTINCT unnest(sh) AS s FROM sh WHERE doc_id < 25
    ), hits AS (
      SELECT t.doc_id, count(*) AS n_shared
      FROM (SELECT doc_id, unnest(sh) AS s FROM sh WHERE doc_id >= 25) t
      JOIN eval_sh e ON t.s = e.s
      GROUP BY t.doc_id
    ), flagged AS (
      SELECT b.doc_id, b.lang, b.text,
        len(b.w) AS n_tokens,
        (r.top_cnt * 10 >= len(b.w) OR r.n_distinct * 3 < len(b.w)
         OR len(b.w) < 30) AS quality_fail,
        (len(s.sh) > 0 AND COALESCE(h.n_shared, 0) * 5 >= len(s.sh))
          AS contaminated
      FROM base b
      JOIN rep r USING (doc_id)
      JOIN sh s USING (doc_id)
      LEFT JOIN hits h USING (doc_id)
      WHERE b.doc_id >= 25
    ), ranked AS (
      SELECT *,
        SUM(CASE WHEN NOT quality_fail AND NOT contaminated THEN 1 ELSE 0 END)
          OVER (PARTITION BY md5(text) ORDER BY doc_id
                ROWS UNBOUNDED PRECEDING) AS dup_rank,
        CASE WHEN quality_fail THEN 'quality'
             WHEN contaminated THEN 'contaminated'
             ELSE 'candidate' END AS pre_stage
      FROM flagged
    ), staged AS (
      SELECT lang, n_tokens,
        CASE WHEN pre_stage <> 'candidate' THEN pre_stage
             WHEN dup_rank > 1 THEN 'duplicate'
             ELSE 'kept' END AS stage
      FROM ranked
    )
    SELECT lang,
      COUNT(*) AS n_input,
      CAST(SUM(CASE WHEN stage = 'quality' THEN 1 ELSE 0 END) AS BIGINT)
        AS n_quality_fail,
      CAST(SUM(CASE WHEN stage = 'contaminated' THEN 1 ELSE 0 END) AS BIGINT)
        AS n_contaminated,
      CAST(SUM(CASE WHEN stage = 'duplicate' THEN 1 ELSE 0 END) AS BIGINT)
        AS n_duplicate,
      CAST(SUM(CASE WHEN stage = 'kept' THEN 1 ELSE 0 END) AS BIGINT)
        AS n_kept,
      CAST(SUM(CASE WHEN stage = 'kept' THEN n_tokens ELSE 0 END) AS BIGINT)
        AS kept_tokens
    FROM staged
    GROUP BY lang
    ORDER BY lang
    """,
    "pipeline", "dedup", "quality", "contamination",
)
def corpus_prep_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WHOLE corpus-preparation pipeline as one audited pass —
    quality gate (Gopher repetition flags + minimum length), benchmark
    decontamination (3-gram overlap vs the doc_id<25 eval set), exact
    dedup (md5, first-doc-wins *among gate survivors*), and a
    per-language audit rollup: how many documents each stage dropped and
    how many tokens survive. This is the integration exhibit: every
    stage is the same logic as its standalone query
    (quality_repetition_flags, contamination_ngram_overlap,
    dedup_exact_documents), composed the way a production corpus build
    chains them, with the stage attribution (quality > contamination >
    duplicate) every data-governance review asks for.

    Scale: doc-clustered throughout — the word-count rollup, the
    shingle-hit count, and the flag joins all hash on doc_id (the
    repartition runs before the explode so shuffles carry one compact
    row per document; the eval-shingle side broadcasts); the dedup
    ranking is a windowed running count over md5(text) — counting only
    gate survivors, so a discarded duplicate whose earlier twin failed
    quality does NOT shadow a clean later copy; the final rollup is a
    5-key aggregate. No stage re-scans the corpus: one pass, ~4
    shuffles end-to-end at any scale."""
    d = load_table(spark, sf_dir, "documents")
    base = d.select("doc_id", "lang", "text", F.split("text", " ").alias("w"))
    corpus = base.filter(F.col("doc_id") >= 25)

    rep = (
        corpus.select("doc_id", "text")
        .repartition("doc_id")
        .select("doc_id", F.explode(F.split("text", " ")).alias("wrd"))
        .groupBy("doc_id", "wrd")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_distinct"),
            F.max("cnt").alias("top_cnt"),
        )
    )

    sh = base.select(
        "doc_id", F.array_distinct(_shingles_of_words(F.col("w"), 3)).alias("sh")
    )
    eval_sh = (
        sh.filter(F.col("doc_id") < 25)
        .select(F.explode("sh").alias("s"))
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    hits = (
        sh.filter(F.col("doc_id") >= 25)
        .select("doc_id", F.explode("sh").alias("s"))
        .join(F.broadcast(eval_sh), "s", "left")
        .groupBy("doc_id")
        .agg(F.count("hit").alias("n_shared"))
    )
    n_sh = sh.filter(F.col("doc_id") >= 25).select(
        "doc_id", F.size("sh").alias("n_shingles")
    )

    flagged = (
        corpus.select("doc_id", "lang", "text", F.size("w").alias("n_tokens"))
        .join(rep, "doc_id")
        .join(n_sh, "doc_id")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            "lang",
            "text",
            "n_tokens",
            (
                (F.col("top_cnt") * 10 >= F.col("n_tokens"))
                | (F.col("n_distinct") * 3 < F.col("n_tokens"))
                | (F.col("n_tokens") < 30)
            ).alias("quality_fail"),
            (
                (F.col("n_shingles") > 0)
                & (F.coalesce(F.col("n_shared"), F.lit(0)) * 5 >= F.col("n_shingles"))
            ).alias("contaminated"),
        )
    )

    wdup = (
        Window.partitionBy(F.md5("text"))
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    staged = flagged.withColumn(
        "dup_rank",
        F.sum(
            F.when(~F.col("quality_fail") & ~F.col("contaminated"), 1).otherwise(0)
        ).over(wdup),
    ).select(
        "lang",
        "n_tokens",
        F.when(F.col("quality_fail"), F.lit("quality"))
        .when(F.col("contaminated"), F.lit("contaminated"))
        .when(F.col("dup_rank") > 1, F.lit("duplicate"))
        .otherwise(F.lit("kept"))
        .alias("stage"),
    )
    return (
        staged.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_input"),
            F.sum(F.when(F.col("stage") == "quality", 1).otherwise(0)).alias(
                "n_quality_fail"
            ),
            F.sum(F.when(F.col("stage") == "contaminated", 1).otherwise(0)).alias(
                "n_contaminated"
            ),
            F.sum(F.when(F.col("stage") == "duplicate", 1).otherwise(0)).alias(
                "n_duplicate"
            ),
            F.sum(F.when(F.col("stage") == "kept", 1).otherwise(0)).alias("n_kept"),
            F.sum(
                F.when(F.col("stage") == "kept", F.col("n_tokens")).otherwise(0)
            ).alias("kept_tokens"),
        )
        .orderBy("lang")
    )


@query(
    "domain_cap_sample_documents",
    """
    SELECT source, doc_id, n_chars FROM (
      SELECT source, doc_id, n_chars,
        ROW_NUMBER() OVER (
          PARTITION BY source
          ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
        ) AS rn
      FROM documents
    ) t WHERE rn <= 20
    ORDER BY source, doc_id
    """,
    "pipeline", "sampling", "domain-cap",
)
def domain_cap_sample_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain cap (§2.G sampling): keep at most K=20 documents per
    source, chosen by a deterministic md5 shuffle — the standard web-corpus
    guard against any one domain dominating the training mix. Hash order
    (not doc_id order) so the kept subset is an unbiased sample of each
    domain, yet reproducible run-to-run with no RNG state.

    Scale: one shuffle on source + a ranked window that early-stops at
    rank K per partition (WindowGroupLimit pushes the limit below the
    sort). Skewed domains are exactly the point — the cap bounds each
    group's output at K regardless of its input size; the window sort for
    a mega-domain is the one data-sized cost, and at 100 TB the md5 rank
    can be pre-filtered by a quantile-estimated hash cutoff per domain to
    prune before the sort."""
    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        d.select("source", "doc_id", "n_chars")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 20)
        .drop("rn")
        .orderBy("source", "doc_id")
    )


@query(
    "quality_char_entropy",
    """
    WITH chars AS (
      SELECT doc_id, substr(text, i, 1) AS ch
      FROM documents, LATERAL (
        SELECT unnest(range(1, length(text) + 1)) AS i
      )
      WHERE doc_id < 300 AND length(text) > 0
    ),
    freqs AS (
      SELECT doc_id, ch, COUNT(*) AS cnt FROM chars GROUP BY doc_id, ch
    ),
    totals AS (
      SELECT doc_id, SUM(cnt) AS total, COUNT(*) AS alphabet FROM freqs GROUP BY doc_id
    )
    SELECT f.doc_id,
      CAST(t.alphabet AS BIGINT) AS alphabet,
      ROUND(-SUM((f.cnt / t.total) * log2(f.cnt / t.total)), 6) AS entropy_bits
    FROM freqs f JOIN totals t USING (doc_id)
    GROUP BY f.doc_id, t.alphabet
    ORDER BY f.doc_id
    """,
    "pipeline", "text", "quality",
)
def quality_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level Shannon entropy per document (§2.G quality): the
    repetition-junk detector orthogonal to the n-gram flags — machine-
    generated or boilerplate text has a collapsed character distribution
    and scores low; natural prose sits near 4-4.5 bits. Computed wholly
    in codegen: posexplode of the char positions, two hash aggregations
    (per-(doc,char) counts, then per-doc -sum(p*log2(p))).

    Scale: the explode fans out len(text) rows per doc but they fold
    straight into the first partial aggregation map-side (alphabet-bounded
    state per doc, ~100 entries); the shuffle carries only (doc, char,
    cnt) triples. Rounded to 6 so float summation order over the small
    alphabet can't flip a bit."""
    d = (
        load_table(spark, sf_dir, "documents")
        # length(text) > 0 on BOTH sides: F.sequence(1, 0) yields [1, 0]
        # (Spark reverses when start > stop) so an empty doc would explode
        # into two ch='' rows the oracle's range() never generates.
        .filter((F.col("doc_id") < 300) & (F.length("text") > 0))
        .select("doc_id", "text")
    )
    chars = d.select(
        "doc_id",
        F.explode(F.sequence(F.lit(1), F.length("text"))).alias("i"),
        "text",
    ).select("doc_id", F.expr("substr(text, i, 1)").alias("ch"))
    freqs = chars.groupBy("doc_id", "ch").agg(F.count(F.lit(1)).alias("cnt"))
    totals = freqs.groupBy("doc_id").agg(
        F.sum("cnt").alias("total"), F.count(F.lit(1)).alias("alphabet")
    )
    p = F.col("cnt") / F.col("total")
    return (
        freqs.join(totals, "doc_id")
        .groupBy("doc_id", "alphabet")
        .agg(F.round(-F.sum(p * F.log2(p)), 6).alias("entropy_bits"))
        .select("doc_id", F.col("alphabet").cast("bigint").alias("alphabet"), "entropy_bits")
        .orderBy("doc_id")
    )


@query(
    "quality_unigram_logprob",
    r"""
    WITH toks AS (
      SELECT doc_id, lower(unnest(list_filter(
        regexp_split_to_array(text, '\W+'), x -> x <> ''))) AS tok
      FROM documents
    ),
    freqs AS (
      SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY tok
    ),
    corpus AS (
      SELECT SUM(cnt) AS total FROM freqs
    ),
    packed AS (
      SELECT t.doc_id,
        CAST(COUNT(*) AS BIGINT) AS n_tokens,
        list_sort(list(f.cnt)) AS cs,
        MAX(c.total) AS total
      FROM toks t JOIN freqs f ON t.tok = f.tok CROSS JOIN corpus c
      GROUP BY t.doc_id
      HAVING COUNT(*) >= 5
    )
    SELECT doc_id, n_tokens,
      ROUND(list_reduce(
        list_transform(cs, x -> -log2(CAST(x AS DOUBLE) / total)),
        (p, q) -> p + q) / n_tokens, 6) AS avg_neg_logprob
    FROM packed
    ORDER BY doc_id
    """,
    "pipeline", "text", "quality",
)
def quality_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram log-probability quality score (§2.G): each document's mean
    -log2 p(token) under the corpus's own unigram distribution — the
    closed-form proxy for the KenLM-perplexity filter used in web-corpus
    pipelines (high = rare/garbled vocabulary, low = repetitive
    boilerplate; both tails get filtered). Self-trained: the "model" is
    one aggregation over the very corpus being scored.

    Scale: tokenize is a narrow flatMap; the unigram table is
    vocab-sized (Zipf-bounded, orders of magnitude smaller than the
    corpus) so the score join broadcasts it; one shuffle builds the
    vocab, one aggregates per doc. The per-doc float sum is a left fold
    over a SORTED count array (not AVG), so accumulation order is pinned
    on both engines at any file layout."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.explode(
            F.filter(F.split(F.col("text"), r"\W+"), lambda x: x != "")
        ).alias("tok"),
    ).withColumn("tok", F.lower("tok"))
    freqs = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    total = freqs.agg(F.sum("cnt").alias("total"))
    # DETERMINISTIC float summation (the fragmented regime is what
    # exposes a scan-order sum, as it did in stats_summary_profile): a raw
    # AVG(-log2 p) sums floats in scan order, which varies with file
    # layout/partitioning. The counts are packed into a SORTED array and
    # the sum runs as a left fold both engines execute identically
    # (Spark aggregate == DuckDB list_reduce); only the bounded per-doc
    # fold runs in floats, and the single division happens once on
    # identical operands.
    scored = (
        toks.join(F.broadcast(freqs), "tok")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.array_sort(F.collect_list("cnt")).alias("cs"),
            F.max("total").alias("total"),
        )
        .filter(F.col("n_tokens") >= 5)
        .withColumn(
            "s",
            F.aggregate(
                F.transform(
                    "cs",
                    lambda x: -F.log2(x.cast("double") / F.col("total")),
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ),
        )
        .select(
            "doc_id",
            "n_tokens",
            F.round(F.col("s") / F.col("n_tokens"), 6).alias("avg_neg_logprob"),
        )
        .orderBy("doc_id")
    )
    return scored


@query(
    "mixture_rebalance_sources",
    """
    WITH t AS (
      SELECT doc_id, source, len(string_split(text, ' ')) AS n_tokens,
        ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT AS h
      FROM documents
    ), totals AS (
      SELECT source, SUM(n_tokens) AS total FROM t GROUP BY source
    ), budget AS (
      SELECT MIN(total) AS b FROM totals
    )
    SELECT t.source,
      CAST(tt.total AS BIGINT) AS orig_tokens,
      COUNT(CASE WHEN CAST(t.h AS HUGEINT) * tt.total
                      < CAST(b.b AS HUGEINT) * 281474976710656 THEN 1 END)
        AS kept_docs,
      CAST(COALESCE(SUM(CASE WHEN CAST(t.h AS HUGEINT) * tt.total
                                  < CAST(b.b AS HUGEINT) * 281474976710656
                             THEN t.n_tokens END), 0) AS BIGINT) AS kept_tokens
    FROM t JOIN totals tt USING (source) CROSS JOIN budget b
    GROUP BY t.source, tt.total ORDER BY t.source
    """,
    "pipeline", "sampling", "mixture",
)
def mixture_rebalance_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixture rebalancing (§2.G): subsample every source down to the
    smallest source's token budget so each contributes an equal expected
    token share — the mixture-weight step between corpus cleaning and
    tokenization. A doc survives iff md5-uniform(doc_id) < budget/total
    for its source, evaluated as EXACT integer cross-multiplication
    (h * total < budget * 2^48, in DECIMAL(38,0)/HUGEINT) — no float
    threshold for engines to disagree on, and md5 makes the subsample
    reproducible and auditable, the property a training mix needs.

    Scale: one shuffle computes per-source token totals (a source-count-
    sized table that broadcasts back, as does the single-row budget); the
    keep decision is then a stateless per-row predicate, so the corpus
    streams through once. Changing target weights only changes the
    broadcast side."""
    d = load_table(spark, sf_dir, "documents")
    h = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 12), 16, 10
    ).cast("bigint")
    t = d.select(
        "doc_id",
        "source",
        F.size(F.split("text", " ")).alias("n_tokens"),
        h.alias("h"),
    )
    totals = t.groupBy("source").agg(F.sum("n_tokens").alias("total"))
    budget = totals.agg(F.min("total").alias("b"))
    keep = (F.col("h").cast("decimal(38,0)") * F.col("total")) < (
        F.col("b").cast("decimal(38,0)") * F.lit(281474976710656)
    )
    return (
        t.join(F.broadcast(totals), "source")
        .crossJoin(F.broadcast(budget))
        .withColumn("keep", keep)
        .groupBy("source", "total")
        .agg(
            F.count(F.when(F.col("keep"), 1)).alias("kept_docs"),
            F.coalesce(
                F.sum(F.when(F.col("keep"), F.col("n_tokens"))), F.lit(0)
            ).alias("kept_tokens"),
        )
        .select(
            "source",
            F.col("total").alias("orig_tokens"),
            "kept_docs",
            "kept_tokens",
        )
        .orderBy("source")
    )


def _leakage_safe_split_oracle() -> str:
    return f"""
    WITH RECURSIVE base AS ({_minhash_oracle_sql().replace("ORDER BY doc_a, doc_b", "")}
    ), edges AS (
      SELECT doc_a AS u, doc_b AS v FROM base
      UNION ALL
      SELECT doc_b, doc_a FROM base
    ), cc(node, label) AS (
      SELECT u, u FROM (SELECT DISTINCT u FROM edges)
      UNION
      SELECT e.v, cc.label FROM cc JOIN edges e ON e.u = cc.node
    ), canon AS (
      SELECT node AS doc_id, MIN(label) AS canonical FROM cc GROUP BY node
    ), labeled AS (
      SELECT d.doc_id, d.n_chars,
        COALESCE(c.canonical, d.doc_id) AS canonical,
        ('0x' || substr(md5(CAST(COALESCE(c.canonical, d.doc_id) AS VARCHAR)),
                        1, 8))::BIGINT % 100 AS b
      FROM documents d LEFT JOIN canon c USING (doc_id)
    )
    SELECT
      CASE WHEN b < 90 THEN 'train' WHEN b < 95 THEN 'valid' ELSE 'test' END
        AS split,
      COUNT(*) AS n_docs,
      CAST(COUNT(DISTINCT canonical) AS BIGINT) AS n_clusters,
      CAST(SUM(n_chars) AS BIGINT) AS chars
    FROM labeled GROUP BY split ORDER BY split
    """


@query(
    "split_leakage_safe_by_cluster",
    _leakage_safe_split_oracle(),
    "pipeline", "sample", "split", "lsh",
)
def split_leakage_safe_by_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/valid/test split (§2.G): hash-bucket by the
    near-dup CLUSTER's canonical id, not the document id. A plain per-doc
    split puts two near-duplicates on opposite sides of the train/test
    boundary — the classic eval-contamination leak that per-doc hashing
    cannot prevent; splitting by the connected component's canonical
    representative keeps every near-dup family in ONE split by
    construction. Docs outside any cluster are their own canonical.

    Scale: minhash bands → in-bucket pairs → iterative min-label
    propagation (per-round localCheckpoint, driver sees only a changed
    count) — all shapes already proven by the dedup queries; the cluster
    map is duplicate-family-sized, so its join back to the corpus
    broadcasts. Split assignment is then the same zero-shuffle md5 map as
    split_train_valid_test_hash, and re-splitting a grown corpus moves a
    doc only if its CLUSTER changed."""
    d = load_table(spark, sf_dir, "documents")
    # clusters come from non-null-text docs only (a NULL body has no
    # shingles; unfixed, every null doc would share one empty signature
    # and collapse into a single bogus mega-cluster) — but ALL docs,
    # null-bodied included, still receive a split as their own canonical
    sig = dd.minhash_signature_df(
        d.filter(F.col("text").isNotNull()), "doc_id", "text"
    )
    bands = dd.minhash_band_keys(sig, "doc_id")
    pairs = dd.band_pairs(bands, "doc_id")
    canon = dd.connected_components(pairs, "doc_a", "doc_b").select(
        F.col("node").alias("doc_id"), F.col("component").alias("__canon__")
    )
    labeled = (
        d.select("doc_id", "n_chars")
        .join(F.broadcast(canon), "doc_id", "left")
        .withColumn("canonical", F.coalesce("__canon__", "doc_id"))
    )
    bucket = (
        F.conv(F.substring(F.md5(F.col("canonical").cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        % 100
    )
    split = (
        F.when(bucket < 90, "train").when(bucket < 95, "valid").otherwise("test")
    )
    return (
        labeled.withColumn("split", split)
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count_distinct(F.col("canonical")).alias("n_clusters"),
            F.sum("n_chars").alias("chars"),
        )
        .orderBy("split")
    )


# ---------------------------------------------------------------------------
# BPE tokenizer training (SURVEY §2.G tail: the step AFTER corpus hygiene)
# ---------------------------------------------------------------------------

#: number of BPE merge rounds mined by the queries below. Fixed so the
#: DuckDB oracle can unroll the identical iteration count.
_BPE_MERGES = 6

#: the merge fold, shared semantics with the oracle: the accumulator is
#: the '|'-delimited output sequence; at each symbol, if the sequence's
#: LAST symbol equals the winning pair's left and the incoming symbol its
#: right, replace the last symbol with the concatenation, else append.
#: This is exactly byte-pair-encoding's left-to-right non-overlapping
#: merge scan ('a a a' + pair (a,a) -> 'aa|a', never 'aa|aa' overlap),
#: expressed as a pure string fold both engines evaluate identically.
_BPE_FOLD = """
  aggregate(
    slice(syms, 2, size(syms) - 1),
    syms[0],
    (acc, x) -> CASE
      WHEN regexp_extract(acc, '([^|]*)$', 1) = __a AND x = __b
      THEN concat(regexp_replace(acc, '([^|]*)$', ''), __a, __b)
      ELSE concat(acc, '|', x) END)
"""


def _bpe_word_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus pass: lowercase ASCII-letter tokens -> (char-sequence, freq).

    The alphabet is deliberately restricted to [a-z]: real BPE is
    byte-level, and per-CHARACTER splitting of astral-plane text is the
    one primitive Spark (UTF-16 code units) and an independent engine
    (code points) disagree on — ASCII tokens make the mined merges
    engine-portable. The sequence is stored as a '|'-joined string so the
    whole iterative state is one flat VARCHAR column (vectorized reads,
    no nested shuffles)."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    words = d.select(
        F.explode(
            F.expr("regexp_extract_all(lower(text), '[a-z]+', 0)")
        ).alias("word")
    )
    chars = F.expr("filter(split(word, ''), ch -> ch <> '')")
    return (
        words.groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .select(F.array_join(chars, "|").alias("s"), "freq")
    )


def _bpe_best(st: DataFrame) -> DataFrame:
    """One round's winning pair as a ONE-ROW DataFrame (__a, __b, __cnt):
    pair counts over the vocab state with map-side partial aggregation,
    then a min_by argmax with the (count DESC, left, right) tie-break.
    NULL row when no pair exists (empty/fully-merged vocabulary).
    Un-checkpointed — `_bpe_learn` checkpoints it; the plan gate
    (tests/test_plans.py) inspects this raw shape."""
    pc = (
        st.filter(F.size("syms") >= 2)
        .select(
            "freq",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(syms) - 1), "
                    "i -> struct(syms[i-1] AS l, syms[i] AS r))"
                )
            ).alias("p"),
        )
        .groupBy("p.l", "p.r")
        .agg(F.sum("freq").alias("cnt"))
    )
    return pc.agg(
        F.min_by(
            F.struct("l", "r", "cnt"),
            F.struct(
                (-F.col("cnt")).alias("nc"),
                F.col("l").alias("tl"),
                F.col("r").alias("tr"),
            ),
        ).alias("w")
    ).select(
        F.col("w.l").alias("__a"),
        F.col("w.r").alias("__b"),
        F.col("w.cnt").alias("__cnt"),
    )


def _bpe_apply(st: DataFrame, best: DataFrame) -> DataFrame:
    """Fold the winning pair into every vocab row: a broadcast of the
    one-row winner (BroadcastNestedLoopJoin — never a shuffle) followed
    by the narrow per-row merge scan, NULL-guarded so a no-winner round
    passes the state through unchanged. Un-checkpointed."""
    merged = F.when(F.col("__a").isNull(), F.col("s")).otherwise(
        F.expr(_BPE_FOLD)
    )
    return st.crossJoin(F.broadcast(best)).select(merged.alias("s"), "freq")


def _bpe_learn(spark: SparkSession, sf_dir: str):
    """Mine `_BPE_MERGES` byte-pair merges over the corpus vocabulary.

    Returns (merges DataFrame, final vocab-state DataFrame). Fully
    distributed — NO driver-side collect anywhere: each round's winning
    pair is a ONE-ROW `min_by` aggregate (count DESC, then left/right
    ASC tie-break via a lexicographic struct) that is cross-broadcast
    back into the vocab state for the merge fold, so the "control
    decision" stays inside the plan. An empty corpus (or a fully merged
    vocabulary) yields a NULL winner row; the fold is guarded on NULL so
    the state passes through unchanged and the merge table just gains no
    row for that rank.

    Scale: the corpus is read ONCE (word-freq aggregation — the standard
    scalable-BPE reduction: merges operate on the distinct-word table,
    never the corpus). Each round is then (a) one shuffle over pair
    counts of the VOCAB-sized table with map-side partial aggregation,
    (b) a broadcast of one row, (c) a narrow per-row fold, checkpointed
    (`localCheckpoint`) so round k's plan does not recompute rounds
    1..k-1. At 100 TB the vocab table is millions of rows, not the
    corpus — every per-round cost is bounded by |vocab|."""
    state = _bpe_word_freq(spark, sf_dir).localCheckpoint()
    merge_rows = []
    for k in range(1, _BPE_MERGES + 1):
        st = state.withColumn("syms", F.split("s", "[|]"))
        # checkpoint the one-row argmax: it feeds BOTH the merge table
        # and the fold, and must compute once per round. LAZY:
        # eager ran a dedicated job per round just to hold one row; lazy
        # materializes inside the state checkpoint's job instead — same
        # once-per-round execution, 6 fewer sequential job launches
        best = _bpe_best(st).localCheckpoint(eager=False)
        merge_rows.append(
            best.filter(F.col("__a").isNotNull()).select(
                F.lit(k).cast("bigint").alias("merge_rank"),
                F.col("__a").alias("left_sym"),
                F.col("__b").alias("right_sym"),
                F.concat("__a", "__b").alias("merged"),
                F.col("__cnt").alias("pair_count"),
            )
        )
        state = _bpe_apply(st, best).localCheckpoint()
    merges = merge_rows[0]
    for m in merge_rows[1:]:
        merges = merges.unionByName(m)
    return merges, state


def _bpe_oracle_prefix() -> str:
    """Unrolled CTE chain replaying `_bpe_learn` exactly: per round, pair
    counts from the previous state, a LIMIT-1 argmax with the same
    (count DESC, left, right) tie-break, a scalar-subquery wrapper so an
    empty argmax becomes a NULL row instead of annihilating the state
    cross join, and the identical merge fold via `list_reduce`.

    Every state CTE is MATERIALIZED: state{k-1} is referenced twice per
    round (pair counts + the merge fold) and best{k} again by the final
    UNION, so DuckDB's default CTE inlining makes the scan tree
    EXPONENTIAL in the round count — 2^6 re-reads of the corpus, which
    both burned ~30 s per run at sf0.001 and exhausted the process FD
    limit outright on 16-part directory layouts (found by the
    schemadrift full-registry sweep). Materializing restores the same
    once-per-round cost `_bpe_learn` gets from localCheckpoint."""
    parts = [
        """
    WITH state0 AS MATERIALIZED (
      SELECT array_to_string(
               list_transform(range(1, len(word) + 1), i -> word[i:i]), '|'
             ) AS s,
             CAST(COUNT(*) AS BIGINT) AS freq
      FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
            FROM documents WHERE text IS NOT NULL) tw
      GROUP BY word
    )"""
    ]
    for k in range(1, _BPE_MERGES + 1):
        parts.append(f"""
    , pairs{k} AS (
      SELECT syms[i] AS l, syms[i + 1] AS r, freq
      FROM (SELECT string_split(s, '|') AS syms, freq FROM state{k - 1}) tp,
           unnest(range(1, len(syms))) AS u(i)
    ), best{k} AS MATERIALIZED (
      SELECT l, r, CAST(SUM(freq) AS BIGINT) AS cnt
      FROM pairs{k} GROUP BY l, r ORDER BY cnt DESC, l, r LIMIT 1
    ), bestx{k} AS (
      SELECT (SELECT l FROM best{k}) AS a, (SELECT r FROM best{k}) AS b
    ), state{k} AS MATERIALIZED (
      SELECT CASE WHEN a IS NULL THEN s ELSE list_reduce(
          string_split(s, '|'),
          (acc, x) -> CASE
            WHEN regexp_extract(acc, '([^|]*)$', 1) = a AND x = b
            THEN regexp_replace(acc, '([^|]*)$', '') || a || b
            ELSE acc || '|' || x END) END AS s, freq
      FROM state{k - 1}, bestx{k}
    )""")
    return "".join(parts)


def _bpe_merges_oracle() -> str:
    selects = " UNION ALL ".join(
        f"SELECT CAST({k} AS BIGINT) AS merge_rank, l AS left_sym, "
        f"r AS right_sym, l || r AS merged, cnt AS pair_count FROM best{k}"
        for k in range(1, _BPE_MERGES + 1)
    )
    return f"{_bpe_oracle_prefix()} SELECT * FROM ({selects}) ORDER BY merge_rank"


@query(
    "text_bpe_merge_mining",
    _bpe_merges_oracle(),
    "pipeline", "text", "tokenizer", "iterative",
)
def text_bpe_merge_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-pair-encoding tokenizer TRAINING (§2.G: the step a pretraining
    pipeline runs after corpus hygiene): mine the top `_BPE_MERGES` merge
    rules from the documents corpus. Output is the learned merge table —
    (rank, left, right, merged, weighted pair count) — integer counts and
    string symbols only, so the lossy-float trap of iterative training is
    structurally absent and the unrolled SQL replay hash-matches exactly.
    See `_bpe_learn` for the distributed shape and 100 TB cost argument."""
    merges, _ = _bpe_learn(spark, sf_dir)
    return merges.orderBy("merge_rank")


def _bpe_tokens_oracle() -> str:
    return f"""{_bpe_oracle_prefix()}
    SELECT token, CAST(SUM(freq) AS BIGINT) AS n_occurrences
    FROM (SELECT unnest(string_split(s, '|')) AS token, freq
          FROM state{_BPE_MERGES}) tt
    GROUP BY token ORDER BY token
    """


@query(
    "text_bpe_tokenize_corpus",
    _bpe_tokens_oracle(),
    "pipeline", "text", "tokenizer", "iterative",
)
def text_bpe_tokenize_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the mined BPE merges back to the corpus: the final vocabulary
    state after `_BPE_MERGES` rounds, exploded to (token, total
    occurrences). This is the APPLY path — at 100 TB the hot one: encode
    is a narrow per-row fold over broadcast merge rules; here it falls
    out of the training state directly because training already holds
    every distinct word's fully merged form, weighted by frequency (the
    corpus-pass-once reduction — see `_bpe_learn`)."""
    _, state = _bpe_learn(spark, sf_dir)
    return (
        state.select(
            F.explode(F.split("s", "[|]")).alias("token"), "freq"
        )
        .groupBy("token")
        .agg(F.sum("freq").alias("n_occurrences"))
        .orderBy("token")
    )


@query(
    "contamination_delta_theta_overlap",
    f"""
    -- Incremental corpus-diff contamination (snapshot diff x theta set-ops): the
    -- DELTA between two corpus snapshot versions is checked for
    -- benchmark overlap from bottom-K=64 theta samples of its distinct
    -- shingles vs a PERSISTED eval-set sample — built independently,
    -- never a join of the raw shingle spaces. md5 makes every sketch
    -- artifact (samples, theta, below-theta count, the IEEE estimate)
    -- exactly stateable by both engines; the exact side is the oracle's
    -- cost and the estimate's quality witness.
    WITH corpus AS (
      SELECT doc_id, text FROM documents WHERE doc_id >= 25
    ),
    delta_docs AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM corpus
      WHERE ((doc_id % 10) + 10) % 10 >= 8
    ),
    eval_docs AS (
      SELECT doc_id, string_split(text, ' ') AS w
      FROM documents WHERE doc_id < 25
    ),
    a AS (
      SELECT DISTINCT s FROM (
        SELECT unnest({_SHINGLE_SQL}) AS s FROM delta_docs
      )
    ),
    b AS (
      SELECT DISTINCT s FROM (
        SELECT unnest({_SHINGLE_SQL}) AS s FROM eval_docs
      )
    ),
    ah AS (SELECT s, md5(s) AS h FROM a),
    bh AS (SELECT s, md5(s) AS h FROM b),
    sampa AS (
      SELECT s, h FROM (
        SELECT s, h, ROW_NUMBER() OVER (ORDER BY h) AS rn FROM ah
      ) WHERE rn <= 64
    ),
    sampb AS (
      SELECT s, h FROM (
        SELECT s, h, ROW_NUMBER() OVER (ORDER BY h) AS rn FROM bh
      ) WHERE rn <= 64
    ),
    stats AS (
      SELECT
        (SELECT COUNT(*) FROM sampa) AS sample_a,
        (SELECT MAX(h) FROM sampa) AS kth_a,
        (SELECT COUNT(*) FROM sampb) AS sample_b,
        (SELECT MAX(h) FROM sampb) AS kth_b
    ),
    theta AS (
      SELECT sample_a, sample_b,
        CASE WHEN sample_a >= 64 AND sample_b >= 64 THEN LEAST(kth_a, kth_b)
             WHEN sample_a >= 64 THEN kth_a
             WHEN sample_b >= 64 THEN kth_b END AS theta_hex
      FROM stats
    ),
    interb AS (
      SELECT COUNT(*) AS n_inter_below
      FROM sampa x JOIN sampb y USING (s), theta t
      WHERE t.theta_hex IS NULL OR x.h < t.theta_hex
    ),
    ex AS (
      SELECT
        (SELECT COUNT(*) FROM delta_docs) AS n_delta_docs,
        (SELECT COUNT(*) FROM a) AS n_a_exact,
        (SELECT COUNT(*) FROM b) AS n_b_exact,
        (SELECT COUNT(*) FROM a JOIN b USING (s)) AS n_inter_exact
    )
    SELECT ex.n_delta_docs, ex.n_a_exact, ex.n_b_exact, ex.n_inter_exact,
      ex.n_inter_exact > 0 AS contaminated_exact,
      t.sample_a, t.sample_b, t.theta_hex, i.n_inter_below,
      CASE WHEN t.theta_hex IS NULL THEN CAST(i.n_inter_below AS DOUBLE)
           ELSE CAST(i.n_inter_below AS DOUBLE) * 1152921504606846976.0
                / CAST(CAST(('0x' || substr(t.theta_hex, 1, 15))
                    AS BIGINT) AS DOUBLE)
      END AS est_intersection
    FROM ex, theta t, interb i
    """,
    "pipeline", "contamination", "sketch", "snapshot", "incremental",
)
def contamination_delta_theta_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Did THIS ingest batch leak benchmarks? — the per-arrival question
    a 100 TB pipeline asks, answered in O(K) from sketches (snapshot
    diff x theta set-ops). The training corpus lives
    as a versioned snapshot table; a new ingest lands as an APPEND
    commit; ``read_delta`` reads ONLY the appended files (file-level —
    no anti-join, no scan of the base corpus, however large it has
    grown); the delta's distinct-shingle space is bottom-K=64 sampled
    and intersected with the eval set's PERSISTED sample via the theta
    estimator |A∩B| ~ n_inter_below/theta. Per arrival the cost is
    O(delta) to sketch the batch + O(K) to answer; the eval sample was
    built once, independently — the raw shingle spaces are never
    joined (or even co-located).

    The exact side (delta docs, exact distinct shingles each side, the
    exact intersection, the contaminated flag) is the ORACLE's cost and
    the estimate's quality witness; the md5-deterministic sketch
    artifacts (samples, theta, below-theta count, IEEE estimate) are
    stated exactly by both engines — the sketch_theta_set_ops contract
    composed with the snapshot format. Both samples, θ and the estimate
    are the theta sketch of operators/sketches.py; the delta sample
    build ranks with its scale-safe per-partition ``grouped_top_k``.

    Reference parity: composes the persisted-metatable pattern
    (KijiFreshnessManager.java:235-239, mMetaTable.putValue) with the
    snapshot machinery; per-ingest decontamination is the capability
    HBase-era kiji delegated to offline MapReduce joins."""
    from .operators.snapshots import commit_snapshot, read_delta

    d = load_table(spark, sf_dir, "documents")
    corpus = d.filter(F.col("doc_id") >= 25).select("doc_id", "text")

    def ingest(snap: str) -> None:
        # v1 = the standing corpus; v2 = the new ingest batch (append)
        commit_snapshot(
            corpus.filter(F.pmod(F.col("doc_id"), F.lit(10)) < 8),
            snap,
            mode="overwrite",
        )
        commit_snapshot(
            corpus.filter(F.pmod(F.col("doc_id"), F.lit(10)) >= 8), snap
        )

    snap = derived(sf_dir, "documents_corpus_snapshots", ingest, versions=2)
    delta = read_delta(spark, snap, 1, 2)

    def shingle_set(docs: DataFrame) -> DataFrame:
        return (
            docs.select(F.split(F.col("text"), " ").alias("w"))
            .select(
                F.explode(
                    F.array_distinct(_shingles_of_words(F.col("w"), 3))
                ).alias("s")
            )
            .distinct()
        )

    a_set = shingle_set(delta)
    b_set = shingle_set(d.filter(F.col("doc_id") < 25))
    # eval sample: persisted ONCE per dataset, before/independent of any
    # ingest — the serving path never rebuilds it
    epath = derived(sf_dir, "eval_shingle_theta.parquet", sk.kmv_build(b_set, "s").write.parquet)
    sampb = spark.read.parquet(epath)
    sampa = sk.kmv_build(a_set, "s")

    theta = sk.theta_stats(sampa, sampb)
    interb = sk.theta_below(
        sampa.join(F.broadcast(sampb.select("s")), "s"), theta
    ).agg(F.count(F.lit(1)).alias("n_inter_below"))

    # exact references (the oracle's cost): the eval side is
    # benchmark-sized, so its distinct-shingle set broadcasts
    ex = (
        delta.agg(F.count(F.lit(1)).alias("n_delta_docs"))
        .crossJoin(F.broadcast(a_set.agg(F.count(F.lit(1)).alias("n_a_exact"))))
        .crossJoin(F.broadcast(b_set.agg(F.count(F.lit(1)).alias("n_b_exact"))))
        .crossJoin(
            F.broadcast(
                a_set.join(F.broadcast(b_set.select("s")), "s").agg(
                    F.count(F.lit(1)).alias("n_inter_exact")
                )
            )
        )
    )

    out = ex.crossJoin(F.broadcast(theta)).crossJoin(F.broadcast(interb))
    return out.select(
        "n_delta_docs",
        "n_a_exact",
        "n_b_exact",
        "n_inter_exact",
        (F.col("n_inter_exact") > 0).alias("contaminated_exact"),
        "sample_a",
        "sample_b",
        "theta_hex",
        "n_inter_below",
        sk.theta_estimate("n_inter_below").alias("est_intersection"),
    )
