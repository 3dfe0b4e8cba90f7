"""MLlib batch scoring + Structured Streaming queries with full oracles.

MLlib batch scoring is the engine's translation of the reference's online
producers (BASELINE.json "spark_approach"; producer surface at
``KijiProducer`` → ``InternalFreshKijiTableReader.java:568-579``): instead
of a per-row produce() call inline with a read, a fitted ``PipelineModel``
transforms the whole stale partition in one distributed pass.

The scoring query here uses deterministic, closed-form MLlib stages
(VectorAssembler + StandardScaler) so the oracle can replicate the fitted
parameters in SQL — iterative trainers would score fine but could not be
hash-checked against an independent engine.

The streaming queries execute REAL StreamingQueries (file micro-batch
source → stateful operator or ``foreachBatch`` step → memory, parquet or
versioned-state sink, AvailableNow trigger) and return the result as a
batch DataFrame, so the §2.F surface gets the same oracle gate as
everything else instead of a weaker rows-only check. Each one only builds
its streaming DataFrame, its per-batch step and its result projection;
the replay files, the runner, the per-run scratch dir and the
versioned-state fold live in ``streaming/replay.py``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .queries import query
from .sources import load_table
from .streaming import shift_event_time, unshift_event_time
from .streaming.replay import (
    fold_versioned_state,
    replay_stream,
    run_available_now,
    run_scratch,
    state_member,
)


@query(
    "mllib_scored_customers",
    """
    WITH stats AS (
      SELECT avg(c_acctbal) AS mu_bal, stddev_samp(c_acctbal) AS sd_bal,
             avg(CAST(c_nationkey AS DOUBLE)) AS mu_nat,
             stddev_samp(CAST(c_nationkey AS DOUBLE)) AS sd_nat
      FROM customer WHERE c_acctbal IS NOT NULL
    )
    SELECT c_custkey,
      round(1.0 / (1.0 + exp(-(
        0.8 * (c_acctbal - mu_bal) / sd_bal
        - 0.2 * (CAST(c_nationkey AS DOUBLE) - mu_nat) / sd_nat
        + 0.1))), 9) AS churn_score
    FROM customer, stats
    WHERE c_acctbal IS NOT NULL
    ORDER BY c_custkey
    """,
    "scoring", "mllib", "kiji",
)
def mllib_scored_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MLlib batch scoring (the reference's producer surface as a
    PipelineModel): VectorAssembler → StandardScaler(withMean) fitted on
    the table, then a fixed-weight logistic layer over the scaled
    features. ``Pipeline.fit`` + ``model.transform`` run distributed;
    fitting StandardScaler is one aggregation pass (mean/std), transform
    is a narrow map — no shuffle at any scale. The oracle replays the
    closed-form fit in SQL."""
    from pyspark.ml import Pipeline
    from pyspark.ml.feature import StandardScaler, VectorAssembler
    from pyspark.ml.functions import vector_to_array

    # score only feature-complete rows: VectorAssembler errors on NULL
    # features, and a model trained on observed balances should not
    # silently score imputed ones (the oracle filters identically)
    c = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal").isNotNull())
        .withColumn("nat_d", F.col("c_nationkey").cast("double"))
    )
    if not c.take(1):
        # empty input: nothing to fit or score (take(1) costs one
        # near-empty scan only on this degenerate path)
        return spark.createDataFrame([], "c_custkey bigint, churn_score double")
    pipeline = Pipeline(
        stages=[
            VectorAssembler(inputCols=["c_acctbal", "nat_d"], outputCol="features"),
            StandardScaler(
                inputCol="features", outputCol="scaled", withMean=True, withStd=True
            ),
        ]
    )
    model = pipeline.fit(c)
    scaled = model.transform(c).withColumn("z", vector_to_array("scaled"))
    margin = (
        F.lit(0.8) * F.col("z")[0] - F.lit(0.2) * F.col("z")[1] + F.lit(0.1)
    )
    # degenerate-fit guard: with fewer than 2 rows stddev_samp is
    # undefined, the oracle's sd is NULL and its score NULL — MLlib's
    # scaler instead zero-fills, which would fabricate a score. A
    # z-score over an undefined spread is honestly NULL on both sides.
    n = c.agg(F.count(F.lit(1)).alias("__n__"))
    score = F.when(
        F.col("__n__") >= 2,
        F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-margin)), 9),
    )
    return (
        scaled.crossJoin(F.broadcast(n))
        .select("c_custkey", score.alias("churn_score"))
        .orderBy("c_custkey")
    )


@query(
    "text_tfidf_top_terms",
    r"""
    WITH docs AS (
      SELECT doc_id, lower(text) AS text FROM documents
      WHERE doc_id < 100 AND text IS NOT NULL
    ),
    toks AS (
      SELECT doc_id,
        unnest(list_filter(regexp_split_to_array(text, '\W+'), x -> x <> '')) AS term
      FROM docs
    ),
    tf AS (SELECT doc_id, term, COUNT(*) AS tfv FROM toks GROUP BY doc_id, term),
    dfreq AS (SELECT term, COUNT(*) AS dfv FROM tf GROUP BY term),
    n AS (SELECT COUNT(*) AS n_docs FROM docs)
    SELECT doc_id, term, tfidf, rn FROM (
      SELECT tf.doc_id, tf.term,
        round(tfv * ln((n_docs + 1.0) / (dfv + 1.0)), 6) AS tfidf,
        ROW_NUMBER() OVER (
          PARTITION BY tf.doc_id
          ORDER BY round(tfv * ln((n_docs + 1.0) / (dfv + 1.0)), 6) DESC, tf.term
        ) AS rn
      FROM tf JOIN dfreq USING (term), n
    ) t WHERE rn <= 3 ORDER BY doc_id, rn
    """,
    "text", "mllib", "pipeline",
)
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF top-3 terms per document through MLlib text-vectorization
    stages (SURVEY §2.G text row): RegexTokenizer → CountVectorizer for
    term frequencies, then the (deterministic, closed-form) IDF formula
    MLlib's IDF stage uses — ln((m+1)/(df+1)) — applied JVM-side so the
    DuckDB oracle can replay it exactly. The fitted vocabulary maps vector
    indices back to term strings via a broadcast join, so vocabulary
    ordering (which is tie-unstable) never affects the result.

    Scale: CountVectorizer's fit is one distributed agg; the dense
    vector_to_array explode is bounded here by the 100-doc probe set — at
    corpus scale the same pipeline keeps TF as (doc, term, count) rows
    (the toks/tf CTE shape) and never densifies."""
    from pyspark.ml.feature import CountVectorizer, RegexTokenizer
    from pyspark.ml.functions import vector_to_array
    from pyspark.sql import Window

    docs = (
        load_table(spark, sf_dir, "documents")
        .filter((F.col("doc_id") < 100) & F.col("text").isNotNull())
        .select("doc_id", "text")
    )
    tokenized = RegexTokenizer(
        inputCol="text", outputCol="tokens", pattern=r"\W+"
    ).transform(docs)
    cvm = CountVectorizer(inputCol="tokens", outputCol="tf").fit(tokenized)
    tf_rows = (
        cvm.transform(tokenized)
        .select("doc_id", F.posexplode(vector_to_array("tf")).alias("idx", "tfv"))
        .filter(F.col("tfv") > 0)
    )
    vocab = F.broadcast(
        spark.createDataFrame(
            list(enumerate(cvm.vocabulary)), "idx INT, term STRING"
        )
    )
    dfreq = tf_rows.groupBy("idx").agg(F.count(F.lit(1)).alias("dfv"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    tfidf = F.round(
        F.col("tfv") * F.log((F.col("n_docs") + 1.0) / (F.col("dfv") + 1.0)), 6
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        tf_rows.join(dfreq, "idx")
        .join(vocab, "idx")
        .crossJoin(F.broadcast(n_docs))
        .withColumn("tfidf", tfidf)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "term", "tfidf", "rn")
        .orderBy("doc_id", "rn")
    )


@query(
    "text_bigrams_mllib",
    r"""
    WITH docs AS (
      SELECT doc_id,
        list_filter(regexp_split_to_array(lower(text), '\W+'), x -> x <> '') AS toks
      FROM documents WHERE doc_id < 200 AND text IS NOT NULL
    ),
    bg AS (
      SELECT doc_id,
        unnest(list_transform(generate_series(1, len(toks) - 1),
                              i -> toks[i] || ' ' || toks[i + 1])) AS bigram
      FROM docs
    )
    SELECT bigram, COUNT(*) AS n FROM bg
    GROUP BY bigram ORDER BY n DESC, bigram LIMIT 20
    """,
    "text", "mllib", "pipeline",
)
def text_bigrams_mllib(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 bigrams via MLlib's RegexTokenizer → NGram(n=2) stages
    (SURVEY §2.G). Scale: tokenize/ngram are narrow maps; the only shuffle
    is the final bigram count — partial-aggregated, top-k bounded."""
    from pyspark.ml.feature import NGram, RegexTokenizer

    docs = (
        load_table(spark, sf_dir, "documents")
        .filter((F.col("doc_id") < 200) & F.col("text").isNotNull())
        .select("doc_id", "text")
    )
    tokenized = RegexTokenizer(
        inputCol="text", outputCol="tokens", pattern=r"\W+"
    ).transform(docs)
    with_bigrams = NGram(n=2, inputCol="tokens", outputCol="bigrams").transform(tokenized)
    return (
        with_bigrams.select(F.explode("bigrams").alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("bigram"))
        .limit(20)
    )


def word2vec_synonyms(
    spark: SparkSession, sf_dir: str, num_partitions: int, k: int = 5
) -> DataFrame:
    """Fit Word2Vec on the 200-doc probe corpus and return the k nearest
    neighbors of the corpus's most frequent token.

    ``num_partitions`` controls BOTH the input layout (hash-repartitioned
    on doc_id, so the layout is deterministic regardless of scan split
    count) and the trainer's ``numPartitions``:

    - ``1``: bit-reproducible fit (fixed seed, one task) — the pinned
      exact variant, kept ONLY for the determinism unit test. At 100×
      data a single-task fit is THE bottleneck (round-3 verdict's one
      scale-killer), so no query uses it.
    - ``>1``: the scale shape. Multi-partition skip-gram training
      aggregates float updates in task-completion order, so exact vectors
      may jitter run-to-run; correctness is therefore gated on top-k
      neighbor-SET stability (tests/test_word2vec.py), not exact values.
    """
    from pyspark.ml.feature import RegexTokenizer, Word2Vec

    docs = (
        load_table(spark, sf_dir, "documents")
        .filter((F.col("doc_id") < 200) & F.col("text").isNotNull())
        .select("doc_id", "text")
    )
    tokenized = (
        RegexTokenizer(inputCol="text", outputCol="tokens", pattern=r"\W+")
        .transform(docs)
        .repartition(num_partitions, "doc_id")
    )
    top_row = (
        tokenized.select(F.explode("tokens").alias("tok"))
        .groupBy("tok")
        .count()
        .orderBy(F.desc("count"), F.asc("tok"))
        .first()
    )
    if top_row is None:
        # empty corpus: no vocabulary, no neighbors
        return spark.createDataFrame([], "word string, similarity double")
    top_token = (
        top_row["tok"]
    )
    model = Word2Vec(
        vectorSize=16, minCount=2, seed=42, numPartitions=num_partitions,
        inputCol="tokens", outputCol="vec",
    ).fit(tokenized)
    return (
        model.findSynonyms(top_token, k)
        .select("word", F.round("similarity", 6).alias("similarity"))
    )


@query(
    "text_word2vec_neighbors",
    r"""
    -- structure-contract oracle (r11): DuckDB states the DETERMINISTIC
    -- half of the pipeline — tokenization, vocab (minCount>=2), probe
    -- token, neighbor-count arithmetic — plus constant-TRUE flags for
    -- the trained half, whose exact values no closed-form oracle can
    -- state (multi-partition skip-gram sums float gradients in task
    -- order). RegexTokenizer(\W+, lowercase) == regexp_split_to_array
    WITH toks AS (
      SELECT unnest(list_filter(regexp_split_to_array(lower(text), '\W+'),
                                x -> x <> '')) AS tok
      FROM documents WHERE doc_id < 200 AND text IS NOT NULL
    ),
    cnts AS (SELECT tok, COUNT(*) AS n FROM toks GROUP BY tok),
    top AS (SELECT tok, n FROM cnts ORDER BY n DESC, tok ASC LIMIT 1),
    vocab AS (SELECT COUNT(*) AS vocab_size FROM cnts WHERE n >= 2)
    SELECT
      (SELECT tok FROM top) AS top_token,
      (SELECT vocab_size FROM vocab) AS vocab_size,
      CAST(CASE WHEN COALESCE((SELECT n FROM top), 0) >= 2
                 AND (SELECT vocab_size FROM vocab) >= 2
            THEN LEAST(5, (SELECT vocab_size FROM vocab) - 1)
            ELSE 0 END AS BIGINT) AS n_neighbors,
      TRUE AS neighbors_in_vocab,
      TRUE AS sims_in_unit_range,
      TRUE AS sims_nonincreasing,
      TRUE AS excludes_probe
    """,
    "text", "mllib", "pipeline",
)
def text_word2vec_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word2Vec (SURVEY §2.G text row): embed the 200-doc probe corpus,
    find the 5 nearest neighbors of the corpus's most frequent token, and
    return the one-row STRUCTURE CONTRACT of that result.

    Formerly the one rows-only registry entry; the r10 verdict asked for
    either a permanent sign-off or a structure-contract oracle, and this
    is the latter (the DDSketch/Misra-Gries flag pattern). Exact trained
    values can never be hash-gated: skip-gram training applies float
    gradient updates whose accumulation order depends on partition
    scheduling, and float addition is non-associative — pinning a value
    hash would pin a scheduler artifact. What IS deterministic is
    everything around the training, and the oracle now states it exactly:
    the probe token (count DESC, tok ASC over the RegexTokenizer stream),
    the vocabulary size under minCount=2, and the neighbor count
    min(5, vocab-1). The trained half is asserted as contract flags the
    oracle pins constant-TRUE: every neighbor is a vocab word, cosine
    similarities lie in [-1, 1] and arrive non-increasing, and the probe
    word is excluded from its own neighborhood. Neighbor-SET stability
    across independent fits stays pinned by tests/test_word2vec.py.

    Scale: the fit is multi-partition (4-way here; proportional on a real
    cluster) — MLlib distributes skip-gram minibatches — and the synonym
    lookup is a top-k over the (vocab × dim) matrix — vocab-bounded,
    never data-bounded; the contract flags join the ≤5-row synonym frame
    against the vocab counts, broadcast."""
    from pyspark.ml.feature import RegexTokenizer, Word2Vec
    from pyspark.sql import Window

    out_schema = (
        "top_token string, vocab_size long, n_neighbors long, "
        "neighbors_in_vocab boolean, sims_in_unit_range boolean, "
        "sims_nonincreasing boolean, excludes_probe boolean"
    )
    docs = (
        load_table(spark, sf_dir, "documents")
        .filter((F.col("doc_id") < 200) & F.col("text").isNotNull())
        .select("doc_id", "text")
    )
    tokenized = (
        RegexTokenizer(inputCol="text", outputCol="tokens", pattern=r"\W+")
        .transform(docs)
        .repartition(4, "doc_id")
    )
    counts = (
        tokenized.select(F.explode("tokens").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # the probe token must cross the driver (findSynonyms takes a str);
    # the vocab size rides along in the same 1-row action
    head = (
        counts.orderBy(F.desc("n"), F.asc("tok"))
        .limit(1)
        .crossJoin(
            F.broadcast(
                counts.filter(F.col("n") >= 2).agg(
                    F.count(F.lit(1)).alias("vocab_size")
                )
            )
        )
        .collect()
    )
    if not head or head[0].n < 2 or head[0].vocab_size < 2:
        # degenerate corpus: no trainable vocabulary (or no trainable
        # CONTEXT) — the contract row with zero neighbors, flags
        # trivially TRUE, mirroring the oracle's CASE arm
        top_tok = head[0].tok if head else None
        vsize = head[0].vocab_size if head else 0
        return spark.createDataFrame(
            [(top_tok, vsize, 0, True, True, True, True)], out_schema
        )
    top_token, vocab_size = head[0].tok, head[0].vocab_size

    model = Word2Vec(
        vectorSize=16, minCount=2, seed=42, numPartitions=4,
        inputCol="tokens", outputCol="vec",
    ).fit(tokenized)
    syn = model.findSynonyms(top_token, 5).withColumn(
        "pos", F.monotonically_increasing_id()
    )
    vocab_words = counts.filter(F.col("n") >= 2).select(
        F.col("tok").alias("vword")
    )
    flags = (
        syn.withColumn(
            "prev_sim", F.lag("similarity").over(Window.orderBy("pos"))
        )
        .join(F.broadcast(vocab_words), syn.word == vocab_words.vword, "left")
        .agg(
            F.count(F.lit(1)).alias("n_neighbors"),
            F.coalesce(F.bool_and(F.col("vword").isNotNull()), F.lit(True)).alias(
                "neighbors_in_vocab"
            ),
            # float32-appropriate epsilon (ADVICE r11): MLlib stores
            # float32 vectors and findSynonyms cosine arithmetic can
            # exceed 1.0 by ~1e-7 for near-parallel vectors; 1e-9 would
            # flip the flag FALSE and break the constant-TRUE oracle.
            F.coalesce(
                F.bool_and(F.abs("similarity") <= 1.0 + 1e-6), F.lit(True)
            ).alias("sims_in_unit_range"),
            F.coalesce(
                F.bool_and(
                    F.col("prev_sim").isNull()
                    | (F.col("similarity") <= F.col("prev_sim"))
                ),
                F.lit(True),
            ).alias("sims_nonincreasing"),
            F.coalesce(
                F.bool_and(F.col("word") != F.lit(top_token)), F.lit(True)
            ).alias("excludes_probe"),
        )
    )
    return flags.select(
        F.lit(top_token).alias("top_token"),
        F.lit(vocab_size).cast("long").alias("vocab_size"),
        F.col("n_neighbors").cast("long"),
        "neighbors_in_vocab",
        "sims_in_unit_range",
        "sims_nonincreasing",
        "excludes_probe",
    )


@query(
    "text_neighbors_fixed_vectors",
    r"""
    WITH toks AS (
      SELECT unnest(list_filter(regexp_split_to_array(lower(text), '\W+'),
                                x -> x <> '')) AS tok
      FROM documents WHERE doc_id < 200 AND text IS NOT NULL
    ),
    vocab AS (SELECT tok, COUNT(*) AS n FROM toks GROUP BY tok
              HAVING COUNT(*) >= 2),
    vecs AS (
      SELECT tok, n, list_transform(range(1, 9), j ->
        (length(tok) * j
         + ascii(substr(tok, 1, 1)) * ((j * j) % 13 + 1)
         + ascii(substr(tok, length(tok), 1)) * ((j % 5) + 1)
         + (CASE WHEN length(tok) >= 2 THEN ascii(substr(tok, 2, 1))
                 ELSE 7 END) * ((j % 3) + 1)
        ) % 101 - 50) AS v
      FROM vocab
    ),
    top AS (SELECT tok AS top_tok, v AS top_v FROM vecs
            ORDER BY n DESC, tok ASC LIMIT 1),
    scored AS (
      SELECT vecs.tok AS word,
        CASE WHEN list_dot_product(vecs.v, vecs.v) = 0
               OR list_dot_product(top.top_v, top.top_v) = 0 THEN 0.0
             ELSE list_dot_product(top.top_v, vecs.v)
                  / (sqrt(CAST(list_dot_product(top.top_v, top.top_v) AS DOUBLE))
                     * sqrt(CAST(list_dot_product(vecs.v, vecs.v) AS DOUBLE)))
        END AS sim
      FROM vecs CROSS JOIN top
      WHERE vecs.tok <> top.top_tok
    )
    SELECT word, ROUND(sim, 6) AS similarity FROM scored
    ORDER BY ROUND(sim, 6) DESC, word ASC LIMIT 5
    """,
    "text", "pipeline",
)
def text_neighbors_fixed_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-neighbor ranking of the corpus's most frequent token under a
    FIXED deterministic embedding — the hash-verifiable half of the
    Word2Vec pipeline (round-6 verdict task 6).

    `text_word2vec_neighbors` holds its trained half under a
    structure-contract oracle (r11) because skip-gram training accumulates
    float gradients in scheduler order — no closed-form oracle can state
    the trained VALUES. But everything AROUND the training — tokenization, vocab
    build (minCount>=2), top-token selection, cosine top-k over the
    (vocab x dim) matrix — IS deterministic, so this query runs that exact
    pipeline with vectors injected as a pure function of the token text
    (per-dim integer arithmetic over codepoints, values in [-50, 50]).
    The dot products and norms are exact integers in both engines; the one
    double division per pair is bit-identical; ROUND(…,6) absorbs the last
    ulp. Ordering is (rounded sim DESC, word ASC) so the top-5 cut is
    total in both engines.

    Scale: the vocab is data-bounded but the probe is ONE broadcast row —
    the cosine scan is a narrow map over vocab with a top-k bounded sort,
    the same plan shape `similarity_cosine_topk` uses for real embeddings.
    Tokens survive `\\W+` splitting, so they are pure ASCII word chars in
    BOTH engines (Java and RE2 `\\w` are ASCII by default) and
    `ascii()`/`length()`/`substr()` agree byte-for-byte."""
    docs = (
        load_table(spark, sf_dir, "documents")
        .filter((F.col("doc_id") < 200) & F.col("text").isNotNull())
        .select("text")
    )
    toks = (
        docs.select(F.explode(F.split(F.lower("text"), r"\W+")).alias("tok"))
        .filter(F.col("tok") != "")
    )
    vocab = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("n")).filter(F.col("n") >= 2)

    def fixed_vec(t: F.Column) -> F.Column:
        second = F.when(F.length(t) >= 2, F.ascii(F.substring(t, 2, 1))).otherwise(
            F.lit(7)
        )
        return F.transform(
            F.sequence(F.lit(1), F.lit(8)),
            lambda j: (
                F.length(t) * j
                + F.ascii(F.substring(t, 1, 1)) * ((j * j) % 13 + 1)
                + F.ascii(F.substr(t, F.length(t), F.lit(1))) * ((j % 5) + 1)
                + second * ((j % 3) + 1)
            )
            % 101
            - 50,
        )

    vecs = vocab.withColumn("v", fixed_vec(F.col("tok")))
    top = (
        vecs.orderBy(F.desc("n"), F.asc("tok"))
        .limit(1)
        .select(F.col("tok").alias("top_tok"), F.col("v").alias("top_v"))
    )

    def dot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    scored = (
        vecs.crossJoin(F.broadcast(top))
        .filter(F.col("tok") != F.col("top_tok"))
        .withColumn("dp", dot(F.col("top_v"), F.col("v")))
        .withColumn("nt", dot(F.col("top_v"), F.col("top_v")))
        .withColumn("nv", dot(F.col("v"), F.col("v")))
        .withColumn(
            "sim",
            F.when((F.col("nv") == 0) | (F.col("nt") == 0), F.lit(0.0)).otherwise(
                F.col("dp").cast("double")
                / (
                    F.sqrt(F.col("nt").cast("double"))
                    * F.sqrt(F.col("nv").cast("double"))
                )
            ),
        )
    )
    return (
        scored.select(F.col("tok").alias("word"), F.round("sim", 6).alias("similarity"))
        .orderBy(F.desc("similarity"), F.asc("word"))
        .limit(5)
    )



def _stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-stream source over the events table, robust to BOTH on-disk
    layouts a lake really has. A single file ``events.parquet`` (the
    testdata shape) streams via the parent dir + a ``pathGlobFilter``,
    since the file source wants a directory to list; a DIRECTORY
    ``events.parquet/`` of part files (the fragmented regime — and every
    real warehouse table at 100 TB) streams directly, because
    ``pathGlobFilter`` matches LEAF file names and would see zero files
    inside the directory. Round 9's fragmented sweep caught exactly
    that: eight streaming queries returned empty results on a
    directory-layout table before this helper existed. Returns the raw
    stream; callers apply their own ts normalization (the nanos-vs-
    micros cast differs per query)."""
    path = os.path.join(sf_dir, "events.parquet")
    # mergeSchema: the schema probe must see columns that exist only in
    # later part files (schema evolution — see sources.load_table); the
    # stream's per-file reads then null-fill them for pre-evolution parts.
    raw_schema = spark.read.option("mergeSchema", "true").parquet(path).schema
    if os.path.isdir(path):
        return spark.readStream.schema(raw_schema).parquet(path)
    return (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )


@query(
    "streaming_hourly_event_stats",
    """
    SELECT date_trunc('hour', ts) AS window_start,
      count(*) AS n_events,
      CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY window_start ORDER BY window_start
    """,
    "streaming", "agg",
)
def streaming_hourly_event_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window aggregation executed as a REAL StreamingQuery
    (§2.F): parquet micro-batch source → groupBy(window(ts, '1 hour')) →
    memory sink, AvailableNow trigger, then the sink table is returned as
    the batch result. Complete output mode because the bounded replay must
    emit every window, including ones a watermark would hold open.
    Scale: the window agg is incremental state-store aggregation — state
    is one row per open window, never raw events; on an unbounded source
    you'd add ``withWatermark`` to expire windows (see
    streaming.with_watermark and tests/test_streaming.py)."""
    ev_schema = load_table(spark, sf_dir, "events").schema
    stream = _stream_events(spark, sf_dir)
    if dict(stream.dtypes).get("ts") == "bigint":
        stream = stream.withColumn(
            "ts", F.expr("CAST(timestamp_micros(ts DIV 1000) AS timestamp_ntz)")
        )
    agg = stream.groupBy(F.window("ts", "1 hour").alias("w")).agg(
        F.count("*").alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
    )
    sink = "streaming_hourly_event_stats_sink"
    run_available_now(agg, 2, memory=sink, output_mode="complete")
    return (
        spark.table(sink)
        .select(
            F.col("w.start").cast(ev_schema["ts"].dataType).alias("window_start"),
            "n_events",
            "sum_value",
        )
        .orderBy("window_start")
    )


@query(
    "session_window_user_sessions",
    """
    WITH marked AS (
      SELECT user_id, ts, event_id, value,
        CASE WHEN lag(ts) OVER w IS NULL
             OR ts - lag(ts) OVER w >= INTERVAL 4 HOUR THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
      SELECT user_id, ts, value,
        sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS UNBOUNDED PRECEDING) AS sid
      FROM marked
    )
    SELECT user_id, min(ts) AS session_start, count(*) AS n_events,
      CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM sess GROUP BY user_id, sid
    ORDER BY user_id, session_start
    """,
    "streaming", "window", "agg",
)
def session_window_user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (§2.F): per-user activity sessions closed by 4 hours
    of inactivity, via ``session_window`` — the same incremental operator
    Structured Streaming uses (update-mode streaming run covered in
    tests/test_streaming.py). The oracle proves the gap-merge semantics
    independently with lag + cumulative-sum sessionization.
    Scale: one shuffle on user_id; state per open session is a single
    (start, end, aggregates) row."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "4 hours").alias("w"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            "n_events",
            "sum_value",
        )
        .orderBy("user_id", "session_start")
    )


def _embed_oracle() -> str:
    # r7 (real codec): the embedding is the normalized 8-bin intensity
    # histogram of the DECODED raster — pixel i = ord(text[i]) % 256, pads
    # of 0 filling the final row of 16 (pads land in bin 0). Exact integer
    # counts with one double division per component: bit-identical on both
    # engines at any corpus size, every codepoint (char-level ord).
    pad = " + (total - n)"  # zero pads contribute to bin 0 only
    dims = ",\n      ".join(
        f"CAST(len(list_filter(b, v -> v = {i})){pad if i == 0 else ''} AS DOUBLE)"
        f" / total AS e{i}"
        for i in range(8)
    )
    return f"""
    WITH t AS (
      SELECT doc_id, length(text) AS n,
        16 * greatest(1, (length(text) + 15) // 16) AS total,
        list_transform(generate_series(1, length(text)),
                       i -> (ord(substr(text, i, 1)) % 256) // 32) AS b
      FROM documents WHERE text IS NOT NULL
    )
    SELECT doc_id AS media_id,
      {dims}
    FROM t ORDER BY media_id
    """


@query("multimodal_payload_embeddings", _embed_oracle(), "multimodal", "pipeline")
def multimodal_payload_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Payload → embedding feature-extraction stage (multimodal training
    pipelines) — REAL features as of round 7: payloads are genuine PNGs
    (synthesized from text by the fixture stage) and the embedding is the
    normalized intensity histogram of the DECODED pixels
    (operators/multimodal.embed_payloads — a classic pre-neural image
    descriptor). Exploded to one column per dimension so the oracle checks
    every component exactly against the raster math replayed from text."""
    from .operators import multimodal as mm

    # a NULL body is a missing asset: dropped before embedding (both sides)
    d = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    png = mm.synthesize_png_payloads(d, "doc_id", "text")
    media = mm.attach_media_columns(png, "media_id", "payload")
    emb = mm.embed_payloads(media, dim=8)
    return emb.select(
        "media_id", *[F.col("embedding")[i].alias(f"e{i}") for i in range(8)]
    ).orderBy("media_id")


@query(
    "streaming_sliding_window_counts",
    """
    WITH expanded AS (
      SELECT unnest([date_trunc('hour', ts) - INTERVAL 1 HOUR,
                     date_trunc('hour', ts)]) AS window_start,
             value
      FROM events
    )
    SELECT window_start, count(*) AS n_events,
      CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM expanded GROUP BY window_start ORDER BY window_start
    """,
    "streaming", "agg", "window",
)
def streaming_sliding_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window aggregation (§2.F): 2-hour windows sliding every
    hour, executed as a REAL StreamingQuery like
    streaming_hourly_event_stats. Every event lands in exactly two
    windows; the oracle expands that membership explicitly (unnest of the
    two aligned window starts) — proving Spark's slide semantics, not
    just re-running them.
    Scale: state is one row per open window; slide/width only change the
    per-event fan-out (2 here), not the state shape."""
    ev_schema = load_table(spark, sf_dir, "events").schema
    stream = _stream_events(spark, sf_dir)
    if dict(stream.dtypes).get("ts") == "bigint":
        stream = stream.withColumn(
            "ts", F.expr("CAST(timestamp_micros(ts DIV 1000) AS timestamp_ntz)")
        )
    agg = stream.groupBy(
        F.window("ts", "2 hours", "1 hour").alias("w")
    ).agg(
        F.count("*").alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
    )
    sink = "streaming_sliding_window_counts_sink"
    run_available_now(agg, 8, memory=sink, output_mode="complete")
    return (
        spark.table(sink)
        .select(
            F.col("w.start").cast(ev_schema["ts"].dataType).alias("window_start"),
            "n_events",
            "sum_value",
        )
        .orderBy("window_start")
    )


@query(
    "streaming_static_join_segments",
    """
    SELECT c_mktsegment, count(*) AS n_events,
      CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events JOIN customer ON user_id = c_custkey
    GROUP BY c_mktsegment ORDER BY c_mktsegment
    """,
    "streaming", "join", "agg",
)
def streaming_static_join_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join (§2.F, the A9 side-input analog): the event
    stream enriches against the static customer dimension per micro-batch
    (broadcast on the static side), then aggregates by segment — run as a
    real StreamingQuery into a memory sink. The oracle is the equivalent
    batch join.
    Scale: the static side broadcasts once per batch; stream state is one
    row per segment."""
    ev_schema = load_table(spark, sf_dir, "events").schema
    stream = _stream_events(spark, sf_dir)
    if dict(stream.dtypes).get("ts") == "bigint":
        stream = stream.withColumn(
            "ts", F.expr("CAST(timestamp_micros(ts DIV 1000) AS timestamp_ntz)")
        )
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    joined = stream.join(
        F.broadcast(cust), stream["user_id"] == cust["c_custkey"]
    )
    agg = joined.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
    )
    sink = "streaming_static_join_segments_sink"
    run_available_now(agg, 8, memory=sink, output_mode="complete")
    return spark.table(sink).orderBy("c_mktsegment")


@query(
    "streaming_dedup_event_keys",
    """
    SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_keys
    FROM events GROUP BY event_type ORDER BY event_type
    """,
    "streaming", "dedup",
)
def streaming_dedup_event_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact deduplication (§2.F × §2.G): a REAL StreamingQuery
    runs state-store ``dropDuplicates`` on (user_id, event_type) — first
    arrival wins, later duplicates are dropped across micro-batches —
    into an append-mode memory sink; the sink is then aggregated to
    distinct-key counts per event type, which is arrival-order-insensitive
    and therefore oracle-checkable (WHICH row survives dedup depends on
    file order; HOW MANY survive does not).
    Scale: dedup state is one row per distinct key. On an unbounded
    source bound it with ``dropDuplicatesWithinWatermark`` (streaming/
    __init__.py) so expired keys leave the store; the bounded replay here
    needs no watermark because AvailableNow drains and terminates."""
    load_table(spark, sf_dir, "events")  # sets the nanos-parquet conf
    stream = _stream_events(spark, sf_dir)
    deduped = stream.select("user_id", "event_type").dropDuplicates(
        ["user_id", "event_type"]
    )
    sink = "streaming_dedup_event_keys_sink"
    run_available_now(deduped, 8, memory=sink)
    return (
        spark.table(sink)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_keys"))
        .orderBy("event_type")
    )


@query(
    "streaming_watermark_late_drop",
    """
    WITH e AS (
      SELECT ts FROM events WHERE user_id < 30
    ), mx AS (
      SELECT max(ts) AS m FROM e
    ), counted AS (
      SELECT ts FROM e, mx WHERE ts >= m - INTERVAL 4 DAY
    )
    SELECT date_trunc('hour', ts) AS window_start,
      COUNT(*) AS n_events
    FROM counted, mx
    GROUP BY window_start, m
    HAVING window_start + INTERVAL 1 HOUR <= m - INTERVAL 10 MINUTE
    ORDER BY window_start
    """,
    "streaming", "watermark", "late-drop",
)
def streaming_watermark_late_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark LATE-DROP as a driver-checked query (§2.F row 1 — was
    local-test-only): the events slice is replayed as THREE mtime-ordered
    micro-batches, one file per trigger — newest two days first, then
    days 2-4, then everything older as the straggler file.

    Spark 4 runs TWO watermarks per batch (SPARK-24588 semantics): late
    records are FILTERED with the watermark that was operative during the
    previous batch, while state EVICTION uses the freshly advanced one.
    So batch 1's tranche (2-4 days old) is admitted-then-evicted — it
    still counts — and only batch 2's stragglers meet an already-advanced
    filter watermark (max(ts) − 10 min, set after batch 0) and are
    DROPPED before touching state. The oracle states exactly that
    contract: counts come from the two newest tranches only (ts >=
    max − 4 days), the straggler file contributes nothing, and append
    mode emits precisely the windows whose end the watermark passed
    (HAVING window_end <= max(ts) − 10 min — the final hour stays open).

    Scale: this is the bounded-state guarantee that lets a 100 TB/day
    stream run in fixed memory — state holds only open windows; late
    data costs a filter, not a recompute. File order is pinned by mtime
    (the file source sorts by (modTime, path)), making the watermark
    sequence — and therefore the result — deterministic."""
    ev_schema = load_table(spark, sf_dir, "events").schema
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id") < 30)
        .select(F.col("ts").cast("timestamp").alias("ts"))
    )
    # tranche bounds derived IN-PLAN (no driver-side collect)
    mx = ev.agg(F.max("ts").alias("m"))
    evm = ev.crossJoin(F.broadcast(mx))
    cut2 = F.col("m") - F.expr("INTERVAL 2 DAYS")
    cut4 = F.col("m") - F.expr("INTERVAL 4 DAYS")
    b0 = evm.filter(F.col("ts") >= cut2).select("ts")
    b1 = evm.filter((F.col("ts") >= cut4) & (F.col("ts") < cut2)).select("ts")
    b2 = evm.filter(F.col("ts") < cut4).select("ts")

    stream = replay_stream(spark, "kss_latedrop", sf_dir, (b0, b1, b2), "ts timestamp")
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    sink = "streaming_watermark_late_drop_sink"
    run_available_now(agg, 2, memory=sink)
    return (
        spark.table(sink)
        .select(
            F.col("w.start").cast(ev_schema["ts"].dataType).alias("window_start"),
            "n_events",
        )
        .orderBy("window_start")
    )


@query(
    "streaming_stateful_running_user_totals",
    """
    WITH e AS (
      SELECT user_id, CAST(ROUND(value * 100) AS BIGINT) AS cents, ts
      FROM events WHERE user_id < 50
    ), mx AS (
      SELECT max(ts) AS m FROM e
    ), tagged AS (
      SELECT user_id, cents,
        CASE WHEN ts < m - INTERVAL 15 DAY THEN 0 ELSE 1 END AS b
      FROM e, mx
    ), per AS (
      -- COALESCE: the state op counts every event but sums OBSERVED
      -- cents (pandas .sum() skips NaN), so an all-NULL batch adds 0
      SELECT user_id, b, COUNT(*) AS n, COALESCE(SUM(cents), 0) AS c
      FROM tagged GROUP BY user_id, b
    )
    SELECT user_id,
      CAST(SUM(n) OVER w AS BIGINT) AS n_events_so_far,
      CAST(SUM(c) OVER w AS BIGINT) AS cents_so_far
    FROM per
    WINDOW w AS (PARTITION BY user_id ORDER BY b)
    ORDER BY user_id, n_events_so_far
    """,
    "streaming", "stateful",
)
def streaming_stateful_running_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSTOM STATEFUL OPERATOR as a driver-checked query (§2.F stateful
    row — was local-test-only): per-user running totals maintained in
    ``applyInPandasWithState`` across a deterministic two-batch replay
    (chronological halves split at max(ts) − 15 days, file order pinned
    by mtime). Each micro-batch invokes the state function once per user
    WITH data in that batch, which emits the post-update running
    (count, cents) — so the output is one cumulative row per (user,
    batch-with-data), and the oracle reproduces it exactly with a
    per-batch aggregate + a running-sum window over the batch index.
    This is the freshness-capsule state shape (reference's per-entity
    scoring state) under the exact-value gate instead of a local golden.

    NULL contract (pinned by the key-level null regime, round 6): the
    state op counts EVERY event but accumulates only OBSERVED cents —
    a NULL value contributes nothing, and a user with no observed
    values carries 0, not NULL (state must stay a concrete number to
    merge). The oracle states the same rule with COALESCE(SUM, 0).

    Scale: state is two longs per user, partitioned by the grouping key
    across state stores; Arrow batches stream per group — no
    driver-side anything. Cents are computed JVM-side before the pandas
    stage so the Python function only sums exact integers (no float
    rounding divergence between engines)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id") < 50)
        .select(
            "user_id",
            F.round(F.col("value") * 100).cast("long").alias("cents"),
            F.col("ts").cast("timestamp").alias("ts"),
        )
    )
    mx = ev.agg(F.max("ts").alias("m"))
    evm = ev.crossJoin(F.broadcast(mx))
    cut = F.col("m") - F.expr("INTERVAL 15 DAYS")
    b0 = evm.filter(F.col("ts") < cut).select("user_id", "cents")
    b1 = evm.filter(F.col("ts") >= cut).select("user_id", "cents")

    def running_totals(key, pdfs, state: GroupState):
        n, c = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            c += int(pdf["cents"].sum())
        state.update((n, c))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events_so_far": [n], "cents_so_far": [c]}
        )

    stream = replay_stream(
        spark, "kss_stateful", sf_dir, (b0, b1), "user_id long, cents long"
    )
    updates = stream.groupBy("user_id").applyInPandasWithState(
        running_totals,
        outputStructType="user_id long, n_events_so_far long, cents_so_far long",
        stateStructType="n long, c long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    sink = "streaming_stateful_running_user_totals_sink"
    run_available_now(updates, 2, memory=sink, output_mode="update")
    return spark.table(sink).orderBy("user_id", "n_events_so_far")


@query(
    "streaming_foreachbatch_merge_upsert",
    """
    WITH e AS (
      SELECT user_id, CAST(ROUND(value * 100) AS BIGINT) AS cents, ts
      FROM events WHERE user_id < 50
    ), mx AS (
      SELECT max(ts) AS m FROM e
    ), tagged AS (
      SELECT user_id, cents,
        CASE WHEN ts < m - INTERVAL 15 DAY THEN 0 ELSE 1 END AS b
      FROM e, mx
    )
    SELECT user_id,
      COUNT(*) AS n_events,
      CAST(COALESCE(SUM(cents), 0) AS BIGINT) AS cents_total,
      CAST(COUNT(DISTINCT b) AS BIGINT) AS batches_seen
    FROM tagged
    GROUP BY user_id
    ORDER BY user_id
    """,
    "streaming", "sink", "merge",
)
def streaming_foreachbatch_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch MERGE-upsert materialization (§2.F sink row — was
    local-test-only): each micro-batch of the deterministic two-file
    replay is aggregated per user and MERGED (full-outer, sum/accumulate,
    batches_seen increment) into a versioned parquet state table — the
    incremental-dimension-maintenance pattern a warehouse runs with
    foreachBatch + MERGE when the sink has no native upsert. The final
    state version is the result; the oracle recomputes per-user totals
    and the number of DISTINCT batches each user appeared in, so a
    skipped batch, a double-applied batch, or a broken merge join all
    shift values and fail the hash.

    Scale: per-batch work is one partial-aggregated shuffle of the batch
    plus a key-partitioned merge join against current state; versioned
    directories give atomic swap (readers never see a half-written
    state) — the same manifest discipline as the file sink. State size
    is one row per entity, independent of stream length."""
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id") < 50)
        .select(
            "user_id",
            F.round(F.col("value") * 100).cast("long").alias("cents"),
            F.col("ts").cast("timestamp").alias("ts"),
        )
    )
    mx = ev.agg(F.max("ts").alias("m"))
    evm = ev.crossJoin(F.broadcast(mx))
    cut = F.col("m") - F.expr("INTERVAL 15 DAYS")
    b0 = evm.filter(F.col("ts") < cut).select("user_id", "cents")
    b1 = evm.filter(F.col("ts") >= cut).select("user_id", "cents")

    def merge_batch(batch_df: DataFrame, prev: DataFrame | None) -> DataFrame:
        agg = batch_df.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("cents").alias("cents_total"),
            F.lit(1).cast("long").alias("batches_seen"),
        )
        if prev is None:
            return agg
        return (
            prev.alias("p")
            .join(agg.alias("n"), "user_id", "full_outer")
            .select(
                "user_id",
                (
                    F.coalesce(F.col("p.n_events"), F.lit(0))
                    + F.coalesce(F.col("n.n_events"), F.lit(0))
                ).alias("n_events"),
                (
                    F.coalesce(F.col("p.cents_total"), F.lit(0))
                    + F.coalesce(F.col("n.cents_total"), F.lit(0))
                ).alias("cents_total"),
                (
                    F.coalesce(F.col("p.batches_seen"), F.lit(0))
                    + F.coalesce(F.col("n.batches_seen"), F.lit(0))
                ).alias("batches_seen"),
            )
        )

    stream = replay_stream(
        spark, "kss_febmerge", sf_dir, (b0, b1), "user_id long, cents long"
    )
    state = fold_versioned_state(
        stream, run_scratch("kss_febmerge", sf_dir), merge_batch
    )
    return state.orderBy("user_id")


@query(
    "streaming_sketch_incremental_merge",
    """
    -- Streaming KMV maintenance: the oracle computes the bottom-K
    -- sketch DIRECTLY over the whole stream (b1 UNION b2 UNION b3 = all
    -- qualifying rows); the Spark side FOLDS it one micro-batch at a
    -- time through persisted state. Exact-value equality under the hash
    -- gate is precisely the PODS-2012 mergeability property
    -- fold(fold(s, b1), b2) == sketch(b1 UNION b2) — the design
    -- argument every batch-built sketch shard family rests on, here
    -- demonstrated under continuous ingest. KMV is deterministic given
    -- the hash (md5 hex), so every column is stated exactly — no
    -- contract flags.
    WITH e AS (
      SELECT user_id AS key, ts FROM events WHERE user_id IS NOT NULL
    ), mx AS (
      SELECT max(ts) AS m FROM e
    ), meta AS (
      SELECT COUNT(*) AS n_rows,
        COUNT(DISTINCT CASE WHEN ts >= m - INTERVAL 10 DAY THEN 0
                            WHEN ts >= m - INTERVAL 20 DAY THEN 1
                            ELSE 2 END) AS n_nonempty_batches
      FROM e, mx
    ), hashed AS (
      SELECT key, md5(CAST(key AS VARCHAR)) AS h
      FROM (SELECT DISTINCT key FROM e)
    ), ranked AS (
      SELECT key, h, ROW_NUMBER() OVER (ORDER BY h) AS rn FROM hashed
    ), merged AS (
      SELECT key, h, rn FROM ranked WHERE rn <= 64
    ), sample AS (
      SELECT COUNT(*) AS sample_size,
        MIN(h) AS min_hash,
        MAX(CASE WHEN rn = 1 THEN key END) AS min_key,
        MAX(CASE WHEN rn = 64 THEN h END) AS kth_hash
      FROM merged
    )
    SELECT meta.n_rows, meta.n_nonempty_batches, sample.sample_size,
      sample.min_hash, sample.min_key, sample.kth_hash,
      CASE WHEN sample.sample_size < 64
           THEN CAST(sample.sample_size AS DOUBLE)
           ELSE 63.0 * 1152921504606846976.0
                / CAST(CAST(('0x' || substr(sample.kth_hash, 1, 15))
                    AS BIGINT) AS DOUBLE)
      END AS est_distinct
    FROM meta, sample
    """,
    "streaming", "sketch", "incremental", "sink",
)
def streaming_sketch_incremental_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming-ingest sketch maintenance (§2.F × §2.C composition): a
    foreachBatch pipeline where each micro-batch of the three-tranche
    event replay folds its own bottom-K=64 KMV sample into versioned
    parquet sketch state — new = bottomK(prev ∪ bottomK(batch)) — and
    the final answer (sample membership, K-th minimum, KMV distinct
    estimate, row/batch meta) is derived from the LAST state version
    alone, never from the raw stream. The DuckDB oracle computes the
    same sketch over the union of all batches directly, so the exact
    hash gate proves fold(fold(s,b1),b2) == sketch(b1∪b2) — the
    mergeability property (Agarwal et al., PODS 2012) the whole
    HLL/bitmap/DDSketch/Misra-Gries/KMV shard family's continuous-ingest
    design argument rests on, demonstrated under real StreamingQuery
    ingest rather than asserted. Shard-vs-fold equivalence over random
    splits is additionally pinned by tests/test_sketch_incremental.py.

    When distinct keys stay under K the state holds EVERY distinct hash,
    so the exact count IS the sample size (the sf0.001/one-row/empty
    tiers take this arm); past K the (K-1)/h_K estimator applies (the
    sf0.01 driver gate takes this one, 150 distinct users > 64).

    Scale: per-batch work is one distinct + TakeOrdered(K) over the
    micro-batch plus a ≤2K-row union against state — state is ≤K
    (hash, key) pairs forever, independent of stream length; the
    versioned dirs give the same atomic-swap discipline as the
    foreachBatch MERGE sink. Reference parity: this is the reference's
    continuously-maintained freshness metadata pattern
    (KijiFreshnessManager.java:235-239 mMetaTable.putValue — durable
    summaries updated per write, readable at any time) re-expressed as
    mergeable sketch state under Structured Streaming."""
    K = 64  # matches the batch KMV family (_KMV_K) and the oracle's 64

    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    src = ev.select(
        F.col("user_id").alias("key"),
        F.col("ts").cast("timestamp").alias("ts"),
    )
    # tranche bounds derived IN-PLAN (no driver-side collect), exactly
    # the latedrop pattern: three deterministic mtime-ordered batches
    mx = src.agg(F.max("ts").alias("m"))
    # broadcast PINNED, not left to AQE (r12 verdict #3): parity with
    # every other one-row-aggregate composition in the sketch family
    evm = src.crossJoin(F.broadcast(mx))
    cut10 = F.col("m") - F.expr("INTERVAL 10 DAYS")
    cut20 = F.col("m") - F.expr("INTERVAL 20 DAYS")
    b0 = evm.filter(F.col("ts") >= cut10).select("key")
    b1 = evm.filter((F.col("ts") >= cut20) & (F.col("ts") < cut10)).select("key")
    b2 = evm.filter(F.col("ts") < cut20).select("key")

    def fold_batch(batch_df: DataFrame, prev: DataFrame | None) -> dict:
        batch_sketch = (
            batch_df.select("key")
            .distinct()
            .withColumn("h", F.md5(F.col("key").cast("string")))
            .orderBy("h")
            .limit(K)
        )
        batch_meta = batch_df.agg(
            F.count(F.lit(1)).alias("n_rows"),
            (F.count(F.lit(1)) > 0).cast("long").alias("n_nonempty_batches"),
        )
        if prev is None:
            return {"sketch": batch_sketch, "meta": batch_meta}
        # a key seen in several batches carries the same hash —
        # distinct-union, then the fold keeps the global bottom-K
        folded = (
            state_member(prev, "sketch", "key", "h")
            .unionByName(batch_sketch)
            .distinct()
            .orderBy("h")
            .limit(K)
        )
        meta = (
            state_member(prev, "meta", "n_rows", "n_nonempty_batches")
            .unionByName(batch_meta)
            .agg(
                F.sum("n_rows").alias("n_rows"),
                F.sum("n_nonempty_batches").alias("n_nonempty_batches"),
            )
        )
        return {"sketch": folded, "meta": meta}

    stream = replay_stream(spark, "kss_kmvfold", sf_dir, (b0, b1, b2), "key long")
    final = fold_versioned_state(
        stream,
        run_scratch("kss_kmvfold", sf_dir),
        fold_batch,
        {"key": "long", "h": "string", "n_rows": "long", "n_nonempty_batches": "long"},
    )
    sketch = state_member(final, "sketch", "key", "h")
    meta = state_member(final, "meta", "n_rows", "n_nonempty_batches")

    from pyspark.sql import Window

    ranked = sketch.withColumn("rn", F.row_number().over(Window.orderBy("h")))
    sample = ranked.agg(
        F.count(F.lit(1)).alias("sample_size"),
        F.min("h").alias("min_hash"),
        F.max(F.when(F.col("rn") == 1, F.col("key"))).alias("min_key"),
        F.max(F.when(F.col("rn") == K, F.col("h"))).alias("kth_hash"),
    )
    out = meta.crossJoin(F.broadcast(sample))
    # under K distinct the state IS the distinct key set — the exact
    # count comes from state alone, no raw-data second pass
    est = F.when(
        F.col("sample_size") < K, F.col("sample_size").cast("double")
    ).otherwise(
        F.lit(63.0 * float(16**15))
        / F.conv(F.substring(F.col("kth_hash"), 1, 15), 16, 10)
        .cast("long")
        .cast("double")
    )
    return out.select(
        "n_rows",
        "n_nonempty_batches",
        "sample_size",
        "min_hash",
        "min_key",
        "kth_hash",
        est.alias("est_distinct"),
    )


@query(
    "streaming_sketch_family_fold",
    """
    -- Streaming maintenance of the WHOLE mergeable-sketch family under
    -- one foreachBatch fold: HLL (register-max union), DDSketch
    -- (bucket-count sum), and Misra-Gries (weight-sum + re-prune) state
    -- folded one micro-batch at a time. HLL and DDSketch folds are
    -- EXACTLY one-shot-equivalent (max/sum are associative on identical
    -- inputs); MG's fold keeps the n/(K+1) error bound (Agarwal et al.,
    -- PODS 2012). The oracle states the exact references — row/batch
    -- meta, distinct users, pinned-rank percentiles, heavy-item count,
    -- exact top-1 — plus constant-TRUE contract flags that Spark
    -- computes from the REAL folded state (the
    -- sketch_hll_shard_union / sketch_quantile_shard_merge /
    -- sketch_topk_shard_merge contract, under continuous ingest).
    WITH e AS (
      SELECT user_id AS key, value AS v, ts,
        CASE WHEN ((user_id % 10) + 10) % 10 < 6
             THEN ((user_id % 7) + 7) % 7
             ELSE 100 + ((event_id % 4096) + 4096) % 4096 END AS item
      FROM events
      WHERE user_id IS NOT NULL AND event_id IS NOT NULL
        AND value IS NOT NULL AND value > 0
    ), mx AS (SELECT max(ts) AS m FROM e),
    meta AS (
      SELECT COUNT(*) AS n_rows,
        COUNT(DISTINCT CASE WHEN ts >= m - INTERVAL 10 DAY THEN 0
                            WHEN ts >= m - INTERVAL 20 DAY THEN 1
                            ELSE 2 END) AS n_nonempty_batches
      FROM e, mx
    ),
    ranks AS (
      SELECT CAST(CEIL(0.5  * n_rows) AS BIGINT) AS r50,
        CAST(CEIL(0.9  * n_rows) AS BIGINT) AS r90,
        CAST(CEIL(0.99 * n_rows) AS BIGINT) AS r99
      FROM meta
    ),
    ordered AS (SELECT v, ROW_NUMBER() OVER (ORDER BY v) AS rn FROM e),
    pex AS (
      SELECT
        MAX(CASE WHEN rn = (SELECT r50 FROM ranks) THEN v END) AS p50_exact,
        MAX(CASE WHEN rn = (SELECT r90 FROM ranks) THEN v END) AS p90_exact,
        MAX(CASE WHEN rn = (SELECT r99 FROM ranks) THEN v END) AS p99_exact
      FROM ordered
    ),
    cnts AS (SELECT item, COUNT(*) AS cnt FROM e GROUP BY item),
    heavy AS (
      SELECT COUNT(*) AS n_heavy FROM cnts, meta
      WHERE cnt > 2.0 * n_rows / 65.0
    ),
    t1 AS (SELECT item, cnt FROM cnts ORDER BY cnt DESC, item LIMIT 1),
    t1a AS (SELECT MAX(item) AS top1_item, MAX(cnt) AS top1_cnt FROM t1)
    SELECT meta.n_rows, meta.n_nonempty_batches,
      (SELECT COUNT(DISTINCT key) FROM e) AS exact_users,
      TRUE AS hll_ok,
      pex.p50_exact, pex.p90_exact, pex.p99_exact,
      TRUE AS p50_ok, TRUE AS p90_ok, TRUE AS p99_ok,
      heavy.n_heavy, t1a.top1_item, t1a.top1_cnt,
      TRUE AS no_overestimate, TRUE AS recovered_all_heavy,
      TRUE AS heavy_within_band, TRUE AS summary_within_k
    FROM meta, pex, heavy, t1a
    """,
    "streaming", "sketch", "incremental", "sink",
)
def streaming_sketch_family_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming-ingest maintenance of the REST of the mergeable-sketch
    family (r12 verdict #3 follow-through): one foreachBatch pipeline
    folds an HLL distinct sketch (user_id), a DDSketch log-bucket
    histogram (value), AND a Misra-Gries frequent-items summary (a
    Zipf-ish derived item) into versioned parquet state, one micro-batch
    of the three-tranche event replay at a time — closing the family's
    last asserted-not-demonstrated property: the batch shard stores
    (sketch_hll_shard_union, sketch_quantile_shard_merge,
    sketch_topk_shard_merge) argue continuous-ingest viability FROM
    mergeability; here the same merges run under a real StreamingQuery.

    Fold laws, per member: HLL unions register-wise max and DDSketch
    sums integer bucket counts — both folds are EXACTLY equal to the
    one-shot sketch of the unioned stream (associative, commutative,
    verified by tests/test_sketch_incremental.py alongside the r12 KMV
    fold); Misra-Gries folds by weight-sum + one re-prune, which is NOT
    one-shot-equal but keeps the summary <= K rows with every weight an
    underestimate by <= n/(K+1) — so the answer contract (heavy items
    all recovered, weights within 2n/(K+1), never overestimating) holds
    at any batch count, and THOSE are the gated outputs.

    State size forever: 1 binary HLL row (~2.5 KB) + O(log-buckets)
    integer rows + <= K weight rows — independent of stream length.
    Per-batch work: three narrow aggregates of the micro-batch plus
    O(state)-row unions; the in-batch MG prune ranks with the scale-safe
    ``_grouped_top_k`` (never a single-task sort of the batch's item
    space). Exact references (distinct users, pinned-rank percentiles,
    heavy set, top-1) are the ORACLE's cost, computed once from the
    static table — the serving path reads state alone.

    Reference parity: the reference's continuously-maintained freshness
    metadata (KijiFreshnessManager.java:235-239, mMetaTable.putValue)
    re-expressed as a family of mergeable sketch states under Structured
    Streaming."""
    import math

    from pyspark.sql import Window

    from .queries_graph import (
        _DDSKETCH_ALPHA,
        _DDSKETCH_GAMMA,
        _MG_K,
        _grouped_top_k,
    )

    K = _MG_K  # 64 counters, matching the batch MG shards and the oracle
    ln_g = math.log(_DDSKETCH_GAMMA)

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
        & F.col("event_id").isNotNull()
        & F.col("value").isNotNull()
        & (F.col("value") > 0)
    )
    src = ev.select(
        F.col("user_id").alias("key"),
        F.col("value").alias("v"),
        # Zipf-ish derived item: a 7-item heavy head over ~60% of rows,
        # a 4096-item tail over the rest (the sketch_topk_shard_merge
        # pattern); pmod keeps negatives oracle-identical
        F.when(
            F.pmod(F.col("user_id"), F.lit(10)) < 6,
            F.pmod(F.col("user_id"), F.lit(7)),
        )
        .otherwise(F.lit(100) + F.pmod(F.col("event_id"), F.lit(4096)))
        .cast("long")
        .alias("item"),
        F.col("ts").cast("timestamp").alias("ts"),
    )
    mx = src.agg(F.max("ts").alias("m"))
    evm = src.crossJoin(F.broadcast(mx))
    cut10 = F.col("m") - F.expr("INTERVAL 10 DAYS")
    cut20 = F.col("m") - F.expr("INTERVAL 20 DAYS")
    cols = ["key", "v", "item"]
    b0 = evm.filter(F.col("ts") >= cut10).select(*cols)
    b1 = evm.filter((F.col("ts") >= cut20) & (F.col("ts") < cut10)).select(*cols)
    b2 = evm.filter(F.col("ts") < cut20).select(*cols)

    def mg_prune(weights: DataFrame) -> DataFrame:
        """One Misra-Gries prune: top-K weights decremented by the
        (K+1)-th. Runs over a micro-batch's FULL item space, so the rank
        is the scale-safe per-partition one. The (K+1)-th weight comes
        from an unpartitioned window over the <= K+1 ranked survivors
        (r16): the old one-row-aggregate + broadcast crossJoin evaluated
        the whole _grouped_top_k subtree TWICE (once under the broadcast,
        once in the main plan) and launched a broadcast job per prune —
        five prunes per replay run. Same values: coalesce(max(w where
        rn=K+1), 0) over the identical row set."""
        ranked = _grouped_top_k(
            weights, [], [F.col("w").desc(), F.col("item").asc()], K + 1, "rn"
        )
        wk1 = F.coalesce(
            F.max(F.when(F.col("rn") == K + 1, F.col("w"))).over(
                Window.partitionBy()
            ),
            F.lit(0),
        )
        return (
            ranked.withColumn("wk1", wk1)
            .filter(F.col("rn") <= K)
            .select("item", (F.col("w") - F.col("wk1")).alias("weight"))
            .filter(F.col("weight") > 0)
        )

    def fold_batch(batch_df: DataFrame, prev: DataFrame | None) -> dict:
        b_hll = batch_df.agg(F.hll_sketch_agg("key").alias("sk"))
        b_dd = (
            batch_df.select(F.ceil(F.log("v") / F.lit(ln_g)).alias("bkt"))
            .groupBy("bkt")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        b_mg = mg_prune(
            batch_df.groupBy("item").agg(F.count(F.lit(1)).alias("w"))
        )
        b_meta = batch_df.agg(
            F.count(F.lit(1)).alias("n_rows"),
            (F.count(F.lit(1)) > 0).cast("long").alias("n_nonempty_batches"),
        )
        if prev is None:
            return {"hll": b_hll, "dd": b_dd, "mg": b_mg, "meta": b_meta}
        hll = (
            state_member(prev, "hll", "sk")
            .unionByName(b_hll)
            .agg(F.hll_union_agg("sk").alias("sk"))
        )
        dd = (
            state_member(prev, "dd", "bkt", "cnt")
            .unionByName(b_dd)
            .groupBy("bkt")
            .agg(F.sum("cnt").alias("cnt"))
        )
        mg = mg_prune(
            state_member(prev, "mg", "item", F.col("weight").alias("w"))
            .unionByName(b_mg.select("item", F.col("weight").alias("w")))
            .groupBy("item")
            .agg(F.sum("w").alias("w"))
        )
        meta = (
            state_member(prev, "meta", "n_rows", "n_nonempty_batches")
            .unionByName(b_meta)
            .agg(
                F.sum("n_rows").alias("n_rows"),
                F.sum("n_nonempty_batches").alias("n_nonempty_batches"),
            )
        )
        return {"hll": hll, "dd": dd, "mg": mg, "meta": meta}

    stream = replay_stream(
        spark, "kss_famfold", sf_dir, (b0, b1, b2), "key long, v double, item long"
    )
    final = fold_versioned_state(
        stream,
        run_scratch("kss_famfold", sf_dir),
        fold_batch,
        {
            "sk": "binary",
            "bkt": "long",
            "cnt": "long",
            "item": "long",
            "weight": "long",
            "n_rows": "long",
            "n_nonempty_batches": "long",
        },
    )
    # shared subtrees (r16, guide §2.4): the output stage used to rebuild
    # the meta aggregate 4x and the per-item counts 3x (one full src scan
    # each) and launch ~9 one-row broadcast jobs; lazy localCheckpoints
    # execute each shared frame once per run, and compatible one-row
    # aggregates are merged. Every expression below is value-identical to
    # the r13 formulation — only the plan shape changed.
    meta = state_member(
        final,
        "meta",
        "n_rows",
        "n_nonempty_batches",
        F.ceil(F.lit(0.5) * F.col("n_rows")).alias("r50"),
        F.ceil(F.lit(0.9) * F.col("n_rows")).alias("r90"),
        F.ceil(F.lit(0.99) * F.col("n_rows")).alias("r99"),
    ).localCheckpoint(eager=False)
    hll_state = state_member(final, "hll", "sk")
    dd_state = state_member(final, "dd", "bkt", "cnt")
    mg_state = state_member(final, "mg", "item", "weight")

    # exact references (the oracle's cost): one pass over the static
    # table; the folded state never touches it
    exact_users = src.agg(F.count_distinct("key").alias("exact_users"))
    ranked_v = src.select("v").withColumn(
        "rn", F.row_number().over(Window.orderBy("v"))
    )
    pex = ranked_v.crossJoin(F.broadcast(meta)).agg(
        F.max(F.when(F.col("rn") == F.col("r50"), F.col("v"))).alias("p50_exact"),
        F.max(F.when(F.col("rn") == F.col("r90"), F.col("v"))).alias("p90_exact"),
        F.max(F.when(F.col("rn") == F.col("r99"), F.col("v"))).alias("p99_exact"),
    )
    cnts = (
        src.groupBy("item")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint(eager=False)
    )
    heavy_cnts = cnts.crossJoin(F.broadcast(meta.select("n_rows"))).filter(
        F.col("cnt") > 2.0 * F.col("n_rows") / (K + 1.0)
    )
    t1 = (
        cnts.orderBy(F.col("cnt").desc(), F.col("item").asc())
        .limit(1)
        .agg(F.max("item").alias("top1_item"), F.max("cnt").alias("top1_cnt"))
    )

    # contract flags from the REAL folded state; exact_users rides the
    # same one-row frame as hll_ok so the src distinct pass runs once
    hll_flag = (
        hll_state.crossJoin(F.broadcast(exact_users))
        .select(
            "exact_users",
            F.coalesce(
                F.abs(F.hll_sketch_estimate("sk") - F.col("exact_users"))
                <= 0.05 * F.col("exact_users"),
                F.lit(True),
            ).alias("hll_ok"),
        )
    )
    cum = dd_state.withColumn(
        "cum",
        F.sum("cnt").over(
            Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    g = _DDSKETCH_GAMMA

    def rep(bucket_col: str):
        return F.pow(F.lit(g), F.col(bucket_col)) * (2.0 / (g + 1.0))

    dd_est = (
        cum.crossJoin(F.broadcast(meta))
        .agg(
            F.min(F.when(F.col("cum") >= F.col("r50"), F.col("bkt"))).alias("b50"),
            F.min(F.when(F.col("cum") >= F.col("r90"), F.col("bkt"))).alias("b90"),
            F.min(F.when(F.col("cum") >= F.col("r99"), F.col("bkt"))).alias("b99"),
        )
        .select(
            rep("b50").alias("p50_est"),
            rep("b90").alias("p90_est"),
            rep("b99").alias("p99_est"),
        )
    )
    band = 2.5 * _DDSKETCH_ALPHA

    def dd_ok(q: str):
        return F.coalesce(
            F.abs(F.col(f"{q}_est") - F.col(f"{q}_exact"))
            <= band * F.col(f"{q}_exact"),
            F.lit(True),
        ).alias(f"{q}_ok")

    # MG flags: weights never overestimate; every heavy item recovered
    # with weight within 2n/(K+1); summary <= K rows. Every join
    # broadcasts the <= K-row state and streams the per-item counts,
    # which grow with the data. A broadcast hint on the preserved side of
    # an outer join is ignored, so the overestimate check is an inner
    # join: a missing cnt would only yield a NULL weight<=cnt, which min()
    # skips. The summary size counts the state itself.
    no_within = (
        cnts.join(F.broadcast(mg_state), "item")
        .agg(
            F.coalesce(F.min(F.col("weight") <= F.col("cnt")), F.lit(True)).alias(
                "no_overestimate"
            )
        )
        .crossJoin(mg_state.agg((F.count(F.lit(1)) <= K).alias("summary_within_k")))
    )
    heavy_join = heavy_cnts.join(F.broadcast(mg_state), "item", "left")
    heavy_flags = heavy_join.agg(
        F.count(F.lit(1)).alias("n_heavy"),
        F.coalesce(F.min(F.col("weight").isNotNull()), F.lit(True)).alias(
            "recovered_all_heavy"
        ),
        F.coalesce(
            F.min(
                (F.col("cnt") - F.coalesce(F.col("weight"), F.lit(0)))
                * F.lit(K + 1)
                <= 2 * F.col("n_rows")
            ),
            F.lit(True),
        ).alias("heavy_within_band"),
    )

    out = (
        meta.select("n_rows", "n_nonempty_batches")
        .crossJoin(F.broadcast(hll_flag))
        .crossJoin(F.broadcast(pex))
        .crossJoin(F.broadcast(dd_est))
        .crossJoin(F.broadcast(heavy_flags))
        .crossJoin(F.broadcast(t1))
        .crossJoin(F.broadcast(no_within))
    )
    return out.select(
        "n_rows",
        "n_nonempty_batches",
        "exact_users",
        "hll_ok",
        "p50_exact",
        "p90_exact",
        "p99_exact",
        dd_ok("p50"),
        dd_ok("p90"),
        dd_ok("p99"),
        "n_heavy",
        "top1_item",
        "top1_cnt",
        "no_overestimate",
        "recovered_all_heavy",
        "heavy_within_band",
        "summary_within_k",
    )


def _ann_ingest_oracle() -> str:
    # pq_common is a LEAF module: safe at decoration time whatever the
    # package's import order (queries_pipeline itself would be circular)
    from .pq_common import (
        _IVFPQ_NCELLS,
        _PQ_FULLDIST_SQL,
        _PQ_Q_SQL,
        _pq_subdist_sql,
    )

    return f"""
    -- Streaming ANN-index maintenance: the oracle encodes the WHOLE
    -- corpus one-shot (the union of every ingest batch) and answers the
    -- IVF-PQ probe from it; the Spark side built the SAME index by
    -- appending each micro-batch's codes into the hive-partitioned
    -- inverted lists. Encode is per-vector deterministic, so
    -- ingest-fold == one-shot EXACTLY — the index analog of the sketch
    -- folds' mergeability gate. Meta (rows ingested, non-empty batches)
    -- is derivable from the index itself.
    WITH src AS (
      SELECT vec_id, {_PQ_Q_SQL} AS q
      FROM embeddings
      WHERE vec_id IS NOT NULL AND embedding IS NOT NULL
        AND len(embedding) = 64
    ),
    cb AS (
      SELECT vec_id AS cb_id, q FROM src
      WHERE vec_id % 31 = 0 AND vec_id < 496
    ),
    seeds AS (
      SELECT vec_id AS seed_id, q AS sq FROM (
        SELECT vec_id, q FROM src
        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {_IVFPQ_NCELLS}
      )
    ),
    probe AS (
      SELECT vec_id AS probe_id, q AS pq FROM src
      WHERE NOT (vec_id % 31 = 0 AND vec_id < 496)
      ORDER BY vec_id LIMIT 1
    ),
    sub AS (SELECT unnest(range(0, 8)) AS ss),
    asg AS (
      SELECT vec_id, cell FROM (
        SELECT s.vec_id, d.seed_id AS cell,
          ROW_NUMBER() OVER (PARTITION BY s.vec_id
            ORDER BY {_PQ_FULLDIST_SQL.format(l="s.q", r="d.sq")}, d.seed_id
          ) AS rn
        FROM src s CROSS JOIN seeds d
      ) t WHERE rn = 1
    ),
    pcells AS (
      SELECT cell FROM (
        SELECT d.seed_id AS cell,
          ROW_NUMBER() OVER (
            ORDER BY {_PQ_FULLDIST_SQL.format(l="p.pq", r="d.sq")}, d.seed_id
          ) AS rn
        FROM seeds d CROSS JOIN probe p
      ) t WHERE rn <= 2
    ),
    codes AS (
      SELECT vec_id, ss, cb_id FROM (
        SELECT s.vec_id, sub.ss, c.cb_id,
          ROW_NUMBER() OVER (PARTITION BY s.vec_id, sub.ss
            ORDER BY {_pq_subdist_sql("s.q", "c.q")}, c.cb_id) AS rn
        FROM src s CROSS JOIN cb c CROSS JOIN sub
      ) t WHERE rn = 1
    ),
    lut AS (
      SELECT c.cb_id, sub.ss,
        {_pq_subdist_sql("c.q", "p.pq")} AS pd
      FROM cb c CROSS JOIN probe p CROSS JOIN sub
    ),
    adc AS (
      SELECT codes.vec_id AS neighbor_id, a.cell,
        CAST(SUM(lut.pd) AS BIGINT) AS adc_dist
      FROM codes
      JOIN asg a ON a.vec_id = codes.vec_id
      JOIN pcells pc ON pc.cell = a.cell
      JOIN lut ON codes.ss = lut.ss AND codes.cb_id = lut.cb_id
      CROSS JOIN probe
      WHERE codes.vec_id <> probe.probe_id
      GROUP BY codes.vec_id, a.cell
    ),
    top AS (
      SELECT neighbor_id, cell, adc_dist,
        ROW_NUMBER() OVER (ORDER BY adc_dist, neighbor_id) AS rn
      FROM adc
    ),
    meta AS (
      SELECT COUNT(*) AS n_ingested,
        COUNT(DISTINCT ((vec_id % 3) + 3) % 3) AS n_batches
      FROM src
    )
    SELECT t.neighbor_id, t.cell, t.adc_dist,
      CAST(list_sum(list_transform(range(1, 65), i ->
        (s.q[i] - p.pq[i]) * (s.q[i] - p.pq[i]))) AS BIGINT) AS exact_dist,
      t.rn, m.n_ingested, m.n_batches
    FROM top t
    JOIN src s ON s.vec_id = t.neighbor_id
    CROSS JOIN probe p
    CROSS JOIN meta m
    WHERE t.rn <= 10
    ORDER BY t.rn
    """


@query(
    "streaming_ann_index_ingest",
    _ann_ingest_oracle(),
    "streaming", "similarity", "incremental", "sink",
)
def streaming_ann_index_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ANN-INDEX maintenance (§2.F × §2.G): embedding vectors
    arrive in micro-batches, and each batch is ENCODED (PQ codes +
    IVF cell) against the fixed broadcast codebook/seeds and COMMITTED
    to the snapshot-format inverted-list table (r13 verdict #3) — the
    index a 100 TB pipeline keeps warm as new embeddings land, absorbed
    per arrival with no rebuild and no touch of the existing lists.
    Each micro-batch is an atomic manifest commit carrying a txn
    watermark (at-least-once replay → exactly-once index, pinned by
    tests/test_snapshots.py), the finished ingest is COMPACTED into one
    cell-partitioned dir (bounding per-cell file count and restoring
    the single-scan layout DPP needs), and every ingest point stays
    time-travelable. The final probe answers from the accumulated index
    via the same DPP-pruned ADC as similarity_ivfpq_pruned_adc_topk;
    because encode is a per-vector deterministic function, ingest-fold
    == one-shot index EXACTLY, and the oracle (which encodes the whole
    corpus directly) proves it under the hash gate — the index analog
    of the sketch folds' mergeability property, under real
    StreamingQuery ingest.

    Per-batch work: two broadcast passes over the micro-batch (16
    codebook rows, <=32 seed rows, map-side partial min_by) + one
    partitioned append — never a scan of the standing index. Query
    phase: routing broadcast + dynamic partition pruning + TakeOrdered.
    Meta (rows ingested, non-empty ingest batches) is derived from the
    index itself, so it is oracle-stateable. Reference parity: the
    continuously-maintained derived-artifact pattern
    (KijiFreshnessManager.java:235-239, mMetaTable.putValue) applied to
    an ANN index."""
    from .operators.snapshots import (
        commit_snapshot,
        compact_snapshot,
        last_txn_id,
        read_snapshot,
    )
    from .queries_pipeline import (
        _EMBED_DIM,
        _IVFPQ_CODES_SCHEMA,
        _ivfpq_cb,
        _ivfpq_encode,
        _ivfpq_query_phase,
        _ivfpq_quantize,
        _ivfpq_seeds,
    )

    e = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id").isNotNull()
        & F.col("embedding").isNotNull()
        & (F.size("embedding") == _EMBED_DIM)
    )
    q = _ivfpq_quantize(e)
    # the index CONFIGURATION (codebook + seeds) is fixed before ingest
    # begins, the way a real pipeline pins its trained quantizers; lazy
    # localCheckpoint executes each derivation ONCE — every micro-batch
    # and the final probe then encode/route against the same 16+32
    # materialized rows instead of re-scanning the corpus per batch
    cb = _ivfpq_cb(q).localCheckpoint(eager=False)
    seeds = _ivfpq_seeds(q).localCheckpoint(eager=False)

    # three deterministic ingest batches by key residue (embeddings
    # carry no timestamp); quantization is row-local so the replay
    # streams the quantized columns directly
    qcols = ["vec_id"] + [f"q{i}" for i in range(_EMBED_DIM)]
    parts = tuple(
        q.filter(F.pmod(F.col("vec_id"), F.lit(3)) == r).select(*qcols)
        for r in range(3)
    )
    stream = replay_stream(
        spark, "kss_annidx", sf_dir, parts, ", ".join(f"{c} long" for c in qcols)
    )
    run_base = run_scratch("kss_annidx", sf_dir)
    codes_dir = os.path.join(run_base, "codes")

    def ingest(batch_df: DataFrame, batch_id: int) -> None:
        # foreachBatch runs on the driver: the checkpointed config frames
        # are same-session and usable directly — no per-batch re-read.
        # Each batch is an ATOMIC snapshot commit (r13 verdict #3): a
        # probe never observes a half-written list (the manifest lands
        # after the data job), and the manifest's txn watermark makes
        # at-least-once replay EXACTLY-ONCE — a retried batch_id finds
        # itself already committed and no-ops instead of appending
        # duplicate code rows (Delta's txn/appId pattern).
        # reclaim_crashed: this foreachBatch is the table's ONLY
        # writer, so a claimed-but-unpublished version dir can only be
        # this writer's own crashed prior attempt — the retry deletes
        # it and recommits the same version instead of wedging on
        # SnapshotConflictError (pinned by
        # tests/test_snapshots.py::test_single_writer_retry_reclaims_crashed_claim).
        done = last_txn_id(codes_dir, "ann_ingest")
        if done is not None and batch_id <= done:
            return
        commit_snapshot(
            _ivfpq_encode(batch_df, cb, seeds),
            codes_dir,
            mode="append",
            partition_by=["cell"],
            txn=("ann_ingest", batch_id),
            reclaim_crashed=True,
        )

    run_available_now(
        stream, 2, foreach_batch=ingest, checkpoint=os.path.join(run_base, "cp")
    )

    # post-ingest maintenance, the OPTIMIZE a streaming-built table owes
    # its readers: compact the N per-batch commits into ONE
    # cell-partitioned dir. This both bounds the per-cell file count and
    # restores the single-scan layout dynamic partition pruning plans
    # against (a multi-dir union blocks DPP); old versions stay readable
    # (the index is time-travelable to any ingest point).
    compact_snapshot(spark, codes_dir, 8, partition_by=["cell"])
    # explicit-schema snapshot read: cell keeps its declared LONG type
    # (path inference would make it INT and the reconciling cast costs
    # the routing join its DPP), and an empty-corpus version stays
    # readable
    codes = read_snapshot(spark, codes_dir, schema=_IVFPQ_CODES_SCHEMA)
    meta = codes.agg(
        F.count(F.lit(1)).alias("n_ingested"),
        F.count_distinct(F.pmod(F.col("vec_id"), F.lit(3))).alias("n_batches"),
    )
    # the SERVING plan derives cb/seeds fresh (not the checkpointed
    # ingest config): dynamic partition pruning needs to clone the
    # routing join's build side into a pruning subquery, and an
    # RDD-backed (localCheckpoint) build side blocks that — probed r13:
    # the checkpointed seeds silently cost the codes scan its DPP.
    # Re-impose the rank order: the meta crossJoin does not preserve the
    # query phase's ORDER BY rn.
    return (
        _ivfpq_query_phase(q, _ivfpq_cb(q), _ivfpq_seeds(q), codes)
        .crossJoin(F.broadcast(meta))
        .orderBy("rn")
    )


def _view_purchase_join(spark: SparkSession, sf_dir: str, how: str) -> DataFrame:
    """The view→purchase stream-stream interval join shared by the
    inner, left-outer and full-outer queries: views and purchases of
    users below 40 as two watermarked (1 minute) event streams, joined
    on user where the purchase falls in the view's next 2 hours.
    Columns: v_user, view_id, view_ts, p_user, purchase_id, purchase_ts,
    event times still shifted by :func:`streaming.shift_event_time`."""
    load_table(spark, sf_dir, "events")  # sets the nanos-parquet conf

    def side(alias_type: str):
        s = _stream_events(spark, sf_dir)
        if dict(s.dtypes).get("ts") == "bigint":
            s = s.withColumn(
                "ts", F.expr("CAST(timestamp_micros(ts DIV 1000) AS timestamp)")
            )
        else:
            s = s.withColumn("ts", F.col("ts").cast("timestamp"))
        # pre-epoch shim (r7): shift event time by a constant BEFORE the
        # watermark so rows at/before epoch 0 — which Spark's initial
        # watermark of 0 would drop as first-batch late data — survive;
        # exactly reversed on the emitted columns. Relative semantics
        # (watermark delay, join time-range, eviction bounds) shift with
        # the data, so normal-corpus results are bit-identical.
        return (
            shift_event_time(
                s.filter(
                    (F.col("event_type") == alias_type) & (F.col("user_id") < 40)
                ).select("user_id", "event_id", "ts"),
                "ts",
            )
            .withWatermark("ts", "1 minute")
        )

    v = side("view").select(
        F.col("user_id").alias("v_user"),
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("view_ts"),
    )
    p = side("purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    return v.join(
        p,
        (F.col("v_user") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("view_ts"))
        & (F.col("purchase_ts") <= F.col("view_ts") + F.expr("INTERVAL 2 HOURS")),
        how,
    )


@query(
    "streaming_stream_stream_join",
    """
    SELECT v.user_id, v.event_id AS view_id, p.event_id AS purchase_id,
      v.ts AS view_ts, p.ts AS purchase_ts
    FROM events v JOIN events p
      ON v.user_id = p.user_id
     AND v.event_type = 'view' AND p.event_type = 'purchase'
     AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 2 HOUR
    WHERE v.user_id < 40
    ORDER BY v.user_id, view_id, purchase_id
    """,
    "streaming", "join",
)
def streaming_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join (§2.F): view→purchase attribution —
    each view joined to the same user's purchases within the next 2
    hours, as a REAL StreamingQuery joining two event streams. Both
    sides carry watermarks and the join has a two-sided time-range
    condition, which is exactly what lets Structured Streaming bound the
    join state: a buffered view can be evicted once the purchase-side
    watermark passes view_ts + 2h, so state is the last ~2h of views per
    side, not the history of the stream.

    Scale: the join shuffles both streams by user_id (state-store
    partitioning); state size is watermark-bounded regardless of stream
    length. The bounded replay (AvailableNow) drains in one batch and
    terminates, so the append-mode inner join emits every match — which
    is why the batch self-join oracle is exact.

    PRE-EPOCH SHIM (r7, closing the r6 tsedge boundary): Spark
    initializes every watermark to epoch 0, so rows whose EVENT TIME is
    at or before 1970-01-01 would be late data from the very first batch
    and silently dropped on input. All three stream-stream variants now
    apply :func:`streaming.shift_event_time` (+200 000 days, exact
    integer micros) symmetrically at ingest and reverse it on the
    emitted columns — every relative decision (watermark delay, join
    range, eviction bound) shifts with the data, so normal-corpus output
    is bit-identical while pre-epoch rows survive. Verified on the
    tsedge regime (tests/test_regimes.py::test_tsedge_stream_stream)."""
    joined = _view_purchase_join(spark, sf_dir, "inner")
    sink = "streaming_stream_stream_join_sink"
    # 2, not 8: a stream-stream join runs FOUR state stores per
    # partition (left/right × keyToNumValues/keyWithIndexToValue), so
    # per-partition open/commit overhead is 4× a windowed agg's; with
    # watermark-bounded state this small, fewer partitions win
    # (measured 8→7.3s, 2→3.4s warm at sf0.1). Size up with state
    # volume on a real cluster.
    run_available_now(joined, 2, memory=sink)
    ts_type = load_table(spark, sf_dir, "events").schema["ts"].dataType
    return (
        unshift_event_time(spark.table(sink), ["view_ts", "purchase_ts"])
        .select(
            F.col("v_user").alias("user_id"),
            "view_id",
            "purchase_id",
            F.col("view_ts").cast(ts_type).alias("view_ts"),
            F.col("purchase_ts").cast(ts_type).alias("purchase_ts"),
        )
        .orderBy("user_id", "view_id", "purchase_id")
    )


@query(
    "streaming_parquet_sink_daily",
    """
    WITH mx AS (SELECT max(ts) AS m FROM events)
    SELECT date_trunc('day', ts) AS window_start,
      COUNT(*) AS n_events,
      CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events, mx
    GROUP BY window_start, m
    HAVING window_start + INTERVAL 1 DAY <= m - INTERVAL 10 MINUTE
    ORDER BY window_start
    """,
    "streaming", "agg", "sink",
)
def streaming_parquet_sink_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full streaming-ETL loop as a REAL StreamingQuery (§2.F sink
    row): parquet micro-batch source → watermarked daily tumbling
    aggregate → APPEND-mode PARQUET FILE SINK with a checkpoint → read
    the sink files back as the result. Append mode emits a window
    exactly once, when the watermark (max event time − 10 min) passes
    the window end — so the final, still-open day never reaches the
    sink, and the oracle states that contract explicitly with its
    HAVING window_end <= max(ts) − 10min clause. This is the
    exactly-once incremental materialization pattern (checkpoint +
    deterministic file manifest) a production pipeline runs every
    night, where the memory-sink queries are test harnesses.

    Scale: incremental state-store aggregation (one row per open
    window); the file sink writes one atomic manifest per micro-batch,
    so downstream readers never see partial output. Sink/checkpoint
    dirs are cleared per call — repeated runs are deterministic."""
    ev_schema = load_table(spark, sf_dir, "events").schema
    stream = _stream_events(spark, sf_dir)
    if dict(stream.dtypes).get("ts") == "bigint":
        stream = stream.withColumn(
            "ts", F.expr("CAST(timestamp_micros(ts DIV 1000) AS timestamp)")
        )
    else:
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 day").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_value"),
        )
    )
    # a SINK, so it is rebuilt every run by design — reusing a checkpoint
    # would skip the processing under test
    base = run_scratch("kss_stream_sink", sf_dir)
    out = os.path.join(base, "out")
    run_available_now(agg, 2, parquet=out, checkpoint=os.path.join(base, "cp"))
    return (
        spark.read.parquet(out)
        .select(
            F.col("w.start").cast(ev_schema["ts"].dataType).alias("window_start"),
            "n_events",
            "sum_value",
        )
        .orderBy("window_start")
    )


@query(
    "streaming_stream_stream_left_outer",
    """
    WITH v AS (
      SELECT user_id, event_id AS view_id, ts AS view_ts
      FROM events WHERE event_type = 'view' AND user_id < 40
    ), p AS (
      SELECT user_id, event_id AS purchase_id, ts AS purchase_ts
      FROM events WHERE event_type = 'purchase' AND user_id < 40
    ), wm AS (
      SELECT least((SELECT max(view_ts) FROM v),
                   (SELECT max(purchase_ts) FROM p))
             - INTERVAL 1 MINUTE AS w
    )
    SELECT v.user_id, v.view_id, p.purchase_id, v.view_ts, p.purchase_ts
    FROM v JOIN p ON v.user_id = p.user_id
      AND p.purchase_ts >= v.view_ts
      AND p.purchase_ts <= v.view_ts + INTERVAL 2 HOUR
    UNION ALL
    SELECT v.user_id, v.view_id, NULL::BIGINT, v.view_ts, NULL::TIMESTAMP
    FROM v CROSS JOIN wm
    WHERE NOT EXISTS (
      SELECT 1 FROM p WHERE p.user_id = v.user_id
        AND p.purchase_ts >= v.view_ts
        AND p.purchase_ts <= v.view_ts + INTERVAL 2 HOUR
    ) AND v.view_ts + INTERVAL 2 HOUR < wm.w
    ORDER BY user_id, view_id, purchase_id NULLS FIRST
    """,
    "streaming", "join", "outer",
)
def streaming_stream_stream_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join (§2.F): views with no
    purchase inside their 2-hour attribution window emit a NULL-joined
    row — but only once the watermark proves no match can still arrive.
    The oracle states that emission contract exactly: matched pairs
    emit unconditionally; an unmatched view emits iff
    view_ts + 2h < global watermark, where the global watermark is the
    MIN of the two inputs' max event times minus the 1-minute delay
    (verified empirically: 9 matched + 178 null rows at sf0.001, exact).

    Scale: same state-bounding as the inner variant — two-sided time
    range lets buffered rows evict at the watermark, so state holds ~2h
    per side regardless of stream length; the outer semantics add no
    state, only eviction-time emission. The availableNow drain plus the
    no-data final batch is what flushes the last evictions."""
    joined = _view_purchase_join(spark, sf_dir, "left_outer")
    sink = "streaming_stream_stream_left_outer_sink"
    run_available_now(joined, 2, memory=sink)
    return (
        unshift_event_time(spark.table(sink), ["view_ts", "purchase_ts"])
        .select(
            F.col("v_user").alias("user_id"),
            "view_id",
            "purchase_id",
            "view_ts",
            "purchase_ts",
        )
        .orderBy("user_id", "view_id", F.asc_nulls_first("purchase_id"))
    )


@query(
    "streaming_dedup_within_watermark",
    """
    WITH keys AS (
      SELECT DISTINCT user_id FROM events WHERE user_id < 40
    )
    SELECT user_id,
      CAST(1 + CASE WHEN user_id % 5 = 0 THEN 1 ELSE 0 END AS BIGINT)
        AS n_emitted
    FROM keys
    UNION ALL
    SELECT -1 AS user_id, CAST(1 AS BIGINT) AS n_emitted
    UNION ALL
    SELECT -2 AS user_id, CAST(1 AS BIGINT) AS n_emitted
    ORDER BY user_id
    """,
    "streaming", "dedup", "watermark",
)
def streaming_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WATERMARK-BOUNDED streaming dedup (`dropDuplicatesWithinWatermark`)
    — the variant whose state EXPIRES, which is the only dedup a
    never-ending 100 TB stream can run (plain dropDuplicates keys state
    forever). The emission contract, pinned by a three-batch replay:

    - batch 0: every key (distinct user_id < 40) arrives once, plus an
      in-delay duplicate for keys % 3 == 0 ten minutes later — the
      duplicates are DROPPED (state alive), every key emits exactly once;
    - batch 1: a lone advancer row (user_id = -1) thirty days later
      pushes the watermark far past every batch-0 key's expiry
      (first_ts + 1 h delay);
    - batch 2: a second advancer (user_id = -2). Needed because state
      eviction runs at the END of a batch, AFTER that batch's dedup
      check (probed empirically: a re-send sharing a batch with its
      key's eviction is still swallowed) — this batch is where the
      expired batch-0 state physically leaves the store;
    - batch 3: keys % 5 == 0 re-arrive — their state is gone, so they
      emit a SECOND time. Unbounded dropDuplicates would have swallowed
      them; that re-emission is precisely the bounded-state trade, and
      the oracle states it: n_emitted = 1 + (key % 5 == 0), each
      advancer once.

    Determinism: mtime-ordered replay files, one per trigger, pin
    the batch/watermark sequence; counts per key are arrival-order-free.
    """
    ev = load_table(spark, sf_dir, "events")
    keys = ev.filter(F.col("user_id") < 40).select("user_id").distinct()
    base_ts = F.lit("2024-06-01 00:00:00").cast("timestamp")
    key_off = F.make_interval(secs=F.col("user_id").cast("int"))
    b0 = keys.select("user_id", (base_ts + key_off).alias("ts")).unionByName(
        keys.filter(F.col("user_id") % 3 == 0).select(
            "user_id",
            (base_ts + key_off + F.expr("INTERVAL 10 MINUTES")).alias("ts"),
        )
    )
    b1 = spark.range(1).select(
        F.lit(-1).cast("long").alias("user_id"),
        (base_ts + F.expr("INTERVAL 30 DAYS")).alias("ts"),
    )
    b2 = spark.range(1).select(
        F.lit(-2).cast("long").alias("user_id"),
        (base_ts + F.expr("INTERVAL 30 DAYS 10 MINUTES")).alias("ts"),
    )
    b3 = keys.filter(F.col("user_id") % 5 == 0).select(
        "user_id",
        (base_ts + key_off + F.expr("INTERVAL 30 DAYS 1 HOUR")).alias("ts"),
    )

    stream = replay_stream(
        spark, "kss_dedupww", sf_dir, (b0, b1, b2, b3), "user_id long, ts timestamp"
    )
    deduped = stream.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(
        ["user_id"]
    )
    sink = "streaming_dedup_within_watermark_sink"
    run_available_now(deduped, 2, memory=sink)
    return (
        spark.table(sink)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_emitted"))
        .orderBy("user_id")
    )


@query(
    "similarity_sparse_inverted_index",
    r"""
    WITH docs AS (
      SELECT doc_id, lower(text) AS text FROM documents WHERE doc_id < 200
    ),
    toks AS (
      SELECT doc_id,
        unnest(list_filter(regexp_split_to_array(text, '\W+'), x -> x <> ''))
          AS term
      FROM docs
    ),
    tf AS (SELECT doc_id, term, COUNT(*) AS tfv FROM toks GROUP BY doc_id, term),
    kept AS (
      SELECT term FROM tf GROUP BY term
      HAVING COUNT(*) BETWEEN 2 AND 50
    ),
    postings AS (SELECT tf.* FROM tf JOIN kept USING (term)),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        CAST(SUM(a.tfv * b.tfv) AS BIGINT) AS dot
      FROM postings a JOIN postings b
        ON a.term = b.term AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b, dot FROM pairs
    ORDER BY dot DESC, doc_a, doc_b
    LIMIT 20
    """,
    "similarity", "text", "pipeline",
)
def similarity_sparse_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARSE similarity via an inverted-index posting join — the
    retrieval-side counterpart of the dense-embedding ANN family: docs
    become (term, doc, tf) postings, candidate pairs materialize ONLY
    where a shared term exists (the join on term IS the inverted
    index), and the pair score is the exact integer term-frequency dot
    product — never an all-pairs comparison.

    The scale discipline is the document-frequency band (2..50): a
    stopword's posting list is O(corpus) long and its self-join is the
    classic quadratic hot key, but a term in more than ~50 docs carries
    no discriminative signal — dropping it both kills the skew AND
    improves the metric (precisely why retrieval systems df-prune).
    Terms in a single doc can't form a pair and are pruned too.
    Integer tf products keep the score bit-exact under any
    partial-aggregation order; ties on `dot` are broken by the pair
    key so the LIMIT is deterministic."""
    d = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 200)
        .select("doc_id", F.lower(F.col("text")).alias("text"))
    )
    toks = d.select(
        "doc_id", F.explode(F.split("text", r"\W+")).alias("term")
    ).filter(F.col("term") != "")
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tfv"))
    kept = (
        tf.groupBy("term")
        .agg(F.count(F.lit(1)).alias("dfv"))
        .filter(F.col("dfv").between(2, 50))
        .select("term")
    )
    postings = tf.join(kept, "term")
    a = postings.alias("a")
    b = postings.alias("b")
    pairs = (
        a.join(b, on="term")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.sum(F.col("a.tfv") * F.col("b.tfv")).cast("bigint").alias("dot"))
    )
    return pairs.orderBy(F.desc("dot"), "doc_a", "doc_b").limit(20)


@query(
    "streaming_stream_stream_full_outer",
    """
    WITH v AS (
      SELECT user_id, event_id AS view_id, ts AS view_ts
      FROM events WHERE event_type = 'view' AND user_id < 40
    ), p AS (
      SELECT user_id, event_id AS purchase_id, ts AS purchase_ts
      FROM events WHERE event_type = 'purchase' AND user_id < 40
    ), wm AS (
      SELECT least((SELECT max(view_ts) FROM v),
                   (SELECT max(purchase_ts) FROM p))
             - INTERVAL 1 MINUTE AS w
    )
    SELECT v.user_id, v.view_id, p.purchase_id, v.view_ts, p.purchase_ts
    FROM v JOIN p ON v.user_id = p.user_id
      AND p.purchase_ts >= v.view_ts
      AND p.purchase_ts <= v.view_ts + INTERVAL 2 HOUR
    UNION ALL
    SELECT v.user_id, v.view_id, NULL::BIGINT, v.view_ts, NULL::TIMESTAMP
    FROM v CROSS JOIN wm
    WHERE NOT EXISTS (
      SELECT 1 FROM p WHERE p.user_id = v.user_id
        AND p.purchase_ts >= v.view_ts
        AND p.purchase_ts <= v.view_ts + INTERVAL 2 HOUR
    ) AND v.view_ts + INTERVAL 2 HOUR < wm.w
    UNION ALL
    SELECT p.user_id, NULL::BIGINT, p.purchase_id, NULL::TIMESTAMP, p.purchase_ts
    FROM p CROSS JOIN wm
    WHERE NOT EXISTS (
      SELECT 1 FROM v WHERE v.user_id = p.user_id
        AND p.purchase_ts >= v.view_ts
        AND p.purchase_ts <= v.view_ts + INTERVAL 2 HOUR
    ) AND p.purchase_ts < wm.w
    ORDER BY user_id, view_id NULLS FIRST, purchase_id NULLS FIRST
    """,
    "streaming", "join", "outer",
)
def streaming_stream_stream_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream FULL OUTER interval join — completes the streaming
    join matrix (inner, left, full). Both sides' unmatched rows emit
    exactly once, at state eviction, and the two sides evict on
    DIFFERENT bounds because the interval is asymmetric: a view can
    still match purchases up to view_ts + 2h, so an unmatched view
    emits iff view_ts + 2h < watermark; a purchase only matches views
    AT OR BEFORE its own time, so it emits as soon as purchase_ts <
    watermark. Both bounds pinned empirically (sf0.001: 9 matched +
    178 view-null + 192 purchase-null rows, exact) and stated verbatim
    by the oracle; the global watermark is min(max event time of each
    side) - 1 minute.

    Scale: identical state bounding to the inner/left variants — the
    two-sided time range keeps ~2h of state per side regardless of
    stream length; full-outer adds only eviction-time emission on both
    sides, no extra state."""
    joined = _view_purchase_join(spark, sf_dir, "full_outer")
    sink = "streaming_stream_stream_full_outer_sink"
    run_available_now(joined, 2, memory=sink)
    return (
        unshift_event_time(spark.table(sink), ["view_ts", "purchase_ts"])
        .select(
            F.coalesce(F.col("v_user"), F.col("p_user")).alias("user_id"),
            "view_id",
            "purchase_id",
            "view_ts",
            "purchase_ts",
        )
        .orderBy(
            "user_id",
            F.asc_nulls_first("view_id"),
            F.asc_nulls_first("purchase_id"),
        )
    )
