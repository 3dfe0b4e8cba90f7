"""Stock policy/producer implementations — the analog of the reference's
``org.kiji.scoring.lib`` package. Registry-loadable by dotted name (A17)."""

from __future__ import annotations

from pyspark.sql import functions as F

from . import model
from .operators import pq
from .producers import ExpressionProducer
from .registry import flat_name


class DoubleLatestValueProducer(ExpressionProducer):
    """Example scoring model: score = 2 × most-recent value of the
    attached versioned column ``value_versions``. Used by the
    fresh-batch-scoring query and tests."""

    def __init__(self):
        super().__init__(
            lambda df: model.most_recent_value("value_versions") * 2,
            data_request=["value:versions"],
            output_column="value:versions",
        )


class IncrementLatestValueProducer(ExpressionProducer):
    """The demo's counter producer shape (TestFreshnessDemo.java:85-97):
    score = most-recent value + 1."""

    def __init__(self):
        super().__init__(
            lambda df: model.most_recent_value("value_versions") + 1,
            data_request=["value:versions"],
            output_column="value:versions",
        )


class ConstantProducer(ExpressionProducer):
    """TestProducer analog: writes a constant."""

    value = "new-val"

    def __init__(self):
        super().__init__(
            lambda df: F.lit(self.value),
            data_request=[],
            output_column=None,
        )


class DriftRescoreProducer(ExpressionProducer):
    """Companion producer to ``policies.EmbeddingDrift``: the new score
    IS the measured drift (the PQ reconstruction distance between the
    entity's current embedding and its stored codes), cast to double —
    the A7 freshen pass the drift policy drives. An entity whose drift
    is NULL (no stored codes) produces NULL, so the A10
    partial-freshening invariant keeps its old cell.

    Column contract: the same as ``EmbeddingDrift``'s — three qualified
    group-family columns read by their flat names (an array<long>(64)
    embedding, a versioned cell of array<long>(8) codes, a
    map<long, array<long>(64)> codebook LUT); a map-family request fails
    at analysis. The parameters and defaults mirror the policy's, so a
    non-default attachment configures BOTH sides identically instead of
    the producer silently scoring different cells than the policy
    measured drift on."""

    def __init__(
        self,
        codes_column: str = "codes:versions",
        embedding_column: str = "emb:q",
        codebook_column: str = "cb:map",
    ):
        super().__init__(
            lambda df: pq.drift(
                flat_name(embedding_column),
                flat_name(codes_column),
                flat_name(codebook_column),
                versioned=True,
            ).cast("double"),
            data_request=[embedding_column, codes_column, codebook_column],
            output_column="score:versions",
        )
