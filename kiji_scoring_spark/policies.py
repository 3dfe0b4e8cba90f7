"""Freshness policies — the reference's predicate-UDF surface re-expressed
as Catalyst column expressions (SURVEY §2.A rows A5-A6, §2.E).

A policy decides per row whether the attached column's data is fresh
(``KijiFreshnessPolicy.isFresh``, ``KijiFreshnessPolicy.java:56-66``).
Because the stock policies only inspect version timestamps, they compile to
plain ``Column`` predicates — no black-box UDF, so Catalyst can push them
down, fold them, and keep the stale-row filter inside codegen at any scale.

Determinism: the reference's ``ShelfLife`` reads the wall clock
(``lib/ShelfLife.java:96``); here `now` is always an injected ``as_of_ms``
argument, a bigint Column in the freshen pass (SURVEY §5.2 determinism
rule).
"""

from __future__ import annotations

import json

from pyspark.sql import Column
from pyspark.sql import functions as F

from . import model
from .operators import pq
from .registry import flat_name


class FreshnessPolicy:
    """Base policy (``KijiFreshnessPolicy.java:55-104``).

    - ``is_fresh(versions, as_of_ms)`` → Column predicate (isFresh).
      In the freshen pass ``as_of_ms`` is a bigint Column: each capsule
      is compiled once and reads the clock from the reserved
      ``__as_of__`` column. Wrap it in ``F.lit`` (the identity on a
      Column), so a direct caller's plain int works too.
    - ``data_request`` → columns the policy itself needs; None means "use
      the client's request" (shouldUseClientDataRequest/getDataRequest,
      ``KijiFreshnessPolicy.java:68-84``).
    - ``required_stores`` → side-input KV stores; policy stores mask
      producer stores with the same name (A9,
      ``impl/InternalFreshKijiTableReader.java:374-379``).
    - ``serialize``/``deserialize`` → JSON state string, matching the
      reference's store/load lifecycle (``package-info.java:54-68``).
    """

    def is_fresh(self, versions: Column, as_of_ms: int) -> Column:
        raise NotImplementedError

    def is_fresh_over(self, requested: dict[str, Column], as_of_ms: int) -> Column:
        """A6 predicate entry point: when ``data_request`` is non-None the
        freshen pass evaluates freshness over the policy's OWN projection —
        ``requested`` maps each requested column name to its versions
        expression — instead of the attached column (the reference's
        shouldUseClientDataRequest=false branch,
        ``impl/InternalFreshKijiTableReader.java:526-536`` with the second
        read at ``:588-596``; in DataFrame land the "second read" is just a
        different projection of the same row, so it costs nothing).

        Default: apply ``is_fresh`` to the single requested column.
        Policies requesting multiple columns must override.
        """
        if len(requested) != 1:
            raise NotImplementedError(
                f"{type(self).__name__} requests {len(requested)} columns; "
                "override is_fresh_over to combine them"
            )
        (versions,) = requested.values()
        return self.is_fresh(versions, as_of_ms)

    @property
    def data_request(self) -> list[str] | None:
        return None  # use client data request

    @property
    def required_stores(self) -> dict[str, object]:
        return {}

    def serialize(self) -> str:
        return ""

    def deserialize(self, state: str) -> None:
        pass


class AlwaysFreshen(FreshnessPolicy):
    """Never fresh → always rescore (``lib/AlwaysFreshen.java:40-43``)."""

    def is_fresh(self, versions: Column, as_of_ms: int) -> Column:
        return F.lit(False)


class NeverFreshen(FreshnessPolicy):
    """Always fresh → never rescore (``lib/NeverFreshen.java:39-42``)."""

    def is_fresh(self, versions: Column, as_of_ms: int) -> Column:
        return F.lit(True)


class ShelfLife(FreshnessPolicy):
    """Fresh iff the newest version is within ``shelf_life_ms`` of `now`
    (``lib/ShelfLife.java:77-97``); state serialized as JSON
    (``lib/ShelfLife.java:118-134``)."""

    def __init__(self, shelf_life_ms: int = -1):
        self.shelf_life_ms = shelf_life_ms

    def is_fresh(self, versions: Column, as_of_ms: int) -> Column:
        newest = model.most_recent_ts(versions)
        # a row with no versions is stale (newest IS NULL → false)
        return F.coalesce(
            newest >= F.lit(as_of_ms) - F.lit(self.shelf_life_ms), F.lit(False)
        )

    def serialize(self) -> str:
        return json.dumps({"shelfLife": self.shelf_life_ms})

    def deserialize(self, state: str) -> None:
        self.shelf_life_ms = int(json.loads(state)["shelfLife"])


class FresherThanColumn(FreshnessPolicy):
    """A6 own-data-request policy: the attached column is fresh iff its
    newest version is at least as new as ANOTHER column's newest version —
    the canonical "derived score vs source data" staleness rule (a score
    computed before the data it derives from was last written is stale).

    ``data_request`` names [attached_column, source_column]; the freshen
    pass resolves both to versions expressions and calls ``is_fresh_over``
    — the Spark analog of the reference evaluating ``isFresh`` over the
    policy's own ``getDataRequest()`` row data
    (``KijiFreshnessPolicy.java:68-84``).
    """

    def __init__(self, attached_column: str = "", source_column: str = ""):
        self.attached_column = attached_column
        self.source_column = source_column

    def is_fresh(self, versions: Column, as_of_ms: int) -> Column:
        raise NotImplementedError(
            "FresherThanColumn evaluates over its own data request; "
            "the freshen pass must call is_fresh_over"
        )

    def is_fresh_over(self, requested: dict[str, Column], as_of_ms: int) -> Column:
        attached_ts = model.most_recent_ts(requested[self.attached_column])
        source_ts = model.most_recent_ts(requested[self.source_column])
        # no score yet -> stale; no source data -> score trivially fresh
        return F.coalesce(
            attached_ts >= F.coalesce(source_ts, F.lit(-(1 << 62))), F.lit(False)
        )

    @property
    def data_request(self) -> list[str] | None:
        return [self.attached_column, self.source_column]

    def serialize(self) -> str:
        return json.dumps(
            {"attached": self.attached_column, "source": self.source_column}
        )

    def deserialize(self, state: str) -> None:
        s = json.loads(state)
        self.attached_column = s["attached"]
        self.source_column = s["source"]


class NewerThan(FreshnessPolicy):
    """Fresh iff the newest version's ts >= a fixed threshold
    (``lib/NewerThan.java:79-84``: ``timestamps.first() >= mNewerThanTimestamp``)."""

    def __init__(self, threshold_ms: int = -1):
        self.threshold_ms = threshold_ms

    def is_fresh(self, versions: Column, as_of_ms: int) -> Column:
        newest = model.most_recent_ts(versions)
        return F.coalesce(newest >= F.lit(self.threshold_ms), F.lit(False))

    def serialize(self) -> str:
        return json.dumps({"newerThanTimeMillis": self.threshold_ms})

    def deserialize(self, state: str) -> None:
        self.threshold_ms = int(json.loads(state)["newerThanTimeMillis"])


class EmbeddingDrift(FreshnessPolicy):
    """A policy whose staleness predicate is SEMANTIC, not temporal: the
    entity's score is fresh iff its CURRENT embedding is still within
    ``tau`` (squared quantized distance) of the embedding it was scored
    against, measured as the PQ reconstruction distance
    (``operators.pq.drift``) between the current embedding and the
    entity's PERSISTED PQ codes through a codebook LUT. No timestamps
    are consulted: an entity whose meaning drifted yesterday is stale
    even if it was rescored this morning against the old embedding.

    Column contract. ``data_request`` (A6 own-request machinery,
    ``KijiFreshnessPolicy.java:68-84``) names three qualified
    group-family columns, read by their flat names
    (``registry.flat_name``, e.g. 'emb:q' → ``emb_q``):

    - ``embedding_column``: array<long>(64), the current quantized
      embedding;
    - ``codes_column``: a versioned cell whose newest value is the
      array<long>(8) of stored code ids;
    - ``codebook_column``: map<long, array<long>(64)>, code id → that
      codebook entry's quantized vector.

    Any name is allowed (it is quoted into the expression). A map-type
    family has no such flat column, so a map-family request fails at
    analysis. The predicate is one parsed, integer-exact expression (no
    UDF). An entity with NO stored codes is stale by definition (NULL
    drift → coalesce false), the same no-version rule ShelfLife applies."""

    def __init__(
        self,
        codes_column: str = "codes:versions",
        embedding_column: str = "emb:q",
        codebook_column: str = "cb:map",
        tau: int = -1,
    ):
        self.codes_column = codes_column
        self.embedding_column = embedding_column
        self.codebook_column = codebook_column
        self.tau = tau

    def is_fresh(self, versions: Column, as_of_ms: int) -> Column:
        raise NotImplementedError(
            "EmbeddingDrift evaluates over its own data request; "
            "the freshen pass must call is_fresh_over"
        )

    def is_fresh_over(self, requested: dict[str, Column], as_of_ms: int) -> Column:
        # reads the requested columns by flat name (the column contract
        # above), so the 64-term sum builds as one parsed expression
        drift = pq.drift(
            flat_name(self.embedding_column),
            flat_name(self.codes_column),
            flat_name(self.codebook_column),
            versioned=True,
        )
        return F.coalesce(drift <= F.lit(self.tau), F.lit(False))

    @property
    def data_request(self) -> list[str] | None:
        return [self.codes_column, self.embedding_column, self.codebook_column]

    def serialize(self) -> str:
        return json.dumps(
            {
                "codes": self.codes_column,
                "embedding": self.embedding_column,
                "codebook": self.codebook_column,
                "tau": self.tau,
            }
        )

    def deserialize(self, state: str) -> None:
        s = json.loads(state)
        self.codes_column = s["codes"]
        self.embedding_column = s["embedding"]
        self.codebook_column = s["codebook"]
        self.tau = int(s["tau"])
