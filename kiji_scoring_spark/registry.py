"""Freshener registry — metadata lifecycle for (policy, producer) attachments
(SURVEY §2.A rows A13-A15, §3.3).

Reference semantics reproduced (citations into /root/reference/src/main/java/
org/kiji/scoring/KijiFreshnessManager.java):

- A freshener record is {record_version, producer_class,
  freshness_policy_class, freshness_policy_state} keyed by (table, column)
  (``src/main/avro/KijiFreshnessPolicy.avdl:29-41``; metatable key prefix
  ``kiji.scoring.fresh.``, ``KijiFreshnessManager.java:79-80``).
- Attachment targets are either a fully-qualified column of a group-type
  family or a whole map-type family — never both levels within one map
  family (``KijiFreshnessManager.java:585-637``).
- Validation failure modes mirror the reference's ``ValidationFailure``
  enum (``KijiFreshnessManager.java:344-354``):
  BAD_POLICY_NAME, BAD_PRODUCER_NAME, NO_FAMILY_IN_TABLE,
  NO_QUALIFIED_COLUMN_IN_TABLE, FRESHENER_ALREADY_ATTACHED,
  GROUP_TYPE_FAMILY_ATTACHMENT, PRODUCER_OUTPUT_COLUMN_DOES_NOT_MATCH,
  PRODUCER_REQUEST_CANNOT_BE_FULFILLED.

Spark translation: the metatable is a JSON file (or any dict-like store);
class instantiation-by-name is ``importlib`` (A17); table layout checks run
against the DataFrame schema. Registry ops are driver-side metadata — they
never touch data at scale.
"""

from __future__ import annotations

import importlib
import json
import keyword
from dataclasses import asdict, dataclass
from enum import Enum
from pathlib import Path

from pyspark.sql.types import MapType, StructType

RECORD_VERSION = "policyrecord-0.1"
KEY_PREFIX = "kiji.scoring.fresh."


class ValidationFailure(Enum):
    BAD_POLICY_NAME = "BAD_POLICY_NAME"
    BAD_PRODUCER_NAME = "BAD_PRODUCER_NAME"
    NO_FAMILY_IN_TABLE = "NO_FAMILY_IN_TABLE"
    NO_QUALIFIED_COLUMN_IN_TABLE = "NO_QUALIFIED_COLUMN_IN_TABLE"
    FRESHENER_ALREADY_ATTACHED = "FRESHENER_ALREADY_ATTACHED"
    GROUP_TYPE_FAMILY_ATTACHMENT = "GROUP_TYPE_FAMILY_ATTACHMENT"
    PRODUCER_OUTPUT_COLUMN_DOES_NOT_MATCH = "PRODUCER_OUTPUT_COLUMN_DOES_NOT_MATCH"
    PRODUCER_REQUEST_CANNOT_BE_FULFILLED = "PRODUCER_REQUEST_CANNOT_BE_FULFILLED"


class FreshnessValidationError(ValueError):
    """Aggregate of validation failures for one attachment request
    (``KijiFreshnessManager.FreshnessValidationException``)."""

    def __init__(self, failures: dict[ValidationFailure, str]):
        self.failures = failures
        super().__init__(
            "; ".join(f"{k.value}: {v}" for k, v in sorted(failures.items(), key=lambda kv: kv[0].value))
        )


@dataclass(frozen=True)
class FreshenerRecord:
    """The persisted scoring config (KijiFreshnessPolicy.avdl:29-41)."""

    record_version: str
    producer_class: str
    freshness_policy_class: str
    freshness_policy_state: str


def parse_column(column: str) -> tuple[str, str | None]:
    """'family:qualifier' → (family, qualifier); 'family' → (family, None)."""
    if ":" in column:
        fam, qual = column.split(":", 1)
        return fam, qual
    return column, None


def flat_name(column: str) -> str:
    """The table column a request name is stored in: 'family:qualifier'
    is the flattened group-family column ``family_qualifier``; a bare
    'family' (a map-type family) is its own column."""
    fam, qual = parse_column(column)
    return fam if qual is None else f"{fam}_{qual}"


def _is_valid_class_name(name: str) -> bool:
    """Dotted-path identifier check (``KijiFreshnessManager.java:171-196``
    translated to Python identifier rules)."""
    if not name or name.endswith("."):
        return False
    parts = name.split(".")
    return all(part.isidentifier() and not keyword.iskeyword(part) for part in parts)


def load_class(dotted: str):
    """A17 reflection analog: instantiate policy/producer classes by name
    (``policyForName`` / ``producerForName``,
    ``impl/InternalFreshKijiTableReader.java:319-345``)."""
    module, _, cls = dotted.rpartition(".")
    if not module:
        raise ValueError(f"not a dotted class path: {dotted!r}")
    return getattr(importlib.import_module(module), cls)


class TableLayout:
    """Schema adapter: answers the reference's layout questions against a
    Spark schema. A column named ``family_qualifier`` whose type is a
    versioned array is a qualified group-family column; a MapType column is
    a map-type family (SURVEY §1.2 flattening)."""

    def __init__(self, schema: StructType):
        self.schema = schema

    def has_family(self, family: str) -> bool:
        return self.is_map_family(family) or any(
            f.name == family or f.name.startswith(f"{family}_") for f in self.schema.fields
        )

    def is_map_family(self, family: str) -> bool:
        return any(
            f.name == family and isinstance(f.dataType, MapType) for f in self.schema.fields
        )

    def has_qualified_column(self, family: str, qualifier: str) -> bool:
        return any(
            f.name == f"{family}_{qualifier}" and not isinstance(f.dataType, MapType)
            for f in self.schema.fields
        )


class FreshenerRegistry:
    """Store / retrieve / remove freshener records with attachment-time
    validation (``KijiFreshnessManager.java:148-342, 546-641``).

    Backed by an in-memory dict, optionally persisted to a JSON file so a
    'reader' process can reload it (§3.3 read side).
    """

    def __init__(self, path: str | Path | None = None):
        self._path = Path(path) if path else None
        self._records: dict[tuple[str, str], FreshenerRecord] = {}
        if self._path and self._path.exists():
            self._load()

    # -- persistence ------------------------------------------------------

    def _load(self) -> None:
        data = json.loads(self._path.read_text())
        self._records = {
            (e["table"], e["column"]): FreshenerRecord(**e["record"]) for e in data
        }

    def _flush(self) -> None:
        if not self._path:
            return
        data = [
            {"table": t, "column": c, "record": asdict(r)}
            for (t, c), r in sorted(self._records.items())
        ]
        self._path.write_text(json.dumps(data, indent=2))

    # -- validation (A15) -------------------------------------------------

    def validate_attachment(
        self,
        layout: TableLayout,
        table: str,
        column: str,
        producer_class: str,
        policy_class: str,
        attachment_time_checks: bool = True,
    ) -> dict[ValidationFailure, str]:
        """The 8-mode validation matrix (``validateAttachment``,
        ``KijiFreshnessManager.java:546-641``)."""
        failures: dict[ValidationFailure, str] = {}
        fam, qual = parse_column(column)

        if not _is_valid_class_name(policy_class):
            failures[ValidationFailure.BAD_POLICY_NAME] = (
                f"Policy class name: {policy_class} is not a valid class identifier."
            )
        if not _is_valid_class_name(producer_class):
            failures[ValidationFailure.BAD_PRODUCER_NAME] = (
                f"Producer class name: {producer_class} is not a valid class identifier."
            )

        family_found = layout.has_family(fam)
        if not family_found:
            failures[ValidationFailure.NO_FAMILY_IN_TABLE] = (
                f"Table: {table} does not contain family: {fam}"
            )

        attached = {c for (t, c) in self._records if t == table}
        if qual is not None:
            if family_found and not layout.is_map_family(fam):
                # group-type: the qualified column must exist in the layout
                if not layout.has_qualified_column(fam, qual):
                    failures[ValidationFailure.NO_QUALIFIED_COLUMN_IN_TABLE] = (
                        f"Table: {table} does not contain specified column: {column}"
                    )
                if attachment_time_checks and column in attached:
                    failures[ValidationFailure.FRESHENER_ALREADY_ATTACHED] = (
                        f"There is already a freshness policy attached to column: {column}"
                    )
            elif family_found and attachment_time_checks:
                # map-type family, qualified attachment: family-level and
                # qualified-level attachments are mutually exclusive
                if fam in attached:
                    failures[ValidationFailure.FRESHENER_ALREADY_ATTACHED] = (
                        f"There is already a freshness policy attached to family: {fam} "
                        "Freshness policies may not be attached to a map type family and "
                        "fully qualified columns within that family."
                    )
                elif column in attached:
                    failures[ValidationFailure.FRESHENER_ALREADY_ATTACHED] = (
                        f"There is already a freshness policy attached to column: {column}"
                    )
        else:
            if family_found:
                if not layout.is_map_family(fam):
                    failures[ValidationFailure.GROUP_TYPE_FAMILY_ATTACHMENT] = (
                        f"Specified family: {fam} is not a valid Map Type family in the "
                        f"table: {table}"
                    )
                elif attachment_time_checks and any(
                    c.startswith(f"{fam}:") for c in attached
                ):
                    failures[ValidationFailure.FRESHENER_ALREADY_ATTACHED] = (
                        f"There is already a freshness policy attached to a fully "
                        f"qualified column in family: {fam} Freshness policies may not be "
                        "attached to a map type family and fully qualified columns within "
                        "that family."
                    )
        return failures

    def validate_instances(
        self, layout: TableLayout, table: str, column: str, producer
    ) -> dict[ValidationFailure, str]:
        """Instance-level checks (``storePolicy``,
        ``KijiFreshnessManager.java:131-167``): producer output column must
        match the attachment level, and the producer's data request must be
        satisfiable by the table layout."""
        failures: dict[ValidationFailure, str] = {}
        fam, qual = parse_column(column)
        out_col = producer.output_column
        if out_col is not None:
            _, out_qual = parse_column(out_col)
            if (qual is None) != (out_qual is None):
                failures[ValidationFailure.PRODUCER_OUTPUT_COLUMN_DOES_NOT_MATCH] = (
                    f"Producer output column: {out_col} does not match attachment "
                    f"column: {column} (both must be map families or both fully "
                    "qualified columns)."
                )
        for req in producer.data_request:
            req_fam, req_qual = parse_column(req)
            ok = (
                layout.has_qualified_column(req_fam, req_qual)
                if req_qual is not None
                else layout.has_family(req_fam)
            )
            if not ok:
                failures[ValidationFailure.PRODUCER_REQUEST_CANNOT_BE_FULFILLED] = (
                    f"Producer data request column: {req} not in table: {table}"
                )
        return failures

    # -- CRUD (A14) -------------------------------------------------------

    def store(
        self,
        layout: TableLayout,
        table: str,
        column: str,
        producer_class: str,
        policy_class: str,
        policy_state: str = "",
        instances: tuple | None = None,
    ) -> None:
        """``storePolicyWithStrings`` (+ instance checks when ``instances``
        =(policy, producer) is given, i.e. ``storePolicy``)."""
        failures = self.validate_attachment(layout, table, column, producer_class, policy_class)
        if instances is not None:
            _policy, producer = instances
            failures.update(self.validate_instances(layout, table, column, producer))
        if failures:
            raise FreshnessValidationError(failures)
        self._records[(table, column)] = FreshenerRecord(
            record_version=RECORD_VERSION,
            producer_class=producer_class,
            freshness_policy_class=policy_class,
            freshness_policy_state=policy_state,
        )
        self._flush()

    def retrieve(self, table: str, column: str) -> FreshenerRecord | None:
        return self._records.get((table, column))

    def retrieve_all(self, table: str) -> dict[str, FreshenerRecord]:
        return {c: r for (t, c), r in sorted(self._records.items()) if t == table}

    def remove(self, table: str, column: str) -> bool:
        """``removePolicy`` — True if a record was removed."""
        removed = self._records.pop((table, column), None) is not None
        if removed:
            self._flush()
        return removed

    def remove_all(self, table: str) -> list[str]:
        """``removePolicies`` — returns removed column names."""
        cols = [c for (t, c) in list(self._records) if t == table]
        for c in cols:
            del self._records[(table, c)]
        if cols:
            self._flush()
        return sorted(cols)

    def validate_stored(self, layout: TableLayout, table: str, column: str):
        """``validatePolicy`` — re-check an already-attached record."""
        rec = self.retrieve(table, column)
        if rec is None:
            raise KeyError(f"no freshener attached to {table}/{column}")
        return self.validate_attachment(
            layout, table, column, rec.producer_class, rec.freshness_policy_class,
            attachment_time_checks=False,
        )
