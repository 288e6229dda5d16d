"""Validation as dataflow: quarantine DataFrames instead of exceptions.

The reference raises ``ValidationError`` per document (validate_any cascade,
/root/reference/gis_metadata/utils.py:525-710).  At 10^12 docs an exception
is not an option: rules become boolean column expressions and offending rows
are routed to a violations side-channel (doc_id, property, rule, detail) —
the same information ``ValidationError.invalid/missing`` carries
(exceptions.py:43-50), joinable back to the corpus for repair.

Structural rules (Q4/Q5/Q8 — keys subset of definition, leaf types) are
enforced by the StructType schema at write time and therefore cannot be
violated inside the engine; the runtime rules that remain data-dependent are
implemented here:
- Q6 date-type enum + cardinality matrix (utils.py:599-641)
- bounding-box numeric/range rules (SURVEY §2.7; see also geometry.extents)
- emptiness/shape rules for complex lists (labels present, etc.)
The report evaluates every rule in one projection and explodes the hits with
one ``Generate``, so an unpersisted ``meta`` (an extraction pass) runs once.
Q2 (required-property schema completeness, utils.py:672-685) is a driver-side
plan assertion: validate_schema raises before any job runs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from gmx.specs import SUPPORTED_PROPS

DATE_TYPES = ("", "single", "multiple", "range")


class SchemaValidationError(ValueError):
    pass


def validate_schema(meta: DataFrame, required: tuple[str, ...] = SUPPORTED_PROPS) -> None:
    """Q2: every supported property must be bound as a column (driver-side,
    mirrors validate_properties raising with the missing set)."""

    missing = sorted(set(required) - set(meta.columns))
    if missing:
        raise SchemaValidationError(f"Missing property names: {','.join(missing)}")


def _rule(hit, prop: str, rule: str, detail):
    return F.struct(
        hit.alias("hit"),
        F.lit(prop).alias("property"),
        F.lit(rule).alias("rule"),
        detail.cast("string").alias("detail"),
    )


def validation_report(meta: DataFrame) -> DataFrame:
    """All rule violations in the corpus: (doc_id, property, rule, detail)."""

    n_vals = F.coalesce(F.size("dates.values"), F.lit(0))
    dtype = F.coalesce(F.col("dates.type"), F.lit(""))
    has_box = F.col("bounding_box").isNotNull()
    west, south, east, north = (
        F.col(f"bounding_box.{s}").try_cast("double") for s in ("west", "south", "east", "north")
    )

    rules = F.array(
        # Q6: date type enum
        _rule(
            F.col("dates").isNotNull() & ~dtype.isin(*DATE_TYPES),
            "dates", "type_not_in_enum", dtype,
        ),
        # Q6: cardinality matrix — missing=0, single=1, range=2, multiple>=2
        _rule(
            F.col("dates").isNotNull()
            & (
                ((dtype == "") & (n_vals != 0))
                | ((dtype == "single") & (n_vals != 1))
                | ((dtype == "range") & (n_vals != 2))
                | ((dtype == "multiple") & (n_vals < 2))
            ),
            "dates", "cardinality_mismatch", F.concat_ws(":", dtype, n_vals),
        ),
        # bbox numeric + range rules
        _rule(
            has_box & (west.isNull() | east.isNull() | south.isNull() | north.isNull()),
            "bounding_box", "not_numeric", F.to_json("bounding_box"),
        ),
        _rule(
            has_box
            & west.isNotNull()
            & (
                (F.abs(west) > 180) | (F.abs(east) > 180)
                | (F.abs(south) > 90) | (F.abs(north) > 90)
                | (south > north)
            ),
            "bounding_box", "out_of_range", F.to_json("bounding_box"),
        ),
        # attributes must carry a label (reference requires str label at write)
        _rule(
            F.exists("attributes", lambda a: a["label"] == ""),
            "attributes", "empty_label", F.size("attributes"),
        ),
        # ingest errors routed rather than raised (NoContent/InvalidContent)
        _rule(F.col("error") != "", "_document", "ingest_error", F.col("error")),
    )

    # One Generate over the hits (a null rule result drops, as a filter
    # would), not a union of filtered copies: each branch of a union would
    # re-run an unpersisted extraction pass under ``meta``.
    return meta.select("doc_id", F.inline(F.filter(rules, lambda v: v["hit"]))).drop("hit")


def quarantine_split(meta: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(clean, quarantined) — quarantined rows are those with >= 1 violation;
    anti-join keeps the clean path shuffle-free on the big side."""

    bad_ids = validation_report(meta).select("doc_id").distinct()
    clean = meta.join(bad_ids, "doc_id", "left_anti")
    bad = meta.join(bad_ids, "doc_id", "left_semi")
    return clean, bad
