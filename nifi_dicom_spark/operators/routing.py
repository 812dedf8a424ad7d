"""Multi-way routing on validity (SURVEY §2.3 P2/P8).

Reference: parse-failure routing to ``failure``/``reject`` relationships
(``DeidentifyDICOM.java:183-191,220-234``; asserted 2-success/1-reject in
``DeidentifyDICOMTest.java:179-195``). Spark-first shape: one two-valued
validity predicate and two ``filter`` calls on the same source — Catalyst
pushes each predicate to the scan, inside whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from nifi_dicom_spark.model import OPS

def validity_predicate() -> Column:
    """Is this change event well-formed? (the engine's 'is DICOM' predicate)

    Wrapped in ``coalesce(..., False)`` so the predicate is two-valued: a
    NULL in any tested column (e.g. null ``turn_idx``) must land the event in
    quarantine — with a raw three-valued predicate both ``filter(ok)`` and
    ``filter(~ok)`` would drop the row, silently losing it from BOTH routes.
    """
    raw = (
        F.col("conv_id").isNotNull()
        & (F.col("turn_idx") >= 0)
        & F.col("op").isin(*OPS)
        & F.col("op_seq").isNotNull()
    )
    return F.coalesce(raw, F.lit(False))


def route_events(events: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(valid, quarantined). Both derive from the same scan; each filter is
    pushed down independently."""
    ok = validity_predicate()
    return events.filter(ok), events.filter(~ok)
