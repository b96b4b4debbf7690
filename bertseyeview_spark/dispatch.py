"""The probe and the decision record every size-dispatched operator
uses, and the eager-result contract of every operator that caches an
intermediate.

A dispatcher probes its input, compares the probe with a driver or
broadcast ceiling and picks a path. A driver-side path probes with
:func:`pull_within`, which is also its pull. It logs that choice as one
INFO record whose message is a JSON object: ``dispatcher`` (which
choice), the inputs behind it (counts, ceilings, probe results), then
``path``. An operator that persists an intermediate for several
consumers returns through :func:`_finalize`.
"""

from __future__ import annotations

import json
import logging

import pyarrow as pa
from pyspark.sql import DataFrame


def pull_within(df: DataFrame, ceiling: int) -> tuple[pa.Table | None, int]:
    """Pull at most ``ceiling + 1`` rows of ``df`` to the driver as one
    Arrow table (``DataFrame.toArrow``), so the probe never holds more
    than one row past the ceiling's driver-memory bound.

    Returns the table when it is the whole input (at most ``ceiling``
    rows), else ``None``, and the number of rows pulled: the exact row
    count at or below the ceiling, ``ceiling + 1`` above it. A
    driver-side path costs no job beyond this one pull."""
    t = df.limit(ceiling + 1).toArrow()
    return (t if t.num_rows <= ceiling else None), t.num_rows


def log_dispatch(
    logger: logging.Logger, dispatcher: str, path: str, **inputs
) -> str:
    """Log ``{"dispatcher": ..., **inputs, "path": ...}`` at INFO on
    ``logger`` and return ``path``."""
    logger.info(json.dumps({"dispatcher": dispatcher, **inputs, "path": path}))
    return path


def _finalize(out: DataFrame, *caches: DataFrame) -> DataFrame:
    """Return ``out`` as an eager result and release the caches that fed
    it: ``out.localCheckpoint(eager=True)``, then
    ``unpersist(blocking=True)`` of each of ``caches``.

    This is the one contract of every operator that persists an
    intermediate for several consumers (a shingle table read by the
    probe, both join sides and the verify; an adjacency read by the
    sizes, the hub probe and the self-join). Left in place, such a
    cache outlives the call, and repeated calls in one long-lived
    session accumulate storage memory. The checkpoint of the (small)
    result truncates its lineage, so no cache is referenced any more
    and each is dropped at once; the checkpoint blocks themselves are
    ContextCleaner-managed and are reclaimed when the returned frame is
    garbage collected.

    Callers reach it as ``dispatch._finalize``, so one patch of this
    attribute replaces it everywhere: ``tools/explain_plans.py`` swaps
    it for identity to dump the lazy plan each operator would
    checkpoint."""
    out = out.localCheckpoint(eager=True)
    for c in caches:
        c.unpersist(blocking=True)
    return out
