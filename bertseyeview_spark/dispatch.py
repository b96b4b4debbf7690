"""The probe and the decision record every size-dispatched operator uses.

A dispatcher probes its input, compares the probe with a driver or
broadcast ceiling and picks a path. A driver-side path probes with
:func:`pull_within`, which is also its pull. It logs that choice as one
INFO record whose message is a JSON object: ``dispatcher`` (which
choice), the inputs behind it (counts, ceilings, probe results), then
``path``.
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
