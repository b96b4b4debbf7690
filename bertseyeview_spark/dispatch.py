"""The decision record every size-dispatched operator emits.

A dispatcher probes its input, compares the probe with a driver or
broadcast ceiling and picks a path. It logs that choice as one INFO
record whose message is a JSON object: ``dispatcher`` (which choice),
the inputs behind it (counts, ceilings, probe results), then ``path``.
"""

from __future__ import annotations

import json
import logging


def log_dispatch(
    logger: logging.Logger, dispatcher: str, path: str, **inputs
) -> str:
    """Log ``{"dispatcher": ..., **inputs, "path": ...}`` at INFO on
    ``logger`` and return ``path``."""
    logger.info(json.dumps({"dispatcher": dispatcher, **inputs, "path": path}))
    return path
