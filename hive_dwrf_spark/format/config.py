"""Validated environment knobs.

Every integer ``SPARK_GRAFT_*`` setting is read through ``env_int``, so a
malformed value degrades the same way everywhere: the default, plus one
RuntimeWarning naming the variable, instead of a ValueError raised deep
inside a write, a scan or a Spark job. Pure stdlib, so the format core
imports it without pyspark.
"""

from __future__ import annotations

import os
import warnings


def env_int(name: str, default: int) -> int:
    """The non-negative integer in env var `name`, or `default` when it
    is unset or empty. Any other value (``"abc"``, ``"1.5"``, ``"-3"``)
    falls back to `default` with a RuntimeWarning. Callers keep their own
    clamps and their own meaning for 0."""
    raw = os.environ.get(name)
    if not raw:
        return default
    try:
        value = int(raw)
    except ValueError:
        value = -1
    if value < 0:
        warnings.warn(
            f"{name}={raw!r} is not a non-negative integer; using {default}",
            RuntimeWarning,
            stacklevel=2,
        )
        return default
    return value
