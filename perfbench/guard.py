"""Detects calls into the range-partition ordering device.

``functions.distributed.sequential_ids``, ``global_ordered`` and
``global_cumsum`` give wrong output at some shuffle-partition counts
(ROADMAP open item 1), so no benchmarked operation may reach them. The
guard wraps each helper in its own module and wherever a module of the
package bound it at import time (``operators.packing`` does), and
records every call. Callers that import inside a function read the
module attribute at call time, so the wrapped module covers them.
"""

from __future__ import annotations

import functools
import sys
from contextlib import contextmanager

PACKAGE = "iris_project_database_refresh_spark"
DEVICE = ("sequential_ids", "global_ordered", "global_cumsum")


@contextmanager
def device_guard():
    """Yields the list of device helpers called while the guard is on."""
    from iris_project_database_refresh_spark.functions import distributed

    calls: list[str] = []
    patched: list[tuple[object, str, object]] = []
    for name in DEVICE:
        orig = getattr(distributed, name)

        @functools.wraps(orig)
        def recording(*args, _name=name, _orig=orig, **kwargs):
            calls.append(_name)
            return _orig(*args, **kwargs)

        for mod in list(sys.modules.values()):
            if getattr(mod, "__name__", "").startswith(PACKAGE) and getattr(mod, name, None) is orig:
                setattr(mod, name, recording)
                patched.append((mod, name, orig))
    try:
        yield calls
    finally:
        for mod, name, orig in patched:
            setattr(mod, name, orig)
