"""Worker-importable test support.

Kernel factories for the mapInArrow annotation stage must live in an
importable module — cloudpickle serializes them by module reference,
and Spark's python workers cannot import pytest test files.  Nothing here runs in production paths.
"""

from __future__ import annotations

import os


def counting_kernel_factory(log_path: str):
    """Build the default kernel, recording one line (the worker PID)
    per CALL: tests assert the per-worker factory memoization by
    comparing call count to distinct PIDs.  Use via
    functools.partial(counting_kernel_factory, path) so the path rides
    inside the pickled factory."""
    with open(log_path, "a") as f:
        f.write(f"{os.getpid()}\n")
    from phonlp_spark.kernel.annotate import AnnotationKernel
    return AnnotationKernel()
