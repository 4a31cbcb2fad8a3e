"""Pipeline logging setup (reference S6, data_process.py:11-33).

Same observable behavior as the reference — a file handler (append) plus
stdout, format ``ts | level | funcName | msg``, level from config — as a
reusable function that returns the logger instead of mutating global
state as a side effect of import. Python logging is driver-side only;
executor-side diagnostics belong in Spark metrics/eventLog, not here.
"""

from __future__ import annotations

import logging
import os
import sys

_FORMAT = "%(asctime)s | %(levelname)s | %(funcName)s | %(message)s"


def setup_logging(
    *,
    log_file: str | None = None,
    log_level: str = "INFO",
    name: str = "pyspark_engine",
) -> logging.Logger:
    """File (append) + stdout handlers with the reference's format.

    Idempotent: repeated calls reconfigure rather than duplicate
    handlers (the reference re-added handlers on each run).
    """
    logger = logging.getLogger(name)
    logger.setLevel(getattr(logging, log_level.upper(), logging.INFO))
    for h in list(logger.handlers):
        logger.removeHandler(h)
    formatter = logging.Formatter(_FORMAT)
    if log_file:
        os.makedirs(os.path.dirname(log_file) or ".", exist_ok=True)
        fh = logging.FileHandler(log_file, mode="a", encoding="utf-8")
        fh.setFormatter(formatter)
        logger.addHandler(fh)
    sh = logging.StreamHandler(sys.stdout)
    sh.setFormatter(formatter)
    logger.addHandler(sh)
    logger.propagate = False
    return logger
