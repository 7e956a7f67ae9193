"""Assembled driver contract: import all query modules (their @register
decorators populate the registry) and expose queries()/oracle_sql()."""

from __future__ import annotations

from typing import Callable, Dict

from pyspark.sql import DataFrame, SparkSession

from . import extraction_queries  # noqa: F401  (registers entries)
from . import media_queries  # noqa: F401  (registers entries)
from . import preproc_queries  # noqa: F401  (registers entries)
from . import sketch_queries  # noqa: F401  (registers entries)
from . import textops  # noqa: F401  (registers entries)
from . import streaming  # noqa: F401  (registers entries)
from . import training_queries  # noqa: F401  (registers entries)
from .queries import _REGISTRY


def queries() -> Dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: fn for name, (fn, _sql) in _REGISTRY.items()}


def oracle_sql() -> Dict[str, str]:
    return {name: sql() if callable(sql) else sql
            for name, (_fn, sql) in _REGISTRY.items() if sql is not None}
