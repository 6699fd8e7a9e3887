"""PySpark-native HTML sanitization / extraction engine.

A from-scratch, Spark-first re-expression of the semantics of
``matthiask/html-sanitizer`` (reference: /root/reference, BSD-3): an
allowlist HTML sanitizer applied at scale to Iceberg/parquet tables of
interleaved text + media span documents.

Layout:
  engine/     pure-stdlib sanitizer core (no Spark, no lxml)
  functions/  Spark column functions + Arrow batch kernels (mapInArrow,
              arrow_udf)
  pipeline/   batch job topology: explode -> salt -> sanitize -> reassemble,
              lineage, checkpoint/resume, deterministic fixture synthesis
"""

__version__ = "0.1.0"

# every Python worker task unpickles a reference into this package, so
# this import makes each worker's per-task zip re-read cheap (_zipimport)
from . import _zipimport  # noqa: F401
# registers the named configs in the engine's registry
from . import configs  # noqa: F401
from .engine.core import sanitize  # noqa: F401
from .engine.extract import extract_main, extract_main_blocks  # noqa: F401
from .engine.settings import Settings, get_settings  # noqa: F401
from .sanitizer_api import Sanitizer, get_sanitizer  # noqa: F401
