"""tinybrain_spark — PySpark-native rollup/downsample/retention engine.

Two API surfaces:

* ``tinybrain_spark.compat`` — drop-in single-node replacements for the
  reference's five public functions (numpy ndarrays in/out).
* The distributed engine — :class:`RollupEngine`, mapInArrow pooling,
  continuous aggregates, gap-fill, Gorilla compression, retention.
"""

__version__ = "0.1.0"

from . import kernels  # noqa: F401
from .rollup import RollupConfig, RollupEngine  # noqa: F401

__all__ = ["kernels", "RollupConfig", "RollupEngine", "__version__"]
