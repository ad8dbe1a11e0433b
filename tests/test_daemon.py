"""The engine's Python worker daemon (``tinybrain_spark.daemon``):
every Python worker forks from it and starts each task with no zip
importer cached for the task's ``importlib.invalidate_caches()`` to
re-read."""

import numpy as np
import pyarrow as pa
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from tinybrain_spark import kernels as K
from tinybrain_spark.udfs import pool_tier

_PROBE = pa.schema([("probes", pa.int32()), ("daemon", pa.string()),
                    ("zip_importers", pa.int32())])


def _worker_state(batches):
    """Runs in the Python worker: how many probe tasks this worker has
    run, the module it was forked from and the ``pyspark.zip``
    importers cached when the task began.  It then looks up a module
    that does not exist, which walks every ``PYTHONPATH`` root and
    caches an importer for each zip on it, as a task importing a module
    for the first time does."""
    import importlib.util
    import os
    import sys
    import zipimport

    zips = sum(
        isinstance(f, zipimport.zipimporter)
        and f.archive.endswith("pyspark.zip")
        for f in sys.path_importer_cache.values()
    )
    spec = getattr(sys.modules["__main__"], "__spec__", None)
    assert importlib.util.find_spec("tinybrain_spark_no_such_module") is None
    probes = int(os.environ.get("TB_DAEMON_PROBES", "0")) + 1
    os.environ["TB_DAEMON_PROBES"] = str(probes)
    for _ in batches:
        pass
    yield pa.RecordBatch.from_pylist(
        [{"probes": probes,
          "daemon": spec.name if spec is not None else None,
          "zip_importers": zips}],
        schema=_PROBE,
    )


def test_get_spark_sets_daemon_module(spark):
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.daemon.module") == "tinybrain_spark.daemon"


def test_every_task_starts_with_no_zip_importer(spark):
    """The JVM runs the daemon as ``python -m tinybrain_spark.daemon``,
    so in a worker it is ``__main__`` (its spec names it).  Every task
    starts with no cached ``pyspark.zip`` importer, also in a reused
    worker whose earlier probe task cached some.  Idle workers are
    handed out in turn, so the probe runs until one comes back."""
    rows = []
    while not any(r.probes > 1 for r in rows):
        assert len(rows) < 256, "no worker ran the probe twice"
        rows += (
            spark.range(0, 64, numPartitions=8)
            .mapInArrow(_worker_state, "probes int, daemon string, "
                        "zip_importers int")
            .collect()
        )
    for r in rows:
        assert r.daemon == "tinybrain_spark.daemon", r
        assert r.zip_importers == 0, r


def test_pooled_output_equals_kernels(spark):
    rng = np.random.default_rng(11)
    toks = [rng.integers(0, 256, n).astype(np.int32)
            for n in (64, 128, 256, 64, 128)]
    schema = StructType([
        StructField("doc_id", LongType()),
        StructField("tokens", ArrayType(IntegerType())),
    ])
    df = spark.createDataFrame(
        [(i, t.tolist()) for i, t in enumerate(toks)], schema
    ).repartition(2)
    got = {
        r.doc_id: r.tokens
        for r in pool_tier("avg", window=4, num_tiers=2)(df).collect()
    }
    assert sorted(got) == list(range(len(toks)))
    for i, t in enumerate(toks):
        want = K.pool("avg", t, window=4, num_tiers=2)[-1]
        assert got[i] == np.asarray(want).ravel().tolist(), i
