"""session.pin: the one way to pin an intermediate.

Both branches of the recovery rule (reliable checkpoint when the
session has a checkpoint dir, local checkpoint otherwise), and a source
scan that keeps every pin site, re-materialization and scratch-dir
scaffold going through the one shared helper.
"""

import ast
import os
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from tinybrain_spark.session import pin
from tinybrain_spark.streaming import drain

REPO = Path(__file__).resolve().parent.parent


def _small(spark):
    return spark.range(200).select((F.col("id") * 3).alias("v")).repartition(4)


def _assert_pinned(pinned):
    assert sorted(r.v for r in pinned.collect()) == [3 * i for i in range(200)]
    plan = pinned._jdf.queryExecution().optimizedPlan().toString()
    assert "ExistingRDD" in plan or "LogicalRDD" in plan, plan


@pytest.fixture()
def checkpoint_dir(spark, tmp_path):
    sc = spark.sparkContext
    assert sc.getCheckpointDir() is None
    root = tmp_path / "ckpt"
    sc.setCheckpointDir(str(root))
    try:
        yield root
    finally:
        # SparkContext has no public "unset": reset the shared session's
        # dir so later tests keep the local branch
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(sc._jvm.scala.Option.empty())
    assert sc.getCheckpointDir() is None


def test_pin_without_checkpoint_dir_is_local(spark):
    assert spark.sparkContext.getCheckpointDir() is None
    _assert_pinned(pin(_small(spark)))


def test_pin_with_checkpoint_dir_is_reliable(spark, checkpoint_dir):
    _assert_pinned(pin(_small(spark)))
    written = [f for _, _, fs in os.walk(checkpoint_dir) for f in fs]
    assert any(f.startswith("part-") for f in written), written


def test_drain_timeout_stops_the_query_and_raises():
    class _Stuck:
        stopped = False

        def awaitTermination(self, timeout):
            return False

        def stop(self):
            self.stopped = True

    q = _Stuck()
    with pytest.raises(RuntimeError, match="did not drain within 5s"):
        drain(q, "stream", 5)
    assert q.stopped


def _sources(*roots):
    for root in roots:
        yield from sorted((REPO / root).rglob("*.py"))


def _calls(tree, attr):
    return [
        n
        for n in ast.walk(tree)
        if isinstance(n, ast.Call)
        and isinstance(n.func, ast.Attribute)
        and n.func.attr == attr
    ]


def test_pin_is_the_only_checkpoint_call():
    trees = {
        p: ast.parse(p.read_text(), filename=str(p))
        for p in _sources("tinybrain_spark", "jobs")
    }
    (pin_def,) = [
        n
        for n in trees[REPO / "tinybrain_spark" / "session.py"].body
        if isinstance(n, ast.FunctionDef) and n.name == "pin"
    ]
    inside = {id(n) for n in ast.walk(pin_def)}
    for attr in ("localCheckpoint", "checkpoint"):
        assert len(_calls(pin_def, attr)) == 1, attr
    stray = []
    for path, tree in trees.items():
        for attr in ("localCheckpoint", "checkpoint"):
            stray += [
                f"{path.relative_to(REPO)}:{n.lineno} .{attr}("
                for n in _calls(tree, attr)
                if id(n) not in inside
            ]
        # createDataFrame(x.collect(), ...) is a driver-side re-pin
        stray += [
            f"{path.relative_to(REPO)}:{n.lineno} createDataFrame(collect)"
            for n in _calls(tree, "createDataFrame")
            if n.args
            and isinstance(n.args[0], ast.Call)
            and isinstance(n.args[0].func, ast.Attribute)
            and n.args[0].func.attr == "collect"
        ]
    assert not stray, stray


def test_registry_builders_use_stdlib_scratch_dirs_and_drain():
    stray = []
    for path in _sources("tinybrain_spark/driver_contract"):
        tree = ast.parse(path.read_text(), filename=str(path))
        for node in ast.walk(tree):
            name = (
                node.attr
                if isinstance(node, ast.Attribute)
                else node.id if isinstance(node, ast.Name) else None
            )
            if name in ("mkdtemp", "rmtree", "awaitTermination"):
                stray.append(f"{path.relative_to(REPO)}:{node.lineno} {name}")
    assert not stray, stray
