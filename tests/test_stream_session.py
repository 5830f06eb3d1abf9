"""``run_to_completion`` and the caller's session: the state-shard rule
``min(requested, defaultParallelism)``, the conf changed only across
``start()`` (restored even when the key was never set, and under
concurrent callers), listeners on the caller's session still seeing the
stream, a failing stream raising, and an AST guard against new
session-conf writes in library code."""

from __future__ import annotations

import ast
import os
import threading
import time

import pytest
from pyspark.errors import StreamingQueryException
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener

from cicevse2024_tfm_datapipeline_spark.streaming.stream_ops import (
    run_to_completion,
    session_window_stream,
    tumbling_sums_stream,
)
from tests.conftest import SF_SMOKE as SF

KEY = "spark.sql.shuffle.partitions"
PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "cicevse2024_tfm_datapipeline_spark",
)


def _events(spark):
    from cicevse2024_tfm_datapipeline_spark.plans.rows_only import _events_stream

    return _events_stream(spark, SF)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


class _Shards(StreamingQueryListener):
    """Collects ``numShufflePartitions`` of each query's first state
    operator, by query name."""

    def __init__(self):
        self.seen: dict[str, int] = {}

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        ops = event.progress.stateOperators
        if ops:
            self.seen[event.progress.name] = ops[0].numShufflePartitions

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


def _wait_for(seen: dict, name: str, timeout_s: float = 30.0):
    deadline = time.time() + timeout_s
    while name not in seen and time.time() < deadline:
        time.sleep(0.1)
    return seen.get(name)


def test_conf_restored_when_key_was_never_set(spark):
    prev = spark.conf.get(KEY)
    spark.conf.unset(KEY)
    try:
        before = spark.conf.get(KEY)
        run_to_completion(
            tumbling_sums_stream(_events(spark)), "t_unset_conf", "complete"
        ).collect()
        assert spark.conf.get(KEY) == before
    finally:
        spark.conf.set(KEY, prev)


def test_state_shards_follow_task_slots_and_listener_sees_stream(spark):
    from cicevse2024_tfm_datapipeline_spark.plans import load_all

    slots = spark.sparkContext.defaultParallelism
    session_parts = int(spark.conf.get(KEY))
    listener = _Shards()
    spark.streams.addListener(listener)
    try:
        run_to_completion(
            tumbling_sums_stream(_events(spark)), "t_shards_window", "complete"
        ).collect()
        load_all()["stream_stream_interval_join"].spark(spark, SF).collect()
        assert _wait_for(listener.seen, "t_shards_window") == min(session_parts, slots)
        assert _wait_for(listener.seen, "stream_ss_join_out") == min(8, slots)
    finally:
        spark.streams.removeListener(listener)
    assert spark.conf.get(KEY) == str(session_parts)


def test_concurrent_callers_match_sequential_and_keep_conf(spark):
    prev = spark.conf.get(KEY)
    # above the slot count, so every call really changes the conf
    spark.conf.set(KEY, str(spark.sparkContext.defaultParallelism * 4))
    try:
        before = spark.conf.get(KEY)
        jobs = {
            "t_conc_tumbling": lambda: tumbling_sums_stream(_events(spark)),
            "t_conc_sessions": lambda: session_window_stream(_events(spark)),
        }
        want = {
            name: _rows(run_to_completion(make(), name, "complete"))
            for name, make in jobs.items()
        }
        got, errors = {}, []

        def run(name, make):
            try:
                got[name] = _rows(run_to_completion(make(), f"{name}_thr", "complete"))
            except Exception as e:  # noqa: BLE001 - surfaced below
                errors.append(e)

        threads = [threading.Thread(target=run, args=item) for item in jobs.items()]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
        assert not any(t.is_alive() for t in threads), "a stream run hung"
        assert not errors, errors
        assert got == want
        assert spark.conf.get(KEY) == before
    finally:
        spark.conf.set(KEY, prev)


#: the only library functions allowed to write the caller's session conf
_CONF_WRITE_ALLOWLIST = {
    ("sources/readers.py", "load_table"),
    ("streaming/stream_ops.py", "run_to_completion"),
}


def _conf_writes(tree: ast.AST):
    """(function, line) of every ``<x>.conf.set/unset(...)`` call, and of
    every ``name = <x>.conf`` alias (which would hide a later write)."""

    def walk(node, fn):
        for child in ast.iter_child_nodes(node):
            scope = (
                child.name
                if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef))
                else fn
            )
            if (
                isinstance(child, ast.Call)
                and isinstance(child.func, ast.Attribute)
                and child.func.attr in ("set", "unset")
                and isinstance(child.func.value, ast.Attribute)
                and child.func.value.attr == "conf"
            ) or (
                isinstance(child, ast.Assign)
                and isinstance(child.value, ast.Attribute)
                and child.value.attr == "conf"
            ):
                yield scope, child.lineno
            yield from walk(child, scope)

    yield from walk(tree, "<module>")


def test_no_session_conf_writes_outside_allowlist():
    found = []
    for root, _, files in os.walk(PKG):
        for f in sorted(files):
            if not f.endswith(".py"):
                continue
            path = os.path.join(root, f)
            rel = os.path.relpath(path, PKG)
            with open(path) as fh:
                tree = ast.parse(fh.read(), path)
            found += [
                f"{rel}:{line} in {fn}"
                for fn, line in _conf_writes(tree)
                if (rel, fn) not in _CONF_WRITE_ALLOWLIST
            ]
    assert not found, (
        "library code writes the caller's session conf outside the "
        f"allowlist {sorted(_CONF_WRITE_ALLOWLIST)}: {found}; use a "
        "per-read/per-write option instead"
    )


def test_failing_stream_raises_from_run_to_completion(spark):
    """A stream whose batch fails raises out of ``run_to_completion``
    (``processAllAvailable`` rethrows the query's exception) instead of
    returning an empty sink, and leaves the session conf and the active
    streams as they were."""

    @F.udf("double")
    def boom(v):
        raise ValueError("stream batch failure")

    before = spark.conf.get(KEY)
    stream = _events(spark).select(boom("value").alias("v"))
    with pytest.raises(StreamingQueryException, match="stream batch failure"):
        run_to_completion(stream, "t_failing_stream")
    assert spark.conf.get(KEY) == before
    assert "t_failing_stream" not in [q.name for q in spark.streams.active]
