"""session.scoped_conf: the one way the package changes session conf.

Every scope must leave the conf exactly as it found it: nested, on
error, for keys that had no explicit setting, and when scopes of two
threads interleave on one session (foreachBatch handlers do this).
"""

from __future__ import annotations

import sys
import threading

import pytest

from high_volume_market_data_pipeline_spark.operators.layout import (
    data_scoped_shuffle,
)
from high_volume_market_data_pipeline_spark import session
from high_volume_market_data_pipeline_spark.session import scoped_conf

_PARTS = "spark.sql.shuffle.partitions"
_AQE = "spark.sql.adaptive.enabled"
_UNSET = "spark.sql.cteRecursionLevelLimit"


def test_nested_scopes_restore_each_level(spark):
    before = dict(spark.conf.getAll)
    with scoped_conf(spark, {_PARTS: "3"}):
        assert spark.conf.get(_PARTS) == "3"
        with scoped_conf(spark, {_PARTS: "5", _AQE: "false"}):
            assert spark.conf.get(_PARTS) == "5"
            assert spark.conf.get(_AQE) == "false"
        assert spark.conf.get(_PARTS) == "3"
        assert spark.conf.get(_AQE) == before[_AQE]
    assert dict(spark.conf.getAll) == before


def test_scope_restores_when_the_body_raises(spark):
    before = dict(spark.conf.getAll)
    with pytest.raises(RuntimeError, match="boom"):
        with scoped_conf(spark, {_PARTS: "2", _AQE: "false"}):
            raise RuntimeError("boom")
    assert dict(spark.conf.getAll) == before


def test_scope_that_fails_on_entry_leaves_nothing_set(spark):
    before = dict(spark.conf.getAll)
    with pytest.raises(Exception, match="CANNOT_MODIFY"):
        # a static conf cannot change at runtime: the second set raises
        with scoped_conf(
            spark, {_PARTS: "2", "spark.sql.warehouse.dir": "/nowhere"}
        ):
            pass
    assert dict(spark.conf.getAll) == before


def test_key_unset_before_entry_is_unset_after(spark):
    assert spark.conf.get(_UNSET, None) is None
    with scoped_conf(spark, {_UNSET: "200"}):
        assert spark.conf.get(_UNSET) == "200"
    assert spark.conf.get(_UNSET, None) is None
    assert _UNSET not in dict(spark.conf.getAll)


def test_interleaved_thread_scopes_restore_the_baseline(spark):
    """A enters, B enters, A exits, B exits: B's value holds until B
    leaves, and the session ends at its baseline with AQE back on."""
    before = dict(spark.conf.getAll)
    assert before[_AQE] == "true"
    a_in, b_in, a_out = threading.Event(), threading.Event(), threading.Event()
    seen: dict[str, str] = {}
    errors: list[BaseException] = []

    def run(body):
        try:
            body()
        except BaseException as exc:  # surfaced in the main thread
            errors.append(exc)
            for ev in (a_in, b_in, a_out):
                ev.set()

    def thread_a():
        with scoped_conf(spark, {_PARTS: "2", _AQE: "false"}):
            a_in.set()
            assert b_in.wait(30)
        a_out.set()

    def thread_b():
        assert a_in.wait(30)
        with scoped_conf(spark, {_PARTS: "3", _AQE: "false"}):
            b_in.set()
            assert a_out.wait(30)
            seen["parts"] = spark.conf.get(_PARTS)
            seen["aqe"] = spark.conf.get(_AQE)

    threads = [threading.Thread(target=run, args=(f,)) for f in (thread_a, thread_b)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(60)
        assert not t.is_alive()
    assert not errors, errors
    assert seen == {"parts": "3", "aqe": "false"}
    assert dict(spark.conf.getAll) == before
    assert spark.conf.get(_AQE) == "true"


def test_many_threads_nesting_scopes_leave_the_baseline(spark):
    """More threads than cores, each nesting scopes on shared keys with a
    short switch interval: a lost bookkeeping update would leave a scoped
    value (or a live frame) behind."""
    before = dict(spark.conf.getAll)
    errors: list[BaseException] = []

    def worker(i: int) -> None:
        try:
            for j in range(20):
                with scoped_conf(spark, {_PARTS: str(2 + i), _UNSET: "150"}):
                    with scoped_conf(spark, {_AQE: "false", _PARTS: str(j + 30)}):
                        pass
        except BaseException as exc:  # surfaced in the main thread
            errors.append(exc)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker, args=(i,)) for i in range(12)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(120)
            assert not t.is_alive()
    finally:
        sys.setswitchinterval(interval)
    assert not errors, errors
    assert dict(spark.conf.getAll) == before
    assert not session._live_scopes


def test_data_scoped_shuffle_lowers_only_below_session_scale(spark):
    session = int(spark.conf.get(_PARTS))
    with data_scoped_shuffle(spark, 10_000) as n:
        assert n == session
        assert spark.conf.get(_AQE) == "true"
    with scoped_conf(spark, {_PARTS: "20"}):
        with data_scoped_shuffle(spark, 3) as n:
            assert n == 8
            assert spark.conf.get(_PARTS) == "8"
            assert spark.conf.get(_AQE) == "false"
        assert spark.conf.get(_PARTS) == "20"
        assert spark.conf.get(_AQE) == "true"
