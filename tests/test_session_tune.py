"""tune() contract: runtime confs apply, but a caller-chosen shuffle
partition count is never stomped (review r8 round 3 — the docstring
promise 'override via conf' must stay true for driver sessions), and a
key the session refuses is warned about, never swallowed."""

from __future__ import annotations

import pytest

from rc_scanner_spark.session import RUNTIME_CONF, tune

_KEY = "spark.sql.shuffle.partitions"


def test_tune_respects_caller_set_shuffle_partitions(spark):
    before = spark.conf.get(_KEY)
    try:
        spark.conf.set(_KEY, "777")
        tune(spark)
        assert spark.conf.get(_KEY) == "777"
    finally:
        spark.conf.set(_KEY, before)


def test_tune_replaces_untouched_default(spark):
    before = spark.conf.get(_KEY)
    try:
        spark.conf.set(_KEY, "200")  # the untouched Spark default
        tune(spark)
        par = spark.sparkContext.defaultParallelism
        assert spark.conf.get(_KEY) == str(max(16, par))
    finally:
        spark.conf.set(_KEY, before)


class _StubConf:
    def __init__(self, refuse: str) -> None:
        self.refuse = refuse
        self.values: dict[str, str] = {}

    def get(self, key, default=None):
        return self.values.get(key, default)

    def set(self, key, value):
        if key == self.refuse:
            raise RuntimeError(f"cannot modify {key}")
        self.values[key] = value


class _StubSession:
    def __init__(self, refuse: str) -> None:
        self.conf = _StubConf(refuse)
        self.sparkContext = type("SC", (), {"defaultParallelism": 4})()


def test_tune_warns_on_refused_key_and_sets_the_rest():
    refused = "spark.sql.adaptive.skewJoin.enabled"
    stub = _StubSession(refused)
    with pytest.warns(UserWarning, match=f"{refused}: cannot modify"):
        tune(stub)
    assert refused not in stub.conf.values
    for k, v in RUNTIME_CONF.items():
        if k != refused:
            assert stub.conf.values[k] == v
    assert stub.conf.values[_KEY] == "16"


def test_tune_warns_when_shuffle_partitions_refused():
    stub = _StubSession(_KEY)
    with pytest.warns(UserWarning, match=_KEY):
        tune(stub)
    assert _KEY not in stub.conf.values
    assert stub.conf.values == RUNTIME_CONF
