"""Session construction: the default master and runtime-conf logging.
No test here starts a SparkSession."""

from __future__ import annotations

import os

import pytest

from snowav_spark import session as sess


@pytest.mark.parametrize(
    "cluster, cpus, expected",
    [
        pytest.param(None, None, "host", id="unset"),
        pytest.param(None, "", "host", id="empty"),
        pytest.param(None, "  ", "host", id="blank"),
        pytest.param(None, "3", "local[3]", id="set"),
        pytest.param("spark://head:7077", None, None, id="cluster"),
    ],
)
def test_default_master(monkeypatch, cluster, cpus, expected):
    """An unset or blank SPARK_GRAFT_CPUS means the cores this process
    may use (``local[]`` is not a master URL Spark can parse); a
    cluster master leaves the choice to the deploy environment."""
    for var, value in (("SPARK_MASTER", cluster), ("SPARK_GRAFT_CPUS", cpus)):
        if value is None:
            monkeypatch.delenv(var, raising=False)
        else:
            monkeypatch.setenv(var, value)
    if expected == "host":
        expected = f"local[{len(os.sched_getaffinity(0))}]"
    assert sess.default_master() == expected


def test_runtime_conf_failures_logged(caplog):
    from snowav_spark import session as sess

    class _Conf:
        def set(self, k, v):
            if k == "spark.sql.adaptive.enabled":
                raise RuntimeError("static conf on a live session")

    class _FakeSession:
        conf = _Conf()

    with caplog.at_level("DEBUG", logger="snowav_spark.session"):
        out = sess._apply_runtime_conf(_FakeSession())
    assert isinstance(out, _FakeSession)
    msgs = [r.getMessage() for r in caplog.records]
    assert any("spark.sql.adaptive.enabled" in m for m in msgs), msgs


def test_runtime_conf_all_applied_logs_nothing(caplog):
    from snowav_spark import session as sess

    class _Conf:
        def set(self, k, v):
            pass

    class _FakeSession:
        conf = _Conf()

    with caplog.at_level("DEBUG", logger="snowav_spark.session"):
        sess._apply_runtime_conf(_FakeSession())
    assert not [r for r in caplog.records if "not applied" in r.getMessage()]
