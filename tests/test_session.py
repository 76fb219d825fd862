"""Session defaults derived from the host."""

from pyresample_spark.session import driver_memory

GB = 2**30


def test_driver_memory_quarter_of_host_capped(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    assert driver_memory(15 * GB) == "3840m"
    assert driver_memory(64 * GB) == "4096m"
    assert driver_memory(2 * GB) == "1024m"
    assert driver_memory().endswith("m")


def test_driver_memory_explicit_env_wins(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "48g")
    assert driver_memory(15 * GB) == "48g"


def test_session_turns_constraint_propagation_off(spark):
    from pyresample_spark.session import get_spark

    assert get_spark("pytest") is spark
    conf = spark.conf.get("spark.sql.constraintPropagation.enabled")
    assert conf == "false"
    jconf = spark._jsparkSession.sessionState().conf()
    assert not jconf.constraintPropagationEnabled()
