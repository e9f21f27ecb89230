"""Session defaults follow the configured core count."""

from monster_etl_spark.session import get_spark


def test_default_shuffle_partitions_follow_graft_cpus(spark, monkeypatch):
    """Without an explicit ``shuffle_partitions`` the session gets one
    shuffle partition per ``SPARK_GRAFT_CPUS`` core, and the limit first
    wave the same count. The shared session's runtime conf is restored
    afterwards."""
    before = dict(spark.conf.getAll)
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    monkeypatch.delenv("SPARK_GRAFT_SHUFFLE_PARTITIONS", raising=False)
    try:
        s = get_spark(app_name="monster-etl-spark-tests")
        assert s.conf.get("spark.sql.shuffle.partitions") == "3"
        assert s.conf.get("spark.sql.limit.initialNumPartitions") == "3"
    finally:
        for key, value in dict(spark.conf.getAll).items():
            if key not in before:
                spark.conf.unset(key)
            elif before[key] != value:
                spark.conf.set(key, before[key])
    assert dict(spark.conf.getAll) == before
