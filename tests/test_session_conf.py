"""Session factory confs that the operators' performance relies on."""


def test_codegen_cache_sized_by_get_spark(spark):
    """get_spark sizes the generated-code cache above the ~120 classes one
    flagship operation cycles through (Spark's default LRU of 100 made every
    operation recompile them). The conf is static, fixed when the session
    is created, so read it back from the running session's SQLConf."""
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "2000"
    sql_conf = spark._jsparkSession.sessionState().conf()
    assert sql_conf.codegenCacheMaxEntries() == 2000
