"""Session factory confs: the ones the operators' performance relies on,
and the ones get_spark leaves alone."""


def test_codegen_cache_sized_by_get_spark(spark):
    """get_spark sizes the generated-code cache above the ~120 classes one
    flagship operation cycles through (Spark's default LRU of 100 made every
    operation recompile them). The conf is static, fixed when the session
    is created, so read it back from the running session's SQLConf."""
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "2000"
    sql_conf = spark._jsparkSession.sessionState().conf()
    assert sql_conf.codegenCacheMaxEntries() == 2000


def test_get_spark_leaves_ansi_at_spark_default(spark):
    """The operators give one answer in either ANSI mode, so get_spark does
    not set it: the session keeps Spark's own default."""
    assert "spark.sql.ansi.enabled" not in dict(spark.sparkContext.getConf().getAll())
    default = spark._jvm.org.apache.spark.sql.internal.SQLConf.ANSI_ENABLED().defaultValueString()
    assert spark.conf.get("spark.sql.ansi.enabled") == default
