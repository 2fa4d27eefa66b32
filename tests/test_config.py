"""Session conf: the scale-oriented defaults must actually take effect."""


def test_arrow_and_aqe_defaults(spark):
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert spark.conf.get("spark.sql.execution.arrow.pyspark.enabled") == "true"


def test_default_fifo_scheduler(spark):
    """No scheduler pools: validate's concurrent driver threads share
    Spark's default FIFO queue."""
    assert spark.conf.get("spark.scheduler.mode", "FIFO") == "FIFO"
    assert spark.sparkContext.getConf().get("spark.scheduler.allocation.file") is None
