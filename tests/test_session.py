"""The session constants get_spark fixes for every crawl: the Arrow
batch caps (the byte cap is the Python-socket liveness bound), the parquet
reader batch, AQE, and speculation off in local mode."""


def test_session_constants(spark):
    conf = dict(spark.sparkContext.getConf().getAll())
    assert conf["spark.sql.execution.arrow.maxBytesPerBatch"] == "1048576"
    assert conf["spark.sql.execution.arrow.maxRecordsPerBatch"] == "8192"
    assert conf["spark.sql.parquet.columnarReaderBatchSize"] == "512"
    assert conf["spark.sql.adaptive.enabled"] == "true"
    assert conf["spark.speculation"] == "false"
