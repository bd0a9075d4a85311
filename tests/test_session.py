"""build_session's host-derived defaults."""


def test_shuffle_partitions_default_to_default_parallelism(spark):
    from martial_arts_ocr_spark.engine.session import build_session

    # getOrCreate hands back the shared session, whose shuffle partition
    # count the query gate's plans depend on: put it back afterwards
    before = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        s = build_session(master="local[2]", app_name="pytest")
        assert s.conf.get("spark.sql.shuffle.partitions") == str(
            s.sparkContext.defaultParallelism)
        assert s.conf.get("spark.sql.shuffle.partitions") != before
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)
