from pgs_spark.functions.extract import with_refs  # noqa: F401
