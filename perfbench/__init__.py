"""Benchmark of the salesforce_prefect_etl_pipeline_spark package (see README.md)."""
