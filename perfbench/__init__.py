"""Benchmark for the cdk_serverless_data_lake_sandbox_spark package; see README.md."""
