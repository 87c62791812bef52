"""Benchmark for lake_satellite_image_etl_spark; see README.md."""
