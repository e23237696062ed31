"""KG-release benchmark of distributed_extraction_framework_spark; see README.md."""
