"""Benchmark of the extraction job and the operator suite (see README.md)."""

#: the package under test
PKG = "universal_key_value_based_text_processing_with_ocr_spark"
