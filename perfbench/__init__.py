"""Job-level benchmark for the clara_ocr_spark jobs (see README.md)."""
