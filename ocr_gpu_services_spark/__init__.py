"""PySpark-native extraction engine (README.md)."""

from ocr_gpu_services_spark.zipdirs import install_in_worker

install_in_worker()  # a no-op outside PySpark's Python workers
