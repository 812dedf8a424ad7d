#!/bin/sh
# PYSPARK_PYTHON for Spark's Python processes (set by session.get_spark):
# drop Spark's pyspark.zip and py4j zip from PYTHONPATH, so pyspark imports
# from site-packages with its bytecode caches, then exec the interpreter
# Spark would have run.
set -f; IFS=:; path=
for d in $PYTHONPATH; do case $d in */pyspark.zip|*/py4j-*.zip) ;; *) path=${path:+$path:}$d ;; esac; done
PYTHONPATH=$path; export PYTHONPATH; exec "$NIFI_DICOM_SPARK_PYTHON" "$@"
