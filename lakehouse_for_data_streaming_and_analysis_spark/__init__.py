"""PySpark-native analytics engine with the query/data-processing
capabilities of the reference lakehouse (gdckpvp/LakeHouse_For_Data_Streaming_And_Analysis).

Spark-first rebuild: everything is DataFrame / Spark SQL / Structured
Streaming; Catalyst does the optimizing. See SURVEY.md for the full
capability inventory this package implements.

Layers (SURVEY.md §7.0):
  session     - SparkSession factory (config surface of the reference's
                AutomateTable.py:35-70, minus MinIO/metastore specifics)
  catalog     - fixture table loading / view registration
  sources/    - batch + streaming sources (parquet, csv, json, kafka,
                rate, file-replay, REST-ingest)
  operators/  - relational operators: joins, aggregates, windows, sets,
                dedup, similarity
  functions/  - scalar expression library (datetime, hashing, text,
                vectors, finance)
  dims/       - dimension toolkit: date/time generators, surrogate
                keys, SCD-2 merge
  plans/      - query builders (star joins, semantic chart layer)
  streaming/  - bronze/fact streaming pipelines + deterministic harness
  analytics/  - time-series features + statistical models (pandas UDFs)
  delta/      - Deltaish tables; OPTIMIZE / Z-ORDER / VACUUM are
                DeltaishTable.optimize, zorder_by and vacuum
  maintenance/- commit-log stats, streaming progress, state readers
"""

__version__ = "0.1.0"
