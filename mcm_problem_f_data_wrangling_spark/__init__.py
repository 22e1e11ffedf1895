"""PySpark-native analytics engine with the query/data-processing
capabilities of benji-carr/MCM_Problem_F_Data_Wrangling.

The reference (surveyed in SURVEY.md) is a pandas ETL + time-series
pipeline over BLS CES flat files.  This package re-expresses every
operator in its inventory (SURVEY.md §2) Spark-first — declarative
DataFrame plans optimized by Catalyst — plus large-scale
training-data-pipeline extensions (dedup, similarity search, text
analysis, multimodal plumbing).

Layout
------
- ``session``     : SparkSession factory tuned for scale (AQE, Arrow).
- ``schemas``     : fixed StructType schemas (CES-shaped + testdata).
- ``materialize`` : the one lineage cut and its release scope.
- ``sources``     : readers/writers (TSV/CSV/parquet, header normalize).
- ``functions``   : Column-expression helpers (predicates, rolling
                    windows with pandas-parity min_periods, dates,
                    text, vectors).
- ``operators``   : composed DataFrame operators (dictionary build,
                    proxy extract, career collapse, month-grid,
                    dedup, similarity, forecast).
- ``plans``       : end-to-end pipelines (CES analogue, testdata
                    query suite backing ``__spark_entry__``).
- ``streaming``   : Structured Streaming extension (monthly rollup).
"""

__version__ = "0.1.0"
