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
- ``schemas``     : fixed StructType schemas of the driver testdata.
- ``materialize`` : the one lineage cut and its release scope.
- ``sources``     : readers/writers (TSV/CSV/parquet, header
                    normalize) and the ``synthetic_events`` Python
                    Data Source stream.
- ``functions``   : Column-expression helpers (predicates, rolling
                    windows with pandas-parity min_periods, dates,
                    text, vectors).
- ``operators``   : composed DataFrame operators (dictionary build,
                    proxy extract, career collapse, month-grid,
                    dedup, similarity, forecast).
- ``plans``       : the testdata query suite backing
                    ``__spark_entry__`` (``plans.REGISTRY``).
- ``streaming``   : Structured Streaming extension (tumbling rollup,
                    dedup, interval joins, CUSUM drift, stream-static
                    enrichment, running totals, the live-gate harness).

Each name is imported from its defining module; of the subpackage
``__init__`` files only ``plans``' re-exports anything: ``REGISTRY``
and the two runners ``bench.py`` and ``tools/`` import from it.
"""

__version__ = "0.1.0"
