"""airflow_scraping_etl_tutorial_spark — a PySpark-native analytics engine.

A from-scratch, Spark-first re-expression of the capabilities of the
reference repo (ChickenBenny/Airflow-scraping-ETL-tutorial): a daily
TWSE institutional-investors ETL (scrape -> validate -> reshape -> load
-> notify), generalized into a complete DataFrame/SQL analytics engine
with relational operators, streaming, and LLM-data-pipeline operators
(dedup, similarity search, text analysis, multimodal columns) designed
for 100 TB scale.

Layout:
  session.py    SparkSession factory (AQE, shuffle sizing, Arrow)
  sources/      table catalog (parquet/JDBC), the TWSE JSON data source
  pipeline/     the reference ETL re-expressed as one declarative plan
  plans/        query catalog: every operator as (spark_fn, oracle_sql)
  operators/    dedup, similarity, text analysis, as-of join, multimodal
  functions/    reusable column expressions (money casts, cosine, etc.)
  streaming/    Structured Streaming operators over the events feed
"""

__version__ = "0.1.0"
