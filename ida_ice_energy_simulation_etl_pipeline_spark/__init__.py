"""PySpark-native analytics engine with the query and data-processing
capabilities of shahabsalehi/IDA-ICE-Energy-Simulation-ETL-Pipeline.

A brand-new, Spark-first implementation — NOT a port.  The reference is a
single-node pandas + DuckDB ETL pipeline; this package re-expresses every
operator as a declarative DataFrame / Spark-SQL plan so that Catalyst +
Tungsten + AQE choose the physical strategy, and the same code scales from
local[32] test runs to a 1000-executor cluster over 100 TB.

Layout
------
session     SparkSession factory (UTC, AQE, Arrow, shuffle sizing)
schemas     explicit StructType catalog for every input/output table
config      YAML config surface of the pipeline CLI
client      local simulation client (run discovery, metadata reads)
fixtures    seeded reference-shaped input generator (dirs or ZIPs)
etl         extract (CSV/ZIP/JSON ingestion) → transform → land → validate
            → publish → export (reference parity)
plans       analytical query registry + DuckDB oracle SQL (driver contract)
functions   column expressions shared by the ETL, plans and operators
operators   scale extensions: dedup, similarity search, text analysis,
            graph, temporal joins, skew, multimodal columns
corpus      composed training-corpus pipeline built from the operators
streaming   Structured Streaming variants of the hourly aggregations and
            of the corpus stages
"""

__version__ = "0.1.0"
