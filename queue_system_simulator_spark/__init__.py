"""queue_system_simulator_spark — a PySpark-native analytics engine.

A brand-new engine with the query and data-processing capabilities of the
reference ``hiko2msp/queue_system_simulator`` (a discrete-event request/queue
simulator), re-expressed Spark-first:

* ingestion (schema-validated CSV / Parquet)           -> ``sources``
* derived columns, filters, sorts (SURVEY §2 B/C/D)    -> ``operators.transforms``
* aggregations incl. exact percentiles (SURVEY §2 F)   -> ``operators.statistics``
* the sequential DES kernel (SURVEY §2 E)              -> ``operators.kernel``
* rate-limiter / queue-depth analytics as pure SQL     -> ``operators.ratelimit``
* LLM-data-pipeline extensions (dedup, similarity,
  text analysis, multimodal)                           -> ``operators.dedup`` etc.
* Structured Streaming variant                         -> ``streaming``
* the query registry driving ``__spark_entry__``       -> ``plans.registry``

Everything relational is declared with the DataFrame/SQL API so Catalyst
performs pushdown/pruning/join-selection; only the inherently sequential
simulation kernel drops to Python (``mapInPandas`` over sorted groups).
"""

__version__ = "0.1.0"
