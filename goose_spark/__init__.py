"""gosling — a PySpark-native job-processing & analytics engine.

Re-expresses the capabilities of nilenso/goose (a Clojure background-job
library — see /root/reference) idiomatically on Spark:

* a columnar **job ledger** (Parquet, fixed StructType) replaces serialized
  job blobs in Redis lists (reference: ``src/goose/job.clj:6-16``,
  ``src/goose/utils.clj:13-28``);
* a **Structured Streaming worker** with checkpoint recovery replaces
  goose's in-progress queues / heartbeats / orphan checker
  (``src/goose/brokers/redis/consumer.clj``, ``orphan_checker.clj``);
* retry and schedule timers, cron ticks and batch completion run inside
  the worker's one ``foreachBatch`` micro-batch and its timer tick
  (``src/goose/brokers/redis/retry.clj``, ``cron.clj``, ``batch.clj``);
* the console/API queries become plain DataFrame/SQL over the ledger
  (``src/goose/brokers/redis/console/data.clj``, ``src/goose/api/*``).

Beyond the reference surface it adds LLM-data-pipeline operators (dedup,
similarity search, text analysis, multimodal plumbing) designed for
100 TB scale.
"""

__version__ = "0.1.0"
