"""zenodb_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of getlantern/zenodb (time-series DB storing
only pre-aggregated data), re-expressed Spark-first.

Architecture (see SURVEY.md §7):

- ``session``    — tuned SparkSession factory (AQE, Arrow, UTC, pushdown).
- ``catalog``    — loaders for the driver testdata star schema + events.
- ``functions``  — measure expressions (IF/BOUNDED/WAVG/safe-div/LOG*) and
                   dimension expressions (CONCAT/SPLIT/.../DECODE) mirroring
                   the reference's expr/ and goexpr surface.
- ``operators``  — time ops (period/stride/shift/crosshift/as-of/
                   sessionize/gap-fill-LOCF/time-weighted avg), crosstab,
                   percentile (exact + mergeable histogram sketch), top-k,
                   dedup family (exact/MinHash/SimHash/Jaccard/containment/
                   paragraph/priority/incremental + connected components),
                   similarity search (brute-force/LSH/IVF/PQ-ADC + k-means
                   training + label-noise audit), BM25 retrieval, text
                   analysis (quality/langid/LM scoring/TF-IDF/PMI/entropy),
                   pipeline ops (chunking/PII/decontamination/sampling),
                   distributed prefix scan, skew tools (salted join,
                   skew-safe distinct), multimodal plumbing (decode/
                   resize/frame-sample/embed).
- ``ir`` / ``sqlparser`` / ``plans`` — the ZenoDB SQL dialect (plus set
                   ops) parsed to a Query IR and compiled to DataFrame
                   pipelines.
- ``engine``     — DB facade: schema registry, tables as materialized
                   aggregates with mergeable state columns, insert + query
                   + explain + batched query_many + table_stats.
- ``sources``    — maintenance (zenotool merge/filter/check), deterministic
                   sharded export, bucketed co-located storage (bucketBy),
                   Z-order multi-dimensional clustering.
- ``streaming``  — Structured Streaming ingest (partial-state append
                   model), watermarked rollups, sessionization,
                   stream-stream interval joins, built-in and custom
                   keyed-state dedup, counters, z-score alerts.

Everything here derives from the public Apache Spark API and the reference's
observable behavior; no reference code is copied.
"""

__version__ = "0.1.0"
