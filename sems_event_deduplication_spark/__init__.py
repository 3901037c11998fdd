"""PySpark-native near-duplicate detection + clustering engine.

A from-scratch Spark-first re-expression of the capabilities of the
reference repo ``semantic-systems/sems-event-deduplication`` (a
single-process pandas/torch research pipeline — see SURVEY.md). Nothing
in here is a port: every stage is declared with the DataFrame API so
Catalyst/Tungsten/AQE pick the physical strategy, and Python only runs
inside Arrow-vectorized pandas UDFs (signatures, PCM decode); every
verify tier, containment included, is native expressions.

Pipeline (SURVEY.md §3.1 "new-engine lifecycle"):

    read audio_clips -> normalize transcript -> exact dedup
      -> MinHash signatures (text) + SimHash signatures (audio)
      -> LSH band candidates (star-edge capped / skew-aware)
      -> verify (exact Jaccard / Hamming / substring containment)
      -> connected components (large-star / small-star)
      -> survivor selection -> clusters + lineage + metrics
"""

__version__ = "0.1.0"
