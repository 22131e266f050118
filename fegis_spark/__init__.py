"""fegis_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of p-funk/fegis, re-expressed Spark-first.

The reference (read-only at /root/reference) is an MCP memory server over
Qdrant: dynamic YAML-archetype schemas, vector + payload-filtered search,
projection views, and per-session lineage. This package re-expresses that
surface as declarative DataFrame plans (Catalyst-optimized), plus the
LLM-data-pipeline extension surface (dedup, similarity search, multimodal
columns, text analysis) designed for 100 TB scale.

Layout:
  model.py              canonical schemas + testdata loaders
  session.py            tuned local SparkSession factory
  schema.py             YAML archetype -> StructType factory (ref fegis/schema.py)
  plans/filters.py      7-operator filter algebra -> Column compiler
                        (+ MatchText token semantics on text-indexed fields)
  plans/search.py       basic/filtered/by_id strategies, exact KNN top-k
  functions/textfns.py  content_preview / extract_summary / relative_time ...
  functions/vector.py   cosine/dot/norm as native higher-order functions
  functions/views.py    compact/summary/graph/full projections
  operators/dedup.py    exact / minhash-LSH / simhash / ngram-jaccard / cosine
                        + min-label and large-star/small-star components
  operators/knn.py      KNN join, brute-force + LSH/IVF scale paths
  operators/rrf.py      deterministic reciprocal-rank-fusion hybrid search
  operators/bm25.py     BM25 lexical scoring (broadcast corpus stats)
  operators/text_analysis.py  lang-id, quality, token counts, fingerprints
  operators/multimodal.py     binary media decode/resize/features
                              (real PPM/WAV codecs, others stubbed)
  queries/lineage_q.py  argmax, sequencing, lineage self-join (SQL texts)
  sources/tables.py     parquet scans of the driver testdata
  sources/qdrant_sink.py batch vector indexing to Qdrant (import-gated)
  ingest.py             batch ingest pipeline (validate/sequence/embed)
  streaming/sessionize.py  structured-streaming sessionization & windows
  streaming/joins.py       stream-stream interval join (watermarked state)
"""

__version__ = "0.1.0"
