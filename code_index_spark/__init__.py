"""code_index_spark — a from-scratch PySpark-native knowledge-graph
construction engine with the query/data-processing capabilities of the
reference (GnosticEchos/code-index), re-expressed Spark-first.

Pipeline (SURVEY.md §7; plans/pipeline.STAGES lists extraction onward):
transcripts → turn segmentation (Arrow-batched mapInPandas) → triple
extraction (Catalyst regexp_extract_all over the one rule table; the
mapInPandas twin adds span offsets) → entity linking (prefix-filtered
exact set-similarity join + TF-IDF cosine; minhash banding past 10^6
surfaces) → canonicalization (driver union-find up to 10^6 edges,
large-star/small-star connected components past that) → graph
materialization (vertices/edges), with checkpoint/lineage for
idempotent resume.

Everything is DataFrame-declarative; the only Python on the build's
hot path is segmentation's Arrow-batched mapInPandas (no per-row Python
UDFs anywhere, and no DataFrame built from a Python list, which would
run as a Python RDD).
"""

__version__ = "0.1.0"
