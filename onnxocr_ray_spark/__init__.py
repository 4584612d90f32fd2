"""onnxocr_ray_spark — a PySpark-native content-extraction analytics engine.

A from-scratch rebuild of the capabilities of the reference repo
``anyin233/OnnxOCR-Ray`` (surveyed in /root/repo/SURVEY.md), re-expressed
Spark-first: the reference's three-stage extraction pipeline (detect
regions → classify orientation → recognize/decode → assemble) becomes a
chain of DataFrame transformations over an Iceberg/parquet table of
Common-Crawl-style web pages, with the heavy per-document work behind
one Arrow crossing per stage (``mapInArrow`` over the html scan), plus
the large-scale training-data
operators (dedup, similarity search, text analysis) a 100 TB corpus
pipeline needs.

Layout:
    kernels/    pure-Python deterministic kernels (shared w/ serial oracle)
    operators/  DataFrame -> DataFrame stages and corpus operators
    sources/    table loaders + deterministic pages synthesizer
    functions/  portable Column helpers (hashes, cosine, minhash)
    plans/      lineage, checkpointing, resume
    streaming/  Structured Streaming surface
    oracle.py   single-process byte-identity oracle
"""

__version__ = "0.1.0"

# unpickling any kernel imports this module, so each executor worker
# installs the check before its second task
from onnxocr_ray_spark.packaging import install_zip_stamp_check

install_zip_stamp_check()
