"""biblib_spark — a PySpark-native citation parse + near-duplicate clustering engine.

A from-scratch re-expression (NOT a port) of the capabilities of
``revidiumhq/biblib`` (reference at /root/reference): parse citation-export
payloads (RIS, PubMed/MEDLINE nbib, EndNote XML, ICTRP XML, EndNote Tagged,
BibTeX/BibLaTeX, CSV, ICTRP CSV) into a normalized citation schema, then run a
tiered near-duplicate detection + clustering pipeline (exact-identity hash
join, MinHash-LSH, SimHash, containment) with connected-components clustering
and representative election, all expressed as pyspark.sql DataFrame plans with
Arrow-vectorized pandas UDFs (no per-row Python UDFs).

Layout
------
- ``kernels``   pure-Python parsing/normalization functions (no Spark imports);
                these run inside Arrow-batched pandas UDFs.
- ``sources``   corpus ingest + the parse stage (content -> citation rows).
- ``functions`` MinHash / SimHash signature kernels (vectorized numpy) and
                the MinHash band-key pandas UDF; ``simhash`` imports no Spark.
- ``operators`` blocking, candidate generation, pair verification, connected
                components, representative election, doc-level text ops, ANN.
- ``plans``     end-to-end pipeline assembly + checkpoint/resume.
"""

__version__ = "0.1.0"
