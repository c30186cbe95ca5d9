"""mlentory_etl_pipeline_spark — PySpark-native analytics engine.

A from-scratch, Spark-first re-expression of the capabilities of the
``zbmed-semtec/mlentory-etl-pipeline`` reference (see SURVEY.md):

- long-form triple/provenance data model (SURVEY §1.3/§1.4)
- SCD2 temporal versioned triple store with MERGE semantics (§2.6)
- config-driven wide→long transform with typed range dispatch (§2.4)
- search-document build + prefix/facet search (§2.7)
- extract-side filters / tag classification / pagination (§2.2/§2.3)
- beyond-reference training-data ops: dedup (exact / MinHash-LSH /
  SimHash / n-gram Jaccard), ANN similarity search, text stats

Everything is declarative DataFrame/SQL so Catalyst handles pushdown,
pruning, join selection and AQE; Python UDFs appear only where the
semantics genuinely require them (and then Arrow-batched).
"""

__version__ = "0.1.0"
