"""gelos_spark — a PySpark-native spatial-join + tiling engine.

Brand-new engine (not a port) with the query/data-processing
capabilities of the ClarkCGA/gelos reference pipeline, re-expressed
Spark-first: DataFrame/Catalyst for all relational work, vectorized
Arrow/pandas UDFs for all payload (pixel) work, cell-id-keyed
partitioning for all shuffles.

Layout:
  functions/  pure NumPy kernels + Spark column helpers
              (codec, cell index, geometry, text, arrays)
  sources/    synthetic seeded generators, AOI and chip-tracker
              loaders
  tables/     snapshot-manifest table layer (atomic commits, time
              travel, manifest-stat pruning) + bucketed tables
  operators/  spatial join (PIP), kNN ring expansion, pyramid
              rollup, dedup family, similarity search, sampling,
              skew handling, multimodal payload ops
  plans/      config-driven pipelines + checkpoint/lineage/resume
  streaming/  structured-streaming ingest + windowed aggregation
"""

__version__ = "0.1.0"
