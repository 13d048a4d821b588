"""tin_terrain_spark — a PySpark-native spatial tiling + join engine.

Re-expresses the operator semantics of heremaps/tin-terrain (a single-process
C++ DEM→TIN tiler, reference at /root/reference) as distributed DataFrame
operators over a Common-Crawl-style web-pages table:

  pages(url, warc_ts, html, text, lang)
    → deterministic geocode (url-hash → Web-Mercator meters)
    → TMS tile keys at zoom z  (J1, reference src/MercatorProjection.cpp:48-65)
    → per-(tile,row,col) grid aggregation (SurfacePoints::to_raster analogue)
    → per-tile Terra/Zemlya/dense TIN meshing inside a streaming
      mapInArrow over tile-sorted partitions (NumPy views of the Arrow
      buffers, no pandas), native C kernels with a bit-identical NumPy
      fallback
      (reference src/TerraMesh.cpp, src/ZemlyaMesh.cpp, src/simple_meshing.cpp)
    → quantized-mesh tile records   (reference src/QuantizedMeshIO.cpp)

plus spatial joins (point-in-polygon, kNN via grid-ring / hex-ring
expansion), temporal joins (as-of, range/interval), and the
training-data-pipeline operators (dedup, similarity search, text analysis)
built on the same deterministic hash/tile machinery.

Layers:
  kernels/    pure NumPy — no Spark imports; the per-tile compute kernels
  functions/  pyspark Column-expression builders (JVM-side, codegen'd)
  operators/  DataFrame-level operators (joins, aggs, dedup, similarity)
  pipeline/   the dem2tintiles job chain (zoom loop, manifests, resume)
"""

__version__ = "0.1.0"
