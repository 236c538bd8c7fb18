"""kmers_spark — a PySpark-native per-column lightweight-compression engine.

Generalizes the 2-bit fixed-width packing of COMBINE-lab/kmers
(/root/reference, Rust) into a full codec suite — dictionary, RLE,
FSST-style symbol tables, bit-packing, frame-of-reference — implemented
as vectorized numpy/pyarrow kernels driven from PySpark DataFrames
(applyInArrow / mapInArrow; no per-row Python anywhere).

Layout:
    kernels/    pure numpy codec + domain kernels (no Spark imports)
    arrowcodecs.py  codec registry: (pa.Array, type) -> (payload, meta) and back
    codecs.py   pandas reference codec the tests check arrowcodecs against
    selector.py codec auto-selection from sampled column statistics
    operators/  Spark-side encode/decode jobs, partitioning, manifest
    functions/  DataFrame-level query operators (DNA semantics, dedup,
                similarity, text QC) with DuckDB-oracle-compatible forms
    pages.py    deterministic synthetic Common-Crawl-style `pages` table
"""

__version__ = "0.1.0"
