"""osm_coverage_spark — a from-scratch PySpark-native spatial coverage-diff engine.

Re-expresses the query/data-processing capabilities of the reference
(Tillbtn/osm-coverage, studied read-only at /root/reference) as lazy
Spark DataFrame plans under Catalyst/AQE:

- address normalization + key derivation as pure column expressions
  (reference: scripts/04_compare_optimized.py:13-34, row-wise apply),
- range/separator/housename row expansion via explode (04:213-308,371-384),
- a sequential corrections fold (04:46-211),
- exact-key match join + haversine distance filter + anti-join missing set
  (04:396-432),
- per-district / rollup coverage stats (04:471-495,617-623),
- history upsert, retro-propagation and windowed top-k (04:509-579,625-704;
  site/src/modules/ui.js:177-260),
- a quantized geocell tiling layer (H3-style index re-expressed as pure
  Catalyst arithmetic), cell-ring kNN joins, PIP refinement,
- training-data ops (dedup families, ANN, text quality, image/phash graft).

Design rule: built-in pyspark.sql.functions first (whole-stage codegen),
Arrow-vectorized pandas UDFs only where column expressions genuinely cannot
express the semantics (image codec), no row-at-a-time Python.
"""

__version__ = "0.1.0"
