"""changepoynt_spark — a PySpark-native time-series change-point scoring,
rollup, downsample and retention engine.

Built from scratch against the behavior of the reference `changepoynt`
package (read-only snapshot at /root/reference): pure-numpy scoring kernels
(changepoynt_spark.kernels) executed inside Arrow-vectorized grouped-map UDFs
(changepoynt_spark.operators), a continuous-aggregate rollup/retention layer
with gap-fill, Gorilla XOR + delta-of-delta compression
(changepoynt_spark.codecs), and explicit partitioning/skew planning
(changepoynt_spark.plans) for 10^12-sequence scale.
"""

from changepoynt_spark import _zipimport  # noqa: F401  (reused-worker task start)

__version__ = '0.1.0'
