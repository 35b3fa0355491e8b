"""Embedding quantization: per-vector-scaled int8 storage for ANN corpora.

At 100 TB scale the embedding table's float32 payload is the storage and
shuffle cost of every similarity operator; symmetric per-vector int8
quantization (scale = max|v| / 127, q_i = half-up(v_i / scale)) cuts it
4× while preserving cosine structure to ~1e-2 — the standard trade every
production vector store makes. This module provides the codec as pure
Catalyst expressions (JVM-side, whole-stage codegen — the quantizer must
run AT the scan on 10^12 rows, so no Python) plus an oracled round-trip
quality report.

Cross-engine determinism: the quantizer rounds with ``floor(x + 0.5)``
(half-up toward +inf) written EXPLICITLY in both engines — Spark's
``round`` and DuckDB's ``round`` disagree on negative halves and shortest-
repr boundaries, so neither builtin appears in the codec. Zero vectors get
scale 0 and all-zero codes; dequantize maps them back to exact zeros.

Reference analog: the cascade quantizes activations to fixed thresholds
before the cheap path decides what the expensive path sees
(``core/detect.py`` binarize, D5) — the same discipline applied to
storage: cheap int8 candidates first, exact float only on survivors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .common import _dot_expr, _norm_expr, load

QBITS_MAX = 127


def _scale_expr(emb: str) -> str:
    return (
        f"aggregate({emb}, 0.0D, (acc, v) -> greatest(acc, abs(v)))"
        f" / {QBITS_MAX}.0D"
    )


def quantize_embeddings(df: DataFrame) -> DataFrame:
    """``(vec_id, scale, qemb: array<int>)`` — symmetric per-vector int8
    codes (values in [-127, 127]; int storage here, tinyint on disk).

    Two stacked projections over the scan (scale computed ONCE per row,
    then referenced by the component transform — inlining the fold into
    the lambda would re-run it per component): all whole-stage-codegen
    expressions, so quantization runs at scan speed with no shuffle and no
    Python."""
    e = df.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    ).withColumn("scale", F.expr(_scale_expr("emb")))
    qemb = (
        "transform(emb, v -> CASE WHEN scale = 0.0D THEN 0 "
        "ELSE cast(floor(v / scale + 0.5D) as int) END)"
    )
    return e.select("vec_id", "scale", F.expr(qemb).alias("qemb"))


def dequantize() -> F.Column:
    """Column expression rebuilding the float vector from columns ``qemb``
    and ``scale``: q_i · scale."""
    return F.expr("transform(qemb, q -> cast(q as double) * scale)")


def quantization_report(df: DataFrame) -> DataFrame:
    """Oracled round-trip quality report per vector: ``(vec_id, scale,
    max_abs_err, cos_roundtrip)`` — the max reconstruction error and the
    cosine between the original and dequantized vector (1.0 = direction
    preserved), both rounded to 6 dp. The report IS the correctness
    contract of the codec: max_abs_err ≤ scale/2 by construction."""
    q = quantize_embeddings(df).select(
        "vec_id", "scale", dequantize().alias("deq")
    )
    e = df.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    err = (
        "aggregate(zip_with(emb, deq, (x, y) -> abs(x - y)), 0.0D, "
        "(a, v) -> greatest(a, v))"
    )
    nrm = _norm_expr("emb")
    cos = (
        f"CASE WHEN {nrm} = 0.0D THEN 1.0D "
        f"ELSE {_dot_expr('emb', 'deq')} / ({nrm} * {_norm_expr('deq')}) END"
    )
    return (
        e.join(q, "vec_id")
        .select(
            "vec_id",
            F.round("scale", 6).alias("scale"),
            F.round(F.expr(err), 6).alias("max_abs_err"),
            F.round(F.expr(cos), 6).alias("cos_roundtrip"),
        )
    )


_SCALE_SQL = f"list_max(list_transform(emb, v -> abs(v))) / {QBITS_MAX}.0"

QUANTIZE_REPORT_SQL = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
q AS (
  SELECT vec_id, emb, {_SCALE_SQL} AS scale,
         list_transform(emb, v -> CASE WHEN {_SCALE_SQL} = 0.0 THEN 0
           ELSE CAST(floor(v / ({_SCALE_SQL}) + 0.5) AS INT) END) AS qemb
  FROM e
),
d AS (
  SELECT vec_id, emb, scale,
         list_transform(qemb, qv -> CAST(qv AS DOUBLE) * scale) AS deq
  FROM q
)
SELECT vec_id,
       round(scale, 6) AS scale,
       round(list_max(list_transform(
           list_zip(emb, deq),
           p -> abs(p[1] - p[2]))), 6) AS max_abs_err,
       round(CASE WHEN sqrt(list_dot_product(emb, emb)) = 0.0 THEN 1.0
             ELSE list_dot_product(emb, deq)
                  / (sqrt(list_dot_product(emb, emb))
                     * sqrt(list_dot_product(deq, deq))) END, 6)
         AS cos_roundtrip
FROM d
"""


def q_quantize_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    return quantization_report(load(spark, sf_dir, "embeddings"))


QUERIES = {"emb_quantize_report": q_quantize_report}
ORACLES = {"emb_quantize_report": QUANTIZE_REPORT_SQL}
