"""Layout/table stage as DataFrame operators (SURVEY.md §2.7 T1-T3).

Three mapInPandas fan-outs over the layout fixture pages — same Arrow
batching discipline as the extraction cascade; the kernels live in
``core.layout`` (pure, no Spark). Each operator has a committed-TSV oracle
(``scripts/gen_layout_golden.py``) mirroring the ``extract_golden_parity``
pattern: the TSV pins the values, DuckDB reads it, the driver hash-compares.

At 100 TB the plans are scan-shaped: one parquet/Iceberg scan, per-page
Python bounded by the canvas/step caps (TABLE_MAX_STEPS, LAYOUT_CANVAS),
zero shuffles — the fan-out emits far fewer rows than chars scanned.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from ..core.layout import detect_regions_page, extract_tables_page
from ..schemas import OUTPUT_SCHEMA
from .extract import prepare_routed, run_cascade

TABLE_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("table_id", T.IntegerType(), False),
        T.StructField("start", T.LongType(), False),
        T.StructField("end", T.LongType(), False),
        T.StructField("n_cells", T.IntegerType(), False),
        T.StructField("structure", T.StringType(), False),
        T.StructField("score", T.DoubleType(), False),
    ]
)

CELL_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("table_id", T.IntegerType(), False),
        T.StructField("cell_id", T.IntegerType(), False),
        T.StructField("start", T.LongType(), False),
        T.StructField("end", T.LongType(), False),
        T.StructField("text", T.StringType(), False),
    ]
)

REGION_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("label", T.StringType(), False),
        T.StructField("start", T.LongType(), False),
        T.StructField("end", T.LongType(), False),
        T.StructField("score", T.DoubleType(), False),
    ]
)


def _decode(blob) -> str | None:
    if blob is None:
        return None
    try:
        return bytes(blob).decode("utf-8")
    except UnicodeDecodeError:
        return None  # P9 policy: garbage pages emit no layout rows


def _table_rows(doc: str) -> list[tuple]:
    return [
        (t.table_id, t.start, t.end, len(t.cells), t.structure, t.score)
        for t in extract_tables_page(doc)
    ]


def _cell_rows(doc: str) -> list[tuple]:
    return [
        (t.table_id, c.cell_id, c.start, c.end, c.text)
        for t in extract_tables_page(doc)
        for c in t.cells
    ]


def _region_rows(doc: str) -> list[tuple]:
    return [(r.label, r.start, r.end, r.score) for r in detect_regions_page(doc)]


def _fan_out(df: DataFrame, schema: T.StructType, rows_of) -> DataFrame:
    """One mapInPandas over (url, html): every decodable page emits
    ``(url, *row)`` for each row of ``rows_of(doc)``."""
    cols = schema.fieldNames()

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [
                (url, *row)
                for url, blob in zip(pdf["url"], pdf["html"])
                if (doc := _decode(blob)) is not None
                for row in rows_of(doc)
            ]
            yield pd.DataFrame(rows, columns=cols)

    return df.select("url", "html").mapInPandas(fn, schema)


def extract_tables(df: DataFrame) -> DataFrame:
    """T1/T2: one row per decoded table (structure + score)."""
    return _fan_out(df, TABLE_SCHEMA, _table_rows)


def extract_table_cells(df: DataFrame) -> DataFrame:
    """T1: one row per decoded cell span."""
    return _fan_out(df, CELL_SCHEMA, _cell_rows)


def detect_regions(df: DataFrame) -> DataFrame:
    """T3: one row per detected page region (picodet analog)."""
    return _fan_out(df, REGION_SCHEMA, _region_rows)


# ---------------------------------------------------------------------------
# Composed flagship surface: cascade + layout from ONE shared scan
# ---------------------------------------------------------------------------

TABLE_STRUCT = T.StructType(
    [f for f in TABLE_SCHEMA.fields if f.name != "url"]
)
REGION_STRUCT = T.StructType(
    [f for f in REGION_SCHEMA.fields if f.name != "url"]
)


def _add_layout(out: pd.DataFrame, pdf: pd.DataFrame) -> None:
    """``run_cascade`` extension: the tables/regions arrays of each page,
    built from the same rows as the fan-out operators. Guard rows arrive
    with their html blanked, so they get empty arrays."""
    docs = [_decode(html) for html in pdf["html"]]
    for col, struct, rows_of in (
        ("tables", TABLE_STRUCT, _table_rows),
        ("regions", REGION_STRUCT, _region_rows),
    ):
        keys = struct.fieldNames()
        out[col] = [
            [] if doc is None else [dict(zip(keys, r)) for r in rows_of(doc)]
            for doc in docs
        ]


def extract_with_layout(df: DataFrame) -> DataFrame:
    """Full det→cls→rec cascade PLUS layout structure per page, one scan.

    The reference exposes table/region structure alongside recognition on
    one result object (``StructurePredictResult``,
    ``include/paddle_ocr/utility.h:29-37``); this is the Spark-native form:
    the extraction output rows gain ``tables``/``regions`` array columns,
    all produced inside the SAME ``run_cascade`` pass over the SAME source
    scan (fused-vs-separate equivalence + single-scan plan shape are pinned
    by ``tests/test_layout.py``). At 100 TB this halves the scan bytes of
    running ``extract`` and the layout operators separately, and the plan
    stays shuffle-free like ``extract``.
    """
    schema = T.StructType(
        OUTPUT_SCHEMA.fields
        + [
            T.StructField("tables", T.ArrayType(TABLE_STRUCT), False),
            T.StructField("regions", T.ArrayType(REGION_STRUCT), False),
        ]
    )
    return run_cascade(prepare_routed(df), schema, extend=_add_layout)


# ---------------------------------------------------------------------------
# Driver queries + committed-TSV oracles
# ---------------------------------------------------------------------------

N_LAYOUT = 96  # rows in the layout golden (scripts/gen_layout_golden.py)

_GOLDEN_DIR = __import__("pathlib").Path(__file__).resolve().parents[2] / "tests" / "golden"


def _gen_layout_docs(spark: SparkSession) -> DataFrame:
    from ..sources.documents import generate_layout_docs

    return generate_layout_docs(spark, N_LAYOUT)


def _q_tables(spark: SparkSession, sf_dir: str) -> DataFrame:
    return extract_tables(_gen_layout_docs(spark))


def _q_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    return extract_table_cells(_gen_layout_docs(spark))


def _q_regions(spark: SparkSession, sf_dir: str) -> DataFrame:
    return detect_regions(_gen_layout_docs(spark))


def _q_extract_with_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full oracle for the composed surface: per-url success + table/region
    COUNTS, reconstructable in DuckDB from the committed layout TSVs (the
    cascade text itself is golden-pinned on the documents fixture by
    ``extract_golden_parity``; equality of the fused cascade columns with
    plain ``extract`` is pinned by
    ``test_extract_with_layout_equals_separate_operators``)."""
    out = extract_with_layout(_gen_layout_docs(spark))
    return out.select(
        "url",
        F.col("success").cast("int").alias("success"),
        F.size("tables").alias("n_tables"),
        F.size("regions").alias("n_regions"),
    )


QUERIES = {
    "layout_tables": _q_tables,
    "layout_table_cells": _q_cells,
    "layout_regions": _q_regions,
    "extract_with_layout": _q_extract_with_layout,
}

ORACLES = {
    "layout_tables": f"""
SELECT url, table_id, start, "end", n_cells, structure, score
FROM read_csv('{_GOLDEN_DIR / "LAYOUT_TABLES.tsv"}', delim='\t', header=false,
              quote='', escape='',
              columns={{'url': 'VARCHAR', 'table_id': 'INTEGER',
                        'start': 'BIGINT', 'end': 'BIGINT',
                        'n_cells': 'INTEGER', 'structure': 'VARCHAR',
                        'score': 'DOUBLE'}})
""",
    "layout_table_cells": f"""
SELECT url, table_id, cell_id, start, "end", text
FROM read_csv('{_GOLDEN_DIR / "LAYOUT_CELLS.tsv"}', delim='\t', header=false,
              quote='', escape='', force_not_null=['text'],
              columns={{'url': 'VARCHAR', 'table_id': 'INTEGER',
                        'cell_id': 'INTEGER', 'start': 'BIGINT',
                        'end': 'BIGINT', 'text': 'VARCHAR'}})
""",
    "layout_regions": f"""
SELECT url, label, start, "end", score
FROM read_csv('{_GOLDEN_DIR / "LAYOUT_REGIONS.tsv"}', delim='\t', header=false,
              quote='', escape='',
              columns={{'url': 'VARCHAR', 'label': 'VARCHAR',
                        'start': 'BIGINT', 'end': 'BIGINT',
                        'score': 'DOUBLE'}})
""",
    # composed surface: every layout fixture page succeeds (valid utf-8,
    # never oversized), and its table/region counts equal the committed
    # per-operator TSVs — urls reconstructed from the deterministic
    # fixtures.layout_page scheme (i % 97 == i for i < 96)
    "extract_with_layout": f"""
WITH urls AS (
  SELECT 'https://layout' || CAST(i AS VARCHAR) || '.example/doc/'
         || CAST(i AS VARCHAR) AS url
  FROM generate_series(0, {N_LAYOUT - 1}) t(i)
),
t AS (
  SELECT url, count(*) AS n
  FROM read_csv('{_GOLDEN_DIR / "LAYOUT_TABLES.tsv"}', delim='\t',
                header=false, quote='', escape='',
                columns={{'url': 'VARCHAR', 'table_id': 'INTEGER',
                          'start': 'BIGINT', 'end': 'BIGINT',
                          'n_cells': 'INTEGER', 'structure': 'VARCHAR',
                          'score': 'DOUBLE'}})
  GROUP BY url
),
r AS (
  SELECT url, count(*) AS n
  FROM read_csv('{_GOLDEN_DIR / "LAYOUT_REGIONS.tsv"}', delim='\t',
                header=false, quote='', escape='',
                columns={{'url': 'VARCHAR', 'label': 'VARCHAR',
                          'start': 'BIGINT', 'end': 'BIGINT',
                          'score': 'DOUBLE'}})
  GROUP BY url
)
SELECT u.url, 1 AS success,
       CAST(coalesce(t.n, 0) AS INTEGER) AS n_tables,
       CAST(coalesce(r.n, 0) AS INTEGER) AS n_regions
FROM urls u LEFT JOIN t USING (url) LEFT JOIN r USING (url)
""",
}
