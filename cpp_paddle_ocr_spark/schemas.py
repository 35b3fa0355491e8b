"""Fixed schemas (SURVEY.md §1.3): declared once, like the reference's C++
structs (``include/paddle_ocr/ocr_worker.h:22-49``)."""

from __future__ import annotations

from pyspark.sql import types as T

#: input_hint: Iceberg table of Common-Crawl-style pages.
DOCUMENTS_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ]
)

#: Opaque-binary media table (multimodal plumbing).
MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("media", T.BinaryType(), True),
    ]
)

#: WordResult analog (include/paddle_ocr/ocr_worker.h:32-36).
SPAN_SCHEMA = T.StructType(
    [
        T.StructField("text", T.StringType(), True),
        T.StructField("start", T.LongType(), True),
        T.StructField("end", T.LongType(), True),
        T.StructField("confidence", T.DoubleType(), True),
        T.StructField("block_id", T.IntegerType(), True),
    ]
)

#: OCRResult analog (include/paddle_ocr/ocr_worker.h:41-49); ``n_blocks`` =
#: number of det spans surviving cls (the words[] count).
#: ``processing_time_ms`` is an estimate, not a per-page measurement: the
#: page's own decode + det + cls time plus a share of its batch's fused rec
#: pass proportional to its span count; always 0.0 on the staged path.
OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("success", T.BooleanType(), False),
        T.StructField("error", T.StringType(), True),
        T.StructField("n_blocks", T.IntegerType(), False),
        T.StructField("spans", T.ArrayType(SPAN_SCHEMA), False),
        T.StructField("extracted_text", T.StringType(), False),
        T.StructField("processing_time_ms", T.DoubleType(), False),
    ]
)

#: Exploded candidate-span row (the staged pipeline's intermediate; the
#: detected-box analog, SURVEY.md §1.3).
CANDIDATE_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("block_id", T.IntegerType(), False),
        T.StructField("start", T.LongType(), False),
        T.StructField("end", T.LongType(), False),
        T.StructField("text", T.StringType(), False),
        T.StructField("det_score", T.DoubleType(), False),
    ]
)

#: Per-partition lineage row (FIXTURES.md; the service-stats analog P7,
#: src/ocr_ipc_service.cpp:438-448, persisted for resume).
LINEAGE_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType(), False),
        T.StructField("bucket", T.IntegerType(), False),
        T.StructField("n_pages", T.LongType(), False),
        T.StructField("n_ok", T.LongType(), False),
        T.StructField("n_blocks", T.LongType(), False),
        T.StructField("wall_ms", T.DoubleType(), False),
        T.StructField("committed_at", T.TimestampType(), False),
        # bucket-assignment transform of the run ("xxhash64" fallback or
        # "iceberg" system.bucket): a resume MUST reuse the transform its
        # earlier groups committed under — mixing them would scramble the
        # url→bucket mapping and leave stale rows behind overwrites
        T.StructField("transform", T.StringType(), True),
    ]
)
