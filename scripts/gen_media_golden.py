"""Regenerate the committed media-metadata golden TSV.

No Spark needed: ``fixtures.media_item`` and ``multimodal.media_meta_row``
are pure functions, and the Spark operator (``decode_media_meta``) calls the
SAME ``media_meta_row`` kernel per row — so a hash-green driver check means
the distributed mapInPandas plumbing reproduces these committed bytes.

Run after ANY change to the media fixtures or the header parsers:

    python scripts/gen_media_golden.py
"""

from __future__ import annotations

import pathlib
import sys

ROOT = pathlib.Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

from cpp_paddle_ocr_spark.fixtures import N_MEDIA_GOLDEN, media_item  # noqa: E402
from cpp_paddle_ocr_spark.operators.multimodal import media_meta_row  # noqa: E402

OUT = ROOT / "tests" / "golden" / "MEDIA_META.tsv"


def main() -> None:
    lines = []
    for i in range(N_MEDIA_GOLDEN):
        row = media_item(i)
        url, n_bytes, magic, width, height, media_type = media_meta_row(
            row["url"], row["media"], real=True
        )
        fields = [
            url,
            str(n_bytes),
            magic if magic is not None else "",
            str(width) if width is not None else "",
            str(height) if height is not None else "",
            media_type if media_type is not None else "",
        ]
        lines.append("\t".join(fields))
    OUT.parent.mkdir(parents=True, exist_ok=True)
    OUT.write_text("\n".join(lines) + "\n", encoding="utf-8")
    print(f"wrote {OUT} ({N_MEDIA_GOLDEN} rows)")


if __name__ == "__main__":
    main()
