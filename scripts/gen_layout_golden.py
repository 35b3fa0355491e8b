"""Regenerate the committed layout-stage golden TSVs (T1-T3 oracles).

Pure Python, no Spark: ``fixtures.layout_page`` and the ``core.layout``
kernels are deterministic, and the Spark operators call the SAME kernels per
row — a hash-green driver check means the distributed plumbing reproduces
these committed values. Run after ANY change to ``core/layout.py`` or the
layout fixtures:

    python scripts/gen_layout_golden.py
"""

from __future__ import annotations

import pathlib
import sys

ROOT = pathlib.Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

from cpp_paddle_ocr_spark.core.layout import (  # noqa: E402
    detect_regions_page,
    extract_tables_page,
)
from cpp_paddle_ocr_spark.fixtures import layout_page  # noqa: E402
from cpp_paddle_ocr_spark.operators.layout import N_LAYOUT  # noqa: E402

GOLDEN = ROOT / "tests" / "golden"


def main() -> None:
    tables, cells, regions = [], [], []
    for i in range(N_LAYOUT):
        row = layout_page(i)
        doc = row["html"].decode("utf-8")
        url = row["url"]
        for t in extract_tables_page(doc):
            tables.append(
                "\t".join(
                    [url, str(t.table_id), str(t.start), str(t.end),
                     str(len(t.cells)), t.structure, repr(t.score)]
                )
            )
            for c in t.cells:
                cells.append(
                    "\t".join(
                        [url, str(t.table_id), str(c.cell_id),
                         str(c.start), str(c.end), c.text]
                    )
                )
        for r in detect_regions_page(doc):
            regions.append(
                "\t".join([url, r.label, str(r.start), str(r.end), repr(r.score)])
            )
    GOLDEN.mkdir(parents=True, exist_ok=True)
    for name, lines in [
        ("LAYOUT_TABLES.tsv", tables),
        ("LAYOUT_CELLS.tsv", cells),
        ("LAYOUT_REGIONS.tsv", regions),
    ]:
        (GOLDEN / name).write_text("\n".join(lines) + "\n", encoding="utf-8")
        print(f"wrote {GOLDEN / name} ({len(lines)} rows)")


if __name__ == "__main__":
    main()
