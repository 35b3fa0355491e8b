"""Generate the committed golden outputs (FIXTURES.md / SURVEY.md §7 step 3).

The single-threaded pure-Python core IS the reference extractor for
byte-identity purposes: run it once over the deterministic fixture set and
commit the results. The pytest invariant is then: the Spark pipeline (any
parallelism, any partitioning) produces byte-identical ``extracted_text`` per
url — the analog of the reference's fixture-image recognition assertions
(``tests/test_ocr_worker.cpp:182-233``).

Outputs:
* ``tests/golden/CHECKSUMS.tsv`` — url <TAB> sha256(extracted_text utf-8)
  <TAB> success <TAB> n_blocks for rows [0, N_GOLDEN);
* ``tests/golden/pages/{i:04d}.txt`` — full extracted text for the first
  N_FULL rows (human-auditable sample).
"""

from __future__ import annotations

import hashlib
import pathlib
import sys

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parents[1]))

from cpp_paddle_ocr_spark.core.pipeline import extract_batch  # noqa: E402
from cpp_paddle_ocr_spark.fixtures import (  # noqa: E402
    GOLDEN_OVERSIZE_MAX,
    N_GOLDEN,
    build_documents_pdf,
)

N_FULL = 40

ROOT = pathlib.Path(__file__).resolve().parents[1]
GOLDEN = ROOT / "tests" / "golden"


def main() -> None:
    (GOLDEN / "pages").mkdir(parents=True, exist_ok=True)
    pdf = build_documents_pdf(N_GOLDEN, oversize_max=GOLDEN_OVERSIZE_MAX)
    out = extract_batch(pdf["url"].tolist(), pdf["html"].tolist())
    lines = []
    for i, row in out.iterrows():
        digest = hashlib.sha256(row["extracted_text"].encode("utf-8")).hexdigest()
        lines.append(
            f"{row['url']}\t{digest}\t{int(row['success'])}\t{row['n_blocks']}"
        )
        if i < N_FULL:
            (GOLDEN / "pages" / f"{i:04d}.txt").write_text(
                row["extracted_text"], encoding="utf-8"
            )
    (GOLDEN / "CHECKSUMS.tsv").write_text("\n".join(lines) + "\n", encoding="utf-8")
    print(f"wrote {len(lines)} checksums, {N_FULL} full pages -> {GOLDEN}")


if __name__ == "__main__":
    main()
