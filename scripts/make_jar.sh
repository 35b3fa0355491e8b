#!/bin/sh
# Build the jar of cpp_paddle_ocr_spark/jvm/ForkFreeLocalFileSystem.java, the
# file: FileSystem that session.get_spark installs, against pyspark's bundled
# Hadoop client API. Deterministic: fixed entry order and timestamps.
# Usage: sh scripts/make_jar.sh [OUT_JAR]   (absolute, or relative to the repo
# root; default: the committed cpp_paddle_ocr_spark/jvm/fork-free-fs.jar)
set -e
cd "$(dirname "$0")/.."
OUT="${1:-cpp_paddle_ocr_spark/jvm/fork-free-fs.jar}"
API="$(python -c 'import glob, os, pyspark; print(sorted(glob.glob(os.path.join(os.path.dirname(pyspark.__file__), "jars", "hadoop-client-api-*.jar")))[0])')"
CLASSES="$(mktemp -d)"
trap 'rm -rf "$CLASSES"' EXIT
javac --release 17 -cp "$API" -d "$CLASSES" cpp_paddle_ocr_spark/jvm/ForkFreeLocalFileSystem.java
python - "$CLASSES" "$OUT" <<'PY'
import pathlib
import sys
import zipfile

classes, out = pathlib.Path(sys.argv[1]), sys.argv[2]
with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as z:
    for p in sorted(classes.rglob("*.class")):
        info = zipfile.ZipInfo(p.relative_to(classes).as_posix(), (1980, 1, 1, 0, 0, 0))
        info.compress_type = zipfile.ZIP_DEFLATED
        z.writestr(info, p.read_bytes())
print(f"wrote {out}")
PY
