"""spark-submit --py-files evidence (north_rule: "run via spark-submit
--py-files on a multi-executor cluster").

Driver script that imports the engine ONLY from the shipped zip (it
deliberately scrubs the repo root from sys.path), encodes a small table,
decodes it back, and prints one JSON line.  Build + run:

    python tools/pyfiles_demo.py --build-zip /tmp/dumpster.zip
    spark-submit --master local[4] --py-files /tmp/dumpster.zip \
        tools/pyfiles_demo.py --sf-dir /root/testdata/sf0.001

On a real cluster only --master changes (yarn / k8s / spark://...);
--py-files distributes the same zip to every executor's PYTHONPATH.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import zipfile


def build_zip(dest: str) -> None:
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with zipfile.ZipFile(dest, "w", zipfile.ZIP_DEFLATED) as z:
        pkg = os.path.join(repo, "dumpster")
        for root, _, files in os.walk(pkg):
            for f in files:
                if f.endswith(".py"):
                    p = os.path.join(root, f)
                    z.write(p, os.path.relpath(p, repo))
    print(f"wrote {dest}")


def main() -> None:
    if "--build-zip" in sys.argv:
        build_zip(sys.argv[sys.argv.index("--build-zip") + 1])
        return

    sf_dir = "/root/testdata/sf0.001"
    if "--sf-dir" in sys.argv:
        sf_dir = sys.argv[sys.argv.index("--sf-dir") + 1]

    # prove the import comes from the --py-files zip, not the repo checkout
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path = [p for p in sys.path if os.path.abspath(p or ".") != repo]

    from pyspark.sql import SparkSession

    from dumpster.engine import decode_table, encode_summary, encode_table

    spark = SparkSession.builder.getOrCreate()
    import dumpster
    src = os.path.dirname(os.path.abspath(dumpster.__file__))

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    out = tempfile.mkdtemp(prefix="pyfiles_demo_")
    man = encode_table(docs, out, chunk_rows=2048)
    dec = decode_table(spark, out)
    mismatch = docs.exceptAll(dec).count() + dec.exceptAll(docs).count()
    s = encode_summary(man)
    print(json.dumps({
        "dumpster_imported_from": src,
        "from_py_files_zip": ".zip" in src,
        "rows": int(s["rows"]), "chunks": int(s["chunks"]),
        "raw_bytes": int(s["raw_bytes"]),
        "encoded_bytes": int(s["encoded_bytes"]),
        "roundtrip_mismatch_rows": int(mismatch),
    }))
    spark.stop()


if __name__ == "__main__":
    main()
