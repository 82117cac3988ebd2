"""Copy an sf dir and add two edge-case documents to its ``documents``
table: an empty text and a punctuation-only text.  Both normalize to
'' (no token), the input on which token-based operators must emit one
row with empty text and zero counts.  The generated corpora have no
such doc, so ``tools/check_oracle.py`` run on the copy is the check.

Usage: python tools/edge_docs.py SRC DST
       python tools/check_oracle.py --exact DST [query ...]

``DST`` must not exist yet and must not lie inside the directory that
holds ``SRC`` (the shipped corpora stay untouched).
"""

from __future__ import annotations

import os
import shutil
import sys

import pyarrow as pa
import pyarrow.parquet as pq

EDGE_TEXTS = ("", "?! ... --")


def main(src: str, dst: str) -> None:
    corpora = os.path.dirname(os.path.realpath(src))
    if os.path.commonpath([os.path.realpath(dst), corpora]) == corpora:
        raise SystemExit(f"refusing to write beside the source corpora: {dst}")
    if os.path.exists(dst):
        raise SystemExit(f"{dst} exists")
    os.makedirs(dst)
    for name in sorted(os.listdir(src)):
        if name != "documents.parquet":
            shutil.copyfile(os.path.join(src, name), os.path.join(dst, name))
    docs = pq.read_table(os.path.join(src, "documents.parquet"))
    first_id = max(docs.column("doc_id").to_pylist()) + 1
    edge = pa.Table.from_pylist(
        [
            {
                "doc_id": first_id + i,
                "text": text,
                "lang": "en",
                "source": "edge",
                "n_chars": len(text),
            }
            for i, text in enumerate(EDGE_TEXTS)
        ],
        schema=docs.schema,
    )
    pq.write_table(pa.concat_tables([docs, edge]), os.path.join(dst, "documents.parquet"))
    print(f"{dst}: documents {docs.num_rows} -> {docs.num_rows + len(EDGE_TEXTS)} rows")


if __name__ == "__main__":
    if len(sys.argv) != 3:
        raise SystemExit(__doc__)
    main(sys.argv[1], sys.argv[2])
