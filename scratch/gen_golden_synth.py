"""Generate data/golden_synth_md.parquet, the frozen digest oracle of the
HTML extraction path (inputs and digest: tests/golden_synth_inputs.py).

Columns ``doc_id, status, md_md5, spans_md5``; the schema metadata
records the ``GEN_VERSION`` (sources/synthetic.py) and
``CORPUS_VERSION`` (perfbench/corpus.py) the inputs were built with.

Rerun only for an intended output change, and give the reason in
CHANGES.md:
    python scratch/gen_golden_synth.py
"""

import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from tests.golden_synth_inputs import digest_rows, versions  # noqa: E402


def main():
    rows = list(digest_rows())
    cols = list(zip(*rows))
    table = pa.table(
        {
            name: pa.array(list(col), type=pa.string())
            for name, col in zip(("doc_id", "status", "md_md5", "spans_md5"), cols)
        }
    ).replace_schema_metadata(versions())
    path = os.path.join(ROOT, "data", "golden_synth_md.parquet")
    pq.write_table(table, path)
    statuses = {}
    for r in rows:
        statuses[r[1]] = statuses.get(r[1], 0) + 1
    print(f"wrote {len(rows)} rows to {path}: {statuses} {versions()}")


if __name__ == "__main__":
    main()
